"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference CDC+sharing pipeline
(GeethuUday/aiven-challenge2-cdc-sharing).

The reference is a PostgreSQL -> Debezium -> Kafka -> OpenSearch CDC
pipeline (see /root/reference, SURVEY.md).  This package re-expresses its
capabilities Spark-first:

- ``schemas``      explicit StructTypes for every table & CDC event shape
- ``tables``       parquet loaders over the driver test data
- ``cdc``          CDC event generator, transform algebra (unwrap/rewrite/
                   key-extract/route), snapshot materializer (MERGE semantics)
- ``operators``    joins (as-of, binned range), top-k, dedup, similarity search
- ``functions``    text analysis, quality scoring, fingerprinting
- ``streaming``    Structured Streaming runtime for the same algebra
- ``queries``      the oracle-checked query registry (driver contract)
"""

__version__ = "0.1.0"
