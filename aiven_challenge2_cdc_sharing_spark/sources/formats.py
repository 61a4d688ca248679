"""Multi-format ingest: CSV / JSON Lines / ORC readers and writers.

The reference's only wire format is JSON over Kafka
(consumer_to_opensearch.py:56, value_deserializer=json.loads); a
standalone engine additionally needs file-based ingest for the formats
corpora actually arrive in.  All three readers are Spark-native
DataFrame sources — distributed, schema-on-read with an EXPLICIT
schema (never inferSchema on the hot path: inference is an extra full
scan and can mistype columns on dirty data), and for CSV/JSON with
PERMISSIVE corrupt-record capture so malformed rows land in a
quarantine column instead of killing a 100-TB job (the same
valid/quarantine split as cdc.algebra.from_wire_quarantine).

Scale notes:
- Uncompressed/gzip JSON+CSV are line-splittable only when
  uncompressed (gzip is a single-stream codec: one task per file).
  The writers here default to uncompressed parts so reads parallelize;
  at scale, prefer many medium files (128-512 MB) over few giant ones.
- ORC is a columnar, striped, predicate-pushed format — the
  round-trip demonstrates that projection/filter pushdown survive in a
  second columnar format beyond parquet.
- Timestamps/dates cross CSV/JSON as ISO-8601 strings; both writers
  and readers pin explicit formats so the round-trip is byte-stable
  across engines and timezones (session TZ is UTC everywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
DATE_FMT = "yyyy-MM-dd"

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_field(schema: StructType) -> StructType:
    """Schema plus the PERMISSIVE-mode capture column."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )


def write_csv(df: DataFrame, path: str) -> None:
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)  # parquet ts are NTZ in Spark 4
        .option("dateFormat", DATE_FMT)
        # quote/escape defaults (RFC-4180 double-quote) round-trip commas,
        # quotes and newlines inside text columns
        .option("escape", '"')
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """PERMISSIVE read: rows that fail the schema land with their raw
    line in ``_corrupt_record`` and NULLs elsewhere — callers split on
    ``_corrupt_record IS NULL`` for the valid/quarantine halves.

    ``multiLine`` honors RFC-4180 quoted newlines; it makes each file a
    single split, so writers that feed this reader should emit many
    medium files (the default partitioned write does)."""
    return (
        spark.read.schema(_with_corrupt_field(schema))
        .option("header", "true")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .option("dateFormat", DATE_FMT)
        .option("escape", '"')
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    (
        df.write.mode("overwrite")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .option("dateFormat", DATE_FMT)
        .json(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """JSON Lines with explicit schema; missing fields read as NULL
    (schema evolution for free), malformed lines quarantined."""
    return (
        spark.read.schema(_with_corrupt_field(schema))
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .option("dateFormat", DATE_FMT)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    # ORC is self-describing; no schema argument needed.
    return spark.read.orc(path)


def valid_rows(df: DataFrame) -> DataFrame:
    """Drop quarantined rows and the capture column."""
    if CORRUPT_COL not in df.columns:
        return df
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
