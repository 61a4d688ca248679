"""Parquet loaders for the driver test tables.

Reads are ``spark.read.parquet`` — vectorized, column-pruned and
filter-pushed by Catalyst.  Inferring a file's schema runs one Spark job
that reads its footer, so the schema inferred for a table file is cached
per (session, path, file size, ``st_mtime_ns``) and later reads pass it
with ``spark.read.schema``: they run no job.  A file rewritten in place
changes its size or mtime and is inferred again; a path ``os.stat``
cannot see (a remote or URI path) is inferred on every read, as a plain
``spark.read.parquet``.  Only the schema is cached: each call returns a
new relation, so a self-join of one table keeps distinct attribute ids.
At 100 TB these would be partitioned/bucketed Delta tables; the loader
is the single seam where that swap happens.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .schemas import TABLE_NAMES, TESTDATA_COLUMNS


@functools.lru_cache(maxsize=32)
def _inferred_schema(spark: SparkSession, path: str, size: int, mtime_ns: int) -> StructType:
    return spark.read.parquet(path).schema


def _read(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    schema = _inferred_schema(spark, path, st.st_size, st.st_mtime_ns)
    return spark.read.schema(schema).parquet(path)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """``spread=True`` repartitions the scan up to the session's core
    count when the file arrives in fewer splits.  The driver's test
    tables are single-row-group parquet files, so a scan is ONE
    partition and any CPU-heavy per-row stage (per-doc md5 signatures,
    winnowing) runs on 1 of 32 threads — measured 4.0 s -> 0.6 s for
    the winnowing fingerprints at sf0.1.  On a real corpus the scan
    already has many splits and the repartition is a no-op by the
    partition-count check; opt in ONLY where per-row compute dominates,
    because for shuffle-bound queries (the set-similarity joins) the
    extra exchange costs more than the map parallelism buys."""
    if name not in TESTDATA_COLUMNS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if spread:
        df = load_table(spark, sf_dir, name)
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
        return df
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        # Some generator versions store ts as TIMESTAMP(NANOS), which the
        # vectorized Spark reader rejects; with nanosAsLong those files read
        # the raw int64 nanos, truncated here to micros (same truncation
        # DuckDB applies). TIMESTAMP(MICROS) files read natively as a
        # timestamp column and need no conversion — check the read dtype.
        # The cached schema is the one read under nanosAsLong, before the
        # conversion.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read(spark, path)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Streaming watermarks require TIMESTAMP (LTZ); under the UTC
            # session timezone this cast is value-identical to the NTZ read
            # and to what timestamp_micros produced for the nanos files.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read(spark, path)
