"""Parquet loaders for the driver test tables.

Reads are plain ``spark.read.parquet`` — self-describing, vectorized,
column-pruned and filter-pushed by Catalyst.  At 100 TB these would be
partitioned/bucketed Delta tables; the loader is the single seam where
that swap happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TABLE_NAMES, TESTDATA_COLUMNS

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
    if name == "events":
        # Some generator versions store ts as TIMESTAMP(NANOS), which the
        # vectorized Spark reader rejects; with nanosAsLong those files read
        # the raw int64 nanos, truncated here to micros (same truncation
        # DuckDB applies). TIMESTAMP(MICROS) files read natively as a
        # timestamp column and need no conversion — check the read dtype.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Streaming watermarks require TIMESTAMP (LTZ); under the UTC
            # session timezone this cast is value-identical to the NTZ read
            # and to what timestamp_micros produced for the nanos files.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
