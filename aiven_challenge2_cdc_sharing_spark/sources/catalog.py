"""Table/DDL management (SURVEY.md §2.1 S8).

The reference creates its serving index with an explicit mapping iff
absent (consumer_to_opensearch.py:8-34) and its OLTP table via DDL
(setup_cdc.pgsql:2-9).  Spark equivalent: ``CREATE TABLE IF NOT
EXISTS`` over a parquet location with an explicit schema, plus a
governed-copy writer.

Scale notes baked into ``save_governed_copy``: partition by a
low-cardinality column users filter on (partition pruning), sort within
partitions by the common join/filter key (parquet min/max row-group
skipping — the open-format stand-in for bucketing; real bucketing needs
a metastore-backed ``bucketBy`` saveAsTable)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _ddl(schema: T.StructType) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)


def create_table_if_not_exists(
    spark: SparkSession,
    name: str,
    schema: T.StructType,
    location: str,
) -> None:
    """Idempotent external-table DDL with an explicit schema — the
    ensure-index-with-mapping pattern."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({_ddl(schema)}) "
        f"USING PARQUET LOCATION '{location}'"
    )


def save_governed_copy(
    df: DataFrame,
    location: str,
    partition_by: tuple[str, ...] = (),
    sort_within_partitions_by: tuple[str, ...] = (),
) -> None:
    """Overwrite the governed (shared) copy of a table: partitioned for
    pruning, sorted within files for row-group skipping."""
    out = df
    if sort_within_partitions_by:
        out = out.sortWithinPartitions(*sort_within_partitions_by)
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(location)


def table_exists(spark: SparkSession, name: str) -> bool:
    return spark.catalog.tableExists(name)


def compact_parquet(
    spark: SparkSession,
    location: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: tuple[str, ...] = (),
) -> int:
    """Small-files compaction: rewrite a parquet location into
    ~target-sized files (the maintenance job every long-running
    ingest needs — micro-batch MERGE output accretes small files that
    destroy scan throughput at scale).  Returns the new file count.

    Sizing uses the current on-disk bytes; ``sort_by`` re-sorts within
    output files to restore row-group skipping after compaction."""
    import glob
    import os

    files = glob.glob(os.path.join(location, "*.parquet")) + glob.glob(
        os.path.join(location, "part-*")
    )
    total = sum(os.path.getsize(f) for f in set(files))
    n_files = max(1, round(total / target_file_bytes))
    df = spark.read.parquet(location)
    out = df.repartition(n_files)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    tmp = location.rstrip("/") + "__compacting"
    out.write.mode("overwrite").parquet(tmp)
    final = spark.read.parquet(tmp)
    final.write.mode("overwrite").parquet(location)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    return n_files
