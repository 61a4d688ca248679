"""Bucketed (co-located) joins — the zero-shuffle path for repeated
big-table joins (SURVEY.md §4 / 100 TB design).

At 100 TB, the fact-fact join (orders x lineitem) shuffles terabytes on
every query unless both sides are bucketed on the join key with the
same bucket count: then each task reads matching buckets from both
sides and Spark plans a SortMergeJoin with NO Exchange.  This is the
open-source analogue of co-partitioned storage in MPP warehouses.

``write_bucketed`` stores via ``saveAsTable`` (bucket metadata lives in
the catalog; plain parquet paths can't carry it)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 8,
) -> None:
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two same-bucketed catalog tables; with matching bucket specs
    Catalyst elides both Exchanges (verified by plan test)."""
    return spark.table(left_table).join(spark.table(right_table), on)
