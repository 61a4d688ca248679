"""Skew mitigation (SURVEY.md §4 / 100 TB design).

AQE's skew-join splitting handles most cases at runtime
(``spark.sql.adaptive.skewJoin.enabled`` is on in session.py); this is
the explicit salting fallback for the cases AQE can't fix — e.g. a
single hot key whose *build* side must be replicated, or aggregations
where one group dwarfs the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(df: DataFrame, key: str) -> DataFrame:
    """Two-phase aggregation for one dominant group: count per
    (key, salt) over 16 salts first (spreads the hot group), then sum
    per key.
    Catalyst's partial aggregation usually makes this unnecessary for
    algebraic aggs; the pattern matters for non-partial-izable aggs
    (e.g. collect_list-then-process, exact distinct on huge groups)."""
    return (
        df.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(16)),
        )
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
        .groupBy(key)
        .agg(F.sum("__partial").alias("cnt"))
    )
