"""Reference implementations the tests compare the engine against.

Each is the plain form of an operator the engine ships in an optimized
shape: ``range_join`` for ``binned_range_join``, the posting-count
``jaccard_pairs_postings`` for ``jaccard_pairs``, ``snapshot_at`` for
``scd2_history``; the plan predicates back ``test_plans.py``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.cdc.materialize import latest_snapshot
from aiven_challenge2_cdc_sharing_spark.operators.dedup import with_shingles
from aiven_challenge2_cdc_sharing_spark.plans.inspect import explain_str


def range_join(
    fact: DataFrame,
    bands: DataFrame,
    value: Column,
    lo: Column,
    hi: Column,
) -> DataFrame:
    """J4 theta join of a fact table against a small band/interval table.
    The band side is always broadcast — a range condition against a
    broadcast table is a map-side operation, no fact shuffle."""
    return fact.join(F.broadcast(bands), (value >= lo) & (value < hi))


def jaccard_pairs_postings(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Posting-count twin of ``jaccard_pairs`` (the pre-round-12
    default, kept for the measured comparison and the parity pin).

    Explodes the corpus's shingle sets ONCE into a checkpointed
    (id, set-size, shingle) posting list, joins it to the pair list on
    each side, and counts matching shingles per pair — the count IS
    |A∩B| because per-doc shingles are distinct.  Nothing after the
    scan ships a shingle ARRAY, but the intermediate is one row per
    pair per MATCHING TOKEN (~300M rows at the 500k-doc stress point)
    plus a pair-key groupBy over all of it — the measured spill
    cause that motivated the pair-grain rewrite (SCALING.md rounds
    11-12).  Still the better shape when candidate pairs are fat-doc
    dominated (huge |A| with tiny overlap), where the pair grain would
    ship large arrays to compute a small count."""
    sh = with_shingles(df, text_col)
    ex = sh.select(
        F.col(id_col).alias("__jid"),
        F.size("__sh").alias("__sz"),
        F.explode("__sh").alias("__tok"),
    ).localCheckpoint()
    a = ex.select(
        F.col("__jid").alias("id_a"),
        F.col("__sz").alias("__sz_a"),
        "__tok",
    )
    b = ex.select(
        F.col("__jid").alias("id_b"),
        F.col("__sz").alias("__sz_b"),
        "__tok",
    )
    ov = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "__tok"])
        .groupBy("id_a", "id_b", "__sz_a", "__sz_b")
        .agg(F.count(F.lit(1)).alias("__ov"))
    )
    jac = F.col("__ov").cast("double") / (
        F.col("__sz_a") + F.col("__sz_b") - F.col("__ov")
    )
    return ov.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def snapshot_at(changes: DataFrame, ts_ms: int) -> DataFrame:
    """J5 — point-in-time reconstruction: state as of event-time T.
    The filter is pushed below the window shuffle by Catalyst."""
    return latest_snapshot(changes.filter(F.col("ts_ms") <= ts_ms))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True if the scan's PushedFilters contains every fragment."""
    s = explain_str(df)
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", s)
    pushed = ",".join(m)
    return all(f in pushed for f in fragments)


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column lists of each scan's ReadSchema (pruning check)."""
    s = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", s):
        out.append([c.split(":")[0].strip() for c in m.group(1).split(",") if c])
    return out


def num_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan (each Exchange is a full data movement)."""
    return explain_str(df).count("Exchange ")
