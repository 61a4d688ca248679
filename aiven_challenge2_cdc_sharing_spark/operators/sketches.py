"""Frequency-sketch operators: two-pass EXACT heavy hitters.

The scale problem: "which tokens appear more than N/k times in a
100 TB corpus" cannot be answered by a full groupBy when the distinct
universe itself is huge (shuffle carries every distinct token).  The
classic fix (Misra-Gries '82; merge rule from Agarwal et al.,
"Mergeable Summaries", PODS'12) is:

- pass 1: each partition maintains a Misra-Gries summary of capacity
  k-1.  Pigeonhole guarantees any item with GLOBAL frequency > N/k is
  over-threshold in at least one partition, and an MG summary retains
  every item with partition frequency > N_p/k — so the union of
  per-partition candidate sets is a SUPERSET of the true heavy
  hitters.  Output size is <= (k-1) * n_partitions, independent of N
  and of the distinct-universe size.
- pass 2: exact counts for the (tiny, broadcast) candidate set via a
  semi-join + groupBy, then the exact threshold filter.

The result is EXACT (no sketch error reaches the output), which is why
the registry query carries a plain GROUP BY / HAVING oracle.

The per-partition summary is Arrow-batched: each incoming pandas batch
is reduced with value_counts (vectorized), then merged into the running
summary with the mergeable-summaries rule (add counters, subtract the
k-th largest value, drop non-positive) — memory is bounded by
capacity + batch distinct count, never by partition distinct count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_shrink(counters: dict, capacity: int) -> dict:
    """Shrink to <= capacity entries by the MG merge rule: subtract the
    (capacity+1)-th largest count from all, drop non-positives."""
    if len(counters) <= capacity:
        return counters
    cut = sorted(counters.values(), reverse=True)[capacity]
    return {t: c - cut for t, c in counters.items() if c > cut}


def misra_gries_candidates(
    items: DataFrame, item_col: str, capacity: int
) -> DataFrame:
    """Per-partition MG summaries; returns distinct candidate items.

    Guarantee: contains every NON-NULL item with global count >
    N/(capacity+1), where N counts non-null rows.  Nulls are filtered
    up front rather than silently dropped inside pandas: value_counts
    ignores NaN and a null key can never match the pass-2 semi-join
    anyway (SQL null equality), so admitting them would just skew the
    threshold.  The output schema carries the INPUT column's Spark
    type — item identity must survive the mapInPandas round-trip
    bit-exactly or pass 2's semi-join misses the candidate (a string
    cast would e.g. collapse int 1 and string '1').
    """
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(
            item_col, items.schema[item_col].dataType, nullable=False
        )
    ])

    def summarize(batches):
        counters: dict = {}
        for pdf in batches:
            for item, cnt in pdf[item_col].value_counts().items():
                counters[item] = counters.get(item, 0) + int(cnt)
            counters = _mg_shrink(counters, capacity)
        yield pd.DataFrame({item_col: list(counters.keys())})

    return (
        items.select(item_col)
        .filter(F.col(item_col).isNotNull())
        .mapInPandas(summarize, schema=out_schema)
        .distinct()
    )


def heavy_hitters_exact(
    items: DataFrame,
    item_col: str,
    k: int,
) -> DataFrame:
    """EXACT items with count > N/k plus their exact counts (``cnt``).

    Pass 1 shrinks the universe to <= (k-1)*n_partitions candidates;
    pass 2 is a broadcast semi-join + groupBy over only those — the
    shuffle carries candidate tokens, not the full universe.  The
    N/k threshold is computed from a 1-row count aggregate joined in
    by broadcast (no driver-side collect in the plan).
    """
    items = items.filter(F.col(item_col).isNotNull())
    cand = misra_gries_candidates(items, item_col, capacity=k - 1)
    total = items.agg(F.count(F.lit(1)).alias("__n"))
    return (
        items.join(F.broadcast(cand), item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > F.col("__n") / F.lit(k))
        .drop("__n")
    )
