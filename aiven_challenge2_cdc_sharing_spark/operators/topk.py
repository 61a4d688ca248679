"""Top-k operators (SURVEY.md §2.6).

``top_k_per_group`` is the window formulation; Spark pushes a
per-partition rank limit below the shuffle (WindowGroupLimit) so only
k rows per group per partition shuffle."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group: Sequence[str],
    order: Sequence[Column],
    k: int,
) -> DataFrame:
    """Rows ranked 1..k (``rn``) within each group."""
    w = Window.partitionBy(*group).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def global_ordinal(
    df: DataFrame,
    sort_cols: Sequence[Column],
    out_col: str = "global_pos",
) -> DataFrame:
    """Global 1-based ordinal over a total order WITHOUT a global
    window (the zipWithIndex pattern): range-partition by the sort
    key into 32 partitions so key ranges are ordered and
    non-overlapping, rank within
    each partition (window parallelism = partition count), then add
    broadcast cumulative partition offsets.  The only driver-side
    data is one row count per partition.

    localCheckpoint is load-bearing: range boundaries come from
    sampling, so the offset-count job and the rank job must see the
    same physical partitioning.  It is LAZY (round-12): the offsets
    collect below is the first action and materializes the checkpoint
    inline — eager=True ran the same materialization as its own extra
    job wave first (guide §1.2: one fewer pass, identical blocks).

    Returns ``(df_with_out_col, n_rows)`` — the total comes free from
    the same per-partition counts, so rank-relative stats
    (percent_rank = (pos-1)/(N-1), cume_dist = pos/N) need no second
    pass."""
    ranged = (
        df.repartitionByRange(32, *sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    offset_map = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    w = Window.partitionBy("__pid").orderBy(*sort_cols)
    return (
        ranged.withColumn(
            out_col,
            (F.row_number().over(w) + offset_map[F.col("__pid")]).cast("long"),
        )
        .drop("__pid")
    ), acc


def global_prefix_sum(
    df: DataFrame,
    sort_cols: Sequence[Column],
    val_col: str,
    out_col: str = "prefix_sum",
    partitions: int = 32,
) -> tuple[DataFrame, int | float, int]:
    """Running sum over a total order WITHOUT a single-partition window
    — the value-summing sibling of ``global_ordinal``: range-partition
    by the sort key (ordered, non-overlapping key ranges), cumulative
    sum within each partition (window parallelism = partition count),
    then add broadcast per-partition offset totals.  Driver-side data
    is ONE (sum, count) pair per partition.

    localCheckpoint is load-bearing for the same reason as
    ``global_ordinal``: range boundaries come from sampling, so the
    offset job and the cumsum job must see identical partitioning.
    It is lazy (round-12): the offsets collect is the materializing
    action — eager=True paid the same materialization as a separate
    job wave first.

    Returns ``(df_with_out_col, total_sum, n_rows)``: the grand total
    and row count come free from the same per-partition offsets
    collect, so "crossing" consumers
    (weighted median/percentiles, ABC classes, KS/AD statistics)
    need NO second aggregation pass over the pre-prefix subtree
    (round-12, guide §1.2: don't recompute what the offsets job
    already summed)."""
    ranged = (
        df.repartitionByRange(partitions, *sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = sorted(
        (r["__pid"], r["s"], r["c"])
        for r in ranged.groupBy("__pid")
        .agg(F.sum(val_col).alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    offsets, acc, n_rows = {}, 0, 0
    for pid, s, c in totals:
        offsets[pid] = acc
        acc += s or 0
        n_rows += c
    offset_map = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged.withColumn(
        out_col, F.sum(val_col).over(w) + offset_map[F.col("__pid")]
    ).drop("__pid")
    return out, acc, n_rows


def global_prefix_max(
    df: DataFrame,
    sort_cols: Sequence[Column],
    val_col: str,
    out_col: str = "prefix_max",
    partitions: int = 32,
) -> DataFrame:
    """EXCLUSIVE running max over a total order WITHOUT a
    single-partition window — the max-combining sibling of
    ``global_prefix_sum`` (any commutative monoid fits this shape):
    range-partition by the sort key, per-partition running max over
    STRICTLY PRECEDING rows, then fold in the broadcast max of all
    preceding partitions.  ``out_col`` is NULL for the globally first
    row(s) — the natural identity for max.  Driver-side data is ONE
    max per partition.

    The exclusive frame is what dominance-style operators (skyline /
    Pareto frontier) need: "best value among everything strictly
    before me".

    REQUIREMENT: ``sort_cols`` must be a UNIQUE key (as with
    ``global_ordinal``) — the ROWS-based exclusive frame makes the
    "strictly preceding" max nondeterministic among peer rows that tie
    on the sort key.  Pre-aggregate to unique keys or append a
    tie-breaking column before calling."""
    ranged = (
        df.repartitionByRange(partitions, *sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        # lazy (round-12): the maxes collect below materializes it
        .localCheckpoint(eager=False)
    )
    maxes = sorted(
        (r["__pid"], r["mx"])
        for r in ranged.groupBy("__pid")
        .agg(F.max(val_col).alias("mx"))
        .collect()
    )
    offsets: dict[int, object] = {}
    acc = None
    for pid, mx in maxes:
        offsets[pid] = acc  # exclusive: max over PRECEDING partitions
        if mx is not None:
            acc = mx if acc is None else max(acc, mx)
    entries = [
        x
        for pid, off in offsets.items()
        if off is not None
        for x in (F.lit(pid), F.lit(off))
    ]
    vt = dict(df.dtypes)[val_col]
    offset_col = (
        F.create_map(*entries)[F.col("__pid")]
        if entries
        else F.lit(None).cast(vt)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # greatest() skips NULLs: first row of a partition falls back to
    # the partition offset alone (NULL + NULL => NULL for the global
    # first rows)
    return ranged.withColumn(
        out_col, F.greatest(F.max(val_col).over(w), offset_col)
    ).drop("__pid")
