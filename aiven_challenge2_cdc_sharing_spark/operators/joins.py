"""Custom join operators Spark lacks as built-ins (SURVEY.md §2.3).

``asof_join`` is the distributed-first formulation: instead of a per-row
probe (quadratic) or a range-condition BNLJ (broadcast-limited), union
both sides and take one window pass — a single shuffle on the join key,
linear in rows, skew-tolerant via AQE.  This is the standard scale-out
as-of strategy (cf. pandas merge_asof semantics, Flink temporal join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    inner: bool = True,
) -> DataFrame:
    """For each left row, attach the greatest right timestamp <= left ts
    within the same ``on`` key, as column ``__asof_ts``.

    Union + running ``last(ignorenulls)`` window: right rows sort before
    left rows at equal timestamps so the match is inclusive.  One shuffle
    on ``on``; no row multiplication.
    """
    lhs = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__payload"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__rts"),
    )
    rhs = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(lhs.schema["__payload"].dataType).alias("__payload"),
        F.col(right_ts).alias("__rts"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        lhs.unionByName(rhs)
        .withColumn("__asof_ts", F.last("__rts", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .select("__payload.*", "__asof_ts")
    )
    return matched.filter(F.col("__asof_ts").isNotNull()) if inner else matched


def binned_range_join(
    fact: DataFrame,
    bands: DataFrame,
    value: str,
    lo: str,
    hi: str,
    bin_width: float,
) -> DataFrame:
    """Bin-bucketed range join (the Databricks/Flink "range join
    optimization" pattern, expressed as a DataFrame composition).

    A broadcast range join compares EVERY fact row against EVERY band
    (BNLJ: cost rows × bands).  Binning makes it an equi-join: each
    band row is exploded into the ``bin_width``-sized bins its
    [lo, hi) interval covers, each fact row maps to exactly ONE bin,
    the engine hash-joins on the bin id, and the exact range predicate
    re-filters the candidates.  Cost drops to rows × (bands overlapping
    each row's bin) — with non-overlapping bands that's rows × ~1
    regardless of band count, so at 10k bands this wins by 4 orders of
    magnitude; the result is identical to the broadcast range join.

    Fact rows join at most the bands whose intervals cover their bin,
    and a fact row is never duplicated across bins (it has one bin), so
    no post-join dedup is needed.
    """
    binned_bands = bands.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo) / bin_width).cast("long"),
                # hi is exclusive: the last covered bin is ceil(hi/w)-1,
                # so a hi exactly on a bin boundary does not reach into
                # the next bin
                (F.ceil(F.col(hi) / bin_width) - 1).cast("long"),
            )
        ),
    )
    binned_fact = fact.withColumn(
        "__bin", F.floor(F.col(value) / bin_width).cast("long")
    )
    return (
        binned_fact.join(F.broadcast(binned_bands), "__bin")
        .filter((F.col(value) >= F.col(lo)) & (F.col(value) < F.col(hi)))
        .drop("__bin")
    )
