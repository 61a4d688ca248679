"""Distributed PCA: covariance build + power iteration as DataFrames.

The embedding-pipeline operator the feature-standardization query
(`emb_standardize_dims`) stops short of: find the direction of maximum
variance — the top principal component — of an embedding column,
entirely as DataFrame programs.

Scale design (the part that matters at 100 TB):

- **Covariance is one scan + a d²-group aggregate.**  Each row emits
  its flattened outer product (d² doubles, built by a nested JVM
  ``transform`` — no Python), which posexplodes and partially
  aggregates map-side: the shuffle carries at most ``partitions x d²``
  partial sums regardless of N.  This is the textbook distributed Gram
  matrix; means are a second d-group aggregate of the same scan and
  the covariance assembles as C = E[xxᵀ] − μμᵀ with two broadcast
  joins — no second pass over the data.
- **Power iteration touches only the d²-row covariance table.**  Each
  of the (fixed) iterations is matvec = join + d-group sum, then a
  1-row normalization broadcast back.  The data is never read again:
  iteration cost is O(d²), independent of N.  The per-iteration
  ``localCheckpoint`` keeps the plan flat (8 chained tiny jobs, the
  same device the CC loop uses).
- d = 64 here; past d ~ 1k the d² explode stops being reasonable —
  ``covariance_long_blocked`` below IS that scale path: one numpy
  ``X.T @ X`` per Arrow batch inside ``mapInPandas`` (the
  `_assign_nearest_matmul` lesson applied to moments), parity-tested
  against the exploded form to <1e-9.

Determinism: fixed v₀ = 1/√d, fixed iteration count, and a sign
convention (the component with the largest |loading| is positive, ties
to the positive sign) — so the result is a pure function of the input
and DuckDB can replay the ENTIRE build: moments, covariance, all 8
matvec+normalize rounds as unrolled CTE pairs, and the sign fix.
Cross-engine float drift is association-order only (~1e-15/step),
absorbed by the 6-dp output rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def covariance_long(vectors: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """(i, j, c): the d x d covariance matrix of an array column in
    long form, 0-based indices.  One scan; shuffle is d²-group partial
    sums."""
    vecs = vectors.select(F.col(vec_col).cast("array<double>").alias("__e"))
    mu = (
        vecs.select(F.posexplode("__e").alias("p", "x"))
        .groupBy("p")
        .agg(F.avg("x").alias("m"))
    )
    flat = F.flatten(
        F.transform(
            F.col("__e"),
            lambda x: F.transform(F.col("__e"), lambda y: x * y),
        )
    )
    m2 = (
        vecs.select(F.posexplode(flat).alias("idx", "xy"))
        .groupBy(
            F.expr(f"idx div {dim}").alias("i"),
            (F.col("idx") % dim).cast("long").alias("j"),
        )
        .agg(F.avg("xy").alias("m2"))
    )
    mu_i = mu.select(F.col("p").alias("i"), F.col("m").alias("__mi"))
    mu_j = mu.select(F.col("p").alias("j"), F.col("m").alias("__mj"))
    return (
        m2.join(F.broadcast(mu_i), "i")
        .join(F.broadcast(mu_j), "j")
        .select("i", "j", (F.col("m2") - F.col("__mi") * F.col("__mj")).alias("c"))
    )


# past this many rows the d^2-per-row explode loses to one BLAS
# X.T@X per Arrow batch (measured at d=64: 20k rows 13.5s vs 0.8s,
# 100k rows 63.7s vs 1.1s — the explode is linear in N*d^2, the
# blocked path is ~flat in N until batches dominate)
_BLOCKED_GRAM_THRESHOLD = 10_000


def pca_top_component(
    vectors: DataFrame,
    vec_col: str,
    dim: int,
    gram: str = "auto",
) -> DataFrame:
    """(pos, loading): the top principal component by 8 rounds of power
    iteration, unit-norm, sign-fixed (largest-|loading| entry positive), loadings
    rounded to 6 dp.

    ``gram``: 'exploded' (pure-JVM d²-explode — bit-replayable by the
    SQL oracle), 'blocked' (BLAS per Arrow batch — the large-N path),
    or 'auto' (count once, explode below ``_BLOCKED_GRAM_THRESHOLD``
    rows).  The two differ only in float association order (<1e-9,
    parity-tested), far under the 6-dp output rounding."""
    spark = vectors.sparkSession
    if gram == "auto":
        gram = (
            "exploded"
            if vectors.count() < _BLOCKED_GRAM_THRESHOLD
            else "blocked"
        )
    build = covariance_long if gram == "exploded" else covariance_long_blocked
    cov = build(vectors, vec_col, dim).localCheckpoint(eager=False)
    v = spark.range(dim).select(
        F.col("id").alias("j"), F.lit(1.0 / dim**0.5).alias("vj")
    )
    for _ in range(8):
        # lazy checkpoint (round-12): w feeds the norm AND the rescale
        # join — uncut, the matvec join+aggregate planned twice per
        # iteration (guide §1.2)
        w = (
            cov.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("vj")).alias("wi"))
            .localCheckpoint(eager=False)
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("wi") * F.col("wi"))).alias("__n"))
        v = (
            w.join(F.broadcast(nrm))
            .select(
                F.col("i").alias("j"), (F.col("wi") / F.col("__n")).alias("vj")
            )
            .localCheckpoint(eager=False)
        )
    sgn = v.agg(
        F.when(
            F.max(F.struct(F.abs("vj").alias("a"), F.col("vj").alias("x")))[
                "x"
            ]
            < 0,
            F.lit(-1.0),
        )
        .otherwise(F.lit(1.0))
        .alias("__s")
    )
    return (
        v.join(F.broadcast(sgn))
        .select(
            F.col("j").alias("pos"),
            F.round(F.col("vj") * F.col("__s"), 6).alias("loading"),
        )
        .orderBy("pos")
    )


def covariance_long_blocked(
    vectors: DataFrame, vec_col: str, dim: int
) -> DataFrame:
    """(i, j, c) covariance in long form — the large-d path.

    ``covariance_long`` explodes d² scalars per ROW, which is the right
    shape while d² rows stay cheap relative to a Python round-trip; by
    d ~ 1k (1M scalars per row) the explode dominates the scan.  This
    variant instead computes one numpy ``X.T @ X`` partial PER ARROW
    BATCH inside ``mapInPandas`` — each batch emits exactly d² partial
    sums (plus a count and per-dim sums for the mean), so the shuffle
    is ``batches x d²`` regardless of row count and the flop-heavy part
    runs in BLAS.  The final reduce is a d²-group sum, identical to the
    exploded path from the aggregator's point of view.

    Bit-for-bit equality with ``covariance_long`` is NOT promised (BLAS
    sums associate differently); the parity test bounds the drift at
    1e-9, far below the 6-dp rounding every consumer applies.
    """
    import numpy as np
    import pandas as pd

    n_sums = dim * dim

    def gram_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            g = x.T @ x  # d x d second-moment partial
            s = x.sum(axis=0)  # per-dim sum for the mean
            yield pd.DataFrame(
                {
                    "idx": range(n_sums + dim + 1),
                    "val": np.concatenate(
                        (g.ravel(), s, [float(len(pdf))])
                    ),
                }
            )

    parts = vectors.select(
        F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(gram_partials, "idx long, val double")
    totals = parts.groupBy("idx").agg(F.sum("val").alias("t"))
    n_row = totals.filter(F.col("idx") == n_sums + dim).select(
        F.col("t").alias("__n")
    )
    mu = totals.filter(
        (F.col("idx") >= n_sums) & (F.col("idx") < n_sums + dim)
    ).select((F.col("idx") - n_sums).alias("p"), F.col("t").alias("__s"))
    m2 = totals.filter(F.col("idx") < n_sums).select(
        F.expr(f"idx div {dim}").alias("i"),
        (F.col("idx") % dim).cast("long").alias("j"),
        F.col("t").alias("__g"),
    )
    mu_i = mu.select(F.col("p").alias("i"), F.col("__s").alias("__si"))
    mu_j = mu.select(F.col("p").alias("j"), F.col("__s").alias("__sj"))
    return (
        m2.join(F.broadcast(mu_i), "i")
        .join(F.broadcast(mu_j), "j")
        .join(F.broadcast(n_row))
        .select(
            "i",
            "j",
            (
                F.col("__g") / F.col("__n")
                - (F.col("__si") / F.col("__n")) * (F.col("__sj") / F.col("__n"))
            ).alias("c"),
        )
    )
