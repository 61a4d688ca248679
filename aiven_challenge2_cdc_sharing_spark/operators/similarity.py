"""Similarity search over embedding columns (array<float>).

Two paths, same API:
- ``cosine_topk_bruteforce`` — exact: broadcast the (small) query set,
  map-side cosine against every vector, per-query top-k via window.
  O(N * Q * d) but embarrassingly parallel, zero fact shuffle; the
  correct baseline and the right choice when Q is small.
- ``cosine_topk_lsh`` — approximate scale path: random-hyperplane LSH
  (deterministic planes), bucket vectors by sign-bit signature, search
  only the query's bucket (+ optional multi-probe).  Turns O(N*Q) into
  O(N/2^bits * Q) at a recall cost.

Cosine is computed with zip_with + aggregate — JVM higher-order
functions, no Python in the loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    ))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors (``vec_id``, ``embedding``) for each
    query vector (``query_id``, ``query_vec``)."""
    v = F.col("embedding").cast("array<double>")
    q = F.col("query_vec").cast("array<double>")
    scored = vectors.crossJoin(F.broadcast(queries)).select(
        F.col("query_id"),
        F.col("vec_id"),
        F.round(cosine(v, q), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _assign_nearest(
    vectors: DataFrame, centroids: DataFrame, vec_col: str, out_col: str
) -> DataFrame:
    """Attach the id of the nearest (by cosine) centroid.

    The centroid table collapses to ONE row holding a sorted
    struct-array, broadcast to every task; the argmin is then
    ``array_max`` over per-centroid (sim, -cid) structs — a map-only
    expression with no shuffle.  The previous formulation (broadcast
    join to k rows/vector + row_number window partitioned by vec id)
    produced the same assignment but shuffled and sorted k*N rows per
    Lloyd iteration; at cluster scale that is three avoidable k*N
    exchanges per k-means build.  Tie-breaking matches the old window
    exactly: struct comparison is field-ordered, so max (sim, -cid) ==
    first row of ORDER BY sim DESC, cid ASC (verified identical output
    at sf0.1).

    The norms are hoisted out of the argmax transform (round-10): the
    naive ``cosine(v, c)`` per element re-evaluates norm(v) k times
    per row and norm(c) once per ROW per centroid — at k=16, d=64
    that is ~2/3 of the lambda steps, and HOF lambdas get no common-
    subexpression elimination.  norm(v) computes once per row, norm(c)
    once per centroid inside the broadcast struct; the per-element
    expression is dot/(vnrm*cnrm) — the SAME multiplication order as
    ``cosine``, so every compared value is bit-identical and the
    oracle replays that re-derive assignments from raw vectors keep
    hash-matching (measured: 5.7 s -> 2.1 s per 20k x 16 pass)."""
    v = F.col(vec_col).cast("array<double>")
    cent_row = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct("__cid", "__cvec", _norm(F.col("__cvec")).alias("__cnrm"))
            )
        ).alias("__cents")
    )
    scored = vectors.join(F.broadcast(cent_row)).withColumn("__vnrm", _norm(v))
    best = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                (_dot(v, c["__cvec"]) / (F.col("__vnrm") * c["__cnrm"])).alias(
                    "s"
                ),
                (-c["__cid"]).alias("negid"),
            ),
        )
    )
    return scored.select(*vectors.columns, (-best["negid"]).alias(out_col))


def _assign_nearest_matmul(
    vectors: DataFrame, centroids: DataFrame, vec_col: str, out_col: str
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment: one numpy matmul per
    record batch instead of k HOF cosines per row.

    The expression-tree form (`_assign_nearest`) is the right default —
    JVM-side, zero Python — but its per-row cost is k*d interpreted
    lambda steps, and past ~32 centroids the generated expression also
    outgrows whole-stage codegen's method budget, so the evaluator
    falls back to interpreted mode and assignment dominates the k-means
    build (measured at k=160, 20k x 64-dim vectors: 47 s/pass HOF vs
    ~1 s/pass matmul).  A (batch x d) @ (d x k) BLAS call restores the
    arithmetic intensity the HOF can't express — the one place Python
    beats built-ins, precisely because it is NOT per-row Python.

    Centroids are collected to the driver (k rows — the index artifact
    every IVF search engine pins in memory; a bounded collect) and
    closed over by the UDF, pre-normalized so cosine argmax becomes
    plain dot argmax.  Tie-break parity with the HOF form: centroid
    columns are ordered by ascending cid and ``argmax`` returns the
    FIRST maximum, which is exactly max-(sim, -cid).  Results can
    differ from the HOF path only on float near-ties (BLAS sums in a
    different association order); the parity test pins agreement.
    """
    cent_rows = sorted(
        centroids.select("__cid", "__cvec").collect(), key=lambda r: r["__cid"]
    )
    cids = np.array([r["__cid"] for r in cent_rows], dtype=np.int64)
    cmat = np.array([r["__cvec"] for r in cent_rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
    cmat_n = (cmat / np.where(cnorm == 0.0, 1.0, cnorm)).T  # d x k

    @F.pandas_udf("long")
    def nearest(v: pd.Series) -> pd.Series:
        m = np.asarray(v.tolist(), dtype=np.float64)
        vnorm = np.linalg.norm(m, axis=1, keepdims=True)
        sims = (m / np.where(vnorm == 0.0, 1.0, vnorm)) @ cmat_n
        return pd.Series(cids[sims.argmax(axis=1)])

    return vectors.withColumn(out_col, nearest(F.col(vec_col)))


# past this many centroids the HOF argmin leaves whole-stage codegen
# and interpreted per-row cost takes over; the matmul path wins
_MATMUL_THRESHOLD = 32


def _assign(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    out_col: str,
    n_lists: int,
) -> DataFrame:
    if n_lists <= _MATMUL_THRESHOLD:
        return _assign_nearest(vectors, centroids, vec_col, out_col)
    return _assign_nearest_matmul(vectors, centroids, vec_col, out_col)


def train_ivf_centroids(
    vectors: DataFrame,
    n_lists: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF coarse quantizer: k-means with fixed seeds
    (centroids initialized from the first n_lists ids), Lloyd iterations
    expressed as DataFrame ops — assignment is a broadcast argmin,
    update is posexplode + per-(cluster, dim) mean.  Everything
    shuffles only (cluster, dim, partial-sum), never vectors.

    Round-12 note (measured, then REVERTED): a "groupBy(cluster) with
    d avg columns" update was tried to drop the explode — it shuffles
    the same k*d partial sums (map-side combine already reduces the
    exploded form to per-partition (cluster, dim) partials) but the
    64-aggregate-buffer hash aggregate leaves whole-stage codegen's
    method budget, measured 30-45% SLOWER per build at sf0.1
    (bench --only bench_ivf_build_only: 2.0s explode vs 3.1s column;
    ml_kmeans_elbow_inertia 8.2s vs 11.6s same host).  The explode
    form stays."""
    cents = (
        vectors.orderBy(id_col)
        .limit(n_lists)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("__cid"),
            F.col(vec_col).cast("array<double>").alias("__cvec"),
        )
    )
    for _ in range(iters):
        if n_lists > _MATMUL_THRESHOLD:
            # the matmul path collects the centroid table per pass;
            # cut its lineage so each collect is k rows, not a replay
            # of every previous Lloyd update
            cents = cents.localCheckpoint(eager=False)
        assigned = _assign(
            vectors.select(id_col, vec_col),
            cents,
            vec_col,
            "__cluster",
            n_lists,
        )
        cents = (
            assigned.select(
                "__cluster",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "__pos", "__val"
                ),
            )
            .groupBy("__cluster", "__pos")
            .agg(F.avg("__val").alias("__mean"))
            .groupBy("__cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__mean"))
                ).alias("__pm")
            )
            .select(
                F.col("__cluster").alias("__cid"),
                F.transform("__pm", lambda s: s["__mean"]).alias("__cvec"),
            )
        )
    return cents


def cosine_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF search over the ``cosine_topk_bruteforce`` columns: vectors
    pre-assigned to their nearest centroid list;
    each query scores only the ``n_probe`` nearest lists — candidate
    set ~ N * n_probe / n_lists, exact cosine within it.

    The trained centroids are localCheckpoint'ed: they are consumed by
    both the assignment join and the query-probe join, and without the
    cut each consumer would replay every Lloyd iteration (plan audit
    showed 22 exchanges; at scale the centroid table would simply be
    persisted once at index-build time).

    Assignment is the JVM expression argmin up to 32 lists and the
    Arrow-batched BLAS one (``_assign_nearest_matmul``) past that,
    where the expression falls out of codegen."""
    cents = train_ivf_centroids(vectors, n_lists).localCheckpoint(eager=False)
    assigned = _assign(
        vectors.select("vec_id", "embedding"),
        cents,
        "embedding",
        "__cluster",
        n_lists,
    )
    q = queries.select(
        "query_id", F.col("query_vec").cast("array<double>").alias("__qvec")
    )
    qscored = q.join(F.broadcast(cents)).withColumn(
        "__csim", cosine(F.col("__qvec"), F.col("__cvec"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("__csim"), F.col("__cid"))
    # __qnrm hoisted per probe row (same bit-identical-norm discipline
    # as _assign_nearest): the in-cell scorer would otherwise
    # re-derive norm(qvec) once per CANDIDATE pair
    probes = (
        qscored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select(
            "query_id",
            "__qvec",
            F.col("__cid").alias("__cluster"),
            _norm(F.col("__qvec")).alias("__qnrm"),
        )
    )
    cand_v = F.col("embedding").cast("array<double>")
    scored = assigned.join(F.broadcast(probes), "__cluster").select(
        F.col("query_id"),
        F.col("vec_id"),
        F.round(
            _dot(cand_v, F.col("__qvec"))
            / (_norm(cand_v) * F.col("__qnrm")),
            6,
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def hyperplanes(dim: int, bits: int) -> list[list[float]]:
    """Deterministic random hyperplanes (seed 42) for sign-bit LSH."""
    rng = np.random.default_rng(42)
    return rng.standard_normal((bits, dim)).tolist()


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit i = 1 iff dot(vec, plane_i) > 0."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(vec, plane_col) > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 4,
    max_bucket_size: int | None = 100_000,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k over ``embedding`` vectors and ``query_vec``
    queries: candidates restricted to buckets within one bit flip of the
    query's bucket (multi-probe LSH).

    With b hyperplane bits, single-probe scans ~N/2**b candidates but a
    near neighbor falling on the wrong side of ONE plane is lost;
    probing Hamming-distance<=1 buckets scans (1+b)/2**b of the data
    and recovers most of that recall.  The bucket match is an equi-join
    against the exploded probe set, so it stays a broadcast hash join.

    ``max_bucket_size`` bounds per-bucket candidate work: a degenerate
    bucket (e.g. zero vectors, or too few hyperplane bits for N) would
    otherwise make one query scan ~N rows.  Members beyond the cap are
    truncated deterministically (ordered by id), trading recall inside
    a bucket that is by definition poorly discriminated for a hard
    bound on per-query cost; at scale the real fix is more bits.

    ``planes`` overrides the random hyperplanes (seed 42); axis-aligned
    unit planes make the bucketing exactly recomputable by an external
    SQL engine (the oracle trick `dedup_embedding_cosine` uses) at the
    cost of ignoring the data's covariance structure.
    """
    if planes is None:
        planes = hyperplanes(dim, bits)
    v = F.col("embedding").cast("array<double>")
    q = F.col("query_vec").cast("array<double>")
    bucketed = vectors.withColumn("__bucket", lsh_bucket(v, planes))
    if max_bucket_size is not None:
        wb = Window.partitionBy("__bucket").orderBy("vec_id")
        bucketed = (
            bucketed.withColumn("__bn", F.row_number().over(wb))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    probe_masks = [0] + [1 << i for i in range(bits)]
    qb = queries.withColumn("__qb", lsh_bucket(q, planes)).withColumn(
        "__bucket",
        F.explode(
            F.array(*[F.col("__qb").bitwiseXOR(F.lit(m)) for m in probe_masks])
        ),
    )
    scored = bucketed.join(F.broadcast(qb), "__bucket").select(
        F.col("query_id"),
        F.col("vec_id"),
        F.round(cosine(v, q), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _round6_half_up(a):
    """6dp rounding matched to Spark ``F.round`` exactly (HALF_UP —
    half away from zero — applied to the double's shortest decimal
    repr), pinning BLAS==HOF twin parity.  DuckDB ``round`` is NOT the
    same rule: it rounds the binary-scaled double half-away-from-zero
    (``round(0.5000005::DOUBLE, 6) = 0.5`` in DuckDB vs 0.500001 here
    and in Spark), so at shortest-repr tie values the oracle can differ
    — the same exposure class every F.round-based registry path already
    carries, negligible on real-valued sims (round-10 advice item).
    ``np.round`` is half-to-even, so a sim landing on a 6dp tie
    boundary could flip the rounded value (and thus a top-k / vote) vs
    Spark; BLAS and HOF paths share this one rounding rule
    (round-9 advice item).  Fast path: np.round, which agrees with
    HALF_UP everywhere except ties; elements whose scaled fraction sits
    within 1e-8 of the .5 boundary (true ties, plus values whose
    1e6-scaling FP error could cross it) are re-rounded exactly via
    decimal on the shortest repr — rare enough that the per-element
    cost never shows against the dgemm."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    out = np.round(a, 6)
    scaled = np.abs(a) * 1e6
    frac = scaled - np.floor(scaled)
    suspect = np.flatnonzero(np.abs(frac - 0.5).ravel() < 1e-8)
    if suspect.size:
        q = Decimal("0.000001")
        flat, src = out.ravel(), np.asarray(a, dtype=np.float64).ravel()
        for i in suspect:
            flat[i] = float(
                Decimal(repr(float(src[i]))).quantize(q, ROUND_HALF_UP)
            )
    return out


def blas_bucket_candidates(
    probes: DataFrame,
    build: DataFrame,
    k: int | None = 3,
    per_class: bool = False,
) -> DataFrame:
    """Cogroup-by-bucket BLAS candidate scorer — the generalization of
    the density family's promoted matmul path (SCALING.md round-9) to
    every multi-probe LSH diagnostic.

    ``probes`` must carry (vec_id, label, en, bucket) — one row per
    (vector, probe bucket); ``build`` carries (nb, nlabel, ven, bucket)
    — each vector in its single own bucket, already hot-bucket-capped.
    Per bucket group, ONE (p x d) @ (d x v) matmul scores every pair,
    sims are rounded 6dp (the cross-engine discipline), self-pairs
    drop, and the emission is REDUCED before it leaves the worker:

    - per_class=False: the per-(probe, bucket) top-``k`` by
      (sim desc, nb) — because each build vector lives in exactly one
      bucket, a pair appears under at most one probe bucket, so the
      global top-k over these partials equals the global top-k over
      the full candidate set (the downstream window sees <=
      (bits+1)*k rows per vector instead of (bits+1)*cap).
    - per_class=True: the top-``k`` per (probe, bucket, same/other
      label class) — max/top-k per class is associative, so global
      per-class maxima over the partials are exact (the triplet-margin
      shape).

    Returns (vec_id, label, nb, nlabel, sim).
    """
    import numpy as np
    import pandas as pd

    kk = 1 if k is None else int(k)

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "label": pd.Series([], dtype="int32"),
                "nb": pd.Series([], dtype="int64"),
                "nlabel": pd.Series([], dtype="int32"),
                "sim": pd.Series([], dtype="float64"),
            }
        )
        if left.empty or right.empty:
            return empty
        P = np.asarray(left["en"].tolist(), dtype=np.float64)
        V = np.asarray(right["ven"].tolist(), dtype=np.float64)
        sims = _round6_half_up(P @ V.T)
        pv = left["vec_id"].to_numpy()
        pl = left["label"].to_numpy()
        nb = right["nb"].to_numpy()
        nl = right["nlabel"].to_numpy()
        o_vec, o_lab, o_nb, o_nl, o_sim = [], [], [], [], []
        for i in range(len(left)):
            s = sims[i]
            idx = np.flatnonzero(nb != pv[i])
            if idx.size == 0:
                continue
            if per_class:
                groups = (
                    idx[nl[idx] == pl[i]],
                    idx[nl[idx] != pl[i]],
                )
            else:
                groups = (idx,)
            for grp in groups:
                if grp.size == 0:
                    continue
                order = np.lexsort((nb[grp], -s[grp]))
                sel = grp[order[:kk]]
                o_vec.extend([pv[i]] * len(sel))
                o_lab.extend([pl[i]] * len(sel))
                o_nb.extend(nb[sel])
                o_nl.extend(nl[sel])
                o_sim.extend(s[sel])
        if not o_vec:
            return empty
        return pd.DataFrame(
            {
                "vec_id": pd.Series(o_vec, dtype="int64"),
                "label": pd.Series(o_lab, dtype="int32"),
                "nb": pd.Series(o_nb, dtype="int64"),
                "nlabel": pd.Series(o_nl, dtype="int32"),
                "sim": pd.Series(o_sim, dtype="float64"),
            }
        )

    return (
        probes.groupBy("bucket")
        .cogroup(build.groupBy("bucket"))
        .applyInPandas(
            score, "vec_id long, label int, nb long, nlabel int, sim double"
        )
    )
