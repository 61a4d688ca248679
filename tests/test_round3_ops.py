"""Round-3 operator tests: SemDeDup semantic pairs (including the
cluster-size truncation the oracle query can't exercise), the
hashing-trick vectorizer, HLL sketch merge invariance, RRF fusion
arithmetic, and streaming dedup-within-watermark."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.operators.dedup import (
    semantic_dedup_pairs,
)
from aiven_challenge2_cdc_sharing_spark.queries.coverage_round3 import (
    agg_hll_sketch_partial_merge,
    ml_feature_hashing,
    search_hybrid_rrf,
)
from aiven_challenge2_cdc_sharing_spark.tables import load_table


def test_semantic_pairs_are_ordered_thresholded_unique(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pairs = semantic_dedup_pairs(emb, threshold=0.30, n_clusters=8).collect()
    assert pairs, "synthetic embeddings should contain semantic near-dups"
    seen = set()
    for r in pairs:
        assert r.id_a < r.id_b
        assert r.sim >= 0.30
        assert (r.id_a, r.id_b) not in seen
        seen.add((r.id_a, r.id_b))


def test_semantic_cap_truncates_by_id_not_drops(spark):
    # 10 identical vectors all land in one cluster — the degenerate
    # case the cap exists for.  cap=4 must keep the 4 SMALLEST ids and
    # emit C(4,2)=6 pairs; the LSH-style wholesale bucket drop would
    # emit 0 and silently skip the one cluster that is all duplicates.
    rows = [Row(vec_id=i, embedding=[1.0, 0.5, -0.25, 2.0]) for i in range(10)]
    emb = spark.createDataFrame(rows)
    pairs = semantic_dedup_pairs(
        emb, threshold=0.99, n_clusters=2, max_cluster_size=4
    ).collect()
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert len(pairs) == 6
    assert ids == {0, 1, 2, 3}
    assert all(r.sim == 1.0 for r in pairs)


def test_semantic_cap_one_means_no_pairs(spark):
    rows = [Row(vec_id=i, embedding=[1.0, 1.0]) for i in range(6)]
    emb = spark.createDataFrame(rows)
    pairs = semantic_dedup_pairs(
        emb, threshold=0.0, n_clusters=2, max_cluster_size=1
    ).collect()
    assert pairs == []


def test_feature_hashing_buckets_and_counts(spark, sf_dir):
    out = ml_feature_hashing(spark, sf_dir).collect()
    assert out
    for r in out:
        parts = [p.split(":") for p in r.features.split(" ")]
        idxs = [int(i) for i, _ in parts]
        cnts = [int(c) for _, c in parts]
        assert all(0 <= i < 64 for i in idxs)
        assert idxs == sorted(idxs)
        assert len(set(idxs)) == len(idxs)
        assert sum(cnts) == r.n_tokens


def test_hll_union_of_partials_equals_single_sketch(spark, sf_dir):
    # THE mergeable-sketch property: a sketch built in 8 independent
    # shards and unioned must estimate identically to one sketch over
    # the whole column (HLL union is lossless for same-lgK sketches).
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    single = orders.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey", F.lit(12))).alias(
            "est"
        )
    ).collect()[0].est
    merged = (
        orders.groupBy((F.col("o_custkey") % 8).alias("__shard"))
        .agg(F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]
        .est
    )
    assert single == merged


def test_hll_partial_merge_within_tolerance(spark, sf_dir):
    out = agg_hll_sketch_partial_merge(spark, sf_dir).collect()
    assert out
    assert all(r.within_5pct for r in out)


def test_rrf_scores_recompute_from_ranks(spark, sf_dir):
    out = search_hybrid_rrf(spark, sf_dir).collect()
    assert 0 < len(out) <= 20
    rrfs = [r.rrf for r in out]
    assert rrfs == sorted(rrfs, reverse=True)
    for r in out:
        expect = 0.0
        if r.lex_rank > 0:
            expect += 1.0 / (60 + r.lex_rank)
        if r.sem_rank > 0:
            expect += 1.0 / (60 + r.sem_rank)
        assert abs(r.rrf - round(expect, 6)) < 1e-9
        assert r.lex_rank > 0 or r.sem_rank > 0


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="round3_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_dedup_within_watermark(spark, tmpdir):
    # at-least-once transports redeliver: the same (k, ts) arriving
    # twice within the watermark window must reach the sink once.
    rows = [
        {"k": 1, "ts": "2026-01-01 00:00:00", "v": "a"},
        {"k": 1, "ts": "2026-01-01 00:00:00", "v": "a"},  # dup delivery
        {"k": 2, "ts": "2026-01-01 00:00:30", "v": "b"},
        {"k": 1, "ts": "2026-01-01 00:05:00", "v": "c"},  # same key, later
    ]
    import json

    with open(f"{tmpdir}/in.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = "k INT, ts STRING, v STRING"
    stream = (
        spark.readStream.schema(schema)
        .json(tmpdir)
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["k", "ts"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("r3_dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.k, str(r.ts), r.v)
        for r in spark.sql("SELECT * FROM r3_dedup_sink").collect()
    }
    assert got == {
        (1, "2026-01-01 00:00:00", "a"),
        (2, "2026-01-01 00:00:30", "b"),
        (1, "2026-01-01 00:05:00", "c"),
    }


def test_cdc_snapshot_diff_has_all_three_classes(spark):
    from aiven_challenge2_cdc_sharing_spark.queries.coverage_round3 import (
        cdc_snapshot_diff,
    )

    # sf0.01: at sf0.001 the generator's fixed +500s/+900s event-time
    # offsets exceed the whole id range (max_id=150 -> 150s), so the
    # T1 cut can only land inside the delete stream and the diff is
    # all-'removed' (still oracle-consistent); from max_id ~1000 the
    # three op streams overlap in time and every class is populated.
    rows = cdc_snapshot_diff(spark, "/root/testdata/sf0.01").collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.change_type, []).append(r)
    assert set(by_type) == {"added", "removed", "changed"}
    assert all(r.phone_old is None and r.phone_new for r in by_type["added"])
    assert all(r.phone_new is None and r.phone_old for r in by_type["removed"])
    assert all(
        r.phone_old and r.phone_new and r.phone_old != r.phone_new
        for r in by_type["changed"]
    )
    # changed rows are exactly the late phone updates (id % 3 == 0)
    assert all(r.id % 3 == 0 for r in by_type["changed"])
    # removed rows are exactly the late deletes (id % 7 == 0)
    assert all(r.id % 7 == 0 for r in by_type["removed"])


def test_gopher_filter_attributes_first_failing_rule(spark, sf_dir):
    from aiven_challenge2_cdc_sharing_spark.queries.coverage_round3 import (
        text_gopher_quality_filter,
    )

    rows = text_gopher_quality_filter(spark, sf_dir).collect()
    kept = [r for r in rows if r.keep]
    dropped = [r for r in rows if not r.keep]
    assert kept and dropped, "filter must discriminate on the synthetic corpus"
    for r in kept:
        assert r.verdict == "ok"
        assert 50 <= r.n_words <= 100_000
        assert r.n_stopwords >= 2
    for r in dropped:
        assert r.verdict in {"word_count", "mean_word_len", "stopwords"}
        if r.verdict == "stopwords":
            # first-match attribution: earlier rules must have passed
            assert 50 <= r.n_words <= 100_000
            assert 3 <= r.mean_word_len <= 10


def test_incremental_near_probe_shape(spark, sf_dir):
    from aiven_challenge2_cdc_sharing_spark.queries.coverage_round3 import (
        dedup_incremental_near,
    )

    df = dedup_incremental_near(spark, sf_dir)
    rows = df.collect()
    assert rows, "synthetic corpus should contain cross-split near-dups"
    for r in rows:
        assert r.new_id % 5 == 0  # probes come only from the batch
        assert r.dup_of % 5 != 0  # hits come only from the corpus index
        assert r.n_corpus_hits >= 1
    # one probe join, no corpus self-join: exactly one non-broadcast
    # join may appear in the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_matmul_assignment_parity_with_hof(spark, sf_dir):
    # the BLAS fast path must agree with the JVM expression argmin
    # (same centroids, same tiebreak); disagreement is possible only on
    # float near-ties, which the synthetic embeddings don't produce.
    # 33 lists is past the threshold, so training itself takes the BLAS
    # path and its per-pass localCheckpoint
    from aiven_challenge2_cdc_sharing_spark.operators.similarity import (
        _assign_nearest,
        _assign_nearest_matmul,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    as_set = lambda df: {(r.vec_id, r.c) for r in df.collect()}  # noqa: E731
    for n_lists in (8, 33):
        cents = train_ivf_centroids(emb, n_lists).localCheckpoint()
        assert cents.count() == n_lists
        hof = as_set(_assign_nearest(emb, cents, "embedding", "c"))
        assert len(hof) == emb.count() and len({c for _, c in hof}) > 1
        assert hof == as_set(_assign_nearest_matmul(emb, cents, "embedding", "c"))


def test_pca_matches_numpy_eigendecomposition(spark, sf_dir):
    import numpy as np

    from aiven_challenge2_cdc_sharing_spark.queries.coverage_round3 import (
        emb_pca_top_component,
    )

    out = emb_pca_top_component(spark, sf_dir).collect()
    v = np.array([r.loading for r in sorted(out, key=lambda r: r.pos)])
    assert len(v) == 64
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    emb = load_table(spark, sf_dir, "embeddings").collect()
    X = np.array([r.embedding for r in emb], dtype=np.float64)
    C = np.cov(X, rowvar=False, bias=True)
    # ALGORITHMIC parity: the distributed program must equal numpy
    # running the identical 8 fixed power-iteration rounds.  (The
    # synthetic embeddings have a near-degenerate spectrum — eigengap
    # ratio ~0.93 — so no fixed small round count can promise
    # convergence to the exact eigenvector; the operator's contract is
    # the deterministic algorithm, with the round count a parameter.)
    ref = np.full(64, 0.125)
    for _ in range(8):
        ref = C @ ref
        ref /= np.linalg.norm(ref)
    if ref[np.lexsort((ref, np.abs(ref)))[-1]] < 0:
        ref = -ref
    assert float(np.abs(v - ref).max()) < 1e-5
    # and the iterate must concentrate variance: Rayleigh quotient of
    # the result strictly dominates the average eigenvalue direction
    assert float(v @ C @ v) > C.trace() / 64 * 1.5


def test_blocked_gram_parity_with_exploded_covariance(spark, sf_dir):
    import numpy as np

    from aiven_challenge2_cdc_sharing_spark.operators.pca import (
        covariance_long,
        covariance_long_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    a = {(r.i, r.j): r.c for r in covariance_long(emb, "embedding", 64).collect()}
    b = {
        (r.i, r.j): r.c
        for r in covariance_long_blocked(emb, "embedding", 64).collect()
    }
    assert set(a) == set(b) and len(a) == 64 * 64
    drift = max(abs(a[k] - b[k]) for k in a)
    assert drift < 1e-9, f"BLAS-vs-exploded drift {drift}"


def test_random_projection_preserves_distances(spark, sf_dir):
    import numpy as np

    from aiven_challenge2_cdc_sharing_spark.queries.coverage_round3 import (
        emb_random_projection,
    )

    rows = emb_random_projection(spark, sf_dir).collect()
    ncols = max(r.k for r in rows) + 1
    ids = sorted({r.vec_id for r in rows})
    y = {i: np.zeros(ncols) for i in ids}
    for r in rows:
        y[r.vec_id][r.k] = r.y
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in load_table(spark, sf_dir, "embeddings").collect()}
    rng_pairs = [(ids[i], ids[i + 1]) for i in range(0, min(len(ids) - 1, 40), 2)]
    ratios = []
    for a, b in rng_pairs:
        d_orig = np.linalg.norm(emb[a] - emb[b])
        d_proj = np.linalg.norm(y[a] - y[b])
        if d_orig > 1e-9:
            ratios.append(d_proj / d_orig)
    # JL with k=16: distances preserved in expectation, individual
    # pairs within a loose multiplicative band
    assert 0.4 < float(np.median(ratios)) < 1.6
    assert all(0.2 < r < 2.5 for r in ratios)


def test_weighted_sample_biases_toward_heavy_docs(spark, sf_dir):
    from aiven_challenge2_cdc_sharing_spark.queries.coverage_round3 import (
        ml_weighted_sample_es,
    )

    sample = ml_weighted_sample_es(spark, sf_dir).collect()
    assert len(sample) == 100
    docs = load_table(spark, sf_dir, "documents").collect()
    corpus_avg = sum(d.n_chars for d in docs) / len(docs)
    sample_avg = sum(r.n_chars for r in sample) / len(sample)
    # w = n_chars: the weighted sample must overrepresent long docs
    assert sample_avg > corpus_avg * 1.1
    # ...and be a deterministic function of the input
    again = ml_weighted_sample_es(spark, sf_dir).collect()
    assert [r.doc_id for r in sample] == [r.doc_id for r in again]


def test_streaming_session_window(spark, tmpdir):
    import json

    # native session_window in STREAMING mode (the batch twin is
    # win_session_windows): events <5min apart merge; the watermark
    # closes sessions so append mode can emit them
    rows = [
        {"u": 1, "ts": "2026-01-01 00:00:00"},
        {"u": 1, "ts": "2026-01-01 00:03:00"},   # same session
        {"u": 1, "ts": "2026-01-01 00:20:00"},   # new session
        {"u": 2, "ts": "2026-01-01 00:01:00"},
        {"u": 9, "ts": "2026-01-01 02:00:00"},   # advances watermark
    ]
    import os

    os.makedirs(f"{tmpdir}/sess_in")
    with open(f"{tmpdir}/sess_in/a.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("u INT, ts STRING")
        .json(f"{tmpdir}/sess_in")
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), F.col("u"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("r3_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/sess_ckpt")
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.u, str(r.session_window.start)[11:16], r.n)
        for r in spark.sql("SELECT * FROM r3_sessions").collect()
    }
    assert (1, "00:00", 2) in got   # two events merged into one session
    assert (1, "00:20", 1) in got   # gap > 5min opened a new session
    assert (2, "00:01", 1) in got


def test_auc_matches_sklearn_free_reference(spark, sf_dir):
    import numpy as np

    from aiven_challenge2_cdc_sharing_spark.queries.coverage_round3 import (
        ml_eval_auc_prf,
    )

    row = ml_eval_auc_prf(spark, sf_dir).collect()[0]
    emb = load_table(spark, sf_dir, "embeddings").collect()
    y = np.array([1 if r.label == 0 else 0 for r in emb])
    s = np.round(1.0 / (1.0 + np.exp(-np.array([r.embedding[0] for r in emb],
                                               dtype=np.float64) * 4)), 6)
    # reference AUC by explicit pair counting (wins + half-ties)
    pos, neg = s[y == 1], s[y == 0]
    wins = (pos[:, None] > neg[None, :]).sum()
    ties = (pos[:, None] == neg[None, :]).sum()
    ref = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(row.auc - round(float(ref), 6)) <= 1e-6
    assert row.p == len(pos) and row.n == len(neg)
    assert 0 <= row.f1 <= 1


def test_observe_metrics_ride_the_cdc_pass(spark, sf_dir):
    # Observation API: pipeline health metrics (rows, deletes, null
    # keys) accumulate DURING the snapshot pass — no second scan, the
    # operational-metrics posture for a 100-TB job where "count it
    # again" costs another full read
    from pyspark.sql import Observation

    from aiven_challenge2_cdc_sharing_spark.cdc import (
        generate_envelope_log,
        latest_snapshot,
        unwrap,
    )

    obs = Observation("cdc_batch_health")
    unwrapped = unwrap(generate_envelope_log(spark, sf_dir)).observe(
        obs,
        F.count(F.lit(1)).alias("events"),
        F.sum(F.col("__deleted").cast("int")).alias("deletes"),
        F.sum(F.col("id").isNull().cast("int")).alias("null_keys"),
    )
    snap = latest_snapshot(unwrapped)
    n_live = snap.count()  # one action drives both result and metrics
    m = obs.get
    assert m["null_keys"] == 0
    assert m["deletes"] > 0
    assert m["events"] > m["deletes"]
    assert n_live < m["events"]  # dedup + deletes shrink the snapshot
