"""Tests for SCD2 history, binned range join, gap-fill LOCF, and the
pipeline extras (incremental dedup, profiling, quantization)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.cdc import scd2_history
from aiven_challenge2_cdc_sharing_spark.operators.joins import binned_range_join
from aiven_challenge2_cdc_sharing_spark.queries import load_registry
from tests.references import range_join, snapshot_at

ENV_SCHEMA = (
    "op string, "
    "before struct<id:int,full_name:string,email:string,phone:string,"
    "classification:string,created_at:timestamp>, "
    "after struct<id:int,full_name:string,email:string,phone:string,"
    "classification:string,created_at:timestamp>, "
    "ts_ms long, source_table string, seq long"
)


def _row(id_, phone):
    return (id_, f"name{id_}", f"e{id_}@x.com", phone, "public",
            dt.datetime(2024, 1, 1))


def test_scd2_versions_intervals_and_delete(spark):
    # id=1: insert -> update -> delete; id=2: insert only; id=3:
    # insert + replayed duplicate insert (at-least-once)
    log = spark.createDataFrame(
        [
            ("c", None, _row(1, "p1"), 1000, "customer", 10),
            ("u", _row(1, "p1"), _row(1, "p2"), 2000, "customer", 11),
            ("d", _row(1, "p2"), None, 3000, "customer", 12),
            ("c", None, _row(2, "q1"), 1500, "customer", 20),
            ("c", None, _row(3, "r1"), 1700, "customer", 30),
            ("c", None, _row(3, "r1"), 1700, "customer", 30),  # replay
        ],
        ENV_SCHEMA,
    )
    hist = {
        (r["id"], r["version"]): r
        for r in scd2_history(log).collect()
    }
    assert set(hist) == {(1, 1), (1, 2), (2, 1), (3, 1)}

    v11 = hist[(1, 1)]
    assert (v11["valid_from_ms"], v11["valid_to_ms"]) == (1000, 2000)
    assert v11["phone"] == "p1" and not v11["is_current"]

    v12 = hist[(1, 2)]
    assert (v12["valid_from_ms"], v12["valid_to_ms"]) == (2000, 3000)
    assert v12["phone"] == "p2"
    assert not v12["is_current"], "deleted key must not be current"

    assert hist[(2, 1)]["is_current"] and hist[(2, 1)]["valid_to_ms"] is None
    assert hist[(3, 1)]["is_current"], "replayed insert collapses to one version"


def test_binned_range_join_equals_bnlj_incl_boundaries(spark):
    # values landing exactly on bin and band boundaries
    fact = spark.createDataFrame(
        [(float(v),) for v in [0.0, 49.9, 50.0, 99.99, 100.0, 149.5,
                               250.0, 999.99, 1000.0, -1.0]],
        "value double",
    )
    bands = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 250.0), ("high", 250.0, 1000.0)],
        "band string, lo double, hi double",
    )
    bnlj = range_join(
        fact, bands, F.col("value"), F.col("lo"), F.col("hi")
    ).select("value", "band")
    binned = binned_range_join(
        fact, bands, value="value", lo="lo", hi="hi", bin_width=50.0
    ).select("value", "band")
    assert sorted(map(tuple, bnlj.collect())) == sorted(map(tuple, binned.collect()))
    # 1000.0 and -1.0 fall outside every band
    assert binned.count() == 8


def test_binned_range_join_no_duplicate_candidates(spark):
    # a band spanning many bins must not duplicate matches
    fact = spark.createDataFrame([(75.0,)], "value double")
    bands = spark.createDataFrame([("wide", 0.0, 1000.0)], "band string, lo double, hi double")
    out = binned_range_join(fact, bands, "value", "lo", "hi", bin_width=10.0)
    assert out.count() == 1


def test_gapfill_locf_fills_gaps(spark, sf_dir):
    df = load_registry()["ts_gapfill_locf"].fn(spark, sf_dir)
    rows = df.collect()
    # dense spine: same bucket count for every user
    users = {}
    for r in rows:
        users.setdefault(r["user_id"], []).append(r)
    counts = {len(v) for v in users.values()}
    assert len(counts) == 1
    # there are real gaps, and every gap after the first observation is
    # carried forward
    gap_rows = [r for r in rows if r["bucket_sum"] is None]
    assert gap_rows, "6h buckets on sparse events must contain gaps"
    for u, rs in users.items():
        rs.sort(key=lambda r: r["bucket"])
        seen = None
        for r in rs:
            if r["bucket_sum"] is not None:
                seen = r["bucket_sum"]
            assert r["filled_sum"] == seen


def test_quantization_reconstruction_bound(spark, sf_dir):
    out = load_registry()["emb_quantize_int8"].fn(spark, sf_dir)
    # qvec ships as a CSV string (driver-canonical; raw arrays break
    # the driver's pandas canonicalizer) — parse it back for the bound
    rows = out.select("qvec_csv", "rmse", "scale_r").collect()
    assert rows
    for r in rows:
        qvec = [int(x) for x in r["qvec_csv"].split(",")]
        assert qvec
        assert all(-128 <= q <= 127 for q in qvec)
        # max-abs quantization error per dim is 0.5/scale; RMSE must be
        # below that bound
        assert r["rmse"] <= 0.5 / r["scale_r"] + 1e-9


def test_incremental_dedup_drops_recrawls_keeps_fresh(spark, sf_dir):
    out = load_registry()["dedup_incremental_batch"].fn(spark, sf_dir)
    ids = [r["doc_id"] for r in out.collect()]
    assert ids, "fresh docs must survive"
    assert all(i < 100000 for i in ids), "re-crawled copies must drop"
    assert all(i % 10 == 7 for i in ids)


def test_null_safe_join_is_hash_join_not_bnlj(spark, sf_dir):
    df = load_registry()["join_null_safe_eq"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_stable_across_partitioning(spark, sf_dir):
    from aiven_challenge2_cdc_sharing_spark.tables import load_table

    fn = load_registry()["ml_stratified_sample_det"].fn
    a = sorted(map(tuple, fn(spark, sf_dir).collect()))
    # hash-bucket membership must not depend on physical layout
    b = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert a == b
    totals = {r[0]: (r[1], r[2]) for r in a}
    for seg, (n_total, n_sampled) in totals.items():
        assert 0 <= n_sampled <= n_total


def test_jaccard_threshold_join_exact_and_pruned(spark):
    from aiven_challenge2_cdc_sharing_spark.operators.dedup import (
        jaccard_threshold_join,
        with_shingles,
    )

    # 3 near-identical docs (one token changed), 3 unrelated docs
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "the quick brown fox jumps over the lazy dog tonight"),
        (4, "completely different words about spark query planning"),
        (5, "another unrelated sentence mentioning duckdb oracle checks"),
        (6, "yet more text that shares nothing with the first cluster"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_threshold_join(df, "doc_id", "text", 0.5).collect()
    }
    # brute force reference
    sh = {
        r["doc_id"]: set(r["__sh"])
        for r in with_shingles(df, "text").collect()
    }
    expect = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if j >= 0.5:
                expect[(a, b)] = round(j, 6)
    assert out == expect
    assert (1, 2) in out and (1, 3) in out, "near-identical docs must pair"
    assert not any(a >= 4 or b >= 4 for a, b in out)
    # a cap far above every shingle's df must not change the result
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_threshold_join(
            df, "doc_id", "text", 0.5, max_shingle_df=1000
        ).collect()
    }
    assert capped == expect


def test_jaccard_shingle_df_cap_bounds_boilerplate_blowup(spark):
    """Adversarial fixture: M docs share one boilerplate preamble.

    Uncapped, the shared shingles alone contribute ~M^2 join rows (the
    100-TB hazard VERDICT r02 flagged).  With max_shingle_df below M
    the boilerplate shingles leave the universe: candidate volume is
    bounded by the unique tails, and docs whose ONLY content is the
    boilerplate can no longer pair on it.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from aiven_challenge2_cdc_sharing_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    boiler = "this document is confidential and intended solely for the recipient"
    m = 40
    rows = [(i, f"{boiler} unique tail {i} payload alpha beta") for i in range(m)]
    # plus one true near-dup pair that shares a RARE tail
    rows += [
        (100, "rare shared tail gamma delta epsilon zeta eta theta"),
        (101, "rare shared tail gamma delta epsilon zeta eta theta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = jaccard_threshold_join(df, "doc_id", "text", 0.5)
    capped = jaccard_threshold_join(
        df, "doc_id", "text", 0.5, max_shingle_df=10
    )
    un_pairs = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cap_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}

    # the rare-tail pair survives the cap (its shingles have df=2)
    assert (100, 101) in cap_pairs
    # boilerplate-only similarity is gone: no pair among the M docs
    assert not any(a < m and b < m for a, b in cap_pairs)
    # uncapped, the boilerplate dominates each doc's shingle set and
    # manufactures O(M^2) "duplicate" pairs — the blowup the cap kills
    boiler_pairs = {(a, b) for a, b in un_pairs if a < m and b < m}
    assert len(boiler_pairs) > m  # super-linear without the cap

    # join-volume bound, measured where it blows up: rows flowing into
    # the pair-groupBy are sum(df(shingle)^2) over surviving shingles
    from aiven_challenge2_cdc_sharing_spark.operators.dedup import (
        with_shingles,
    )

    def join_volume(cap):
        dfreq = (
            with_shingles(df, "text")
            .select(F.explode("__sh").alias("__tok"))
            .groupBy("__tok")
            .count()
        )
        if cap:
            dfreq = dfreq.filter(F.col("count") <= cap)
        return (
            dfreq.select(F.sum(F.col("count") * F.col("count")).alias("v"))
            .collect()[0]["v"]
        )

    v_un, v_cap = join_volume(None), join_volume(10)
    assert v_cap * 5 < v_un, (v_cap, v_un)


def test_scd2_agrees_with_point_in_time_snapshot(spark, sf_dir):
    """Cross-operator invariant: the SCD2 rows whose [valid_from,
    valid_to) interval covers T must equal snapshot_at(T)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from aiven_challenge2_cdc_sharing_spark.cdc import (
        generate_envelope_log,
        scd2_history,
        unwrap,
    )

    log = generate_envelope_log(spark, sf_dir)
    # T inside the update window: after inserts+updates of low ids,
    # before their deletes (generator: t0 = BASE + id*1000, update
    # +500k, delete +900k)
    t = 1_704_067_200_000 + 300 * 1000 + 700_000
    hist_at = (
        scd2_history(log)
        .filter(
            (F.col("valid_from_ms") <= t)
            & (F.col("valid_to_ms").isNull() | (F.col("valid_to_ms") > t))
        )
        .select("id", "phone", "classification")
    )
    snap_at = snapshot_at(unwrap(log), t).select(
        "id", "phone", "classification"
    )
    a = sorted(map(tuple, hist_at.collect()))
    b = sorted(map(tuple, snap_at.collect()))
    assert a == b and len(a) > 0


def test_containment_join_directional_vs_jaccard(spark):
    """Doc-inside-doc: the quoted paragraph is ~fully contained in the
    long page (containment ~1 in that direction only) while Jaccard is
    far below any useful threshold — the case the directional operator
    exists for."""
    from aiven_challenge2_cdc_sharing_spark.operators.dedup import (
        containment_join,
        jaccard_threshold_join,
        with_shingles,
    )

    quote = "the quick brown fox jumps over the lazy dog near the river bank"
    filler = " ".join(f"filler{i} word{i} pad{i}" for i in range(40))
    rows = [
        (1, quote),
        (2, f"intro text before the quote {quote} and a long commentary {filler}"),
        (3, "entirely unrelated content about query planning and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_join(df, "doc_id", "text", 0.8).collect()
    }
    # brute-force reference over every ordered pair
    sh = {r["doc_id"]: set(r["__sh"]) for r in with_shingles(df, "text").collect()}
    expect = {}
    for a in sh:
        for b in sh:
            if a == b:
                continue
            c = len(sh[a] & sh[b]) / len(sh[a])
            if c >= 0.8:
                expect[(a, b)] = round(c, 6)
    assert cont == expect
    assert (1, 2) in cont, "quote must be detected inside the page"
    assert (2, 1) not in cont, "containment is directional"
    # symmetric Jaccard misses this pair entirely at the same threshold
    jac = {
        (r["id_a"], r["id_b"])
        for r in jaccard_threshold_join(df, "doc_id", "text", 0.8).collect()
    }
    assert (1, 2) not in jac and (2, 1) not in jac
    # df-cap path returns the same answer when no shingle is hot
    capped = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_join(
            df, "doc_id", "text", 0.8, max_shingle_df=1000
        ).collect()
    }
    assert capped == expect
