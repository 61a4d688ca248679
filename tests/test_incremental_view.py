"""Incremental view maintenance: the delta-maintained aggregate must
equal the recomputed one after arbitrary micro-batching, and updates
that don't change the group key must be net no-ops."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.cdc import generate_envelope_log
from aiven_challenge2_cdc_sharing_spark.queries import load_registry
from aiven_challenge2_cdc_sharing_spark.streaming.incremental import (
    apply_agg_deltas,
    classification_deltas,
    compact_state,
    read_counts,
    run_incremental_counts,
)
from aiven_challenge2_cdc_sharing_spark.streaming.runtime import (
    envelope_file_stream,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ivm_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("scheme", ["", "file:"], ids=["plain", "file_uri"])
def test_incremental_counts_equal_recompute(spark, sf_dir, tmpdir, scheme):
    import os

    log = generate_envelope_log(spark, sf_dir)
    log.repartition(6).write.json(f"{tmpdir}/ev")  # multiple micro-batches

    state = f"{scheme}{tmpdir}/counts"
    q = run_incremental_counts(
        envelope_file_stream(spark, f"{tmpdir}/ev"), state, f"{tmpdir}/ck"
    )
    q.awaitTermination(300)
    # the commit log lives beside the data, whatever the path's form
    assert os.path.isfile(f"{tmpdir}/counts/_commitlog")
    got = {
        r["classification"]: r["cnt"] for r in read_counts(spark, state).collect()
    }
    want = {
        r["classification"]: r["cnt"]
        for r in load_registry()["cdc_count_by_classification"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == want


def test_crash_before_commit_is_invisible_and_replay_converges(
    spark, sf_dir, tmpdir
):
    """Crash-atomicity: a batch whose staging dirs were written but whose
    commit-log line was lost must be invisible to readers (they see the
    previous committed version), and a fresh run over the same source —
    new checkpoint, so batch ids restart — must converge back to the
    exact counts via event-level dedup, with no double-counting."""
    import os

    log = generate_envelope_log(spark, sf_dir)
    # 12 files at maxFilesPerTrigger=4 => 3 micro-batches
    log.repartition(12).write.json(f"{tmpdir}/ev")
    state = f"{tmpdir}/counts"
    q = run_incremental_counts(
        envelope_file_stream(spark, f"{tmpdir}/ev"), state, f"{tmpdir}/ck"
    )
    q.awaitTermination(300)
    before = {
        r["classification"]: r["cnt"] for r in read_counts(spark, state).collect()
    }

    # simulate losing the LAST commit (staging survived, log line gone)
    log_path = f"{state}/_commitlog"
    versions = [ln for ln in open(log_path).read().splitlines() if ln]
    assert len(versions) >= 2, "need multiple micro-batches for this test"
    with open(log_path, "w") as f:
        f.write("\n".join(versions[:-1]) + "\n")
    # readers now see exactly the previous committed version's content
    visible = {
        r["classification"]: r["cnt"] for r in read_counts(spark, state).collect()
    }
    penultimate = {
        r["classification"]: r["cnt"]
        for r in spark.read.parquet(
            os.path.join(state, "counts", f"v={versions[-2]}")
        ).collect()
    }
    assert visible == penultimate

    # a new run (new checkpoint => new run id, batch ids restart at 0)
    # re-applies ONLY the never-committed events and converges
    q2 = run_incremental_counts(
        envelope_file_stream(spark, f"{tmpdir}/ev"), state, f"{tmpdir}/ck2"
    )
    q2.awaitTermination(300)
    after = {
        r["classification"]: r["cnt"] for r in read_counts(spark, state).collect()
    }
    assert after == before


def test_same_group_update_is_net_noop(spark, sf_dir):
    log = generate_envelope_log(spark, sf_dir)
    updates_only = log.filter(F.col("op") == "u")
    # generator updates change phone, never classification -> all deltas
    # cancel pairwise
    deltas = classification_deltas(updates_only)
    assert deltas.filter(F.col("delta") != 0).count() == 0


def test_apply_deltas_drops_zero_groups(spark):
    counts = spark.createDataFrame(
        [("public", 5), ("private", 1)], "classification string, cnt long"
    )
    deltas = spark.createDataFrame(
        [("private", -1), ("internal", 2)], "classification string, delta long"
    )
    out = {
        r["classification"]: r["cnt"]
        for r in apply_agg_deltas(counts, deltas).collect()
    }
    assert out == {"public": 5, "internal": 2}  # private hit zero, dropped

def test_compaction_preserves_counts_and_dedup(spark, sf_dir, tmpdir):
    """Compacting the committed history must not change visible counts,
    and a replay AFTER compaction must still dedupe against the
    compacted processed log (no double counting)."""
    log = generate_envelope_log(spark, sf_dir)
    log.repartition(12).write.json(f"{tmpdir}/ev")
    state = f"{tmpdir}/counts"
    q = run_incremental_counts(
        envelope_file_stream(spark, f"{tmpdir}/ev"), state, f"{tmpdir}/ck"
    )
    q.awaitTermination(300)
    before = {
        r["classification"]: r["cnt"] for r in read_counts(spark, state).collect()
    }

    n = compact_state(spark, state)
    assert n >= 2
    assert {
        r["classification"]: r["cnt"] for r in read_counts(spark, state).collect()
    } == before

    # full replay from a fresh checkpoint: every event is already in the
    # compacted processed log, so counts must not move
    q2 = run_incremental_counts(
        envelope_file_stream(spark, f"{tmpdir}/ev"), state, f"{tmpdir}/ck2"
    )
    q2.awaitTermination(300)
    assert {
        r["classification"]: r["cnt"] for r in read_counts(spark, state).collect()
    } == before
