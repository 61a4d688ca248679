"""Incremental view maintenance: the delta-maintained aggregate must
equal the recomputed one after arbitrary micro-batching, and updates
that don't change the group key must be net no-ops."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.cdc import generate_envelope_log
from aiven_challenge2_cdc_sharing_spark.queries import load_registry
from aiven_challenge2_cdc_sharing_spark.streaming.incremental import (
    apply_agg_deltas,
    classification_deltas,
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


def _counts(spark, state):
    return {r["classification"]: r["cnt"] for r in read_counts(spark, state).collect()}


def _recompute(spark, sf_dir):
    return {
        r["classification"]: r["cnt"]
        for r in load_registry()["cdc_count_by_classification"]
        .fn(spark, sf_dir)
        .collect()
    }


def _run(spark, tmpdir, state, checkpoint):
    q = run_incremental_counts(
        envelope_file_stream(spark, f"{tmpdir}/ev"), state, f"{tmpdir}/{checkpoint}"
    )
    q.awaitTermination(300)
    return q


def _files_on_disk_and_listed(table):
    """The view's data files on disk, and those its manifests list, as
    (partition directory, file name) pairs."""
    on_disk = {
        tuple(p.split(os.sep)[-2:]) for p in glob.glob(f"{table}/__part=*/*.parquet")
    }
    listed = set()
    for name in os.listdir(f"{table}/_manifest"):
        with open(f"{table}/_manifest/{name}") as f:
            listed |= {(p, n) for p, ns in json.load(f)["files"].items() for n in ns}
    return on_disk, listed


@pytest.mark.parametrize("scheme", ["", "file:"], ids=["plain", "file_uri"])
def test_incremental_counts_equal_recompute(spark, sf_dir, tmpdir, scheme):
    log = generate_envelope_log(spark, sf_dir)
    log.repartition(6).write.json(f"{tmpdir}/ev")  # multiple micro-batches

    state = f"{scheme}{tmpdir}/counts"
    _run(spark, tmpdir, state, "ck")
    # the manifest lives beside the data, whatever the path's form
    assert os.path.isdir(f"{tmpdir}/counts/_manifest")
    assert _counts(spark, state) == _recompute(spark, sf_dir)


def test_crash_before_commit_is_invisible_and_replay_converges(
    spark, sf_dir, tmpdir, monkeypatch
):
    """Crash-atomicity: a batch whose data files were written but whose
    manifest commit failed must be invisible to readers (they see the
    previous committed version), and a fresh run over the same source —
    new checkpoint, so batch ids restart — must converge back to the
    exact counts via event-level dedup, with no double-counting."""
    from aiven_challenge2_cdc_sharing_spark.streaming import runtime

    log = generate_envelope_log(spark, sf_dir)
    # 12 files at maxFilesPerTrigger=4 => 3 micro-batches
    log.repartition(12).write.json(f"{tmpdir}/ev")
    state = f"{tmpdir}/counts"
    committed = []
    replace = runtime.replace_file

    def crash_on_last_commit(path, text):
        if len(committed) == 2:
            raise OSError("injected crash before the manifest commit")
        replace(path, text)
        committed.append(_counts(spark, state))

    with monkeypatch.context() as m:
        m.setattr(runtime, "replace_file", crash_on_last_commit)
        with pytest.raises(Exception, match="injected crash"):
            _run(spark, tmpdir, state, "ck")
    # readers see exactly the previous committed version's content
    assert _counts(spark, state) == committed[-1]
    assert committed[-1] != _recompute(spark, sf_dir)

    # a new run (new checkpoint, batch ids restart at 0) re-applies ONLY
    # the never-committed events and converges
    _run(spark, tmpdir, state, "ck2")
    assert _counts(spark, state) == _recompute(spark, sf_dir)
    on_disk, listed = _files_on_disk_and_listed(state)
    assert on_disk == listed


def test_crash_after_commit_same_checkpoint_converges(
    spark, sf_dir, tmpdir, monkeypatch
):
    """A crash after the last batch's commit and before the checkpoint
    records the batch: the restarted query replays that batch, whose
    events are all in the processed log, so the counts do not move."""
    from aiven_challenge2_cdc_sharing_spark.streaming import incremental

    generate_envelope_log(spark, sf_dir).repartition(12).write.json(f"{tmpdir}/ev")
    state = f"{tmpdir}/counts"
    commit = incremental.commit_table
    calls = []

    def crash_after_last_commit(*args, **kwargs):
        commit(*args, **kwargs)
        calls.append(1)
        if len(calls) == 3:
            raise OSError("injected crash after the commit")

    with monkeypatch.context() as m:
        m.setattr(incremental, "commit_table", crash_after_last_commit)
        with pytest.raises(Exception, match="injected crash"):
            _run(spark, tmpdir, state, "ck")
        # same checkpoint: the last batch runs again
        _run(spark, tmpdir, state, "ck")
    assert len(calls) == 4
    assert _counts(spark, state) == _recompute(spark, sf_dir)


def test_class_whose_rows_are_all_deleted_stays_absent(spark, tmpdir):
    """When every group reaches zero, the next version must not bring the
    previous counts back: the class stays absent after one more batch."""
    def event(op, key, cls, ts_ms):
        img = {"id": key, "classification": cls}
        return {"op": op, "before": img if op == "d" else None,
                "after": None if op == "d" else img,
                "ts_ms": ts_ms, "source_table": "customer", "seq": 0}

    os.makedirs(f"{tmpdir}/ev")
    state = f"{tmpdir}/counts"
    batches = [
        [event("c", 1, "private", 1), event("c", 2, "private", 2)],
        [event("d", 1, "private", 3), event("d", 2, "private", 4)],
        [event("c", 3, "public", 5)],
    ]
    seen = []
    for i, batch in enumerate(batches):
        with open(f"{tmpdir}/ev/{i}.json", "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in batch)
        _run(spark, tmpdir, state, "ck")  # one new file: one micro-batch
        seen.append(_counts(spark, state))
    assert seen == [{"private": 2}, {}, {"public": 1}]


def test_long_run_keeps_two_versions_and_job_budget(spark, sf_dir, tmpdir):
    """12 micro-batches: at most 2 manifests remain and they list every
    data file left; the counts equal the recompute.  The job count is the
    per-batch cost to guard: a batch runs at most 5 jobs (the processed
    log's broadcast, the dedup shuffle, the deltas and counts
    aggregations, the commit write; a per-batch commit log ran 10 to 12,
    growing with the number of batches it had to read)."""
    log = generate_envelope_log(spark, sf_dir)
    log.repartition(48).write.json(f"{tmpdir}/ev")  # 48 files => 12 batches
    state = f"{tmpdir}/counts"
    q = _run(spark, tmpdir, state, "ck")
    batches = len(q.recentProgress)
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert batches >= 12
    assert jobs <= 5 * batches
    assert len(os.listdir(f"{state}/_manifest")) <= 2
    on_disk, listed = _files_on_disk_and_listed(state)
    assert on_disk == listed
    assert _counts(spark, state) == _recompute(spark, sf_dir)


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
    """Each commit rewrites the processed log whole, so it stays one live
    version with no compaction step; a full replay from a fresh
    checkpoint must still dedupe against it (no double counting)."""
    log = generate_envelope_log(spark, sf_dir)
    log.repartition(12).write.json(f"{tmpdir}/ev")
    state = f"{tmpdir}/counts"
    _run(spark, tmpdir, state, "ck")
    before = _counts(spark, state)
    assert before == _recompute(spark, sf_dir)

    # full replay from a fresh checkpoint: every event is already in the
    # processed log, so counts must not move
    _run(spark, tmpdir, state, "ck2")
    assert _counts(spark, state) == before
