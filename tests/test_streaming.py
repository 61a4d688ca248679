"""Streaming runtime tests: the same CDC algebra under readStream must
produce the batch-path snapshot (batch/stream parity), survive replay,
and support peek and the progress heartbeat."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.cdc import (
    generate_envelope_log,
    latest_snapshot,
    unwrap,
)
from aiven_challenge2_cdc_sharing_spark.streaming import (
    read_snapshot,
    envelope_file_stream,
    peek_one,
    progress_summary,
    run_snapshot_maintenance,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_event_json(spark, sf_dir, out_dir, partitions=6):
    log = generate_envelope_log(spark, sf_dir)
    log.repartition(partitions).write.mode("overwrite").json(out_dir)
    return log


def rows_set(df):
    return {tuple(str(x) for x in r) for r in df.select(*sorted(df.columns)).collect()}


def _newest_manifest(table):
    """The newest ``_manifest/<n>.json`` of a ``commit_table`` table."""
    names = os.listdir(f"{table}/_manifest")
    newest = max(int(n[: -len(".json")]) for n in names if n.endswith(".json"))
    with open(f"{table}/_manifest/{newest}.json") as f:
        return json.load(f)


def test_stream_snapshot_equals_batch(spark, sf_dir, tmpdir):
    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir)
    expected = latest_snapshot(unwrap(log))

    stream = envelope_file_stream(spark, events_dir)
    assert stream.isStreaming
    q = run_snapshot_maintenance(
        stream, f"{tmpdir}/snapshot", f"{tmpdir}/ckpt"
    )
    q.awaitTermination(300)
    got = read_snapshot(spark, f"{tmpdir}/snapshot")
    assert rows_set(got) == rows_set(expected)


def test_stream_restart_is_idempotent(spark, sf_dir, tmpdir):
    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir)
    expected = latest_snapshot(unwrap(log))

    for _ in range(2):  # second run: checkpoint says nothing new; state intact
        q = run_snapshot_maintenance(
            envelope_file_stream(spark, events_dir),
            f"{tmpdir}/snapshot",
            f"{tmpdir}/ckpt",
        )
        q.awaitTermination(300)
    got = read_snapshot(spark, f"{tmpdir}/snapshot")
    assert rows_set(got) == rows_set(expected)


def test_untouched_buckets_not_rewritten(spark, sf_dir, tmpdir):
    """Key-bucketed incremental maintenance: a micro-batch touching one
    key must rewrite only that key's bucket partition — every other
    bucket's files stay byte-identical (the stock-parquet analogue of
    Delta MERGE file pruning)."""
    import hashlib

    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir)
    snap = f"{tmpdir}/snapshot"
    q = run_snapshot_maintenance(
        envelope_file_stream(spark, events_dir), snap, f"{tmpdir}/ckpt"
    )
    q.awaitTermination(300)

    def digests():
        # the live files the newest manifest lists for each bucket
        out = {}
        for part, names in _newest_manifest(snap)["files"].items():
            for name in names:
                with open(f"{snap}/{part}/{name}", "rb") as f:
                    out.setdefault(int(part.split("=")[1]), []).append(
                        (name, hashlib.md5(f.read()).hexdigest())
                    )
        return {b: sorted(files) for b, files in out.items()}

    before = digests()
    assert len(before) > 1, "need multiple buckets for this test"

    # second stream delivers events for exactly one key
    one_key = log.filter(
        F.coalesce(F.col("after.id"), F.col("before.id")) == 1
    )
    assert one_key.count() > 0
    one_key.coalesce(1).write.json(f"{tmpdir}/events2")
    q2 = run_snapshot_maintenance(
        envelope_file_stream(spark, f"{tmpdir}/events2"), snap, f"{tmpdir}/ckpt2"
    )
    q2.awaitTermination(300)
    after = digests()

    expected_bucket = spark.sql(
        "SELECT CAST(pmod(xxhash64(CAST(1 AS INT)), 16) AS INT) AS b"
    ).collect()[0]["b"]
    changed = {b for b in before if after.get(b) != before[b]}
    assert changed <= {expected_bucket}, f"rewrote untouched buckets: {changed}"
    # and the replayed events left the snapshot unchanged (idempotent)
    got = read_snapshot(spark, snap)
    want = latest_snapshot(unwrap(log))
    assert rows_set(got) == rows_set(want)


def test_stream_crash_mid_run_recovers_from_checkpoint(spark, sf_dir, tmpdir):
    """T1/T2 crash recovery: the query dies AFTER applying micro-batch 2
    but BEFORE its offsets commit (the worst at-least-once window — the
    work is done, the checkpoint doesn't know).  A restart from the same
    checkpoint must (a) resume at batch 2, not batch 0 — committed
    batches are never redelivered — and (b) re-apply batch 2's identical
    WAL-pinned data idempotently, converging to the batch snapshot.
    This is the formal content of the 'effectively exactly-once' claim
    in run_snapshot_maintenance's docstring, exercised through a real
    StreamingQueryException instead of a clean stop."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from aiven_challenge2_cdc_sharing_spark.schemas import CDC_ENVELOPE
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import (
        merge_snapshot_batch,
    )

    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir, partitions=6)
    expected = rows_set(latest_snapshot(unwrap(log)))
    snap, ckpt = f"{tmpdir}/snapshot", f"{tmpdir}/ckpt"

    applied: list[int] = []  # foreachBatch runs on the driver in local mode
    crashed = []

    def merge(batch_df, batch_id, flaky):
        merge_snapshot_batch(batch_df, snap, 16)
        applied.append(batch_id)
        if flaky and batch_id == 2 and not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash after apply, before commit")

    def start(flaky):
        return (
            spark.readStream.schema(CDC_ENVELOPE)
            .option("maxFilesPerTrigger", 1)
            .json(events_dir)
            .writeStream.foreachBatch(lambda df, bid: merge(df, bid, flaky))
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(StreamingQueryException):
        start(flaky=True).awaitTermination(300)
    assert applied[-1] == 2 and crashed, "crash must land after batch 2 applied"

    first_run = list(applied)
    start(flaky=False).awaitTermination(300)
    resumed = applied[len(first_run):]
    assert resumed[0] == 2, f"restart must resume at batch 2, got {resumed}"
    assert 0 not in resumed and 1 not in resumed, "committed batches redelivered"
    assert rows_set(read_snapshot(spark, snap)) == expected


def test_progress_summary_names_last_batch(spark, sf_dir, tmpdir):
    """T7: the liveness summary of a finished snapshot-maintenance query
    names its last micro-batch, that trigger's latency and how many
    triggers carried input."""
    events_dir = f"{tmpdir}/events"
    _write_event_json(spark, sf_dir, events_dir)
    q = run_snapshot_maintenance(
        envelope_file_stream(spark, events_dir), f"{tmpdir}/snapshot", f"{tmpdir}/ckpt"
    )
    q.awaitTermination(300)

    summary = progress_summary(q)
    last = q.lastProgress
    assert summary["batchId"] == last["batchId"] == max(p["batchId"] for p in q.recentProgress)
    assert summary["numInputRows"] == last["numInputRows"]
    assert summary["inputRowsPerSecond"] == last["inputRowsPerSecond"]
    assert summary["triggerExecutionMs"] == last["durationMs"]["triggerExecution"] > 0
    assert summary["inputBatches"] == sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert summary["status"]["isTriggerActive"] is False


def test_backlog_of_many_files_catches_up_in_one_trigger(spark, sf_dir, tmpdir):
    """A backlog is admitted by bytes, not by file count: the log written
    as 12 JSON files catches up in one trigger that carries input, and
    the snapshot equals the batch path's."""
    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir, partitions=12)
    assert len(glob.glob(f"{events_dir}/*.json")) == 12
    q = run_snapshot_maintenance(
        envelope_file_stream(spark, events_dir), f"{tmpdir}/snapshot", f"{tmpdir}/ckpt"
    )
    q.awaitTermination(300)

    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) == 1
    got = read_snapshot(spark, f"{tmpdir}/snapshot")
    assert rows_set(got) == rows_set(latest_snapshot(unwrap(log)))


def test_peek_one(spark, sf_dir, tmpdir):
    events_dir = f"{tmpdir}/events"
    _write_event_json(spark, sf_dir, events_dir)
    rows = peek_one(spark, events_dir, f"{tmpdir}/peek_ckpt")
    assert len(rows) == 1
    assert rows[0]["op"] in {"c", "u", "d"}


def test_stream_chaos_chunking_order_robust(spark, sf_dir, tmpdir):
    """T2/T4 adversarial parity: a key's insert/update/delete SCATTERED
    across different files (hash of seq + seed), consumed one file per
    micro-batch — so per-key history spans micro-batches, in arrival
    orders that differ per seed — must always converge to the batch
    snapshot.  This is the formal check that the merge orders on
    (ts_ms, seq), never on arrival: an update landing in an earlier
    micro-batch than its insert, or a delete arriving before the row
    it deletes, must still resolve identically."""
    from aiven_challenge2_cdc_sharing_spark.schemas import CDC_ENVELOPE

    log = generate_envelope_log(spark, sf_dir)
    expected = rows_set(latest_snapshot(unwrap(log)))
    for seed in (7, 23):
        events_dir = f"{tmpdir}/events_{seed}"
        (
            log.repartition(
                8, F.pmod(F.xxhash64(F.col("seq") + seed), F.lit(8))
            )
            .write.mode("overwrite")
            .json(events_dir)
        )
        stream = (
            spark.readStream.schema(CDC_ENVELOPE)
            .option("maxFilesPerTrigger", 1)
            .json(events_dir)
        )
        q = run_snapshot_maintenance(
            stream, f"{tmpdir}/snap_{seed}", f"{tmpdir}/ckpt_{seed}"
        )
        q.awaitTermination(300)
        got = rows_set(read_snapshot(spark, f"{tmpdir}/snap_{seed}"))
        assert got == expected, f"chaos chunking diverged for seed {seed}"


def _envelopes(spark, events, extra=None):
    """Envelope DataFrame from ``(op, id, ts_ms, seq)`` tuples; ``extra``
    names a string column the row images carry beyond the customer
    columns, with the value ``f"{extra}{id}"``."""
    import datetime

    from pyspark.sql import types as T

    from aiven_challenge2_cdc_sharing_spark.schemas import CDC_CUSTOMER, CDC_ENVELOPE

    schema = CDC_ENVELOPE
    if extra:
        row_t = T.StructType([*CDC_CUSTOMER.fields, T.StructField(extra, T.StringType())])
        schema = T.StructType([
            T.StructField(f.name, row_t, f.nullable) if f.name in ("before", "after") else f
            for f in CDC_ENVELOPE.fields
        ])
    created = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for op, key, ts_ms, seq in events:
        img = (key, f"name {key}", f"{key}@x", "555", "gold" if key % 2 else "silver",
               created + datetime.timedelta(minutes=key))
        if extra:
            img = (*img, f"{extra}{key}")
        rows.append((op, img if op == "d" else None, None if op == "d" else img,
                     ts_ms, "customer", seq))
    return spark.createDataFrame(rows, schema)


def _inserts(spark, keys, ts_ms=1):
    return _envelopes(spark, [("c", k, ts_ms, k) for k in keys])


def test_file_uri_snapshot_keeps_prior_rows(spark, tmpdir):
    """A ``file:`` snapshot path must merge into the prior state, not
    rebuild the touched buckets from the batch alone."""
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import merge_snapshot_batch

    snap = f"file:{tmpdir}/state"
    merge_snapshot_batch(_inserts(spark, range(1, 201)), snap, 16)
    merge_snapshot_batch(_inserts(spark, [201], ts_ms=2), snap, 16)
    assert read_snapshot(spark, snap).count() == 201


def test_column_added_mid_stream_is_kept(spark, tmpdir):
    """A batch whose row images carry a new column widens the state: the
    column reads back, NULL for keys last written before it arrived."""
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import merge_snapshot_batch

    snap = f"{tmpdir}/state"
    merge_snapshot_batch(_inserts(spark, range(1, 51)), snap, 16)
    merge_snapshot_batch(
        _envelopes(spark, [("u", 3, 2, 100), ("c", 51, 2, 101)], extra="tier"), snap, 16
    )
    got = {r["id"]: r["tier"] for r in read_snapshot(spark, snap).collect()}
    assert len(got) == 51
    assert got[3] == "tier3" and got[51] == "tier51"
    assert all(got[k] is None for k in got if k not in (3, 51))
    # a later batch without the column keeps it for the other keys
    merge_snapshot_batch(_envelopes(spark, [("u", 51, 3, 102)]), snap, 16)
    got = {r["id"]: r["tier"] for r in read_snapshot(spark, snap).collect()}
    assert got[3] == "tier3" and got[51] is None


def test_replayed_batch_leaves_state_identical(spark, tmpdir):
    """Re-applying a batch (an at-least-once redelivery) leaves the state
    table, tombstones and change metadata included, as it was."""
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import (
        merge_snapshot_batch,
        read_table,
    )

    snap = f"{tmpdir}/state"
    merge_snapshot_batch(_inserts(spark, range(1, 101)), snap, 16)
    batch = _envelopes(spark, [("u", 7, 2, 200), ("d", 8, 2, 201), ("c", 101, 2, 202)])
    merge_snapshot_batch(batch, snap, 16)
    once = rows_set(read_table(spark, snap))
    merge_snapshot_batch(batch, snap, 16)
    assert rows_set(read_table(spark, snap)) == once
    assert len(once) == 101  # the tombstone of key 8 is kept


def test_absent_partition_reads_as_jvm_side_empty_frame(spark, tmpdir):
    """Partitions the manifest lacks read as an empty frame with the
    recorded schema, built in the JVM: a Python-side empty relation
    (``ExistingRDD``) would start Python workers for every action."""
    from aiven_challenge2_cdc_sharing_spark.plans.inspect import explain_str
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import (
        merge_snapshot_batch,
        read_table,
    )

    snap = f"{tmpdir}/state"
    merge_snapshot_batch(_inserts(spark, [1]), snap, 16)  # fills one bucket
    full = read_table(spark, snap)
    live = full.first()["__bucket"]
    empty = read_table(spark, snap, [f"__bucket={b}" for b in range(16) if b != live])
    assert "ExistingRDD" not in explain_str(empty)
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]
    assert empty.count() == 0


@pytest.mark.parametrize("uri", [False, True], ids=["plain", "file_uri"])
def test_held_read_survives_next_apply(spark, tmpdir, uri):
    """A snapshot DataFrame built before an apply still collects, after
    it, the version it resolved: the commit keeps that version's files."""
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import merge_snapshot_batch

    snap = f"file:{tmpdir}/state" if uri else f"{tmpdir}/state"
    merge_snapshot_batch(_inserts(spark, range(1, 201)), snap, 16)
    held = read_snapshot(spark, snap)
    # updates every key, so every bucket gets a new version
    merge_snapshot_batch(
        _envelopes(spark, [("u", k, 2, 1000 + k) for k in range(1, 201)]), snap, 16
    )
    assert sorted(r["id"] for r in held.collect()) == list(range(1, 201))


def test_concurrent_reads_see_whole_versions(spark, tmpdir):
    """A reader thread counting the snapshot while update-only batches
    apply always sees every key, and never a file deleted under it."""
    import threading

    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import merge_snapshot_batch

    snap = f"{tmpdir}/state"
    merge_snapshot_batch(_inserts(spark, range(1, 401)), snap, 16)
    stop, counts, errors = threading.Event(), [], []

    def reader():
        while not stop.is_set():
            try:
                counts.append(read_snapshot(spark, snap).count())
            except Exception as e:  # recorded, asserted on below
                errors.append(e)

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for i in range(8):
            keys = range(1 + 7 * i, 400, 50)
            merge_snapshot_batch(
                _envelopes(spark, [("u", k, 2 + i, 1000 + k) for k in keys]), snap, 16
            )
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert not errors, errors[0]
    assert counts and set(counts) == {400}


def _files_on_disk_and_listed(table):
    """The state table's data files on disk, and those its manifests list,
    as (bucket directory, file name) pairs."""
    on_disk = {
        tuple(p.split(os.sep)[-2:]) for p in glob.glob(f"{table}/__bucket=*/*.parquet")
    }
    listed = set()
    for name in os.listdir(f"{table}/_manifest"):
        with open(f"{table}/_manifest/{name}") as f:
            listed |= {(p, n) for p, ns in json.load(f)["files"].items() for n in ns}
    return on_disk, listed


@pytest.mark.parametrize("retry", ["same_batch", "other_buckets"])
def test_crash_before_manifest_keeps_previous_version(spark, tmpdir, monkeypatch, retry):
    """A crash after the data write and before the manifest commit leaves
    the previous version readable and complete.  The next apply gives the
    state an uninterrupted run gives and leaves no file of the crashed
    attempt behind, also when it touches other buckets than the crash."""
    from aiven_challenge2_cdc_sharing_spark.streaming import runtime

    snap, ref = f"{tmpdir}/state", f"{tmpdir}/ref"
    first = _inserts(spark, range(1, 101))
    batch = _envelopes(spark, [("u", 7, 2, 200), ("d", 8, 2, 201), ("c", 101, 2, 202)])
    for table in (snap, ref):
        runtime.merge_snapshot_batch(first, table, 16)
    before = rows_set(read_snapshot(spark, snap))
    assert len(before) == 100

    def crash(path, text):
        raise OSError("injected crash before the manifest commit")

    with monkeypatch.context() as m:
        m.setattr(runtime, "replace_file", crash)
        with pytest.raises(OSError, match="injected crash"):
            runtime.merge_snapshot_batch(batch, snap, 16)
    assert rows_set(read_snapshot(spark, snap)) == before

    if retry == "other_buckets":
        bucket = dict(spark.range(1, 102).select(
            "id", F.expr("pmod(xxhash64(CAST(id AS INT)), 16)")).collect())
        key = next(k for k in range(1, 101) if bucket[k] not in {bucket[7], bucket[8], bucket[101]})
        batch = _envelopes(spark, [("u", key, 2, 300)])
    runtime.merge_snapshot_batch(batch, snap, 16)
    runtime.merge_snapshot_batch(batch, ref, 16)
    assert rows_set(runtime.read_table(spark, snap)) == rows_set(
        runtime.read_table(spark, ref)
    )
    on_disk, listed = _files_on_disk_and_listed(snap)
    assert on_disk == listed


def test_commit_keeps_at_most_two_versions(spark, tmpdir):
    """Old versions are deleted one commit late: after 5 applies at most
    2 manifests remain, and they list every data file left."""
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import merge_snapshot_batch

    snap = f"{tmpdir}/state"
    merge_snapshot_batch(_inserts(spark, range(1, 101)), snap, 16)
    for i in range(4):
        merge_snapshot_batch(
            _envelopes(spark, [("u", k, 2 + i, 300 + k) for k in (3 + i, 50 + i)]), snap, 16
        )
    assert len(os.listdir(f"{snap}/_manifest")) <= 2
    on_disk, listed = _files_on_disk_and_listed(snap)
    assert on_disk == listed


def test_poison_records_are_not_served(spark, tmpdir):
    """Of a good insert, an unknown op, a keyless insert and an update
    without its after-image, only the good insert is served."""
    from aiven_challenge2_cdc_sharing_spark.schemas import CDC_ENVELOPE
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import merge_snapshot_batch

    def img(key):
        return {"id": key, "full_name": f"name {key}", "email": f"{key}@x", "phone": "555",
                "classification": "public", "created_at": "2024-01-01T00:00:00Z"}

    records = [("c", None, img(1)), ("x", None, img(2)), ("c", None, img(None)),
               ("u", img(3), None)]
    os.makedirs(f"{tmpdir}/batch")
    with open(f"{tmpdir}/batch/0.json", "w") as f:
        for seq, (op, before, after) in enumerate(records):
            f.write(json.dumps({"op": op, "before": before, "after": after, "ts_ms": 1,
                                "source_table": "customer", "seq": seq}) + "\n")
    batch = spark.read.schema(CDC_ENVELOPE).json(f"{tmpdir}/batch")
    snap = f"{tmpdir}/state"
    merge_snapshot_batch(batch, snap, 16)
    rows = read_snapshot(spark, snap).collect()
    assert [(r["id"], r["full_name"]) for r in rows] == [(1, "name 1")]


def test_merge_and_read_job_counts(spark, tmpdir):
    """The per-job floor dominates small batches, so the job count is the
    cost to guard: a merge into an existing state runs at most 4 jobs
    (touched-bucket probe 2, merge shuffle 1, write 1) and a point read
    exactly 1 (no schema-inference job)."""
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import merge_snapshot_batch

    sc = spark.sparkContext
    snap = f"{tmpdir}/state"
    merge_snapshot_batch(_inserts(spark, range(1, 201)), snap, 16)
    batch = _envelopes(spark, [("u", 5, 2, 300), ("c", 201, 2, 301)])

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("test_merge_jobs", lambda: merge_snapshot_batch(batch, snap, 16)) <= 4
    assert jobs(
        "test_read_jobs",
        lambda: read_snapshot(spark, snap).filter(F.col("id") == 5).collect(),
    ) == 1
