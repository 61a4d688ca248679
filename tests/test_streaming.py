"""Streaming runtime tests: the same CDC algebra under readStream must
produce the batch-path snapshot (batch/stream parity), survive replay,
and support windowed counts + peek."""

from __future__ import annotations

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
    run_snapshot_maintenance,
    windowed_counts,
)
from aiven_challenge2_cdc_sharing_spark.tables import load_table


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
    import glob
    import hashlib
    import os

    events_dir = f"{tmpdir}/events"
    log = _write_event_json(spark, sf_dir, events_dir)
    snap = f"{tmpdir}/snapshot"
    q = run_snapshot_maintenance(
        envelope_file_stream(spark, events_dir), snap, f"{tmpdir}/ckpt"
    )
    q.awaitTermination(300)

    def digests():
        out = {}
        for path in glob.glob(f"{snap}/__bucket=*/*.parquet"):
            bucket = path.split("__bucket=")[1].split("/")[0]
            with open(path, "rb") as f:
                out.setdefault(int(bucket), []).append(
                    (os.path.basename(path), hashlib.md5(f.read()).hexdigest())
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


def test_stream_windowed_counts_match_batch(spark, sf_dir, tmpdir):
    events = load_table(spark, sf_dir, "events")
    events_dir = f"{tmpdir}/ev_json"
    events.write.mode("overwrite").json(events_dir)

    batch_result = windowed_counts(events, window="1 hour")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 8)
        .json(events_dir)
    )
    q = (
        windowed_counts(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/win_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT win.start AS s, win.end AS e, cnt FROM win_counts")
    want = batch_result.select(
        F.col("win.start").alias("s"), F.col("win.end").alias("e"), "cnt"
    )
    assert rows_set(got) == rows_set(want)


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
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import merge_snapshot_batch

    snap = f"{tmpdir}/state"
    merge_snapshot_batch(_inserts(spark, range(1, 101)), snap, 16)
    batch = _envelopes(spark, [("u", 7, 2, 200), ("d", 8, 2, 201), ("c", 101, 2, 202)])
    merge_snapshot_batch(batch, snap, 16)
    once = rows_set(spark.read.parquet(snap))
    merge_snapshot_batch(batch, snap, 16)
    assert rows_set(spark.read.parquet(snap)) == once
    assert len(once) == 101  # the tombstone of key 8 is kept


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
