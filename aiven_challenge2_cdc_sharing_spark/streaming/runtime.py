"""Structured Streaming runtime (SURVEY.md §2.9) — the same CDC algebra
under ``readStream``.

The reference's consumer loop (consumer_to_opensearch.py:52-96) maps to:
- T1 continuous keyed consumption -> file/kafka stream source +
  checkpointed offsets (stronger than broker-side auto-commit: offsets
  and state commit atomically per micro-batch);
- T2 at-least-once + idempotent apply -> foreachBatch + deterministic
  last-writer-wins merge == effectively exactly-once materialization;
- T3/T6 tumbling/sliding/session windows; T4 watermarking (the
  reference has no lateness concept — it relies on single-partition
  total order, terraform/main.tf:79,234 — we keep only per-key order);
- S6 peek -> availableNow + limit;
- T7 heartbeat/liveness -> StreamingQuery.lastProgress.

Batch/stream parity is the design invariant: every transform here calls
the *same* functions from ``cdc.algebra``/``cdc.materialize`` that the
batch path uses, so the oracle-checked batch results pin the streaming
semantics too.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..cdc.algebra import unwrap
from ..cdc.materialize import latest_state, merge_state, published_snapshot
from ..schemas import CDC_ENVELOPE


def envelope_file_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """T1 — stream of Debezium-style envelope events from JSON files.

    In production this would be
    ``spark.readStream.format("kafka")... .option("kafka.isolation.level",
    "read_committed")`` (T8, terraform/main.tf:133) with
    ``from_json(value)``; the file source exercises the identical
    downstream plan.
    """
    return (
        spark.readStream.schema(CDC_ENVELOPE)
        .option("maxFilesPerTrigger", 4)
        .json(events_dir)
    )


N_SNAPSHOT_BUCKETS = 16

# the state schema recorded beside the state table after each write; the
# leading ``_`` keeps it out of Spark's file listing
STATE_SCHEMA_FILE = "_state_schema.json"


def local_path(path: str) -> str:
    """``path`` as a local filesystem path: a ``file:`` URI loses its
    scheme (Python's ``os`` functions take no URIs, Spark takes both).

    Every ``os`` call the streaming sinks make on a table path goes
    through here, and so works on local filesystems only (plain paths or
    ``file:`` URIs).  An ``hdfs:`` or ``s3a:`` path needs the Hadoop
    FileSystem API (``spark._jvm.org.apache.hadoop.fs.FileSystem``)
    instead; no sink here supports one."""
    return path[len("file:"):] if path.startswith("file:") else path


def replace_file(path: str, text: str) -> None:
    """Atomically make ``text`` the content of the small commit file at
    ``path`` (local only, see ``local_path``): write a temp file beside
    it, then ``os.replace`` it in, so a reader or a crash sees the old
    content or the new, never a partial file."""
    dst = local_path(path)
    tmp = f"{dst}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, dst)


def _state_reader(spark: SparkSession, snapshot_path: str) -> DataFrameReader:
    """``spark.read`` carrying the state schema recorded at the last
    write; a table with no record (written before the record was kept)
    falls back to inference."""
    try:
        with open(os.path.join(local_path(snapshot_path), STATE_SCHEMA_FILE)) as f:
            return spark.read.schema(StructType.fromJson(json.load(f)))
    except FileNotFoundError:
        return spark.read


def merge_snapshot_batch(
    batch_df: DataFrame, snapshot_path: str, n_buckets: int
) -> None:
    """One micro-batch's idempotent state merge (the body of
    ``run_snapshot_maintenance``, reusable from multi-sink pipelines):
    unwrap, bucket by key hash, rewrite only touched buckets.

    Columns an envelope adds mid-stream widen the state: keys last
    written before the column arrived read it as NULL.  After each
    write the state schema is recorded in ``STATE_SCHEMA_FILE`` inside
    the table (through ``replace_file``); the prior-bucket read and
    ``read_snapshot`` pass it to ``spark.read.schema``, which spares
    them Spark's schema-inference job and makes an added column
    visible even when the one footer inference reads predates it.  A
    table with no record falls back to inference.  The record is
    written after the data commit: a crash between the two leaves the
    old record, and the replayed batch restores the columns it adds.

    No checkpoint precedes the write, although the merged state reads
    the buckets it overwrites: dynamic partition overwrite stages the
    new files and swaps the buckets only at job commit, after every
    read of the prior files has finished.
    """
    spark = batch_df.sparkSession
    changes = unwrap(batch_df).withColumn(
        "__bucket",
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)).cast("int"),
    )
    # pin: consumed twice (touched-bucket probe + merge); lazy, so the
    # probe's own job materializes it instead of an extra count job
    changes = changes.localCheckpoint(eager=False)
    touched = [
        r["__bucket"] for r in changes.select("__bucket").distinct().collect()
    ]
    if not touched:
        return
    if os.path.exists(local_path(snapshot_path)):
        prior = (
            _state_reader(spark, snapshot_path)
            .parquet(snapshot_path)
            .filter(F.col("__bucket").isin(touched))
        )
        state = merge_state(prior, changes)
    else:
        state = latest_state(changes)
    (
        state.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(snapshot_path)
    )
    replace_file(
        os.path.join(snapshot_path, STATE_SCHEMA_FILE), state.schema.json()
    )


def run_snapshot_maintenance(
    envelopes: DataFrame,
    snapshot_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    n_buckets: int = N_SNAPSHOT_BUCKETS,
) -> StreamingQuery:
    """T5 — continuously maintain the current-state snapshot table:
    unwrap each micro-batch and MERGE it into the snapshot (upsert +
    delete, last-writer-wins), the set-oriented version of the
    reference's per-event ``index(id=pk, body=doc)``
    (consumer_to_opensearch.py:94-95).

    Replay-safe: a redelivered batch produces the identical snapshot
    (T2), so checkpoint recovery gives effectively-exactly-once.

    The persisted table is the *state* (latest event per key INCLUDING
    tombstones + (ts_ms, seq) metadata): if the published live-rows-only
    snapshot were persisted instead, an insert arriving in a later
    micro-batch than its delete would resurrect the key.  Read the
    user-facing view with ``read_snapshot``.

    Incremental storage: the state table is hash-partitioned into
    ``n_buckets`` key-buckets (``__bucket=pmod(xxhash64(id), n)``) and a
    micro-batch rewrites ONLY the buckets its keys touch — prior state
    is read with a partition-pruned scan and the write uses dynamic
    partition overwrite, so untouched buckets' files are never opened
    or rewritten.  This approximates Delta/Iceberg MERGE file-pruning
    on stock parquet: per-batch write cost is O(touched buckets), not
    O(table).  At 100 TB, set ``n_buckets`` so one bucket ~ one
    executor's comfortable rewrite unit; a micro-batch with uniformly
    random keys touches every bucket (worst case = full rewrite, same
    as round 1), but real CDC batches are small and key-local.

    Each write records the state schema in ``STATE_SCHEMA_FILE`` inside
    the table; reads of the table use it instead of a schema-inference
    job, and tables with no record fall back to inference.  No
    checkpoint precedes the bucket overwrite (``merge_snapshot_batch``
    says why that is safe).
    """
    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_snapshot_batch(batch_df, snapshot_path, n_buckets)

    writer = (
        envelopes.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_snapshot(spark: SparkSession, snapshot_path: str) -> DataFrame:
    """User-facing current state from a maintained state table.

    Reads with the schema ``merge_snapshot_batch`` recorded, so the
    read plans without a schema-inference job and shows every column
    the state has gained; a table with no record falls back to
    inference."""
    state = _state_reader(spark, snapshot_path).parquet(snapshot_path)
    return published_snapshot(state).drop("__bucket")


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """T3/T4/T6 — watermarked tumbling (or sliding) window counts;
    works identically on batch and streaming DataFrames (on batch the
    watermark is a no-op, which is what makes the oracle check of the
    batch twin meaningful)."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    df = events
    if events.isStreaming:
        df = events.withWatermark(ts_col, watermark)
    return df.groupBy(win.alias("win"), *[F.col(k) for k in extra_keys]).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def peek_one(
    spark: SparkSession, events_dir: str, checkpoint_path: str
) -> list:
    """S6 — the reference's peek.py:7-25 (read one message and stop):
    availableNow micro-batch into an in-memory sink, return first row."""
    q = (
        envelope_file_stream(spark, events_dir)
        .writeStream.format("memory")
        .queryName("__peek")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql("SELECT * FROM __peek LIMIT 1").collect()


def progress_summary(query: StreamingQuery) -> dict:
    """T7 — liveness/lag monitoring (the heartbeat analogue,
    terraform/main.tf:251)."""
    p = query.lastProgress
    if p is None:
        return {"status": query.status, "batches": 0}
    return {
        "status": query.status,
        "batchId": p.get("batchId"),
        "numInputRows": p.get("numInputRows"),
        "inputRowsPerSecond": p.get("inputRowsPerSecond"),
    }
