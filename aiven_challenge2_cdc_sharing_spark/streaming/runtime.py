"""Structured Streaming runtime (SURVEY.md §2.9) — the same CDC algebra
under ``readStream``.

The reference's consumer loop (consumer_to_opensearch.py:52-96) maps to:
- T1 continuous keyed consumption -> file/kafka stream source +
  checkpointed offsets (stronger than broker-side auto-commit: offsets
  and state commit atomically per micro-batch);
- T2 at-least-once + idempotent apply -> foreachBatch + deterministic
  last-writer-wins merge == effectively exactly-once materialization
  (the reference relies on single-partition total order,
  terraform/main.tf:79,234 — we keep only per-key order);
- S6 peek -> availableNow + limit;
- T7 heartbeat/liveness -> StreamingQuery.lastProgress.

Batch/stream parity is the design invariant: every transform here calls
the *same* functions from ``cdc.algebra``/``cdc.materialize`` that the
batch path uses, so the oracle-checked batch results pin the streaming
semantics too.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..cdc.algebra import unwrap
from ..cdc.materialize import latest_state, merge_state, published_snapshot
from ..schemas import CDC_ENVELOPE

# Per-trigger admission bound of ``envelope_file_stream``.  Every trigger
# is one ``merge_snapshot_batch`` (4 jobs and a rewrite of each bucket its
# keys touch), so the bound should split only a backlog too large for one
# rewrite, never a small one that the producer wrote as many files.
_MAX_BYTES_PER_TRIGGER = 256 * 1024 * 1024


def envelope_file_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """T1 — stream of Debezium-style envelope events from JSON files.

    A trigger admits files up to ``_MAX_BYTES_PER_TRIGGER`` bytes of
    JSON, so its size follows how much data arrived, not how many files
    carry it; the bound is soft (a trigger takes at least one file).  A
    backlog below it catches up in one trigger, and a larger one commits
    in bounded steps, each rewriting the buckets its keys touch.

    In production this would be
    ``spark.readStream.format("kafka")... .option("kafka.isolation.level",
    "read_committed")`` (T8, terraform/main.tf:133) with
    ``from_json(value)``; the file source exercises the identical
    downstream plan.
    """
    return (
        spark.readStream.schema(CDC_ENVELOPE)
        .option("maxBytesPerTrigger", _MAX_BYTES_PER_TRIGGER)
        .json(events_dir)
    )


N_SNAPSHOT_BUCKETS = 16
# the key-bucket partition column of the state table
_BUCKET_COL = "__bucket"


def local_path(path: str) -> str:
    """``path`` as a local filesystem path: a ``file:`` URI loses its
    scheme (Python's ``os`` functions take no URIs, Spark takes both).
    Every ``os`` call the sinks make on a table path goes through here,
    so they work on local filesystems only (see ``commit_table``)."""
    return path[len("file:"):] if path.startswith("file:") else path


def replace_file(path: str, text: str) -> None:
    """Atomically make ``text`` the content of the small commit file at
    ``path`` (local only, see ``local_path``): write and flush a temp file
    beside it, then ``os.replace`` it in, so a reader or a crash sees the
    old content or the new, never a partial file."""
    dst = local_path(path)
    tmp = f"{dst}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, dst)


def _versions(root: str) -> list[int]:
    d = os.path.join(root, "_manifest")
    names = os.listdir(d) if os.path.isdir(d) else []
    return sorted(int(n[: -len(".json")]) for n in names if n.endswith(".json"))


def _load_manifest(root: str, version: int) -> dict:
    with open(os.path.join(root, "_manifest", f"{version}.json")) as f:
        return json.load(f)


def _listed(manifest: dict) -> set[tuple[str, str]]:
    return {(p, f) for p, fs in manifest["files"].items() for f in fs}


def _tag(version: int) -> str:
    # counts down, so a sorted listing of a partition shows its newest files first
    return f"{10**9 - 1 - version:09d}-"


def _data_files(root: str):
    """(directory, name) of each data file and checksum of the table."""
    for d, subdirs, names in os.walk(root):
        subdirs[:] = [s for s in subdirs if s not in ("_staging", "_manifest")]
        yield from ((d, f) for f in names if ".parquet" in f)


def _newest_manifest(path: str) -> dict | None:
    """The newest manifest of the table at ``path``, or None.  Data files
    with no manifest raise (reading them as empty would shadow another
    table), except those a crashed first commit leaves."""
    root = local_path(path)
    versions = _versions(root)
    if versions:
        return _load_manifest(root, versions[-1])
    if any(not f.lstrip(".").startswith(_tag(0)) for _, f in _data_files(root)):
        raise ValueError(f"{path} holds data but no _manifest/")
    return None


def commit_table(df: DataFrame, path: str) -> None:
    """Write ``df`` as the next version n of the table at ``path``.

    One Spark write to ``path/_staging``, partitioned by
    ``_BUCKET_COL``; each staged file is renamed into its partition
    directory under a ``_tag(n)`` prefix, and the partitions ``df``
    lacks carry over from n-1.  The commit is one ``replace_file`` of
    ``_manifest/<n>.json`` (schema, live files per partition): a reader
    or a crashed process sees n-1 or n, never a mix.  After it, the
    files older manifests list and n-1 does not are deleted, so a reader
    that resolved n-1 can finish its scan.  Read it with ``read_table``.
    Local filesystems only (plain paths or ``file:`` URIs): an ``hdfs:``
    or ``s3a:`` table needs the Hadoop FileSystem API.
    """
    root = local_path(path)
    prev = _newest_manifest(path)
    n = 0 if prev is None else prev["version"] + 1
    for d, f in list(_data_files(root)):
        if f.lstrip(".").startswith(_tag(n)):  # left by a crashed attempt at n
            os.remove(os.path.join(d, f))
    df.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(f"{path}/_staging")
    staging = os.path.join(root, "_staging")
    files = dict(prev["files"]) if prev else {}
    parts = [p for p in os.listdir(staging) if "=" in p]
    for i, part in enumerate(parts):
        # ``i``: a task's file name repeats in each partition it writes
        prefix, src, dst = f"{_tag(n)}{i}-", os.path.join(staging, part), os.path.join(root, part)
        os.makedirs(dst, exist_ok=True)
        staged = [f for f in os.listdir(src) if ".parquet" in f]  # and checksums ``.<f>.crc``
        for f in staged:
            new = f".{prefix}{f[1:]}" if f.startswith(".") else prefix + f
            os.rename(os.path.join(src, f), os.path.join(dst, new))
        files[part] = sorted(prefix + f for f in staged if not f.startswith("."))
    os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)
    manifest = {"version": n, "schema": json.loads(df.schema.json()), "files": files}
    replace_file(os.path.join(root, "_manifest", f"{n}.json"), json.dumps(manifest))
    for v in _versions(root)[:-2]:
        for p, f in _listed(_load_manifest(root, v)) - _listed(prev):
            for name in (f, f".{f}.crc"):
                with contextlib.suppress(FileNotFoundError):  # removed before a crash
                    os.remove(os.path.join(root, p, name))
        os.remove(os.path.join(root, "_manifest", f"{v}.json"))


@functools.lru_cache(maxsize=32)
def _relation(spark: SparkSession, path: str, schema: str, parts: tuple, names: tuple):
    return (
        spark.read.schema(StructType.fromJson(json.loads(schema)))
        .option("basePath", path)
        .option("pathGlobFilter", "{" + ",".join(names) + "}")
        .parquet(*[f"{path}/{p}" for p in parts])
    )


def read_table(spark: SparkSession, path: str, parts: list[str] | None = None) -> DataFrame:
    """The newest version of a ``commit_table`` table, with its recorded
    schema; ``parts`` (such as ``"__bucket=3"``) limits it to those
    partitions.  One directory per partition keeps it below Spark's
    32-path threshold for a listing job; ``pathGlobFilter`` picks the
    live files.  A session reuses the relation built for the same files:
    a committed version never changes, and its file names are unique."""
    m = _newest_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no table committed at {path}")
    files = m["files"] if parts is None else {p: m["files"][p] for p in parts if p in m["files"]}
    names = tuple(sorted(f for fs in files.values() for f in fs))
    if not names:
        # built JVM-side: ``createDataFrame([])`` starts Python workers
        schema = StructType.fromJson(m["schema"])
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    return _relation(spark, path, json.dumps(m["schema"]), tuple(sorted(files)), names)


def merge_snapshot_batch(
    batch_df: DataFrame, snapshot_path: str, n_buckets: int
) -> None:
    """One micro-batch's idempotent state merge (the body of
    ``run_snapshot_maintenance``): unwrap, bucket by key hash, rewrite
    only touched buckets.

    Columns an envelope adds mid-stream widen the state: keys last
    written before the column arrived read it as NULL.

    Poison records are dropped before bucketing: an ``op`` outside
    c/u/d/r, or a NULL key, which covers a missing image for the op
    (``before`` for a delete, ``after`` otherwise).  Served, they would
    be a live row for an unknown op and one all-NULL row for every
    keyless record.  Committing them as a quarantine beside the state
    is left to ROADMAP.md direction 1.
    """
    spark = batch_df.sparkSession
    changes = unwrap(batch_df.filter(F.col("op").isin("c", "u", "d", "r")))
    changes = changes.filter(F.col("id").isNotNull()).withColumn(
        _BUCKET_COL,
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)).cast("int"),
    )
    # pin: consumed twice (touched-bucket probe + merge); lazy, so the
    # probe's own job materializes it instead of an extra count job
    changes = changes.localCheckpoint(eager=False)
    touched = [r[_BUCKET_COL] for r in changes.select(_BUCKET_COL).distinct().collect()]
    if not touched:
        return
    try:
        prior = read_table(spark, snapshot_path, [f"{_BUCKET_COL}={b}" for b in touched])
        state = merge_state(prior, changes)
    except FileNotFoundError:  # the first batch
        state = latest_state(changes)
    commit_table(state, snapshot_path)


def run_snapshot_maintenance(
    envelopes: DataFrame,
    snapshot_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """T5 — maintain the current-state snapshot table from every
    envelope available now: unwrap each micro-batch and MERGE it into
    the snapshot (upsert + delete, last-writer-wins), the set-oriented
    version of the
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
    ``N_SNAPSHOT_BUCKETS`` key-buckets
    (``__bucket=pmod(xxhash64(id), n)``) and a
    micro-batch reads and rewrites ONLY the buckets its keys touch
    (``read_table``/``commit_table``): per-batch cost is O(touched
    buckets), not O(table), like Delta/Iceberg MERGE file pruning on
    stock parquet.  Size the bucket count so one bucket is one executor's
    comfortable rewrite unit; a batch of uniformly random keys touches
    every bucket (a full rewrite), but CDC batches are small and
    key-local.

    Every trigger rewrites the buckets it touches, so a catch-up costs
    about one such rewrite per trigger; the source bounds a trigger by
    bytes (``envelope_file_stream``), and a backlog below the bound is
    one trigger.
    """
    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_snapshot_batch(batch_df, snapshot_path, N_SNAPSHOT_BUCKETS)

    return (
        envelopes.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def read_snapshot(spark: SparkSession, snapshot_path: str) -> DataFrame:
    """User-facing current state: the live rows of the newest version."""
    return published_snapshot(read_table(spark, snapshot_path)).drop(_BUCKET_COL)


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
    terraform/main.tf:251): the last trigger's batch, input and latency
    (``triggerExecutionMs``), and how many of the recent triggers carried
    input (``inputBatches``; a catch-up's trigger count)."""
    p = query.lastProgress
    if p is None:
        return {"status": query.status, "batches": 0}
    return {
        "status": query.status,
        "batchId": p.get("batchId"),
        "numInputRows": p.get("numInputRows"),
        "inputRowsPerSecond": p.get("inputRowsPerSecond"),
        "triggerExecutionMs": p.get("durationMs", {}).get("triggerExecution"),
        "inputBatches": sum(1 for r in query.recentProgress if r.get("numInputRows", 0) > 0),
    }
