"""Incremental materialized-view maintenance from CDC change streams.

The reference serves "Count by Classification" from an index that is
rebuilt per query (README.md:150-152).  Here the aggregate itself is
maintained incrementally from the change stream: each envelope
contributes deltas derived from its before/after images —

- insert:  +1 for after.classification
- delete:  -1 for before.classification
- update:  -1 for before.classification, +1 for after.classification
           (a no-op pair when the group key didn't change)

so a micro-batch of B events touches O(groups) state rows, independent
of table size — the classic incremental view maintenance (IVM) result,
and the one place the Debezium *before image* is load-bearing
(consumer_to_opensearch.py:79-81 models it but never uses it).

Exactly-once: delta-aggregation is NOT idempotent by value (unlike the
last-writer-wins snapshot), so at-least-once delivery needs explicit
event dedup that SURVIVES batch boundaries — a redelivered event can
arrive in a later micro-batch than its original (the engine's own test
generator does this on purpose).  The maintainer therefore keeps a
processed-(ts_ms, seq) log next to the counts and anti-joins each batch
against it before computing deltas.

Crash-atomicity between the counts write and the processed-log write is
MVCC-lite: each micro-batch stages BOTH under a version named
``<run>-<batch_id>`` (``counts/v=...``, ``processed/b=...``) and then
commits by atomically rewriting ``_commitlog`` with one more line
(``runtime.replace_file``); readers and later batches only ever see
committed versions, so a crash between the staging writes leaves
orphan directories that the replayed batch simply overwrites — never
a half-applied state (the manifest-pointer idea Delta/Iceberg use,
minus compaction).  Versions are scoped by a run id
derived from the checkpoint location because batch_ids RESTART at 0
when a checkpoint is lost: a same-run replay (identical batch content,
guaranteed by Structured Streaming) is skipped via the log, while a
new run never matches an old version name and instead deduplicates at
the event level through the processed log — the layer that makes
checkpoint-loss replay exact.  At scale the per-batch processed dirs
are bounded by watermark retention and periodically compacted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .runtime import local_path, replace_file

COMMIT_LOG = "_commitlog"


def classification_deltas(envelopes: DataFrame) -> DataFrame:
    """Envelope batch -> (classification, delta) contributions."""
    deduped = envelopes.dropDuplicates(["ts_ms", "seq"])
    plus = deduped.filter(F.col("op").isin("c", "u")).select(
        F.col("after.classification").alias("classification"),
        F.lit(1).alias("delta"),
    )
    minus = deduped.filter(F.col("op").isin("u", "d")).select(
        F.col("before.classification").alias("classification"),
        F.lit(-1).alias("delta"),
    )
    return (
        plus.unionByName(minus)
        .groupBy("classification")
        .agg(F.sum("delta").alias("delta"))
    )


def apply_agg_deltas(counts: DataFrame, deltas: DataFrame) -> DataFrame:
    """Merge delta rows into a (classification, cnt) state table,
    dropping groups that reach zero."""
    merged = (
        counts.select("classification", F.col("cnt").alias("delta"))
        .unionByName(deltas)
        .groupBy("classification")
        .agg(F.sum("delta").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )
    return merged


def _committed_versions(state_path: str) -> list[str]:
    try:
        with open(os.path.join(local_path(state_path), COMMIT_LOG)) as f:
            return f.read().split()
    except FileNotFoundError:
        return []


def _commit(state_path: str, versions: list[str]) -> None:
    replace_file(
        os.path.join(state_path, COMMIT_LOG), "".join(f"{v}\n" for v in versions)
    )


def read_counts(spark: SparkSession, state_path: str) -> DataFrame:
    """Latest committed counts state (empty frame before first commit)."""
    versions = _committed_versions(state_path)
    if not versions:
        return spark.createDataFrame([], "classification string, cnt bigint")
    return spark.read.parquet(
        os.path.join(state_path, "counts", f"v={versions[-1]}")
    )


def compact_state(spark: SparkSession, state_path: str) -> int:
    """Compact the committed history into one version: union all
    committed processed dirs into a single dir, carry the latest counts
    forward, and atomically swap the commit log to reference just the
    compacted version.  Old dirs become orphans (best-effort removed)
    — a crash anywhere before the log swap leaves
    the previous log intact and the new dirs ignored, preserving the
    protocol's invariant that readers only see committed versions.

    At scale this runs periodically (or when the committed-version list
    exceeds a threshold) so the per-batch anti-join reads one compacted
    processed table plus a short tail, not one dir per historical batch.
    Returns the number of versions compacted."""
    import shutil

    versions = _committed_versions(state_path)
    if len(versions) <= 1:
        return 0
    compact_v = f"compact-{versions[-1]}"
    processed = spark.read.parquet(
        *[os.path.join(state_path, "processed", f"b={v}") for v in versions]
    ).distinct()
    processed.write.mode("overwrite").parquet(
        os.path.join(state_path, "processed", f"b={compact_v}")
    )
    read_counts(spark, state_path).write.mode("overwrite").parquet(
        os.path.join(state_path, "counts", f"v={compact_v}")
    )
    _commit(state_path, [compact_v])
    root = local_path(state_path)
    for v in versions:  # best-effort orphan cleanup
        shutil.rmtree(os.path.join(root, "processed", f"b={v}"), ignore_errors=True)
        shutil.rmtree(os.path.join(root, "counts", f"v={v}"), ignore_errors=True)
    return len(versions)


def run_incremental_counts(
    envelopes: DataFrame, state_path: str, checkpoint_path: str
):
    """Maintain the count-by-classification aggregate incrementally
    from an envelope stream (availableNow).  See the module docstring
    for the versioned-commit (MVCC-lite) exactly-once protocol."""
    import hashlib

    spark = envelopes.sparkSession
    run_id = hashlib.md5(checkpoint_path.encode()).hexdigest()[:8]

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        version = f"{run_id}-{batch_id}"
        committed = _committed_versions(state_path)
        if version in committed:
            return  # same-run replay of a fully committed batch: no-op
        fresh = batch_df.dropDuplicates(["ts_ms", "seq"])
        if committed:
            seen = spark.read.parquet(
                *[
                    os.path.join(state_path, "processed", f"b={v}")
                    for v in committed
                ]
            )
            fresh = fresh.join(seen, ["ts_ms", "seq"], "left_anti")
        fresh = fresh.localCheckpoint(eager=True)  # pin before state writes
        deltas = classification_deltas(fresh)
        if committed:
            state = apply_agg_deltas(read_counts(spark, state_path), deltas)
        else:
            state = deltas.select(
                "classification", F.col("delta").alias("cnt")
            ).filter(F.col("cnt") != 0)
        # stage both outputs under this batch's version, then commit by
        # rewriting the log with one more line; a crash mid-staging leaves
        # orphans the replay overwrites, never a half-applied state
        state.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            os.path.join(state_path, "counts", f"v={version}")
        )
        fresh.select("ts_ms", "seq").write.mode("overwrite").parquet(
            os.path.join(state_path, "processed", f"b={version}")
        )
        _commit(state_path, committed + [version])

    return (
        envelopes.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
