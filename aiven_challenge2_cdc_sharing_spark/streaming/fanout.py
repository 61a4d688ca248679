"""Multi-sink CDC fan-out: ONE stream pass, many maintained artifacts.

The "sharing" in cdc-sharing: the reference runs one consumer that
feeds one OpenSearch index, and every dashboard (count-by-
classification, new-customers histogram, recent-10 — README.md:150-160)
re-queries that index.  Here the single change-stream pass maintains
all three serving artifacts directly:

- ``state/``   — the bucketed last-writer-wins state table (the
  idempotent MERGE of ``run_snapshot_maintenance``, reused verbatim);
- ``counts/``  — count-by-classification, derived from the merged
  state after each batch;
- ``recent/``  — the recent-10 customers view, likewise derived.

Consistency model: the derived views are recomputed FROM the merged
state inside the same ``foreachBatch`` invocation, so (a) they are
always mutually consistent — every sink reflects exactly the same
prefix of the change stream, unlike three independent consumers that
each lag differently (the reference's dashboards can disagree
mid-refresh) — and (b) replay is safe with no extra machinery: the
state merge is idempotent, and anything derived from state is then
idempotent too.  Deriving beats delta-maintaining here because the
serving artifacts are tiny (grouped counts, a top-10); for a large
derived aggregate you would switch that sink to the delta path
(``incremental.run_incremental_counts``) — the IVM machinery already
exists and composes with this same foreachBatch shape.

At scale, per-batch cost = touched-bucket merge + two scans of the
(pruned) state table; the raw stream is read ONCE for any number of
sinks, which is the point — transport fan-out multiplies consumers,
engine fan-out multiplies only cheap derived writes.

Publish protocol: the derived artifacts are SERVING paths, so they are
never rewritten in place (a parquet ``mode("overwrite")`` deletes then
writes — an external reader listing the directory mid-overwrite sees
missing or partial files).  Each batch instead writes a fresh
versioned directory under ``.versions/`` and atomically repoints a
symlink at it (``symlink`` + ``rename`` — atomic on POSIX), so a
reader resolving ``counts/`` always sees exactly one complete,
immutable version.  The previous version is retained one batch (a
reader that resolved the link just before the swap can finish its
scan) and garbage-collected after.  On an object store, the same
contract is a versioned prefix plus a small ``_LATEST`` manifest
written via put-then-rename.  The state table has no such swap yet.
Dynamic partition overwrite stages the new files and moves them in at
job commit, so no file is ever seen half-written; but it replaces the
touched buckets one at a time (delete the directory, then rename the
staged one in), and a reader in that window misses a whole bucket or
fails on a file deleted under it.  ROADMAP.md direction 1 (commit the
state through a versioned manifest) is the fix.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .runtime import (
    N_SNAPSHOT_BUCKETS,
    local_path,
    merge_snapshot_batch,
    read_snapshot,
)


def _publish_atomic(
    df: DataFrame, base_dir: str, name: str, batch_id: int
) -> None:
    """Write ``df`` as ``base_dir/name`` with an atomic symlink swap.

    Local-filesystem implementation of the versioned-publish contract
    (this repo's streaming sinks are file-based).  Keeps the CURRENT
    and PREVIOUS versions on disk, removing older ones only after the
    swap succeeds.
    """
    root = local_path(base_dir)
    vroot = os.path.join(root, ".versions")
    os.makedirs(vroot, exist_ok=True)
    vdir = os.path.join(vroot, f"{name}_v{batch_id}")
    df.write.mode("overwrite").parquet(vdir)
    # swap: symlink to a temp name, then rename over the serving path —
    # rename(2) replaces an existing symlink atomically
    tmp_link = os.path.join(root, f".{name}_link_tmp")
    if os.path.lexists(tmp_link):
        os.remove(tmp_link)
    os.symlink(vdir, tmp_link)
    final = os.path.join(root, name)
    if os.path.isdir(final) and not os.path.islink(final):
        # first publish over a legacy in-place directory: remove it so
        # the rename can land (one-time, not the steady-state path)
        shutil.rmtree(final)
    os.rename(tmp_link, final)
    # GC everything older than the previous version
    versions = sorted(
        (d for d in os.listdir(vroot) if d.startswith(f"{name}_v")),
        key=lambda d: int(d.rsplit("_v", 1)[1]),
    )
    for stale in versions[:-2]:
        shutil.rmtree(os.path.join(vroot, stale), ignore_errors=True)


def run_shared_serving(
    envelopes: DataFrame,
    base_dir: str,
    checkpoint_path: str,
    n_buckets: int = N_SNAPSHOT_BUCKETS,
) -> StreamingQuery:
    """Start the one-pass fan-out; returns the streaming query.

    Artifacts land under ``base_dir/{state,counts,recent}``.
    """

    def fanout(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        merge_snapshot_batch(batch_df, f"{base_dir}/state", n_buckets)
        # lazy: the first publish materializes it, the second reuses it
        snap = read_snapshot(spark, f"{base_dir}/state").localCheckpoint(
            eager=False
        )
        _publish_atomic(
            snap.groupBy("classification")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .repartition(1),
            base_dir,
            "counts",
            batch_id,
        )
        _publish_atomic(
            snap.select("id", "full_name", "classification", "created_at")
            .orderBy(F.desc("created_at"), F.desc("id"))
            .limit(10)
            .repartition(1),
            base_dir,
            "recent",
            batch_id,
        )

    return (
        envelopes.writeStream.foreachBatch(fanout)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
