"""Idempotent (effectively exactly-once) batch sinks.

foreachBatch user code can run twice for the same batch_id after a
crash-recovery (T2).  ``write_once_per_batch`` makes the write
idempotent the standard way: one output directory per batch_id plus a
commit marker; a replayed batch sees the marker and skips.  This is
the file-sink analogue of the reference's id-keyed overwrite
(consumer_to_opensearch.py:95) — replay tolerance via idempotence, not
coordination."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .runtime import local_path, replace_file

COMMIT_MARKER = "_ENGINE_COMMITTED"


def write_once_per_batch(batch_df: DataFrame, batch_id: int, out_dir: str) -> bool:
    """Returns True if this call performed the write, False if the
    batch was already committed (replay)."""
    batch_path = os.path.join(out_dir, f"batch_id={batch_id}")
    marker = os.path.join(batch_path, COMMIT_MARKER)
    if os.path.exists(local_path(marker)):
        return False
    batch_df.write.mode("overwrite").parquet(batch_path)
    replace_file(marker, "ok")
    return True
