"""Snapshot materialization — the relational twin of the reference's
continuously-updated OpenSearch index (consumer_to_opensearch.py:94-95:
idempotent overwrite-by-doc-id).

Spark-first design: the "current state" is *derived* with one window
(latest-per-key), not maintained row-at-a-time.  At 100 TB this is a
single shuffle on the key — per-key ordering without the reference's
global 1-partition serialization (terraform/main.tf:79,234) — and the
incremental path (``apply_changes``) merges a micro-batch into a
key-bucketed table, which is exactly Delta MERGE semantics expressed on
stock Spark.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .algebra import META_COLS


def latest_state(
    changes: DataFrame,
    key_cols: Sequence[str] = ("id",),
    order_cols: Sequence[str] = ("ts_ms", "seq"),
) -> DataFrame:
    """Last event per key, KEEPING tombstones and change metadata.

    This is the correct *persisted* state for incremental maintenance:
    dropping tombstones (as the user-facing snapshot does) would let an
    out-of-order insert arriving in a later batch resurrect a deleted
    key.  The reference is exposed to exactly that hazard and survives
    only by total topic order (terraform/main.tf:79,234); we keep
    per-key robustness under arbitrary batch boundaries instead.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def published_snapshot(state: DataFrame) -> DataFrame:
    """User-facing view of a ``latest_state`` table: live rows only,
    metadata dropped."""
    payload = [c for c in state.columns if c not in META_COLS]
    return state.filter(~F.col("__deleted")).select(*payload)


def latest_snapshot(
    changes: DataFrame,
    key_cols: Sequence[str] = ("id",),
    order_cols: Sequence[str] = ("ts_ms", "seq"),
) -> DataFrame:
    """W1 — last-writer-wins current state from an unwrapped change log.

    One ``row_number`` over (key, order desc) then drop deleted keys —
    replay-idempotent (duplicates collapse) and order-robust (ordering
    comes from event columns, not arrival order), which is strictly
    stronger than the reference's arrival-order apply
    (consumer_to_opensearch.py:67-96).
    """
    return published_snapshot(latest_state(changes, key_cols, order_cols))


def apply_changes(
    current: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str] = ("id",),
    order_cols: Sequence[str] = ("ts_ms", "seq"),
) -> DataFrame:
    """J7/T5 — MERGE a change batch into a current snapshot:
    WHEN MATCHED AND deleted THEN DELETE / WHEN MATCHED THEN UPDATE /
    WHEN NOT MATCHED THEN INSERT — expressed as union + latest-per-key
    so it is deterministic and idempotent under replay (T2).

    ``current`` rows are treated as version -infinity so any batch event
    for the same key wins.
    """
    base = current
    for c in order_cols:
        base = base.withColumn(c, F.lit(-1).cast("long"))
    base = base.withColumn("__deleted", F.lit(False))
    batch_cols = ["__deleted", *order_cols]
    missing = [c for c in batch_cols if c not in batch.columns]
    if missing:
        raise ValueError(f"batch missing change-metadata columns: {missing}")
    return latest_snapshot(
        base.unionByName(batch.select(*base.columns)), key_cols, order_cols
    )


def merge_state(
    state: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str] = ("id",),
    order_cols: Sequence[str] = ("ts_ms", "seq"),
) -> DataFrame:
    """Incremental maintenance of a ``latest_state`` table: both sides
    carry metadata (incl. tombstones), so merging is closed under
    arbitrary batch boundaries, replay, and reordering.  The result has
    the columns of both sides: a column the batch adds is NULL for the
    state's rows, one it lacks is NULL for its own."""
    return latest_state(state.unionByName(batch, allowMissingColumns=True),
                        key_cols, order_cols)


def snapshot_at(
    changes: DataFrame,
    ts_ms: int,
    key_cols: Sequence[str] = ("id",),
    order_cols: Sequence[str] = ("ts_ms", "seq"),
) -> DataFrame:
    """J5 — point-in-time reconstruction: state as of event-time T.
    The filter is pushed below the window shuffle by Catalyst."""
    return latest_snapshot(
        changes.filter(F.col("ts_ms") <= ts_ms), key_cols, order_cols
    )
