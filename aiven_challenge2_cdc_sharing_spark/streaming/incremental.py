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

The counts (``__part=counts``) and the processed log (``__part=seen``)
are partitions of one ``runtime.commit_table`` table, so one manifest
commit publishes both or neither.  Each commit rewrites the log whole,
so it grows with every event processed; at scale it would be bounded by
the source's redelivery horizon (watermark or topic retention): a key
older than any event the source can still redeliver can be dropped at
commit time, which keeps the write proportional to that window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .runtime import commit_table, read_table

_COUNTS, _SEEN = "__part=counts", "__part=seen"


def _deltas(events: DataFrame) -> DataFrame:
    """(classification, delta) of envelopes already deduplicated by
    (ts_ms, seq)."""
    op = F.col("op")
    # both images of an event in one row: a union of the +1 and -1 sides
    # would read the batch twice (one more shuffle, one more job)
    images = F.array(
        F.struct(
            F.col("after.classification").alias("c"),
            F.when(op.isin("c", "u"), 1).otherwise(0).alias("d"),
        ),
        F.struct(
            F.col("before.classification").alias("c"),
            F.when(op.isin("u", "d"), -1).otherwise(0).alias("d"),
        ),
    )
    return (
        events.select(F.explode(F.filter(images, lambda i: i["d"] != 0)).alias("i"))
        .groupBy(F.col("i.c").alias("classification"))
        .agg(F.sum("i.d").alias("delta"))
    )


def classification_deltas(envelopes: DataFrame) -> DataFrame:
    """Envelope batch -> (classification, delta) contributions."""
    return _deltas(envelopes.dropDuplicates(["ts_ms", "seq"]))


def _fold(counts: DataFrame, deltas: DataFrame) -> DataFrame:
    return (
        counts.select("classification", F.col("cnt").alias("delta"))
        .unionByName(deltas)
        .groupBy("classification")
        .agg(F.sum("delta").alias("cnt"))
    )


def apply_agg_deltas(counts: DataFrame, deltas: DataFrame) -> DataFrame:
    """Merge delta rows into a (classification, cnt) state table,
    dropping groups that reach zero."""
    return _fold(counts, deltas).filter(F.col("cnt") != 0)


def read_counts(spark: SparkSession, state_path: str) -> DataFrame:
    """Latest committed counts state (empty frame before first commit)."""
    try:
        counts = read_table(spark, state_path, [_COUNTS])
    except FileNotFoundError:
        return spark.range(0).selectExpr(
            "CAST(NULL AS string) AS classification", "CAST(NULL AS bigint) AS cnt"
        )
    return counts.filter(F.col("cnt") != 0).select("classification", "cnt")


def run_incremental_counts(
    envelopes: DataFrame, state_path: str, checkpoint_path: str
):
    """Maintain the count-by-classification aggregate incrementally
    from an envelope stream (availableNow).  A batch anti-joins against
    the processed log, folds the deltas into the counts and commits the
    counts and the grown log as one version; a replayed batch finds all
    its events processed and changes nothing."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates(["ts_ms", "seq"])
        try:
            seen = read_table(spark, state_path, [_SEEN]).select("ts_ms", "seq")
            prior = read_table(spark, state_path, [_COUNTS]).select("classification", "cnt")
            fresh = fresh.join(seen, ["ts_ms", "seq"], "left_anti")
        except FileNotFoundError:  # the first batch: nothing seen or counted
            seen = prior = None
        # lazy pin: the deltas and the grown log prune it to different
        # columns, so unpinned the commit would deduplicate the batch twice
        fresh = fresh.localCheckpoint(eager=False)
        keys = fresh.select("ts_ms", "seq")
        deltas = _deltas(fresh)
        if prior is None:
            counts = deltas.withColumnRenamed("delta", "cnt")
        else:
            keys = seen.unionByName(keys)
            counts = _fold(prior, deltas)
        # groups at zero stay stored: a counts partition the commit
        # lacked would carry the previous counts over
        counts = counts.withColumn("__part", F.lit("counts"))
        commit_table(
            counts.unionByName(
                keys.withColumn("__part", F.lit("seen")), allowMissingColumns=True
            ),
            state_path,
            "__part",
        )

    return (
        envelopes.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
