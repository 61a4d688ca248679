"""Streaming corpus ingestion with cross-batch exact dedup.

The crawl-ingest edge of a training-data pipeline: documents arrive as
a stream, and the corpus must only ever absorb content it has not seen
— across micro-batches, across restarts, across redeliveries.  This is
the streaming twin of ``dedup_incremental_batch`` (the batch
anti-join) and composes with ``dedup_incremental_near`` (the LSH index
probe) downstream.

Design: content-addressed append.  Each batch computes the 16-byte md5
fingerprint of every document, dedupes within the batch
(deterministic survivor: min id per fingerprint), anti-joins against
the fingerprints already in the corpus, and appends only the novel
remainder.  Three properties fall out:

- **the anti-join ships fingerprints, not documents** — the corpus
  side of the join reads ONLY the fingerprint column (column pruning
  verified in the plan test), so at 100 TB the probe touches a 16-byte
  column of a parquet corpus (or, properly, a fingerprint-only index
  table partitioned by fingerprint prefix);
- **at-least-once is free**: a redelivered or replayed batch re-probes
  the corpus, finds its own earlier append, and produces an empty
  remainder — content addressing makes the sink naturally idempotent,
  with no processed-log machinery (contrast
  ``incremental.run_incremental_counts``, whose delta aggregation is
  NOT idempotent by value and needs one);
- **restart-safe without coordination**: the only state is the corpus
  itself.

Concurrency contract: SINGLE WRITER per corpus path.  Two concurrent
ingest streams can both pass the anti-join for the same novel document
and both append it — the probe-then-append is not transactional.  Run
one ingest stream per corpus (the checkpoint already enforces one
query per checkpoint path); multi-writer needs a table format with
optimistic commit (Delta/Iceberg MERGE), not bare parquet append.

Cites reference behavior: consumer_to_opensearch.py:61 (auto-commit
at-least-once consumption) and :70-77 (idempotent upsert by key) — the
same idempotence contract, keyed by content instead of primary key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from .runtime import local_path


def run_dedup_ingest(
    docs_stream: DataFrame,
    corpus_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Start the content-addressed ingest; returns the streaming query.

    The corpus parquet gains a ``__fp`` column (md5 of ``text_col``)
    so later batches anti-join without recomputing old fingerprints.
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn("__fp", F.md5(F.col(text_col)))
        w = Window.partitionBy("__fp").orderBy(id_col)
        batch = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        try:
            seen = spark.read.parquet(corpus_path).select("__fp")
        except AnalysisException as exc:
            # ONLY a missing corpus means "first batch".  Any other
            # analysis failure (corrupt footer, schema problem, denied
            # path) must surface — swallowing it would silently
            # re-admit every document in the batch.
            cond = getattr(exc, "getCondition", lambda: None)() or ""
            # the os.path.exists fallback is only meaningful for local
            # paths; for s3://, hdfs:// etc. it is always False and
            # would misclassify a corrupt-footer/permission failure as
            # "first batch", silently re-admitting every document
            local = local_path(corpus_path)
            if "PATH_NOT_FOUND" in cond or (
                "://" not in local and not os.path.exists(local)
            ):
                seen = None  # first batch: corpus doesn't exist yet
            else:
                raise
        if seen is not None:
            batch = batch.join(seen, "__fp", "left_anti")
        batch.write.mode("append").parquet(corpus_path)

    return (
        docs_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
