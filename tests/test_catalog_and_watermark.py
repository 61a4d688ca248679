"""S8 DDL idempotence + T4 watermark late-data semantics."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.schemas import CDC_CUSTOMER
from aiven_challenge2_cdc_sharing_spark.sources.catalog import (
    create_table_if_not_exists,
    save_governed_copy,
    table_exists,
)
from aiven_challenge2_cdc_sharing_spark.streaming import windowed_counts
from aiven_challenge2_cdc_sharing_spark.tables import load_table


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="cat_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_create_table_idempotent(spark, sf_dir, tmpdir):
    name = "tcustomer_snapshot"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    create_table_if_not_exists(spark, name, CDC_CUSTOMER, f"{tmpdir}/t")
    create_table_if_not_exists(spark, name, CDC_CUSTOMER, f"{tmpdir}/t")  # no raise
    assert table_exists(spark, name)
    assert spark.table(name).count() == 0
    spark.sql(f"DROP TABLE {name}")


def test_governed_copy_partition_pruning(spark, sf_dir, tmpdir):
    docs = load_table(spark, sf_dir, "documents")
    save_governed_copy(
        docs, f"{tmpdir}/docs", partition_by=("source",),
        sort_within_partitions_by=("doc_id",),
    )
    back = spark.read.parquet(f"{tmpdir}/docs")
    assert back.count() == docs.count()
    pruned = back.filter(F.col("source") == "src1")
    # partition pruning: the scan must read only the matching directory
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_watermark_drops_too_late_events(spark, tmpdir):
    """T4: with a 10-minute watermark, an event arriving after the
    watermark passed its window end is dropped from append-mode output."""
    # single-file micro-batches; watermark propagation lags one batch, so
    # the [10:00,11:00) window is emitted during batch 2 (wm 11:50 in
    # effect) and the late 10:30 event lands after emission.  The pinned
    # guarantee is emit-once/never-mutated: the late row must neither
    # re-emit the window nor change its count.
    schema = "ts timestamp, uid long"
    batches = [
        [("2024-01-01 10:05:00", 1), ("2024-01-01 10:20:00", 1)],
        [("2024-01-01 12:00:00", 1)],  # -> wm 11:50 in effect next batch
        [("2024-01-01 12:10:00", 1)],  # [10:00,11:00) emitted this batch
        [("2024-01-01 10:30:00", 1),   # too late: window already closed
         ("2024-01-01 12:30:00", 1)],
        [("2024-01-01 14:00:00", 1)],  # push wm far past everything
    ]
    import glob, os, time
    os.makedirs(f"{tmpdir}/in")
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "ts string, uid long").select(
            F.to_timestamp("ts").alias("ts"), "uid"
        )
        df.coalesce(1).write.mode("overwrite").json(f"{tmpdir}/src_{i}")
        src_file = glob.glob(f"{tmpdir}/src_{i}/part-*.json")[0]
        dst = f"{tmpdir}/in/{i:02d}.json"
        shutil.copy(src_file, dst)
        os.utime(dst, (time.time() + i * 10, time.time() + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(f"{tmpdir}/in")
    )
    q = (
        windowed_counts(stream)  # 1-hour windows, 10-minute watermark
        .writeStream.format("memory")
        .queryName("wm_counts")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/wm_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = [
        (str(r["win"]["start"]), r["cnt"])
        for r in spark.sql("SELECT * FROM wm_counts").collect()
    ]
    ten = [cnt for start, cnt in rows if start == "2024-01-01 10:00:00"]
    # emitted exactly once, counting only the two on-time events; the
    # late 10:30 row neither re-emitted nor mutated the closed window
    assert ten == [2], rows
