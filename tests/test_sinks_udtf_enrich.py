"""Exactly-once sink replay semantics, Python UDTF, streaming
stream-static enrichment."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.functions.udtf_ops import register_udtfs
from aiven_challenge2_cdc_sharing_spark.streaming.sinks import write_once_per_batch
from aiven_challenge2_cdc_sharing_spark.tables import load_table


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="su_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("scheme", ["", "file:"], ids=["plain", "file_uri"])
def test_write_once_per_batch_skips_replay(spark, sf_dir, tmpdir, scheme):
    out = f"{scheme}{tmpdir}"
    df = load_table(spark, sf_dir, "nation")
    assert write_once_per_batch(df, 7, out) is True
    first = spark.read.parquet(f"{out}/batch_id=7").count()
    # crash-recovery replays the same batch — must be a no-op
    assert write_once_per_batch(df.limit(3), 7, out) is False
    assert spark.read.parquet(f"{out}/batch_id=7").count() == first == 25


def test_udtf_sentence_splitter(spark):
    register_udtfs(spark)
    rows = spark.sql(
        """SELECT s.* FROM VALUES ('One. Two! Three?') AS t(txt),
           LATERAL split_sentences(txt) s"""
    ).collect()
    assert [r["sentence"] for r in rows] == ["One.", "Two!", "Three?"]
    assert rows[0]["start_pos"] == 0 and rows[1]["span_idx"] == 1
    # offsets index back into the source
    src = "One. Two! Three?"
    for r in rows:
        assert src[r["start_pos"] : r["end_pos"]] == r["sentence"]


def test_streaming_stream_static_enrich(spark, sf_dir, tmpdir):
    """J6 streaming-native: stream of events joined to the static
    customer dim inside the micro-batch plan."""
    events = load_table(spark, sf_dir, "events")
    events.write.mode("overwrite").json(f"{tmpdir}/in")
    events_json = spark.read.schema(events.schema).json(f"{tmpdir}/in")
    static_cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 4)
        .json(f"{tmpdir}/in")
    )
    enriched = stream.join(F.broadcast(static_cust), "user_id").groupBy(
        "c_mktsegment"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["c_mktsegment"], r["cnt"])
        for r in spark.sql("SELECT * FROM enrich").collect()
    }
    want = {
        (r["c_mktsegment"], r["cnt"])
        for r in events_json.join(static_cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want and got