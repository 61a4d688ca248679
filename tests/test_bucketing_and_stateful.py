"""Bucketed co-located join (zero-Exchange plan) + applyInPandasWithState
custom stateful operator."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.operators.bucketing import (
    bucketed_join,
    write_bucketed,
)
from aiven_challenge2_cdc_sharing_spark.plans.inspect import explain_str
from aiven_challenge2_cdc_sharing_spark.streaming.stateful import (
    running_user_profiles,
)
from aiven_challenge2_cdc_sharing_spark.tables import load_table


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="bs_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    names = (f"b_orders_{os.getpid()}", f"b_lineitem_{os.getpid()}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    try:
        for name, df in zip(names, (orders, lineitem)):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
            write_bucketed(df, name, "o_orderkey", 8)
        # disable auto-broadcast: at real scale neither fact side fits in
        # memory; the point of bucketing is the shuffle-free SortMergeJoin
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, names[0], names[1], "o_orderkey").select(
            "o_orderkey", "o_totalprice", "l_extendedprice"
        )
        plan = explain_str(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        expected = (
            orders.join(lineitem, "o_orderkey")
            .select("o_orderkey", "o_totalprice", "l_extendedprice")
            .count()
        )
        assert joined.count() == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)


def test_stateful_running_profiles(spark, sf_dir, tmpdir):
    events = load_table(spark, sf_dir, "events")
    # two micro-batches of explicit files
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    os.makedirs(f"{tmpdir}/in")
    for i, part in enumerate((half1, half2)):
        part.coalesce(1).write.mode("overwrite").json(f"{tmpdir}/src_{i}")
        f = glob.glob(f"{tmpdir}/src_{i}/part-*.json")[0]
        shutil.copy(f, f"{tmpdir}/in/{i:02d}.json")
        os.utime(f"{tmpdir}/in/{i:02d}.json", (time.time() + i * 10,) * 2)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .json(f"{tmpdir}/in")
    )
    q = (
        running_user_profiles(stream)
        .writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # last emission per user must equal the full-batch aggregate
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id
                          ORDER BY n_events DESC) AS rn FROM profiles)
               WHERE rn = 1"""
        ).collect()
    }
    expected = {
        r["user_id"]: (r["n"], r["tv"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("tv"),
        )
        .collect()
    }
    assert final == expected
