"""Round-5 scale stress: the two-level prefix sum and the Bloom
prefilter, measured at synthetic row counts beyond sf0.1.

Usage: python tools/stress_round5.py [n_rows_prefix] [replicate_orders]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.operators.topk import global_prefix_sum
from aiven_challenge2_cdc_sharing_spark.session import get_spark
from aiven_challenge2_cdc_sharing_spark.tables import load_table


def timed(label, fn):
    t0 = time.time()
    out = fn()
    print(f"{label}: {time.time() - t0:.2f}s  ({out})")


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    rep = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("stress_round5")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # ---- prefix sum: n synthetic change points, values in [-5, 5]
    pts = (
        spark.range(n)
        .select(
            F.col("id").alias("t"),
            ((F.col("id") * 37) % 11 - 5).alias("d"),
        )
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    timed(
        f"single-window cumsum over {n:,} rows",
        lambda: pts.withColumn("ps", F.sum("d").over(w))
        .agg(F.max("ps"))
        .collect()[0][0],
    )
    timed(
        f"global_prefix_sum over {n:,} rows",
        lambda: global_prefix_sum(pts, [F.col("t")], "d", out_col="ps")[0]
        .agg(F.max("ps"))
        .collect()[0][0],
    )

    # ---- bloom prefilter: replicate orders, measure pruning
    orders = load_table(spark, sf_dir, "orders")
    big = (
        orders.crossJoin(
            spark.range(rep).select(F.col("id").alias("__r"))
        )
        .drop("__r")
        .localCheckpoint(eager=True)
    )
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    from aiven_challenge2_cdc_sharing_spark.queries.coverage_round5 import (
        _bloom_pos_spark,
    )

    bits = (
        cust.select(
            F.explode(
                F.array(*[_bloom_pos_spark("c_custkey", i) for i in range(3)])
            ).alias("pos")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    total = big.count()
    probe = big
    for i in range(3):
        probe = probe.join(
            F.broadcast(bits),
            _bloom_pos_spark("o_custkey", i) == F.col("pos"),
            "left_semi",
        )
    probe = probe.localCheckpoint(eager=True)
    survived = probe.count()
    exact = probe.join(
        F.broadcast(cust.select("c_custkey")),
        probe.o_custkey == F.col("c_custkey"),
        "left_semi",
    ).count()
    print(
        f"bloom prefilter at {total:,} orders: {survived:,} past the "
        f"filter ({survived / total:.3f}), {exact:,} true matches "
        f"({exact / total:.3f}) -> false-positive overhead "
        f"{(survived - exact) / max(exact, 1):.1%}"
    )
    timed(
        "plain exact semi-join (no prefilter)",
        lambda: big.join(
            F.broadcast(cust.select("c_custkey")),
            big.o_custkey == F.col("c_custkey"),
            "left_semi",
        ).count(),
    )


if __name__ == "__main__":
    main()
