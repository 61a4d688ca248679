"""Round-5 additions: scale-safe twins + the plan-audit window rule."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.plans.inspect import (
    explain_str,
)
from aiven_challenge2_cdc_sharing_spark.queries import (
    load_registry,
)


def _unpartitioned_windows(df) -> int:
    from tools.plan_audit import count_unpartitioned_windows

    return count_unpartitioned_windows(explain_str(df))


def test_window_rule_catches_global_sort(spark):
    df = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert _unpartitioned_windows(df) == 1


def test_window_rule_passes_partitioned_window(spark):
    df = spark.range(100).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy(F.col("id") % 10).orderBy("id")),
    )
    assert _unpartitioned_windows(df) == 0


def test_window_rule_passes_partitioned_unordered_window(spark):
    # Arguments prints only 2 bracket groups here too — the rule must
    # not confuse the partition spec for an order spec
    df = spark.range(100).withColumn(
        "s", F.sum("id").over(Window.partitionBy(F.col("id") % 10))
    )
    assert _unpartitioned_windows(df) == 0


def test_scalable_twins_have_no_global_window(spark, sf_dir):
    reg = load_registry()
    for name in (
        "agg_equidepth_histogram_scalable",
        "dash_peak_concurrency_scalable",
    ):
        df = reg[name].fn(spark, sf_dir)
        assert _unpartitioned_windows(df) == 0, name


def test_peak_concurrency_twins_agree(spark, sf_dir):
    reg = load_registry()
    a = reg["dash_peak_concurrency"].fn(spark, sf_dir).collect()
    b = reg["dash_peak_concurrency_scalable"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_equidepth_scalable_depth_claim(spark, sf_dir):
    rows = (
        load_registry()["agg_equidepth_histogram_scalable"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert [r["bin"] for r in rows] == list(range(1, 9))
    assert all(r["depth_within_5pct"] for r in rows)


def test_global_prefix_sum_matches_window(spark):
    from aiven_challenge2_cdc_sharing_spark.operators.topk import (
        global_prefix_sum,
    )

    df = spark.range(1000).select(
        F.col("id").alias("k"), ((F.col("id") * 37) % 11 - 5).alias("v")
    )
    ps, _total, _n = global_prefix_sum(df, [F.col("k")], "v", out_col="ps")
    got = {r["k"]: r["ps"] for r in ps.collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: r["ps"]
        for r in df.withColumn("ps", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_global_prefix_sum_property(spark):
    """Random values, duplicate-free keys, negative ranges — the
    two-level result must equal the sequential prefix sum."""
    from hypothesis import given, settings, strategies as st

    from aiven_challenge2_cdc_sharing_spark.operators.topk import (
        global_prefix_sum,
    )

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-10**6, max_value=10**6),
            min_size=1,
            max_size=200,
        )
    )
    def check(vals):
        rows = [(i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "k long, v long")
        ps, total, n_rows = global_prefix_sum(
            df, [F.col("k")], "v", out_col="ps", partitions=7
        )
        got = {r["k"]: r["ps"] for r in ps.collect()}
        acc, want = 0, {}
        for i, v in enumerate(vals):
            acc += v
            want[i] = acc
        assert got == want
        assert (total, n_rows) == (acc, len(vals))

    check()


def test_mann_whitney_matches_bruteforce(spark, sf_dir):
    """U from the prefix-sum midranks == U from the O(n^2) pair count
    (ties count half), on the real fixture."""
    reg = load_registry()
    row = reg["stats_mann_whitney_u"].fn(spark, sf_dir).collect()[0]
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "value")
        .collect()
    )
    xs = [r["value"] for r in ev if r["event_type"] == "view"]
    ys = [r["value"] for r in ev if r["event_type"] == "purchase"]
    u = sum(
        1.0 if x > y else (0.5 if x == y else 0.0) for x in xs for y in ys
    )
    assert row["n1"] == len(xs) and row["n2"] == len(ys)
    assert abs(row["u1"] - u) <= 0.1


def test_decision_stump_matches_bruteforce(spark, sf_dir):
    reg = load_registry()
    row = reg["ml_decision_stump"].fn(spark, sf_dir).collect()[0]
    data = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_totalprice", "o_orderstatus")
        .collect()
    )
    pts = [
        (int(r["o_totalprice"] // 1000), 1 if r["o_orderstatus"] == "F" else 0)
        for r in data
    ]
    best = None
    buckets = sorted({b for b, _ in pts})
    for t in buckets:
        left = [y for b, y in pts if b <= t]
        right = [y for b, y in pts if b > t]
        if not left or not right:
            continue
        def gini(g):
            p = sum(g) / len(g)
            return 2 * p * (1 - p)
        w = (len(left) * gini(left) + len(right) * gini(right)) / len(pts)
        key = (round(w, 6), t)
        if best is None or key < best:
            best = key
    assert row["gini"] == best[0]
    assert row["best_threshold"] == (best[1] + 1) * 1000.0


def _trade_edges(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .distinct()
    )


def test_k_core_is_actually_a_3_core(spark, sf_dir):
    """Every node the peel keeps must still have degree >= 3 inside
    the kept edge set, and the peel must be a fixpoint (one more
    round removes nothing)."""
    edges = {(r["u"], r["v"]) for r in _trade_edges(spark, sf_dir).collect()}
    cur = set(edges)
    for _ in range(8):
        deg: dict[int, int] = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= 3}
        cur = {(u, v) for u, v in cur if u in keep and v in keep}
    nodes = {n for e in cur for n in e}
    deg = {}
    for u, v in cur:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    assert all(deg[n] >= 3 for n in nodes) or not nodes
    row = (
        load_registry()["graph_k_core_trade"].fn(spark, sf_dir).collect()[0]
    )
    assert row["n_core_nodes"] == len(nodes)
    assert row["n_core_edges"] == len(cur)


def test_label_propagation_converges_to_components(spark, sf_dir):
    """On the small trade graph 5 min-label rounds reach the CC
    fixpoint: community sizes == connected-component sizes from the
    dedup stack's CC operator."""
    from aiven_challenge2_cdc_sharing_spark.operators.clustering import (
        connected_components,
    )

    edges = _trade_edges(spark, sf_dir).select(
        F.col("u").alias("id_a"), F.col("v").alias("id_b")
    )
    cc = connected_components(edges)
    cc_sizes = sorted(
        r["n"]
        for r in cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    lpa_sizes = sorted(
        r["n_nations"]
        for r in load_registry()["graph_label_propagation"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert lpa_sizes == cc_sizes
