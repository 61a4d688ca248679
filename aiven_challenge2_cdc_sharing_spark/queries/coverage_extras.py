"""Coverage closers for SURVEY.md §2: global sort (O2), grouping
flags (A5), percent_rank/cume_dist (W2), array/split string ops,
incremental MERGE as a checked query (J7), session windows (T6 batch
twin, oracle via gaps-and-islands SQL)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cdc import apply_changes, generate_envelope_log, latest_snapshot, unwrap
from ..tables import load_table
from . import register
from .cdc_queries import SNAPSHOT_SQL


@register(
    "sort_global_orders",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_totalprice,
       row_number() OVER (ORDER BY o_orderpriority, o_totalprice DESC,
                          o_orderkey) AS global_pos
FROM orders
""",
    doc="O2 global total-order sort, pinned by a global row_number. "
    "NOTE the global window is a deliberate single-partition step to "
    "make the order oracle-checkable; at 100 TB a global ordinal would "
    "instead use the sort's range partitioning + per-partition offsets "
    "(zipWithIndex pattern) to avoid the single-reducer window",
)
def sort_global_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.orderBy("o_orderpriority", F.desc("o_totalprice"), "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("global_pos"),
    )


@register(
    "sort_global_ordinal_scalable",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_totalprice,
       row_number() OVER (ORDER BY o_orderpriority, o_totalprice DESC,
                          o_orderkey) AS global_pos
FROM orders
""",
    doc="O2 scale path: the SAME global ordinal as sort_global_orders "
    "but via the zipWithIndex pattern — range-partition by the sort "
    "key, rank within each partition (window parallelism = partition "
    "count), then add broadcast cumulative partition offsets.  No "
    "single-reducer window anywhere; the only driver data is one "
    "count per partition",
)
def sort_global_ordinal_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import global_ordinal

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    sort_cols = [
        F.col("o_orderpriority"),
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    ]
    ranked, _n = global_ordinal(orders, sort_cols, out_col="global_pos")
    return ranked.select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "global_pos"
    )


@register(
    "layout_zorder_orders",
    oracle="""
SELECT o_orderkey,
       CAST(list_sum(list_transform(range(0, 16), i ->
             (((o_custkey >> i) & 1) << (2*i))
           + (((datediff('day', DATE '1992-01-01', o_orderdate) >> i) & 1)
              << (2*i + 1)))) AS BIGINT) AS zval
FROM orders
""",
    doc="Z-order (Morton) layout key over (custkey, order day): the "
    "multi-column data-skipping layout Delta exposes as OPTIMIZE ZORDER "
    "BY, as one codegen'd literal-shift expression both engines compute "
    "bit-identically; a z-ordered write range-partitions and sorts on "
    "it so parquet min-max stats stay tight in BOTH dimensions",
)
def layout_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import interleave_bits

    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    return orders.select(
        "o_orderkey",
        interleave_bits(F.col("o_custkey"), day).alias("zval"),
    )


@register(
    "agg_rollup_grouping_flags",
    oracle="""
SELECT r.r_name, n.n_name,
       CAST(GROUPING(r.r_name) AS INTEGER) AS g_region,
       CAST(GROUPING(n.n_name) AS INTEGER) AS g_nation,
       count(*) AS cnt
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r.r_name, n.n_name)
""",
    doc="A5 grouping() flags distinguish subtotal rows from NULL-valued keys",
)
def agg_rollup_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select("r_name", "n_name", "g_region", "g_nation", "cnt")
    )


@register(
    "win_percent_rank_cume",
    oracle="""
SELECT c_custkey,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
""",
    doc="W2 percent_rank/cume_dist over a total order",
)
def win_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.orderBy("c_acctbal", "c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register(
    "agg_salted_event_counts",
    oracle="""
SELECT event_type, count(*) AS cnt
FROM events
GROUP BY event_type
""",
    doc="skew-mitigation demo under the oracle gate: salted two-phase "
    "count (operators/skew.py) must equal the plain GROUP BY — the "
    "hot group spreads over (key, salt) reducers first, then partials "
    "sum per key.  The oracle proves salting is semantics-preserving",
)
def agg_salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_count

    events = load_table(spark, sf_dir, "events").select("event_type")
    return salted_count(events, "event_type")


@register(
    "win_percent_rank_scalable",
    oracle="""
SELECT c_custkey,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
""",
    doc="W2 scale path: the SAME percent_rank/cume_dist answer as "
    "win_percent_rank_cume but with no single-partition window — the "
    "order has a unique tiebreak so rank == global ordinal, computed "
    "via the zipWithIndex pattern (range partition + per-partition "
    "rank + broadcast offsets), then pr=(pos-1)/(N-1), cd=pos/N with "
    "N from the same partition counts.  Window parallelism = "
    "partition count at any scale",
)
def win_percent_rank_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import global_ordinal

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked, n = global_ordinal(
        cust, [F.col("c_acctbal"), F.col("c_custkey")], out_col="__pos"
    )
    return ranked.select(
        "c_custkey",
        F.round((F.col("__pos") - 1) / F.lit(n - 1), 6).alias("pr"),
        F.round(F.col("__pos") / F.lit(n), 6).alias("cd"),
    )


@register(
    "fn_array_split_ops",
    oracle="""
SELECT doc_id,
       list_contains(string_split(text, ' '), 'spark') AS has_spark,
       array_to_string(list_sort(string_split(text, ' ')[1:4]), '|') AS first4_sorted,
       len(string_split(text, ' ')) AS n_parts
FROM documents
""",
    doc="array/split string ops: split, contains, slice, sort, join",
)
def fn_array_split_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = F.split(F.col("text"), " ")
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_contains(parts, "spark").alias("has_spark"),
        F.array_join(F.sort_array(F.slice(parts, 1, 4)), "|").alias("first4_sorted"),
        F.size(parts).alias("n_parts"),
    )


@register(
    "cdc_merge_incremental",
    oracle=SNAPSHOT_SQL,
    doc="J7/T5 as a checked query: inserts-only snapshot MERGEd with the "
    "update+delete batch must equal the full-log snapshot",
)
def cdc_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = generate_envelope_log(spark, sf_dir)
    current = latest_snapshot(unwrap(log.filter(F.col("op") == "c")))
    batch = unwrap(log.filter(F.col("op") != "c"))
    return apply_changes(current, batch)


@register(
    "win_session_windows",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS cnt
FROM sessions
GROUP BY user_id, session_id
""",
    doc="T6 session windows (30 min gap), batch twin; oracle derives the "
    "same sessions with gaps-and-islands SQL. The identical Spark code "
    "runs under readStream with a watermark.",
)
def win_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "cnt",
        )
    )


@register(
    "agg_pivot_status_by_segment",
    oracle="""
SELECT c.c_mktsegment,
       CAST(sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS status_F,
       CAST(sum(CASE WHEN o.o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
         AS status_O,
       CAST(sum(CASE WHEN o.o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
         AS status_P
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
    doc="PIVOT: order-status counts spread into columns per market "
    "segment via groupBy().pivot() with an explicit value list (so the "
    "plan needs no extra distinct-values job); oracle expresses the "
    "same rotation as conditional aggregation",
)
def agg_pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        cust.join(orders, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "c_mktsegment",
        *[
            F.coalesce(F.col(s), F.lit(0)).cast("long").alias(f"status_{s}")
            for s in ("F", "O", "P")
        ],
    ).orderBy("c_mktsegment")


@register(
    "fn_unpivot_order_measures",
    oracle="""
SELECT o_orderkey, measure, round(value, 2) AS value
FROM (
  SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS value
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE)
  FROM orders
)
ORDER BY o_orderkey, measure
""",
    doc="UNPIVOT/melt: wide measure columns rotated into (key, measure, "
    "value) rows with DataFrame.unpivot — the Spark-native melt; the "
    "oracle is the equivalent UNION ALL",
)
def fn_unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return (
        orders.unpivot(
            "o_orderkey", ["totalprice", "custkey"], "measure", "value"
        )
        .select("o_orderkey", "measure", F.round("value", 2).alias("value"))
        .orderBy("o_orderkey", "measure")
    )
