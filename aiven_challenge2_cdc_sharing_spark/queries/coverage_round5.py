"""Round-5 operator additions.

Opens with the two scale-safe twins the round-4 verdict ordered —
equi-depth histogram boundaries from the mergeable GK sketch instead
of a global ntile, and peak concurrency through the two-level
partitioned prefix sum instead of a single-partition cumulative window
— then widens the analytics/LLM-pipeline families: graph metrics
(triangles, neighborhood similarity), classical statistics (KS,
chi-square, Benford), time-series smoothing (EWMA, rolling median,
autocorrelation), model-adjacent ops (naive Bayes, closed-form OLS,
k-fold assignment), text/lexical metrics (Zipf fit, type-token ratio),
data-quality audits, and a Bloom-prefilter join.

Reference provenance: the reference has no analytics engine of its own
(consumer loop at consumer_to_opensearch.py:67-96; dashboards at
README.md:150-160); these are north-star extensions per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.topk import global_prefix_sum
from ..tables import load_table
from . import register

# ------------------------------------- equi-depth histogram, scale path


@register(
    "agg_equidepth_histogram_scalable",
    oracle="""
SELECT * FROM (
  SELECT CAST(unnest(range(1, 9)) AS BIGINT) AS bin,
         TRUE AS depth_within_5pct,
         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_total
) ORDER BY bin
""",
    doc="the production twin of agg_equidepth_histogram: bin "
    "boundaries from approx_percentile (GK sketch, accuracy 10000 -> "
    "rank error 1e-4, mergeable across partitions — NO global sort), "
    "then ONE hash-aggregate scan assigns rows to the 7 broadcast "
    "boundaries and counts per bin.  Tolerance oracle in the "
    "agg_approx_percentile_band style: the hash-checked claim is that "
    "every bin's population is within 5pct of N/8 and the bins cover "
    "all N rows.  Plan contains zero WindowExec — this is the shape "
    "that survives 100 TB, where the exact-ntile twin's "
    "range-partitioned global sort is the cost ceiling",
)
def agg_equidepth_histogram_scalable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.select(
        F.percentile_approx(
            "o_totalprice",
            F.array(*[F.lit(i / 8.0) for i in range(1, 8)]),
            F.lit(10000),
        ).alias("b")
    ).collect()[0]["b"]
    # bin = 1 + #boundaries strictly below the value; boundaries are a
    # 7-element broadcast literal, so assignment is one scan
    bin_col = sum(
        (F.col("o_totalprice") > F.lit(b)).cast("int") for b in bounds
    ) + F.lit(1)
    per_bin = (
        orders.select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = per_bin.agg(F.sum("n").alias("nt"))
    return (
        per_bin.crossJoin(F.broadcast(total))
        .select(
            F.col("bin").cast("long").alias("bin"),
            (
                F.abs(F.col("n") - F.col("nt") / 8)
                <= 0.05 * F.col("nt")
            ).alias("depth_within_5pct"),
            F.col("nt").cast("long").alias("n_total"),
        )
        .orderBy("bin")
    )


# ------------------------------------- peak concurrency, scale path


@register(
    "dash_peak_concurrency_scalable",
    oracle="""
WITH marks AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
               OR epoch(ts) - epoch(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id,
         min(ts) AS s_start, max(ts) AS s_end
  FROM (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM marks)
  GROUP BY user_id, sid
),
deltas AS (
  SELECT s_start AS t, 1 AS d FROM sessions
  UNION ALL
  SELECT s_end + INTERVAL 1 SECOND AS t, -1 AS d FROM sessions
),
sweep AS (
  SELECT t, sum(sum(d)) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
  FROM deltas GROUP BY t
)
SELECT CAST(max(live) AS BIGINT) AS peak_concurrency,
       CAST(count(*) AS BIGINT) AS n_change_points
FROM sweep
""",
    doc="the production twin of dash_peak_concurrency — SAME oracle, "
    "same answer, different physical plan: the cumulative sum over "
    "the ordered change-point stream goes through "
    "operators/topk.global_prefix_sum (range-partition by t, "
    "within-partition cumsum at partition parallelism, broadcast "
    "per-partition offset totals) instead of a single-partition "
    "window.  Driver-side data is one partial sum per partition.  "
    "The per-user sessionization windows partition by user_id and "
    "were never the scale problem",
)
def dash_peak_concurrency_scalable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # (ts, event_id): pin a total order among duplicate-ts peers
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marks = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w_order).isNull()
            | (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w_order))
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = (
        marks.withColumn("sid", F.sum("new_session").over(w_cum))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    deltas = sessions.select(
        F.col("s_start").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        sessions.select(
            (F.col("s_end") + F.expr("INTERVAL 1 SECOND")).alias("t"),
            F.lit(-1).alias("d"),
        )
    )
    change_points = deltas.groupBy("t").agg(F.sum("d").alias("dd"))
    sweep, _total, _n = global_prefix_sum(
        change_points, [F.col("t")], "dd", out_col="live"
    )
    return sweep.agg(
        F.max("live").cast("long").alias("peak_concurrency"),
        F.count(F.lit(1)).cast("long").alias("n_change_points"),
    )


# --------------------------------------------- classical statistics


@register(
    "stats_ks_two_sample",
    oracle="""
WITH vals AS (
  SELECT value,
         count(*) FILTER (WHERE event_type = 'view') AS d1,
         count(*) FILTER (WHERE event_type = 'purchase') AS d2
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY value
),
cum AS (
  SELECT sum(d1) OVER (ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
         sum(d2) OVER (ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
  FROM vals
),
tot AS (
  SELECT CAST(sum(d1) AS BIGINT) AS n1, CAST(sum(d2) AS BIGINT) AS n2
  FROM vals
)
SELECT tot.n1, tot.n2,
       round(max(abs(c1 * 1.0 / tot.n1 - c2 * 1.0 / tot.n2)), 6)
         AS ks_stat
FROM cum, tot GROUP BY tot.n1, tot.n2
""",
    doc="two-sample Kolmogorov-Smirnov statistic ('view' vs "
    "'purchase' value distributions): max ECDF gap over the pooled "
    "distinct values.  The running counts go through "
    "operators/topk.global_prefix_sum — the two per-sample counters "
    "ride ONE prefix sum as a packed 64-bit pair (c1*2^32 + c2, "
    "exact while n1 < 2^31), so the scale cost is one range "
    "partition + per-partition cumsum, no single-partition window.  "
    "The oracle computes the same ECDFs with plain windows",
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    vals = ev.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("d1"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("d2"),
    )
    packed = vals.select(
        "value",
        (F.col("d1") * F.lit(2**32) + F.col("d2")).alias("c"),
    )
    # Round-12: n1/n2 unpack from the packed grand total the operator's
    # offsets collect already summed (sum(c) = n1*2^32 + n2 exactly
    # while n2 < 2^32) — the old tot re-ran the whole events groupBy
    ps, packed_total, _n = global_prefix_sum(
        packed, [F.col("value")], "c", out_col="ps"
    )
    n1, n2 = packed_total // 2**32, packed_total % 2**32
    cum = ps.select(
        F.floor(F.col("ps") / F.lit(2**32)).alias("c1"),
        (F.col("ps") % F.lit(2**32)).alias("c2"),
    )
    return cum.groupBy(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
    ).agg(
        F.round(
            F.max(
                F.abs(
                    F.col("c1") / F.lit(n1).cast("long")
                    - F.col("c2") / F.lit(n2).cast("long")
                )
            ),
            6,
        ).alias("ks_stat")
    )


@register(
    "stats_chi_square_independence",
    oracle="""
WITH cells AS (
  SELECT c_mktsegment AS seg, o_orderstatus AS st, count(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
tots AS (
  SELECT seg, st, n,
         sum(n) OVER (PARTITION BY seg) AS rn,
         sum(n) OVER (PARTITION BY st) AS cn,
         sum(n) OVER () AS nn
  FROM cells
)
SELECT round(sum(pow(n - rn * cn * 1.0 / nn, 2) / (rn * cn * 1.0 / nn)), 6)
         AS chi2,
       CAST((count(DISTINCT seg) - 1) * (count(DISTINCT st) - 1) AS BIGINT)
         AS dof
FROM tots
""",
    doc="chi-square test of independence over the (market segment x "
    "order status) contingency table: one join + one hash aggregate "
    "produce the cells (15 rows regardless of data size), everything "
    "after runs on the aggregate.  The Spark side derives row/column "
    "totals by re-aggregating the cells (broadcast joins on a 15-row "
    "table) instead of the oracle's windows — same arithmetic, no "
    "window over the raw data anywhere",
)
def stats_chi_square_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # localCheckpoint: the 15-row contingency table feeds FOUR
    # consumers (row/col/grand totals + the cells themselves); without
    # it Catalyst re-derives the orders-customer join per consumer
    # (16 exchanges, audit-flagged) — with it the big join runs once
    cells = (
        orders.join(
            cust, orders.o_custkey == cust.c_custkey
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    row_t = cells.groupBy("seg").agg(F.sum("n").alias("rn"))
    col_t = cells.groupBy("st").agg(F.sum("n").alias("cn"))
    tot = cells.agg(F.sum("n").alias("nn"))
    joined = (
        cells.join(F.broadcast(row_t), "seg")
        .join(F.broadcast(col_t), "st")
        .crossJoin(F.broadcast(tot))
    )
    exp = F.col("rn") * F.col("cn") / F.col("nn")
    return joined.agg(
        F.round(
            F.sum(F.pow(F.col("n") - exp, 2) / exp), 6
        ).alias("chi2"),
        (
            (F.count_distinct("seg") - 1) * (F.count_distinct("st") - 1)
        ).cast("long").alias("dof"),
    )


@register(
    "stats_benford_first_digit",
    oracle="""
WITH digits AS (
  SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice))))
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
)
SELECT digit,
       CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 1.0 / (SELECT count(*) FROM digits), 6) AS obs_p,
       round(log10(1 + 1.0 / digit), 6) AS benford_p
FROM digits GROUP BY digit ORDER BY digit
""",
    doc="Benford first-significant-digit profile of order totals (the "
    "fraud-screening / data-quality classic): digit extraction is one "
    "scan of arithmetic (no string ops), the rest runs on a 9-row "
    "aggregate.  obs vs log10(1+1/d) expected shares, both rounded "
    "6dp on both engines",
)
def stats_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digits = orders.select(
        F.floor(
            F.col("o_totalprice")
            / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
        ).cast("long").alias("digit")
    )
    per = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = per.agg(F.sum("n").alias("nn"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("nn"), 6).alias("obs_p"),
            F.round(F.log10(1 + 1.0 / F.col("digit")), 6).alias(
                "benford_p"
            ),
        )
        .orderBy("digit")
    )


# --------------------------------------------- mode + referential audit


@register(
    "agg_mode_per_group",
    oracle="""
WITH counted AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT o_orderstatus, o_orderpriority AS mode_priority,
       CAST(n AS BIGINT) AS n
FROM counted
QUALIFY row_number() OVER (PARTITION BY o_orderstatus
                           ORDER BY n DESC, o_orderpriority) = 1
ORDER BY o_orderstatus
""",
    doc="per-group mode (most frequent value) with a deterministic "
    "lexicographic tie-break — count aggregate + rank-1 filter, the "
    "portable formulation (native mode() functions leave ties "
    "unspecified, which can never hash-match across engines).  The "
    "rank window partitions by group over the aggregated counts",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    counted = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), "o_orderpriority"
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "dq_referential_orphans",
    oracle="""
-- NOT EXISTS, not NOT IN: a NULL foreign key makes NOT IN return
-- UNKNOWN (row silently excluded) while the Spark side's left-join
-- null test counts it as an orphan; NOT EXISTS counts it too
SELECT * FROM (
  SELECT 'orders->customer' AS relation,
         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_total,
         (SELECT CAST(count(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
           AS n_orphans
  UNION ALL
  SELECT 'lineitem->orders',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'lineitem->part',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem->supplier',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM supplier s
                            WHERE s.s_suppkey = l.l_suppkey))
) ORDER BY relation
""",
    doc="referential-integrity audit across the star schema's four "
    "FK edges: each edge is an anti-join count (broadcast where the "
    "dimension is small, shuffled hash where it isn't — Catalyst "
    "picks per edge).  The canonical data-quality gate a 100 TB "
    "ingest runs before publishing a snapshot; emits totals so the "
    "orphan share is readable directly",
)
def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one lazy union of four (anti-join -> 1-row agg) branches: a
    # single Spark action runs all edges concurrently instead of
    # eight serial driver-side .count() jobs (3.8s -> ~1s at sf0.1)
    def edge(fact, fk, dim, pk, name):
        # no broadcast hint: customer/part/supplier auto-broadcast
        # under the threshold, but the lineitem->orders edge joins two
        # FACTS — forcing a broadcast there would not survive 100 TB
        flagged = fact.select(F.col(fk).alias("k")).join(
            dim.select(F.col(pk).alias("k2")),
            F.col("k") == F.col("k2"),
            "left",
        )
        return flagged.agg(
            F.lit(name).alias("relation"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.count(F.when(F.col("k2").isNull(), 1))
            .cast("long")
            .alias("n_orphans"),
        )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    out = (
        edge(orders, "o_custkey", cust, "c_custkey", "orders->customer")
        .unionAll(edge(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders"))
        .unionAll(edge(li, "l_partkey", part, "p_partkey", "lineitem->part"))
        .unionAll(edge(li, "l_suppkey", supp, "s_suppkey", "lineitem->supplier"))
    )
    return out.orderBy("relation")


# --------------------------------------------- time-series smoothing


@register(
    "ts_ewma_smooth",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         sum(value) AS x
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       round(list_reduce(list(x ORDER BY day),
                         (acc, x) -> 0.3 * x + 0.7 * acc), 4)
         AS ewma_final
FROM daily GROUP BY event_type ORDER BY event_type
""",
    doc="exponentially-weighted moving average over each type's daily "
    "value series (alpha 0.3, s1 = x1): the recursion folds the "
    "day-ordered array with F.aggregate — a sequential JVM-side "
    "reduce over ~30 elements per group, identical evaluation order "
    "to the oracle's list_reduce so the doubles match bit-for-bit "
    "before the 4dp round.  Grouped state is one array bounded by "
    "the DATE domain, never event count; the closed-form window "
    "formulation was rejected because (1-a)^-i overflows double "
    "precision past ~80 days",
)
def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum("value").alias("x"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.expr(
                "round(aggregate("
                "  slice(transform(array_sort(collect_list(struct(day, x))),"
                "        e -> e.x), 2, 100000),"
                "  cast(transform(array_sort(collect_list(struct(day, x))),"
                "       e -> e.x)[0] as double),"
                "  (acc, x) -> 0.3 * x + 0.7 * acc), 4)"
            ).alias("ewma_final"),
        )
        .orderBy("event_type")
    )


@register(
    "ts_autocorr_lags",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         sum(value) AS x
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT a.event_type, k.k, a.x AS x0, b.x AS xk
  FROM daily a
  JOIN (SELECT unnest([1, 2, 3, 7]) AS k) k ON TRUE
  JOIN daily b ON b.event_type = a.event_type
              AND b.day = a.day + k.k * INTERVAL 1 DAY
)
SELECT event_type, CAST(k AS BIGINT) AS lag_days,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(corr(x0, xk), 6) AS acf
FROM lagged GROUP BY event_type, k ORDER BY event_type, lag_days
""",
    doc="autocorrelation of each type's daily value series at lags "
    "1/2/3/7 days: the lagged pairing is an equi-JOIN on (type, "
    "day+k) — co-partitioned, no ordered window — and corr() is a "
    "single-pass commutative aggregate on both engines.  The join "
    "runs on the daily AGGREGATE (date-domain-bounded), so the "
    "data-scale work is exactly one groupBy of the raw events",
)
def ts_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum("value").alias("x"))
    lags = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3), F.lit(7))).alias("k")
    )
    a = daily.crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("event_type").alias("bt"),
        F.col("day").alias("bday"),
        F.col("x").alias("xk"),
    )
    pairs = a.join(
        b,
        (F.col("bt") == F.col("event_type"))
        & (
            F.col("bday")
            == F.col("day") + F.col("k") * F.expr("INTERVAL 1 DAY")
        ),
    )
    return (
        pairs.groupBy(
            "event_type", F.col("k").cast("long").alias("lag_days")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.corr(F.col("x"), F.col("xk")), 6).alias("acf"),
        )
        .orderBy("event_type", "lag_days")
    )


@register(
    "ts_rolling_median_7d",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(sum(value), 4) AS x
  FROM events GROUP BY 1, 2
)
SELECT event_type, day,
       quantile_disc(x, 0.5) OVER (PARTITION BY event_type ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
FROM daily ORDER BY event_type, day
""",
    doc="7-day rolling DISCRETE median of daily totals per event type "
    "(robust smoother — the outlier-resistant twin of win_moving_sum). "
    " Spark has no median window function, so the frame's <= 7 values "
    "ride a collect_list window (bounded by the frame, not the data) "
    "and the lower-middle element is picked to match quantile_disc.  "
    "Daily totals round 4dp BEFORE the median so the picked value is "
    "identical on both engines.  Window partitions by type, frames "
    "over the date domain",
)
def ts_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    vals = F.sort_array(F.collect_list("x").over(w))
    return daily.select(
        "event_type",
        "day",
        F.element_at(
            vals, F.ceil(F.size(vals) / 2.0).cast("int")
        ).alias("med7"),
    ).orderBy("event_type", "day")


@register(
    "win_gaps_islands_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT o_custkey,
         datediff('day', DATE '1990-01-01',
                  CAST(date_trunc('day', o_orderdate) AS DATE)) AS dn
  FROM orders
),
islands AS (
  SELECT o_custkey,
         dn - row_number() OVER (PARTITION BY o_custkey ORDER BY dn)
           AS grp
  FROM days
),
streaks AS (
  SELECT CAST(count(*) AS BIGINT) AS streak_len
  FROM islands GROUP BY o_custkey, grp
)
SELECT streak_len, CAST(count(*) AS BIGINT) AS n_islands
FROM streaks GROUP BY streak_len ORDER BY streak_len
""",
    doc="gaps-and-islands: consecutive-order-day streaks per customer "
    "(the classic sessionization-without-timestamps idiom — the "
    "day-number-minus-row-number constant identifies each island), "
    "then the global streak-length distribution.  All windows "
    "partition by customer; day numbers are integer day diffs from a "
    "fixed epoch so both engines group on exact integers",
)
def win_gaps_islands_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    days = orders.select(
        "o_custkey",
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")).cast("date"),
            F.lit("1990-01-01").cast("date"),
        ).alias("dn"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("dn")
    islands = days.select(
        "o_custkey", (F.col("dn") - F.row_number().over(w)).alias("grp")
    )
    streaks = islands.groupBy("o_custkey", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("streak_len")
    )
    return (
        streaks.groupBy("streak_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n_islands"))
        .orderBy("streak_len")
    )


# --------------------------------------------- model-adjacent operators

_KF_HASH_SPARK = (
    "cast(conv(substr(md5(cast(c_custkey as string)), 1, 15), 16, 10)"
    " as bigint)"
)
_KF_HASH_DUCK = (
    "CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)


@register(
    "ml_kfold_assign",
    oracle=f"""
SELECT {_KF_HASH_DUCK} % 5 AS fold,
       CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 1.0 /
             (SELECT count(*) FROM customer), 6) AS share,
       round(avg(c_acctbal), 2) AS avg_acctbal
FROM customer GROUP BY fold ORDER BY fold
""",
    doc="deterministic k-fold cross-validation assignment (k=5) via "
    "the md5-hash-bucket idiom shared with ml_stratified_sample_det: "
    "reproducible across engines, runs and cluster sizes — no rand(), "
    "no per-partition state, the property a CV split must have to be "
    "auditable.  The oracle recomputes membership row-by-row so the "
    "folds themselves are hash-checked, and per-fold balance stats "
    "prove the hash spreads",
)
def ml_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    per = (
        cust.select(
            (F.expr(_KF_HASH_SPARK) % 5).alias("fold"), "c_acctbal"
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
        )
    )
    tot = per.agg(F.sum("n").alias("nn"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("nn"), 6).alias("share"),
            "avg_acctbal",
        )
        .orderBy("fold")
    )


@register(
    "ml_linreg_normal_eq",
    oracle="""
WITH s AS (
  SELECT count(*) * 1.0 AS n,
         sum(l_quantity) AS sx1, sum(l_discount) AS sx2,
         sum(l_extendedprice) AS sy,
         sum(l_quantity * l_quantity) AS sx1x1,
         sum(l_quantity * l_discount) AS sx1x2,
         sum(l_discount * l_discount) AS sx2x2,
         sum(l_quantity * l_extendedprice) AS sx1y,
         sum(l_discount * l_extendedprice) AS sx2y
  FROM lineitem
)
SELECT CAST(n AS BIGINT) AS n,
       round((sy * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
              - sx1 * (sx1y * sx2x2 - sx1x2 * sx2y)
              + sx2 * (sx1y * sx1x2 - sx1x1 * sx2y))
             / (n * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
                - sx1 * (sx1 * sx2x2 - sx1x2 * sx2)
                + sx2 * (sx1 * sx1x2 - sx1x1 * sx2)), 4) AS b0,
       round((n * (sx1y * sx2x2 - sx1x2 * sx2y)
              - sy * (sx1 * sx2x2 - sx1x2 * sx2)
              + sx2 * (sx1 * sx2y - sx1y * sx2))
             / (n * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
                - sx1 * (sx1 * sx2x2 - sx1x2 * sx2)
                + sx2 * (sx1 * sx1x2 - sx1x1 * sx2)), 4) AS b1,
       round((n * (sx1x1 * sx2y - sx1y * sx1x2)
              - sx1 * (sx1 * sx2y - sx1y * sx2)
              + sy * (sx1 * sx1x2 - sx1x1 * sx2))
             / (n * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
                - sx1 * (sx1 * sx2x2 - sx1x2 * sx2)
                + sx2 * (sx1 * sx1x2 - sx1x1 * sx2)), 4) AS b2
FROM s
""",
    doc="closed-form multiple linear regression (extendedprice ~ "
    "quantity + discount) via the 3x3 normal equations solved with "
    "Cramer's rule on NINE one-pass sums — the classic single-scan "
    "distributed OLS: the Gram matrix is a commutative-associative "
    "aggregate, the solve is driver-free scalar arithmetic on the "
    "aggregate row.  The same shape holds for any p with p^2 sums "
    "(emb_pca_top_component builds exactly that Gram for 64 dims).  "
    "Both engines evaluate the identical determinant expressions",
)
def ml_linreg_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.agg(
        (F.count(F.lit(1)) * 1.0).alias("n"),
        F.sum("l_quantity").alias("sx1"),
        F.sum("l_discount").alias("sx2"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("sx1x1"),
        F.sum(F.col("l_quantity") * F.col("l_discount")).alias("sx1x2"),
        F.sum(F.col("l_discount") * F.col("l_discount")).alias("sx2x2"),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sx1y"),
        F.sum(F.col("l_discount") * F.col("l_extendedprice")).alias("sx2y"),
    )
    det = (
        F.col("n") * (F.col("sx1x1") * F.col("sx2x2") - F.col("sx1x2") * F.col("sx1x2"))
        - F.col("sx1") * (F.col("sx1") * F.col("sx2x2") - F.col("sx1x2") * F.col("sx2"))
        + F.col("sx2") * (F.col("sx1") * F.col("sx1x2") - F.col("sx1x1") * F.col("sx2"))
    )
    det0 = (
        F.col("sy") * (F.col("sx1x1") * F.col("sx2x2") - F.col("sx1x2") * F.col("sx1x2"))
        - F.col("sx1") * (F.col("sx1y") * F.col("sx2x2") - F.col("sx1x2") * F.col("sx2y"))
        + F.col("sx2") * (F.col("sx1y") * F.col("sx1x2") - F.col("sx1x1") * F.col("sx2y"))
    )
    det1 = (
        F.col("n") * (F.col("sx1y") * F.col("sx2x2") - F.col("sx1x2") * F.col("sx2y"))
        - F.col("sy") * (F.col("sx1") * F.col("sx2x2") - F.col("sx1x2") * F.col("sx2"))
        + F.col("sx2") * (F.col("sx1") * F.col("sx2y") - F.col("sx1y") * F.col("sx2"))
    )
    det2 = (
        F.col("n") * (F.col("sx1x1") * F.col("sx2y") - F.col("sx1y") * F.col("sx1x2"))
        - F.col("sx1") * (F.col("sx1") * F.col("sx2y") - F.col("sx1y") * F.col("sx2"))
        + F.col("sy") * (F.col("sx1") * F.col("sx1x2") - F.col("sx1x1") * F.col("sx2"))
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(det0 / det, 4).alias("b0"),
        F.round(det1 / det, 4).alias("b1"),
        F.round(det2 / det, 4).alias("b2"),
    )


_NB_HASH_SPARK = (
    "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10)"
    " as bigint)"
)
_NB_HASH_DUCK = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)


@register(
    "ml_naive_bayes_score",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS a,
         {_NB_HASH_DUCK} % 100 < 80 AS is_train
  FROM documents
),
train_tok AS (
  SELECT lang, unnest(a) AS w FROM base WHERE is_train
),
cnt AS (SELECT lang, w, count(*) AS c FROM train_tok GROUP BY 1, 2),
lang_tot AS (SELECT lang, sum(c) AS tot FROM cnt GROUP BY lang),
vocab AS (SELECT count(DISTINCT w) AS v FROM train_tok),
prior AS (
  SELECT lang, ln(count(*) * 1.0 /
           (SELECT count(*) FROM base WHERE is_train)) AS lp
  FROM base WHERE is_train GROUP BY lang
),
test_tok AS (
  SELECT doc_id, lang AS actual, unnest(a) AS w FROM base WHERE NOT is_train
),
scored AS (
  SELECT t.doc_id, t.actual, p.lang,
         p.lp + sum(ln((coalesce(c.c, 0) + 1.0) / (lt.tot + vocab.v)))
           AS score
  FROM test_tok t
  JOIN prior p ON TRUE
  JOIN lang_tot lt ON lt.lang = p.lang
  JOIN vocab ON TRUE
  LEFT JOIN cnt c ON c.lang = p.lang AND c.w = t.w
  GROUP BY t.doc_id, t.actual, p.lang, p.lp
),
pred AS (
  SELECT doc_id, actual, lang AS predicted
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, lang) = 1
)
SELECT actual,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(count(*) FILTER (WHERE predicted = actual) AS BIGINT)
         AS n_correct
FROM pred GROUP BY actual ORDER BY actual
""",
    doc="multinomial naive Bayes language classifier, trained and "
    "scored entirely as joins/aggregates: Laplace-smoothed token "
    "log-likelihoods from the 80pct hash-split train partition, test "
    "docs scored by summing per-token log-probs per candidate lang "
    "(tokens x |langs| rows — the candidate set is the bounded "
    "fan-out), argmax via a per-doc rank.  Unseen tokens take the "
    "smoothing floor through the LEFT-join coalesce.  This is the "
    "classic MapReduce NB formulation: model = two aggregate tables, "
    "scoring = one broadcast join, nothing iterative",
)
def ml_naive_bayes_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("a"),
        (F.expr(_NB_HASH_SPARK) % 100 < 80).alias("is_train"),
    )
    train_tok = (
        docs.filter("is_train")
        .select("lang", F.explode("a").alias("w"))
    )
    cnt = train_tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    lang_tot = cnt.groupBy("lang").agg(F.sum("c").alias("tot"))
    vocab = train_tok.agg(F.count_distinct("w").alias("v"))
    n_train = docs.filter("is_train").count()
    prior = (
        docs.filter("is_train")
        .groupBy("lang")
        .agg(F.log(F.count(F.lit(1)) / F.lit(float(n_train))).alias("lp"))
    )
    test_tok = (
        docs.filter(~F.col("is_train"))
        .select("doc_id", F.col("lang").alias("actual"), F.explode("a").alias("w"))
    )
    cand = (
        test_tok.crossJoin(F.broadcast(prior))
        .join(F.broadcast(cnt), ["lang", "w"], "left")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(vocab))
    )
    scored = cand.groupBy("doc_id", "actual", "lang", "lp").agg(
        F.sum(
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("tot") + F.col("v"))
            )
        ).alias("ll")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.col("lp") + F.col("ll")), "lang"
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "actual", F.col("lang").alias("predicted"))
    )
    return (
        pred.groupBy("actual")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.count(F.when(F.col("predicted") == F.col("actual"), 1))
            .cast("long")
            .alias("n_correct"),
        )
        .orderBy("actual")
    )


# --------------------------------------------- lexical statistics


@register(
    "text_zipf_fit",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
),
cnt AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
top AS (
  SELECT w, n FROM cnt ORDER BY n DESC, w LIMIT 1000
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, w) AS r FROM top
)
SELECT CAST(count(*) AS BIGINT) AS n_types,
       round(regr_slope(ln(n), ln(r)), 6) AS zipf_slope,
       round(regr_intercept(ln(n), ln(r)), 6) AS zipf_intercept,
       round(regr_r2(ln(n), ln(r)), 6) AS r2
FROM ranked
""",
    doc="Zipf's-law fit of the corpus token rank-frequency curve: "
    "log-log OLS slope over the top-1000 tokens (a natural corpus "
    "sanity metric for LLM data — heavily boilerplated corpora bend "
    "the curve).  Token counting is the data-scale part (one "
    "explode + groupBy); top-1000 goes through TakeOrdered, and the "
    "rank window runs on the LIMIT-1000 survivors only (plan-audit "
    "allowlisted for exactly that reason).  regr_* aggregates are "
    "one-pass on both engines",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = cnt.orderBy(F.desc("n"), "w").limit(1000)
    wr = Window.orderBy(F.desc("n"), "w")
    ranked = top.select(
        "n", F.row_number().over(wr).alias("r")
    )
    ln_n, ln_r = F.log(F.col("n")), F.log(F.col("r"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(F.regr_slope(ln_n, ln_r), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_n, ln_r), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(ln_n, ln_r), 6).alias("r2"),
    )


@register(
    "text_ttr_lexical_diversity",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
),
cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(count(*) * 1.0 / sum(c), 6) AS ttr,
       round(count(*) FILTER (WHERE c = 1) * 1.0 / count(*), 6)
         AS hapax_share
FROM cnt GROUP BY source ORDER BY source
""",
    doc="lexical-diversity profile per source: type-token ratio and "
    "hapax-legomena share (the vocabulary-richness screens used in "
    "corpus quality filtering, complementing the Gopher-style "
    "repetition checks).  Two hash aggregates — (source, token) "
    "counts, then per-source rollup; integer ratios so the 6dp round "
    "is stable everywhere",
)
def text_ttr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("ttr"),
            F.round(
                F.count(F.when(F.col("c") == 1, 1))
                / F.count(F.lit(1)),
                6,
            ).alias("hapax_share"),
        )
        .orderBy("source")
    )


# --------------------------------------------- graph metrics


@register(
    "graph_triangle_count_trade",
    oracle="""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS u,
                  greatest(c.c_nationkey, s.s_nationkey) AS v
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
tri AS (
  SELECT count(*) AS t
  FROM pairs e1
  JOIN pairs e2 ON e2.u = e1.v
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT CAST(count(DISTINCT x) AS BIGINT) FROM (
          SELECT u AS x FROM pairs UNION SELECT v FROM pairs))
         AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
       (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles
""",
    doc="triangle counting on the nation trade graph (nations linked "
    "when a customer of one buys from a supplier of the other): the "
    "edge DERIVATION is the data-scale part — a 4-way fact join "
    "reduced to distinct nation pairs before any graph work.  The "
    "count joins ordered edges (u<v) so each triangle is counted "
    "once at its smallest vertex: this is the orientation trick that "
    "keeps distributed triangle counting near-linear in edges — on "
    "an unbounded node domain you'd orient by (degree, id) instead "
    "of raw id so hub vertices don't own quadratic wedge sets, but "
    "the join SHAPE (edges⋈edges⋈edges, all equi) is unchanged",
)
def graph_triangle_count_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # 3 consumers; edge set is tiny
    )
    e2 = pairs.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = pairs.select(F.col("u").alias("a2"), F.col("v").alias("c2"))
    # the edge set is bounded by the nation-pair domain (<= 300 rows):
    # broadcast both join legs so the triangle enumeration is
    # shuffle-free; on an unbounded graph these become shuffled
    # equi-joins partitioned by the shared endpoint
    tri = (
        pairs.join(F.broadcast(e2), F.col("v") == F.col("b"))
        .join(
            F.broadcast(e3),
            (F.col("u") == F.col("a2")) & (F.col("c") == F.col("c2")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    nodes = (
        pairs.select(F.col("u").alias("x"))
        .union(pairs.select("v"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes.crossJoin(edges)
        .crossJoin(tri)
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("t").cast("long").alias("n_triangles"),
        )
    )


@register(
    "graph_common_neighbors",
    oracle="""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS u,
                  greatest(c.c_nationkey, s.s_nationkey) AS v
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
adj AS MATERIALIZED (
  SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v, u FROM pairs
),
deg AS (SELECT a, count(*) AS d FROM adj GROUP BY a),
common AS (
  SELECT x.a AS u, y.a AS v, count(*) AS cn
  FROM adj x JOIN adj y ON x.b = y.b AND x.a < y.a
  GROUP BY x.a, y.a
)
SELECT common.u, common.v, CAST(cn AS BIGINT) AS n_common,
       round(cn * 1.0 / (du.d + dv.d - cn), 6) AS jaccard
FROM common
JOIN deg du ON du.a = common.u
JOIN deg dv ON dv.a = common.v
ORDER BY jaccard DESC, u, v LIMIT 20
""",
    doc="neighborhood similarity (common-neighbor count + Jaccard) "
    "over the nation trade graph — the link-prediction primitive: "
    "wedges come from ONE self-equi-join of the adjacency list on "
    "the shared endpoint, degrees from one aggregate.  At unbounded "
    "scale the wedge join is bounded by sum(deg^2), which is what "
    "hub-capping controls (the same hot-bucket discipline as the "
    "dedup LSH joins); every pair with a common neighbor appears "
    "naturally — no V^2 enumeration",
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    adj = pairs.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        pairs.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    x = adj
    y = adj.select(F.col("a").alias("a2"), F.col("b").alias("b2"))
    common = (
        x.join(y, (F.col("b") == F.col("b2")) & (F.col("a") < F.col("a2")))
        .groupBy(F.col("a").alias("u"), F.col("a2").alias("v"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    du = deg.select(F.col("a").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("a").alias("v"), F.col("d").alias("dv"))
    return (
        common.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            F.col("cn").cast("long").alias("n_common"),
            F.round(
                F.col("cn") / (F.col("du") + F.col("dv") - F.col("cn")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u", "v")
        .limit(20)
    )


# --------------------------------------------- bloom-prefilter join

_BLOOM_M = 65536


def _bloom_pos_spark(key: str, i: int) -> "F.Column":
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.col(key).cast("string"), F.lit(str(i)))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .__mod__(_BLOOM_M)
    )


@register(
    "join_bloom_prefilter",
    oracle="""
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'BUILDING')
GROUP BY 1 ORDER BY month
""",
    doc="Bloom-filter join pruning, built explicitly from relational "
    "ops (the hand-rolled version of Spark's AQE runtime filter): "
    "the BUILDING-customer keys hash into k=3 positions of a 65536-"
    "bit filter (a <=65536-row broadcast set — sized by the >=10-"
    "bits-per-expected-key rule in SCALING.md: 8192 bits at ~4.5k "
    "keys x3 hashes measured +118pct false positives), orders keep only rows "
    "whose 3 probe positions ALL hit, and the surviving ~segment-"
    "share of orders flows into the exact semi-join.  The oracle is "
    "the PLAIN join — identical answer proves the prefilter admits "
    "false positives only (removed by the exact join) and never "
    "drops a true match.  At 100 TB this is the shape that cuts the "
    "fact-side shuffle by the filter's selectivity before any join "
    "runs",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    bits = (
        cust.select(
            F.explode(
                F.array(
                    *[_bloom_pos_spark("c_custkey", i) for i in range(3)]
                )
            ).alias("pos")
        )
        .distinct()
        .localCheckpoint(eager=False)  # <=65536 rows, feeds 3 probes
    )
    probe = orders
    for i in range(3):
        probe = probe.join(
            F.broadcast(bits),
            _bloom_pos_spark("o_custkey", i) == F.col("pos"),
            "left_semi",
        )
    exact = probe.join(
        F.broadcast(cust.select("c_custkey")),
        probe.o_custkey == F.col("c_custkey"),
        "left_semi",
    )
    return (
        exact.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("month")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("month")
    )


# --------------------------------------------- positional phrase search


@register(
    "search_phrase_match",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS a
  FROM documents
),
hits AS (
  SELECT doc_id, count(*) AS n_occurrences
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(a), 1))) AS i)
  WHERE a[i] = 'big' AND a[i+1] = 'join'
  GROUP BY doc_id
)
SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM hits ORDER BY n_occurrences DESC, doc_id LIMIT 20
""",
    doc="positional phrase search ('big join'): the adjacency check "
    "runs on a positional posting list — token + position from one "
    "explode, phrase hit = same doc, consecutive positions.  This is "
    "the inverted-index-with-positions primitive under every phrase/"
    "proximity query; the Spark side joins the two terms' posting "
    "lists on (doc, pos+1), so the cost is |postings(t1)| + "
    "|postings(t2)|, never a text rescan.  Top-20 docs by occurrence",
)
def search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    post = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("pos", "w"),
    )
    t1 = post.filter(F.col("w") == "big").select("doc_id", "pos")
    t2 = post.filter(F.col("w") == "join").select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
    )
    hits = t1.join(
        t2,
        (F.col("doc_id") == F.col("d2")) & (F.col("p2") == F.col("pos") + 1),
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "doc_id")
        .limit(20)
    )


# --------------------------------------------- geo nearest-neighbor

# deterministic synthetic coordinates: the fixture has no geo columns,
# so both engines derive (lat, lon) from the same md5 of the entity key
# — reproducible, uniform, and hash-checkable row by row
_LAT_SPARK = (
    "(cast(conv(substr(md5(concat(cast({k} as string), '#lat')), 1, 15),"
    " 16, 10) as bigint) % 18000) / 100.0 - 90"
)
_LON_SPARK = (
    "(cast(conv(substr(md5(concat(cast({k} as string), '#lon')), 1, 15),"
    " 16, 10) as bigint) % 36000) / 100.0 - 180"
)
_LAT_DUCK = (
    "(CAST(concat('0x', substr(md5(CAST({k} AS VARCHAR) || '#lat'), 1, 15))"
    " AS BIGINT) % 18000) / 100.0 - 90"
)
_LON_DUCK = (
    "(CAST(concat('0x', substr(md5(CAST({k} AS VARCHAR) || '#lon'), 1, 15))"
    " AS BIGINT) % 36000) / 100.0 - 180"
)


@register(
    "geo_haversine_nearest",
    oracle=f"""
WITH s AS (
  SELECT s_suppkey, s_nationkey,
         radians({_LAT_DUCK.format(k='s_suppkey')}) AS la1,
         radians({_LON_DUCK.format(k='s_suppkey')}) AS lo1
  FROM supplier
),
c AS (
  SELECT c_custkey, c_nationkey,
         radians({_LAT_DUCK.format(k='c_custkey')}) AS la2,
         radians({_LON_DUCK.format(k='c_custkey')}) AS lo2
  FROM customer
),
dists AS (
  -- round to 6dp BEFORE ranking (cosine-ranking discipline): raw
  -- asin/sin/cos differ by ulps across libm builds, which could flip
  -- the argmin for near-equidistant customers
  SELECT s_suppkey, c_custkey,
         round(2 * 6371.0 * asin(sqrt(
           pow(sin((la2 - la1) / 2), 2)
           + cos(la1) * cos(la2) * pow(sin((lo2 - lo1) / 2), 2)
         )), 6) AS dist
  FROM s JOIN c ON s.s_nationkey = c.c_nationkey
)
SELECT s_suppkey, c_custkey AS nearest_custkey,
       round(dist, 2) AS dist_km
FROM dists
QUALIFY row_number() OVER (PARTITION BY s_suppkey
                           ORDER BY dist, c_custkey) = 1
ORDER BY s_suppkey
""",
    doc="nearest-neighbor geo join: each supplier's closest customer "
    "in its nation by haversine distance over deterministic md5-"
    "derived coordinates.  The nation equi-key blocks the pair space "
    "(the TEST-SCALE baseline — geo_cell_nearest is the production "
    "twin that blocks by grid cell + 3x3 neighbor ring, bounding "
    "per-block pair volume by spatial density instead of letting it "
    "grow with the data), haversine is pure JVM arithmetic, and the "
    "per-supplier argmin is a min(struct) aggregate over 6dp-rounded "
    "distances — no window over the pair stream",
)
def geo_haversine_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the broadcast-join fan-out evaluates ~600 trig exprs per
    # supplier row on the probe side — CPU-bound map work that ran on
    # the single-row-group scan's one task (round-12; distances are
    # 6dp-rounded before the argmin, so partitioning moves no bit)
    supp = load_table(spark, sf_dir, "supplier", spread=True).selectExpr(
        "s_suppkey",
        "s_nationkey",
        f"radians({_LAT_SPARK.format(k='s_suppkey')}) la1",
        f"radians({_LON_SPARK.format(k='s_suppkey')}) lo1",
    )
    cust = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "c_nationkey",
        f"radians({_LAT_SPARK.format(k='c_custkey')}) la2",
        f"radians({_LON_SPARK.format(k='c_custkey')}) lo2",
    )
    # 6dp-rounded before the argmin so cross-engine libm ulp drift
    # can't flip nearest_custkey on near-equidistant customers
    dist = F.round(
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin((F.col("la2") - F.col("la1")) / 2), 2)
                + F.cos("la1")
                * F.cos("la2")
                * F.pow(F.sin((F.col("lo2") - F.col("lo1")) / 2), 2)
            )
        ),
        6,
    )
    pairs = supp.join(
        cust, F.col("s_nationkey") == F.col("c_nationkey")
    ).select("s_suppkey", "c_custkey", dist.alias("dist"))
    best = (
        pairs.groupBy("s_suppkey")
        .agg(F.min(F.struct("dist", "c_custkey")).alias("b"))
        .select(
            "s_suppkey",
            F.col("b.c_custkey").alias("nearest_custkey"),
            F.round(F.col("b.dist"), 2).alias("dist_km"),
        )
    )
    return best.orderBy("s_suppkey")


# --------------------------------------------- RAKE keyword extraction

_RAKE_STOP = (
    "'a', 'the', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with'"
)


@register(
    "text_rake_keywords",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS a
  FROM documents
),
pos AS (
  SELECT doc_id, i AS p, a[i] AS w
  FROM toks, LATERAL (SELECT unnest(range(1, len(a) + 1)) AS i)
),
content AS (
  SELECT doc_id, p, w FROM pos WHERE w NOT IN ({_RAKE_STOP})
),
islands AS (
  SELECT doc_id, w,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM content
),
phrases AS (
  SELECT doc_id, grp, count(*) AS plen FROM islands GROUP BY 1, 2
),
word_stats AS (
  SELECT i.w,
         count(*) AS freq,
         sum(ph.plen) AS degree
  FROM islands i
  JOIN phrases ph ON ph.doc_id = i.doc_id AND ph.grp = i.grp
  GROUP BY i.w
)
SELECT w AS keyword, CAST(freq AS BIGINT) AS freq,
       CAST(degree AS BIGINT) AS degree,
       round(degree * 1.0 / freq, 4) AS rake_score
FROM word_stats
ORDER BY rake_score DESC, keyword LIMIT 20
""",
    doc="RAKE keyword extraction (Rose et al.): candidate phrases are "
    "maximal stopword-free token runs — found with the gaps-and-"
    "islands idiom on token positions instead of regex splitting, so "
    "both engines segment identically — and each word scores "
    "degree/frequency where degree sums the lengths of phrases "
    "containing it.  Windows partition by doc; phrase stats join "
    "back on (doc, island) — all equi-joins on the exploded token "
    "stream, no text re-parsing",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stop = [s.strip().strip("'") for s in _RAKE_STOP.split(",")]
    pos = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("p0", "w"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    content = pos.filter(~F.col("w").isin(stop))
    wi = Window.partitionBy("doc_id").orderBy("p")
    islands = content.select(
        "doc_id", "w", (F.col("p") - F.row_number().over(wi)).alias("grp")
    )
    phrases = islands.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("plen")
    )
    stats = (
        islands.join(phrases, ["doc_id", "grp"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
    )
    return (
        stats.select(
            F.col("w").alias("keyword"),
            F.col("freq").cast("long").alias("freq"),
            F.col("degree").cast("long").alias("degree"),
            F.round(F.col("degree") / F.col("freq"), 4).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "keyword")
        .limit(20)
    )


# --------------------------------------------- round-5 second wave


@register(
    "ts_holt_linear",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         sum(value) AS x
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
holt AS (
  SELECT event_type, i, n, x AS l, CAST(0.0 AS DOUBLE) AS b
  FROM seq WHERE i = 1
  UNION ALL
  SELECT h.event_type, s.i, h.n,
         0.5 * s.x + 0.5 * (h.l + h.b),
         0.3 * ((0.5 * s.x + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b
  FROM holt h JOIN seq s
    ON s.event_type = h.event_type AND s.i = h.i + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       round(l, 4) AS level, round(b, 4) AS trend,
       round(l + 7 * b, 4) AS forecast_7d
FROM holt WHERE i = n ORDER BY event_type
""",
    doc="Holt double exponential smoothing (level alpha=0.5, trend "
    "beta=0.3) over each type's daily series, plus the 7-day-ahead "
    "linear forecast — the trend-aware sibling of ts_ewma_smooth.  "
    "Spark runs the recursion as a sequential struct fold "
    "(aggregate with a (level, trend) accumulator); the oracle "
    "unrolls it with a recursive CTE because DuckDB 1.0's "
    "struct-valued list_reduce lambda mis-binds a field that "
    "references acc across fields (verified minimally: "
    "(acc,e) -> {l: f(acc,e), b: acc.l} yields b == l).  Identical "
    "evaluation order either way, 4dp round on both sides",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum("value").alias("x"))
    fold = (
        "aggregate("
        " slice(transform(array_sort(collect_list(struct(day, x))),"
        "       e -> e.x), 2, 100000),"
        " named_struct('l', cast(transform(array_sort(collect_list("
        "   struct(day, x))), e -> e.x)[0] as double),"
        "   'b', cast(0.0 as double)),"
        " (acc, x) -> named_struct("
        "   'l', 0.5 * x + 0.5 * (acc.l + acc.b),"
        "   'b', 0.3 * ((0.5 * x + 0.5 * (acc.l + acc.b)) - acc.l)"
        "        + 0.7 * acc.b))"
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.expr(f"round({fold}.l, 4)").alias("level"),
            F.expr(f"round({fold}.b, 4)").alias("trend"),
            F.expr(f"round({fold}.l + 7 * {fold}.b, 4)").alias(
                "forecast_7d"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "stats_mann_whitney_u",
    oracle="""
WITH vals AS (
  SELECT value,
         count(*) FILTER (WHERE event_type = 'view') AS d1,
         count(*) FILTER (WHERE event_type = 'purchase') AS d2
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY value
),
cum AS (
  SELECT d1, d2,
         sum(d1 + d2) OVER (ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (d1 + d2) AS before_all
  FROM vals
),
tot AS (
  SELECT CAST(sum(d1) AS BIGINT) AS n1, CAST(sum(d2) AS BIGINT) AS n2
  FROM vals
),
r1 AS (
  SELECT sum(d1 * (before_all + (d1 + d2 + 1) / 2.0)) AS rank_sum1
  FROM cum
)
SELECT tot.n1, tot.n2,
       round(r1.rank_sum1 - tot.n1 * (tot.n1 + 1) / 2.0, 1) AS u1,
       round((r1.rank_sum1 - tot.n1 * (tot.n1 + 1) / 2.0
              - tot.n1 * tot.n2 / 2.0)
             / sqrt(tot.n1 * tot.n2 * (tot.n1 + tot.n2 + 1) / 12.0),
             4) AS z
FROM r1, tot
""",
    doc="Mann-Whitney U rank-sum test ('view' vs 'purchase' values) "
    "with midrank tie handling: per-value group counts, the "
    "before-rank from ONE prefix sum over the value order (via "
    "global_prefix_sum — same two-level shape as the KS statistic), "
    "midrank = before + (ties+1)/2, then U and the normal-"
    "approximation z (no tie-correction term, stated contract).  "
    "Everything before the final division is exact integer "
    "arithmetic, so both engines agree bit-for-bit",
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    vals = ev.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("d1"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("d2"),
    )
    packed = vals.select(
        "value", "d1", "d2", (F.col("d1") + F.col("d2")).alias("dt")
    )
    ps, _total, _n = global_prefix_sum(
        packed, [F.col("value")], "dt", out_col="ca"
    )
    cum = ps.select(
        "d1", "d2", (F.col("ca") - F.col("dt")).alias("before_all")
    )
    # Round-12: n1/n2 fold into the SAME aggregate over the operator's
    # checkpointed output — the old tot re-ran the events filter +
    # groupBy a second time for two longs (guide §1.2).  Summing d1/d2
    # over the checkpoint is the identical integer sum.
    j = cum.agg(
        F.sum(
            F.col("d1")
            * (F.col("before_all") + (F.col("d1") + F.col("d2") + 1) / 2.0)
        ).alias("rank_sum1"),
        F.sum("d1").cast("long").alias("n1"),
        F.sum("d2").cast("long").alias("n2"),
    )
    u1 = F.col("rank_sum1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    return j.select(
        "n1",
        "n2",
        F.round(u1, 1).alias("u1"),
        F.round(
            (u1 - F.col("n1") * F.col("n2") / 2.0)
            / F.sqrt(
                F.col("n1")
                * F.col("n2")
                * (F.col("n1") + F.col("n2") + 1)
                / 12.0
            ),
            4,
        ).alias("z"),
    )


@register(
    "agg_weighted_median",
    oracle="""
WITH by_val AS (
  SELECT l_extendedprice AS v,
         CAST(sum(round(l_quantity)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT v, sum(w) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM by_val
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM by_val)
SELECT round(min(v), 2) AS weighted_median, tot.tw AS total_weight
FROM cum, tot WHERE cw * 2 >= tot.tw GROUP BY tot.tw
""",
    doc="weighted median (extendedprice weighted by quantity): the "
    "smallest value whose cumulative weight reaches half the total — "
    "per-value weight aggregate, ONE two-level prefix sum over the "
    "value order (global_prefix_sum), then a filter+min instead of "
    "any ordered scan.  Quantities are integral, so the crossing "
    "test (2*cum >= total) is exact integer arithmetic on both "
    "engines",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    by_val = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.round("l_quantity")).cast("long").alias("w")
    )
    # total weight rides the prefix-sum offsets collect (round-12):
    # the old tot = by_val.agg(...) re-ran the whole lineitem groupBy
    # a second time for one long the operator had already summed
    cum, tw, _n = global_prefix_sum(
        by_val, [F.col("v")], "w", out_col="cw"
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.lit(tw).cast("long"))
        .groupBy(F.lit(tw).cast("long").alias("total_weight"))
        .agg(F.round(F.min("v"), 2).alias("weighted_median"))
        .select("weighted_median", "total_weight")
    )


@register(
    "ml_decision_stump",
    oracle="""
WITH pts AS (
  SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS bucket,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
bk AS (
  SELECT bucket, count(*) AS n, sum(y) AS pos FROM pts GROUP BY bucket
),
cum AS (
  SELECT bucket,
         sum(n) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
         sum(pos) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl
  FROM bk
),
tot AS (SELECT sum(n) AS nt, sum(pos) AS pt FROM bk),
splits AS (
  SELECT bucket, nl, pl, tot.nt - nl AS nr, tot.pt - pl AS pr
  FROM cum, tot WHERE nl > 0 AND tot.nt - nl > 0
),
gini AS (
  SELECT bucket,
         round((nl * (2.0 * pl / nl * (1 - 1.0 * pl / nl))
                + nr * (2.0 * pr / nr * (1 - 1.0 * pr / nr)))
               / (nl + nr), 6) AS g,
         CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right
  FROM splits
)
SELECT CAST((bucket + 1) * 1000 AS DOUBLE) AS best_threshold,
       g AS gini, n_left, n_right
FROM gini ORDER BY g, bucket LIMIT 1
""",
    doc="decision-stump training (best binary split of totalprice "
    "predicting status='F' by weighted Gini): thresholds come from a "
    "1000-wide value bucketing (bounded candidate grid — the "
    "histogram trick every distributed GBDT uses), left/right class "
    "counts from ONE prefix sum over the bucket order "
    "(global_prefix_sum), argmin via TakeOrdered.  Counts are exact "
    "integers; only the final Gini is floating point, rounded 6dp on "
    "identical expressions",
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("bucket"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    bk = pts.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    packed = bk.select(
        "bucket", "n", "pos",
        (F.col("n") * F.lit(2**32) + F.col("pos")).alias("c"),
    )
    # Round-12: (nt, pt) unpack from the operator's packed grand total
    # (sum(c) = nt*2^32 + pt, exact integers) — no second orders agg
    ps, packed_total, _n = global_prefix_sum(
        packed, [F.col("bucket")], "c", out_col="cc"
    )
    nt, pt = packed_total // 2**32, packed_total % 2**32
    cum = ps.select(
        "bucket",
        F.floor(F.col("cc") / F.lit(2**32)).alias("nl"),
        (F.col("cc") % F.lit(2**32)).alias("pl"),
    )
    splits = (
        cum.filter((F.col("nl") > 0) & (F.lit(nt) - F.col("nl") > 0))
        .select(
            "bucket",
            "nl",
            "pl",
            (F.lit(nt) - F.col("nl")).alias("nr"),
            (F.lit(pt) - F.col("pl")).alias("pr"),
        )
    )
    g = F.round(
        (
            F.col("nl")
            * (2.0 * F.col("pl") / F.col("nl") * (1 - 1.0 * F.col("pl") / F.col("nl")))
            + F.col("nr")
            * (2.0 * F.col("pr") / F.col("nr") * (1 - 1.0 * F.col("pr") / F.col("nr")))
        )
        / (F.col("nl") + F.col("nr")),
        6,
    )
    return (
        splits.select(
            ((F.col("bucket") + 1) * 1000).cast("double").alias(
                "best_threshold"
            ),
            g.alias("gini"),
            F.col("nl").cast("long").alias("n_left"),
            F.col("nr").cast("long").alias("n_right"),
            F.col("bucket").alias("__b"),
        )
        .orderBy("gini", "__b")
        .limit(1)
        .drop("__b")
    )


@register(
    "ts_seasonal_dow_profile",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         sum(value) AS x
  FROM events GROUP BY 1, 2
),
dows AS (
  -- DuckDB dayofweek is 0=Sunday, Spark's is 1=Sunday: align here
  SELECT event_type, CAST(dayofweek(day) + 1 AS BIGINT) AS dow, x
  FROM daily
),
per AS (
  SELECT event_type, dow, count(*) AS n_days, avg(x) AS m
  FROM dows GROUP BY 1, 2
),
overall AS (SELECT event_type, avg(x) AS om FROM dows GROUP BY 1)
SELECT per.event_type, per.dow, CAST(per.n_days AS BIGINT) AS n_days,
       round(per.m / overall.om, 4) AS seasonal_index
FROM per JOIN overall ON per.event_type = overall.event_type
ORDER BY per.event_type, per.dow
""",
    doc="day-of-week seasonal profile per event type: the seasonal "
    "index (dow mean over overall mean of the daily series) — the "
    "decomposition step under weekly-seasonality dashboards and the "
    "denominator for deseasonalized anomaly scoring.  Two aggregates "
    "over the date-domain-bounded daily table; dayofweek() is "
    "1=Sunday on both engines",
)
def ts_seasonal_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum("value").alias("x"))
    dows = daily.select(
        "event_type", F.dayofweek("day").cast("long").alias("dow"), "x"
    )
    per = dows.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.avg("x").alias("m"),
    )
    overall = dows.groupBy("event_type").agg(F.avg("x").alias("om"))
    return (
        per.join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            "dow",
            "n_days",
            F.round(F.col("m") / F.col("om"), 4).alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )


@register(
    "privacy_l_diversity",
    oracle="""
WITH groups AS (
  SELECT c_nationkey, c_mktsegment,
         count(DISTINCT o_orderpriority) AS l
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT CAST(l AS BIGINT) AS l,
       CAST(count(*) AS BIGINT) AS n_groups,
       (SELECT CAST(min(l) AS BIGINT) FROM groups) AS min_l
FROM groups GROUP BY l ORDER BY l
""",
    doc="l-diversity audit (the sensitive-attribute companion to "
    "privacy_k_anonymity): per quasi-identifier group (nation x "
    "segment), the number of DISTINCT sensitive values "
    "(order priority) — a release is l-diverse iff min_l >= l.  One "
    "join + distinct aggregate; the distribution plus the min "
    "summarize the whole audit",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    groups = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count_distinct("o_orderpriority").alias("l"))
        .localCheckpoint(eager=False)  # 125-row table, 2 consumers
    )
    min_l = groups.agg(F.min("l").alias("min_l"))
    return (
        groups.groupBy(F.col("l").cast("long").alias("l"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
        .crossJoin(F.broadcast(min_l))
        .select("l", "n_groups", F.col("min_l").cast("long").alias("min_l"))
        .orderBy("l")
    )


@register(
    "win_pareto_80_20",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
cum AS (
  SELECT cents,
         sum(cents) OVER (ORDER BY cents DESC, o_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM rev
),
tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS tc,
         CAST(count(*) AS BIGINT) AS nc
  FROM rev
)
SELECT CAST(count(*) FILTER (WHERE (cc - cents) * 5 < tc * 4)
            AS BIGINT) AS n_top_customers,
       tot.nc AS n_customers,
       round(count(*) FILTER (WHERE (cc - cents) * 5 < tc * 4)
             * 1.0 / tot.nc, 6) AS customer_share
FROM cum, tot GROUP BY tot.nc
""",
    doc="Pareto 80/20 concentration: how many top customers (by "
    "revenue) cover 80pct of total revenue.  Revenue is summed in "
    "integer CENTS (2dp prices are exact there), the descending "
    "cumulative ride is global_prefix_sum (two-level, ordered by "
    "(-revenue, custkey)), and the crossing test (cum-before)*5 < "
    "total*4 is pure integer arithmetic — no float boundary can "
    "flip the count on either engine.  The count-below-threshold "
    "replaces any ordered scan for the crossing point",
)
def win_pareto_80_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("cents")
    )
    # Round-12: total cents and customer count ride the prefix-sum
    # offsets collect — the old tot re-aggregated the orders groupBy
    cum, tc, nc = global_prefix_sum(
        rev,
        [F.desc("cents"), F.col("o_custkey")],
        "cents",
        out_col="cc",
    )
    hit = (F.col("cc") - F.col("cents")) * 5 < F.lit(tc).cast("long") * 4
    return (
        cum.groupBy(F.lit(nc).cast("long").alias("nc"))
        .agg(
            F.count(F.when(hit, 1)).cast("long").alias("n_top_customers"),
            F.round(
                F.count(F.when(hit, 1)) / F.lit(nc).cast("double"), 6
            ).alias("customer_share"),
        )
        .select(
            "n_top_customers",
            F.col("nc").alias("n_customers"),
            "customer_share",
        )
    )


# --------------------------------------------- round-6 queue


@register(
    "emb_dim_truncation_recall",
    oracle="""
WITH full_rank AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id,
           round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6)
             AS sim
    FROM embeddings v
    CROSS JOIN (SELECT * FROM embeddings WHERE vec_id IN (0, 1, 2)) q
  )
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY sim DESC, vec_id) <= 10
),
trunc_rank AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id,
           round(list_cosine_similarity(
             CAST(v.embedding[1:16] AS DOUBLE[]),
             CAST(q.embedding[1:16] AS DOUBLE[])), 6) AS sim
    FROM embeddings v
    CROSS JOIN (SELECT * FROM embeddings WHERE vec_id IN (0, 1, 2)) q
  )
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY sim DESC, vec_id) <= 10
)
SELECT f.query_id,
       CAST(count(t.vec_id) AS BIGINT) AS n_overlap,
       round(count(t.vec_id) / 10.0, 2) AS recall_at_10
FROM full_rank f
LEFT JOIN trunc_rank t
  ON t.query_id = f.query_id AND t.vec_id = f.vec_id
GROUP BY f.query_id ORDER BY f.query_id
""",
    doc="Matryoshka-style dimension-truncation evaluation: exact "
    "cosine top-10 with the full 64 dims vs the first 16 dims only, "
    "recall@10 of the truncated index against the full one — the "
    "measurement that decides whether a shortened embedding prefix "
    "can serve the first-stage retrieval at a fraction of the "
    "bandwidth.  Both rankings are brute-force scored with broadcast "
    "queries (one scan each), ranks tie-break on vec_id after the "
    "6dp round so both engines pick identical top sets",
)
def emb_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )

    # ONE scan scores both metrics; the two rank windows share the
    # single query_id shuffle, and the overlap is a same-row AND of
    # the two ranks (each (query, vec) row carries both)
    scored = emb.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("e"), F.col("qe")), 6).alias("sf"),
        F.round(
            cosine(F.slice(F.col("e"), 1, 16), F.slice(F.col("qe"), 1, 16)),
            6,
        ).alias("st"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("sf"), "vec_id")
    wt = Window.partitionBy("query_id").orderBy(F.desc("st"), "vec_id")
    ranked = scored.select(
        "query_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    return (
        ranked.filter(F.col("rf") <= 10)
        .groupBy("query_id")
        .agg(
            F.count(F.when(F.col("rt") <= 10, 1))
            .cast("long")
            .alias("n_overlap"),
            F.round(F.count(F.when(F.col("rt") <= 10, 1)) / 10.0, 2).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


@register(
    "ml_feature_target_corr",
    oracle="""
WITH y AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
         l_quantity, l_extendedprice, l_discount, l_tax
  FROM lineitem
)
SELECT * FROM (
  SELECT 'l_quantity' AS feature, round(corr(l_quantity, y), 6) AS r FROM y
  UNION ALL
  SELECT 'l_extendedprice', round(corr(l_extendedprice, y), 6) FROM y
  UNION ALL
  SELECT 'l_discount', round(corr(l_discount, y), 6) FROM y
  UNION ALL
  SELECT 'l_tax', round(corr(l_tax, y), 6) FROM y
) ORDER BY feature
""",
    doc="feature screening by point-biserial correlation against the "
    "binary returned-flag target — the cheap first-pass filter before "
    "any model training; corr() is a one-pass commutative aggregate, "
    "and the four features ride ONE scan through an explode-free "
    "multi-aggregate (the oracle's UNION of scans collapses to the "
    "same numbers because corr is exact-symmetric)",
)
def ml_feature_target_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    aggs = [
        F.round(F.corr(F.col(c), y), 6).alias(c)
        for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    ]
    wide = li.agg(*aggs)
    return (
        wide.selectExpr(
            "stack(4, 'l_quantity', l_quantity, "
            "'l_extendedprice', l_extendedprice, "
            "'l_discount', l_discount, 'l_tax', l_tax) AS (feature, r)"
        )
        .orderBy("feature")
    )


@register(
    "dq_column_entropy_profile",
    oracle="""
WITH vals AS (
  SELECT col, v FROM (
    SELECT 'o_orderstatus' AS col, o_orderstatus AS v FROM orders
    UNION ALL
    SELECT 'o_orderpriority', o_orderpriority FROM orders
    UNION ALL
    SELECT 'order_month', CAST(month(o_orderdate) AS VARCHAR) FROM orders
  )
),
cnt AS (SELECT col, v, count(*) AS n FROM vals GROUP BY 1, 2),
tot AS (SELECT col, sum(n) AS nt, count(*) AS k FROM cnt GROUP BY col)
SELECT cnt.col,
       CAST(tot.k AS BIGINT) AS n_distinct,
       round(-sum((n * 1.0 / nt) * ln(n * 1.0 / nt)), 6) AS entropy,
       round(-sum((n * 1.0 / nt) * ln(n * 1.0 / nt)) / ln(tot.k), 6)
         AS norm_entropy
FROM cnt JOIN tot ON cnt.col = tot.col
GROUP BY cnt.col, tot.k ORDER BY cnt.col
""",
    doc="categorical-entropy data profile (order status / priority / "
    "month): Shannon entropy and its normalized form per column — the "
    "profiling signal that flags near-constant columns (norm_entropy "
    "-> 0) and uniform keys (-> 1).  One unpivoted scan, two hash "
    "aggregates; the entropy sum runs over <= |domain| rows per "
    "column",
)
def dq_column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    vals = orders.selectExpr(
        "stack(3, 'o_orderstatus', o_orderstatus, "
        "'o_orderpriority', o_orderpriority, "
        "'order_month', cast(month(o_orderdate) as string)) AS (col, v)"
    )
    cnt = vals.groupBy("col", "v").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("col").agg(
        F.sum("n").alias("nt"), F.count(F.lit(1)).alias("k")
    )
    p = F.col("n") / F.col("nt")
    return (
        cnt.join(F.broadcast(tot), "col")
        .groupBy("col", "k")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
        .select(
            "col",
            F.col("k").cast("long").alias("n_distinct"),
            "entropy",
            F.round(F.col("entropy") / F.log(F.col("k")), 6).alias(
                "norm_entropy"
            ),
        )
        .orderBy("col")
    )


@register(
    "agg_gini_revenue_concentration",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_custkey) AS i
  FROM rev
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
  FROM rev
)
SELECT tot.n AS n_customers,
       round((2.0 * sum(i * cents)) / (tot.n * 1.0 * tot.s)
             - (tot.n + 1.0) / tot.n, 6) AS gini
FROM ranked, tot GROUP BY tot.n, tot.s
""",
    doc="Gini coefficient of customer revenue concentration (the "
    "inequality summary behind win_pareto_80_20's crossing point): "
    "G = 2*sum(i*x_(i))/(n*sum x) - (n+1)/n over ascending-sorted "
    "revenue.  Ranks come from operators/topk.global_ordinal (range "
    "partition + per-partition row_number + broadcast offsets — no "
    "single-partition window), revenue is integer cents, and "
    "sum(i*cents) is an exact integer on both engines; only the "
    "final normalization is floating point",
)
def agg_gini_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.topk import global_ordinal

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("cents")
    )
    ranked, n = global_ordinal(
        rev, [F.col("cents"), F.col("o_custkey")], out_col="i"
    )
    tot = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("n", "s")
        .agg(F.sum(F.col("i") * F.col("cents")).alias("ixc"))
        .select(
            F.col("n").alias("n_customers"),
            F.round(
                (2.0 * F.col("ixc")) / (F.col("n") * 1.0 * F.col("s"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini"),
        )
    )


def _kcore_oracle(rounds: int = 8, k: int = 3) -> str:
    """Unrolled peeling rounds as MATERIALIZED CTEs (the BPE-oracle
    idiom — DuckDB re-inlines multiply-referenced CTEs otherwise)."""
    parts = [
        """WITH e0 AS MATERIALIZED (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS u,
                  greatest(c.c_nationkey, s.s_nationkey) AS v
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""keep{r} AS MATERIALIZED (
  SELECT a FROM (
    SELECT u AS a FROM e{p} UNION ALL SELECT v FROM e{p}
  ) GROUP BY a HAVING count(*) >= {k}
),
e{r} AS MATERIALIZED (
  SELECT u, v FROM e{p}
  WHERE u IN (SELECT a FROM keep{r}) AND v IN (SELECT a FROM keep{r})
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT u AS a FROM e{rounds} UNION SELECT v FROM e{rounds}))
         AS n_core_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e{rounds}) AS n_core_edges
"""
    )


@register(
    "graph_k_core_trade",
    oracle=_kcore_oracle(),
    doc="k-core decomposition (k=3, 8 fixed peel rounds) of the "
    "nation trade graph: repeatedly drop nodes with degree < k and "
    "their edges — the standard cohesion screen before community "
    "detection, and the same driver-coordinated iterate-and-"
    "localCheckpoint loop shape as PageRank/connected components "
    "(per round: one degree aggregate + one semi-join edge filter, "
    "both hash-partitioned on node id at scale).  The FIXED round "
    "count is the cross-engine contract — both engines run exactly 8 "
    "peels (convergence on the 25-node fixture graph happens in "
    "2-3); the oracle unrolls them as materialized CTEs",
)
def graph_k_core_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(8):
        deg = (
            edges.select(F.col("u").alias("a"))
            .unionAll(edges.select(F.col("v").alias("a")))
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= 3).select("a")
        edges = (
            edges.join(
                F.broadcast(keep), edges.u == keep.a, "left_semi"
            )
            .join(
                F.broadcast(keep.withColumnRenamed("a", "a2")),
                F.col("v") == F.col("a2"),
                "left_semi",
            )
            .localCheckpoint(eager=False)
        )
    nodes = (
        edges.select(F.col("u").alias("a"))
        .union(edges.select("v"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_core_nodes"))
    )
    ecnt = edges.agg(F.count(F.lit(1)).alias("n_core_edges"))
    return nodes.crossJoin(ecnt).select(
        F.col("n_core_nodes").cast("long").alias("n_core_nodes"),
        F.col("n_core_edges").cast("long").alias("n_core_edges"),
    )


@register(
    "privacy_t_closeness",
    oracle="""
WITH pri AS (
  SELECT DISTINCT o_orderpriority AS p FROM orders
),
cells AS (
  SELECT c_nationkey, c_mktsegment, o_orderpriority AS p,
         count(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2, 3
),
grp AS (
  SELECT DISTINCT c_nationkey, c_mktsegment FROM cells
),
dense AS (
  SELECT g.c_nationkey, g.c_mktsegment, pri.p,
         coalesce(c.n, 0) AS n
  FROM grp g CROSS JOIN pri
  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
    AND c.c_mktsegment = g.c_mktsegment AND c.p = pri.p
),
shares AS (
  SELECT c_nationkey, c_mktsegment, p,
         n * 1.0 / sum(n) OVER (PARTITION BY c_nationkey, c_mktsegment)
           AS q,
         sum(n) OVER (PARTITION BY p) * 1.0
           / sum(n) OVER () AS gp
  FROM dense
),
cums AS (
  SELECT c_nationkey, c_mktsegment,
         sum(q) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq,
         sum(gp) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cg,
         row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
                            ORDER BY p) AS i,
         count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS m
  FROM shares
)
SELECT c_nationkey, c_mktsegment,
       round(sum(abs(cq - cg)) FILTER (WHERE i < m) / (max(m) - 1), 6)
         AS t_emd
FROM cums GROUP BY 1, 2
ORDER BY t_emd DESC, c_nationkey, c_mktsegment LIMIT 10
""",
    doc="t-closeness audit (completing the k-anonymity / l-diversity "
    "privacy family): per quasi-identifier group, the earth-mover "
    "distance between the group's ordered order-priority distribution "
    "and the global one — for an ordered attribute EMD is the mean "
    "absolute prefix-share gap, so the whole audit is two hash "
    "aggregates, a 5-row domain densify (missing priorities count as "
    "0), and windows PARTITIONED by the 125-group key.  Top-10 "
    "worst groups; a release is t-close iff the top value <= t",
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_nationkey", "c_mktsegment", F.col("o_orderpriority").alias("p")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # 625-row table, 4 consumers
    )
    pri = cells.select("p").distinct()
    grp = cells.select("c_nationkey", "c_mktsegment").distinct()
    dense = (
        grp.crossJoin(F.broadcast(pri))
        .join(cells, ["c_nationkey", "c_mktsegment", "p"], "left")
        .fillna(0, ["n"])
    )
    wg = Window.partitionBy("c_nationkey", "c_mktsegment")
    # global per-priority shares come from a 5-row aggregate broadcast
    # back (no unpartitioned window anywhere in the plan)
    gtot = cells.agg(F.sum("n").alias("gt"))
    gdist = (
        cells.groupBy("p")
        .agg(F.sum("n").alias("gn"))
        .crossJoin(F.broadcast(gtot))
        .select("p", (F.col("gn") * 1.0 / F.col("gt")).alias("gp"))
    )
    shares = dense.join(F.broadcast(gdist), "p").select(
        "c_nationkey",
        "c_mktsegment",
        "p",
        (F.col("n") / F.sum("n").over(wg)).alias("q"),
        "gp",
    )
    wcum = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wrn = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("p")
    cums = shares.select(
        "c_nationkey",
        "c_mktsegment",
        F.sum("q").over(wcum).alias("cq"),
        F.sum("gp").over(wcum).alias("cg"),
        F.row_number().over(wrn).alias("i"),
        F.count(F.lit(1)).over(wg).alias("m"),
    )
    return (
        cums.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("i") < F.col("m"), F.abs(F.col("cq") - F.col("cg"))).otherwise(0.0)
                )
                / (F.max("m") - 1),
                6,
            ).alias("t_emd")
        )
        .orderBy(F.desc("t_emd"), "c_nationkey", "c_mktsegment")
        .limit(10)
    )


@register(
    "ab_wilson_intervals",
    oracle="""
WITH seg AS (
  SELECT c_mktsegment,
         count(*) AS n,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS k
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
)
SELECT c_mktsegment,
       CAST(n AS BIGINT) AS n,
       CAST(k AS BIGINT) AS k,
       round(k * 1.0 / n, 6) AS p,
       round((k * 1.0 / n + 1.959964 * 1.959964 / (2 * n)
              - 1.959964 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 1.959964 * 1.959964 / (4.0 * n * n)))
             / (1 + 1.959964 * 1.959964 / n), 6) AS wilson_lo,
       round((k * 1.0 / n + 1.959964 * 1.959964 / (2 * n)
              + 1.959964 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 1.959964 * 1.959964 / (4.0 * n * n)))
             / (1 + 1.959964 * 1.959964 / n), 6) AS wilson_hi
FROM seg ORDER BY c_mktsegment
""",
    doc="Wilson-score 95pct confidence intervals for the fulfilled-"
    "order rate per market segment — the interval every A/B dashboard "
    "should use instead of the normal approximation (it behaves at "
    "small n and p near 0/1, where ab_test_conversion's z-test "
    "degrades).  One join + one aggregate; the interval arithmetic is "
    "identical scalar expressions on both engines (z = 1.959964)",
)
def ab_wilson_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    z = 1.959964
    seg = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("k"),
        )
    )
    p = F.col("k") * 1.0 / F.col("n")
    center = p + z * z / (2 * F.col("n"))
    margin = z * F.sqrt(
        p * (1 - p) / F.col("n") + z * z / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z * z / F.col("n")
    return seg.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(p, 6).alias("p"),
        F.round((center - margin) / denom, 6).alias("wilson_lo"),
        F.round((center + margin) / denom, 6).alias("wilson_hi"),
    ).orderBy("c_mktsegment")


@register(
    "join_event_self_interval",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket
  FROM events
),
cand AS (
  -- floor(epoch()) per timestamp: DuckDB epoch() keeps fractional
  -- seconds, Spark unix_timestamp truncates — same hazard class as
  -- the CEP secs_to_purchase fix
  SELECT a.user_id, a.event_id AS e1, b.event_id AS e2,
         abs(CAST(floor(epoch(b.ts)) AS BIGINT)
             - CAST(floor(epoch(a.ts)) AS BIGINT)) AS gap
  FROM ev a
  JOIN ev b
    ON b.user_id = a.user_id
   AND b.bucket BETWEEN a.bucket - 1 AND a.bucket + 1
   AND b.event_id > a.event_id
  WHERE abs(CAST(floor(epoch(b.ts)) AS BIGINT)
            - CAST(floor(epoch(a.ts)) AS BIGINT)) <= 300
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_close_pairs,
       CAST(min(gap) AS BIGINT) AS min_gap_s
FROM cand GROUP BY user_id
ORDER BY n_close_pairs DESC, user_id LIMIT 20
""",
    doc="temporal self-join with bucket banding: pairs of events by "
    "the same user within 5 minutes of each other (burst/interaction "
    "density).  The naive formulation is a quadratic theta-join; "
    "bucketing timestamps into 5-minute cells and equi-joining each "
    "cell to itself and its neighbor turns it into a co-partitioned "
    "equi-join whose candidate volume is sum over cells of k*k' — "
    "bounded by burst density, never by total history.  This is the "
    "same banding discipline as join_range_binned_scale applied to "
    "a SELF-join on time; hot cells would get the dedup joins' cap "
    "treatment",
)
def join_event_self_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.unix_timestamp("ts") / 300).cast("long").alias("bucket"),
    )
    b = ev.select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("e2"),
        F.col("ts").alias("ts2"),
        F.col("bucket").alias("b2"),
    )
    # equi-join on (user, cell) with the 3-cell neighborhood exploded
    # on the left so the band predicate is part of the join KEY
    probes = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.explode(
            F.array(
                F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1
            )
        ).alias("nb"),
    )
    cand = probes.join(
        b,
        (F.col("u2") == F.col("user_id")) & (F.col("b2") == F.col("nb")),
    ).filter(
        (F.col("e2") > F.col("event_id"))
        & (
            F.abs(
                F.unix_timestamp("ts2") - F.unix_timestamp("ts")
            )
            <= 300
        )
    )
    return (
        cand.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_close_pairs"),
            F.min(
                F.abs(F.unix_timestamp("ts2") - F.unix_timestamp("ts"))
            )
            .cast("long")
            .alias("min_gap_s"),
        )
        .orderBy(F.desc("n_close_pairs"), "user_id")
        .limit(20)
    )


@register(
    "fn_xml_roundtrip",
    oracle="""
SELECT o_orderkey, o_orderstatus AS status,
       round(o_totalprice, 2) AS totalprice
FROM orders ORDER BY o_orderkey LIMIT 1000
""",
    doc="XML serde coverage (Spark 4 to_xml/from_xml, completing the "
    "serde family next to JSON, CSV and VARIANT): each order row is "
    "rendered to an XML document and parsed back with an explicit "
    "schema; the oracle is the IDENTITY projection, so the hash "
    "match proves the roundtrip is lossless — including the double "
    "(shortest-repr formatting parses back to the identical bits).  "
    "Both functions are JVM-side row expressions: one scan, no "
    "Python, no shuffle before the ordered limit",
)
def fn_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    xml = F.expr(
        "to_xml(named_struct('k', o_orderkey, 's', o_orderstatus,"
        " 'p', o_totalprice))"
    )
    parsed = F.expr(
        "from_xml(to_xml(named_struct('k', o_orderkey,"
        " 's', o_orderstatus, 'p', o_totalprice)),"
        " 'k BIGINT, s STRING, p DOUBLE')"
    )
    return (
        orders.select(xml.alias("x"), parsed.alias("v"))
        .select(
            F.col("v.k").alias("o_orderkey"),
            F.col("v.s").alias("status"),
            F.round(F.col("v.p"), 2).alias("totalprice"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


def _lp_oracle(rounds: int = 5) -> str:
    """Synchronous min-label propagation, unrolled; same materialized-
    CTE idiom as the k-core and PageRank oracles."""
    head = """WITH e AS MATERIALIZED (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS u,
                  greatest(c.c_nationkey, s.s_nationkey) AS v
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
adj AS MATERIALIZED (
  SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e
),
l0 AS MATERIALIZED (
  SELECT DISTINCT a, a AS lbl FROM adj
)"""
    parts = [head]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""l{r} AS MATERIALIZED (
  SELECT cur.a, least(cur.lbl, coalesce(nb.m, cur.lbl)) AS lbl
  FROM l{p} cur
  LEFT JOIN (
    SELECT adj.a, min(lp.lbl) AS m
    FROM adj JOIN l{p} lp ON lp.a = adj.b
    GROUP BY adj.a
  ) nb ON nb.a = cur.a
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nations
FROM l{rounds} GROUP BY lbl ORDER BY lbl
"""
    )


@register(
    "graph_label_propagation",
    oracle=_lp_oracle(),
    doc="synchronous min-label propagation (5 fixed rounds) on the "
    "nation trade graph — deterministic community detection: every "
    "node adopts the minimum label in its closed neighborhood each "
    "round, which converges to connected-component-like communities "
    "without any tie-breaking randomness (the classic LPA coin-flips "
    "can never hash-match an oracle).  Same driver-coordinated "
    "iterate+localCheckpoint loop as PageRank/k-core; per round one "
    "neighbor-min aggregate joined back — hash-partitioned on node "
    "id at scale.  Fixed round count is the cross-engine contract",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .distinct()
    )
    adj = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    ).localCheckpoint(eager=False)
    labels = adj.select("a").distinct().select(
        "a", F.col("a").alias("lbl")
    ).localCheckpoint(eager=False)
    for _ in range(5):
        nb = (
            adj.join(
                labels.select(
                    F.col("a").alias("b"), F.col("lbl").alias("nlbl")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nlbl").alias("m"))
        )
        labels = (
            labels.join(nb, "a", "left")
            .select(
                "a",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("m"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nations"))
        .orderBy("community")
    )


@register(
    "ml_knn_classify",
    oracle="""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label,
         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 < 80 AS is_train
  FROM embeddings
),
scored AS (
  SELECT t.vec_id, t.label AS actual, tr.label AS cand,
         round(list_cosine_similarity(t.e, tr.e), 6) AS sim,
         tr.vec_id AS nb
  FROM base t JOIN base tr ON tr.is_train AND NOT t.is_train
),
top5 AS (
  SELECT vec_id, actual, cand FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, nb) <= 5
),
votes AS (
  SELECT vec_id, actual, cand, count(*) AS n
  FROM top5 GROUP BY 1, 2, 3
),
pred AS (
  SELECT vec_id, actual, cand AS predicted FROM votes
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY n DESC, cand) = 1
)
SELECT actual,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(count(*) FILTER (WHERE predicted = actual) AS BIGINT)
         AS n_correct
FROM pred GROUP BY actual ORDER BY actual
""",
    doc="k-NN classification (k=5, cosine) over the embedding table "
    "with the standard 80pct hash split: the EXACT brute-force recall "
    "baseline for ml_knn_classify_ann (coverage_round6.py, the "
    "LSH-bucketed production path).  Round-9 promotion to the BLAS "
    "cogroup scorer (same protocol as the emb_* diagnostic family, "
    "SCALING.md): train salted into 32 disjoint buckets, test probes "
    "replicated to every bucket, one (p x d)@(d x v) matmul per "
    "bucket with per-(probe, bucket) top-5 partials — each train "
    "vector lives in exactly one bucket, so the global top-5 over "
    "partials equals the top-5 over the full cross product.  Still "
    "O(n_test * n_train) work (brute force is), but partitioned "
    "matmuls with bounded partial output instead of a per-pair HOF "
    "loop + full-fan-out window; the HOF cross-join reference path "
    "stays as _ml_knn_classify_hof (parity-pinned, bench-twinned).  "
    "Per-test-vector top-5 by (sim, id), majority vote with "
    "deterministic label tie-break.  Per-lang accuracy rollup is the "
    "driver-checked output",
)
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import blas_bucket_candidates

    probes, build = _knn_split_frames(spark, sf_dir)
    cands = blas_bucket_candidates(probes, build, k=5).select(
        "vec_id", F.col("label").alias("actual"),
        F.col("nlabel").alias("cand"), "nb", "sim",
    )
    return _knn_vote_rollup(cands)


_KNN_BUCKETS = 32


def _knn_split_frames(spark: SparkSession, sf_dir: str):
    """Shared 80/20 split for the brute-force kNN paths, in the
    blas_bucket_candidates frame shape: probes = every test vector
    replicated to all _KNN_BUCKETS buckets, build = train vectors each
    in exactly one bucket (the operator's exactness precondition)."""
    from ..operators.similarity import _dot

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        "label",
        (
            F.expr(
                "cast(conv(substr(md5(cast(vec_id as string)), 1, 15),"
                " 16, 10) as bigint)"
            )
            % 100
            < 80
        ).alias("is_train"),
    )
    b = emb.select(
        "vec_id",
        "label",
        "is_train",
        F.sqrt(_dot(F.col("e"), F.col("e"))).alias("nrm"),
        "e",
    ).select(
        "vec_id",
        "label",
        "is_train",
        F.transform("e", lambda x: x / F.col("nrm")).alias("en"),
    )
    build = b.filter("is_train").select(
        F.col("vec_id").alias("nb"),
        F.col("label").alias("nlabel"),
        F.col("en").alias("ven"),
        F.pmod(F.col("vec_id"), F.lit(_KNN_BUCKETS)).cast("long").alias("bucket"),
    )
    probes = b.filter(~F.col("is_train")).select(
        "vec_id",
        "label",
        "en",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.lit(_KNN_BUCKETS - 1).cast("long")
            )
        ).alias("bucket"),
    )
    return probes, build


def _knn_vote_rollup(cands: DataFrame) -> DataFrame:
    """Global top-5 -> majority vote -> per-label accuracy rollup,
    shared by the BLAS default and the HOF reference twin.  ``cands``
    carries (vec_id, actual, cand, nb, sim)."""
    w5 = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "nb")
    top5 = cands.withColumn("rn", F.row_number().over(w5)).filter(
        F.col("rn") <= 5
    )
    votes = top5.groupBy("vec_id", "actual", "cand").agg(
        F.count(F.lit(1)).alias("n")
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("n"), "cand")
    pred = votes.withColumn("rv", F.row_number().over(wv)).filter(
        F.col("rv") == 1
    )
    return (
        pred.groupBy("actual")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.count(F.when(F.col("cand") == F.col("actual"), 1))
            .cast("long")
            .alias("n_correct"),
        )
        .orderBy("actual")
    )


def _ml_knn_classify_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOF cross-join reference path (the pre-round-9 registry
    default): broadcast train, per-pair sequential-aggregate cosine
    over pre-normalized vectors (_knn_split_frames), full-fan-out
    window.  Numerically equivalent to the DuckDB oracle — which
    computes list_cosine_similarity on the RAW vectors — at the 6dp
    rounding discipline, not its verbatim replay (round-9 advice
    item).  Kept as the slow-but-simple twin — parity with the BLAS
    default is pinned in tests/test_round12_ops.py and its timing
    stays in BENCH_FULL.json as bench_ml_knn_classify_hof."""
    from ..operators.similarity import _dot

    probes, build = _knn_split_frames(spark, sf_dir)
    test = probes.filter(F.col("bucket") == 0).drop("bucket")
    train = build.drop("bucket")
    cands = test.crossJoin(F.broadcast(train)).select(
        "vec_id",
        F.col("label").alias("actual"),
        F.col("nlabel").alias("cand"),
        "nb",
        F.round(_dot(F.col("en"), F.col("ven")), 6).alias("sim"),
    )
    return _knn_vote_rollup(cands)


@register(
    "ml_target_encoding",
    oracle="""
WITH y AS (
  SELECT o_orderpriority AS cat,
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
  FROM orders
),
g AS (
  SELECT cat, sum(y) AS sy, count(*) AS n FROM y GROUP BY cat
),
gs AS (SELECT sum(y) * 1.0 / count(*) AS gm FROM y),
enc AS (
  SELECT y.cat,
         (g.sy - y.y + 10 * gs.gm) / (g.n - 1 + 10) AS e
  FROM y JOIN g ON g.cat = y.cat CROSS JOIN gs
)
SELECT cat,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(e), 6) AS mean_loo_encoding,
       round(stddev_pop(e), 6) AS sd_loo_encoding
FROM enc GROUP BY cat ORDER BY cat
""",
    doc="leave-one-out mean-target encoding with additive smoothing "
    "(m=10) — the feature-engineering staple whose naive version "
    "leaks the row's own label: each row's encoding excludes its own "
    "y ((sum_y - y_i + m*global)/(n - 1 + m)), computed as one "
    "aggregate join-back, no per-row recomputation.  The per-"
    "category mean/sd of the encodings is the driver-checked "
    "summary; both engines evaluate the identical closed form",
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    y = orders.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
    )
    g = y.groupBy("cat").agg(
        F.sum("y").alias("sy"), F.count(F.lit(1)).alias("n")
    )
    glob = y.agg((F.sum("y") / F.count(F.lit(1))).alias("gm"))
    enc = (
        y.join(F.broadcast(g), "cat")
        .crossJoin(F.broadcast(glob))
        .select(
            "cat",
            (
                (F.col("sy") - F.col("y") + 10 * F.col("gm"))
                / (F.col("n") - 1 + 10)
            ).alias("e"),
        )
    )
    return (
        enc.groupBy("cat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("e"), 6).alias("mean_loo_encoding"),
            F.round(F.stddev_pop("e"), 6).alias("sd_loo_encoding"),
        )
        .orderBy("cat")
    )


@register(
    "prep_one_hot_encode",
    oracle="""
WITH vocab AS (
  SELECT o_orderpriority AS v,
         row_number() OVER (ORDER BY o_orderpriority) - 1 AS idx
  FROM (SELECT DISTINCT o_orderpriority FROM orders)
),
encoded AS (
  SELECT o.o_orderstatus, vocab.idx
  FROM orders o JOIN vocab ON vocab.v = o.o_orderpriority
)
SELECT o_orderstatus, idx,
       CAST(count(*) AS BIGINT) AS n
FROM encoded GROUP BY 1, 2 ORDER BY o_orderstatus, idx
""",
    doc="one-hot / ordinal vocabulary encoding: the category-to-index "
    "map is built once from the sorted distinct domain (a <= |domain|"
    "-row broadcast dictionary — exactly how a feature store "
    "publishes stable category ids) and applied with one broadcast "
    "join.  The (status x index) contingency output hash-checks both "
    "the dictionary's index assignment and the join application",
)
def prep_one_hot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    from ..operators.topk import global_ordinal

    distinct = orders.select(
        F.col("o_orderpriority").alias("v")
    ).distinct()
    # dictionary ids via the two-level ordinal: on a high-cardinality
    # column the distinct domain is data-scale, so the index
    # assignment must not be a single-partition window
    ranked, _n = global_ordinal(distinct, [F.col("v")], out_col="rn1")
    vocab = ranked.select("v", (F.col("rn1") - 1).alias("idx"))
    return (
        orders.join(
            F.broadcast(vocab), orders.o_orderpriority == vocab.v
        )
        .groupBy("o_orderstatus", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("o_orderstatus", "idx")
    )


@register(
    "ts_decompose_residuals",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(sum(value), 4) AS x
  FROM events GROUP BY 1, 2
),
trend AS (
  SELECT event_type, day, x,
         quantile_disc(x, 0.5) OVER (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS tr
  FROM daily
),
seas AS (
  SELECT event_type, CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
         avg(x - tr) AS s
  FROM trend GROUP BY 1, 2
)
SELECT t.event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       -- +0.0 collapses IEEE negative zero (DuckDB round yields -0.0
       -- on tiny negative means, Spark 0.0 — hash mismatch otherwise)
       round(avg(t.x - t.tr - s.s), 4) + 0.0 AS resid_mean,
       round(stddev_pop(t.x - t.tr - s.s), 4) AS resid_sd,
       CAST(count(*) FILTER (
         WHERE abs(t.x - t.tr - s.s) > 2 * (
           SELECT stddev_pop(t2.x - t2.tr - s2.s)
           FROM trend t2
           JOIN seas s2 ON s2.event_type = t2.event_type
             AND s2.dow = CAST(dayofweek(t2.day) + 1 AS BIGINT)
           WHERE t2.event_type = t.event_type)) AS BIGINT)
         AS n_anomalies
FROM trend t
JOIN seas s ON s.event_type = t.event_type
  AND s.dow = CAST(dayofweek(t.day) + 1 AS BIGINT)
GROUP BY t.event_type ORDER BY t.event_type
""",
    doc="classical decomposition with anomaly flagging: trend = the "
    "7-day rolling discrete median (ts_rolling_median_7d's robust "
    "smoother), seasonal = mean detrended value per day-of-week "
    "(ts_seasonal_dow_profile's index, additive form), residual = "
    "x - trend - seasonal, anomaly = |residual| > 2 sd — the "
    "composition that turns the two standalone round-5 primitives "
    "into the seasonally-adjusted anomaly detector dashboards "
    "actually need.  All windows partition by type; seasonal/sd are "
    "per-type aggregates joined back broadcast",
)
def ts_decompose_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    vals = F.sort_array(F.collect_list("x").over(w))
    trend = daily.select(
        "event_type",
        "day",
        "x",
        F.element_at(vals, F.ceil(F.size(vals) / 2.0).cast("int")).alias(
            "tr"
        ),
    ).localCheckpoint(eager=False)  # feeds seasonal agg + residual join
    seas = trend.groupBy(
        F.col("event_type").alias("s_et"),
        F.dayofweek("day").cast("long").alias("dow"),
    ).agg(F.avg(F.col("x") - F.col("tr")).alias("s"))
    resid = trend.join(
        F.broadcast(seas),
        (F.col("event_type") == F.col("s_et"))
        & (F.dayofweek("day").cast("long") == F.col("dow")),
    ).select(
        F.col("event_type").alias("et"),
        (F.col("x") - F.col("tr") - F.col("s")).alias("r"),
    )
    sd = resid.groupBy("et").agg(F.stddev_pop("r").alias("sd"))
    return (
        resid.join(F.broadcast(sd), "et")
        .groupBy("et")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (F.round(F.avg("r"), 4) + 0.0).alias("resid_mean"),
            F.round(F.stddev_pop("r"), 4).alias("resid_sd"),
            F.count(F.when(F.abs(F.col("r")) > 2 * F.col("sd"), 1))
            .cast("long")
            .alias("n_anomalies"),
        )
        .select(
            F.col("et").alias("event_type"),
            "n_days",
            "resid_mean",
            "resid_sd",
            "n_anomalies",
        )
        .orderBy("event_type")
    )


@register(
    "ml_neyman_allocation",
    oracle="""
WITH strata AS (
  SELECT c_mktsegment,
         count(*) AS n,
         stddev_pop(c_acctbal) AS s
  FROM customer GROUP BY 1
),
alloc AS (
  SELECT c_mktsegment, n, s,
         n * s / (SELECT sum(n * s) FROM strata) AS w
  FROM strata
)
SELECT c_mktsegment,
       CAST(n AS BIGINT) AS n_stratum,
       round(s, 4) AS sd,
       CAST(round(1000 * w) AS BIGINT) AS neyman_n,
       round(w, 6) AS neyman_share
FROM alloc ORDER BY c_mktsegment
""",
    doc="Neyman optimal allocation for a stratified sample of 1000: "
    "each stratum's share proportional to N_h * sd_h — the "
    "variance-minimizing design for estimating mean account balance, "
    "vs ml_stratified_sample_det's proportional allocation.  One "
    "aggregate over the strata plus a broadcast total; the "
    "allocation itself is what's hash-checked (round-half-even on "
    "both engines for the integer counts)",
)
def ml_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    strata = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.stddev_pop("c_acctbal").alias("s"),
    )
    tot = strata.agg(F.sum(F.col("n") * F.col("s")).alias("t"))
    return (
        strata.crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            F.col("n").cast("long").alias("n_stratum"),
            F.round("s", 4).alias("sd"),
            F.round(1000 * F.col("n") * F.col("s") / F.col("t"))
            .cast("long")
            .alias("neyman_n"),
            F.round(F.col("n") * F.col("s") / F.col("t"), 6).alias(
                "neyman_share"
            ),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "dash_hour_dow_heatmap",
    oracle="""
SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2 ORDER BY dow, hour
""",
    doc="activity heatmap (day-of-week x hour-of-day): the canonical "
    "ops-dashboard panel — one hash aggregate into a 7x24-bounded "
    "output regardless of event volume.  DuckDB's 0=Sunday dayofweek "
    "is shifted to Spark's 1=Sunday in the oracle",
)
def dash_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.dayofweek("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("dow", "hour")
    )


@register(
    "win_cumulative_distinct_users",
    oracle="""
WITH first_seen AS (
  SELECT user_id, min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d0
  FROM events GROUP BY user_id
),
per_day AS (
  SELECT d0 AS day, count(*) AS new_users FROM first_seen GROUP BY d0
),
days AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM events
)
SELECT days.day,
       CAST(coalesce(per_day.new_users, 0) AS BIGINT) AS new_users,
       CAST(sum(coalesce(per_day.new_users, 0)) OVER (ORDER BY days.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM days LEFT JOIN per_day ON per_day.day = days.day
ORDER BY days.day
""",
    doc="running distinct-user count per day WITHOUT any running "
    "distinct state: the first-seen trick — min(day) per user (one "
    "shuffle on user), count new users per day, cumulative sum over "
    "the DATE-domain-bounded day series.  The naive formulation "
    "(count distinct over an expanding window) re-scans history per "
    "day; this one is two aggregates and a tiny ordered sum, the "
    "only correct shape at 100 TB.  The day-level window is bounded "
    "by the calendar, not the data",
)
def win_cumulative_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("d0")
    )
    per_day = first_seen.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    joined = days.join(F.broadcast(per_day), "day", "left").fillna(
        0, ["new_users"]
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        joined.select(
            "day",
            F.col("new_users").cast("long").alias("new_users"),
            F.sum("new_users").over(w).cast("long").alias(
                "cumulative_users"
            ),
        )
        .orderBy("day")
    )


@register(
    "agg_weighted_percentiles",
    oracle="""
WITH by_val AS (
  SELECT l_extendedprice AS v,
         CAST(sum(round(l_quantity)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT v, sum(w) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM by_val
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM by_val)
SELECT round((SELECT min(v) FROM cum, tot WHERE cw * 4 >= tot.tw), 2)
         AS wp25,
       round((SELECT min(v) FROM cum, tot WHERE cw * 2 >= tot.tw), 2)
         AS wp50,
       round((SELECT min(v) FROM cum, tot WHERE cw * 4 >= tot.tw * 3), 2)
         AS wp75,
       tot.tw AS total_weight
FROM tot
""",
    doc="weighted p25/p50/p75 (quantity-weighted price quartiles) "
    "from ONE two-level prefix sum over the value order — the "
    "agg_weighted_median generalization: each quantile is a "
    "filter+min crossing test in exact integer arithmetic "
    "(cum*4 >= total etc.), three lookups over the same cumulated "
    "table, no re-sort per quantile",
)
def agg_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    by_val = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.round("l_quantity")).cast("long").alias("w")
    )
    # Round-12: total weight rides the prefix-sum offsets collect
    # (no second lineitem aggregation), and the three crossing tests
    # fuse into ONE conditional aggregate over the cumulated table —
    # the previous shape ran an eager checkpoint plus three separate
    # filter+min jobs and three crossJoins for the same three lookups
    # (guide §1.2/§2.4).  Each min(when(...)) is the identical exact
    # integer crossing test, so all three quantiles are bit-identical.
    cum, tw, _n = global_prefix_sum(
        by_val, [F.col("v")], "w", out_col="cw"
    )
    q = lambda num, den: F.round(  # noqa: E731
        F.min(F.when(F.col("cw") * den >= F.lit(tw).cast("long") * num, F.col("v"))), 2
    )
    return cum.agg(
        q(1, 4).alias("wp25"),
        q(1, 2).alias("wp50"),
        q(3, 4).alias("wp75"),
    ).select(
        "wp25",
        "wp50",
        "wp75",
        F.lit(tw).cast("long").alias("total_weight"),
    )


@register(
    "ts_dominant_period",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         sum(value) AS x
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
           AS t,
         avg(x) OVER (PARTITION BY event_type) AS mu
  FROM daily
),
periods AS (SELECT unnest(range(2, 15)) AS p),
power AS (
  SELECT event_type, p,
         round(pow(sum((x - mu) * cos(2 * pi() * t / p)), 2)
               + pow(sum((x - mu) * sin(2 * pi() * t / p)), 2), 4)
           AS pw
  FROM seq, periods GROUP BY event_type, p
)
SELECT event_type, CAST(p AS BIGINT) AS dominant_period_days,
       pw AS power
FROM power
QUALIFY row_number() OVER (PARTITION BY event_type
                           ORDER BY pw DESC, p) = 1
ORDER BY event_type
""",
    doc="dominant-periodicity detection: an explicit DFT probe at "
    "candidate periods 2-14 days over each type's demeaned daily "
    "series (power = |sum x_t e^{-2pi i t/p}|^2 as two real sums) — "
    "the seasonality detector that decides whether the dow-profile "
    "decomposition applies.  The candidate-period fan-out is a "
    "13-row broadcast; everything aggregates over the date-domain-"
    "bounded series.  Power rounds 4dp before the per-type argmax "
    "(libm trig agrees to ulps, far inside the round)",
)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum("value").alias("x"))
    wt = Window.partitionBy("event_type").orderBy("day")
    wmu = Window.partitionBy("event_type")
    seq = daily.select(
        "event_type",
        "x",
        (F.row_number().over(wt) - 1).alias("t"),
        F.avg("x").over(wmu).alias("mu"),
    )
    periods = spark.range(2, 15).select(F.col("id").alias("p"))
    two_pi = 2 * math.pi
    power = (
        seq.crossJoin(F.broadcast(periods))
        .groupBy("event_type", "p")
        .agg(
            F.round(
                F.pow(
                    F.sum(
                        (F.col("x") - F.col("mu"))
                        * F.cos(two_pi * F.col("t") / F.col("p"))
                    ),
                    2,
                )
                + F.pow(
                    F.sum(
                        (F.col("x") - F.col("mu"))
                        * F.sin(two_pi * F.col("t") / F.col("p"))
                    ),
                    2,
                ),
                4,
            ).alias("pw")
        )
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("pw"), "p")
    return (
        power.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("p").cast("long").alias("dominant_period_days"),
            F.col("pw").alias("power"),
        )
        .orderBy("event_type")
    )
