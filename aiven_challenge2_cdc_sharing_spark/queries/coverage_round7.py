"""Round-7 window inventory, part 2 (built in round 6).

Widens the corpus-analytics / product-analytics / ML-ops families the
round-5 verdict's "new query families" list pointed at: classifier
evaluation for the lang-id heuristic, Heaps'-law vocabulary growth,
session-duration and bounce-rate product metrics over the gap
sessionizer, signup-to-purchase conversion latency, ABC / Lorenz
revenue-concentration curves, a Simpson's-paradox guard on segment
comparisons, a quasi-identifier generalization ladder, embedding
cosine-to-centroid histograms, a nearest-centroid learning curve,
class-imbalance weights, and a freshness/staleness audit.

Reference provenance: the reference has no analytics engine of its own
(consumer loop at consumer_to_opensearch.py:67-96; dashboards at
README.md:150-160); these are north-star extensions per BASELINE.json.

Cross-engine disciplines (established rounds 3-6, see SCALING.md):
integer cents for money, floor(epoch()) per timestamp before
subtraction, exact integer cross-multiplication instead of float
ratio comparisons, centroids rounded to 6dp before any distance that
feeds a rank or a band, and every aggregate aliased identically on
both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import stopword_hits, token_count
from ..tables import load_table
from . import register
from .llm_ops import _SW_SQL

# ------------------------------------------ lang-id evaluation


@register(
    "text_langid_confusion",
    oracle=f"""
WITH pr AS (
  SELECT len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> list_contains({_SW_SQL}, t))) * 1.0
         / len(string_split_regex(lower(trim(text)), '\\s+')) >= 0.1 AS p,
         lang = 'en' AS a
  FROM documents
),
c AS (
  SELECT CAST(count(*) FILTER (WHERE p AND a) AS BIGINT) AS tp,
         CAST(count(*) FILTER (WHERE p AND NOT a) AS BIGINT) AS fp,
         CAST(count(*) FILTER (WHERE NOT p AND a) AS BIGINT) AS fn,
         CAST(count(*) FILTER (WHERE NOT p AND NOT a) AS BIGINT) AS tn
  FROM pr
)
SELECT tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN round(tp * 1.0 / (tp + fp), 4) END AS precision_en,
       CASE WHEN tp + fn > 0
            THEN round(tp * 1.0 / (tp + fn), 4) END AS recall_en,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN round(2.0 * tp / (2 * tp + fp + fn), 4) END AS f1_en
FROM c
""",
    doc="confusion matrix + precision/recall/F1 of the stopword "
    "lang-id heuristic (text_lang_id_stopword's >=10% rule) against "
    "the labeled lang column — the evaluation loop every corpus "
    "filter needs before it gates training data.  One scan, one "
    "4-cell conditional aggregate; the metric divisions are "
    "NULL-guarded identically on both engines",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    p = (stopword_hits(t) * 1.0 / token_count(t)) >= 0.1
    a = F.col("lang") == "en"
    c = docs.agg(
        F.sum(F.when(p & a, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(p & ~a, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~p & a, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~p & ~a, 1).otherwise(0)).cast("long").alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(tp + fp > 0, F.round(tp * 1.0 / (tp + fp), 4)).alias(
            "precision_en"
        ),
        F.when(tp + fn > 0, F.round(tp * 1.0 / (tp + fn), 4)).alias(
            "recall_en"
        ),
        F.when(
            2 * tp + fp + fn > 0,
            F.round(2.0 * tp / (2 * tp + fp + fn), 4),
        ).alias("f1_en"),
    )


# ------------------------------------------ Heaps'-law vocabulary fit


@register(
    "text_heaps_law_fit",
    oracle="""
WITH mx AS MATERIALIZED (SELECT max(doc_id) AS m FROM documents),
tokd AS (
  SELECT least(CAST(floor(doc_id * 20.0 / (mx.m + 1)) AS BIGINT), 19)
           AS bucket,
         greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 1, 0)
           AS nt
  FROM documents, mx
),
tokb AS (
  SELECT bucket, CAST(sum(nt) AS BIGINT) AS tk FROM tokd GROUP BY 1
),
fs AS (
  SELECT w, min(doc_id) AS fd FROM (
    SELECT doc_id, ws[i.i] || ' ' || ws[i.i + 1] AS w
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS ws
          FROM documents),
         LATERAL (SELECT unnest(range(1, len(ws))) AS i) i)
  GROUP BY w
),
vocb AS (
  SELECT least(CAST(floor(fd * 20.0 / (mx.m + 1)) AS BIGINT), 19)
           AS bucket,
         CAST(count(*) AS BIGINT) AS vb
  FROM fs, mx GROUP BY 1
),
pts AS (
  SELECT tokb.bucket,
         sum(tk) OVER (ORDER BY tokb.bucket) AS ctk,
         sum(coalesce(vb, 0)) OVER (ORDER BY tokb.bucket) AS cvb
  FROM tokb LEFT JOIN vocb USING (bucket)
)
SELECT CAST(count(*) AS BIGINT) AS n_points,
       round(regr_slope(ln(cvb), ln(ctk)), 6) AS heaps_beta,
       round(exp(regr_intercept(ln(cvb), ln(ctk))), 4) AS heaps_k,
       round(regr_r2(ln(cvb), ln(ctk)), 6) AS r2
FROM pts
""",
    doc="Heaps'-law fit V(n) = K * n^beta of vocabulary growth vs "
    "corpus size: docs fall into 20 fixed position buckets, "
    "cumulative token mass per bucket comes from per-doc counts, "
    "cumulative vocabulary from the FIRST-SEEN trick (min doc_id "
    "per type — the dash_new_vs_returning idiom, so no quadratic "
    "distinct-so-far scan), then a log-log OLS via the regr_* "
    "aggregates (text_zipf_fit's fit idiom).  Types are word "
    "BIGRAMS: the fixture's closed unigram vocabulary saturates in "
    "bucket 0, which degenerates the regression into an "
    "engine-dependent 0/0 (zero y-variance); the ~V^2 bigram space "
    "keeps V(n) growing at every fixture scale, which is also the "
    "realistic corpus regime.  The 20-row cumulative window is "
    "fixed-size regardless of corpus scale; everything N-sized "
    "dies in the two hash aggregates",
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    # 1-row watermark consumed by both bucket assignments — checkpoint
    # so the max() scan runs once
    mx = docs.agg(F.max("doc_id").alias("m")).localCheckpoint(eager=False)

    def bucket(c):
        return F.least(F.floor(c * 20.0 / (F.col("m") + 1)), F.lit(19))

    tokb = (
        docs.crossJoin(F.broadcast(mx))
        .select(
            bucket(F.col("doc_id")).alias("bucket"),
            F.greatest(token_count(F.col("text")) - 1, F.lit(0)).alias("nt"),
        )
        .groupBy("bucket")
        .agg(F.sum("nt").cast("long").alias("tk"))
    )
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    fs = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> concat(ws[i], ' ', ws[i + 1]))"
                )
            ).alias("w"),
        )
        .groupBy("w")
        .agg(F.min("doc_id").alias("fd"))
    )
    vocb = (
        fs.crossJoin(F.broadcast(mx))
        .select(bucket(F.col("fd")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("vb"))
    )
    # 20 fixed buckets: the unpartitioned cumulative window is
    # bounded-domain by construction (plan-audit allowlisted)
    w20 = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pts = (
        tokb.join(vocb, "bucket", "left")
        .select(
            "bucket",
            F.sum("tk").over(w20).alias("ctk"),
            F.sum(F.coalesce(F.col("vb"), F.lit(0))).over(w20).alias("cvb"),
        )
    )
    ln_v, ln_t = F.log(F.col("cvb")), F.log(F.col("ctk"))
    return pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(F.regr_slope(ln_v, ln_t), 6).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept(ln_v, ln_t)), 4).alias("heaps_k"),
        F.round(F.regr_r2(ln_v, ln_t), 6).alias("r2"),
    )


# ------------------------------------------ session product metrics

_SESSION_ORACLE_CTES = """
marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)"""


@register(
    "dash_session_duration_hist",
    oracle=f"""
WITH {_SESSION_ORACLE_CTES},
g AS (
  SELECT user_id, sid,
         CAST(count(*) AS BIGINT) AS n_events,
         floor(epoch(max(ts))) - floor(epoch(min(ts))) AS dur
  FROM sess GROUP BY 1, 2
)
SELECT least(CAST(floor(dur / 300.0) AS BIGINT), 12) AS band,
       CAST(count(*) AS BIGINT) AS n_sessions,
       round(avg(n_events), 4) AS avg_events
FROM g GROUP BY 1 ORDER BY 1
""",
    doc="session-duration histogram in 5-minute bands (capped at the "
    "1h+ tail band 12) with events-per-session: Spark sessionizes "
    "with the native session_window aggregate (the win_session_windows "
    "T6 operator — per-user merge, no global state), the oracle "
    "replays it as gaps-and-islands SQL.  Durations subtract "
    "floor(epoch()) per timestamp — the documented cross-engine "
    "fractional-seconds discipline; bands are then exact integer math",
)
def dash_session_duration_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
        )
    )
    dur = F.unix_timestamp("t1") - F.unix_timestamp("t0")
    return (
        g.select(
            F.least(F.floor(dur / 300.0), F.lit(12))
            .cast("long")
            .alias("band"),
            "n_events",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.round(F.avg("n_events"), 4).alias("avg_events"),
        )
        .orderBy("band")
    )


@register(
    "dash_bounce_rate",
    oracle=f"""
WITH {_SESSION_ORACLE_CTES},
g AS (
  SELECT user_id, sid,
         CAST(count(*) AS BIGINT) AS n_events,
         min({{'ts': ts, 'eid': event_id, 'et': event_type}}).et
           AS entry_type
  FROM sess GROUP BY 1, 2
)
SELECT entry_type,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
       round(count(*) FILTER (WHERE n_events = 1) * 1.0 / count(*), 4)
         AS bounce_rate
FROM g GROUP BY 1 ORDER BY 1
""",
    doc="bounce rate by session entry event type: single-event "
    "sessions over all sessions, grouped by the session's first "
    "event (min over a (ts, event_id, event_type) struct — total "
    "order, so both engines pick the identical entry row).  Same "
    "session_window aggregate as dash_session_duration_hist; the "
    "per-entry-type division is over count(*) > 0 by construction",
)
def dash_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(F.struct("ts", "event_id", "event_type")).alias("fe"),
        )
    )
    bounce = F.count(F.when(F.col("n_events") == 1, 1))
    return (
        g.groupBy(F.col("fe.event_type").alias("entry_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            bounce.cast("long").alias("n_bounces"),
            F.round(bounce * 1.0 / F.count(F.lit(1)), 4).alias(
                "bounce_rate"
            ),
        )
        .orderBy("entry_type")
    )


@register(
    "funnel_signup_purchase_latency",
    oracle="""
WITH s AS MATERIALIZED (
  SELECT user_id, min(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
  GROUP BY 1
),
lat AS (
  SELECT s.user_id,
         CAST(floor(epoch(p.p_ts)) - floor(epoch(s.s_ts)) AS BIGINT)
           AS lat_secs
  FROM s LEFT JOIN p ON p.user_id = s.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_signup_users,
       CAST(count(lat_secs) AS BIGINT) AS n_converted,
       round(count(lat_secs) * 1.0 / count(*), 4) AS conversion_rate,
       round(quantile_cont(lat_secs, 0.25), 4) AS p25_secs,
       round(quantile_cont(lat_secs, 0.50), 4) AS median_secs,
       round(quantile_cont(lat_secs, 0.75), 4) AS p75_secs,
       round(avg(lat_secs), 4) AS avg_secs
FROM lat
""",
    doc="signup-to-first-purchase conversion latency: per user, the "
    "first signup timestamp, then the first purchase AT or after it "
    "(a per-user min — not an as-of join, since only the first "
    "conversion counts), summarized as conversion rate + latency "
    "quartiles (exact interpolated percentile on both engines, the "
    "stats_levene_test discipline).  Two filtered aggregates and one "
    "shuffled user join; non-converters flow through the LEFT join "
    "as NULLs that every aggregate ignores",
)
def funnel_signup_purchase_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    lat = s.join(p, "user_id", "left").select(
        (F.unix_timestamp("p_ts") - F.unix_timestamp("s_ts")).alias(
            "lat_secs"
        )
    )
    ls = F.col("lat_secs")
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_signup_users"),
        F.count(ls).cast("long").alias("n_converted"),
        F.round(F.count(ls) * 1.0 / F.count(F.lit(1)), 4).alias(
            "conversion_rate"
        ),
        F.round(F.percentile(ls, 0.25), 4).alias("p25_secs"),
        F.round(F.percentile(ls, 0.50), 4).alias("median_secs"),
        F.round(F.percentile(ls, 0.75), 4).alias("p75_secs"),
        F.round(F.avg(ls), 4).alias("avg_secs"),
    )


# ------------------------------------------ revenue concentration


@register(
    "agg_abc_classification",
    oracle="""
WITH rev AS MATERIALIZED (
  SELECT l_partkey,
         CAST(sum(round(l_extendedprice * (1 - l_discount) * 100))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
pre AS (
  SELECT cents,
         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey)
              AS BIGINT) AS prefix
  FROM rev
),
cls AS (
  SELECT cents,
         CASE WHEN prefix * 5 <= t * 4 THEN 'A'
              WHEN prefix * 20 <= t * 19 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM pre, tot
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(cents) * 1.0 / t, 6) AS revenue_share
FROM cls, tot GROUP BY abc_class, t ORDER BY abc_class
""",
    doc="ABC inventory classification of parts by revenue: A = parts "
    "whose running revenue share stays within 80%, B to 95%, C the "
    "tail.  Revenue is exact integer cents and the class boundaries "
    "are integer CROSS-MULTIPLICATIONS (prefix*5 <= total*4), so no "
    "float division ever decides a class — both engines classify "
    "identically by construction.  The running sum is "
    "operators/topk.global_prefix_sum (range partition + partitioned "
    "cumsum + broadcast offsets — no single-partition window); at "
    "driver-fixture cents scale the BIGINT cross-products stay "
    "< 2^63, at 100 TB the same comparison moves to DECIMAL(38)",
)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        )
        .cast("long")
        .alias("cents")
    )
    # Round-12: total revenue rides the prefix-sum offsets collect —
    # the old tot re-ran the whole lineitem groupBy a second time
    pre, t, _n = global_prefix_sum(
        rev,
        [F.col("cents").desc(), F.col("l_partkey")],
        "cents",
        out_col="prefix",
    )
    cls = pre.select(
        "cents",
        F.when(F.col("prefix") * 5 <= F.lit(t).cast("long") * 4, "A")
        .when(F.col("prefix") * 20 <= F.lit(t).cast("long") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(F.sum("cents") * 1.0 / F.lit(t).cast("long"), 6).alias(
                "revenue_share"
            ),
        )
        .select("abc_class", "n_parts", "revenue_share")
        .orderBy("abc_class")
    )


@register(
    "agg_lorenz_curve_points",
    oracle="""
WITH rev AS MATERIALIZED (
  SELECT o_custkey,
         CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS t FROM rev),
ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS i
  FROM rev
),
dec AS (
  SELECT CAST(floor((i - 1) * 10.0 / n) AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS c,
         CAST(sum(cents) AS BIGINT) AS sc
  FROM ranked, tot GROUP BY 1
)
SELECT decile,
       round(sum(c) OVER w * 1.0 / n, 4) AS cum_pop_share,
       round(sum(sc) OVER w * 1.0 / t, 6) AS cum_revenue_share
FROM dec, tot
WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
ORDER BY decile
""",
    doc="Lorenz curve of customer revenue at decile resolution — the "
    "curve whose area complement agg_gini_revenue_concentration "
    "summarizes: customers ordered ascending by revenue cents via "
    "operators/topk.global_ordinal (range partition + broadcast "
    "offsets, no single-partition window), decile = exact integer "
    "floor((i-1)*10/n), then a 10-row cumulative window over the "
    "bounded decile table.  Integer cents everywhere; only the two "
    "output shares are floating point",
)
def agg_lorenz_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import global_ordinal

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("cents")
    )
    ranked, n = global_ordinal(
        rev, [F.col("cents"), F.col("o_custkey")], out_col="i"
    )
    # Round-12: total cents aggregates over the ordinal's checkpointed
    # output (20k rows) instead of re-running the orders groupBy
    tot = ranked.agg(F.sum("cents").cast("long").alias("t"))
    dec = (
        ranked.select(
            F.floor((F.col("i") - 1) * 10.0 / F.lit(n))
            .cast("long")
            .alias("decile"),
            "cents",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("cents").cast("long").alias("sc"),
        )
    )
    # 10 fixed deciles: bounded-domain cumulative window
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dec.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.round(F.sum("c").over(w) * 1.0 / F.lit(n), 4).alias(
                "cum_pop_share"
            ),
            F.round(F.sum("sc").over(w) * 1.0 / F.col("t"), 6).alias(
                "cum_revenue_share"
            ),
        )
        .orderBy("decile")
    )


# ------------------------------------------ Simpson's-paradox guard


@register(
    "stats_simpsons_paradox",
    oracle="""
WITH nat AS MATERIALIZED (
  SELECT c.c_nationkey AS nation,
         CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                       THEN round(o.o_totalprice * 100) END) AS BIGINT)
           AS su,
         CAST(count(*) FILTER (WHERE o.o_orderpriority = '1-URGENT')
              AS BIGINT) AS nu,
         CAST(sum(CASE WHEN o.o_orderpriority = '5-LOW'
                       THEN round(o.o_totalprice * 100) END) AS BIGINT)
           AS sl,
         CAST(count(*) FILTER (WHERE o.o_orderpriority = '5-LOW')
              AS BIGINT) AS nl
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(su) AS BIGINT) AS tsu, CAST(sum(nu) AS BIGINT) AS tnu,
         CAST(sum(sl) AS BIGINT) AS tsl, CAST(sum(nl) AS BIGINT) AS tnl
  FROM nat
)
SELECT round((tsu * 1.0 / tnu - tsl * 1.0 / tnl) / 100, 4)
         AS overall_diff,
       CAST(count(*) FILTER (WHERE nu > 0 AND nl > 0) AS BIGINT)
         AS n_subgroups,
       CAST(count(*) FILTER (WHERE nu > 0 AND nl > 0
              AND (su * nl > sl * nu) = (tsu * tnl > tsl * tnu))
            AS BIGINT) AS n_agree,
       CAST(count(*) FILTER (WHERE nu > 0 AND nl > 0
              AND (su * nl > sl * nu) <> (tsu * tnl > tsl * tnu))
            AS BIGINT) AS n_reverse,
       count(*) FILTER (WHERE nu > 0 AND nl > 0
         AND (su * nl > sl * nu) <> (tsu * tnl > tsl * tnu))
         > count(*) FILTER (WHERE nu > 0 AND nl > 0
             AND (su * nl > sl * nu) = (tsu * tnl > tsl * tnu))
         AS simpson_flag
FROM nat, tot
GROUP BY tsu, tnu, tsl, tnl
""",
    doc="Simpson's-paradox guard for segment comparisons: does the "
    "URGENT-vs-LOW average-order-value gap keep its sign inside "
    "every customer nation, or does the aggregate comparison "
    "reverse?  Mean comparisons are EXACT integer "
    "cross-multiplications over cent sums (su*nl vs sl*nu — the "
    "float-free comparison discipline), so no engine-dependent "
    "average ever decides a direction.  One fact join + a 25-row "
    "nation rollup; the paradox verdict is a bounded second "
    "aggregate",
)
def stats_simpsons_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100)
    urgent = F.col("o_orderpriority") == "1-URGENT"
    low = F.col("o_orderpriority") == "5-LOW"
    nat = (
        orders.filter(urgent | low)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(F.when(urgent, cents)).cast("long").alias("su"),
            F.count(F.when(urgent, 1)).cast("long").alias("nu"),
            F.sum(F.when(low, cents)).cast("long").alias("sl"),
            F.count(F.when(low, 1)).cast("long").alias("nl"),
        )
        .localCheckpoint(eager=False)  # 25 rows, feeds overall + verdict
    )
    tot = nat.agg(
        F.sum("su").cast("long").alias("tsu"),
        F.sum("nu").cast("long").alias("tnu"),
        F.sum("sl").cast("long").alias("tsl"),
        F.sum("nl").cast("long").alias("tnl"),
    )
    both = (F.col("nu") > 0) & (F.col("nl") > 0)
    sub_gt = F.col("su") * F.col("nl") > F.col("sl") * F.col("nu")
    tot_gt = F.col("tsu") * F.col("tnl") > F.col("tsl") * F.col("tnu")
    agree = F.count(F.when(both & (sub_gt == tot_gt), 1)).cast("long")
    reverse = F.count(F.when(both & (sub_gt != tot_gt), 1)).cast("long")
    return (
        nat.crossJoin(F.broadcast(tot))
        .groupBy("tsu", "tnu", "tsl", "tnl")
        .agg(
            F.count(F.when(both, 1)).cast("long").alias("n_subgroups"),
            agree.alias("n_agree"),
            reverse.alias("n_reverse"),
            (reverse > agree).alias("simpson_flag"),
        )
        .select(
            F.round(
                (
                    F.col("tsu") * 1.0 / F.col("tnu")
                    - F.col("tsl") * 1.0 / F.col("tnl")
                )
                / 100,
                4,
            ).alias("overall_diff"),
            "n_subgroups",
            "n_agree",
            "n_reverse",
            "simpson_flag",
        )
    )


# ------------------------------------------ generalization ladder


@register(
    "privacy_generalization_bands",
    oracle="""
WITH j AS MATERIALIZED (
  SELECT c.c_nationkey AS nat, n.n_regionkey AS reg,
         CAST(floor(c.c_acctbal / 100) AS BIGINT) AS bal100,
         CAST(floor(c.c_acctbal / 1000) AS BIGINT) AS bal1000,
         c.c_mktsegment AS seg
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
),
l0 AS (SELECT count(*) AS s FROM j GROUP BY nat, bal100, seg),
l1 AS (SELECT count(*) AS s FROM j GROUP BY reg, bal1000, seg),
l2 AS (SELECT count(*) AS s FROM j GROUP BY reg, seg),
u AS (
  SELECT 'L0_nation_bal100_seg' AS level, * FROM l0
  UNION ALL SELECT 'L1_region_bal1000_seg', * FROM l1
  UNION ALL SELECT 'L2_region_seg', * FROM l2
)
SELECT level,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(s) AS BIGINT) AS min_class_size,
       CAST(count(*) FILTER (WHERE s < 5) AS BIGINT) AS n_small_classes,
       round(coalesce(sum(s) FILTER (WHERE s < 5), 0) * 1.0 / sum(s), 4)
         AS small_rows_share
FROM u GROUP BY level ORDER BY level
""",
    doc="quasi-identifier generalization ladder for k-anonymity "
    "release planning (the step privacy_k_anonymity stops before): "
    "three generalization levels of (geography, account-balance "
    "band, segment) — nation/100-band, region/1000-band, region "
    "only — each profiled for equivalence-class count, smallest "
    "class, and the share of rows living in classes below k=5.  "
    "Three hash aggregates over one broadcast-joined scan, lazily "
    "unioned (the dq_referential_orphans one-action shape)",
)
def privacy_generalization_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = cust.join(
        F.broadcast(nation),
        cust.c_nationkey == nation.n_nationkey,
    ).select(
        F.col("c_nationkey").alias("nat"),
        F.col("n_regionkey").alias("reg"),
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("bal100"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal1000"),
        F.col("c_mktsegment").alias("seg"),
    )

    def level(name: str, keys: list[str]) -> DataFrame:
        sizes = j.groupBy(*keys).agg(F.count(F.lit(1)).alias("s"))
        small = F.col("s") < 5
        return sizes.agg(
            F.lit(name).alias("level"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("s").cast("long").alias("min_class_size"),
            F.count(F.when(small, 1)).cast("long").alias("n_small_classes"),
            F.round(
                F.coalesce(F.sum(F.when(small, F.col("s"))), F.lit(0))
                * 1.0
                / F.sum("s"),
                4,
            ).alias("small_rows_share"),
        )
    return (
        level("L0_nation_bal100_seg", ["nat", "bal100", "seg"])
        .unionAll(level("L1_region_bal1000_seg", ["reg", "bal1000", "seg"]))
        .unionAll(level("L2_region_seg", ["reg", "seg"]))
        .orderBy("level")
    )


# ------------------------------------------ embedding diagnostics


@register(
    "emb_cosine_to_centroid_hist",
    oracle="""
WITH v AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings
),
dims AS (
  SELECT label, i.i AS pos, round(avg(e[i.i]), 6) AS m
  FROM v, LATERAL (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY 1, 2
),
cents AS (
  SELECT label, list(m ORDER BY pos) AS cv FROM dims GROUP BY 1
),
scored AS (
  SELECT v.vec_id,
         list_dot_product(v.e, c.cv)
           / (sqrt(list_dot_product(v.e, v.e))
              * sqrt(list_dot_product(c.cv, c.cv))) AS cos
  FROM v JOIN cents c ON c.label = v.label
),
banded AS (
  SELECT least(CAST(floor(CAST(round(cos * 1000000) AS BIGINT)
                          / 100000.0) AS BIGINT), 9) AS band
  FROM scored
),
tot AS (SELECT count(*) AS n FROM v)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(count(*) * 1.0 / tot.n, 4) AS share
FROM banded, tot GROUP BY band, tot.n ORDER BY band
""",
    doc="histogram of each vector's cosine to its OWN label centroid "
    "in 0.1-wide bands — the compactness profile that flags "
    "mislabeled or drifting embedding clusters (a loose band-0 tail "
    "= label noise).  Centroids are per-(label, dim) means ROUNDED "
    "TO 6DP on both engines before any distance (the established "
    "centroid discipline), so the cosine fold runs on bit-identical "
    "inputs; banding goes through an integer millionths step "
    "(round-to-int, then integer floor-div) so no float band edge "
    "is engine-dependent.  Nothing N-sized survives the first "
    "aggregate except the linear scoring pass",
)
def emb_cosine_to_centroid_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.similarity import _dot

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    cents = (
        v.select("label", F.posexplode("e").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.transform("pm", lambda s: s["m"]).alias("cv"))
    )
    e, cv = F.col("e"), F.col("cv")
    cos = _dot(e, cv) / (F.sqrt(_dot(e, e)) * F.sqrt(_dot(cv, cv)))
    mil = F.round(cos * 1000000).cast("long")
    tot = v.agg(F.count(F.lit(1)).alias("n"))
    return (
        v.join(F.broadcast(cents), "label")
        .select(
            F.least(F.floor(mil / 100000.0), F.lit(9))
            .cast("long")
            .alias("band")
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("band", "n")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .select(
            "band",
            "n_vectors",
            F.round(F.col("n_vectors") * 1.0 / F.col("n"), 4).alias("share"),
        )
        .orderBy("band")
    )


@register(
    "ml_learning_curve",
    oracle="""
WITH raw AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 AS h
  FROM embeddings
),
fracs AS (SELECT unnest([10, 20, 40, 80]) AS frac),
dims AS (
  SELECT f.frac, r.label, i.i AS pos, round(avg(r.e[i.i]), 6) AS m
  FROM raw r JOIN fracs f ON r.h < f.frac,
       LATERAL (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY 1, 2, 3
),
cents AS MATERIALIZED (
  SELECT frac, label, list(m ORDER BY pos) AS cv
  FROM dims GROUP BY 1, 2
),
ntr AS (
  SELECT f.frac, CAST(count(*) AS BIGINT) AS n_train
  FROM raw r JOIN fracs f ON r.h < f.frac GROUP BY 1
),
scored AS (
  SELECT r.vec_id, r.label AS actual, c.frac, c.label AS cand,
         round(list_dot_product(r.e, c.cv)
               / (sqrt(list_dot_product(r.e, r.e))
                  * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
  FROM raw r JOIN cents c ON r.h >= 80
),
pred AS (
  SELECT vec_id, actual, frac, cand FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id, frac
                             ORDER BY sim DESC, cand) = 1
),
acc AS (
  SELECT frac, CAST(count(*) AS BIGINT) AS n_test,
         round(count(*) FILTER (WHERE cand = actual) * 1.0 / count(*), 4)
           AS accuracy
  FROM pred GROUP BY 1
)
SELECT CAST(a.frac AS BIGINT) AS train_pct, n.n_train, a.n_test,
       a.accuracy
FROM acc a JOIN ntr n ON n.frac = a.frac
ORDER BY train_pct
""",
    doc="learning curve of a nearest-centroid classifier at 10/20/40/"
    "80% training fractions (nested md5-hash splits, so each larger "
    "fraction contains the smaller — the variance-free way to draw "
    "a curve), evaluated on the fixed held-out 20%.  Each train "
    "vector feeds every fraction it belongs to via one explode join "
    "(4x the centroid aggregate input, not 4 scans); scoring joins "
    "the <=40-row rounded-6dp centroid table broadcast against the "
    "test split, ranks by (sim DESC, label) — the ml_knn_classify_"
    "ann ranking discipline.  A flat curve says the corpus is "
    "redundant; that is the datapoint LLM-data budgeting wants",
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _dot

    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
        (
            F.expr(
                "cast(conv(substr(md5(cast(vec_id as string)), 1, 15),"
                " 16, 10) as bigint)"
            )
            % 100
        ).alias("h"),
    )
    fracs = F.array(*[F.lit(x) for x in (10, 20, 40, 80)])
    train = raw.select(
        "label", "e", "h", F.explode(fracs).alias("frac")
    ).filter(F.col("h") < F.col("frac"))
    cents = (
        train.select("frac", "label", F.posexplode("e").alias("pos", "val"))
        .groupBy("frac", "label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .groupBy("frac", "label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "frac",
            F.col("label").alias("cand"),
            F.transform("pm", lambda s: s["m"]).alias("cv"),
        )
    )
    ntr = train.groupBy("frac").agg(
        F.count(F.lit(1)).cast("long").alias("n_train")
    )
    test = raw.filter(F.col("h") >= 80).select(
        "vec_id", F.col("label").alias("actual"), "e"
    )
    e, cv = F.col("e"), F.col("cv")
    sim = F.round(
        _dot(e, cv) / (F.sqrt(_dot(e, e)) * F.sqrt(_dot(cv, cv))), 6
    )
    scored = test.join(F.broadcast(cents)).select(
        "vec_id", "actual", "frac", "cand", sim.alias("sim")
    )
    w = Window.partitionBy("vec_id", "frac").orderBy(F.desc("sim"), "cand")
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    acc = pred.groupBy("frac").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.round(
            F.count(F.when(F.col("cand") == F.col("actual"), 1))
            * 1.0
            / F.count(F.lit(1)),
            4,
        ).alias("accuracy"),
    )
    return (
        acc.join(ntr, "frac")
        .select(
            F.col("frac").cast("long").alias("train_pct"),
            "n_train",
            "n_test",
            "accuracy",
        )
        .orderBy("train_pct")
    )


@register(
    "ml_class_weights",
    oracle="""
WITH g AS (SELECT label, CAST(count(*) AS BIGINT) AS n
           FROM embeddings GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS k FROM g)
SELECT label, n,
       round(t * 1.0 / (k * n), 6) AS inv_freq_weight,
       round((1 - 0.999) / (1 - pow(0.999, n)), 6) AS eff_num_weight
FROM g, tot ORDER BY label
""",
    doc="class-imbalance weights per embedding label: classic "
    "inverse-frequency (n_total / (n_classes * n_c)) and the "
    "effective-number-of-samples weight (1-b)/(1-b^n) with b=0.999 "
    "from Cui et al.'s class-balanced loss — the two standard "
    "reweighting tables a training pipeline materializes before "
    "sampling.  One bounded-label aggregate; pow() lands within an "
    "ulp on both engines and the 6dp round absorbs it",
)
def ml_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    n = F.col("n")
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n",
            F.round(F.col("t") * 1.0 / (F.col("k") * n), 6).alias(
                "inv_freq_weight"
            ),
            F.round((1 - 0.999) / (1 - F.pow(F.lit(0.999), n)), 6).alias(
                "eff_num_weight"
            ),
        )
        .orderBy("label")
    )


# ------------------------------------------ freshness audit


@register(
    "dq_freshness_lag",
    oracle="""
WITH gm AS (SELECT max(ts) AS g FROM events)
SELECT event_type,
       max(ts) AS last_ts,
       CAST(floor(epoch(gm.g)) - floor(epoch(max(ts))) AS BIGINT)
         AS lag_secs,
       CAST(count(*) FILTER (WHERE ts >= gm.g - INTERVAL 24 HOUR)
            AS BIGINT) AS rows_last_24h,
       floor(epoch(gm.g)) - floor(epoch(max(ts))) > 3600 AS stale
FROM events, gm
GROUP BY event_type, gm.g ORDER BY event_type
""",
    doc="per-stream freshness audit: each event type's high-water "
    "timestamp, its lag behind the global watermark in seconds "
    "(floor(epoch()) per timestamp — the fractional-seconds "
    "discipline), trailing-24h row volume, and a >1h staleness "
    "flag — the table a CDC operator pages on when one topic "
    "partition wedges (reference's consumer is exactly such a "
    "single stream, consumer_to_opensearch.py:67-96).  One 1-row "
    "watermark broadcast + one scan",
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    gm = ev.agg(F.max("ts").alias("g"))
    agged = (
        ev.crossJoin(F.broadcast(gm))
        .groupBy("event_type", "g")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(
                F.when(
                    F.col("ts") >= F.col("g") - F.expr("INTERVAL 24 HOURS"),
                    1,
                )
            )
            .cast("long")
            .alias("rows_last_24h"),
        )
    )
    lag = F.unix_timestamp("g") - F.unix_timestamp("last_ts")
    return agged.select(
        "event_type",
        "last_ts",
        lag.cast("long").alias("lag_secs"),
        "rows_last_24h",
        (lag > 3600).alias("stale"),
    ).orderBy("event_type")


# ------------------------------------------ skyline / Pareto frontier


@register(
    "agg_skyline_pareto_2d",
    oracle="""
WITH pm AS (
  SELECT p_retailprice AS price, max(p_size) AS meq
  FROM part GROUP BY 1
),
sky AS (
  SELECT price, meq,
         max(meq) OVER (ORDER BY price
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS mlt
  FROM pm
)
SELECT p.p_partkey, p.p_retailprice AS price,
       CAST(p.p_size AS BIGINT) AS size
FROM part p
JOIN sky s ON s.price = p.p_retailprice AND p.p_size = s.meq
WHERE s.mlt IS NULL OR s.meq > s.mlt
ORDER BY price, p_partkey
""",
    doc="2-D skyline (Pareto frontier) over parts: minimize price, "
    "maximize size; a part survives iff nothing is at-most-as-"
    "expensive AND at-least-as-large with one strict.  The classic "
    "O(N^2) dominance test collapses to sorted prefix maxima: "
    "survivor <=> size equals its price-level max AND beats the max "
    "size over all STRICTLY cheaper price levels.  The price-level "
    "aggregate bounds the window input to distinct prices, and the "
    "exclusive running max is operators/topk.global_prefix_max "
    "(range partition + per-partition strict-preceding max + "
    "broadcast partition offsets — no single-partition window).  "
    "Equality joins on raw parquet doubles only; no arithmetic ever "
    "feeds a comparison",
)
def agg_skyline_pareto_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import global_prefix_max

    part = load_table(spark, sf_dir, "part")
    pm = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("meq")
    )
    sky = global_prefix_max(
        pm, [F.col("price")], "meq", out_col="mlt"
    ).filter(F.col("mlt").isNull() | (F.col("meq") > F.col("mlt")))
    return (
        part.join(
            sky,
            (part.p_retailprice == sky.price)
            & (part.p_size == sky.meq),
        )
        .select(
            "p_partkey",
            F.col("p_retailprice").alias("price"),
            F.col("p_size").cast("long").alias("size"),
        )
        .orderBy("price", "p_partkey")
    )


# ------------------------------------------ WoE / IV encoding


@register(
    "ml_woe_binning",
    oracle="""
WITH b AS (
  SELECT CAST(floor((l_quantity - 1) / 10) AS BIGINT) AS band,
         CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
           AS n_pos,
         CAST(count(*) FILTER (WHERE l_returnflag <> 'R') AS BIGINT)
           AS n_neg
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS pt,
               CAST(sum(n_neg) AS BIGINT) AS nt FROM b)
SELECT band, n_pos, n_neg,
       round(ln((n_pos * 1.0 * nt) / (n_neg * 1.0 * pt)), 6) AS woe,
       round((n_pos * 1.0 / pt - n_neg * 1.0 / nt)
             * ln((n_pos * 1.0 * nt) / (n_neg * 1.0 * pt)), 6)
         AS iv_contrib
FROM b, tot ORDER BY band
""",
    doc="weight-of-evidence encoding of quantity bands against the "
    "returned-flag target, with per-band information-value "
    "contributions — the credit-scoring-style categorical encoder "
    "(its sum is the IV feature screen).  Five fixed 10-unit bands, "
    "so one conditional aggregate + a broadcast totals join; WoE is "
    "ln of a cross-multiplied integer ratio (no chained float "
    "divisions) and every band holds both classes at every fixture "
    "scale, so the log argument is provably positive",
)
def ml_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pos = F.col("l_returnflag") == "R"
    b = li.groupBy(
        F.floor((F.col("l_quantity") - 1) / 10).cast("long").alias("band")
    ).agg(
        F.count(F.when(pos, 1)).cast("long").alias("n_pos"),
        F.count(F.when(~pos, 1)).cast("long").alias("n_neg"),
    )
    tot = b.agg(
        F.sum("n_pos").cast("long").alias("pt"),
        F.sum("n_neg").cast("long").alias("nt"),
    )
    np_, nn = F.col("n_pos"), F.col("n_neg")
    pt, nt = F.col("pt"), F.col("nt")
    woe = F.log((np_ * 1.0 * nt) / (nn * 1.0 * pt))
    return (
        b.crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_pos",
            "n_neg",
            F.round(woe, 6).alias("woe"),
            F.round((np_ * 1.0 / pt - nn * 1.0 / nt) * woe, 6).alias(
                "iv_contrib"
            ),
        )
        .orderBy("band")
    )


# ------------------------------------------ embedding norm health


@register(
    "emb_norm_profile",
    oracle="""
WITH n AS (
  SELECT label,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
s AS (
  SELECT label, count(*) AS n, avg(nrm) AS m,
         sum(nrm * nrm) AS s2, min(nrm) AS mn, max(nrm) AS mx
  FROM n GROUP BY 1
)
SELECT label, CAST(n AS BIGINT) AS n_vectors,
       round(m, 6) AS mean_norm,
       round(sqrt(s2 / n - m * m), 6) AS std_norm,
       round(mn, 6) AS min_norm,
       round(mx, 6) AS max_norm
FROM s ORDER BY label
""",
    doc="L2-norm distribution per embedding label — the 30-second "
    "health check that catches un-normalized model output, fp16 "
    "underflow, and truncated vectors before they poison cosine "
    "math downstream.  Per-vector norms are identical left-to-right "
    "folds on both engines; the spread uses population power sums "
    "(the agg_skew_kurtosis_moments convention-free discipline), "
    "one bounded-label aggregate total",
)
def emb_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _dot

    e = F.col("embedding").cast("array<double>")
    n = load_table(spark, sf_dir, "embeddings").select(
        "label", F.sqrt(_dot(e, e)).alias("nrm")
    )
    s = n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("nrm").alias("m"),
        F.sum(F.col("nrm") * F.col("nrm")).alias("s2"),
        F.min("nrm").alias("mn"),
        F.max("nrm").alias("mx"),
    )
    return s.select(
        "label",
        F.col("n").cast("long").alias("n_vectors"),
        F.round(F.col("m"), 6).alias("mean_norm"),
        F.round(
            F.sqrt(F.col("s2") / F.col("n") - F.col("m") * F.col("m")), 6
        ).alias("std_norm"),
        F.round(F.col("mn"), 6).alias("min_norm"),
        F.round(F.col("mx"), 6).alias("max_norm"),
    ).orderBy("label")


# ------------------------------------------ SPC c-chart


@register(
    "dq_spc_c_chart",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type = 'error' GROUP BY 1
),
lim AS (SELECT avg(c) AS cbar FROM d)
SELECT day, c,
       round(cbar, 4) AS cbar,
       round(cbar + 3 * sqrt(cbar), 4) AS ucl,
       round(greatest(cbar - 3 * sqrt(cbar), 0), 4) AS lcl,
       c > cbar + 3 * sqrt(cbar) AS above_ucl
FROM d, lim ORDER BY day
""",
    doc="Shewhart c-chart on daily error-event counts: center line "
    "c-bar with 3-sigma Poisson limits (sigma = sqrt(c-bar)) and a "
    "per-day breach flag — the count-data sibling of dq_spc_p_chart "
    "for burst detection on defect streams.  One calendar-bounded "
    "daily aggregate + a 1-row broadcast of the limits; the breach "
    "compare runs integer-count vs identically-derived double on "
    "both engines",
)
def dq_spc_c_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lim = d.agg(F.avg("c").alias("cbar"))
    cbar = F.col("cbar")
    ucl = cbar + 3 * F.sqrt(cbar)
    return (
        d.crossJoin(F.broadcast(lim))
        .select(
            "day",
            "c",
            F.round(cbar, 4).alias("cbar"),
            F.round(ucl, 4).alias("ucl"),
            F.round(F.greatest(cbar - 3 * F.sqrt(cbar), F.lit(0.0)), 4)
            .alias("lcl"),
            (F.col("c") > ucl).alias("above_ucl"),
        )
        .orderBy("day")
    )


# ------------------------------------------ corpus JSD drift


@register(
    "text_js_divergence_sources",
    oracle="""
WITH tok AS MATERIALIZED (
  SELECT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
),
sw AS MATERIALIZED (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
),
cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM sw GROUP BY 1),
st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts FROM sw GROUP BY 1),
tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM sw),
terms AS (
  SELECT sw.source,
         st.ts,
         sw.c * 1.0 / st.ts AS p,
         cw.cw * 1.0 / tt.t AS q
  FROM sw JOIN cw USING (w) JOIN st USING (source), tt
)
SELECT source, max(ts) AS n_tokens,
       round(0.5 * (sum(p * ln(2 * p / (p + q))
                        + q * ln(2 * q / (p + q)))
                    + ln(2) * (1 - sum(q))), 6) AS jsd
FROM terms GROUP BY source ORDER BY source
""",
    doc="Jensen-Shannon divergence of each source's unigram "
    "distribution from the whole-corpus distribution — the bounded "
    "symmetric drift metric (0..ln2 nats) corpus curation uses to "
    "rank sources for distributional skew.  The absent-word mass is "
    "folded in CLOSED FORM (sum over words missing from a source of "
    "q*ln2 = ln2*(1-Q_s)), so the computation touches only "
    "(source, word) pairs that exist — never the vocab x sources "
    "cross product.  Three hash aggregates over one tokenize pass",
)
def text_js_divergence_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    sw = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds corpus, source AND total rollups
    )
    cw = sw.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    st = sw.groupBy("source").agg(F.sum("c").cast("long").alias("ts"))
    tt = sw.agg(F.sum("c").cast("long").alias("t"))
    p = F.col("c") * 1.0 / F.col("ts")
    q = F.col("cw") * 1.0 / F.col("t")
    term = p * F.log(2 * p / (p + q)) + q * F.log(2 * q / (p + q))
    return (
        sw.join(cw, "w")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tt))
        .select("source", F.col("ts").alias("ts"), term.alias("term"), q.alias("q"))
        .groupBy("source")
        .agg(
            F.max("ts").alias("n_tokens"),
            F.round(
                0.5
                * (
                    F.sum("term")
                    + F.log(F.lit(2.0)) * (1 - F.sum("q"))
                ),
                6,
            ).alias("jsd"),
        )
        .orderBy("source")
    )


# ------------------------------------------ Cramer's V panel


@register(
    "stats_cramers_v_pairs",
    oracle="""
WITH j AS MATERIALIZED (
  SELECT o.o_orderpriority AS pri, o.o_orderstatus AS st,
         c.c_mktsegment AS seg
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
pairs AS (
  SELECT 'priority_x_status' AS pair, pri AS a, st AS b FROM j
  UNION ALL SELECT 'segment_x_status', seg, st FROM j
  UNION ALL SELECT 'priority_x_segment', pri, seg FROM j
),
cells AS MATERIALIZED (
  SELECT pair, a, b, CAST(count(*) AS BIGINT) AS o
  FROM pairs GROUP BY 1, 2, 3
),
ra AS (SELECT pair, a, CAST(sum(o) AS BIGINT) AS rt
       FROM cells GROUP BY 1, 2),
cb AS (SELECT pair, b, CAST(sum(o) AS BIGINT) AS ct
       FROM cells GROUP BY 1, 2),
tot AS (SELECT pair, CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT a) AS BIGINT) AS r,
               CAST(count(DISTINCT b) AS BIGINT) AS cc
        FROM cells GROUP BY 1),
chi AS (
  SELECT cells.pair,
         sum(pow(cells.o - ra.rt * 1.0 * cb.ct / tot.n, 2)
             / (ra.rt * 1.0 * cb.ct / tot.n)) AS chi2
  FROM cells
  JOIN ra ON ra.pair = cells.pair AND ra.a = cells.a
  JOIN cb ON cb.pair = cells.pair AND cb.b = cells.b
  JOIN tot ON tot.pair = cells.pair
  GROUP BY 1
)
SELECT chi.pair, tot.n,
       round(chi.chi2, 4) AS chi2,
       round(sqrt(chi.chi2 / (tot.n * least(tot.r - 1, tot.cc - 1))), 6)
         AS cramers_v
FROM chi JOIN tot ON tot.pair = chi.pair
ORDER BY chi.pair
""",
    doc="Cramer's V association panel over three categorical pairs "
    "(priority x status, segment x status, priority x segment) — "
    "the normalized 0..1 effect size stats_chi_square_independence "
    "stops short of, computed for several pairs in ONE stacked "
    "pipeline: the fact join runs once, a 3-way label union feeds "
    "one cells aggregate, and everything after is "
    "category-domain-bounded (<=30 cells per pair).  Observed "
    "counts and marginals are exact integers; only chi2 itself is "
    "floating point, rounded on both engines",
)
def stats_cramers_v_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
        F.col("c_mktsegment").alias("seg"),
    )
    pairs = (
        j.select(F.lit("priority_x_status").alias("pair"),
                 F.col("pri").alias("a"), F.col("st").alias("b"))
        .unionAll(
            j.select(F.lit("segment_x_status").alias("pair"),
                     F.col("seg").alias("a"), F.col("st").alias("b"))
        )
        .unionAll(
            j.select(F.lit("priority_x_segment").alias("pair"),
                     F.col("pri").alias("a"), F.col("seg").alias("b"))
        )
    )
    cells = (
        pairs.groupBy("pair", "a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .localCheckpoint(eager=False)  # bounded: feeds 4 rollups
    )
    ra = cells.groupBy("pair", "a").agg(
        F.sum("o").cast("long").alias("rt")
    )
    cb = cells.groupBy("pair", "b").agg(
        F.sum("o").cast("long").alias("ct")
    )
    tot = cells.groupBy("pair").agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("a").cast("long").alias("r"),
        F.countDistinct("b").cast("long").alias("cc"),
    )
    e = F.col("rt") * 1.0 * F.col("ct") / F.col("n")
    chi = (
        cells.join(ra, ["pair", "a"])
        .join(cb, ["pair", "b"])
        .join(F.broadcast(tot), "pair")
        .groupBy("pair")
        .agg(F.sum(F.pow(F.col("o") - e, 2) / e).alias("chi2"))
    )
    return (
        chi.join(F.broadcast(tot), "pair")
        .select(
            "pair",
            "n",
            F.round(F.col("chi2"), 4).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n") * F.least(F.col("r") - 1, F.col("cc") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
        .orderBy("pair")
    )


# ------------------------------------------ changepoint detection


@register(
    "ts_changepoint_binary_seg",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
cum AS (
  SELECT day,
         CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS cs,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
  FROM d
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(cents) AS BIGINT) AS s FROM d),
cand AS (
  SELECT day, t, nd - t AS tr,
         cs * 1.0 / t / 100 AS ml,
         (s - cs) * 1.0 / (nd - t) / 100 AS mr,
         round(sqrt(t * (nd - t) * 1.0 / nd)
               * abs(cs * 1.0 / t - (s - cs) * 1.0 / (nd - t)) / 100, 6)
           AS t_stat
  FROM cum, tot WHERE t < nd
)
SELECT day AS split_day, t AS n_before, tr AS n_after,
       round(t_stat, 4) AS t_stat,
       round(ml, 4) AS mean_before,
       round(mr, 4) AS mean_after
FROM cand ORDER BY t_stat DESC, day LIMIT 1
""",
    doc="one-level binary-segmentation changepoint on daily purchase "
    "revenue: the split t maximizing the scaled mean shift "
    "sqrt(nL*nR/n)*|muL-muR| (the CUSUM-equivalent statistic; "
    "ts_cusum_drift flags drift, this LOCATES the break).  Daily "
    "cents are exact integers, candidate stats come from one "
    "cumulative pass over the calendar-bounded day table, and the "
    "argmax is a TakeOrdered top-1 on the 6dp-rounded statistic "
    "with a date tiebreak — the established ranking discipline, no "
    "global window over raw data",
)
def ts_changepoint_binary_seg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents"))
    )
    # calendar-bounded (~30 day) series: cumulative window allowlisted
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = d.select(
        "day",
        F.sum("cents").over(w).cast("long").alias("cs"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("cents").cast("long").alias("s"),
    )
    t, cs, nd, s = F.col("t"), F.col("cs"), F.col("nd"), F.col("s")
    ml = cs * 1.0 / t / 100
    mr = (s - cs) * 1.0 / (nd - t) / 100
    t_stat = F.round(
        F.sqrt(t * (nd - t) * 1.0 / nd)
        * F.abs(cs * 1.0 / t - (s - cs) * 1.0 / (nd - t))
        / 100,
        6,
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(t < nd)
        .select(
            F.col("day").alias("split_day"),
            t.alias("n_before"),
            (nd - t).alias("n_after"),
            t_stat.alias("t_stat_raw"),
            ml.alias("ml"),
            mr.alias("mr"),
        )
        .orderBy(F.desc("t_stat_raw"), "split_day")
        .limit(1)
        .select(
            "split_day",
            "n_before",
            "n_after",
            F.round(F.col("t_stat_raw"), 4).alias("t_stat"),
            F.round(F.col("ml"), 4).alias("mean_before"),
            F.round(F.col("mr"), 4).alias("mean_after"),
        )
    )


# ------------------------------------------ Theil decomposition


@register(
    "agg_theil_index_decomposition",
    oracle="""
WITH rev AS MATERIALIZED (
  SELECT o.o_custkey, c.c_nationkey AS nation,
         CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
g AS MATERIALIZED (
  SELECT nation, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(cents) AS BIGINT) AS sg
  FROM rev GROUP BY 1
),
tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
               CAST(sum(sg) AS BIGINT) AS s FROM g),
w AS (
  SELECT sum(r.cents * ln(r.cents * 1.0 * g.ng / g.sg)) AS sw
  FROM rev r JOIN g ON g.nation = r.nation
),
btw AS (
  SELECT sum(g.sg * ln(g.sg * 1.0 * tot.n / (g.ng * 1.0 * tot.s)))
           AS sb
  FROM g, tot
)
SELECT tot.n AS n_customers,
       round((w.sw + btw.sb) / tot.s, 6) AS theil_total,
       round(w.sw / tot.s, 6) AS theil_within,
       round(btw.sb / tot.s, 6) AS theil_between
FROM w, btw, tot
""",
    doc="Theil T inequality index of customer revenue with its exact "
    "additive within/between-nation decomposition — the inequality "
    "lens Gini cannot decompose (agg_gini_revenue_concentration's "
    "complement): T = (1/S) sum x*ln(x*n_g/S_g) within + (1/S) sum "
    "S_g*ln(S_g*n/(n_g*S)) between, algebraically restated so the "
    "within term needs only GROUP means joined back (25-row "
    "broadcast) and total = within + between holds by construction "
    "(pinned in tests).  Revenue is integer cents; one fact join, "
    "one bounded rollup, two scalar folds",
)
def agg_theil_index_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_custkey", F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents")
        )
        .localCheckpoint(eager=False)  # feeds the rollup AND the fold
    )
    g = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("cents").cast("long").alias("sg"),
    )
    tot = g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
    )
    w = (
        rev.join(F.broadcast(g), "nation")
        .agg(
            F.sum(
                F.col("cents")
                * F.log(F.col("cents") * 1.0 * F.col("ng") / F.col("sg"))
            ).alias("sw")
        )
    )
    btw = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("sg")
            * F.log(
                F.col("sg") * 1.0 * F.col("n")
                / (F.col("ng") * 1.0 * F.col("s"))
            )
        ).alias("sb")
    )
    return (
        w.crossJoin(F.broadcast(btw))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_customers"),
            F.round((F.col("sw") + F.col("sb")) / F.col("s"), 6).alias(
                "theil_total"
            ),
            F.round(F.col("sw") / F.col("s"), 6).alias("theil_within"),
            F.round(F.col("sb") / F.col("s"), 6).alias("theil_between"),
        )
    )


# ------------------------------------------ inter-order cadence


@register(
    "win_interorder_gap_stats",
    oracle="""
WITH g AS (
  SELECT date_diff('day',
           CAST(lag(o_orderdate) OVER w AS DATE),
           CAST(o_orderdate AS DATE)) AS gap
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT CAST(count(gap) AS BIGINT) AS n_gaps,
       round(avg(gap), 4) AS avg_gap_days,
       round(quantile_cont(gap, 0.25), 4) AS p25_days,
       round(quantile_cont(gap, 0.50), 4) AS median_days,
       round(quantile_cont(gap, 0.75), 4) AS p75_days,
       CAST(max(gap) AS BIGINT) AS max_gap_days
FROM g
""",
    doc="inter-order cadence profile: day gaps between each "
    "customer's consecutive orders (per-customer lag window — "
    "partitioned, shuffles once on the customer key), summarized "
    "globally with exact interpolated quartiles.  The purchase-"
    "frequency fingerprint behind churn/LTV features; gaps are "
    "exact integer day arithmetic on both engines",
)
def win_interorder_gap_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = load_table(spark, sf_dir, "orders").select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate")).over(w).cast("date"),
        ).alias("gap")
    )
    gap = F.col("gap")
    return g.agg(
        F.count(gap).cast("long").alias("n_gaps"),
        F.round(F.avg(gap), 4).alias("avg_gap_days"),
        F.round(F.percentile(gap, 0.25), 4).alias("p25_days"),
        F.round(F.percentile(gap, 0.50), 4).alias("median_days"),
        F.round(F.percentile(gap, 0.75), 4).alias("p75_days"),
        F.max(gap).cast("long").alias("max_gap_days"),
    )


# ------------------------------------------ per-dimension KS drift


@register(
    "ml_feature_drift_ks_per_dim",
    oracle="""
WITH v AS (
  SELECT vec_id % 2 = 0 AS h1, i.i AS dim,
         CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 10) AS BIGINT)
           AS band
  FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i) i
),
n AS (
  SELECT CAST(count(*) FILTER (WHERE vec_id % 2 = 0) AS BIGINT) AS n1,
         CAST(count(*) FILTER (WHERE vec_id % 2 <> 0) AS BIGINT) AS n2
  FROM embeddings
),
cells AS (
  SELECT dim, band,
         CAST(count(*) FILTER (WHERE h1) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE NOT h1) AS BIGINT) AS c2
  FROM v GROUP BY 1, 2
),
cum AS (
  SELECT dim,
         CAST(sum(c1) OVER w AS BIGINT) AS k1,
         CAST(sum(c2) OVER w AS BIGINT) AS k2
  FROM cells
  WINDOW w AS (PARTITION BY dim ORDER BY band ROWS UNBOUNDED PRECEDING)
),
ks AS (
  SELECT dim, max(abs(k1 * n.n2 - k2 * n.n1)) AS num
  FROM cum, n GROUP BY dim, n.n1, n.n2
)
SELECT CAST(dim AS BIGINT) AS dim,
       round(num * 1.0 / (n.n1 * n.n2), 6) AS ks_stat
FROM ks, n
ORDER BY num DESC, dim LIMIT 10
""",
    doc="per-dimension two-sample Kolmogorov-Smirnov drift screen "
    "over the embedding table (even vs odd vector ids standing in "
    "for reference vs production batches): values band to 0.1-wide "
    "bins, per-(dim, band) counts cumulate into banded ECDFs, and "
    "the KS sup-gap is an EXACT INTEGER cross-multiplication "
    "max|k1*n2 - k2*n1| — the stats_ks_two_sample packed-counter "
    "discipline applied per dimension, with the top-10 ranking done "
    "on the exact integer numerator (no float ever orders the "
    "result).  Everything after the one explode pass is bounded by "
    "dims x bands",
)
def ml_feature_drift_ks_per_dim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        (F.col("vec_id") % 2 == 0).alias("h1"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "val"
        ),
    ).select(
        "h1",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("val") * 10).cast("long").alias("band"),
    )
    n = emb.agg(
        F.count(F.when(F.col("vec_id") % 2 == 0, 1))
        .cast("long")
        .alias("n1"),
        F.count(F.when(F.col("vec_id") % 2 != 0, 1))
        .cast("long")
        .alias("n2"),
    )
    cells = v.groupBy("dim", "band").agg(
        F.count(F.when(F.col("h1"), 1)).cast("long").alias("c1"),
        F.count(F.when(~F.col("h1"), 1)).cast("long").alias("c2"),
    )
    w = (
        Window.partitionBy("dim")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.select(
        "dim",
        F.sum("c1").over(w).cast("long").alias("k1"),
        F.sum("c2").over(w).cast("long").alias("k2"),
    )
    ks = (
        cum.crossJoin(F.broadcast(n))
        .groupBy("dim", "n1", "n2")
        .agg(
            F.max(
                F.abs(F.col("k1") * F.col("n2") - F.col("k2") * F.col("n1"))
            ).alias("num")
        )
    )
    return (
        ks.select(
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("num") * 1.0 / (F.col("n1") * F.col("n2")), 6)
            .alias("ks_stat"),
            "num",
        )
        .orderBy(F.desc("num"), "dim")
        .limit(10)
        .select("dim", "ks_stat")
    )


# ------------------------------------------ token budget coverage


@register(
    "text_type_coverage_budget",
    oracle="""
WITH cnt AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents) GROUP BY w
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt),
ranked AS (
  SELECT c,
         CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS r,
         CAST(sum(c) OVER (ORDER BY c DESC, w
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
  FROM cnt
),
thr AS (SELECT unnest([50, 80, 90, 95]) AS pct),
hit AS (
  SELECT thr.pct, min(r) AS n_types
  FROM ranked, thr, tot
  WHERE pre * 100 >= thr.pct * tot.t
  GROUP BY 1
)
SELECT CAST(hit.pct AS BIGINT) AS threshold_pct,
       hit.n_types,
       round(ranked.pre * 1.0 / tot.t, 6) AS coverage_share
FROM hit JOIN ranked ON ranked.r = hit.n_types, tot
ORDER BY threshold_pct
""",
    doc="vocabulary budget curve: the smallest number of types (by "
    "frequency rank) whose cumulative token mass reaches 50/80/90/"
    "95%% of the corpus — the tokenizer-sizing companion to "
    "text_zipf_fit and text_heaps_law_fit.  Rank and running mass "
    "come from operators/topk.global_ordinal + global_prefix_sum "
    "over the aggregated type table (no single-partition window "
    "over anything N-sized), and every threshold crossing is the "
    "exact integer comparison pre*100 >= pct*total",
)
def text_type_coverage_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.topk import global_ordinal, global_prefix_sum

    docs = load_table(spark, sf_dir, "documents", spread=True)
    cnt = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked, _n = global_ordinal(
        cnt, [F.desc("c"), F.col("w")], out_col="r"
    )
    # Round-12: the corpus token total rides the prefix-sum offsets
    # collect — the old tot re-ran the documents explode + groupBy
    pre, t, _n = global_prefix_sum(
        ranked, [F.col("r")], "c", out_col="pre"
    )
    pre = pre.select("r", F.col("pre").cast("long").alias("pre"))
    thr = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in (50, 80, 90, 95)])).alias(
            "pct"
        )
    )
    hit = (
        pre.crossJoin(F.broadcast(thr))
        .filter(F.col("pre") * 100 >= F.col("pct") * F.lit(t).cast("long"))
        .groupBy("pct")
        .agg(F.min("r").alias("n_types"))
    )
    return (
        hit.join(pre, hit.n_types == pre.r)
        .select(
            F.col("pct").cast("long").alias("threshold_pct"),
            "n_types",
            F.round(F.col("pre") * 1.0 / F.lit(t).cast("long"), 6).alias(
                "coverage_share"
            ),
        )
        .orderBy("threshold_pct")
    )


# ------------------------------------------ Welch's t-test


@register(
    "stats_welch_t_test",
    oracle="""
WITH j AS (
  SELECT c.c_mktsegment AS seg, o.o_totalprice AS x,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
),
g AS (
  SELECT seg, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS sc,
         sum(x * x) AS s2
  FROM j GROUP BY 1
),
ab AS (
  SELECT a.n AS n_a, b.n AS n_b,
         a.sc / 100.0 / a.n AS m_a, b.sc / 100.0 / b.n AS m_b,
         (a.s2 - a.n * pow(a.sc / 100.0 / a.n, 2)) / (a.n - 1) AS v_a,
         (b.s2 - b.n * pow(b.sc / 100.0 / b.n, 2)) / (b.n - 1) AS v_b
  FROM g a, g b
  WHERE a.seg = 'AUTOMOBILE' AND b.seg = 'HOUSEHOLD'
)
SELECT n_a, n_b,
       round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
       round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_stat,
       round(pow(v_a / n_a + v_b / n_b, 2)
             / (pow(v_a / n_a, 2) / (n_a - 1)
                + pow(v_b / n_b, 2) / (n_b - 1)), 4) AS df_welch
FROM ab
""",
    doc="Welch's unequal-variance t-test for AUTOMOBILE vs HOUSEHOLD "
    "order values, with the Welch-Satterthwaite degrees of freedom "
    "— the robust default two-sample mean test (stats_anova_oneway "
    "assumes equal variances; stats_levene_test is the gatekeeper "
    "that says when you need THIS instead).  Means come from exact "
    "integer cent sums; only the variance power sums are floating "
    "point, computed convention-free as (s2 - n*m^2)/(n-1) on both "
    "engines.  One filtered join + a 2-row aggregate",
)
def stats_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    x = F.col("o_totalprice")
    g = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(x * 100)).cast("long").alias("sc"),
            F.sum(x * x).alias("s2"),
        )
    )
    a = g.filter(F.col("seg") == "AUTOMOBILE").select(
        F.col("n").alias("n_a"), F.col("sc").alias("sc_a"),
        F.col("s2").alias("s2_a"),
    )
    b = g.filter(F.col("seg") == "HOUSEHOLD").select(
        F.col("n").alias("n_b"), F.col("sc").alias("sc_b"),
        F.col("s2").alias("s2_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    ma = F.col("sc_a") / 100.0 / na
    mb = F.col("sc_b") / 100.0 / nb
    va = (F.col("s2_a") - na * F.pow(ma, 2)) / (na - 1)
    vb = (F.col("s2_b") - nb * F.pow(mb, 2)) / (nb - 1)
    se2 = va / na + vb / nb
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "n_b",
        F.round(ma, 4).alias("mean_a"),
        F.round(mb, 4).alias("mean_b"),
        F.round((ma - mb) / F.sqrt(se2), 4).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (F.pow(va / na, 2) / (na - 1) + F.pow(vb / nb, 2) / (nb - 1)),
            4,
        ).alias("df_welch"),
    )


# ------------------------------------------ customer maturation


@register(
    "dash_days_to_nth_order",
    oracle="""
WITH seq AS (
  SELECT o_custkey,
         row_number() OVER w AS rn,
         date_diff('day',
           CAST(min(o_orderdate) OVER (PARTITION BY o_custkey) AS DATE),
           CAST(o_orderdate AS DATE)) AS days
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT CAST(rn AS BIGINT) AS nth,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(quantile_cont(days, 0.25), 4) AS p25_days,
       round(quantile_cont(days, 0.50), 4) AS median_days,
       round(quantile_cont(days, 0.75), 4) AS p75_days
FROM seq WHERE rn IN (2, 3, 5)
GROUP BY rn ORDER BY nth
""",
    doc="customer maturation curve: days from first order to the "
    "2nd/3rd/5th, quartiled across customers — the time-to-repeat "
    "metric LTV models anchor on (win_interorder_gap_stats profiles "
    "single gaps; this profiles the cumulative journey).  One "
    "per-customer window pass (rank + running min date in the same "
    "partition-local sort), exact integer day arithmetic, exact "
    "interpolated quartiles",
)
def dash_days_to_nth_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey")
    seq = load_table(spark, sf_dir, "orders").select(
        F.row_number().over(w).alias("rn"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.min("o_orderdate").over(wp).cast("date"),
        ).alias("days"),
    )
    d = F.col("days")
    return (
        seq.filter(F.col("rn").isin(2, 3, 5))
        .groupBy(F.col("rn").cast("long").alias("nth"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.percentile(d, 0.25), 4).alias("p25_days"),
            F.round(F.percentile(d, 0.50), 4).alias("median_days"),
            F.round(F.percentile(d, 0.75), 4).alias("p75_days"),
        )
        .orderBy("nth")
    )


# ------------------------------------------ normalized co-purchase


@register(
    "graph_bipartite_ochiai_weights",
    oracle="""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
deg AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS d
  FROM items GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT p.part_a, p.part_b, p.n_ab,
       round(p.n_ab / sqrt(da.d * 1.0 * db.d), 6) AS ochiai
FROM pairs p
JOIN deg da ON da.l_partkey = p.part_a
JOIN deg db ON db.l_partkey = p.part_b
ORDER BY ochiai DESC, part_a, part_b
LIMIT 20
""",
    doc="item-item similarity with Ochiai (cosine) normalization: "
    "co-purchase support n_ab scaled by sqrt(deg_a * deg_b), so "
    "popular parts stop dominating the raw-support ranking "
    "basket_copurchase_pairs produces — the last step from "
    "candidate pairs to a usable item-item recommender weight.  "
    "Same basket-bounded pair generation (sum of k^2 per order, "
    "k <= 7), plus two degree joins on the aggregated pair table; "
    "min-support 3 prunes before the joins",
)
def graph_bipartite_ochiai_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(
        eager=False
    )  # feeds the self-join AND the degree rollup
    deg = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    da = deg.select(
        F.col("l_partkey").alias("part_a"), F.col("d").alias("da")
    )
    db = deg.select(
        F.col("l_partkey").alias("part_b"), F.col("d").alias("db")
    )
    return (
        pairs.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab") / F.sqrt(F.col("da") * 1.0 * F.col("db")), 6
            ).alias("ochiai"),
        )
        .orderBy(F.desc("ochiai"), "part_a", "part_b")
        .limit(20)
    )


# ------------------------------------------ DOW seasonality strength


@register(
    "ts_dow_seasonality_strength",
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(date_trunc('day', o_orderdate)) / 86400)
              AS BIGINT) % 7 AS dow,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY date_trunc('day', o_orderdate)
),
g AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s, sum(c * c) AS ss
  FROM d GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(s) AS BIGINT) AS st,
         sum(ss) AS sst, sum(s * s * 1.0 / n) AS sg
  FROM g
),
peak AS (
  SELECT dow FROM g ORDER BY s * 1.0 / n DESC, dow LIMIT 1
)
SELECT tot.nt AS n_days,
       round((sg - st * st * 1.0 / nt) / (sst - st * st * 1.0 / nt), 6)
         AS eta_squared,
       CAST(peak.dow AS BIGINT) AS peak_dow
FROM tot, peak
""",
    doc="day-of-week seasonality strength of daily order volume: "
    "eta-squared (SS_between / SS_total of the one-way dow ANOVA, "
    "the variance share the weekly cycle explains) plus the peak "
    "day.  Day-of-week is ENGINE-FREE integer math — "
    "floor(epoch_days) % 7 — sidestepping the documented "
    "Spark-1=Sunday vs DuckDB-0=Sunday convention clash; all sums "
    "are over integer daily counts, so both engines rank the peak "
    "identically.  Calendar-bounded after the first aggregate",
)
def ts_dow_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            (F.floor(F.unix_timestamp("day") / 86400) % 7)
            .cast("long")
            .alias("dow"),
            "c",
        )
    )
    g = d.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    ).localCheckpoint(eager=False)  # 7 rows, feeds totals AND peak
    tot = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").alias("sst"),
        F.sum(F.col("s") * F.col("s") * 1.0 / F.col("n")).alias("sg"),
    )
    peak = (
        g.orderBy(F.desc(F.col("s") * 1.0 / F.col("n")), "dow")
        .limit(1)
        .select(F.col("dow").alias("peak_dow"))
    )
    st, nt = F.col("st"), F.col("nt")
    ssb = F.col("sg") - st * st * 1.0 / nt
    sstot = F.col("sst") - st * st * 1.0 / nt
    return (
        tot.crossJoin(F.broadcast(peak))
        .select(
            nt.alias("n_days"),
            F.round(ssb / sstot, 6).alias("eta_squared"),
            "peak_dow",
        )
    )


# ------------------------------------------ negative-sampling table


@register(
    "ml_negative_sampling_table",
    oracle="""
WITH cnt AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents) GROUP BY w
),
tot AS (SELECT sum(pow(c, 0.75)) AS t FROM cnt),
top AS (
  SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 50
),
p AS (
  SELECT w, c, pow(c, 0.75) / tot.t AS pn,
         row_number() OVER (ORDER BY c DESC, w) AS r
  FROM top, tot
)
SELECT w AS token, c AS n,
       round(pn, 6) AS p_neg,
       round(sum(pn) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING), 6)
         AS cum_p
FROM p ORDER BY r
""",
    doc="word2vec-style negative-sampling distribution: unigram "
    "counts raised to the 3/4 power and normalized — the standard "
    "table an embedding-training pipeline materializes so frequent "
    "tokens are downweighted as negatives.  Normalizer spans the "
    "FULL vocabulary (one aggregate); display is the top-50 via "
    "TakeOrdered with the cumulative mass those tokens claim "
    "(window over the LIMIT-50 survivors only, plan-audit "
    "allowlisted like text_zipf_fit)",
)
def ml_negative_sampling_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    cnt = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds normalizer AND top-50
    )
    tot = cnt.agg(F.sum(F.pow("c", 0.75)).alias("t"))
    top = cnt.orderBy(F.desc("c"), "w").limit(50)
    wr = Window.orderBy(F.desc("c"), "w")
    p = top.crossJoin(F.broadcast(tot)).select(
        "w",
        "c",
        (F.pow("c", 0.75) / F.col("t")).alias("pn"),
        F.row_number().over(wr).alias("r"),
    )
    wc = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return p.select(
        F.col("w").alias("token"),
        F.col("c").alias("n"),
        F.round(F.col("pn"), 6).alias("p_neg"),
        F.round(F.sum("pn").over(wc), 6).alias("cum_p"),
    ).orderBy("r").drop("r")


# ------------------------------------------ cluster separability


@register(
    "emb_inter_intra_separability",
    oracle="""
WITH v AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings
),
dims AS (
  SELECT label, i.i AS pos, round(avg(e[i.i]), 6) AS m
  FROM v, LATERAL (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY 1, 2
),
cents AS MATERIALIZED (
  SELECT label, list(m ORDER BY pos) AS cv FROM dims GROUP BY 1
),
intra AS (
  SELECT v.label, CAST(count(*) AS BIGINT) AS n,
         avg(sqrt(list_dot_product(
           list_transform(list_zip(v.e, c.cv),
                          z -> z[1] - z[2]),
           list_transform(list_zip(v.e, c.cv),
                          z -> z[1] - z[2])))) AS intra_d
  FROM v JOIN cents c ON c.label = v.label
  GROUP BY 1
),
pairs AS (
  SELECT a.label,
         b.label AS other,
         round(sqrt(list_dot_product(
           list_transform(list_zip(a.cv, b.cv), z -> z[1] - z[2]),
           list_transform(list_zip(a.cv, b.cv), z -> z[1] - z[2]))), 6)
           AS d
  FROM cents a JOIN cents b ON a.label <> b.label
),
nearest AS (
  SELECT label, other AS nearest_label, d AS inter_d FROM pairs
  QUALIFY row_number() OVER (PARTITION BY label ORDER BY d, other) = 1
)
SELECT i.label, i.n,
       round(i.intra_d, 4) AS intra_dist,
       n.nearest_label,
       round(n.inter_d, 4) AS inter_dist,
       round(n.inter_d / i.intra_d, 4) AS separability
FROM intra i JOIN nearest n ON n.label = i.label
ORDER BY i.label
""",
    doc="cluster separability per embedding label: mean L2 distance "
    "to the own-label centroid (intra) vs distance to the NEAREST "
    "other centroid (inter), ratio > 1 meaning clusters are farther "
    "apart than they are wide — the Davies-Bouldin-flavored health "
    "check for labeled embedding spaces.  Centroids are 6dp-rounded "
    "per-dim means (the established discipline), the inter-centroid "
    "matrix is labels^2 (bounded), and nearest ranks on the "
    "6dp-rounded distance with a label tiebreak",
)
def emb_inter_intra_separability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    cents = (
        v.select("label", F.posexplode("e").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.transform("pm", lambda s: s["m"]).alias("cv"))
        .localCheckpoint(eager=False)  # 10 rows: intra join + pair matrix
    )

    def l2(a, b):
        diff = F.zip_with(a, b, lambda x, y: x - y)
        return F.sqrt(
            F.aggregate(
                F.zip_with(diff, diff, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    intra = (
        v.join(F.broadcast(cents), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg(l2(F.col("e"), F.col("cv"))).alias("intra_d"),
        )
    )
    a = cents.select(F.col("label"), F.col("cv").alias("ca"))
    b = cents.select(
        F.col("label").alias("other"), F.col("cv").alias("cb")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("label") != F.col("other"))
        .select(
            "label",
            "other",
            F.round(l2(F.col("ca"), F.col("cb")), 6).alias("d"),
        )
    )
    wn = Window.partitionBy("label").orderBy("d", "other")
    nearest = pairs.withColumn("rn", F.row_number().over(wn)).filter(
        F.col("rn") == 1
    )
    return (
        intra.join(nearest, "label")
        .select(
            "label",
            "n",
            F.round(F.col("intra_d"), 4).alias("intra_dist"),
            F.col("other").alias("nearest_label"),
            F.round(F.col("d"), 4).alias("inter_dist"),
            F.round(F.col("d") / F.col("intra_d"), 4).alias("separability"),
        )
        .orderBy("label")
    )


# ------------------------------------------ CDC log telemetry


@register(
    "cdc_change_data_stats",
    oracle="""
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE c_custkey % 11 = 0) AS BIGINT)
           AS n11,
         CAST(count(*) FILTER (WHERE c_custkey % 3 = 0) AS BIGINT)
           AS n3,
         CAST(count(*) FILTER (WHERE c_custkey % 7 = 0) AS BIGINT)
           AS n7
  FROM customer
),
ops AS (
  SELECT 'c' AS op, n + n11 AS n_events, n11 AS n_replays FROM base
  UNION ALL SELECT 'd', n7, 0 FROM base
  UNION ALL SELECT 'u', n3, 0 FROM base
),
tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS t FROM ops)
SELECT op, CAST(n_events AS BIGINT) AS n_events,
       CAST(n_replays AS BIGINT) AS n_replays,
       round(n_events * 1.0 / tot.t, 6) AS share_of_log
FROM ops, tot ORDER BY op
""",
    doc="CDC transport telemetry on the envelope log: events and "
    "at-least-once replay duplicates per op type with log share — "
    "the topic-health numbers a CDC operator watches (replay share "
    "spiking = consumer rebalancing or producer retries; the "
    "reference's consumer would see exactly these duplicates, "
    "consumer_to_opensearch.py:95).  Replays are detected as "
    "(seq, op) duplicates — one aggregate over the log; the oracle "
    "derives expected counts in closed form from the generator "
    "rules",
)
def cdc_change_data_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..cdc import generate_envelope_log

    log = generate_envelope_log(spark, sf_dir)
    ops = log.groupBy("op").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.count(F.lit(1)) - F.countDistinct("seq"))
        .cast("long")
        .alias("n_replays"),
    )
    tot = ops.agg(F.sum("n_events").cast("long").alias("t"))
    return (
        ops.crossJoin(F.broadcast(tot))
        .select(
            "op",
            "n_events",
            "n_replays",
            F.round(F.col("n_events") * 1.0 / F.col("t"), 6).alias(
                "share_of_log"
            ),
        )
        .orderBy("op")
    )


# ------------------------------------------ time-to-next-purchase


@register(
    "win_time_to_next_purchase",
    oracle="""
WITH lab AS (
  SELECT event_type,
         CAST(floor(epoch(min(CASE WHEN event_type2 = 'purchase'
                                   THEN ts2 END) OVER w))
              - floor(epoch(ts)) AS BIGINT) AS secs
  FROM (
    SELECT user_id, ts, event_id, event_type,
           ts AS ts2, event_type AS event_type2
    FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(secs) AS BIGINT) AS n_labeled,
       round(quantile_cont(secs, 0.50), 4) AS median_secs,
       round(quantile_cont(secs, 0.90), 4) AS p90_secs
FROM lab GROUP BY event_type ORDER BY event_type
""",
    doc="time-to-next-purchase labels: for every event, seconds "
    "until the SAME user's next strictly-later purchase (NULL if "
    "none) — the forward-looking as-of that generates "
    "time-to-conversion training labels (operators/joins.py:16 "
    "implements the backward as-of; this is its label-generation "
    "mirror via a descending-order running min, one per-user "
    "window pass, no self-join).  Summarized per event type with "
    "exact interpolated quantiles; timestamps subtract through "
    "floor(epoch()) as always",
)
def win_time_to_next_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = load_table(spark, sf_dir, "events")
    lab = ev.select(
        "event_type",
        (
            F.unix_timestamp(
                F.min(
                    F.when(F.col("event_type") == "purchase", F.col("ts"))
                ).over(w)
            )
            - F.unix_timestamp("ts")
        )
        .cast("long")
        .alias("secs"),
    )
    s = F.col("secs")
    return (
        lab.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count(s).cast("long").alias("n_labeled"),
            F.round(F.percentile(s, 0.50), 4).alias("median_secs"),
            F.round(F.percentile(s, 0.90), 4).alias("p90_secs"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------ exact log2 histogram


@register(
    "agg_histogram_log_bins",
    oracle="""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
b AS (
  SELECT length(printf('%b', cents)) AS bin, cents FROM c
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents,
       round(count(*) * 1.0 / tot.t, 6) AS share
FROM b, tot GROUP BY bin, tot.t ORDER BY bin
""",
    doc="power-of-two (log2) histogram of order values in integer "
    "cents: bin = bit length of the cent amount — EXACT integer "
    "binning via binary-string length on both engines, because "
    "floor(log2(x)) through floating log is NOT safe at powers of "
    "two (Spark computes log2 as ln(x)/ln(2), which can come out "
    "25.9999... at x = 2^26 and flip the bin; bit length cannot).  "
    "The heavy-tail profile histogram equi-width bins miss; one "
    "scan, bounded ~64-bin output",
)
def agg_histogram_log_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    b = c.select(
        F.length(F.conv(F.col("cents").cast("string"), 10, 2)).alias("bin"),
        "cents",
    )
    tot = c.agg(F.count(F.lit(1)).cast("long").alias("t"))
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy(F.col("bin").cast("long").alias("bin"), "t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )
        .select(
            "bin",
            "n",
            "min_cents",
            "max_cents",
            F.round(F.col("n") * 1.0 / F.col("t"), 6).alias("share"),
        )
        .orderBy("bin")
    )
