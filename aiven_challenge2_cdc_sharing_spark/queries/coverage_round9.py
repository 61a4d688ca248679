"""Round-9 window inventory (built in round 7).

Families still uncovered after the round-8 batches: risk/extreme-value
time-series diagnostics (drawdown, cross-correlation lead-lag,
turning-point and sign tests), the remaining classic nonparametric
two-sample machinery (Anderson-Darling, Hodges-Lehmann, odds-ratio CI),
link prediction on the sparsified trade graph (Adamic-Adar), sketch
families beyond HLL/count-min (KMV set ops, AMS F2, linear counting),
retrieval-evaluation metrics past NDCG (MRR/MAP, Rocchio PRF), CDC
lifecycle ops the single-table reference never reaches (schema
evolution, dead-letter replay), and calibration/sequence-model
evaluation (isotonic PAV, bigram next-event accuracy).

Reference provenance: the reference is a single-table CDC relay
(consumer_to_opensearch.py:67-96) with no analytics; every query here
is north-star extension per BASELINE.json, held to the same
oracle-twin + scale-plan bar as the rest of the registry.

Cross-engine disciplines (established rounds 3-8, see SCALING.md):
partial aggregates rounded 6dp before any downstream comparison,
integer cents for money, floor(epoch()) per timestamp, exact integer
cross-multiplication for rank decisions, packed dual counters in one
64-bit prefix sum for ECDF shapes, and every aggregate aliased
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from . import register

# ------------------------------------------------ ts: drawdown / CCF


@register(
    "ts_max_drawdown_runup",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) / 86400 AS d,
         round(sum(value), 6) AS v
  FROM events GROUP BY 1, 2
),
ctr AS (
  SELECT event_type, d,
         round(v - round(avg(v) OVER (PARTITION BY event_type), 6), 6) AS x
  FROM daily
),
cum AS (
  SELECT event_type, d,
         sum(x) OVER (PARTITION BY event_type ORDER BY d) AS c
  FROM ctr
),
ext AS (
  SELECT event_type, d, c,
         max(c) OVER (PARTITION BY event_type ORDER BY d) AS peak,
         min(c) OVER (PARTITION BY event_type ORDER BY d) AS trough
  FROM cum
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       round(max(peak - c), 4) AS max_drawdown,
       round(max(c - trough), 4) AS max_runup,
       CAST(sum(CASE WHEN c < peak THEN 1 ELSE 0 END) AS BIGINT)
         AS underwater_days,
       round(sum(CASE WHEN c < peak THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS underwater_share
FROM ext
GROUP BY event_type ORDER BY event_type
""",
    doc="maximum drawdown / run-up of the CENTERED cumulative daily "
    "value path per event type (each day's sum minus the per-type "
    "mean daily sum — the raw cumulative of an all-positive value "
    "column is monotone and its drawdown degenerately 0 at every "
    "scale, the lesson-17 hazard): the prefix-extremum formulation "
    "(drawdown at day d = running peak minus current path; one "
    "pass, no pairwise day scan), the peak-to-trough risk metric "
    "next to ts_cusum_drift's one-sided slack-recursion alarm.  "
    "Daily sums and the centering mean are rounded 6dp BEFORE the "
    "cumulative sum so both engines fold identical doubles in the "
    "identical (single row per day) order — the strict `c < peak` "
    "underwater comparison is then bit-deterministic.  Windows are "
    "partitioned by event_type and bounded by the calendar, the "
    "same per-series shape as ts_bollinger_breach_rate; at 100 TB "
    "the daily aggregate is the only shuffle and the window state "
    "is days-not-events",
)
def ts_max_drawdown_runup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)).alias(
            "d"
        ),
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    wt = Window.partitionBy("event_type")
    ctr = daily.select(
        "event_type",
        "d",
        F.round(
            F.col("v") - F.round(F.avg("v").over(wt), 6), 6
        ).alias("x"),
    )
    wc = Window.partitionBy("event_type").orderBy("d")
    ext = ctr.select(
        "event_type",
        "d",
        F.sum("x").over(wc).alias("c"),
    ).select(
        "event_type",
        "c",
        F.max("c").over(wc.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "peak"
        ),
        F.min("c").over(wc.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "trough"
        ),
    )
    return (
        ext.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.max(F.col("peak") - F.col("c")), 4).alias(
                "max_drawdown"
            ),
            F.round(F.max(F.col("c") - F.col("trough")), 4).alias(
                "max_runup"
            ),
            F.sum(F.when(F.col("c") < F.col("peak"), 1).otherwise(0))
            .cast("long")
            .alias("underwater_days"),
            F.round(
                F.sum(F.when(F.col("c") < F.col("peak"), 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("underwater_share"),
        )
        .orderBy("event_type")
    )


@register(
    "ts_cross_correlation_lead_lag",
    oracle="""
WITH cnts AS (
  SELECT event_type, count(*) AS cnt FROM events GROUP BY 1
),
ranked AS (
  SELECT event_type,
         (SELECT count(*) FROM cnts o
          WHERE o.cnt > c.cnt
             OR (o.cnt = c.cnt AND o.event_type < c.event_type)) AS rnk
  FROM cnts c
),
daily AS MATERIALIZED (
  SELECT e.event_type,
         CAST(floor(epoch(date_trunc('day', e.ts))) AS BIGINT) / 86400 AS d,
         round(sum(e.value), 6) AS v
  FROM events e JOIN ranked r ON r.event_type = e.event_type AND r.rnk < 2
  GROUP BY 1, 2
),
a AS (SELECT d, v FROM daily
      JOIN ranked USING (event_type) WHERE rnk = 0),
b AS (SELECT d, v FROM daily
      JOIN ranked USING (event_type) WHERE rnk = 1),
lags AS (SELECT unnest(range(-7, 8)) AS lag),
j AS (
  SELECT l.lag, a.v AS va, b.v AS vb
  FROM lags l
  JOIN a ON TRUE
  JOIN b ON b.d = a.d + l.lag
)
SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
       round(corr(va, vb), 4) AS ccf
FROM j GROUP BY lag ORDER BY lag
""",
    doc="lead-lag cross-correlation between the two highest-volume "
    "event-type daily series at lags -7..+7 — the 'does A lead B' "
    "probe (marketing spend vs purchases, views vs signups) that "
    "complements ts_autocorr_lags' SELF-correlation.  The two "
    "series are DERIVED (top-2 types by event count, count-then-name "
    "tiebreak via a rank self-join on the tiny type aggregate — no "
    "global window), so the query stays meaningful at every scale "
    "factor; daily sums rounded 6dp before the correlation per the "
    "partial-aggregate discipline.  Each lag is an equi-join on the "
    "integer day index (15 lags x days rows, no ordered window); "
    "corr() is the identical sample estimator on both engines",
)
def ts_cross_correlation_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    o = cnts.select(
        F.col("event_type").alias("o_type"), F.col("cnt").alias("o_cnt")
    )
    ranked = (
        cnts.join(
            F.broadcast(o),
            (F.col("o_cnt") > F.col("cnt"))
            | (
                (F.col("o_cnt") == F.col("cnt"))
                & (F.col("o_type") < F.col("event_type"))
            ),
            "left",
        )
        .groupBy("event_type")
        .agg(F.count("o_type").alias("rnk"))
        .filter(F.col("rnk") < 2)
    )
    daily = (
        ev.join(F.broadcast(ranked), "event_type")
        .groupBy(
            "rnk",
            (
                F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
            ).alias("d"),
        )
        .agg(F.round(F.sum("value"), 6).alias("v"))
        .localCheckpoint(eager=False)
    )
    a = daily.filter(F.col("rnk") == 0).select("d", F.col("v").alias("va"))
    b = daily.filter(F.col("rnk") == 1).select(
        F.col("d").alias("bd"), F.col("v").alias("vb")
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("lag"))
    j = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("bd") == F.col("d") + F.col("lag")
    )
    return (
        j.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.corr("va", "vb"), 4).alias("ccf"),
        )
        .orderBy("lag")
    )


# ------------------------------------------------ nonparametric stats


@register(
    "stats_anderson_darling_2s",
    oracle="""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT)
           / 86400 AS d
  FROM orders
),
cut AS (SELECT CAST(floor(quantile_cont(d, 0.5)) AS BIGINT) AS c FROM o),
tagged AS (
  SELECT cents, CASE WHEN d <= (SELECT c FROM cut) THEN 1 ELSE 0 END AS g1
  FROM o
),
sizes AS (
  SELECT sum(g1) AS n1, count(*) - sum(g1) AS n2, count(*) AS n FROM tagged
),
vals AS (
  SELECT cents, count(*) AS l, sum(g1) AS m FROM tagged GROUP BY cents
),
pre AS (
  SELECT cents, l,
         sum(l) OVER (ORDER BY cents) AS bj,
         sum(m) OVER (ORDER BY cents) AS mj
  FROM vals
),
terms AS (
  SELECT l,
         CAST(s.n AS DOUBLE) * mj - CAST(s.n1 AS DOUBLE) * bj AS diff,
         CAST(s.n AS DOUBLE) * bj * (s.n - bj) AS den
  FROM pre CROSS JOIN sizes s
  WHERE bj < s.n
)
SELECT CAST(max(s.n1) AS BIGINT) AS n1,
       CAST(max(s.n2) AS BIGINT) AS n2,
       CAST(count(*) AS BIGINT) AS n_support,
       round((1.0 / max(s.n1) + 1.0 / max(s.n2))
             * sum(l * diff * diff / den), 4) AS a2_stat,
       (1.0 / max(s.n1) + 1.0 / max(s.n2))
         * sum(l * diff * diff / den) > 2.492 AS reject_5pct
FROM terms CROSS JOIN sizes s
""",
    doc="two-sample Anderson-Darling test (early-half vs late-half "
    "order totals, cutoff = median order day, money as integer "
    "cents): the tail-weighted ECDF test that catches tail drift "
    "stats_ks_two_sample's max-gap statistic is blind to.  "
    "Scholz-Stephens discrete form over the distinct-value support "
    "with the k=2 antisymmetry folded in: A2 = (1/n1+1/n2) * sum_j "
    "l_j (N*M_j - n1*B_j)^2 / (N B_j (N-B_j)), B_j/M_j inclusive "
    "prefix counts, last support point excluded; 2.492 is Pettitt's "
    "(1976) large-sample 5%% point.  All counters are exact "
    "integers; the squared term is cast to double before squaring "
    "(identical operands -> identical IEEE result on both engines).  "
    "The engine computes BOTH prefix counters in ONE two-level "
    "global_prefix_sum by packing (count, group1-count) into a "
    "single 64-bit value (l*2^32+m, exact while N < 2^31) — no "
    "single-partition window at any scale; the oracle keeps the "
    "plain window, provably equal because the range buckets tile "
    "the cents order",
)
def stats_anderson_darling_2s(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import global_prefix_sum

    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (
            F.floor(F.unix_timestamp(F.date_trunc("day", "o_orderdate")) / 86400)
        ).alias("d"),
    )
    cut = o.agg(
        F.floor(F.expr("percentile(d, 0.5)")).cast("long").alias("c")
    )
    tagged = o.crossJoin(F.broadcast(cut)).select(
        "cents", F.when(F.col("d") <= F.col("c"), 1).otherwise(0).alias("g1")
    )
    vals = tagged.groupBy("cents").agg(
        F.count(F.lit(1)).alias("l"), F.sum("g1").alias("m")
    )
    packed = vals.withColumn(
        "lm", F.col("l") * F.lit(1 << 32) + F.col("m")
    )
    # Round-12: (n, n1, n2) unpack from the operator's packed grand
    # total (sum(lm) = n*2^32 + n1 exactly while n1 < 2^32) — the old
    # sizes aggregate re-scanned orders + re-broadcast the median cut
    pre, packed_total, _nbins = global_prefix_sum(
        packed, [F.col("cents")], "lm", out_col="cum"
    )
    n_all = packed_total // (1 << 32)
    n1 = packed_total % (1 << 32)
    n2 = n_all - n1
    pre = pre.select(
        "l",
        (F.col("cum") / F.lit(1 << 32)).cast("long").alias("bj"),
        (F.col("cum") % F.lit(1 << 32)).alias("mj"),
    )
    nD = F.lit(float(n_all))
    terms = pre.filter(F.col("bj") < F.lit(n_all).cast("long")).select(
        "l",
        (nD * F.col("mj") - F.lit(float(n1)) * F.col("bj")).alias("diff"),
        (
            nD * F.col("bj") * (F.lit(n_all).cast("long") - F.col("bj"))
        ).alias("den"),
    )
    a2 = (1.0 / F.lit(n1).cast("long") + 1.0 / F.lit(n2).cast("long")) * F.sum(
        F.col("l") * F.col("diff") * F.col("diff") / F.col("den")
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_support"),
        F.round(a2, 4).alias("a2_stat"),
        (a2 > 2.492).alias("reject_5pct"),
    ).select(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
        "n_support",
        "a2_stat",
        "reject_5pct",
    )


@register(
    "stats_odds_ratio_ci",
    oracle="""
WITH med AS (SELECT quantile_cont(l_discount, 0.5) AS m FROM lineitem),
cells AS (
  SELECT l_linestatus,
         sum(CASE WHEN l_discount > (SELECT m FROM med)
                   AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN l_discount > (SELECT m FROM med)
                   AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN l_discount <= (SELECT m FROM med)
                   AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN l_discount <= (SELECT m FROM med)
                   AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS d
  FROM lineitem GROUP BY l_linestatus
)
SELECT l_linestatus,
       CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
       round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 4)
         AS odds_ratio,
       round(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
             - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 4) AS ci_lo,
       round(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
             + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 4) AS ci_hi,
       exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
             - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) > 1.0
         OR exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
             + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) < 1.0
         AS significant_5pct
FROM cells ORDER BY l_linestatus
""",
    doc="odds ratio with Woolf 95%% log-CI per line status: exposure "
    "= discount above the DERIVED global median, outcome = returned "
    "('R') — the epidemiology-style effect measure that complements "
    "ab_wilson_intervals' per-arm proportion bounds with a single "
    "association number and its uncertainty (CI excluding 1 = "
    "significant).  One pass builds all four 2x2 cells as "
    "conditional sums; every cell is provably nonzero on the "
    "smallest fixture (each linestatus x returnflag x discount-half "
    "stratum holds hundreds of rows), so the ANSI-mode divisions "
    "and ln() are total.  The broadcast median is the only "
    "cross-stage dependency; the aggregation is one shuffle on "
    "linestatus at any scale",
)
def stats_odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    med = li.agg(F.expr("percentile(l_discount, 0.5)").alias("m"))
    exposed = F.col("l_discount") > F.col("m")
    ret = F.col("l_returnflag") == "R"
    cells = (
        li.crossJoin(F.broadcast(med))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(exposed & ret, 1).otherwise(0)).alias("a"),
            F.sum(F.when(exposed & ~ret, 1).otherwise(0)).alias("b"),
            F.sum(F.when(~exposed & ret, 1).otherwise(0)).alias("c"),
            F.sum(F.when(~exposed & ~ret, 1).otherwise(0)).alias("d"),
        )
    )
    lor = F.log(
        F.col("a").cast("double")
        * F.col("d")
        / (F.col("b").cast("double") * F.col("c"))
    )
    se = 1.96 * F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    return cells.select(
        "l_linestatus",
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.col("d").cast("long").alias("d"),
        F.round(F.exp(lor), 4).alias("odds_ratio"),
        F.round(F.exp(lor - se), 4).alias("ci_lo"),
        F.round(F.exp(lor + se), 4).alias("ci_hi"),
        ((F.exp(lor - se) > 1.0) | (F.exp(lor + se) < 1.0)).alias(
            "significant_5pct"
        ),
    ).orderBy("l_linestatus")


@register(
    "stats_sign_test_lag7",
    oracle="""
WITH daily AS (
  SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) / 86400 AS d,
         round(sum(value), 6) AS v
  FROM events GROUP BY 1
),
pairs AS (
  SELECT c.v - p.v AS diff
  FROM daily c JOIN daily p ON p.d = c.d - 7
  WHERE c.v <> p.v
),
s AS (
  SELECT count(*) AS n,
         sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS pos
  FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CAST(pos AS BIGINT) AS n_pos,
       CAST(n - pos AS BIGINT) AS n_neg,
       round((pos - n / 2.0
              - CASE WHEN pos * 2 > n THEN 0.5
                     WHEN pos * 2 < n THEN -0.5 ELSE 0.0 END)
             / sqrt(n / 4.0), 4) AS z_stat,
       abs((pos - n / 2.0
              - CASE WHEN pos * 2 > n THEN 0.5
                     WHEN pos * 2 < n THEN -0.5 ELSE 0.0 END)
             / sqrt(n / 4.0)) > 1.96 AS significant_5pct
FROM s
""",
    doc="paired sign test on week-over-week daily value changes "
    "(day d vs day d-7): the distribution-free 'is this week "
    "systematically above last week' test — the hypothesis-test "
    "counterpart to dash_week_over_week_movers' listing and a "
    "median-based cousin of stats_mann_kendall_trend (which pools "
    "ALL pairs; the sign test uses only the seasonal-aligned lag-7 "
    "pairs, so weekday mix cancels).  Continuity-corrected normal "
    "approximation z = (S - n/2 -+ 0.5)/sqrt(n/4) with zero "
    "differences dropped per the classic procedure; daily sums "
    "rounded 6dp first so the zero-test agrees bit-for-bit across "
    "engines.  One lag-7 equi-join on the integer day index, no "
    "ordered window",
)
def stats_sign_test_lag7(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        (
            F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
        ).alias("d")
    ).agg(F.round(F.sum("value"), 6).alias("v")).localCheckpoint(eager=False)
    c, p = daily.alias("c"), daily.alias("p")
    pairs = (
        c.join(p, F.col("p.d") == F.col("c.d") - 7)
        .filter(F.col("c.v") != F.col("p.v"))
        .select((F.col("c.v") - F.col("p.v")).alias("diff"))
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0)).alias("pos"),
    )
    corr_term = F.when(F.col("pos") * 2 > F.col("n"), 0.5).when(
        F.col("pos") * 2 < F.col("n"), -0.5
    ).otherwise(0.0)
    z = (F.col("pos") - F.col("n") / 2.0 - corr_term) / F.sqrt(
        F.col("n") / 4.0
    )
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("pos").cast("long").alias("n_pos"),
        (F.col("n") - F.col("pos")).cast("long").alias("n_neg"),
        F.round(z, 4).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_5pct"),
    )


@register(
    "stats_hodges_lehmann_shift",
    oracle="""
WITH ha AS (
  SELECT CAST(l_quantity AS BIGINT) AS q, count(*) AS c
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
),
hb AS (
  SELECT CAST(l_quantity AS BIGINT) AS q, count(*) AS c
  FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1
),
diffs AS (
  SELECT ha.q - hb.q AS delta, sum(ha.c * hb.c) AS w
  FROM ha JOIN hb ON TRUE
  GROUP BY 1
),
tot AS (SELECT sum(w) AS tw, sum(delta * w) AS swd FROM diffs),
cum AS (
  SELECT a.delta, sum(b.w) AS cw
  FROM diffs a JOIN diffs b ON b.delta <= a.delta
  GROUP BY a.delta
)
SELECT CAST(max(t.tw) AS BIGINT) AS n_pairs,
       (min(CASE WHEN 2 * cw >= t.tw THEN delta END)
        + min(CASE WHEN 2 * cw > t.tw THEN delta END)) / 2.0 AS hl_shift,
       round(max(t.swd) * 1.0 / max(t.tw), 4) AS mean_shift
FROM cum CROSS JOIN tot t
""",
    doc="Hodges-Lehmann shift estimator between returned ('R') and "
    "kept ('N') line-item quantities: the median of ALL pairwise "
    "differences — the robust effect-size companion to "
    "stats_mann_whitney_u (which only tests; HL says HOW BIG the "
    "shift is, immune to the outliers that drag mean_shift).  "
    "Quantity is discrete (integers 1..50), so the n_a x n_b pair "
    "multiset collapses EXACTLY to a 50x50 histogram cross join "
    "with integer weights — flat in row count like the "
    "canonicalize-before-pairing ER pattern, vs the O(n^2) naive "
    "pair materialization.  The weighted median over <=99 distinct "
    "differences uses a cumulative self-join (no window at all) "
    "with the standard lower/upper midpoint for even mass, and the "
    "lower/upper picks fold into ONE conditional aggregate; the "
    "mean shift comes free from the same weighted diffs via "
    "sum(delta*w)/sum(w) == mean_a - mean_b (exact rational "
    "identity).  Everything left of the final divisions is exact "
    "64-bit integer arithmetic",
)
def stats_hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qa = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_quantity").cast("long").alias("q"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qb = (
        li.filter(F.col("l_returnflag") == "N")
        .groupBy(F.col("l_quantity").cast("long").alias("qb"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    diffs = (
        qa.crossJoin(F.broadcast(qb))
        .groupBy((F.col("q") - F.col("qb")).alias("delta"))
        .agg(F.sum(F.col("c") * F.col("cb")).alias("w"))
        .localCheckpoint(eager=False)
    )
    tot = diffs.agg(
        F.sum("w").alias("tw"),
        F.sum(F.col("delta") * F.col("w")).alias("swd"),
    )
    b = diffs.select(F.col("delta").alias("bd"), F.col("w").alias("bw"))
    cum = (
        diffs.crossJoin(F.broadcast(b))
        .filter(F.col("bd") <= F.col("delta"))
        .groupBy("delta")
        .agg(F.sum("bw").alias("cw"))
        .crossJoin(F.broadcast(tot))
    )
    return cum.agg(
        F.max("tw").cast("long").alias("n_pairs"),
        (
            (
                F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("delta")))
                + F.min(F.when(2 * F.col("cw") > F.col("tw"), F.col("delta")))
            )
            / 2.0
        ).alias("hl_shift"),
        F.round(F.max("swd") * 1.0 / F.max("tw"), 4).alias("mean_shift"),
    )


# ------------------------------------------------ graph link prediction


@register(
    "graph_adamic_adar",
    oracle="""
WITH raw AS MATERIALIZED (
  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
         greatest(c.c_nationkey, s.s_nationkey) AS v,
         count(*) AS cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY 1, 2
),
thr AS (SELECT quantile_cont(cnt, 0.75) AS t FROM raw),
edges AS MATERIALIZED (
  SELECT u, v FROM raw WHERE cnt >= (SELECT t FROM thr)
),
adj AS MATERIALIZED (
  SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges
),
deg AS (SELECT a, count(*) AS d FROM adj GROUP BY a),
cand AS (
  SELECT x.a AS u, y.a AS v,
         count(*) AS cn,
         sum(1.0 / ln(dz.d)) AS aa
  FROM adj x
  JOIN adj y ON x.b = y.b AND x.a < y.a
  JOIN deg dz ON dz.a = x.b
  GROUP BY x.a, y.a
)
SELECT c.u, c.v, CAST(c.cn AS BIGINT) AS n_common,
       round(c.aa, 6) AS aa_score
FROM cand c
LEFT JOIN edges e ON e.u = c.u AND e.v = c.v
WHERE e.u IS NULL
ORDER BY aa_score DESC, c.u, c.v LIMIT 20
""",
    doc="Adamic-Adar link prediction over the SPARSIFIED nation trade "
    "graph (edges = pairs with trade volume >= the DERIVED p75 "
    "pair-count threshold, so non-edges exist at every scale factor "
    "— the dense full graph would make 'predict missing links' "
    "degenerate): for each non-adjacent pair sharing >=1 neighbor, "
    "AA = sum over common neighbors z of 1/ln(deg(z)) — the "
    "degree-discounted refinement of graph_common_neighbors' raw "
    "count/Jaccard (a common neighbor that connects to everything "
    "carries little evidence).  ln(deg) is total: any common "
    "neighbor of a pair has degree >= 2.  Wedges come from one "
    "adjacency self-join bounded by sum(deg^2) exactly as the "
    "common-neighbors query; the anti-join against the edge set "
    "removes existing links; (score desc, u, v) total tiebreak on "
    "the top-20",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    raw = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    thr = raw.agg(F.expr("percentile(cnt, 0.75)").alias("t"))
    edges = (
        raw.crossJoin(F.broadcast(thr))
        .filter(F.col("cnt") >= F.col("t"))
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    adj = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy(F.col("a").alias("z")).agg(F.count(F.lit(1)).alias("d"))
    x = adj.select(F.col("a").alias("xu"), F.col("b").alias("z"))
    y = adj.select(F.col("a").alias("yv"), F.col("b").alias("z"))
    cand = (
        x.join(y, "z")
        .filter(F.col("xu") < F.col("yv"))
        .join(deg, "z")
        .groupBy(F.col("xu").alias("u"), F.col("yv").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(1.0 / F.log(F.col("d"))).alias("aa"),
        )
    )
    return (
        cand.join(edges, ["u", "v"], "left_anti")
        .select(
            "u",
            "v",
            F.col("cn").cast("long").alias("n_common"),
            F.round("aa", 6).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "u", "v")
        .limit(20)
    )


# ------------------------------------------------ sketch families


@register(
    "sketch_kmv_set_ops",
    oracle="""
WITH d AS (SELECT count(DISTINCT user_id) AS du FROM events),
pp AS (SELECT greatest(8, CAST(du // 4 AS INT)) AS k FROM d),
uh AS (
  SELECT DISTINCT event_type, user_id,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM events
),
sk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM uh
  QUALIFY rn <= (SELECT k FROM pp)
),
per AS (
  SELECT event_type, count(*) AS sz, max(h) AS hk FROM sk GROUP BY 1
),
prs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM per a JOIN per b ON a.event_type < b.event_type
),
mrg AS (
  SELECT p.type_a, p.type_b, s.h,
         max(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
  FROM prs p
  JOIN sk s ON s.event_type IN (p.type_a, p.type_b)
  GROUP BY 1, 2, 3
),
uk AS (
  SELECT type_a, type_b, h, in_a, in_b,
         row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
  FROM mrg
  QUALIFY rn <= (SELECT k FROM pp)
),
est AS (
  SELECT u.type_a, u.type_b,
         count(*) AS usz, max(u.h) AS uhk,
         sum(u.in_a * u.in_b) AS kboth
  FROM uk u GROUP BY 1, 2
),
ex AS (
  SELECT p.type_a, p.type_b,
         count(DISTINCT x.user_id) AS exact_union,
         count(DISTINCT CASE WHEN xa.user_id IS NOT NULL
                              AND xb.user_id IS NOT NULL
                             THEN x.user_id END) AS exact_inter
  FROM prs p
  JOIN (SELECT DISTINCT event_type, user_id FROM events) x
    ON x.event_type IN (p.type_a, p.type_b)
  LEFT JOIN (SELECT DISTINCT event_type, user_id FROM events) xa
    ON xa.event_type = p.type_a AND xa.user_id = x.user_id
  LEFT JOIN (SELECT DISTINCT event_type, user_id FROM events) xb
    ON xb.event_type = p.type_b AND xb.user_id = x.user_id
  GROUP BY 1, 2
)
SELECT e.type_a, e.type_b,
       round(CASE WHEN e.usz < (SELECT k FROM pp) THEN e.usz
                  ELSE ((SELECT k FROM pp) - 1)
                       / (e.uhk / 1152921504606846976.0) END, 4)
         AS est_union,
       round(CASE WHEN e.usz < (SELECT k FROM pp) THEN e.kboth
                  ELSE e.kboth * 1.0 / e.usz
                       * (((SELECT k FROM pp) - 1)
                          / (e.uhk / 1152921504606846976.0)) END, 4)
         AS est_inter,
       CAST(x.exact_union AS BIGINT) AS exact_union,
       CAST(x.exact_inter AS BIGINT) AS exact_inter
FROM est e JOIN ex x ON x.type_a = e.type_a AND x.type_b = e.type_b
ORDER BY e.type_a, e.type_b
""",
    doc="KMV (k-minimum-values) distinct sketches with SET OPERATIONS "
    "— the capability HLL lacks: two KMV sketches merge into a union "
    "sketch (k smallest of the combined hash sets) AND estimate the "
    "INTERSECTION via the Jaccard fraction of the union-sketch "
    "members present in both sides (Beyer et al.).  k DERIVES from "
    "the corpus (max(8, distinct_users/4)) so every scale factor "
    "exercises the estimation regime rather than the exact "
    "small-sketch branch; hashes are the repo's standard 60-bit md5 "
    "prefix, so the oracle replays bit-for-bit.  est = (k-1)/h_(k) "
    "normalized to [0,1); sketches that never fill carry their "
    "exact size (the defined KMV behavior).  Per-type sketch = one "
    "shuffle + per-type top-k window (bounded by k); pair merges "
    "touch 10 type pairs x k rows — sketch-sized, never "
    "corpus-sized, which is the whole point at 100 TB",
)
def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.agg(
        F.greatest(
            F.lit(8), (F.countDistinct("user_id") / 4).cast("int")
        ).alias("k")
    )
    uh = (
        ev.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            "user_id",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
    )
    wt = Window.partitionBy("event_type").orderBy("h")
    sk = (
        uh.withColumn("rn", F.row_number().over(wt))
        .crossJoin(F.broadcast(d))
        .filter(F.col("rn") <= F.col("k"))
        .select("event_type", "h")
        .localCheckpoint(eager=False)
    )
    types = sk.select("event_type").distinct()
    prs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    mrg = (
        F.broadcast(prs)
        .join(
            sk,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "h")
        .agg(
            F.max(
                F.when(F.col("event_type") == F.col("type_a"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("event_type") == F.col("type_b"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    est = (
        mrg.withColumn("rn", F.row_number().over(wp))
        .crossJoin(F.broadcast(d))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("usz"),
            F.max("h").alias("uhk"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("kboth"),
            F.max("k").alias("k"),
        )
    )
    du = ev.select("event_type", "user_id").distinct()
    xa = du.select(F.col("event_type").alias("ta"), F.col("user_id").alias("ua"))
    xb = du.select(F.col("event_type").alias("tb"), F.col("user_id").alias("ub"))
    ex = (
        F.broadcast(prs)
        .join(du, (F.col("event_type") == F.col("type_a")) | (F.col("event_type") == F.col("type_b")))
        .join(
            xa,
            (F.col("ta") == F.col("type_a")) & (F.col("ua") == F.col("user_id")),
            "left",
        )
        .join(
            xb,
            (F.col("tb") == F.col("type_b")) & (F.col("ub") == F.col("user_id")),
            "left",
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.countDistinct("user_id").alias("exact_union"),
            F.countDistinct(
                F.when(
                    F.col("ua").isNotNull() & F.col("ub").isNotNull(),
                    F.col("user_id"),
                )
            ).alias("exact_inter"),
        )
    )
    full_u = ((F.col("k") - 1) / (F.col("uhk") / F.lit(float(1 << 60))))
    est_union = F.when(F.col("usz") < F.col("k"), F.col("usz")).otherwise(
        full_u
    )
    est_inter = F.when(F.col("usz") < F.col("k"), F.col("kboth")).otherwise(
        F.col("kboth") * 1.0 / F.col("usz") * full_u
    )
    return (
        est.join(ex, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.round(est_union, 4).alias("est_union"),
            F.round(est_inter, 4).alias("est_inter"),
            F.col("exact_union").cast("long").alias("exact_union"),
            F.col("exact_inter").cast("long").alias("exact_inter"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "sketch_ams_f2",
    oracle="""
WITH cnt AS (
  SELECT event_type, user_id, count(*) AS c FROM events GROUP BY 1, 2
),
exact AS (
  SELECT event_type, sum(c * c) AS f2_exact FROM cnt GROUP BY 1
),
reps AS (SELECT unnest(range(0, 8)) AS r),
signed AS (
  SELECT c.event_type, r.r,
         sum(c.c * (CASE WHEN CAST(concat('0x',
               substr(md5(CAST(c.user_id AS VARCHAR) || '#' ||
                          CAST(r.r AS VARCHAR)), 1, 15)) AS BIGINT)
               % 2 = 1 THEN 1 ELSE -1 END)) AS sx
  FROM cnt c CROSS JOIN reps r
  GROUP BY 1, 2
),
est AS (
  SELECT event_type,
         quantile_cont(CAST(sx AS DOUBLE) * sx, 0.5) AS f2_est
  FROM signed GROUP BY 1
)
SELECT e.event_type,
       CAST(x.f2_exact AS BIGINT) AS f2_exact,
       round(e.f2_est, 4) AS f2_est,
       round(abs(e.f2_est - x.f2_exact) / x.f2_exact, 4) AS rel_err
FROM est e JOIN exact x ON x.event_type = e.event_type
ORDER BY e.event_type
""",
    doc="AMS (Alon-Matias-Szegedy) second-frequency-moment sketch per "
    "event type: F2 = sum over users of count^2 — the self-join-size "
    "/ skew statistic — estimated by the median of 8 independent "
    "sign-hash repetitions, X_r = (sum_u s_r(u) c_u)^2 with s_r "
    "in {-1,+1} from the salted md5 parity (deterministic, "
    "oracle-replayable), against the exact F2 from the same count "
    "aggregate.  E[X_r] = F2 exactly; the median tames the "
    "heavy-tailed estimator.  This is the sketch that predicts "
    "shuffle-join blowup (sum df^2 — the quantity the dedup "
    "prefix-filter caps) from one streaming pass over increments; "
    "the sketch state is 8 numbers per group regardless of user "
    "cardinality.  One shuffle for the per-user counts, an 8x "
    "replicated second aggregate; median via the identical "
    "interpolating quantile on both engines",
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    exact = cnt.groupBy("event_type").agg(
        F.sum(F.col("c") * F.col("c")).alias("f2_exact")
    )
    reps = spark.range(0, 8).select(F.col("id").cast("int").alias("r"))
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("#"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 1,
        1,
    ).otherwise(-1)
    signed = (
        cnt.crossJoin(F.broadcast(reps))
        .groupBy("event_type", "r")
        .agg(F.sum(F.col("c") * sign).alias("sx"))
    )
    est = signed.groupBy("event_type").agg(
        F.expr("percentile(cast(sx as double) * sx, 0.5)").alias("f2_est")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            F.col("f2_exact").cast("long").alias("f2_exact"),
            F.round("f2_est", 4).alias("f2_est"),
            F.round(
                F.abs(F.col("f2_est") - F.col("f2_exact")) / F.col("f2_exact"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


@register(
    "sketch_linear_counting",
    oracle="""
WITH d AS (SELECT count(DISTINCT user_id) AS du FROM events),
pp AS (
  SELECT CAST(1 AS BIGINT) << length(format('{:b}', 4 * du - 1)) AS m
  FROM d
),
bk AS (
  SELECT event_type,
         count(DISTINCT CAST(concat('0x',
           substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % (SELECT m FROM pp)) AS filled,
         count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT event_type,
       CAST((SELECT m FROM pp) AS BIGINT) AS m_buckets,
       CAST(filled AS BIGINT) AS filled,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       round(-(SELECT m FROM pp)
             * ln(((SELECT m FROM pp) - filled) * 1.0
                  / (SELECT m FROM pp)), 4) AS est_distinct,
       round(abs(-(SELECT m FROM pp)
             * ln(((SELECT m FROM pp) - filled) * 1.0
                  / (SELECT m FROM pp)) - exact_distinct)
             / exact_distinct, 4) AS rel_err
FROM bk ORDER BY event_type
""",
    doc="linear (probabilistic) counting per event type: hash users "
    "into m buckets, observe the empty fraction V, estimate "
    "distinct = -m ln(V) (Whang et al.) — the THIRD point on the "
    "registry's cardinality-sketch spectrum next to "
    "agg_approx_count_distinct (HLL: loglog space, ~2% error) and "
    "agg_bitmap_distinct_users (exact bitmap): LC needs m ~ n bits "
    "but is near-exact at small load factors, the classic choice "
    "when distinct counts are bounded and memory is cheap.  m "
    "DERIVES from the corpus (next power of two >= 4x global "
    "distinct users, via BINARY BIT LENGTH per the log2-misbin "
    "lesson), so V is provably > 0 (m > n) and ln() total at every "
    "scale; the md5 bucket hash replays exactly.  The whole sketch "
    "is one count(DISTINCT bucket) per group — mergeable by bitmap "
    "OR at cluster scale",
)
def sketch_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pp = ev.agg(F.countDistinct("user_id").alias("du")).select(
        F.expr(
            "shiftleft(cast(1 as bigint),"
            " cast(length(conv(4 * du - 1, 10, 2)) as int))"
        ).alias("m")
    )
    bk = (
        ev.crossJoin(F.broadcast(pp))
        .groupBy("event_type", "m")
        .agg(
            F.countDistinct(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long")
                % F.col("m")
            ).alias("filled"),
            F.countDistinct("user_id").alias("exact_distinct"),
        )
    )
    est = -F.col("m") * F.log(
        (F.col("m") - F.col("filled")) * 1.0 / F.col("m")
    )
    return bk.select(
        "event_type",
        F.col("m").cast("long").alias("m_buckets"),
        F.col("filled").cast("long").alias("filled"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.round(est, 4).alias("est_distinct"),
        F.round(
            F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 4
        ).alias("rel_err"),
    ).orderBy("event_type")


# ------------------------------------------------ CDC lifecycle ops


@register(
    "cdc_schema_evolution_merge",
    oracle="""
WITH v1 AS (
  SELECT c_custkey AS key, c_name, c_acctbal,
         CAST(NULL AS VARCHAR) AS c_tier,
         c_custkey * 1000 AS ts_ms
  FROM customer
),
v2 AS (
  SELECT c_custkey AS key, c_name, c_acctbal + 100.0 AS c_acctbal,
         CASE WHEN c_acctbal + 100.0 >= 5000 THEN 'gold'
              WHEN c_acctbal + 100.0 >= 0 THEN 'silver'
              ELSE 'bronze' END AS c_tier,
         c_custkey * 1000 + 500000 AS ts_ms
  FROM customer WHERE c_custkey % 3 = 0
),
log AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (PARTITION BY key ORDER BY ts_ms DESC) = 1
)
SELECT coalesce(c_tier, 'v1-legacy') AS tier,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(c_acctbal), 2) AS sum_acctbal
FROM latest GROUP BY 1 ORDER BY 1
""",
    doc="CDC schema evolution: a v2 capture stream adds a column "
    "(c_tier) mid-flight and the merge must widen the snapshot "
    "schema, backfilling NULL for rows only ever seen by v1 — the "
    "day-2 problem every Debezium deployment hits when the source "
    "table gains a column (the reference pipeline would crash its "
    "fixed-schema consumer dispatch, consumer_to_opensearch.py:67) "
    ".  The engine uses Spark's native evolution primitive — "
    "unionByName(allowMissingColumns=True) — then ordinary "
    "last-writer-wins per key; schema merge is a METADATA "
    "operation, zero extra shuffles beyond the latest-per-key it "
    "would do anyway.  Deterministic synthetic v1/v2 envelopes "
    "derived from the customer table (insert at key*1000 ms, "
    "every-3rd-key update at +500s) keep the oracle replayable",
)
def cdc_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    v1 = cu.select(
        F.col("c_custkey").alias("key"),
        "c_name",
        "c_acctbal",
        (F.col("c_custkey") * 1000).alias("ts_ms"),
    )
    v2 = cu.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("key"),
        "c_name",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.when(F.col("c_acctbal") + 100.0 >= 5000, "gold")
        .when(F.col("c_acctbal") + 100.0 >= 0, "silver")
        .otherwise("bronze")
        .alias("c_tier"),
        (F.col("c_custkey") * 1000 + 500000).alias("ts_ms"),
    )
    log = v1.unionByName(v2, allowMissingColumns=True)
    w = Window.partitionBy("key").orderBy(F.desc("ts_ms"))
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        latest.groupBy(F.coalesce("c_tier", F.lit("v1-legacy")).alias("tier"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("tier")
    )


@register(
    "cdc_dlq_replay",
    oracle="""
WITH upd AS (
  SELECT c_custkey AS key, c_mktsegment,
         c_acctbal - 2000.0 AS new_bal
  FROM customer WHERE c_custkey % 2 = 0
),
valid AS (SELECT * FROM upd WHERE new_bal >= 0),
dlq AS (SELECT * FROM upd WHERE new_bal < 0),
repaired AS (SELECT key, c_mktsegment, 0.0 AS new_bal FROM dlq),
final AS (
  SELECT c.c_mktsegment,
         coalesce(v.new_bal, r.new_bal, c.c_acctbal) AS bal,
         CASE WHEN d.key IS NOT NULL THEN 1 ELSE 0 END AS was_quarantined
  FROM customer c
  LEFT JOIN valid v ON v.key = c.c_custkey
  LEFT JOIN repaired r ON r.key = c.c_custkey
  LEFT JOIN dlq d ON d.key = c.c_custkey
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(was_quarantined) AS BIGINT) AS n_quarantined_replayed,
       CAST(sum(CASE WHEN bal = 0.0 AND was_quarantined = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_zero,
       round(sum(bal), 2) AS sum_final_bal
FROM final GROUP BY 1 ORDER BY 1
""",
    doc="dead-letter-queue lifecycle for constrained CDC apply: a "
    "deterministic debit batch (every 2nd key, -2000) splits at the "
    "acctbal >= 0 constraint into applied rows and a quarantine "
    "(the oracle-backed twin of the test-only P7 constraint/"
    "quarantine operator, cdc/algebra.py:189); the DLQ is then "
    "REPAIRED (clamp to the constraint boundary) and REPLAYED, and "
    "the final per-segment state proves replay-completeness: every "
    "quarantined key lands exactly once, at the clamped value — "
    "n_quarantined_replayed == n_clamped_zero per segment.  This "
    "is the operational loop the reference's consumer lacks "
    "entirely (its delete branch is dead code and failures drop "
    "events, consumer_to_opensearch.py:79-84); here at-least-once "
    "redelivery of the repaired batch stays idempotent because the "
    "apply is keyed MERGE, not append.  Three broadcast-sized "
    "left joins against the base scan; one shuffle for the "
    "segment rollup",
)
def cdc_dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    upd = cu.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("key"),
        (F.col("c_acctbal") - 2000.0).alias("new_bal"),
    )
    valid = upd.filter(F.col("new_bal") >= 0).withColumnRenamed(
        "new_bal", "v_bal"
    )
    dlq = upd.filter(F.col("new_bal") < 0).select(
        "key", F.lit(1).alias("was_quarantined")
    )
    repaired = dlq.select("key", F.lit(0.0).alias("r_bal"))
    final = (
        cu.join(valid, cu.c_custkey == valid.key, "left")
        .drop("key")
        .join(repaired, cu.c_custkey == repaired.key, "left")
        .drop("key")
        .join(dlq, cu.c_custkey == dlq.key, "left")
        .select(
            "c_mktsegment",
            F.coalesce("v_bal", "r_bal", "c_acctbal").alias("bal"),
            F.coalesce("was_quarantined", F.lit(0)).alias("was_quarantined"),
        )
    )
    return (
        final.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("was_quarantined").cast("long").alias(
                "n_quarantined_replayed"
            ),
            F.sum(
                F.when(
                    (F.col("bal") == 0.0) & (F.col("was_quarantined") == 1), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clamped_zero"),
            F.round(F.sum("bal"), 2).alias("sum_final_bal"),
        )
        .orderBy("c_mktsegment")
    )


# ------------------------------------------------ association rules


@register(
    "basket_association_rules",
    oracle="""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
freq AS MATERIALIZED (
  SELECT l_partkey, count(*) AS nf FROM items GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS nab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, nab FROM pairs
  UNION ALL
  SELECT pb, pa, nab FROM pairs
)
SELECT r.antecedent, r.consequent,
       CAST(r.nab AS BIGINT) AS n_both,
       round(r.nab * 1.0 / fa.nf, 6) AS confidence,
       round(r.nab * 1.0 * n.n_orders / (fa.nf * fc.nf), 6) AS lift,
       CASE WHEN r.nab < fa.nf
            THEN round((1.0 - fc.nf * 1.0 / n.n_orders)
                       / (1.0 - r.nab * 1.0 / fa.nf), 6) END AS conviction
FROM rules r
JOIN freq fa ON fa.l_partkey = r.antecedent
JOIN freq fc ON fc.l_partkey = r.consequent
CROSS JOIN n
ORDER BY lift DESC, confidence DESC, antecedent, consequent
LIMIT 20
""",
    doc="directed association rules on top of basket_copurchase_pairs' "
    "candidate step: confidence P(b|a), lift P(ab)/(P(a)P(b)), and "
    "conviction (1-P(b))/(1-conf) — the full A-priori rule-quality "
    "triple, which the undirected pair-support listing cannot "
    "express (confidence and conviction are ASYMMETRIC; each "
    "support-2 pair yields two rules with different strengths).  "
    "Conviction is NULL exactly when confidence = 1 (its defined "
    "singularity; the guard is the integer test nab < nf, no float "
    "compare).  All measures are single divisions of exact integer "
    "counts — identical doubles on both engines, rounded 6dp, with "
    "a (lift, confidence, antecedent, consequent) total order.  "
    "Same basket-bounded pair volume as the sibling (sum of k^2 "
    "per order, k <= 7 here, hot-basket cap at real scale); the "
    "rule expansion and metric joins are linear in the pair count",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(
        eager=False
    )
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("nf"))
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("nab"))
        .filter(F.col("nab") >= 2)
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "nab"
    ).unionAll(
        pairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "nab",
        )
    )
    fa = freq.select(
        F.col("l_partkey").alias("antecedent"), F.col("nf").alias("nfa")
    )
    fc = freq.select(
        F.col("l_partkey").alias("consequent"), F.col("nf").alias("nfc")
    )
    conf = F.col("nab") * 1.0 / F.col("nfa")
    return (
        rules.join(fa, "antecedent")
        .join(fc, "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("nab").cast("long").alias("n_both"),
            F.round(conf, 6).alias("confidence"),
            F.round(
                F.col("nab") * 1.0 * F.col("n_orders")
                / (F.col("nfa") * F.col("nfc")),
                6,
            ).alias("lift"),
            F.when(
                F.col("nab") < F.col("nfa"),
                F.round(
                    (1.0 - F.col("nfc") * 1.0 / F.col("n_orders"))
                    / (1.0 - conf),
                    6,
                ),
            ).alias("conviction"),
        )
        .orderBy(
            F.desc("lift"), F.desc("confidence"), "antecedent", "consequent"
        )
        .limit(20)
    )


# ------------------------------------------------ randomness diagnostics


@register(
    "ts_turning_points_test",
    oracle="""
WITH daily AS (
  SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) / 86400 AS d,
         round(sum(value), 6) AS v
  FROM events GROUP BY 1
),
tri AS (
  SELECT c.v AS v, p.v AS vp, nx.v AS vn
  FROM daily c
  JOIN daily p ON p.d = c.d - 1
  JOIN daily nx ON nx.d = c.d + 1
),
s AS (
  SELECT count(*) AS ni,
         sum(CASE WHEN (v > vp AND v > vn) OR (v < vp AND v < vn)
                  THEN 1 ELSE 0 END) AS t
  FROM tri
)
SELECT CAST(ni + 2 AS BIGINT) AS n_days,
       CAST(t AS BIGINT) AS n_turning_points,
       round(2.0 * ni / 3.0, 4) AS expected_tp,
       round((t - 2.0 * ni / 3.0)
             / sqrt((16.0 * (ni + 2) - 29.0) / 90.0), 4) AS z_stat,
       abs((t - 2.0 * ni / 3.0)
             / sqrt((16.0 * (ni + 2) - 29.0) / 90.0)) > 1.96
         AS significant_5pct
FROM s
""",
    doc="turning-point test of randomness on the daily value series: "
    "count strict local extrema among interior days, compare to the "
    "E[T] = 2(n-2)/3 and Var[T] = (16n-29)/90 of an i.i.d. "
    "sequence (Kendall) — the LOCAL-structure randomness probe "
    "complementing stats_runs_test (runs around the median are "
    "global sign structure; turning points detect short-range "
    "serial dependence like smoothing or weekly ramps).  Strict "
    "inequalities on 6dp-rounded daily sums make tie handling "
    "bit-deterministic across engines; interior days come from two "
    "calendar equi-joins (d-1, d+1) over the daily aggregate — no "
    "ordered window, and days with calendar gaps drop out of the "
    "triple set on both sides identically",
)
def ts_turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        (
            F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
        ).alias("d")
    ).agg(F.round(F.sum("value"), 6).alias("v")).localCheckpoint(eager=False)
    c, p, nx = daily.alias("c"), daily.alias("p"), daily.alias("nx")
    tri = (
        c.join(p, F.col("p.d") == F.col("c.d") - 1)
        .join(nx, F.col("nx.d") == F.col("c.d") + 1)
        .select(
            F.col("c.v").alias("v"),
            F.col("p.v").alias("vp"),
            F.col("nx.v").alias("vn"),
        )
    )
    is_tp = (
        (F.col("v") > F.col("vp")) & (F.col("v") > F.col("vn"))
    ) | ((F.col("v") < F.col("vp")) & (F.col("v") < F.col("vn")))
    s = tri.agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum(F.when(is_tp, 1).otherwise(0)).alias("t"),
    )
    z = (F.col("t") - 2.0 * F.col("ni") / 3.0) / F.sqrt(
        (16.0 * (F.col("ni") + 2) - 29.0) / 90.0
    )
    return s.select(
        (F.col("ni") + 2).cast("long").alias("n_days"),
        F.col("t").cast("long").alias("n_turning_points"),
        F.round(2.0 * F.col("ni") / 3.0, 4).alias("expected_tp"),
        F.round(z, 4).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_5pct"),
    )


# ------------------------------------------------ ML calibration / eval


@register(
    "ml_isotonic_calibration_pav",
    oracle="""
WITH scored AS (
  SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
         round(1.0 / (1.0 + exp(-CAST(embedding[1] AS DOUBLE) * 4)), 6)
           AS score
  FROM embeddings
),
bins AS (
  SELECT CAST(least(floor(score * 20), 19) AS BIGINT) AS b,
         count(*) AS n, sum(y) AS pos
  FROM scored GROUP BY 1
),
iv AS (
  SELECT i.b AS i, j.b AS j,
         sum(m.pos) AS p, sum(m.n) AS nn
  FROM bins i
  JOIN bins j ON j.b >= i.b
  JOIN bins m ON m.b BETWEEN i.b AND j.b
  GROUP BY 1, 2
),
inner_min AS (
  SELECT k.b AS k, v.i,
         min(v.p * 1.0 / v.nn) AS mn
  FROM bins k
  JOIN iv v ON v.i <= k.b AND v.j >= k.b
  GROUP BY 1, 2
)
SELECT b.b AS bin,
       CAST(b.n AS BIGINT) AS n,
       round(b.pos * 1.0 / b.n, 6) AS raw_rate,
       round(max(im.mn), 6) AS iso_rate
FROM bins b JOIN inner_min im ON im.k = b.b
GROUP BY b.b, b.n, b.pos
ORDER BY bin
""",
    doc="isotonic (PAV) calibration of the sigmoid scorer over 20 "
    "score bins via the MINIMAX identity: the pool-adjacent-"
    "violators solution at bin k equals max over i<=k of min over "
    "j>=k of the interval positive rate mean(y_i..y_j) — which "
    "turns the inherently SEQUENTIAL PAV pooling loop into three "
    "O(B^3) joins over the bin aggregate (B=20 -> 8000 interval "
    "rows), fully parallel and oracle-replayable, vs "
    "ml_eval_calibration_bins which only REPORTS the raw "
    "reliability table.  Interval rates are single divisions of "
    "exact integer sums — identical doubles, so the max/min "
    "lattice agrees bit-for-bit across engines.  The N-sized pass "
    "is one groupBy to the 20-bin histogram; everything after is "
    "bin-bounded.  Same deterministic score/label derivation as "
    "ml_eval_auc_prf (embeddings fixture)",
)
def ml_isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    score = F.round(
        1.0
        / (1.0 + F.exp(-F.element_at(F.col("embedding"), 1).cast("double") * 4)),
        6,
    )
    bins = (
        emb.select(
            F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
            score.alias("score"),
        )
        .groupBy(
            F.least(F.floor(F.col("score") * 20), F.lit(19))
            .cast("long")
            .alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
        .localCheckpoint(eager=False)
    )
    i = bins.select(F.col("b").alias("i"))
    j = bins.select(F.col("b").alias("j"))
    m = bins.select(F.col("b").alias("mb"), "n", "pos")
    iv = (
        i.crossJoin(F.broadcast(j))
        .filter(F.col("j") >= F.col("i"))
        .join(
            F.broadcast(m),
            (F.col("mb") >= F.col("i")) & (F.col("mb") <= F.col("j")),
        )
        .groupBy("i", "j")
        .agg(F.sum("pos").alias("p"), F.sum("n").alias("nn"))
    )
    k = bins.select(F.col("b").alias("k"))
    inner_min = (
        k.join(
            F.broadcast(iv),
            (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")),
        )
        .groupBy("k", "i")
        .agg(F.min(F.col("p") * 1.0 / F.col("nn")).alias("mn"))
    )
    return (
        bins.join(F.broadcast(inner_min), F.col("b") == F.col("k"))
        .groupBy("b", "n", "pos")
        .agg(F.round(F.max("mn"), 6).alias("iso_rate"))
        .select(
            F.col("b").alias("bin"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("pos") * 1.0 / F.col("n"), 6).alias("raw_rate"),
            "iso_rate",
        )
        .orderBy("bin")
    )


@register(
    "ml_eval_mcc_youden",
    oracle="""
WITH scored AS (
  SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
         CASE WHEN 1.0 / (1.0 + exp(-CAST(embedding[1] AS DOUBLE) * 4))
                   >= 0.5 THEN 1 ELSE 0 END AS pred
  FROM embeddings
),
c AS (
  SELECT sum(y * pred) AS tp,
         sum((1 - y) * pred) AS fp,
         sum(y * (1 - pred)) AS fn,
         sum((1 - y) * (1 - pred)) AS tn
  FROM scored
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
             / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                    * (tn + fp) * (tn + fn)), 4) + 0.0 AS mcc,
       round(tp * 1.0 / (tp + fn) + tn * 1.0 / (tn + fp) - 1.0, 4) + 0.0
         AS youden_j,
       round((tp * 1.0 / (tp + fn) + tn * 1.0 / (tn + fp)) / 2.0, 4)
         AS balanced_acc,
       round((tp + tn) * 1.0 / (tp + fp + fn + tn), 4) AS accuracy
FROM c
""",
    doc="Matthews correlation, Youden's J and balanced accuracy for "
    "the 0.5-thresholded sigmoid scorer — the prevalence-robust "
    "evaluation panel: with the positive class at ~10% (label 0 of "
    "10), raw accuracy is dominated by the majority class while "
    "MCC/J expose the true (lack of) signal; complements "
    "ml_confusion_logreg (the raw matrix) and ml_threshold_sweep_f1 "
    "(P/R/F1 across thresholds) with the chance-corrected single "
    "numbers.  All four confusion cells are provably nonzero on "
    "the smallest fixture (verified: 25/220/31/224 at sf0.001), so "
    "the ANSI divisions and the sqrt-product denominator (computed "
    "in doubles to dodge the int64 overflow at large n) are total.  "
    "One aggregate over the scan; everything else is scalar "
    "arithmetic on a 1-row table",
)
def ml_eval_mcc_youden(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    y = F.when(F.col("label") == 0, 1).otherwise(0)
    pred = F.when(
        1.0 / (1.0 + F.exp(-F.element_at(F.col("embedding"), 1).cast("double") * 4))
        >= 0.5,
        1,
    ).otherwise(0)
    c = emb.select(y.alias("y"), pred.alias("pred")).agg(
        F.sum(F.col("y") * F.col("pred")).alias("tp"),
        F.sum((1 - F.col("y")) * F.col("pred")).alias("fp"),
        F.sum(F.col("y") * (1 - F.col("pred"))).alias("fn"),
        F.sum((1 - F.col("y")) * (1 - F.col("pred"))).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    sens = tp * 1.0 / (tp + fn)
    spec = tn * 1.0 / (tn + fp)
    return c.select(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        (
            F.round(
                (tp.cast("double") * tn - fp.cast("double") * fn)
                / F.sqrt(
                    (tp + fp).cast("double")
                    * (tp + fn)
                    * (tn + fp)
                    * (tn + fn)
                ),
                4,
            )
            + 0.0  # kill IEEE -0.0 (DuckDB rounds tiny negatives to -0.0)
        ).alias("mcc"),
        (F.round(sens + spec - 1.0, 4) + 0.0).alias("youden_j"),
        F.round((sens + spec) / 2.0, 4).alias("balanced_acc"),
        F.round((tp + tn) * 1.0 / (tp + fp + fn + tn), 4).alias("accuracy"),
    )


@register(
    "ml_next_event_bigram_acc",
    oracle="""
WITH cut AS (
  SELECT CAST(floor(quantile_cont(floor(epoch(ts)), 0.7)) AS BIGINT) AS c
  FROM events
),
pairs AS (
  SELECT event_type AS prev,
         lead(event_type) OVER w AS nxt,
         CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS nxt_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
train AS (
  SELECT prev, nxt, count(*) AS cnt FROM pairs
  WHERE nxt IS NOT NULL AND nxt_s <= (SELECT c FROM cut)
  GROUP BY 1, 2
),
best AS (
  SELECT t.prev, min(t.nxt) AS predicted_next, max(t.cnt) AS best_cnt
  FROM train t
  JOIN (SELECT prev, max(cnt) AS mx FROM train GROUP BY prev) m
    ON m.prev = t.prev AND t.cnt = m.mx
  GROUP BY t.prev
),
sup AS (SELECT prev, sum(cnt) AS train_support FROM train GROUP BY 1),
ev AS (
  SELECT p.prev, b.predicted_next,
         CASE WHEN p.nxt = b.predicted_next THEN 1 ELSE 0 END AS hit
  FROM pairs p JOIN best b ON b.prev = p.prev
  WHERE p.nxt IS NOT NULL AND p.nxt_s > (SELECT c FROM cut)
)
SELECT e.prev AS prev_event_type, max(e.predicted_next) AS predicted_next,
       CAST(max(s.train_support) AS BIGINT) AS train_support,
       CAST(count(*) AS BIGINT) AS eval_n,
       round(avg(hit), 4) AS accuracy
FROM ev e JOIN sup s ON s.prev = e.prev
GROUP BY e.prev ORDER BY e.prev
""",
    doc="next-event prediction with a bigram majority model: learn "
    "argmax P(next | prev) on the first 70%% of time (cutoff = "
    "DERIVED 0.7 quantile of event seconds), score accuracy on the "
    "strictly-later pairs — the train/eval temporal split "
    "discipline of ml_split_train_eval applied to the sequence "
    "model family (dash_event_transitions reports the transition "
    "matrix; this one closes the loop into a scored predictor, the "
    "baseline every sequential recommender must beat).  Majority "
    "pick uses exact integer (count desc, type asc) argmax via a "
    "max-join, no window; consecutive pairs come from a lead() "
    "window partitioned per user (ordered by (ts, event_id) — the "
    "pinned total order); a pair belongs to eval iff its LABEL "
    "event falls after the cutoff, so no future leaks into "
    "training.  Floor(epoch()) per the timestamp discipline",
)
def ml_next_event_bigram_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        F.floor(
            F.expr("percentile(floor(unix_timestamp(ts)), 0.7)")
        ).cast("long").alias("c")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("prev"),
            F.lead("event_type").over(w).alias("nxt"),
            F.floor(F.unix_timestamp(F.lead("ts").over(w)))
            .cast("long")
            .alias("nxt_s"),
        )
        .filter(F.col("nxt").isNotNull())
        .crossJoin(F.broadcast(cut))
        .localCheckpoint(eager=False)
    )
    train = (
        pairs.filter(F.col("nxt_s") <= F.col("c"))
        .groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    mx = train.groupBy("prev").agg(F.max("cnt").alias("mx"))
    best = (
        train.join(mx, "prev")
        .filter(F.col("cnt") == F.col("mx"))
        .groupBy("prev")
        .agg(F.min("nxt").alias("predicted_next"))
    )
    sup = train.groupBy("prev").agg(F.sum("cnt").alias("train_support"))
    evl = (
        pairs.filter(F.col("nxt_s") > F.col("c"))
        .join(F.broadcast(best), "prev")
        .select(
            "prev",
            "predicted_next",
            F.when(F.col("nxt") == F.col("predicted_next"), 1)
            .otherwise(0)
            .alias("hit"),
        )
    )
    return (
        evl.groupBy("prev")
        .agg(
            F.max("predicted_next").alias("predicted_next"),
            F.count(F.lit(1)).cast("long").alias("eval_n"),
            F.round(F.avg("hit"), 4).alias("accuracy"),
        )
        .join(F.broadcast(sup), "prev")
        .select(
            F.col("prev").alias("prev_event_type"),
            "predicted_next",
            F.col("train_support").cast("long").alias("train_support"),
            "eval_n",
            "accuracy",
        )
        .orderBy("prev_event_type")
    )


# ------------------------------------------------ embedding diagnostics

_LSH_PP_SQL = """
pp AS (
  SELECT least(16, greatest(4, CAST(ceil(log2(count(*) / 128.0)) AS INT)))
           AS bits,
         greatest(64, (8 * count(*)) // (1 << least(16, greatest(4,
           CAST(ceil(log2(count(*) / 128.0)) AS INT))))) AS cap
  FROM embeddings
),
raw AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
b AS (
  SELECT vec_id, label,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS en,
         CAST(list_sum(list_transform(range(0, p.bits),
           i -> CASE WHEN e[CAST(i + 1 AS INT)] > 0
                     THEN CAST(1 AS BIGINT) << i ELSE 0 END)) AS BIGINT)
           AS bucket
  FROM raw CROSS JOIN pp p
),
capped AS (
  SELECT vec_id, label, en, bucket FROM b
  QUALIFY count(*) OVER (PARTITION BY bucket) <= (SELECT cap FROM pp)
),
probes AS (
  SELECT vec_id, label, en,
         unnest(list_prepend(bucket,
           list_transform(range(0, p.bits),
             i -> xor(bucket, CAST(1 AS BIGINT) << i)))) AS pbucket
  FROM b CROSS JOIN pp p
)
"""


def _lsh_frames(spark: SparkSession, sf_dir: str):
    """Shared probe/build frames for the multi-probe LSH diagnostics
    (derived bit count, Hamming-1 multi-probe, hot buckets capped at
    8x expected size).  Returns (probes, v): probes = (vec_id, label,
    en, bucket) one row per probe bucket; v = (nb, nlabel, ven,
    bucket) capped build side."""
    import math

    from ..operators.dedup import cap_hot_buckets
    from ..operators.similarity import _dot

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    bits = min(16, max(4, math.ceil(math.log2(max(n, 1) / 128.0))))
    cap = max(64, (8 * n) >> bits)
    raw = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    b = raw.select(
        "vec_id",
        "label",
        "e",
        F.sqrt(_dot(F.col("e"), F.col("e"))).alias("nrm"),
        sum(
            F.when(F.element_at(F.col("e"), i + 1) > 0, 1 << i).otherwise(0)
            for i in range(bits)
        )
        .cast("long")
        .alias("bucket"),
    ).select(
        "vec_id",
        "label",
        "bucket",
        F.transform("e", lambda x: x / F.col("nrm")).alias("en"),
    )
    probes = b.select(
        "vec_id",
        "label",
        "en",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(bits)
                ],
            )
        ).alias("bucket"),
    )
    v = cap_hot_buckets(b, ["bucket"], cap).select(
        F.col("vec_id").alias("nb"),
        F.col("label").alias("nlabel"),
        F.col("en").alias("ven"),
        "bucket",
    )
    return probes, v


def _lsh_candidates(spark: SparkSession, sf_dir: str):
    """HOF-dot candidate join over _lsh_frames — the oracle-exact
    reference path (the DuckDB oracles replay this join verbatim).
    Returns (vec_id, label, nb, nlabel, sim) with sim rounded 6dp."""
    from ..operators.similarity import _dot

    probes, v = _lsh_frames(spark, sf_dir)
    return (
        probes.join(v, "bucket")
        .filter(F.col("nb") != F.col("vec_id"))
        .select(
            "vec_id",
            "label",
            "nb",
            "nlabel",
            F.round(_dot(F.col("en"), F.col("ven")), 6).alias("sim"),
        )
    )


def _lsh_candidates_blas(
    spark: SparkSession, sf_dir: str, k: int = 3, per_class: bool = False
):
    """BLAS cogroup candidate scorer over the same _lsh_frames: one
    matmul per bucket, per-(probe, bucket) top-k (or per-label-class
    top-k) emitted — see operators/similarity.py
    blas_bucket_candidates for why the reduction is exact.  Bit-parity
    with _lsh_candidates' rounded sims is pinned per round
    (tests/test_round12_ops.py) and was measured exact at every scale
    before the round-9 promotion (SCALING.md)."""
    from ..operators.similarity import blas_bucket_candidates

    probes, v = _lsh_frames(spark, sf_dir)
    return blas_bucket_candidates(probes, v, k=k, per_class=per_class)


@register(
    "emb_two_nn_intrinsic_dim",
    oracle=f"""
WITH {_LSH_PP_SQL},
top2 AS (
  SELECT p.vec_id, p.label,
         round(list_dot_product(p.en, v.en), 6) AS sim,
         row_number() OVER (PARTITION BY p.vec_id
           ORDER BY round(list_dot_product(p.en, v.en), 6) DESC, v.vec_id)
           AS rn
  FROM probes p JOIN capped v ON v.bucket = p.pbucket
  WHERE v.vec_id != p.vec_id
  QUALIFY rn <= 2
),
nn AS (
  SELECT vec_id, label,
         max(CASE WHEN rn = 1 THEN sim END) AS s1,
         max(CASE WHEN rn = 2 THEN sim END) AS s2
  FROM top2 GROUP BY 1, 2
),
mu AS (
  SELECT label,
         0.5 * (ln(2.0 - 2.0 * s2) - ln(2.0 - 2.0 * s1)) AS lnmu
  FROM nn WHERE s2 IS NOT NULL AND s1 < 1.0
),
agg AS (
  SELECT label, count(*) AS n_used, sum(lnmu) AS slm
  FROM mu GROUP BY 1
)
SELECT label, CAST(n_used AS BIGINT) AS n_used,
       round(n_used / slm, 4) AS id_hat
FROM agg WHERE slm > 1e-9 ORDER BY label
""",
    doc="Two-NN intrinsic-dimension estimate (Facco et al.) per label: "
    "for each vector the ratio mu = d2/d1 of its two nearest "
    "neighbors is Pareto(id)-distributed, so id_hat = n / sum "
    "ln(mu) — the one-number diagnostic that tells you whether 64 "
    "ambient dimensions hide a low-dimensional manifold (drives "
    "PQ/IVF codebook sizing and whether ANN recall targets are "
    "achievable).  Neighbors come from the standard capped "
    "multi-probe LSH candidate join (derived bits, 8x hot-bucket "
    "cap — emb_hubness_indegree's plan, oracle-replayed via "
    "QUALIFY); distances on unit vectors via d^2 = 2-2*sim with "
    "sims rounded 6dp, so ln() arguments agree bit-for-bit.  "
    "Exact-duplicate anchors (s1 = 1) are excluded — their d1 = 0 "
    "breaks the ratio (and ANSI division) by definition of the "
    "estimator.  Interpreted-HOF dot is the measured per-pair "
    "floor for oracle-replayable cosine; the BLAS cogroup is the "
    "cluster path (SCALING.md)",
)
def emb_two_nn_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # registry default = BLAS cogroup scorer (round-9 promotion, same
    # evidence protocol as emb_density_core_points: exact bit-parity
    # with the HOF path at every scale, SCALING.md); per-bucket top-2
    # partials are exact for a global top-2
    return _two_nn_from_cand(_lsh_candidates_blas(spark, sf_dir, k=2))


def _two_nn_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact HOF-dot twin (the pre-round-9 registry default),
    parity-pinned in tests/test_round12_ops.py."""
    return _two_nn_from_cand(_lsh_candidates(spark, sf_dir))


def _two_nn_from_cand(cand: DataFrame) -> DataFrame:
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "nb")
    nn = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id", "label")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("sim"))).alias("s1"),
            F.max(F.when(F.col("rn") == 2, F.col("sim"))).alias("s2"),
        )
    )
    mu = nn.filter(
        F.col("s2").isNotNull() & (F.col("s1") < 1.0)
    ).select(
        "label",
        (
            0.5
            * (F.log(2.0 - 2.0 * F.col("s2")) - F.log(2.0 - 2.0 * F.col("s1")))
        ).alias("lnmu"),
    )
    return (
        mu.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_used"), F.sum("lnmu").alias("slm"))
        .filter(F.col("slm") > 1e-9)
        .select(
            "label",
            F.col("n_used").cast("long").alias("n_used"),
            F.round(F.col("n_used") / F.col("slm"), 4).alias("id_hat"),
        )
        .orderBy("label")
    )


@register(
    "emb_triplet_margin_stats",
    oracle=f"""
WITH {_LSH_PP_SQL},
cand AS (
  SELECT p.vec_id, p.label, v.label AS nlabel,
         round(list_dot_product(p.en, v.en), 6) AS sim
  FROM probes p JOIN capped v ON v.bucket = p.pbucket
  WHERE v.vec_id != p.vec_id
),
sides AS (
  SELECT vec_id, label,
         max(CASE WHEN nlabel = label THEN sim END) AS sp,
         max(CASE WHEN nlabel != label THEN sim END) AS sn
  FROM cand GROUP BY 1, 2
),
tri AS (
  SELECT label, round(sp - sn, 6) AS margin
  FROM sides WHERE sp IS NOT NULL AND sn IS NOT NULL
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_triplets,
       round(avg(CASE WHEN margin < 0 THEN 1.0 ELSE 0.0 END), 4)
         AS violation_rate,
       round(avg(margin), 4) + 0.0 AS avg_margin
FROM tri GROUP BY label ORDER BY label
""",
    doc="triplet-margin diagnostic per label: for each anchor, the "
    "hardest positive (most-similar same-label candidate) and "
    "hardest negative (most-similar other-label candidate) from "
    "the capped multi-probe LSH join form the triplet a metric-"
    "learning loss would see; margin = sim(a,p) - sim(a,n), "
    "violation = the negative is CLOSER than the positive — the "
    "fraction a contrastive fine-tune would need to fix, and the "
    "per-label complement to ml_hard_negative_mining's instance "
    "listing and emb_inter_intra_separability's centroid-level "
    "ratio (margins are per-anchor extremes, not means — hubness "
    "and boundary overlap show up here first).  Both sides come "
    "from ONE conditional-max groupBy over the candidate join — "
    "no window at all; sims rounded 6dp before the subtraction "
    "and +0.0 on the rounded mean (the +-0 discipline, the "
    "isotropic fixture's margins are near-zero by construction)",
)
def emb_triplet_margin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # registry default = BLAS cogroup scorer (round-9 promotion);
    # per-bucket per-label-class maxima are exact partials for the
    # global conditional max below
    return _triplet_from_cand(
        _lsh_candidates_blas(spark, sf_dir, k=1, per_class=True)
    )


def _triplet_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact HOF-dot twin (the pre-round-9 registry default),
    parity-pinned in tests/test_round12_ops.py."""
    return _triplet_from_cand(_lsh_candidates(spark, sf_dir))


def _triplet_from_cand(cand: DataFrame) -> DataFrame:
    sides = cand.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("nlabel") == F.col("label"), F.col("sim"))
        ).alias("sp"),
        F.max(
            F.when(F.col("nlabel") != F.col("label"), F.col("sim"))
        ).alias("sn"),
    )
    tri = sides.filter(
        F.col("sp").isNotNull() & F.col("sn").isNotNull()
    ).select("label", F.round(F.col("sp") - F.col("sn"), 6).alias("margin"))
    return (
        tri.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triplets"),
            F.round(
                F.avg(F.when(F.col("margin") < 0, 1.0).otherwise(0.0)), 4
            ).alias("violation_rate"),
            (F.round(F.avg("margin"), 4) + 0.0).alias("avg_margin"),
        )
        .orderBy("label")
    )


# ------------------------------------------------ retrieval evaluation

_TOKS9 = "string_split_regex(lower(trim(text)), '\\s+')"


@register(
    "search_mrr_map_eval",
    oracle=f"""
WITH tf AS MATERIALIZED (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS9}) AS tok FROM documents)
  GROUP BY 1, 2
),
n AS (SELECT count(*) AS n_docs FROM documents),
df AS MATERIALIZED (
  SELECT tok, count(*) AS df FROM tf WHERE length(tok) >= 4 GROUP BY 1
),
top6 AS (
  SELECT * FROM (
    SELECT d.tok, d.df,
           (SELECT count(*) FROM df o
            WHERE o.df > d.df OR (o.df = d.df AND o.tok < d.tok)) + 1 AS rn
    FROM df d
  ) WHERE rn <= 6
),
qd AS (SELECT (rn - 1) // 2 AS qid, tok, df FROM top6),
m AS MATERIALIZED (
  SELECT q.qid, t.doc_id,
         count(*) AS n_terms, sum(t.tf) AS tfs,
         round(sum(t.tf * ln(CAST(n.n_docs AS DOUBLE) / q.df)), 6) AS score
  FROM qd q JOIN tf t ON t.tok = q.tok CROSS JOIN n
  GROUP BY 1, 2
),
ranked AS (
  SELECT qid, doc_id, score,
         CASE WHEN n_terms = 2 AND tfs >= 4 THEN 1 ELSE 0 END AS rel,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id) AS rnk
  FROM m
),
cum AS (
  SELECT qid, rel, rnk,
         sum(rel) OVER (PARTITION BY qid ORDER BY rnk
                        ROWS UNBOUNDED PRECEDING) AS crel
  FROM ranked
),
per AS (
  SELECT qid,
         count(*) AS n_matched,
         sum(rel) AS n_relevant,
         1.0 / min(CASE WHEN rel = 1 THEN rnk END) AS rr,
         sum(CASE WHEN rel = 1 AND rnk <= 10
                  THEN crel * 1.0 / rnk ELSE 0 END)
           / least(sum(rel), 10) AS ap10
  FROM cum GROUP BY qid
),
terms AS (
  SELECT qid, min(tok) || ' ' || max(tok) AS query_terms FROM qd GROUP BY qid
)
SELECT p.qid, t.query_terms,
       CAST(p.n_matched AS BIGINT) AS n_matched,
       CAST(p.n_relevant AS BIGINT) AS n_relevant,
       round(p.rr, 6) AS rr,
       round(p.ap10, 6) AS ap_at_10
FROM per p JOIN terms t ON t.qid = p.qid
WHERE p.n_relevant > 0
ORDER BY p.qid
""",
    doc="MRR and MAP@10 over a DERIVED 3-query workload: the top-6 "
    "length>=4 tokens by document frequency pair up into three "
    "2-term queries (derivation keeps the workload meaningful at "
    "every scale factor), the TF-IDF ranker orders matched docs, "
    "and binary relevance = both terms present with combined tf >= "
    "4.  Completes the retrieval-metric family: search_ndcg_at_10 "
    "grades with graded gain, ml_eval_precision_at_k with set "
    "overlap; MRR scores the FIRST hit (navigational quality) and "
    "MAP integrates precision over the full ranking (recall-"
    "oriented).  Rank + cumulative-relevance windows are "
    "partitioned per query over the posting-list join (df-bounded, "
    "never corpus-wide); the top-6 selection uses a rank self-join "
    "on the tiny df aggregate, no global window.  All scores are "
    "integer-tf x ln(N/df) rounded 6dp with (score, doc_id) total "
    "tiebreaks",
)
def search_mrr_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "tok"
            ),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df = tf.filter(F.length("tok") >= 4).groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    o = df.select(F.col("tok").alias("o_tok"), F.col("df").alias("o_df"))
    top6 = (
        df.join(
            F.broadcast(o),
            (F.col("o_df") > F.col("df"))
            | ((F.col("o_df") == F.col("df")) & (F.col("o_tok") < F.col("tok"))),
            "left",
        )
        .groupBy("tok", "df")
        .agg((F.count("o_tok") + 1).alias("rn"))
        .filter(F.col("rn") <= 6)
    )
    qd = top6.select(
        ((F.col("rn") - 1) / 2).cast("long").alias("qid"), "tok", "df"
    )
    m = (
        F.broadcast(qd)
        .join(tf, "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("qid", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("tf").alias("tfs"),
            F.round(
                F.sum(
                    F.col("tf")
                    * F.log(F.col("n_docs").cast("double") / F.col("df"))
                ),
                6,
            ).alias("score"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("score"), "doc_id")
    ranked = m.select(
        "qid",
        "doc_id",
        F.when((F.col("n_terms") == 2) & (F.col("tfs") >= 4), 1)
        .otherwise(0)
        .alias("rel"),
        F.row_number().over(wq).alias("rnk"),
    )
    wc = (
        Window.partitionBy("qid")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ranked.withColumn("crel", F.sum("rel").over(wc))
    per = cum.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum("rel").cast("long").alias("n_relevant"),
        F.round(
            1.0 / F.min(F.when(F.col("rel") == 1, F.col("rnk"))), 6
        ).alias("rr"),
        F.round(
            F.sum(
                F.when(
                    (F.col("rel") == 1) & (F.col("rnk") <= 10),
                    F.col("crel") * 1.0 / F.col("rnk"),
                ).otherwise(0.0)
            )
            / F.least(F.sum("rel"), F.lit(10)),
            6,
        ).alias("ap_at_10"),
    )
    terms = qd.groupBy("qid").agg(
        F.concat(F.min("tok"), F.lit(" "), F.max("tok")).alias("query_terms")
    )
    return (
        per.join(F.broadcast(terms), "qid")
        .filter(F.col("n_relevant") > 0)
        .select(
            "qid", "query_terms", "n_matched", "n_relevant", "rr", "ap_at_10"
        )
        .orderBy("qid")
    )


@register(
    "search_rocchio_prf",
    oracle=f"""
WITH tf AS MATERIALIZED (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS9}) AS tok FROM documents)
  GROUP BY 1, 2
),
n AS (SELECT count(*) AS n_docs FROM documents),
df AS MATERIALIZED (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
r1 AS (
  SELECT t.doc_id,
         round(sum(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df)), 6) AS score1
  FROM tf t JOIN df d ON d.tok = t.tok CROSS JOIN n
  WHERE t.tok IN ('join', 'scan')
  GROUP BY t.doc_id
),
seeds AS (
  SELECT doc_id, score1 FROM r1 ORDER BY score1 DESC, doc_id LIMIT 3
),
exp_terms AS (
  SELECT t.tok,
         round(sum(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df)), 6) AS w
  FROM seeds s
  JOIN tf t ON t.doc_id = s.doc_id
  JOIN df d ON d.tok = t.tok
  CROSS JOIN n
  WHERE length(t.tok) >= 4 AND t.tok NOT IN ('join', 'scan')
  GROUP BY t.tok
  ORDER BY w DESC, t.tok LIMIT 2
),
q2 AS (
  SELECT 'join' AS tok, 1.0 AS qw UNION ALL
  SELECT 'scan', 1.0 UNION ALL
  SELECT tok, 0.5 FROM exp_terms
),
r2 AS (
  SELECT t.doc_id,
         round(sum(q.qw * t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df)), 6)
           AS score2
  FROM q2 q
  JOIN tf t ON t.tok = q.tok
  JOIN df d ON d.tok = q.tok
  CROSS JOIN n
  GROUP BY t.doc_id
)
SELECT r2.doc_id,
       coalesce(r1.score1, 0.0) AS score_initial,
       r2.score2 AS score_expanded,
       s.doc_id IS NOT NULL AS is_prf_seed
FROM r2
LEFT JOIN r1 ON r1.doc_id = r2.doc_id
LEFT JOIN seeds s ON s.doc_id = r2.doc_id
ORDER BY score_expanded DESC, r2.doc_id LIMIT 10
""",
    doc="Rocchio pseudo-relevance feedback: rank the 2-term query "
    "{join, scan} with TF-IDF, take the top-3 docs as pseudo-"
    "relevant, expand the query with their 2 strongest non-query "
    "terms at beta = 0.5, and re-rank — the classic automatic "
    "query-expansion loop (Rocchio 1971; PRF is still the "
    "strongest non-neural recall lever) layered on the same "
    "index-build shape as search_bm25_ranking.  Every selection "
    "is a TakeOrdered LIMIT with a total (score, id) tiebreak — "
    "seeds, expansion terms, and the final top-10 — so there is "
    "NO window anywhere in the plan; scores are integer-tf x "
    "ln(N/df) rounded 6dp.  The expansion-term aggregate runs "
    "over 3 seed docs (posting-list bounded); the re-rank joins "
    "the weighted 4-term query back through the inverted index, "
    "exactly the production PRF dataflow at any corpus size",
)
def search_rocchio_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "tok"
            ),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.col("n_docs").cast("double") / F.col("df"))
    r1 = (
        tf.filter(F.col("tok").isin("join", "scan"))
        .join(df, "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("tf") * idf), 6).alias("score1"))
        .localCheckpoint(eager=False)
    )
    seeds = r1.orderBy(F.desc("score1"), "doc_id").limit(3)
    exp_terms = (
        F.broadcast(seeds.select("doc_id"))
        .join(tf, "doc_id")
        .filter(
            (F.length("tok") >= 4) & (~F.col("tok").isin("join", "scan"))
        )
        .join(df, "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("tok")
        .agg(F.round(F.sum(F.col("tf") * idf), 6).alias("w"))
        .orderBy(F.desc("w"), "tok")
        .limit(2)
    )
    q2 = (
        spark.createDataFrame(
            [("join", 1.0), ("scan", 1.0)], "tok string, qw double"
        )
        .unionAll(exp_terms.select("tok", F.lit(0.5).alias("qw")))
    )
    r2 = (
        F.broadcast(q2)
        .join(tf, "tok")
        .join(df, "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("qw") * F.col("tf") * idf), 6).alias(
                "score2"
            )
        )
    )
    return (
        r2.join(r1.withColumnRenamed("score1", "s1"), "doc_id", "left")
        .join(
            F.broadcast(
                seeds.select("doc_id", F.lit(True).alias("seed"))
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("s1", F.lit(0.0)).alias("score_initial"),
            F.col("score2").alias("score_expanded"),
            F.coalesce("seed", F.lit(False)).alias("is_prf_seed"),
        )
        .orderBy(F.desc("score_expanded"), "doc_id")
        .limit(10)
    )


# ------------------------------------------------ forecasting / EVT / ops


@register(
    "ts_croston_intermittent",
    oracle="""
WITH top5 AS (
  SELECT l_partkey FROM lineitem
  GROUP BY 1 ORDER BY sum(l_quantity) DESC, l_partkey LIMIT 5
),
demand AS (
  SELECT l.l_partkey,
         CAST(floor(epoch(date_trunc('day', l.l_shipdate))) AS BIGINT)
           / 86400 AS d,
         round(sum(l.l_quantity), 6) AS z
  FROM lineitem l JOIN top5 USING (l_partkey)
  GROUP BY 1, 2
),
gaps AS (
  SELECT l_partkey, d, z,
         d - lag(d) OVER (PARTITION BY l_partkey ORDER BY d) AS gap
  FROM demand
),
folded AS (
  SELECT l_partkey,
         count(*) AS n_demand_days,
         round(avg(z), 4) AS mean_size,
         list_reduce(list(z ORDER BY d),
                     (acc, x) -> 0.2 * x + 0.8 * acc) AS zf,
         list_reduce(list(CAST(gap AS DOUBLE) ORDER BY d)
                       FILTER (gap IS NOT NULL),
                     (acc, x) -> 0.2 * x + 0.8 * acc) AS pf
  FROM gaps GROUP BY 1
)
SELECT l_partkey,
       CAST(n_demand_days AS BIGINT) AS n_demand_days,
       mean_size,
       round(zf, 4) AS croston_z,
       round(pf, 4) AS croston_p,
       round(zf / pf, 4) AS forecast_per_day
FROM folded ORDER BY l_partkey
""",
    doc="Croston's method for intermittent demand on the 5 highest-"
    "volume parts (derived; their daily ship series are ~2%% "
    "nonzero over the 2289-day calendar — exactly the sparse "
    "regime where ts_holt_linear and ts_ewma_smooth break down by "
    "forecasting between demands): separate exponential smoothing "
    "of nonzero demand SIZES and of inter-demand INTERVALS, "
    "forecast = z/p per day (Croston 1972, the standard "
    "spare-parts/slow-SKU forecaster).  Both smoothings are "
    "SCALAR ordered folds (alpha = 0.2, state seeded with the "
    "first element) — the list_reduce regime DuckDB evaluates "
    "correctly (the struct-state misbinding hazard of lesson 4 "
    "does not apply); Spark folds the identical ordered arrays "
    "with aggregate(), so every intermediate double matches "
    "bit-for-bit.  Per-part lists are bounded by that part's "
    "demand-day count; the N-sized work is one (part, day) "
    "aggregate behind a 5-key semi-join",
)
def ts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: two aggregation passes (top-5 movers, then the per-day
    # demand series) map over a single-row-group scan (round-12)
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    top5 = (
        li.groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .orderBy(F.desc("q"), "l_partkey")
        .limit(5)
        .select("l_partkey")
    )
    demand = (
        li.join(F.broadcast(top5), "l_partkey")
        .groupBy(
            "l_partkey",
            (
                F.floor(
                    F.unix_timestamp(F.date_trunc("day", "l_shipdate")) / 86400
                )
            ).alias("d"),
        )
        .agg(F.round(F.sum("l_quantity"), 6).alias("z"))
    )
    w = Window.partitionBy("l_partkey").orderBy("d")
    gaps = demand.withColumn(
        "gap", (F.col("d") - F.lag("d").over(w)).cast("double")
    )
    folded = gaps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_demand_days"),
        F.round(F.avg("z"), 4).alias("mean_size"),
        F.sort_array(F.collect_list(F.struct("d", "z"))).alias("zs"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("gap").isNotNull(), F.struct("d", "gap")
                )
            )
        ).alias("ps"),
    )
    zf = F.aggregate(
        F.slice(F.transform("zs", lambda s: s.getField("z")), 2, 1000000),
        F.element_at(F.transform("zs", lambda s: s.getField("z")), 1),
        lambda acc, x: 0.2 * x + 0.8 * acc,
    )
    pvals = F.transform("ps", lambda s: s.getField("gap"))
    pf = F.aggregate(
        F.slice(pvals, 2, 1000000),
        F.element_at(pvals, 1),
        lambda acc, x: 0.2 * x + 0.8 * acc,
    )
    return folded.select(
        "l_partkey",
        F.col("n_demand_days").cast("long").alias("n_demand_days"),
        "mean_size",
        F.round(zf, 4).alias("croston_z"),
        F.round(pf, 4).alias("croston_p"),
        F.round(zf / pf, 4).alias("forecast_per_day"),
    ).orderBy("l_partkey")


@register(
    "stats_gumbel_block_maxima",
    oracle="""
WITH daily AS (
  SELECT CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT)
           // 86400 AS d,
         CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT)
           // 86400 // 30 AS blk,
         round(sum(o_totalprice), 6) AS v
  FROM orders GROUP BY 1, 2
),
bm AS (SELECT blk, max(v) AS mx FROM daily GROUP BY 1),
mom AS (
  SELECT count(*) AS n, avg(mx) AS m, stddev_samp(mx) AS s,
         max(mx) AS max_observed
  FROM bm
)
SELECT CAST(n AS BIGINT) AS n_blocks,
       round(s * sqrt(6.0) / pi(), 4) AS beta,
       round(m - 0.5772156649015329 * s * sqrt(6.0) / pi(), 4) AS mu,
       round((m - 0.5772156649015329 * s * sqrt(6.0) / pi())
             - (s * sqrt(6.0) / pi()) * ln(-ln(1.0 - 1.0 / 12.0)), 4)
         AS return_level_12blk,
       round(max_observed, 4) AS max_observed
FROM mom
""",
    doc="extreme-value analysis of daily revenue: 30-day block maxima "
    "fitted to a Gumbel distribution by the method of moments "
    "(beta = s*sqrt(6)/pi, mu = mean - gamma*beta) and inverted "
    "for the 12-block return level mu - beta*ln(-ln(1-1/12)) — "
    "'the worst day we should expect per year' — the EVT "
    "complement to ts_outliers_mad (which flags PAST outliers; "
    "the return level EXTRAPOLATES the tail for capacity "
    "planning).  Blocks come from integer day-index division (no "
    "calendar edge cases); ~80 blocks over the 7-year order "
    "history at every scale factor.  Two bounded aggregates over "
    "the daily rollup; daily sums rounded 6dp before the block "
    "max per the partial-aggregate discipline, moments via the "
    "same stddev_samp estimator on both engines",
)
def stats_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    day = F.floor(
        F.unix_timestamp(F.date_trunc("day", "o_orderdate")) / 86400
    )
    daily = od.groupBy(
        day.alias("d"), F.floor(day / 30).alias("blk")
    ).agg(F.round(F.sum("o_totalprice"), 6).alias("v"))
    bm = daily.groupBy("blk").agg(F.max("v").alias("mx"))
    mom = bm.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("mx").alias("m"),
        F.stddev_samp("mx").alias("s"),
        F.max("mx").alias("max_observed"),
    )
    import math

    gamma = 0.5772156649015329
    beta = F.col("s") * math.sqrt(6.0) / math.pi
    mu = F.col("m") - gamma * beta
    return mom.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.round(beta, 4).alias("beta"),
        F.round(mu, 4).alias("mu"),
        F.round(
            mu - beta * F.log(-F.log(F.lit(1.0 - 1.0 / 12.0))), 4
        ).alias("return_level_12blk"),
        F.round("max_observed", 4).alias("max_observed"),
    )


@register(
    "dash_apdex_fulfillment",
    oracle="""
WITH lat AS (
  SELECT o.o_orderpriority,
         CAST(floor(epoch(date_trunc('day', l.l_shipdate))) AS BIGINT)
           / 86400
         - CAST(floor(epoch(date_trunc('day', o.o_orderdate))) AS BIGINT)
           / 86400 AS days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
t AS (
  SELECT CAST(floor(quantile_cont(days, 0.5)) AS BIGINT) AS tt FROM lat
)
SELECT o_orderpriority,
       CAST((SELECT tt FROM t) AS BIGINT) AS t_days,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       round(avg(CASE WHEN days <= (SELECT tt FROM t) THEN 1.0
                      WHEN days <= 4 * (SELECT tt FROM t) THEN 0.5
                      ELSE 0.0 END), 4) AS apdex
FROM lat GROUP BY 1 ORDER BY 1
""",
    doc="Apdex score for order fulfillment per priority class: ship "
    "latency in integer days against the DERIVED target T = median "
    "latency (satisfied <= T scores 1, tolerating <= 4T scores "
    "1/2, frustrated 0) — the industry-standard satisfaction "
    "index (Apdex Alliance) applied to the order-to-ship SLA, "
    "turning dash_days_to_nth_order-style latency distributions "
    "into one comparable number per segment; the deliberately "
    "simple ops-dashboard twin of the percentile views.  Latency "
    "is an exact integer day difference (floor(epoch()) per the "
    "timestamp discipline), the threshold compare is integer, and "
    "the score is a 3-valued CASE average — one fact join (orders "
    "broadcast-eligible per AQE at test scale, shuffled equi-join "
    "at 100 TB) and one aggregate",
)
def dash_apdex_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    lat = li.join(od, li.l_orderkey == od.o_orderkey).select(
        "o_orderpriority",
        (
            F.floor(F.unix_timestamp(F.date_trunc("day", "l_shipdate")) / 86400)
            - F.floor(
                F.unix_timestamp(F.date_trunc("day", "o_orderdate")) / 86400
            )
        ).alias("days"),
    ).localCheckpoint(eager=False)
    t = lat.agg(
        F.floor(F.expr("percentile(days, 0.5)")).cast("long").alias("tt")
    )
    return (
        lat.crossJoin(F.broadcast(t))
        .groupBy("o_orderpriority", "tt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            F.round(
                F.avg(
                    F.when(F.col("days") <= F.col("tt"), 1.0)
                    .when(F.col("days") <= 4 * F.col("tt"), 0.5)
                    .otherwise(0.0)
                ),
                4,
            ).alias("apdex"),
        )
        .select(
            "o_orderpriority",
            F.col("tt").alias("t_days"),
            "n_lineitems",
            "apdex",
        )
        .orderBy("o_orderpriority")
    )


@register(
    "text_doc_cooccur_lift",
    oracle=f"""
WITH pres AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest({_TOKS9}) AS tok FROM documents)
  WHERE length(tok) >= 4
),
n AS (SELECT count(*) AS n_docs FROM documents),
df AS (SELECT tok, count(*) AS df FROM pres GROUP BY 1),
top15 AS (
  SELECT * FROM (
    SELECT d.tok, d.df,
           (SELECT count(*) FROM df o
            WHERE o.df > d.df OR (o.df = d.df AND o.tok < d.tok)) + 1 AS rn
    FROM df d
  ) WHERE rn <= 15
),
pp AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_both
  FROM pres a
  JOIN pres b ON b.doc_id = a.doc_id AND a.tok < b.tok
  JOIN top15 ta ON ta.tok = a.tok
  JOIN top15 tb ON tb.tok = b.tok
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT p.tok_a, p.tok_b,
       CAST(p.n_both AS BIGINT) AS n_both,
       round(p.n_both * 1.0 * n.n_docs / (ta.df * tb.df), 6) AS lift
FROM pp p
JOIN top15 ta ON ta.tok = p.tok_a
JOIN top15 tb ON tb.tok = p.tok_b
CROSS JOIN n
ORDER BY lift DESC, p.tok_a, p.tok_b
LIMIT 20
""",
    doc="document-level co-occurrence lift between the top-15 "
    "length>=4 vocabulary terms (derived by document frequency "
    "with a rank self-join — no global window): lift = "
    "P(a,b)/(P(a)P(b)) over DOCUMENT presence, the topicality "
    "signal text_bigram_pmi cannot see (PMI counts ADJACENT "
    "pairs; doc-level lift catches terms that travel together "
    "anywhere in a document — the feature co-occurrence matrices, "
    "topic models and related-term suggesters start from).  The "
    "pair join is per-document over presence rows restricted to "
    "the 15-term vocabulary — at most C(15,2) combinations per "
    "doc, basket-bounded exactly like basket_copurchase_pairs, "
    "never vocabulary-squared over the corpus.  Lift is one "
    "division of exact integer counts, rounded 6dp, with a "
    "(lift, a, b) total order on the top-20",
)
def text_doc_cooccur_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    pres = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "tok"
            ),
        )
        .filter(F.length("tok") >= 4)
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df = pres.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    o = df.select(F.col("tok").alias("o_tok"), F.col("df").alias("o_df"))
    top15 = (
        df.join(
            F.broadcast(o),
            (F.col("o_df") > F.col("df"))
            | ((F.col("o_df") == F.col("df")) & (F.col("o_tok") < F.col("tok"))),
            "left",
        )
        .groupBy("tok", "df")
        .agg((F.count("o_tok") + 1).alias("rn"))
        .filter(F.col("rn") <= 15)
        .select("tok", "df")
    )
    pres15 = (
        pres.join(F.broadcast(top15.select("tok")), "tok")
        .select("doc_id", "tok")
        .localCheckpoint(eager=False)
    )
    pa = pres15.select("doc_id", F.col("tok").alias("tok_a"))
    pb = pres15.select("doc_id", F.col("tok").alias("tok_b"))
    pp = (
        pa.join(pb, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    ta = top15.select(F.col("tok").alias("tok_a"), F.col("df").alias("dfa"))
    tb = top15.select(F.col("tok").alias("tok_b"), F.col("df").alias("dfb"))
    return (
        pp.join(F.broadcast(ta), "tok_a")
        .join(F.broadcast(tb), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                F.col("n_both") * 1.0 * F.col("n_docs")
                / (F.col("dfa") * F.col("dfb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "tok_a", "tok_b")
        .limit(20)
    )


# ------------------------------------------------ graph: spanning backbone


@register(
    "graph_mst_boruvka",
    oracle="""
WITH RECURSIVE
raw AS MATERIALIZED (
  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
         greatest(c.c_nationkey, s.s_nationkey) AS v,
         count(*) AS cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY 1, 2
),
big AS (SELECT max(cnt) + 1 AS b FROM raw),
edges AS MATERIALIZED (
  SELECT u, v, cnt,
         ((SELECT b FROM big) - cnt) * 1000000 + u * 1000 + v AS cost
  FROM raw
),
n0 AS (SELECT min(u) AS s FROM edges),
grow AS (
  SELECT 0 AS step, [CAST((SELECT s FROM n0) AS INT)] AS vis,
         CAST(NULL AS INT) AS eu, CAST(NULL AS INT) AS ev,
         CAST(NULL AS BIGINT) AS ecnt
  UNION ALL
  SELECT g.step + 1,
         list_append(g.vis,
           CASE WHEN list_contains(g.vis, pick.u)
                THEN pick.v ELSE pick.u END),
         pick.u, pick.v, pick.cnt
  FROM grow g
  JOIN LATERAL (
    SELECT e.u, e.v, e.cnt
    FROM edges e
    WHERE list_contains(g.vis, e.u) <> list_contains(g.vis, e.v)
    ORDER BY e.cost LIMIT 1
  ) pick ON TRUE
)
SELECT eu AS u, ev AS v, CAST(ecnt AS BIGINT) AS n_trades
FROM grow WHERE eu IS NOT NULL
ORDER BY u, v
""",
    doc="MAXIMUM spanning tree of the nation trade graph — the trade "
    "'backbone' (the V-1 strongest links that keep every nation "
    "connected; the standard network-science reduction of a dense "
    "correlation/flow graph) — computed with BORUVKA's algorithm: "
    "each round every component picks its best incident crossing "
    "edge (one aggregate + join, all components in parallel), the "
    "picked edges merge components via the repo's iterative "
    "min-label connected_components operator, and the component "
    "count at least halves per round, so the loop is O(log V) "
    "rounds of pure DataFrame ops — THE distributed MST algorithm "
    "(vs Prim/Kruskal, which are inherently sequential in the "
    "edge/vertex order).  Costs are made STRICTLY DISTINCT by "
    "folding the (u, v) tiebreak into the integer cost key "
    "((max_cnt+1-cnt)*10^6 + u*10^3 + v), which makes the MST "
    "provably UNIQUE — so the oracle may verify with a completely "
    "different algorithm: sequential Prim via a recursive CTE "
    "growing a visited list, LATERAL argmin per step.  Same-answer-"
    "by-theorem across two algorithm families is the strongest "
    "oracle in the registry.  The per-round driver data is one "
    "emptiness probe (the cluster_resolution convergence pattern)",
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import connected_components

    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    raw = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    big = raw.agg((F.max("cnt") + 1).alias("b"))
    edges = (
        raw.crossJoin(F.broadcast(big))
        .select(
            "u",
            "v",
            "cnt",
            (
                (F.col("b") - F.col("cnt")) * 1000000
                + F.col("u") * 1000
                + F.col("v")
            ).alias("cost"),
        )
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    comp = nodes.select("node", F.col("node").alias("comp"))
    sel = None
    for _ in range(8):  # O(log V) rounds; 8 covers V <= 256 components
        cu_map = comp.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        cv_map = comp.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        crossing = (
            edges.join(cu_map, "u")
            .join(cv_map, "v")
            .filter(F.col("cu") != F.col("cv"))
            .localCheckpoint(eager=False)
        )
        if not crossing.take(1):
            break
        cand = crossing.select(
            F.col("cu").alias("comp"), "cost", "u", "v"
        ).unionAll(crossing.select(F.col("cv").alias("comp"), "cost", "u", "v"))
        mc = cand.groupBy("comp").agg(F.min("cost").alias("mcost"))
        pick = (
            cand.join(
                mc.withColumnRenamed("comp", "mcomp"),
                (F.col("comp") == F.col("mcomp"))
                & (F.col("cost") == F.col("mcost")),
            )
            .select("u", "v")
            .distinct()
        )
        sel = pick if sel is None else sel.unionAll(pick).distinct()
        sel = sel.localCheckpoint(eager=False)
        cc = connected_components(sel, id_a="u", id_b="v")
        comp = (
            nodes.join(
                cc.withColumnRenamed("node", "n2"),
                nodes.node == F.col("n2"),
                "left",
            )
            .select(
                "node", F.coalesce("component", F.col("node")).alias("comp")
            )
            .localCheckpoint(eager=False)
        )
    return (
        sel.join(edges, ["u", "v"])
        .select("u", "v", F.col("cnt").cast("long").alias("n_trades"))
        .orderBy("u", "v")
    )


# ------------------------------------------------ ML-ops: importance / trend


@register(
    "ml_permutation_importance_det",
    oracle="""
WITH base AS MATERIALIZED (
  SELECT l_orderkey * 10 + l_linenumber AS k,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS qi,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS di,
         l_extendedprice AS x1, l_discount AS x2,
         l_extendedprice * (1.0 - l_discount) AS y
  FROM lineitem
),
stats AS MATERIALIZED (
  SELECT count(*) AS n,
         round(avg(x1), 6) AS m1, round(avg(x2), 6) AS m2,
         round(avg(y), 6) AS my,
         round(avg(x1 * x1), 6) AS s11, round(avg(x2 * x2), 6) AS s22,
         round(avg(x1 * x2), 6) AS s12,
         round(avg(x1 * y), 6) AS s1y, round(avg(x2 * y), 6) AS s2y
  FROM base
),
beta AS (
  SELECT n, m1, m2, my,
         ((s1y - m1 * my) * (s22 - m2 * m2)
          - (s2y - m2 * my) * (s12 - m1 * m2))
         / ((s11 - m1 * m1) * (s22 - m2 * m2)
            - (s12 - m1 * m2) * (s12 - m1 * m2)) AS b1,
         ((s2y - m2 * my) * (s11 - m1 * m1)
          - (s1y - m1 * my) * (s12 - m1 * m2))
         / ((s11 - m1 * m1) * (s22 - m2 * m2)
            - (s12 - m1 * m2) * (s12 - m1 * m2)) AS b2
  FROM stats
),
ord_rows AS MATERIALIZED (
  SELECT k, x1, x2, y,
         row_number() OVER (
           ORDER BY md5(CAST(k AS VARCHAR) || '#' || CAST(qi AS VARCHAR)
                        || '#' || CAST(di AS VARCHAR)),
                    k, qi, di) AS r
  FROM base
),
paired AS (
  SELECT a.x1, a.x2, a.y,
         p.x1 AS px1, p.x2 AS px2
  FROM ord_rows a
  CROSS JOIN (SELECT n FROM stats) s
  JOIN ord_rows p ON p.r = ((a.r - 1 + s.n // 2) % s.n) + 1
),
scored AS (
  SELECT b.b1, b.b2, b.my, b.m1, b.m2,
         (my + b1 * (x1 - m1) + b2 * (x2 - m2)) - y AS e0,
         (my + b1 * (px1 - m1) + b2 * (x2 - m2)) - y AS e1,
         (my + b1 * (x1 - m1) + b2 * (px2 - m2)) - y AS e2
  FROM paired CROSS JOIN beta b
),
rmse AS (
  SELECT sqrt(avg(e0 * e0)) AS r0,
         sqrt(avg(e1 * e1)) AS r1,
         sqrt(avg(e2 * e2)) AS r2
  FROM scored
)
SELECT f.feature,
       round(r.r0, 4) AS rmse_base,
       round(CASE f.feature WHEN 'l_extendedprice' THEN r.r1
             ELSE r.r2 END, 4) AS rmse_permuted,
       round(CASE f.feature WHEN 'l_extendedprice' THEN r.r1 ELSE r.r2 END
             - r.r0, 4) AS delta_rmse
FROM (SELECT 'l_extendedprice' AS feature UNION ALL
      SELECT 'l_discount') f
CROSS JOIN rmse r
ORDER BY f.feature
""",
    doc="deterministic permutation feature importance for the "
    "closed-form 2-feature OLS (net revenue price*(1-discount) ~ "
    "price + discount — the target has KNOWN structure, price "
    "dominant and discount secondary, because the raw fixture "
    "columns are mutually independent and any fit on them is pure "
    "noise, the lesson-17 degeneracy): score the FITTED model with "
    "one feature's column "
    "replaced by a derangement of itself, report the RMSE "
    "inflation — the model-agnostic importance measure (Breiman), "
    "here with a REPLAYABLE permutation: rows ranked by the md5 of "
    "their integer-ized CONTENT (key + price cents + discount cents "
    "— the fixture has duplicate (orderkey, linenumber) "
    "keys with different values, so no key alone is total; ties in "
    "the content hash are value-identical rows, for which any "
    "intra-tie order yields the same permuted values) and paired "
    "with the rank n/2 away (mod n) — a fixed-point-free pairing, "
    "deterministic on both engines.  The engine ranks with the "
    "two-level global_ordinal operator (range-partition + offset, "
    "no single-task window); the oracle's plain row_number() is "
    "provably identical because the range buckets tile the md5 "
    "order (lesson-18 equivalence).  Normal-equation moments are "
    "rounded 6dp before inversion so both engines solve the "
    "IDENTICAL 2x2 system; permuting price must inflate RMSE far "
    "more than permuting discount — the sanity ordering the "
    "invariant test pins",
)
def ml_permutation_importance_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import global_ordinal

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("qi"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("di"),
        F.col("l_extendedprice").alias("x1"),
        F.col("l_discount").alias("x2"),
        (F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias("y"),
    ).localCheckpoint(eager=False)
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("x1"), 6).alias("m1"),
        F.round(F.avg("x2"), 6).alias("m2"),
        F.round(F.avg("y"), 6).alias("my"),
        F.round(F.avg(F.col("x1") * F.col("x1")), 6).alias("s11"),
        F.round(F.avg(F.col("x2") * F.col("x2")), 6).alias("s22"),
        F.round(F.avg(F.col("x1") * F.col("x2")), 6).alias("s12"),
        F.round(F.avg(F.col("x1") * F.col("y")), 6).alias("s1y"),
        F.round(F.avg(F.col("x2") * F.col("y")), 6).alias("s2y"),
    )
    c11 = F.col("s11") - F.col("m1") * F.col("m1")
    c22 = F.col("s22") - F.col("m2") * F.col("m2")
    c12 = F.col("s12") - F.col("m1") * F.col("m2")
    c1y = F.col("s1y") - F.col("m1") * F.col("my")
    c2y = F.col("s2y") - F.col("m2") * F.col("my")
    det = c11 * c22 - c12 * c12
    beta = stats.select(
        "n",
        "m1",
        "m2",
        "my",
        ((c1y * c22 - c2y * c12) / det).alias("b1"),
        ((c2y * c11 - c1y * c12) / det).alias("b2"),
    )
    row_hash = F.md5(
        F.concat_ws(
            "#",
            F.col("k").cast("string"),
            F.col("qi").cast("string"),
            F.col("di").cast("string"),
        )
    )
    ordered, _n = global_ordinal(
        base,
        [row_hash, F.col("k"), F.col("qi"), F.col("di")],
        out_col="r",
    )
    ordered = ordered.localCheckpoint(eager=False)
    a = ordered
    p = ordered.select(
        F.col("r").alias("pr"),
        F.col("x1").alias("px1"),
        F.col("x2").alias("px2"),
    )
    paired = (
        a.crossJoin(F.broadcast(beta))
        .withColumn(
            "partner",
            ((F.col("r") - 1 + F.floor(F.col("n") / 2)) % F.col("n")) + 1,
        )
        .join(p, F.col("pr") == F.col("partner"))
    )
    e0 = (
        F.col("my")
        + F.col("b1") * (F.col("x1") - F.col("m1"))
        + F.col("b2") * (F.col("x2") - F.col("m2"))
        - F.col("y")
    )
    e1 = (
        F.col("my")
        + F.col("b1") * (F.col("px1") - F.col("m1"))
        + F.col("b2") * (F.col("x2") - F.col("m2"))
        - F.col("y")
    )
    e2 = (
        F.col("my")
        + F.col("b1") * (F.col("x1") - F.col("m1"))
        + F.col("b2") * (F.col("px2") - F.col("m2"))
        - F.col("y")
    )
    rmse = paired.agg(
        F.sqrt(F.avg(e0 * e0)).alias("r0"),
        F.sqrt(F.avg(e1 * e1)).alias("r1"),
        F.sqrt(F.avg(e2 * e2)).alias("r2"),
    )
    feats = spark.createDataFrame(
        [("l_discount",), ("l_extendedprice",)], "feature string"
    )
    perm = F.when(
        F.col("feature") == "l_extendedprice", F.col("r1")
    ).otherwise(F.col("r2"))
    return (
        feats.crossJoin(F.broadcast(rmse))
        .select(
            "feature",
            F.round("r0", 4).alias("rmse_base"),
            F.round(perm, 4).alias("rmse_permuted"),
            F.round(perm - F.col("r0"), 4).alias("delta_rmse"),
        )
        .orderBy("feature")
    )


@register(
    "stats_cochran_armitage_trend",
    oracle="""
WITH g AS (
  SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS s,
         count(*) AS n_i,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r_i
  FROM lineitem GROUP BY 1
),
t AS (
  SELECT sum(n_i) AS n, sum(r_i) AS r,
         sum(s * r_i) AS a, sum(s * n_i) AS b, sum(s * s * n_i) AS c
  FROM g
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM g) AS BIGINT) AS n_levels,
       round(n * (CAST(n AS DOUBLE) * a - CAST(r AS DOUBLE) * b)
               * (CAST(n AS DOUBLE) * a - CAST(r AS DOUBLE) * b)
             / (CAST(r AS DOUBLE) * (n - r)
                * (CAST(n AS DOUBLE) * c - CAST(b AS DOUBLE) * b)), 4)
         AS chi2_trend,
       round(CASE WHEN CAST(n AS DOUBLE) * a - CAST(r AS DOUBLE) * b >= 0
                  THEN 1.0 ELSE -1.0 END
             * sqrt(n * (CAST(n AS DOUBLE) * a - CAST(r AS DOUBLE) * b)
                      * (CAST(n AS DOUBLE) * a - CAST(r AS DOUBLE) * b)
                    / (CAST(r AS DOUBLE) * (n - r)
                       * (CAST(n AS DOUBLE) * c - CAST(b AS DOUBLE) * b))),
             4) + 0.0 AS z_trend,
       n * (CAST(n AS DOUBLE) * a - CAST(r AS DOUBLE) * b)
         * (CAST(n AS DOUBLE) * a - CAST(r AS DOUBLE) * b)
         / (CAST(r AS DOUBLE) * (n - r)
            * (CAST(n AS DOUBLE) * c - CAST(b AS DOUBLE) * b)) > 3.8415
         AS significant_5pct
FROM t
""",
    doc="Cochran-Armitage trend test: does return probability trend "
    "MONOTONICALLY across the 11 ordered discount levels (scores = "
    "integer discount cents)?  The ordered-alternative test that "
    "stats_chi_square_independence throws power away on (general "
    "chi2 spends df on every deviation pattern; CA concentrates on "
    "the linear trend, df=1, critical 3.8415).  chi2 = N(NA - RB)^2 "
    "/ (R(N-R)(NC - B^2)) with A = sum s*r_i, B = sum s*n_i, C = "
    "sum s^2*n_i — every sum is an exact 64-bit integer from one "
    "groupBy over the scan; only the final products are cast to "
    "double (the squared numerator would overflow int64), which is "
    "deterministic on both engines since the operands are "
    "identical integers.  The signed z carries the trend "
    "direction; +0.0 guards the +-0 hazard on a flat trend",
)
def stats_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("s")
    ).agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("r_i"),
    )
    t = g.agg(
        F.sum("n_i").alias("n"),
        F.sum("r_i").alias("r"),
        F.sum(F.col("s") * F.col("r_i")).alias("a"),
        F.sum(F.col("s") * F.col("n_i")).alias("b"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i")).alias("c"),
        F.count(F.lit(1)).alias("n_levels"),
    )
    num = F.col("n").cast("double") * F.col("a") - F.col("r").cast(
        "double"
    ) * F.col("b")
    chi2 = (
        F.col("n")
        * num
        * num
        / (
            F.col("r").cast("double")
            * (F.col("n") - F.col("r"))
            * (
                F.col("n").cast("double") * F.col("c")
                - F.col("b").cast("double") * F.col("b")
            )
        )
    )
    return t.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_levels").cast("long").alias("n_levels"),
        F.round(chi2, 4).alias("chi2_trend"),
        (
            F.round(
                F.when(num >= 0, 1.0).otherwise(-1.0) * F.sqrt(chi2), 4
            )
            + 0.0
        ).alias("z_trend"),
        (chi2 > 3.8415).alias("significant_5pct"),
    )


# ------------------------------------------------ survey sampling / ranks

_TR_ITERS = 5
_TR_DAMP = 0.85


@register(
    "ml_survey_ratio_estimator",
    oracle="""
WITH x AS MATERIALIZED (
  SELECT o.o_orderkey, o.o_totalprice AS y,
         (SELECT count(*) FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey) AS xi
  FROM orders o
),
pop AS (
  SELECT count(*) AS n_pop, sum(xi) AS x_tot,
         round(sum(y), 2) AS y_true
  FROM x
),
samp AS MATERIALIZED (
  SELECT * FROM x
  WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
             AS BIGINT) % 10 = 0
),
est AS (
  SELECT count(*) AS n_s, sum(y) AS sy, sum(xi) AS sx FROM samp
),
resid AS (
  SELECT var_samp(s.y - (e.sy * 1.0 / e.sx) * s.xi) AS s2e
  FROM samp s CROSS JOIN est e
)
SELECT CAST(p.n_pop AS BIGINT) AS n_pop,
       CAST(e.n_s AS BIGINT) AS n_sample,
       round(e.sy * 1.0 / e.sx, 6) AS ratio_hat,
       round((e.sy * 1.0 / e.sx) * p.x_tot, 2) AS y_total_est,
       p.y_true AS y_total_true,
       round(abs((e.sy * 1.0 / e.sx) * p.x_tot - p.y_true) / p.y_true, 4)
         AS rel_err,
       abs((e.sy * 1.0 / e.sx) * p.x_tot - p.y_true)
         <= 1.96 * p.n_pop * sqrt((1.0 - e.n_s * 1.0 / p.n_pop)
                                  * r.s2e / e.n_s) AS ci_covers
FROM pop p CROSS JOIN est e CROSS JOIN resid r
""",
    doc="design-based survey ratio estimator: estimate total order "
    "revenue from a deterministic md5 10%% sample using the known "
    "auxiliary total (lineitem count per order, known for ALL "
    "orders from the cheap fact scan), Y_hat = (sum_s y / sum_s x) "
    "* X_pop, with the Hajek-style linearized variance N^2(1-f) "
    "s2_e/n over ratio residuals e_i = y_i - R_hat x_i — the "
    "estimator survey statistics runs on expensive-to-measure "
    "targets with cheap frame covariates, completing the sampling "
    "family (ml_neyman_allocation designs the sample; this "
    "ESTIMATES from one, with a CI-coverage check against the "
    "known truth).  The md5 sample is the repo's standard "
    "replayable Bernoulli device; all moments are single "
    "aggregates; the correlated lineitem count is a per-order "
    "subquery in the oracle and an outer-join aggregate in the "
    "engine (same values, orphan orders get x = 0)",
)
def ml_survey_ratio_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("xi")
    )
    x = (
        od.join(cnt, "o_orderkey", "left")
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("y"),
            F.coalesce("xi", F.lit(0)).alias("xi"),
        )
        .localCheckpoint(eager=False)
    )
    pop = x.agg(
        F.count(F.lit(1)).alias("n_pop"),
        F.sum("xi").alias("x_tot"),
        F.round(F.sum("y"), 2).alias("y_true"),
    )
    samp = x.filter(
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 10
        == 0
    ).localCheckpoint(eager=False)
    est = samp.agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum("y").alias("sy"),
        F.sum("xi").alias("sx"),
    )
    resid = (
        samp.crossJoin(F.broadcast(est))
        .agg(
            F.var_samp(
                F.col("y") - (F.col("sy") * 1.0 / F.col("sx")) * F.col("xi")
            ).alias("s2e")
        )
    )
    rhat = F.col("sy") * 1.0 / F.col("sx")
    yhat = rhat * F.col("x_tot")
    halfwidth = (
        1.96
        * F.col("n_pop")
        * F.sqrt(
            (1.0 - F.col("n_s") * 1.0 / F.col("n_pop"))
            * F.col("s2e")
            / F.col("n_s")
        )
    )
    return (
        pop.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(resid))
        .select(
            F.col("n_pop").cast("long").alias("n_pop"),
            F.col("n_s").cast("long").alias("n_sample"),
            F.round(rhat, 6).alias("ratio_hat"),
            F.round(yhat, 2).alias("y_total_est"),
            F.col("y_true").alias("y_total_true"),
            F.round(F.abs(yhat - F.col("y_true")) / F.col("y_true"), 4).alias(
                "rel_err"
            ),
            (F.abs(yhat - F.col("y_true")) <= halfwidth).alias("ci_covers"),
        )
    )


def _textrank_oracle() -> str:
    toks = "string_split_regex(lower(trim(text)), '\\s+')"
    sql = f"""
WITH seq AS MATERIALIZED (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id) AS pos
  FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
),
pairs AS MATERIALIZED (
  SELECT least(a.tok, b.tok) AS wa, greatest(a.tok, b.tok) AS wb,
         count(*) AS w
  FROM seq a JOIN seq b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE length(a.tok) >= 4 AND length(b.tok) >= 4 AND a.tok <> b.tok
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT wa AS src, wb AS dst, w FROM pairs
  UNION ALL SELECT wb, wa, w FROM pairs
),
wdeg AS MATERIALIZED (
  SELECT src, sum(w) AS wd FROM edges GROUP BY src
),
n AS MATERIALIZED (SELECT count(*) AS n FROM wdeg),
r0 AS MATERIALIZED (SELECT src AS node, 1.0 / n.n AS rank FROM wdeg, n)"""
    prev = "r0"
    for k in range(_TR_ITERS):
        sql += f""",
r{k + 1} AS MATERIALIZED (
  SELECT e.dst AS node,
         (1 - {_TR_DAMP}) / n.n
           + {_TR_DAMP} * sum(r.rank * e.w / d.wd) AS rank
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN wdeg d ON d.src = e.src
  CROSS JOIN n
  GROUP BY e.dst, n.n
)"""
        prev = f"r{k + 1}"
    return (
        sql
        + f"""
SELECT node AS keyword, round(rank, 10) AS rank
FROM {prev}
ORDER BY rank DESC, node LIMIT 10"""
    )


@register(
    "text_textrank_keywords",
    oracle=_textrank_oracle(),
    doc="TextRank keyword extraction: weighted PageRank (5 iterations, "
    "damping 0.85, uniform start) over the word co-occurrence graph "
    "of ADJACENT length>=4 token pairs, top-10 keywords — the "
    "graph-centrality keyword extractor (Mihalcea & Tarau 2004) "
    "that complements text_rake_keywords' degree/frequency scoring "
    "and text_tfidf_top_terms' corpus statistics: TextRank rewards "
    "terms that co-occur with OTHER well-connected terms, a "
    "recursive notion only the power iteration captures.  Same "
    "iteration discipline as graph_pagerank_suppliers (weighted "
    "transition rank*w/wdeg, MATERIALIZED per-round CTEs in the "
    "oracle, 10-dp rounding); the adjacency build uses a "
    "row_number window PARTITIONED per document (position within "
    "doc), never global.  The vocabulary graph is tiny here but "
    "the plan is vocabulary-bounded, not corpus-bounded — the "
    "iteration tables are (word, rank) pairs",
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    seq = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    a = seq.select("doc_id", "pos", F.col("tok").alias("ta"))
    b = seq.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("tok").alias("tb")
    )
    pairs = (
        a.join(b, ["doc_id", "pos"])
        .filter(
            (F.length("ta") >= 4)
            & (F.length("tb") >= 4)
            & (F.col("ta") != F.col("tb"))
        )
        .groupBy(
            F.least("ta", "tb").alias("wa"), F.greatest("ta", "tb").alias("wb")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = (
        pairs.select(F.col("wa").alias("src"), F.col("wb").alias("dst"), "w")
        .unionAll(
            pairs.select(
                F.col("wb").alias("src"), F.col("wa").alias("dst"), "w"
            )
        )
        .localCheckpoint(eager=False)
    )
    wdeg = edges.groupBy("src").agg(F.sum("w").alias("wd"))
    # Round-12 (the graph_pagerank_suppliers treatment): node count as
    # ONE bounded driver scalar instead of a 1-row broadcast re-derived
    # from the edge aggregate inside every iteration's plan; ew
    # checkpointed because all _TR_ITERS rounds consume it; the
    # per-iteration rank checkpoints dropped so the bounded chain of
    # join+agg rounds executes as one action.  1.0/n and
    # (1-damp)/n are the identical long->double divisions the
    # broadcast column produced — every rank value is bit-identical.
    n_nodes = wdeg.count()
    rank = wdeg.select(
        F.col("src").alias("node"),
        (F.lit(1.0) / F.lit(n_nodes)).alias("rank"),
    )
    ew = edges.join(wdeg, "src").localCheckpoint(eager=False)
    for _ in range(_TR_ITERS):
        rank = (
            ew.join(rank, ew.src == rank.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(
                (
                    F.lit(1 - _TR_DAMP) / F.lit(n_nodes)
                    + _TR_DAMP
                    * F.sum(F.col("rank") * F.col("w") / F.col("wd"))
                ).alias("rank")
            )
            .select(F.col("node2").alias("node"), "rank")
        )
    return (
        rank.select(
            F.col("node").alias("keyword"), F.round("rank", 10).alias("rank")
        )
        .orderBy(F.desc("rank"), "keyword")
        .limit(10)
    )


@register(
    "win_h_index_users",
    oracle="""
WITH ranked AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rk
  FROM events
),
h AS (
  SELECT user_id,
         coalesce(max(CASE WHEN value >= rk THEN rk END), 0) AS h_index
  FROM ranked GROUP BY user_id
)
SELECT h_index,
       CAST(count(*) AS BIGINT) AS n_users
FROM h GROUP BY 1 ORDER BY 1
""",
    doc="per-user h-index over event values (the largest h such that "
    "the user has >= h events of value >= h — Hirsch's citation "
    "index transplanted to engagement scoring, used to rank "
    "contributors by SUSTAINED high-value activity where "
    "sum/max/count are each gameable by one big or many tiny "
    "events), then the population histogram over the raw h values "
    "(fixture h spans ~22-47 at every scale; a capped band would "
    "collapse to one degenerate row, the lesson-17 class).  The "
    "crossing h = max rank where value >= rank needs only a "
    "per-user rank window ((value desc, event_id) total order) and "
    "one conditional max — the rank-vs-value crossing trick from "
    "the ABC/Pareto family applied per key; the integer-vs-double "
    "compare is exact on both engines.  Partitioned window, "
    "per-user state bounded by that user's event count",
)
def win_h_index_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    ranked = ev.select(
        "user_id", "value", F.row_number().over(w).alias("rk")
    )
    h = ranked.groupBy("user_id").agg(
        F.coalesce(
            F.max(F.when(F.col("value") >= F.col("rk"), F.col("rk"))),
            F.lit(0),
        ).alias("h_index")
    )
    return (
        h.groupBy("h_index")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("h_index")
    )


@register(
    "ts_variance_ratio",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) // 86400 AS d,
         round(sum(value), 6) AS v
  FROM events GROUP BY 1
),
sums5 AS (
  SELECT a.d, sum(b.v) AS s5, count(*) AS k
  FROM daily a JOIN daily b ON b.d BETWEEN a.d - 4 AND a.d
  GROUP BY a.d HAVING count(*) = 5
),
m AS (
  SELECT (SELECT count(*) FROM daily) AS n,
         (SELECT var_samp(v) FROM daily) AS v1,
         (SELECT var_samp(s5) FROM sums5) AS v5
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(v5 / (5.0 * v1), 4) AS vr_5,
       round((v5 / (5.0 * v1) - 1.0)
             / sqrt(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * n)), 4)
         AS z_stat,
       abs((v5 / (5.0 * v1) - 1.0)
             / sqrt(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * n))) > 1.96
         AS not_iid_5pct
FROM m
""",
    doc="Lo-MacKinlay variance-ratio test at horizon q=5 on the daily "
    "value series: if daily values were i.i.d., the variance of "
    "5-day sums would be 5x the daily variance (VR = 1); VR > 1 "
    "means positive persistence (momentum/weekly ramps), VR < 1 "
    "mean reversion — the aggregate-horizon randomness probe that "
    "complements ts_autocorr_lags (per-lag linear) and "
    "ts_turning_points_test (local ordinal): VR integrates ALL "
    "autocovariances up to q with triangular weights in one "
    "number.  Overlapping 5-day sums come from a bounded range "
    "self-join on the integer day index (HAVING count = 5 drops "
    "calendar-gap windows identically on both engines); the "
    "homoskedastic asymptotic z uses phi = 2(2q-1)(q-1)/(3qn).  "
    "Two variance aggregates over calendar-bounded tables",
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        (
            F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
        ).alias("d")
    ).agg(F.round(F.sum("value"), 6).alias("v")).localCheckpoint(eager=False)
    a = daily.select(F.col("d").alias("ad"))
    b = daily.select(F.col("d").alias("bd"), "v")
    sums5 = (
        a.join(
            b,
            (F.col("bd") >= F.col("ad") - 4) & (F.col("bd") <= F.col("ad")),
        )
        .groupBy("ad")
        .agg(F.sum("v").alias("s5"), F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") == 5)
    )
    nv1 = daily.agg(
        F.count(F.lit(1)).alias("n"), F.var_samp("v").alias("v1")
    )
    v5 = sums5.agg(F.var_samp("s5").alias("v5"))
    vr = F.col("v5") / (5.0 * F.col("v1"))
    phi = F.sqrt(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * F.col("n")))
    z = (vr - 1.0) / phi
    return (
        nv1.crossJoin(F.broadcast(v5))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.round(vr, 4).alias("vr_5"),
            F.round(z, 4).alias("z_stat"),
            (F.abs(z) > 1.96).alias("not_iid_5pct"),
        )
    )


# ------------------------------------------------ multiple testing / queueing

# Zelen & Severo 26.2.17 rational approximation of the standard
# normal CDF (|error| < 7.5e-8): identical closed-form arithmetic on
# both engines, replacing the erf() neither Spark SQL nor the
# cross-engine discipline can rely on.  p-values derived from it are
# rounded 8dp before any comparison.
_PHI_SQL = (
    "(1.0 - exp(-0.5 * {z} * {z}) / sqrt(2.0 * pi())"
    " * (0.319381530 * (1.0 / (1.0 + 0.2316419 * {z}))"
    "    - 0.356563782 * pow(1.0 / (1.0 + 0.2316419 * {z}), 2)"
    "    + 1.781477937 * pow(1.0 / (1.0 + 0.2316419 * {z}), 3)"
    "    - 1.821255978 * pow(1.0 / (1.0 + 0.2316419 * {z}), 4)"
    "    + 1.330274429 * pow(1.0 / (1.0 + 0.2316419 * {z}), 5)))"
)


def _phi_col(z):
    t = 1.0 / (1.0 + 0.2316419 * z)
    poly = (
        0.319381530 * t
        - 0.356563782 * t * t
        + 1.781477937 * t * t * t
        - 1.821255978 * t * t * t * t
        + 1.330274429 * t * t * t * t * t
    )
    import math

    return 1.0 - F.exp(-0.5 * z * z) / math.sqrt(2.0 * math.pi) * poly


@register(
    "stats_benjamini_hochberg",
    oracle=f"""
WITH g AS (
  SELECT c_nationkey, count(*) AS n, round(avg(c_acctbal), 6) AS m,
         round(var_samp(c_acctbal), 6) AS v
  FROM customer GROUP BY 1
),
tot AS (
  SELECT count(*) AS nt, round(avg(c_acctbal), 6) AS mt,
         round(var_samp(c_acctbal), 6) AS vt
  FROM customer
),
z AS (
  SELECT g.c_nationkey,
         round(abs(g.m - (t.mt * t.nt - g.m * g.n) / (t.nt - g.n))
               / sqrt(g.v / g.n + t.vt / (t.nt - g.n)), 6) AS az
  FROM g CROSS JOIN tot t
),
p AS (
  SELECT c_nationkey, az,
         round(2.0 * (1.0 - {_PHI_SQL.format(z='az')}), 8) AS p_value
  FROM z
),
rk AS (
  SELECT p.*,
         (SELECT count(*) FROM p o
          WHERE o.p_value < p.p_value
             OR (o.p_value = p.p_value
                 AND o.c_nationkey < p.c_nationkey)) + 1 AS rnk,
         (SELECT count(*) FROM p) AS m
  FROM p
),
thresh AS (
  SELECT coalesce(max(rnk), 0) AS kstar FROM rk
  WHERE p_value <= round(0.10 * rnk / m, 8)
)
SELECT r.c_nationkey, r.az AS abs_z, r.p_value,
       CAST(r.rnk AS BIGINT) AS p_rank,
       round(0.10 * r.rnk / r.m, 8) AS bh_critical,
       r.rnk <= (SELECT kstar FROM thresh) AS rejected_fdr10
FROM rk r ORDER BY r.rnk
""",
    doc="Benjamini-Hochberg FDR control over the 25 per-nation "
    "two-sample mean tests (nation's customer balances vs the "
    "rest): the multiple-testing step-up procedure every "
    "segment-screening dashboard needs — 25 simultaneous tests at "
    "alpha = 0.05 yield ~1 false positive by design, and BH is the "
    "standard repair (reject all p(i) up to the LARGEST i with "
    "p(i) <= alpha*i/m, alpha = 0.10).  Introduces the "
    "Zelen-Severo normal-CDF approximation (|err| < 7.5e-8, "
    "identical closed-form arithmetic on both engines — neither "
    "relies on a built-in erf), with z and p rounded 6/8dp before "
    "the rank comparisons; ranks come from a count self-join on "
    "the 25-row p table with a nationkey tiebreak, and the "
    "step-up cutoff is one conditional max.  Note the step-up "
    "subtlety the naive per-row compare misses: rows BELOW an "
    "accepted rank are rejected even if their own p > crit",
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("c_acctbal"), 6).alias("m"),
        F.round(F.var_samp("c_acctbal"), 6).alias("v"),
    )
    tot = cust.agg(
        F.count(F.lit(1)).alias("nt"),
        F.round(F.avg("c_acctbal"), 6).alias("mt"),
        F.round(F.var_samp("c_acctbal"), 6).alias("vt"),
    )
    rest_mean = (F.col("mt") * F.col("nt") - F.col("m") * F.col("n")) / (
        F.col("nt") - F.col("n")
    )
    z = g.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        F.round(
            F.abs(F.col("m") - rest_mean)
            / F.sqrt(
                F.col("v") / F.col("n") + F.col("vt") / (F.col("nt") - F.col("n"))
            ),
            6,
        ).alias("az"),
    )
    p = z.select(
        "c_nationkey",
        "az",
        F.round(2.0 * (1.0 - _phi_col(F.col("az"))), 8).alias("p_value"),
    ).localCheckpoint(eager=False)
    o = p.select(
        F.col("c_nationkey").alias("ok"), F.col("p_value").alias("op")
    )
    m = p.agg(F.count(F.lit(1)).alias("m"))
    rk = (
        p.join(
            F.broadcast(o),
            (F.col("op") < F.col("p_value"))
            | (
                (F.col("op") == F.col("p_value"))
                & (F.col("ok") < F.col("c_nationkey"))
            ),
            "left",
        )
        .groupBy("c_nationkey", "az", "p_value")
        .agg((F.count("ok") + 1).alias("rnk"))
        .crossJoin(F.broadcast(m))
    )
    thresh = rk.filter(
        F.col("p_value") <= F.round(0.10 * F.col("rnk") / F.col("m"), 8)
    ).agg(F.coalesce(F.max("rnk"), F.lit(0)).alias("kstar"))
    return (
        rk.crossJoin(F.broadcast(thresh))
        .select(
            "c_nationkey",
            F.col("az").alias("abs_z"),
            "p_value",
            F.col("rnk").cast("long").alias("p_rank"),
            F.round(0.10 * F.col("rnk") / F.col("m"), 8).alias("bh_critical"),
            (F.col("rnk") <= F.col("kstar")).alias("rejected_fdr10"),
        )
        .orderBy("p_rank")
    )


@register(
    "stats_cochran_q_weeks",
    oracle="""
WITH p90 AS (
  SELECT quantile_cont(value, 0.9) AS q FROM events
  WHERE event_type = 'purchase'
),
t0 AS (SELECT min(ts) AS t0 FROM events),
x AS (
  SELECT user_id,
         max(CASE WHEN floor(epoch(ts)) - floor(epoch(t.t0))
                       < 10 * 86400 THEN 1 ELSE 0 END) AS w1,
         max(CASE WHEN floor(epoch(ts)) - floor(epoch(t.t0))
                       >= 10 * 86400
                   AND floor(epoch(ts)) - floor(epoch(t.t0))
                       < 20 * 86400 THEN 1 ELSE 0 END) AS w2,
         max(CASE WHEN floor(epoch(ts)) - floor(epoch(t.t0))
                       >= 20 * 86400 THEN 1 ELSE 0 END) AS w3
  FROM events, t0 t
  WHERE event_type = 'purchase' AND value >= (SELECT q FROM p90)
  GROUP BY user_id
),
s AS (
  SELECT count(*) AS nu,
         sum(w1) AS c1, sum(w2) AS c2, sum(w3) AS c3,
         sum(w1 + w2 + w3) AS sr,
         sum((w1 + w2 + w3) * (w1 + w2 + w3)) AS sr2
  FROM x
)
SELECT CAST(nu AS BIGINT) AS n_users,
       CAST(c1 AS BIGINT) AS active_p1,
       CAST(c2 AS BIGINT) AS active_p2,
       CAST(c3 AS BIGINT) AS active_p3,
       round(2.0 * (3 * (c1*c1 + c2*c2 + c3*c3) - sr * sr)
             / (3 * sr - sr2), 4) AS q_stat,
       2.0 * (3 * (c1*c1 + c2*c2 + c3*c3) - sr * sr)
         / (3 * sr - sr2) > 5.991 AS significant_5pct
FROM s
""",
    doc="Cochran's Q test for equal high-value-purchase activity "
    "across three consecutive 10-day periods: the k-related-samples "
    "extension of stats_mcnemar_paired (k = 2 McNemar is Q's "
    "special case) on matched binary outcomes per user — 'did "
    "engagement shift across the month' with each user as their "
    "own control, which the independent-samples chi2 cannot claim. "
    " Activity = any purchase above the DERIVED global P90 value "
    "(raw purchase activity saturates — every user buys every "
    "period — making Q's denominator zero, the lesson-17 "
    "degeneracy; the high-value bar leaves ~80%% of users mixed at "
    "every scale).  Q = (k-1)(k*sum C_j^2 - (sum C_j)^2)/(k*sum "
    "R_u - sum R_u^2) is EXACT 64-bit integer arithmetic up to "
    "one final division, vs chi2(k-1 = 2) critical 5.991.  "
    "All-zero users drop out (provably Q-invariant); one "
    "conditional-max groupBy per user, one total aggregate",
)
def stats_cochran_q_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase")
    p90 = pur.agg(F.expr("percentile(value, 0.9)").alias("q"))
    t0 = ev.agg(F.min("ts").alias("t0"))
    off = F.floor(F.unix_timestamp("ts")) - F.floor(F.unix_timestamp("t0"))
    x = (
        pur.crossJoin(F.broadcast(p90))
        .crossJoin(F.broadcast(t0))
        .filter(F.col("value") >= F.col("q"))
        .groupBy("user_id")
        .agg(
            F.max(F.when(off < 10 * 86400, 1).otherwise(0)).alias("w1"),
            F.max(
                F.when(
                    (off >= 10 * 86400) & (off < 20 * 86400), 1
                ).otherwise(0)
            ).alias("w2"),
            F.max(F.when(off >= 20 * 86400, 1).otherwise(0)).alias("w3"),
        )
    )
    r = F.col("w1") + F.col("w2") + F.col("w3")
    s = x.agg(
        F.count(F.lit(1)).alias("nu"),
        F.sum("w1").alias("c1"),
        F.sum("w2").alias("c2"),
        F.sum("w3").alias("c3"),
        F.sum(r).alias("sr"),
        F.sum(r * r).alias("sr2"),
    )
    qnum = 3 * (
        F.col("c1") * F.col("c1")
        + F.col("c2") * F.col("c2")
        + F.col("c3") * F.col("c3")
    ) - F.col("sr") * F.col("sr")
    qstat = 2.0 * qnum / (3 * F.col("sr") - F.col("sr2"))
    return s.select(
        F.col("nu").cast("long").alias("n_users"),
        F.col("c1").cast("long").alias("active_p1"),
        F.col("c2").cast("long").alias("active_p2"),
        F.col("c3").cast("long").alias("active_p3"),
        F.round(qstat, 4).alias("q_stat"),
        (qstat > 5.991).alias("significant_5pct"),
    )


@register(
    "ops_littles_law_check",
    oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS MATERIALIZED (
  SELECT user_id,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS s0,
         CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS s1
  FROM (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
  )
  GROUP BY user_id, sid
),
span AS (
  SELECT min(s0) AS t0, max(s1) AS t1,
         count(*) AS n_sessions,
         sum(s1 - s0) AS total_dur
  FROM sessions
),
ticks AS (
  SELECT t0 + 3600 * h.h AS tick
  FROM span, (SELECT unnest(range(0, 100000)) AS h) h
  WHERE t0 + 3600 * h.h < t1
),
sampled AS (
  SELECT t.tick, count(s.user_id) AS active
  FROM ticks t
  LEFT JOIN sessions s ON s.s0 <= t.tick AND t.tick < s.s1
  GROUP BY t.tick
)
SELECT CAST(sp.n_sessions AS BIGINT) AS n_sessions,
       round(sp.n_sessions * 1.0 / (sp.t1 - sp.t0), 8) AS lambda_per_sec,
       round(sp.total_dur * 1.0 / sp.n_sessions, 4) AS w_avg_sec,
       round(sp.total_dur * 1.0 / (sp.t1 - sp.t0), 4) AS l_littles,
       round((SELECT avg(active) FROM sampled), 4) AS l_sampled,
       round((SELECT avg(active) FROM sampled)
             / (sp.total_dur * 1.0 / (sp.t1 - sp.t0)), 4) AS ratio
FROM span sp
""",
    doc="empirical Little's law check over 30-minute-gap user "
    "sessions: L = lambda * W, with lambda (arrival rate) and W "
    "(mean session duration) from the session table, and L "
    "measured INDEPENDENTLY by sampling active-session "
    "concurrency at hourly ticks — the queueing-theory identity "
    "behind every capacity dashboard, and the cross-check that "
    "validates dash_peak_concurrency-style gauges against "
    "session-log aggregates (ratio ~ 1 up to edge effects and "
    "sampling grain; computing L from total_dur/T alone would be "
    "a tautology, which is why the tick sweep exists).  Sessions "
    "reuse win_session_windows' gaps-and-islands with the (ts, "
    "event_id) tie pin; the tick join is a bounded interval join "
    "(ticks x concurrent sessions); integer-second arithmetic "
    "throughout, with the 30-min close-out counted in the "
    "duration exactly as session_end is defined there",
)
def ops_littles_law_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = (
        marked.select(
            "user_id",
            "ts",
            F.sum("new_session")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.floor(F.unix_timestamp(F.min("ts"))).cast("long").alias("s0"),
            (F.floor(F.unix_timestamp(F.max("ts"))) + 1800)
            .cast("long")
            .alias("s1"),
        )
        .localCheckpoint(eager=False)
    )
    span = sess.agg(
        F.min("s0").alias("t0"),
        F.max("s1").alias("t1"),
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.col("s1") - F.col("s0")).alias("total_dur"),
    )
    ticks = (
        spark.range(0, 100000)
        .crossJoin(F.broadcast(span.select("t0", "t1")))
        .select((F.col("t0") + 3600 * F.col("id")).alias("tick"), "t1")
        .filter(F.col("tick") < F.col("t1"))
        .select("tick")
    )
    sampled = (
        ticks.join(
            sess,
            (F.col("s0") <= F.col("tick")) & (F.col("tick") < F.col("s1")),
            "left",
        )
        .groupBy("tick")
        .agg(F.count("user_id").alias("active"))
        .agg(F.avg("active").alias("l_sampled"))
    )
    return (
        span.crossJoin(F.broadcast(sampled))
        .select(
            F.col("n_sessions").cast("long").alias("n_sessions"),
            F.round(
                F.col("n_sessions") * 1.0 / (F.col("t1") - F.col("t0")), 8
            ).alias("lambda_per_sec"),
            F.round(
                F.col("total_dur") * 1.0 / F.col("n_sessions"), 4
            ).alias("w_avg_sec"),
            F.round(
                F.col("total_dur") * 1.0 / (F.col("t1") - F.col("t0")), 4
            ).alias("l_littles"),
            F.round(F.col("l_sampled"), 4).alias("l_sampled"),
            F.round(
                F.col("l_sampled")
                / (F.col("total_dur") * 1.0 / (F.col("t1") - F.col("t0"))),
                4,
            ).alias("ratio"),
        )
    )


# ------------------------------------------------ mixture model EM

_EM_ITERS = 5


def _gmm_oracle() -> str:
    sql = """
WITH bins AS MATERIALIZED (
  SELECT round(ln(o_totalprice), 2) AS y, count(*) AS w
  FROM orders GROUP BY 1
),
p0 AS MATERIALIZED (
  SELECT 0.5 AS pi,
         round(quantile_cont(ln(o_totalprice), 0.25), 6) AS mu1,
         round(quantile_cont(ln(o_totalprice), 0.75), 6) AS mu2,
         round(stddev_samp(ln(o_totalprice)), 6) AS s1,
         round(stddev_samp(ln(o_totalprice)), 6) AS s2
  FROM orders
)"""
    prev = "p0"
    for k in range(_EM_ITERS):
        sql += f""",
e{k} AS MATERIALIZED (
  SELECT b.y, b.w,
         p.pi * exp(-(b.y - p.mu1) * (b.y - p.mu1) / (2 * p.s1 * p.s1))
           / p.s1 AS d1,
         (1 - p.pi) * exp(-(b.y - p.mu2) * (b.y - p.mu2)
           / (2 * p.s2 * p.s2)) / p.s2 AS d2
  FROM bins b CROSS JOIN {prev} p
),
m{k}a AS MATERIALIZED (
  SELECT round(sum(w * d1 / (d1 + d2)) / sum(w), 6) AS pi,
         round(sum(w * y * d1 / (d1 + d2))
               / sum(w * d1 / (d1 + d2)), 6) AS mu1,
         round(sum(w * y * d2 / (d1 + d2))
               / sum(w * d2 / (d1 + d2)), 6) AS mu2
  FROM e{k}
),
p{k + 1} AS MATERIALIZED (
  SELECT m.pi, m.mu1, m.mu2,
         round(sqrt(sum(e.w * (e.y - m.mu1) * (e.y - m.mu1)
                        * e.d1 / (e.d1 + e.d2))
                    / sum(e.w * e.d1 / (e.d1 + e.d2))), 6) AS s1,
         round(sqrt(sum(e.w * (e.y - m.mu2) * (e.y - m.mu2)
                        * e.d2 / (e.d1 + e.d2))
                    / sum(e.w * e.d2 / (e.d1 + e.d2))), 6) AS s2
  FROM e{k} e CROSS JOIN m{k}a m
  GROUP BY m.pi, m.mu1, m.mu2
)"""
        prev = f"p{k + 1}"
    return (
        sql
        + f"""
SELECT c.component,
       round(CASE c.component WHEN 1 THEN p.pi ELSE 1 - p.pi END, 6)
         AS weight_pi,
       CASE c.component WHEN 1 THEN p.mu1 ELSE p.mu2 END AS mu_log,
       CASE c.component WHEN 1 THEN p.s1 ELSE p.s2 END AS sigma_log,
       round(exp(CASE c.component WHEN 1 THEN p.mu1 ELSE p.mu2 END), 2)
         AS mu_price
FROM {prev} p
CROSS JOIN (SELECT 1 AS component UNION ALL SELECT 2) c
ORDER BY c.component"""
    )


@register(
    "ml_gmm_em_1d",
    oracle=_gmm_oracle(),
    doc="two-component 1-D Gaussian mixture on log order totals, "
    "fitted with 5 EM iterations from deterministic moment "
    "initialization (mu = P25/P75, sigma = global sd, pi = 0.5) — "
    "the soft-assignment counterpart to the hard k-means the "
    "semantic-dedup family uses, and the classic "
    "customer-segmentation fit (budget vs premium order regimes) "
    "with posterior responsibilities a downstream query could "
    "threshold.  The E and M steps run over the 2dp-log-binned "
    "VALUE HISTOGRAM (bounded ~600 bins regardless of order "
    "count) — the equi-depth/AUC histogram discipline applied to "
    "EM, so each iteration is one bounded aggregate, not an "
    "N-sized pass; parameters are rounded 6dp after every M step "
    "so both engines re-synchronize before the next exp() (the "
    "EWMA/Holt recursion discipline).  The oracle unrolls all 5 "
    "iterations as MATERIALIZED CTE chains (E, M-means, M-sigmas "
    "per round); the engine drives the same recurrence with a "
    "5-step loop collecting ONE 5-number parameter row per step "
    "(the k-means-centroid class of bounded driver data)",
)
def ml_gmm_em_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    # spread: the init percentile + histogram build are CPU-bound over
    # a single-row-group scan (round-12; percentile merges partial
    # count maps order-insensitively — bit-identical)
    od = load_table(spark, sf_dir, "orders", spread=True)
    lny = F.log(F.col("o_totalprice"))
    bins = (
        od.groupBy(F.round(lny, 2).alias("y"))
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=False)
    )
    init = od.agg(
        F.round(F.expr("percentile(ln(o_totalprice), 0.25)"), 6).alias("mu1"),
        F.round(F.expr("percentile(ln(o_totalprice), 0.75)"), 6).alias("mu2"),
        F.round(F.stddev_samp(lny), 6).alias("s"),
    ).collect()[0]
    pi, mu1, mu2, s1, s2 = 0.5, init["mu1"], init["mu2"], init["s"], init["s"]
    for _ in range(_EM_ITERS):
        d1 = (
            pi
            * F.exp(-(F.col("y") - mu1) * (F.col("y") - mu1) / (2 * s1 * s1))
            / s1
        )
        d2 = (
            (1 - pi)
            * F.exp(-(F.col("y") - mu2) * (F.col("y") - mu2) / (2 * s2 * s2))
            / s2
        )
        e = bins.select(
            "y",
            "w",
            (F.col("w") * d1 / (d1 + d2)).alias("r1w"),
            (F.col("w") * d2 / (d1 + d2)).alias("r2w"),
        )
        m = e.agg(
            F.round(F.sum("r1w") / F.sum(F.col("r1w") + F.col("r2w")), 6).alias(
                "pi"
            ),
            F.round(
                F.sum(F.col("y") * F.col("r1w")) / F.sum("r1w"), 6
            ).alias("mu1"),
            F.round(
                F.sum(F.col("y") * F.col("r2w")) / F.sum("r2w"), 6
            ).alias("mu2"),
        ).collect()[0]
        pi_n, mu1_n, mu2_n = m["pi"], m["mu1"], m["mu2"]
        sg = e.agg(
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("y") - mu1_n) * (F.col("y") - mu1_n) * F.col("r1w")
                    )
                    / F.sum("r1w")
                ),
                6,
            ).alias("s1"),
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("y") - mu2_n) * (F.col("y") - mu2_n) * F.col("r2w")
                    )
                    / F.sum("r2w")
                ),
                6,
            ).alias("s2"),
        ).collect()[0]
        pi, mu1, mu2, s1, s2 = pi_n, mu1_n, mu2_n, sg["s1"], sg["s2"]
    rows = [
        (1, round(pi, 6), mu1, s1, round(math.exp(mu1), 2)),
        (2, round(1 - pi, 6), mu2, s2, round(math.exp(mu2), 2)),
    ]
    return spark.createDataFrame(
        rows,
        "component int, weight_pi double, mu_log double, sigma_log double,"
        " mu_price double",
    ).orderBy("component")


# ------------------------------------------------ power / spectrum / audit


@register(
    "stats_two_prop_power",
    oracle=f"""
WITH totals AS (
  SELECT user_id,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 AS arm,
         round(sum(CASE WHEN event_type = 'purchase'
                        THEN value ELSE 0 END), 6) AS pv
  FROM events GROUP BY 1, 2
),
med AS (SELECT quantile_cont(pv, 0.5) AS m FROM totals),
arms AS (
  SELECT user_id, arm,
         CASE WHEN pv > (SELECT m FROM med) THEN 1 ELSE 0 END AS conv
  FROM totals
),
c AS (
  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS x1,
         sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS x2
  FROM arms
),
e AS (
  SELECT n1, n2, x1, x2,
         x1 * 1.0 / n1 AS p1, x2 * 1.0 / n2 AS p2,
         round(abs(x1 * 1.0 / n1 - x2 * 1.0 / n2), 6) AS diff,
         round(sqrt((x1 * 1.0 / n1) * (1 - x1 * 1.0 / n1) / n1
                    + (x2 * 1.0 / n2) * (1 - x2 * 1.0 / n2) / n2), 6) AS se
  FROM c
),
z AS (SELECT *, round(diff / se - 1.96, 6) AS zp FROM e)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       round(p1, 6) AS p1, round(p2, 6) AS p2, diff AS observed_diff,
       round(CASE WHEN zp >= 0 THEN {_PHI_SQL.format(z='zp')}
                  ELSE 1.0 - {_PHI_SQL.format(z='(-zp)')} END, 4)
         AS power_observed,
       CASE WHEN diff > 0 THEN CAST(ceil(
         (1.96 + 0.8416) * (1.96 + 0.8416)
         * (p1 * (1 - p1) + p2 * (1 - p2)) / (diff * diff)) AS BIGINT)
       END AS n_per_arm_80pct
FROM z
""",
    doc="post-hoc power analysis for the two-proportion conversion "
    "test (arms = replayable md5 user split, conversion = per-user "
    "purchase total above the DERIVED median of user totals — a "
    "~50%% base rate at every scale factor; 'any purchase' "
    "saturates to p = 1 and zeroes the standard error, the "
    "lesson-17 hazard): the power the OBSERVED effect size had, "
    "power = "
    "Phi(|p1-p2|/SE - z_alpha/2), and the per-arm n required for "
    "80%% power at that effect — the 'was this A/B test even able "
    "to detect what it claims' companion that ab_test_conversion "
    "and ab_wilson_intervals lack (an insignificant result from an "
    "underpowered test is not evidence of no effect).  Reuses the "
    "Zelen-Severo normal CDF (stats_benjamini_hochberg's "
    "approximation, reflected for negative arguments since it is "
    "only valid for z >= 0); diff and SE rounded 6dp before the "
    "division.  One per-user conditional aggregate, one total "
    "aggregate; n_per_arm is NULL exactly when the observed diff "
    "is 0 (its defined singularity, integer-exact test)",
)
def stats_two_prop_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy(
        "user_id",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    ).agg(
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0)
            ),
            6,
        ).alias("pv")
    ).localCheckpoint(eager=False)
    med = totals.agg(F.expr("percentile(pv, 0.5)").alias("m"))
    arms = totals.crossJoin(F.broadcast(med)).select(
        "user_id",
        "arm",
        F.when(F.col("pv") > F.col("m"), 1).otherwise(0).alias("conv"),
    )
    c = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias(
            "x1"
        ),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias(
            "x2"
        ),
    )
    p1 = F.col("x1") * 1.0 / F.col("n1")
    p2 = F.col("x2") * 1.0 / F.col("n2")
    e = c.select(
        "n1",
        "n2",
        p1.alias("p1"),
        p2.alias("p2"),
        F.round(F.abs(p1 - p2), 6).alias("diff"),
        F.round(
            F.sqrt(p1 * (1 - p1) / F.col("n1") + p2 * (1 - p2) / F.col("n2")),
            6,
        ).alias("se"),
    )
    zp = F.round(F.col("diff") / F.col("se") - 1.96, 6)
    power = F.when(zp >= 0, _phi_col(zp)).otherwise(1.0 - _phi_col(-zp))
    need = F.ceil(
        (1.96 + 0.8416) ** 2
        * (
            F.col("p1") * (1 - F.col("p1"))
            + F.col("p2") * (1 - F.col("p2"))
        )
        / (F.col("diff") * F.col("diff"))
    ).cast("long")
    return e.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round("p1", 6).alias("p1"),
        F.round("p2", 6).alias("p2"),
        F.col("diff").alias("observed_diff"),
        F.round(power, 4).alias("power_observed"),
        F.when(F.col("diff") > 0, need).alias("n_per_arm_80pct"),
    )


@register(
    "ts_spectral_entropy",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         sum(value) AS x
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t,
         avg(x) OVER (PARTITION BY event_type) AS mu
  FROM daily
),
periods AS (SELECT unnest(range(2, 15)) AS p),
power AS (
  SELECT event_type, p,
         round(pow(sum((x - mu) * cos(2 * pi() * t / p)), 2)
               + pow(sum((x - mu) * sin(2 * pi() * t / p)), 2), 4) AS pw
  FROM seq, periods GROUP BY event_type, p
),
tot AS (
  SELECT event_type, sum(pw) AS spw, count(*) AS np FROM power GROUP BY 1
)
SELECT p.event_type,
       CAST(max(t.np) AS BIGINT) AS n_periods,
       round(-sum(CASE WHEN p.pw > 0
                       THEN (p.pw / t.spw) * ln(p.pw / t.spw) END)
             / ln(max(t.np)), 4) AS spectral_entropy,
       round(exp(avg(ln(p.pw)) FILTER (p.pw > 0))
             / (max(t.spw) / max(t.np)), 4) AS spectral_flatness
FROM power p JOIN tot t ON t.event_type = p.event_type
GROUP BY p.event_type ORDER BY p.event_type
""",
    doc="spectral entropy and Wiener flatness of the 2-14-day "
    "periodogram per event type: how CONCENTRATED the series' "
    "energy is across candidate periods — entropy ~ 1 / flatness "
    "~ 1 means white-noise-like (no rhythm), low values mean a "
    "few dominant cycles — the whole-spectrum summary on top of "
    "ts_dominant_period's argmax (which reports WHERE the peak "
    "is; this reports HOW MUCH of the spectrum the peaks own, the "
    "feature forecast-model selectors and anomaly detectors "
    "condition on).  Same explicit-DFT discipline and 4dp power "
    "rounding as the sibling; the entropy normalizes by ln(13) "
    "and the flatness is the geometric/arithmetic power-mean "
    "ratio, with the identical rounded powers making the > 0 "
    "guards agree bit-for-bit.  Per-type spectra are "
    "13-row tables; the N-sized work is the daily aggregate",
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum("value").alias("x"))
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type",
        "x",
        (F.row_number().over(wo) - 1).alias("t"),
        F.avg("x").over(wt).alias("mu"),
    )
    periods = spark.range(2, 15).select(F.col("id").cast("int").alias("p"))
    tau = 2 * math.pi
    power = (
        seq.crossJoin(F.broadcast(periods))
        .groupBy("event_type", "p")
        .agg(
            F.round(
                F.pow(
                    F.sum(
                        (F.col("x") - F.col("mu"))
                        * F.cos(tau * F.col("t") / F.col("p"))
                    ),
                    2,
                )
                + F.pow(
                    F.sum(
                        (F.col("x") - F.col("mu"))
                        * F.sin(tau * F.col("t") / F.col("p"))
                    ),
                    2,
                ),
                4,
            ).alias("pw")
        )
        .localCheckpoint(eager=False)
    )
    tot = power.groupBy("event_type").agg(
        F.sum("pw").alias("spw"), F.count(F.lit(1)).alias("np")
    )
    q = F.col("pw") / F.col("spw")
    return (
        power.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("np").cast("long").alias("n_periods"),
            F.round(
                -F.sum(F.when(F.col("pw") > 0, q * F.log(q)))
                / F.log(F.max("np").cast("double")),
                4,
            ).alias("spectral_entropy"),
            F.round(
                F.exp(F.avg(F.when(F.col("pw") > 0, F.log("pw"))))
                / (F.max("spw") / F.max("np")),
                4,
            ).alias("spectral_flatness"),
        )
        .orderBy("event_type")
    )


from .temporal import SCD2_SQL as SCD2_SQL_REF  # noqa: E402


@register(
    "dq_scd2_integrity_audit",
    oracle=f"""
WITH hist AS MATERIALIZED ({SCD2_SQL_REF}
),
w AS (
  SELECT id, version, valid_from_ms, valid_to_ms, is_current,
         lag(valid_to_ms) OVER (PARTITION BY id ORDER BY valid_from_ms)
           AS prev_to,
         row_number() OVER (PARTITION BY id ORDER BY valid_from_ms)
           AS expect_v
  FROM hist
),
per_key AS (
  SELECT id,
         count(*) AS nv,
         sum(CASE WHEN is_current THEN 1 ELSE 0 END) AS n_cur,
         sum(CASE WHEN prev_to IS NOT NULL
                   AND prev_to > valid_from_ms THEN 1 ELSE 0 END) AS n_olap,
         sum(CASE WHEN prev_to IS NOT NULL
                   AND prev_to < valid_from_ms THEN 1 ELSE 0 END) AS n_gap,
         sum(CASE WHEN version <> expect_v THEN 1 ELSE 0 END) AS n_badv
  FROM w GROUP BY id
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(nv) AS BIGINT) AS n_versions,
       CAST(max(nv) AS BIGINT) AS max_versions_per_key,
       round(avg(CASE WHEN nv > 1 THEN 1.0 ELSE 0.0 END), 4)
         AS share_multiversion,
       CAST(sum(CASE WHEN n_cur > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS keys_multi_current,
       CAST(sum(CASE WHEN n_cur = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS keys_closed_out,
       CAST(sum(n_olap) AS BIGINT) AS overlap_violations,
       CAST(sum(n_gap) AS BIGINT) AS gap_violations,
       CAST(sum(n_badv) AS BIGINT) AS version_violations
FROM per_key
""",
    doc="temporal-integrity audit OVER the SCD Type 2 operator's own "
    "output (cdc_scd2_history, cdc/scd2.py): per key, validity "
    "intervals ordered by valid_from must TILE — no overlaps "
    "(prev valid_to > next valid_from), no gaps, version numbers "
    "dense, at most one open (is_current) interval, deleted keys "
    "fully closed out — the DQ meta-query every slowly-changing "
    "dimension needs in CI, and a COMPOSITION proof: one "
    "registry operator audited by another, with the oracle "
    "recomputing the full SCD2 derivation inside a materialized "
    "CTE and the same window checks on top.  The violation "
    "counters are structural zeros (the invariant tests pin "
    "them); the distribution columns (max versions, multiversion "
    "share, closed-out keys) carry the real per-fixture signal.  "
    "One lag window per key partition on top of the history's "
    "existing key shuffle",
)
def dq_scd2_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..cdc.generator import generate_envelope_log
    from ..cdc.scd2 import scd2_history

    hist = scd2_history(generate_envelope_log(spark, sf_dir))
    w = Window.partitionBy("id").orderBy("valid_from_ms")
    ww = hist.select(
        "id",
        "version",
        "valid_from_ms",
        "valid_to_ms",
        "is_current",
        F.lag("valid_to_ms").over(w).alias("prev_to"),
        F.row_number().over(w).alias("expect_v"),
    )
    per_key = ww.groupBy("id").agg(
        F.count(F.lit(1)).alias("nv"),
        F.sum(F.when(F.col("is_current"), 1).otherwise(0)).alias("n_cur"),
        F.sum(
            F.when(
                F.col("prev_to").isNotNull()
                & (F.col("prev_to") > F.col("valid_from_ms")),
                1,
            ).otherwise(0)
        ).alias("n_olap"),
        F.sum(
            F.when(
                F.col("prev_to").isNotNull()
                & (F.col("prev_to") < F.col("valid_from_ms")),
                1,
            ).otherwise(0)
        ).alias("n_gap"),
        F.sum(
            F.when(F.col("version") != F.col("expect_v"), 1).otherwise(0)
        ).alias("n_badv"),
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("nv").cast("long").alias("n_versions"),
        F.max("nv").cast("long").alias("max_versions_per_key"),
        F.round(
            F.avg(F.when(F.col("nv") > 1, 1.0).otherwise(0.0)), 4
        ).alias("share_multiversion"),
        F.sum(F.when(F.col("n_cur") > 1, 1).otherwise(0))
        .cast("long")
        .alias("keys_multi_current"),
        F.sum(F.when(F.col("n_cur") == 0, 1).otherwise(0))
        .cast("long")
        .alias("keys_closed_out"),
        F.sum("n_olap").cast("long").alias("overlap_violations"),
        F.sum("n_gap").cast("long").alias("gap_violations"),
        F.sum("n_badv").cast("long").alias("version_violations"),
    )


# ------------------------------------------------ calibration / ranks / graphs

_PLATT_ITERS = 5


def _platt_oracle() -> str:
    sql = """
WITH bins AS MATERIALIZED (
  SELECT round(avg(score), 6) AS x, count(*) AS n, sum(y) AS pos
  FROM (
    SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
           round(1.0 / (1.0 + exp(-CAST(embedding[1] AS DOUBLE) * 4)), 6)
             AS score,
           CAST(least(floor(round(1.0 / (1.0 + exp(-CAST(embedding[1]
             AS DOUBLE) * 4)), 6) * 20), 19) AS BIGINT) AS b
    FROM embeddings
  ) GROUP BY b
),
p0 AS MATERIALIZED (
  SELECT 0.0 AS a,
         round(ln((sum(pos) + 1.0) / (sum(n) - sum(pos) + 1.0)), 6) AS bb
  FROM bins
)"""
    prev = "p0"
    for k in range(_PLATT_ITERS):
        sql += f""",
e{k} AS MATERIALIZED (
  SELECT b.x, b.n, b.pos,
         1.0 / (1.0 + exp(-(p.a * b.x + p.bb))) AS pr
  FROM bins b CROSS JOIN {prev} p
),
p{k + 1} AS MATERIALIZED (
  SELECT round(p.a + (sum(e.x * (e.pos - e.n * e.pr))
                      * sum(e.n * e.pr * (1 - e.pr))
                 - sum(e.pos - e.n * e.pr)
                      * sum(e.x * e.n * e.pr * (1 - e.pr)))
               / (sum(e.x * e.x * e.n * e.pr * (1 - e.pr))
                      * sum(e.n * e.pr * (1 - e.pr))
                  - sum(e.x * e.n * e.pr * (1 - e.pr))
                      * sum(e.x * e.n * e.pr * (1 - e.pr))), 6) AS a,
         round(p.bb + (sum(e.pos - e.n * e.pr)
                      * sum(e.x * e.x * e.n * e.pr * (1 - e.pr))
                 - sum(e.x * (e.pos - e.n * e.pr))
                      * sum(e.x * e.n * e.pr * (1 - e.pr)))
               / (sum(e.x * e.x * e.n * e.pr * (1 - e.pr))
                      * sum(e.n * e.pr * (1 - e.pr))
                  - sum(e.x * e.n * e.pr * (1 - e.pr))
                      * sum(e.x * e.n * e.pr * (1 - e.pr))), 6) AS bb
  FROM e{k} e CROSS JOIN {prev} p
  GROUP BY p.a, p.bb
)"""
        prev = f"p{k + 1}"
    return (
        sql
        + f"""
SELECT p.a AS a_coef, p.bb AS b_coef,
       round(sum(b.n * (1.0 / (1.0 + exp(-(p.a * b.x + p.bb)))))
             / sum(b.n), 6) AS avg_pred,
       round(sum(b.pos) * 1.0 / sum(b.n), 6) AS base_rate
FROM bins b CROSS JOIN {prev} p
GROUP BY p.a, p.bb"""
    )


@register(
    "ml_platt_scaling",
    oracle=_platt_oracle(),
    doc="Platt scaling (logistic recalibration p = sigma(A*s + B)) of "
    "the sigmoid scorer, fitted with 5 Newton-Raphson iterations "
    "over the 20-bin score histogram — the PARAMETRIC calibration "
    "sibling of ml_isotonic_calibration_pav (Platt needs 2 "
    "parameters and extrapolates smoothly; isotonic is "
    "nonparametric and can overfit small bins — shipping both is "
    "the standard practice).  Each Newton step solves the exact "
    "2x2 system (gradient and Hessian of the binomial "
    "log-likelihood are closed-form sums over bins); parameters "
    "are rounded 6dp per step so both engines re-synchronize "
    "before the next exp — the GMM/EWMA recursion discipline — "
    "and B initializes at the log-odds prior (A = 0), so every "
    "quantity is derived.  The oracle unrolls the 5 iterations as "
    "materialized CTE pairs; the engine collects one 2-number "
    "parameter row per step (bounded driver data).  The fitted "
    "avg_pred must reproduce the base rate (Newton solves the "
    "score equation sum(pos - n*p) = 0) — the invariant test",
)
def ml_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    score = F.round(
        1.0
        / (1.0 + F.exp(-F.element_at(F.col("embedding"), 1).cast("double") * 4)),
        6,
    )
    bins = (
        emb.select(
            F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
            score.alias("score"),
        )
        .groupBy(
            F.least(F.floor(F.col("score") * 20), F.lit(19))
            .cast("long")
            .alias("b")
        )
        .agg(
            F.round(F.avg("score"), 6).alias("x"),
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("pos"),
        )
        .localCheckpoint(eager=False)
    )
    tot = bins.agg(
        F.sum("n").alias("nt"), F.sum("pos").alias("pt")
    ).collect()[0]
    a = 0.0
    b = round(math.log((tot["pt"] + 1.0) / (tot["nt"] - tot["pt"] + 1.0)), 6)
    for _ in range(_PLATT_ITERS):
        pr = 1.0 / (1.0 + F.exp(-(a * F.col("x") + b)))
        g = bins.agg(
            F.sum(F.col("x") * (F.col("pos") - F.col("n") * pr)).alias("g1"),
            F.sum(F.col("pos") - F.col("n") * pr).alias("g0"),
            F.sum(
                F.col("x") * F.col("x") * F.col("n") * pr * (1 - pr)
            ).alias("h11"),
            F.sum(F.col("x") * F.col("n") * pr * (1 - pr)).alias("h01"),
            F.sum(F.col("n") * pr * (1 - pr)).alias("h00"),
        ).collect()[0]
        det = g["h11"] * g["h00"] - g["h01"] * g["h01"]
        a = round(a + (g["g1"] * g["h00"] - g["g0"] * g["h01"]) / det, 6)
        b = round(b + (g["g0"] * g["h11"] - g["g1"] * g["h01"]) / det, 6)
    pr = 1.0 / (1.0 + F.exp(-(a * F.col("x") + b)))
    return bins.agg(
        F.lit(a).alias("a_coef"),
        F.lit(b).alias("b_coef"),
        F.round(F.sum(F.col("n") * pr) / F.sum("n"), 6).alias("avg_pred"),
        F.round(F.sum("pos") * 1.0 / F.sum("n"), 6).alias("base_rate"),
    )


@register(
    "stats_friedman_test",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) // 86400 AS d,
         round(sum(value), 6) AS v
  FROM events GROUP BY 1, 2
),
full_days AS (
  SELECT d FROM daily GROUP BY d HAVING count(*) = 5
),
ranked AS (
  SELECT daily.event_type, daily.d,
         row_number() OVER (PARTITION BY daily.d
                            ORDER BY daily.v, daily.event_type) AS rk
  FROM daily JOIN full_days USING (d)
),
rsum AS (
  SELECT event_type, sum(rk) AS rj, count(*) AS n FROM ranked GROUP BY 1
),
s AS (
  SELECT max(n) AS n, sum(rj * rj) AS srj2 FROM rsum
)
SELECT CAST(n AS BIGINT) AS n_blocks,
       round(12.0 * srj2 / (n * 5 * 6) - 3.0 * n * 6, 4) AS q_stat,
       CAST(4 AS BIGINT) AS df,
       12.0 * srj2 / (n * 5 * 6) - 3.0 * n * 6 > 9.488
         AS significant_5pct
FROM s
""",
    doc="Friedman rank test: do the five event types differ in daily "
    "value when each DAY is its own block?  The k-related-samples "
    "rank analogue of repeated-measures ANOVA — blocking by day "
    "removes day-to-day volume swings that would swamp an "
    "independent-samples comparison (stats_kruskal_wallis pools "
    "across groups with no blocking; stats_cochran_q_weeks is the "
    "binary special case).  Q = 12/(nk(k+1)) * sum R_j^2 - 3n(k+1) "
    "over within-day ranks 1..5, chi2(4) critical 9.488.  Ranks "
    "use a (value, type) TOTAL order on 6dp-rounded sums — ties "
    "are broken identically on both engines, a documented "
    "deterministic variant of the midrank convention (exact ties "
    "in 6dp daily sums are measure-zero on this fixture); only "
    "complete 5-type days enter, dropped identically via the "
    "HAVING census.  Everything after the daily aggregate is "
    "integer arithmetic on a 5-row rank-sum table",
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (
            F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
        ).alias("d"),
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    full_days = daily.groupBy("d").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") == 5
    ).select("d")
    w = Window.partitionBy("d").orderBy("v", "event_type")
    ranked = daily.join(full_days, "d").select(
        "event_type", F.row_number().over(w).alias("rk")
    )
    rsum = ranked.groupBy("event_type").agg(
        F.sum("rk").alias("rj"), F.count(F.lit(1)).alias("n")
    )
    s = rsum.agg(
        F.max("n").alias("n"), F.sum(F.col("rj") * F.col("rj")).alias("srj2")
    )
    q = 12.0 * F.col("srj2") / (F.col("n") * 5 * 6) - 3.0 * F.col("n") * 6
    return s.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.round(q, 4).alias("q_stat"),
        F.lit(4).cast("long").alias("df"),
        (q > 9.488).alias("significant_5pct"),
    )


@register(
    "graph_modularity_regions",
    oracle="""
WITH raw AS MATERIALIZED (
  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
         greatest(c.c_nationkey, s.s_nationkey) AS v,
         count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY 1, 2
),
m AS (SELECT sum(w) AS m FROM raw),
memb AS (SELECT n_nationkey AS nk, n_regionkey AS rg FROM nation),
internal AS (
  SELECT mu.rg, sum(r.w) AS iw
  FROM raw r
  JOIN memb mu ON mu.nk = r.u
  JOIN memb mv ON mv.nk = r.v AND mv.rg = mu.rg
  GROUP BY mu.rg
),
deg AS (
  SELECT mb.rg, sum(x.w) AS dsum
  FROM (
    SELECT u AS nk, w FROM raw UNION ALL SELECT v, w FROM raw
  ) x JOIN memb mb ON mb.nk = x.nk
  GROUP BY mb.rg
)
SELECT reg.r_name AS region,
       CAST(coalesce(i.iw, 0) AS BIGINT) AS internal_weight,
       CAST(d.dsum AS BIGINT) AS degree_weight,
       round(coalesce(i.iw, 0) * 1.0 / mm.m
             - (d.dsum * 0.5 / mm.m) * (d.dsum * 0.5 / mm.m), 6)
         AS q_contribution
FROM deg d
JOIN region reg ON reg.r_regionkey = d.rg
LEFT JOIN internal i ON i.rg = d.rg
CROSS JOIN m mm
ORDER BY region
""",
    doc="Newman modularity of the REGION partition of the weighted "
    "nation trade graph: Q = sum over communities of [w_in/m - "
    "(d_c/2m)^2], asking whether nations trade more within their "
    "region than a degree-preserving random rewiring predicts — "
    "the partition-QUALITY metric that completes the community "
    "family (graph_label_propagation FINDS communities; modularity "
    "SCORES a candidate partition, and the geographic partition is "
    "the natural domain-given candidate; LPA's own output "
    "collapses to connected components on this dense graph, which "
    "would score a degenerate Q = 0).  Per-region contribution "
    "rows let the test verify both the identity sum(Q_c) in "
    "[-0.5, 1] and that internal weight never exceeds the degree "
    "sum.  All weights are exact integer trade counts; one 4-way "
    "fact join feeds a 25-node edge aggregate and everything "
    "after is region-bounded",
)
def graph_modularity_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    rg = load_table(spark, sf_dir, "region")
    raw = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=False)
    )
    m = raw.agg(F.sum("w").alias("m"))
    memb = na.select(F.col("n_nationkey").alias("nk"), F.col("n_regionkey").alias("rg"))
    mu = memb.select(F.col("nk").alias("u"), F.col("rg").alias("rgu"))
    mv = memb.select(F.col("nk").alias("v"), F.col("rg").alias("rgv"))
    internal = (
        raw.join(F.broadcast(mu), "u")
        .join(F.broadcast(mv), "v")
        .filter(F.col("rgu") == F.col("rgv"))
        .groupBy(F.col("rgu").alias("rg"))
        .agg(F.sum("w").alias("iw"))
    )
    deg = (
        raw.select(F.col("u").alias("nk"), "w")
        .unionAll(raw.select(F.col("v").alias("nk"), "w"))
        .join(F.broadcast(memb), "nk")
        .groupBy("rg")
        .agg(F.sum("w").alias("dsum"))
    )
    return (
        deg.join(
            F.broadcast(rg.select(F.col("r_regionkey").alias("rg"), "r_name")),
            "rg",
        )
        .join(F.broadcast(internal), "rg", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("r_name").alias("region"),
            F.coalesce("iw", F.lit(0)).cast("long").alias("internal_weight"),
            F.col("dsum").cast("long").alias("degree_weight"),
            F.round(
                F.coalesce("iw", F.lit(0)) * 1.0 / F.col("m")
                - (F.col("dsum") * 0.5 / F.col("m"))
                * (F.col("dsum") * 0.5 / F.col("m")),
                6,
            ).alias("q_contribution"),
        )
        .orderBy("region")
    )


# ------------------------------------------------ order-statistic CI / ECE


@register(
    "stats_median_ci_binomial",
    oracle="""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders
),
n AS (SELECT count(*) AS n FROM o),
ranks AS (
  SELECT CAST(floor(n / 2.0 - 1.96 * sqrt(n) / 2.0) AS BIGINT) AS lo_r,
         CAST(ceil(n / 2.0 + 1.96 * sqrt(n) / 2.0) + 1 AS BIGINT) AS hi_r,
         n
  FROM n
),
hist AS (
  SELECT cents, count(*) AS c FROM o GROUP BY cents
),
cum AS MATERIALIZED (
  SELECT cents, sum(c) OVER (ORDER BY cents) AS cw FROM hist
),
sel AS (
  SELECT r.n, r.lo_r, r.hi_r,
         (SELECT min(cents) FROM cum WHERE cw >= r.lo_r) AS lo_cents,
         (SELECT min(cents) FROM cum WHERE cw >= r.hi_r) AS hi_cents,
         (SELECT min(cents) FROM cum
          WHERE 2 * cw >= r.n) AS med_lo,
         (SELECT min(cents) FROM cum
          WHERE 2 * cw > r.n) AS med_hi
  FROM ranks r
)
SELECT CAST(n AS BIGINT) AS n,
       round((med_lo + med_hi) / 200.0, 4) AS median_price,
       round(lo_cents / 100.0, 4) AS ci_lo,
       round(hi_cents / 100.0, 4) AS ci_hi,
       CAST(lo_r AS BIGINT) AS lo_rank,
       CAST(hi_r AS BIGINT) AS hi_rank
FROM sel
""",
    doc="distribution-free confidence interval for the median order "
    "price via BINOMIAL ORDER STATISTICS: the 95%% CI is [x_(l), "
    "x_(u)] with l = floor(n/2 - 1.96*sqrt(n)/2) and u = ceil(n/2 "
    "+ 1.96*sqrt(n)/2) + 1 — exact coverage logic from the sign-"
    "test inversion, no normality or density assumption, the "
    "uncertainty statement stats_bootstrap_ci_mean cannot make "
    "for a QUANTILE (bootstrap of the median is notoriously "
    "unstable).  Order statistics are selected EXACTLY from the "
    "integer-cents value histogram by cumulative-count crossing — "
    "prices have ~n DISTINCT values, so unlike the 50-value "
    "quantity histograms a cumulative SELF-JOIN would be "
    "quadratic; the engine runs the two-level global_prefix_sum "
    "(range-partitioned, no single-task window) and the oracle "
    "keeps the plain window, equal because the range buckets tile "
    "the cents order (lesson-18) — and the median itself uses the "
    "same lower/upper "
    "midpoint convention as stats_hodges_lehmann_shift.  Every "
    "comparison left of the final /100 is exact 64-bit integer",
)
def stats_median_ci_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    o = od.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    from ..operators.topk import global_prefix_sum

    # Round-12: n rides the prefix-sum offsets collect (sum of the
    # value-histogram counts IS the row count) — the old n/ranks pair
    # re-scanned orders and broadcast a 1-row rank table; the rank
    # bounds are the identical IEEE expression evaluated on the driver
    # (floor(n/2 - 1.96*sqrt(n)/2), both sides libm/StrictMath sqrt of
    # the same long — correctly-rounded per IEEE-754, so bit-equal).
    hist = o.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    cum, n_rows, _nbins = global_prefix_sum(
        hist, [F.col("cents")], "c", out_col="cw"
    )
    import math

    lo_r = int(math.floor(n_rows / 2.0 - 1.96 * math.sqrt(n_rows) / 2.0))
    hi_r = int(math.ceil(n_rows / 2.0 + 1.96 * math.sqrt(n_rows) / 2.0) + 1)
    sel = cum.agg(
        F.min(
            F.when(F.col("cw") >= F.lit(lo_r).cast("long"), F.col("cents"))
        ).alias("lo_cents"),
        F.min(
            F.when(F.col("cw") >= F.lit(hi_r).cast("long"), F.col("cents"))
        ).alias("hi_cents"),
        F.min(
            F.when(
                2 * F.col("cw") >= F.lit(n_rows).cast("long"),
                F.col("cents"),
            )
        ).alias("med_lo"),
        F.min(
            F.when(
                2 * F.col("cw") > F.lit(n_rows).cast("long"), F.col("cents")
            )
        ).alias("med_hi"),
    ).select(
        F.lit(n_rows).alias("n"),
        F.lit(lo_r).alias("lo_r"),
        F.lit(hi_r).alias("hi_r"),
        "lo_cents",
        "hi_cents",
        "med_lo",
        "med_hi",
    )
    return sel.select(
        F.col("n").cast("long").alias("n"),
        F.round((F.col("med_lo") + F.col("med_hi")) / 200.0, 4).alias(
            "median_price"
        ),
        F.round(F.col("lo_cents") / 100.0, 4).alias("ci_lo"),
        F.round(F.col("hi_cents") / 100.0, 4).alias("ci_hi"),
        F.col("lo_r").cast("long").alias("lo_rank"),
        F.col("hi_r").cast("long").alias("hi_rank"),
    )


@register(
    "ml_calibration_ece",
    oracle="""
WITH scored AS (
  SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
         round(1.0 / (1.0 + exp(-CAST(embedding[1] AS DOUBLE) * 4)), 6)
           AS score
  FROM embeddings
),
bins AS (
  SELECT CAST(least(floor(score * 20), 19) AS BIGINT) AS b,
         count(*) AS n,
         round(avg(score), 6) AS ms,
         round(avg(y), 6) AS pr
  FROM scored GROUP BY 1
),
tot AS (SELECT sum(n) AS nt FROM bins)
SELECT CAST((SELECT count(*) FROM bins) AS BIGINT) AS n_bins,
       CAST(t.nt AS BIGINT) AS n_rows,
       round(sum(b.n * abs(b.ms - b.pr)) / t.nt, 6) AS ece,
       round(max(abs(b.ms - b.pr)), 6) AS mce,
       round(sum(b.n * (b.ms - b.pr)) / t.nt, 6) + 0.0 AS signed_gap
FROM bins b CROSS JOIN tot t
GROUP BY t.nt
""",
    doc="expected / maximum calibration error of the sigmoid scorer "
    "over 20 score bins: ECE = sum n_i |mean_score_i - pos_rate_i| "
    "/ N and MCE = max gap — THE one-number calibration summaries "
    "(Guo et al.) on top of ml_eval_calibration_bins' per-bin "
    "reliability table, plus the SIGNED mean gap that tells over- "
    "from under-confidence (the quantity Platt's intercept and the "
    "isotonic fit each remove differently).  Per-bin means rounded "
    "6dp before the absolute gaps per the partial-aggregate "
    "discipline; +0.0 on the signed gap (it is algebraically "
    "near-zero and DuckDB rounds tiny negatives to -0.0).  One "
    "groupBy to 20 bins, one bounded fold — the entire query is "
    "histogram-sized after the scan",
)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    score = F.round(
        1.0
        / (1.0 + F.exp(-F.element_at(F.col("embedding"), 1).cast("double") * 4)),
        6,
    )
    bins = (
        emb.select(
            F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
            score.alias("score"),
        )
        .groupBy(
            F.least(F.floor(F.col("score") * 20), F.lit(19))
            .cast("long")
            .alias("b")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("score"), 6).alias("ms"),
            F.round(F.avg("y"), 6).alias("pr"),
        )
    )
    gap = F.col("ms") - F.col("pr")
    return bins.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n").cast("long").alias("n_rows"),
        F.round(
            F.sum(F.col("n") * F.abs(gap)) / F.sum("n"), 6
        ).alias("ece"),
        F.round(F.max(F.abs(gap)), 6).alias("mce"),
        (F.round(F.sum(F.col("n") * gap) / F.sum("n"), 6) + 0.0).alias(
            "signed_gap"
        ),
    )
