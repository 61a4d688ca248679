"""Round-9 additions: 8 genuinely-new operator surfaces (authoring
capped per the round-8 verdict's drain-the-queue discipline — 8 new vs
50 attested per round).

- geo_geohash_rollup: Z-order (Morton) bit-interleaved spatial cells +
  multi-precision rollup — the partition-pruning primitive every
  spatial store (GeoMesa/Sedona/H3-style) builds on.
- prep_quantile_binning: exact equal-frequency feature binning via the
  scalable global-ordinal pattern (no single-reducer window).
- ml_loo_target_encode: leakage-safe leave-one-out target encoding in
  closed form, with the LOO-vs-naive covariance sign flip made visible.
- cep_absence_timeout: CEP absence pattern (A NOT followed by B within
  T) — the timeout complement of cep_purchase_within_hour.
- privacy_dp_exponential_topk: the exponential mechanism via the
  Gumbel-max trick with deterministic md5-derived noise.
- agg_bitmap_distinct_rollup: exact distinct counting via bit_or'd
  bitmap words + popcount (the Druid/ClickHouse dense-id bitmap trick)
  checked against count(DISTINCT) in the same query.
- er_token_blocking_dice: entity-resolution token blocking + Dice
  similarity over the bounded canonical-entity domain.
- fn_bitwise_suite: the bitwise function family (F-family gap).

Cross-engine disciplines as established (SCALING.md / the playbook):
identical aliases both sides, doubles rounded at the same dp both
sides, exact integer cents for money, total tie-break order on every
top-k, closed-form arithmetic from grouped integers instead of
per-row float summation wherever variance/covariance is reported.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from . import register
from .coverage_round10 import _md5_mod

# ------------------------------------------------------------------
# geo: Z-order cells
# ------------------------------------------------------------------

_GEO_BITS = 8


def _interleave_sql(latq: str, lonq: str, bits: int = _GEO_BITS) -> str:
    """Morton interleave as portable integer arithmetic (same text is
    valid in DuckDB and Spark SQL): lat bits at odd positions, lon at
    even."""
    terms = []
    for i in range(bits):
        terms.append(f"((({latq} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({lonq} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


@register(
    "geo_geohash_rollup",
    oracle=f"""
WITH q AS (
  SELECT c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
         (c_custkey * 7919) % 256 AS latq,
         (c_custkey * 104729) % 256 AS lonq
  FROM customer
),
cells AS (
  SELECT c_custkey, cents,
         {_interleave_sql('latq', 'lonq')} AS cell16
  FROM q
)
SELECT CAST(cell16 >> 8 AS BIGINT) AS cell8,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(count(DISTINCT cell16) AS BIGINT) AS n_fine_cells,
       CAST(floor(sum(cents) * 100.0 / count(*) + 0.5) AS BIGINT)
         AS avg_bal_bp
FROM cells GROUP BY 1 ORDER BY 1
""",
    doc="Z-order (Morton) spatial cells: synthetic lat/lon quantized "
    "to 8 bits each, bit-interleaved into a 16-bit cell id, rolled "
    "up to the 8-bit parent by right-shift — the prefix property "
    "that makes Z-order cells a spatial PARTITION KEY (a bounding "
    "box becomes O(1) contiguous cell ranges, so a parquet layout "
    "sorted by cell prunes files exactly like layout_zorder_scan "
    "does for numeric columns).  Pure map arithmetic + one 256-cell "
    "groupBy with map-side partials; money as exact integer cents.  "
    "At 100 TB the same expression is the write-time partition "
    "column; no shuffle grows with data beyond the rollup's "
    "256-key exchange.",
)
def geo_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        ((F.col("c_custkey") * 7919) % 256).alias("latq"),
        ((F.col("c_custkey") * 104729) % 256).alias("lonq"),
    )
    cells = cust.select(
        "cents",
        F.expr(_interleave_sql("latq", "lonq")).alias("cell16"),
    )
    return (
        cells.groupBy(
            F.shiftright(F.col("cell16"), 8).cast("long").alias("cell8")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.countDistinct("cell16").cast("long").alias("n_fine_cells"),
            # average in integer basis points (half-up via floor+0.5):
            # both engines evaluate the identical double expression, so
            # there is no round()-at-.005-boundary divergence (this hit
            # 5/240 cells at sf0.01 with round(x, 2))
            F.floor(
                F.sum("cents") * 100.0 / F.count(F.lit(1)) + 0.5
            ).cast("long").alias("avg_bal_bp"),
        )
        .orderBy("cell8")
    )


# ------------------------------------------------------------------
# prep: equal-frequency binning
# ------------------------------------------------------------------


@register(
    "prep_quantile_binning",
    oracle="""
WITH r AS (
  SELECT o_totalprice,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS pos,
         count(*) OVER () AS n
  FROM orders
)
SELECT CAST(((pos - 1) * 10) // n AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       CAST(floor(sum(cents) * 100.0 / count(*) + 0.5) AS BIGINT)
         AS avg_price_bp
FROM r GROUP BY 1 ORDER BY 1
""",
    doc="Exact equal-frequency (decile) feature binning — the "
    "unsupervised bucketizer that complements ml_woe_binning "
    "(supervised) and prep_winsorize_values (tail clamp).  Bin "
    "membership needs a GLOBAL rank; the oracle uses the textbook "
    "single-reducer row_number, the Spark side uses the scalable "
    "global-ordinal pattern (operators/topk.py: range-partition by "
    "the total order (price, orderkey), rank within partitions, add "
    "broadcast per-partition offsets) so window parallelism equals "
    "the partition count at any scale — the same no-single-reducer "
    "twin discipline as sort_global_ordinal_scalable.  Money as "
    "exact integer cents.",
)
def prep_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import global_ordinal

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ranked, n = global_ordinal(
        orders,
        [F.col("o_totalprice"), F.col("o_orderkey")],
        out_col="__pos",
    )
    return (
        ranked.select(
            F.expr(f"((__pos - 1) * 10) div {n}").cast("long").alias("bin"),
            "o_totalprice",
            "cents",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.floor(
                F.sum("cents") * 100.0 / F.count(F.lit(1)) + 0.5
            ).cast("long").alias("avg_price_bp"),
        )
        .orderBy("bin")
    )


# ------------------------------------------------------------------
# ml: leave-one-out target encoding
# ------------------------------------------------------------------

_LOO_EXPRS = {
    # all closed-form from the per-category integers (n_rows, n_pos):
    # never per-row float summation, so both engines evaluate the
    # identical double expression tree.  CAST AS DOUBLE rather than a
    # bare 1.0 multiplier: Spark parses 1.0 as DECIMAL(2,1) and the
    # whole tree goes decimal (type mismatch vs the oracle's doubles)
    "mean_y": "round(CAST(n_pos AS DOUBLE) / n_rows, 6)",
    "enc_pos_rows": "round(CAST(n_pos - 1 AS DOUBLE) / (n_rows - 1), 6)",
    "enc_neg_rows": "round(CAST(n_pos AS DOUBLE) / (n_rows - 1), 6)",
    # population variance of the LOO encoding: the n_pos rows carry
    # a=(s-1)/(n-1), the rest b=s/(n-1); mean is exactly s/n
    "var_loo": (
        "round((n_pos * power(CAST(n_pos - 1 AS DOUBLE) / (n_rows - 1)"
        " - CAST(n_pos AS DOUBLE) / n_rows, 2)"
        " + (n_rows - n_pos) * power(CAST(n_pos AS DOUBLE) / (n_rows - 1)"
        " - CAST(n_pos AS DOUBLE) / n_rows, 2)) / n_rows, 9)"
    ),
    # cov(enc, y) = E[enc*y] - E[enc]E[y]; E[enc] = mean_y exactly.
    # NEGATIVE for LOO (each row's own label is excluded, so high-y
    # rows see lower encodings) where naive mean encoding gives
    # +p(1-p)/1 — the sign flip IS the leakage-safety demonstration
    "cov_loo_y": (
        "round(n_pos * (CAST(n_pos - 1 AS DOUBLE) / (n_rows - 1)) / n_rows"
        " - (CAST(n_pos AS DOUBLE) / n_rows)"
        " * (CAST(n_pos AS DOUBLE) / n_rows), 9)"
    ),
}


@register(
    "ml_loo_target_encode",
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority AS category,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
           AS n_pos
  FROM orders GROUP BY 1
)
SELECT category, n_rows, n_pos,
       {_LOO_EXPRS['mean_y']} AS mean_y,
       {_LOO_EXPRS['enc_pos_rows']} AS enc_pos_rows,
       {_LOO_EXPRS['enc_neg_rows']} AS enc_neg_rows,
       {_LOO_EXPRS['var_loo']} AS var_loo,
       {_LOO_EXPRS['cov_loo_y']} AS cov_loo_y
FROM g ORDER BY category
""",
    doc="Leave-one-out target encoding (the leakage-safe variant of "
    "ml_target_encoding): each row's category encoding excludes its "
    "own label, enc_i = (sum_y(cat) - y_i) / (n_cat - 1).  Because "
    "the encoding takes exactly two values per category, every "
    "reported statistic is CLOSED-FORM from the per-category integer "
    "pair (n, s) — one groupBy, no row-level join-back, no float "
    "summation-order hazard.  cov_loo_y < 0 while naive mean "
    "encoding has cov = +p(1-p): the sign flip is the auditable "
    "evidence LOO removed self-leakage.  Scale: a 5-row aggregate; "
    "the row-level encoded table (when materialized) is a broadcast "
    "join of this aggregate against the fact scan.",
)
def ml_loo_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("category"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1))
            .cast("long")
            .alias("n_pos"),
        )
    )
    return g.select(
        "category",
        "n_rows",
        "n_pos",
        *[F.expr(sql).alias(name) for name, sql in _LOO_EXPRS.items()],
    ).orderBy("category")


# ------------------------------------------------------------------
# cep: absence / timeout pattern
# ------------------------------------------------------------------


@register(
    "cep_absence_timeout",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         min(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_purchase_ts
  FROM events
)
SELECT CAST(extract(hour FROM ts) AS BIGINT) AS view_hour,
       CAST(count(*) AS BIGINT) AS n_views,
       CAST(count(*) FILTER (WHERE next_purchase_ts IS NOT NULL
              AND next_purchase_ts <= ts + INTERVAL 1 HOUR) AS BIGINT)
         AS n_converted_1h,
       CAST(count(*) FILTER (WHERE next_purchase_ts IS NULL
              OR next_purchase_ts > ts + INTERVAL 1 HOUR) AS BIGINT)
         AS n_absent,
       round(count(*) FILTER (WHERE next_purchase_ts IS NULL
              OR next_purchase_ts > ts + INTERVAL 1 HOUR) * 1.0
             / count(*), 6) AS absence_rate
FROM seq
WHERE event_type = 'view'
GROUP BY 1 ORDER BY 1
""",
    doc="CEP absence detection: views NOT followed by a purchase "
    "within 1 hour (the timeout complement of "
    "cep_purchase_within_hour — absence is the pattern match "
    "engines like Flink CEP express as notFollowedBy + within, and "
    "the one naive joins get wrong because 'no match' never appears "
    "in a join result).  One forward-looking min window per user "
    "(ROWS current->unbounded, ignoring non-purchase rows via CASE "
    "null) gives every view its next purchase timestamp in a single "
    "pass; the absence test is then a plain filter.  Keyed window "
    "-> parallelism scales with users; streaming twin is an event "
    "timer per open view that fires when its hour passes with no "
    "purchase.",
)
def cep_absence_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "ts",
        "event_type",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).over(w).alias("next_purchase_ts"),
    ).filter(F.col("event_type") == "view")
    deadline = F.col("ts") + F.expr("INTERVAL 1 HOUR")
    converted = F.col("next_purchase_ts").isNotNull() & (
        F.col("next_purchase_ts") <= deadline
    )
    return (
        seq.groupBy(F.hour("ts").cast("long").alias("view_hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_views"),
            F.count(F.when(converted, 1)).cast("long").alias("n_converted_1h"),
            F.count(F.when(~converted, 1)).cast("long").alias("n_absent"),
            F.round(
                F.count(F.when(~converted, 1)) * 1.0 / F.count(F.lit(1)), 6
            ).alias("absence_rate"),
        )
        .orderBy("view_hour")
    )


# ------------------------------------------------------------------
# privacy: exponential mechanism
# ------------------------------------------------------------------


@register(
    "privacy_dp_exponential_topk",
    oracle="""
WITH c AS (
  SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_true
  FROM customer GROUP BY 1
),
g AS (
  SELECT segment, n_true,
         (CAST(concat('0x', substr(md5('em:' || segment), 1, 15))
               AS BIGINT) % 1000000 + 0.5) / 1000000.0 AS u
  FROM c
)
SELECT segment, n_true,
       round(n_true * 0.005 - ln(-ln(u)), 6) AS noisy_score
FROM g
ORDER BY noisy_score DESC, segment
LIMIT 3
""",
    doc="Differentially-private top-k selection via the exponential "
    "mechanism: utility = segment count (sensitivity 1), selection "
    "probability proportional to exp(eps*u/2) realized through the "
    "Gumbel-max trick — argmax of eps*u/(2*sensitivity) + "
    "Gumbel(0,1), with the Gumbel variate -ln(-ln(U)) derived from "
    "a deterministic md5 uniform (same +0.5/1e6 midpoint trick as "
    "privacy_dp_laplace_counts, so both engines draw identical "
    "noise and the result is replayable).  eps=0.01 makes the noise "
    "actually bite at test scale: the released top-3 can disagree "
    "with the true top-3, which is the mechanism working, not a "
    "bug.  Complements the Laplace counts (numeric release) with a "
    "SELECTION release — the other half of the standard DP toolkit. "
    " Scale: 5-row aggregate + TakeOrdered.",
)
def privacy_dp_exponential_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    )
    u = (
        (_md5_mod("em:", F.col("segment"), 1_000_000) + 0.5) / 1_000_000.0
    )
    return (
        c.select(
            "segment",
            "n_true",
            F.round(
                F.col("n_true") * 0.005 - F.log(-F.log(u)), 6
            ).alias("noisy_score"),
        )
        .orderBy(F.desc("noisy_score"), "segment")
        .limit(3)
    )


# ------------------------------------------------------------------
# agg: bitmap distinct
# ------------------------------------------------------------------


@register(
    "agg_bitmap_distinct_rollup",
    oracle="""
WITH words AS (
  SELECT event_type, user_id // 32 AS word_id,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS w
  FROM events GROUP BY 1, 2
),
bm AS (
  SELECT event_type, CAST(sum(bit_count(w)) AS BIGINT) AS n_distinct_bitmap
  FROM words GROUP BY 1
),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
           AS n_distinct_exact
  FROM events GROUP BY 1
)
SELECT bm.event_type, n_distinct_bitmap, n_distinct_exact,
       n_distinct_bitmap = n_distinct_exact AS bitmap_exact_match
FROM bm JOIN ex USING (event_type) ORDER BY 1
""",
    doc="Exact distinct counting via dense-id bitmaps (the Druid / "
    "ClickHouse groupBitmap trick): users fold into 32-bit words "
    "keyed by user_id div 32, bit_or is the per-word merge, "
    "popcount-sum the readout.  bit_or is commutative/associative/"
    "idempotent, so the words are map-side combinable, mergeable "
    "across partitions AND across time grains (daily bitmaps OR "
    "into monthly — the rollup property count(DISTINCT) lacks), and "
    "replay-safe.  The query carries count(DISTINCT) beside it and "
    "asserts equality in-result (bitmap_exact_match), making the "
    "equivalence a driver-checked invariant rather than a code "
    "comment.  Scale: shuffle carries one long per (type, word) — "
    "for dense ids that is 32x fewer rows than the distinct "
    "shuffle's (type, user) pairs.  31 is the max shift (no "
    "1<<63 signed-overflow hazard in either engine).",
)
def agg_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    words = (
        ev.groupBy(
            "event_type",
            F.expr("user_id div 32").alias("word_id"),
        )
        .agg(
            # F.shiftleft only takes a literal bit count; the SQL form
            # accepts a column expression
            F.bit_or(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(user_id % 32 AS INT))"
                )
            ).alias("w")
        )
    )
    bm = words.groupBy("event_type").agg(
        F.sum(F.bit_count("w")).cast("long").alias("n_distinct_bitmap")
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_distinct_exact")
    )
    return (
        bm.join(ex, "event_type")
        .select(
            "event_type",
            "n_distinct_bitmap",
            "n_distinct_exact",
            (
                F.col("n_distinct_bitmap") == F.col("n_distinct_exact")
            ).alias("bitmap_exact_match"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------------------
# er: token blocking + Dice
# ------------------------------------------------------------------


@register(
    "er_token_blocking_dice",
    oracle="""
WITH ent AS (
  SELECT p_name || ' ' || lower(p_type) AS entity,
         CAST(count(*) AS BIGINT) AS n_occ
  FROM part GROUP BY 1
),
toks AS (
  SELECT entity, n_occ,
         len(list_distinct(string_split(entity, ' '))) AS n_tok,
         unnest(list_distinct(string_split(entity, ' '))) AS tok
  FROM ent
),
cand AS (
  SELECT a.entity AS ea, b.entity AS eb,
         max(a.n_occ) AS occ_a, max(b.n_occ) AS occ_b,
         max(a.n_tok) AS na, max(b.n_tok) AS nb,
         CAST(count(*) AS BIGINT) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.entity < b.entity
  GROUP BY 1, 2
)
SELECT round(2.0 * shared / (na + nb), 2) AS dice_band,
       CAST(count(*) AS BIGINT) AS n_entity_pairs,
       CAST(sum(occ_a * occ_b) AS BIGINT) AS n_weighted_row_pairs
FROM cand GROUP BY 1 ORDER BY 1
""",
    doc="Entity-resolution token blocking with Dice similarity: "
    "canonicalize part identity to name+type, tokenize, block "
    "candidate pairs on ANY shared token (the standard ER blocking "
    "that avoids the N^2 all-pairs compare), score each pair with "
    "Dice = 2|A∩B|/(|A|+|B|) over distinct-token sets, and report "
    "the pair count per Dice band plus the row-weighted pair count "
    "(occurrence products — what a row-level dedupe would touch).  "
    "The entity domain is the generator's bounded word grid (384 "
    "canonical entities at every SF), so the self-join runs over "
    "the deduplicated vocabulary, never the fact table — the same "
    "canonicalize-then-pair shape as dedup's posting-list family; "
    "for UNBOUNDED vocabularies the prefix-filtered Jaccard join "
    "(operators/dedup.py:432) is the scale path and this query is "
    "the blocking-quality audit on top of it.",
)
def er_token_blocking_dice(spark: SparkSession, sf_dir: str) -> DataFrame:
    ent = (
        load_table(spark, sf_dir, "part")
        .groupBy(
            F.concat(
                F.col("p_name"), F.lit(" "), F.lower(F.col("p_type"))
            ).alias("entity")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )
    toks = ent.select(
        "entity",
        "n_occ",
        F.size(F.array_distinct(F.split(F.col("entity"), " "))).alias(
            "n_tok"
        ),
        F.explode(F.array_distinct(F.split(F.col("entity"), " "))).alias(
            "tok"
        ),
    )
    a = toks.select(
        F.col("entity").alias("ea"),
        F.col("n_occ").alias("occ_a"),
        F.col("n_tok").alias("na"),
        "tok",
    )
    b = toks.select(
        F.col("entity").alias("eb"),
        F.col("n_occ").alias("occ_b"),
        F.col("n_tok").alias("nb"),
        "tok",
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("ea") < F.col("eb"))
        .groupBy("ea", "eb")
        .agg(
            F.max("occ_a").alias("occ_a"),
            F.max("occ_b").alias("occ_b"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
            F.count(F.lit(1)).cast("long").alias("shared"),
        )
    )
    return (
        cand.groupBy(
            F.round(
                2.0 * F.col("shared") / (F.col("na") + F.col("nb")), 2
            ).alias("dice_band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entity_pairs"),
            F.sum(F.col("occ_a") * F.col("occ_b"))
            .cast("long")
            .alias("n_weighted_row_pairs"),
        )
        .orderBy("dice_band")
    )


# ------------------------------------------------------------------
# fn: bitwise family
# ------------------------------------------------------------------


@register(
    "fn_bitwise_suite",
    oracle="""
SELECT c_custkey,
       CAST(c_custkey & 255 AS BIGINT) AS k_and,
       CAST(c_custkey | 4096 AS BIGINT) AS k_or,
       CAST(xor(c_custkey, 255) AS BIGINT) AS k_xor,
       CAST(c_custkey << 2 AS BIGINT) AS k_shl,
       CAST(c_custkey >> 3 AS BIGINT) AS k_shr,
       CAST(bit_count(CAST(c_custkey AS BIGINT)) AS BIGINT) AS k_popcount,
       CAST((c_custkey >> 5) & 1 AS BIGINT) AS k_bit5
FROM customer
""",
    doc="Bitwise function family (the F-family gap): AND/OR/XOR, "
    "shifts, popcount, single-bit probe — the primitives the "
    "engine's own bitmap/bucket/Z-order operators are built from, "
    "exposed as user-facing expressions.  Note the cross-engine "
    "trap this query pins: DuckDB's ^ is exponentiation (its XOR is "
    "the xor() function) while Spark SQL's ^ is XOR; and 1<<63 "
    "overflows DuckDB's signed shift, so portable code keeps "
    "shifts <= 62.  Pure map-side, whole-stage codegen.",
)
def fn_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        k.bitwiseAND(255).cast("long").alias("k_and"),
        k.bitwiseOR(4096).cast("long").alias("k_or"),
        k.bitwiseXOR(255).cast("long").alias("k_xor"),
        F.shiftleft(k, 2).cast("long").alias("k_shl"),
        F.shiftright(k, 3).cast("long").alias("k_shr"),
        F.bit_count(k.cast("long")).cast("long").alias("k_popcount"),
        F.shiftright(k, 5).bitwiseAND(1).cast("long").alias("k_bit5"),
    )
