"""Round-10 coverage batch: storage-layout skipping audit, LLM data
mixing, boilerplate removal, CEP repeat bursts, curriculum phasing,
and the LSH bucket-balance diagnostic.

Six ops a 100 TB training-data platform runs that the registry did not
yet cover: how much the physical layout actually prunes (the metric
behind every OPTIMIZE ZORDER decision), temperature-scaled source
mixing (the standard multilingual blend rule), sentence-df boilerplate
stripping (C4/RefinedWeb's line-dedup step, distinct from the dup-RATE
audit), same-type event bursts (rage clicks / retry storms), quality
curriculum phases, and bucket-occupancy skew for the sign-LSH family
every banded operator here relies on.

Same conventions as every coverage module: each Spark query is paired
with a hand-written DuckDB oracle over the same parquet, aggregates
aliased identically on both sides, doubles rounded so summation order
can't flip the last bit, and every output carries a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from . import register


def _interleave8_sql(a: str, b: str) -> str:
    """DuckDB twin of operators/layout.interleave_bits at 8 bits (the
    list_transform/shift pattern layout_zorder_orders established)."""
    return (
        f"CAST(list_sum(list_transform(range(0, 8), i -> "
        f"((({a} >> i) & 1) << (2*i)) + ((({b} >> i) & 1) << (2*i + 1))"
        f")) AS BIGINT)"
    )


@register(
    "layout_file_skipping_minmax",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_custkey AS ck,
         datediff('day', DATE '1992-01-01', o_orderdate) AS d
  FROM orders
),
bounds AS (
  SELECT min(ck) AS cklo, max(ck) AS ckhi, min(d) AS dlo, max(d) AS dhi
  FROM base
),
scaled AS (
  SELECT o_orderkey, ck, d,
         CAST(floor((ck - cklo) * 255.0 / (ckhi - cklo)) AS BIGINT) AS cks,
         CAST(floor((d - dlo) * 255.0 / (dhi - dlo)) AS BIGINT) AS ds
  FROM base, bounds
),
z AS (
  SELECT o_orderkey, ck, d,
         {_interleave8_sql("cks", "ds")} AS zval
  FROM scaled
),
laid AS (
  SELECT 'date' AS layout, ck, d,
         CAST(floor((row_number() OVER (ORDER BY d, o_orderkey) - 1) / 256)
              AS BIGINT) AS file_id
  FROM z
  UNION ALL
  SELECT 'zorder' AS layout, ck, d,
         CAST(floor((row_number() OVER (ORDER BY zval, o_orderkey) - 1) / 256)
              AS BIGINT) AS file_id
  FROM z
),
files AS (
  SELECT layout, file_id,
         min(ck) AS fcklo, max(ck) AS fckhi,
         min(d) AS fdlo, max(d) AS fdhi
  FROM laid GROUP BY layout, file_id
),
preds AS (
  SELECT 'ck' AS dim, i,
         cklo + (ckhi - cklo + 1) * i / 4.0 AS plo,
         cklo + (ckhi - cklo + 1) * (i + 1) / 4.0 AS phi
  FROM range(0, 4) t(i), bounds
  UNION ALL
  SELECT 'd' AS dim, i,
         dlo + (dhi - dlo + 1) * i / 4.0 AS plo,
         dlo + (dhi - dlo + 1) * (i + 1) / 4.0 AS phi
  FROM range(0, 4) t(i), bounds
),
hits AS (
  SELECT f.layout, p.dim, p.i,
         count(*) FILTER (WHERE
           (CASE WHEN p.dim = 'ck' THEN f.fckhi ELSE f.fdhi END) >= p.plo
           AND
           (CASE WHEN p.dim = 'ck' THEN f.fcklo ELSE f.fdlo END) < p.phi
         ) AS n_scanned,
         count(*) AS n_files
  FROM files f CROSS JOIN preds p
  GROUP BY f.layout, p.dim, p.i
)
SELECT layout, dim,
       CAST(max(n_files) AS BIGINT) AS n_files,
       round(avg(n_scanned), 2) AS avg_files_scanned,
       round(1.0 - avg(n_scanned) / max(n_files), 4) AS skip_rate
FROM hits GROUP BY layout, dim
ORDER BY layout, dim
""",
    doc="data-skipping effectiveness audit: simulate 256-row files "
    "under two physical layouts — date-sorted (the ingest order) and "
    "Morton z-order over (custkey, order day), each dimension min-max "
    "normalized to 8 bits before its bits are interleaved — "
    "compute each file's min-max zone map, and replay 4 quartile "
    "range predicates per dimension against the maps.  skip_rate is "
    "THE number an OPTIMIZE ZORDER decision is made on: date-sort "
    "prunes dates perfectly and custkeys not at all; z-order trades "
    "a little of each dimension for good pruning on BOTH.  File "
    "ordinals come from the scalable range-partitioned ordinal "
    "(operators/topk.global_ordinal), never a single-reducer window; "
    "at 100 TB the same audit reads parquet footer stats instead of "
    "simulating them",
)
def layout_file_skipping_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import interleave_bits
    from ..operators.topk import global_ordinal

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1992-01-01").cast("date")
        ).alias("d"),
    )
    bounds = base.agg(
        F.min("ck").alias("cklo"),
        F.max("ck").alias("ckhi"),
        F.min("d").alias("dlo"),
        F.max("d").alias("dhi"),
    )
    scaled = base.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        "ck",
        "d",
        F.floor(
            (F.col("ck") - F.col("cklo"))
            * 255.0
            / (F.col("ckhi") - F.col("cklo"))
        )
        .cast("long")
        .alias("cks"),
        F.floor(
            (F.col("d") - F.col("dlo")) * 255.0 / (F.col("dhi") - F.col("dlo"))
        )
        .cast("long")
        .alias("ds"),
    )
    z = scaled.select(
        "o_orderkey",
        "ck",
        "d",
        interleave_bits(F.col("cks"), F.col("ds"), bits=8).alias("zval"),
    ).localCheckpoint(eager=False)

    def files_for(sort_cols, layout: str) -> DataFrame:
        # aggregate to zone maps BEFORE the union: the cross-layout
        # union carries n_files rows, never 2x the fact table
        ranked, _n = global_ordinal(z, sort_cols, out_col="__pos")
        return (
            ranked.withColumn(
                "file_id",
                F.floor((F.col("__pos") - 1) / 256).cast("long"),
            )
            .groupBy("file_id")
            .agg(
                F.min("ck").alias("fcklo"),
                F.max("ck").alias("fckhi"),
                F.min("d").alias("fdlo"),
                F.max("d").alias("fdhi"),
            )
            .select(F.lit(layout).alias("layout"), "*")
        )

    files = files_for([F.col("d"), F.col("o_orderkey")], "date").unionByName(
        files_for([F.col("zval"), F.col("o_orderkey")], "zorder")
    )
    idx = spark.range(4).select(F.col("id").cast("int").alias("i"))
    preds = (
        idx.crossJoin(F.broadcast(bounds))
        .select(
            F.lit("ck").alias("dim"),
            "i",
            (
                F.col("cklo")
                + (F.col("ckhi") - F.col("cklo") + 1) * F.col("i") / 4.0
            ).alias("plo"),
            (
                F.col("cklo")
                + (F.col("ckhi") - F.col("cklo") + 1) * (F.col("i") + 1) / 4.0
            ).alias("phi"),
        )
        .unionByName(
            idx.crossJoin(F.broadcast(bounds)).select(
                F.lit("d").alias("dim"),
                "i",
                (
                    F.col("dlo")
                    + (F.col("dhi") - F.col("dlo") + 1) * F.col("i") / 4.0
                ).alias("plo"),
                (
                    F.col("dlo")
                    + (F.col("dhi") - F.col("dlo") + 1)
                    * (F.col("i") + 1)
                    / 4.0
                ).alias("phi"),
            )
        )
    )
    # bounded fan-out: 8 predicate rows x n_files zone maps
    hits = (
        files.crossJoin(F.broadcast(preds))
        .groupBy("layout", "dim", "i")
        .agg(
            F.count(
                F.when(
                    (
                        F.when(F.col("dim") == "ck", F.col("fckhi")).otherwise(
                            F.col("fdhi")
                        )
                        >= F.col("plo")
                    )
                    & (
                        F.when(F.col("dim") == "ck", F.col("fcklo")).otherwise(
                            F.col("fdlo")
                        )
                        < F.col("phi")
                    ),
                    1,
                )
            ).alias("n_scanned"),
            F.count(F.lit(1)).alias("n_files"),
        )
    )
    return (
        hits.groupBy("layout", "dim")
        .agg(
            F.max("n_files").cast("long").alias("n_files"),
            F.round(F.avg("n_scanned"), 2).alias("avg_files_scanned"),
            F.round(
                1.0 - F.avg("n_scanned") / F.max("n_files"), 4
            ).alias("skip_rate"),
        )
        .orderBy("layout", "dim")
    )


@register(
    "ml_data_mixing_temperature",
    oracle="""
WITH tok AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS total FROM tok),
p AS (
  SELECT source, n_tokens, n_tokens * 1.0 / total AS nat
  FROM tok, tot
),
grid AS (
  SELECT alpha, source, n_tokens, nat, pow(nat, alpha) AS w_raw
  FROM p,
       (SELECT CAST(unnest([1.0, 0.7, 0.5, 0.3]) AS DOUBLE) AS alpha)
),
norm AS (
  SELECT alpha, source, n_tokens, nat,
         w_raw / sum(w_raw) OVER (PARTITION BY alpha) AS tshare
  FROM grid
)
SELECT alpha, source, n_tokens,
       round(nat, 6) AS natural_share,
       round(tshare, 6) AS temp_share,
       round(tshare / nat, 6) AS oversample_factor
FROM norm ORDER BY alpha, source
""",
    doc="temperature-scaled source mixing (the standard multilingual / "
    "multi-source blend rule: p_i^alpha renormalized, alpha in "
    "{1.0, 0.7, 0.5, 0.3}): per (alpha, source), the natural token "
    "share, the temperature share, and the oversampling factor the "
    "sampler must apply.  Complements ml_domain_reweight (DoReMi "
    "uniform target) and ml_mixture_sample (hash-band keep rates) — "
    "temperature is the knob used when you want to UPWEIGHT tails "
    "without flattening the head entirely.  One scan, one tiny "
    "4-alpha domain frame, window-normalized per alpha",
)
def ml_data_mixing_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("long")
        .alias("n_tokens")
    )
    tot = tok.agg(F.sum("n_tokens").alias("total"))
    p = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (F.col("n_tokens") * 1.0 / F.col("total")).alias("nat"),
    )
    alphas = spark.createDataFrame(
        [(1.0,), (0.7,), (0.5,), (0.3,)], "alpha double"
    )
    grid = p.crossJoin(F.broadcast(alphas)).withColumn(
        "w_raw", F.pow(F.col("nat"), F.col("alpha"))
    )
    w = Window.partitionBy("alpha")
    return (
        grid.withColumn("tshare", F.col("w_raw") / F.sum("w_raw").over(w))
        .select(
            "alpha",
            "source",
            "n_tokens",
            F.round("nat", 6).alias("natural_share"),
            F.round("tshare", 6).alias("temp_share"),
            F.round(F.col("tshare") / F.col("nat"), 6).alias(
                "oversample_factor"
            ),
        )
        .orderBy("alpha", "source")
    )


@register(
    "text_stopword_discovery_df",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(
           string_split_regex(lower(trim(text)), '\\s+'))) AS tok
  FROM documents
),
n AS (SELECT count(*) AS n_docs FROM documents),
d AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok)
SELECT tok, CAST(df AS BIGINT) AS df,
       round(df * 1.0 / n_docs, 6) AS df_frac,
       CAST(CASE WHEN df * 1.0 / n_docs >= 0.5 THEN 1 ELSE 0 END
            AS INTEGER) AS is_stopword
FROM d, n
ORDER BY df DESC, tok
LIMIT 20
""",
    doc="corpus-adaptive stopword discovery by document frequency: the "
    "token-grain boilerplate detector — a token present in >= 50% of "
    "documents carries no retrieval/quality signal and every "
    "df-capped operator here (posting-list joins, TF-IDF, BM25) "
    "implicitly depends on knowing these.  Static stopword lists "
    "(text_lang_id_stopword) assume the corpus's language mix; this "
    "derives the list from the data itself, the way production "
    "pipelines re-derive it per crawl snapshot.  One distinct-"
    "explode + groupBy on the token, top-20 by (df desc, token) with "
    "a total tiebreak",
)
def text_stopword_discovery_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
        ).alias("tok"),
    )
    n_frame = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    d = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        d.crossJoin(F.broadcast(n_frame))
        .select(
            "tok",
            F.col("df").cast("long").alias("df"),
            F.round(F.col("df") * 1.0 / F.col("n_docs"), 6).alias("df_frac"),
            F.when(F.col("df") * 1.0 / F.col("n_docs") >= 0.5, 1)
            .otherwise(0)
            .cast("int")
            .alias("is_stopword"),
        )
        .orderBy(F.desc("df"), "tok")
        .limit(20)
    )


@register(
    "cep_repeat_bursts",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch(ts) AS sec,
         lag(event_type) OVER w AS ptype,
         epoch(ts) - lag(epoch(ts)) OVER w AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
brk AS (
  SELECT user_id, event_id, sec,
         CASE WHEN event_type = ptype AND gap <= 7200.0 THEN 0 ELSE 1 END
           AS b
  FROM e
),
runs AS (
  SELECT user_id,
         sum(b) OVER (PARTITION BY user_id ORDER BY sec, event_id
                      ROWS UNBOUNDED PRECEDING) AS run_id
  FROM brk
),
rlen AS (
  SELECT user_id, run_id, count(*) AS n
  FROM runs GROUP BY user_id, run_id
)
SELECT CAST(count(*) FILTER (WHERE n >= 2) AS BIGINT) AS n_bursts_len2,
       CAST(count(*) FILTER (WHERE n >= 3) AS BIGINT) AS n_bursts_len3,
       CAST(count(DISTINCT user_id) FILTER (WHERE n >= 2) AS BIGINT)
         AS n_users_bursting,
       CAST(coalesce(max(n), 0) AS BIGINT) AS max_run_len,
       round(coalesce(avg(n) FILTER (WHERE n >= 2), 0.0), 4)
         AS avg_burst_len
FROM rlen
""",
    doc="CEP repeat-burst detection (rage clicks / retry storms): "
    "maximal runs of CONSECUTIVE same-type events per user with "
    "inter-event gap <= 2h, via the gaps-and-islands break-flag "
    "cumulative sum — the pattern a MATCH_RECOGNIZE "
    "(A B+ within interval) engine compiles to, expressed as two "
    "user-keyed windows (no sequential scan, no cross join).  "
    "Summary row: bursts of length >= 2 / >= 3, bursting users, max "
    "and mean run length.  Gap uses fractional epoch seconds on both "
    "engines so microsecond timestamps compare identically",
)
def cep_repeat_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    e = events.select(
        "user_id",
        "event_id",
        "event_type",
        sec.alias("sec"),
        F.lag("event_type").over(w).alias("ptype"),
        (sec - F.lag(sec).over(w)).alias("gap"),
    )
    brk = e.select(
        "user_id",
        "event_id",
        "sec",
        F.when(
            (F.col("event_type") == F.col("ptype")) & (F.col("gap") <= 7200.0),
            0,
        )
        .otherwise(1)
        .alias("b"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rlen = (
        brk.withColumn("run_id", F.sum("b").over(wrun))
        .groupBy("user_id", "run_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return rlen.agg(
        F.count(F.when(F.col("n") >= 2, 1)).cast("long").alias(
            "n_bursts_len2"
        ),
        F.count(F.when(F.col("n") >= 3, 1)).cast("long").alias(
            "n_bursts_len3"
        ),
        F.countDistinct(F.when(F.col("n") >= 2, F.col("user_id")))
        .cast("long")
        .alias("n_users_bursting"),
        F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("max_run_len"),
        F.round(
            F.coalesce(F.avg(F.when(F.col("n") >= 2, F.col("n"))), F.lit(0.0)),
            4,
        ).alias("avg_burst_len"),
    )


@register(
    "ml_curriculum_quality_phases",
    oracle="""
WITH scored AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
           / length(text) AS score
  FROM documents WHERE length(text) > 0
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY score DESC, doc_id) AS pos,
         count(*) OVER () AS n
  FROM scored
),
phased AS (
  SELECT *, CAST(floor((pos - 1) * 3 / n) + 1 AS INTEGER) AS phase
  FROM ranked
)
SELECT phase,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(avg(score), 6) AS avg_score,
       round(min(score), 6) AS min_score,
       round(max(score), 6) AS max_score
FROM phased GROUP BY phase ORDER BY phase
""",
    doc="quality-curriculum phase assignment: documents ranked by a "
    "deterministic quality proxy (alpha-character fraction — the "
    "cheapest of the Gopher-style signals, computed identically in "
    "both engines) and split into 3 equal curriculum phases by the "
    "arithmetic bucket floor((pos-1)*3/n)+1 — NOT ntile(), whose "
    "remainder placement would have to be trusted to match across "
    "engines; the formula is engine-neutral.  Per phase: doc and "
    "token budgets and the score band — what a curriculum scheduler "
    "feeds its data loader.  Ranking is the range-partitioned "
    "scalable ordinal, not a single-reducer window",
)
def ml_curriculum_quality_phases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.topk import global_ordinal

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.filter(F.length("text") > 0).select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        (
            F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
            * 1.0
            / F.length("text")
        ).alias("score"),
    )
    ranked, n = global_ordinal(
        scored, [F.desc("score"), F.col("doc_id")], out_col="pos"
    )
    phased = ranked.withColumn(
        "phase",
        (F.floor((F.col("pos") - 1) * 3 / F.lit(n)) + 1).cast("int"),
    )
    return (
        phased.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.avg("score"), 6).alias("avg_score"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
        .orderBy("phase")
    )


@register(
    "emb_lsh_bucket_skew_audit",
    oracle="""
WITH b AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(range(0, 8), i ->
           CASE WHEN embedding[i + 1] > 0 THEN 1 << i ELSE 0 END))
           AS BIGINT) AS bucket
  FROM embeddings
),
sizes AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket)
SELECT CAST(sum(cnt) AS BIGINT) AS n_vectors,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(cnt) AS BIGINT) AS max_bucket,
       round(sum(cnt) * 1.0 / count(*), 4) AS avg_bucket,
       round(quantile_cont(cnt, 0.5), 4) AS p50_bucket,
       round(quantile_cont(cnt, 0.9), 4) AS p90_bucket,
       round(max(cnt) * 1.0 / (sum(cnt) * 1.0 / count(*)), 4)
         AS max_over_avg
FROM sizes
""",
    doc="bucket-occupancy skew audit for 8-bit axis-aligned sign-LSH "
    "(bit i = embedding[i] > 0 — the oracle-replicable plane family "
    "dedup_embedding_cosine established): occupied buckets, max/avg/"
    "p50/p90 sizes, and the max-over-avg hot-bucket factor.  This is "
    "the load-balance diagnostic behind every cap_hot_buckets "
    "threshold in the dedup/similarity family — banded join cost is "
    "sum(bucket^2), so the skew factor, not the mean, predicts the "
    "straggler.  One narrow groupBy on an 8-bit key, then a "
    "single-row combine",
)
def emb_lsh_bucket_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bit = F.lit(0).cast("long")
    for i in range(8):
        bit = bit + F.when(
            F.col("embedding")[i] > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    sizes = (
        emb.select(bit.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return sizes.agg(
        F.sum("cnt").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("cnt").cast("long").alias("max_bucket"),
        F.round(F.sum("cnt") * 1.0 / F.count(F.lit(1)), 4).alias(
            "avg_bucket"
        ),
        F.round(F.expr("percentile(cnt, 0.5)"), 4).alias("p50_bucket"),
        F.round(F.expr("percentile(cnt, 0.9)"), 4).alias("p90_bucket"),
        F.round(
            F.max("cnt") * 1.0 / (F.sum("cnt") * 1.0 / F.count(F.lit(1))), 4
        ).alias("max_over_avg"),
    )
