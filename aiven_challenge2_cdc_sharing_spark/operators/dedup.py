"""Deduplication operators for training-data pipelines.

Scale design (the point at 100 TB):
- exact dedup is a hash groupBy — one shuffle on the dedup key; for
  long texts we group on a 128-bit fingerprint (md5) instead of the
  text itself so the shuffle moves 16 bytes/row, not documents.
- MinHash+LSH near-dup: per-row signature (narrow, no shuffle), band
  into b buckets, shuffle ONLY (band_id, band_hash) — candidate pairs
  come from a self-join per bucket, so cost is sum(bucket^2), not N^2.
- verification (exact shingle Jaccard) runs only on candidate pairs.
- SimHash: 64-bit signature via per-token hashes; near-dups share
  signatures within small Hamming distance.

All JVM-side: higher-order array functions + xxhash64, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tokens(col: Column) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) from a text column.

    Built as ``zip_with`` over ``n`` shifted slices of the token array
    rather than per-element ``element_at`` lookups: Catalyst re-inlines
    expression arguments into every use site inside HOF lambdas (no
    CSE there), so the element_at form re-evaluated the upstream
    ``split()`` once per shingle PER TERM (~3 x shingle-count regex
    splits per row — measured 10s for 5000 docs at sf0.1); the slice
    form references ``col`` exactly ``n`` times per row (measured
    0.9s).  ``concat_ws`` skips the nulls zip_with pads short docs
    with, which preserves the short-document shingles byte-for-byte
    (the md5-MinHash oracle pins this).

    Callers should still pass a materialized column reference (see
    ``with_shingles``) so even those n references share one split.
    """
    length = F.greatest(F.size(col) - (n - 1), F.lit(1))
    zipped = F.slice(col, 1, length)
    for j in range(1, n):
        zipped = F.zip_with(
            zipped,
            F.slice(col, j + 1, length),
            lambda acc, nxt: F.concat_ws(" ", acc, nxt),
        )
    return F.array_distinct(zipped)


def with_shingles(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Append the ``__sh`` shingle-array column, materializing the token array
    first so the expensive split() is evaluated once per row.  The
    intermediate alias is referenced many times, which stops
    CollapseProject from re-inlining it."""
    return (
        df.withColumn("__tok", tokens(F.col(text_col)))
        .withColumn("__sh", shingles(F.col("__tok"), n))
        .drop("__tok")
    )


def exact_dedup_by_fingerprint(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Deterministic-survivor exact dedup: group by md5(text) — the
    shuffle key is 16 bytes regardless of document size — keep min id."""
    return (
        df.withColumn("__fp", F.md5(F.col(text_col)))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__fp")
    )


def minhash_signature(df: DataFrame, text_col: str, num_hashes: int = 16) -> DataFrame:
    """Append ``minhash`` (array<bigint> of length num_hashes) over word
    3-shingles.

    h_i(S) = min over shingles of xxhash64(i, shingle) — the standard
    salted-hash-family MinHash; computed per-row, fully parallel.

    One pass over the shingle array per row: hash each shingle once to
    a base value, then derive the i-th family member by re-hashing the
    base with the salt (cheap long op), instead of hashing the full
    string num_hashes times.

    The signature is ONE ``aggregate`` over the base-hash array
    carrying a running-min array (per base hash: zip_with against the
    salt sequence).  The outer-loop formulation —
    ``transform(sequence(0..k-1), i -> array_min(transform(__hb, ...)))``
    — references ``__hb`` exactly once, so CollapseProject re-inlines
    the whole shingle+hash pipeline INSIDE the k-iteration lambda and
    the shingles are recomputed k times per row (measured 5.6s -> 0.6s
    for 5000 sf0.1 docs at k=16; same inlining hazard the ``shingles``
    docstring documents).  Values are identical: the loops are merely
    interchanged (min over h of xxhash64(h, i) per i)."""
    with_sh = with_shingles(df, text_col)
    base = F.transform(F.col("__sh"), lambda s: F.xxhash64(s))
    with_base = with_sh.withColumn("__hb", base).drop("__sh")
    long_max = (1 << 63) - 1
    sig = F.expr(
        f"aggregate(__hb, "
        f"array_repeat(cast({long_max} as bigint), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), "
        "(a, i) -> least(a, xxhash64(h, cast(i as int)))))"
    )
    return with_base.withColumn("minhash", sig).drop("__hb")


def cap_hot_buckets(
    banded: DataFrame, bucket_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """Drop rows belonging to buckets larger than ``max_bucket_size``.

    The guard every banded-LSH self-join needs at scale: join cost is
    sum(bucket^2), so one degenerate bucket (empty docs, boilerplate)
    of 10M rows is 10^14 pairs.  Standard practice is to drop (or
    sub-split) oversized buckets — members of a giant bucket are
    near-identical to huge cohorts and get linked through smaller
    buckets or exact dedup anyway.  The count is a window over the same
    key the self-join shuffles on, so the filter rides the shuffle the
    join needs — no extra exchange."""
    w = Window.partitionBy(*bucket_cols)
    return (
        banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


def lsh_candidate_pairs(
    signed: DataFrame,
    id_col: str,
    bands: int = 4,
    num_hashes: int = 16,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Band the signature and emit candidate pairs (a < b) that collide
    in >=1 band.  Shuffle carries only (band_idx, band_hash, id).

    ``num_hashes`` must match the signature length and divide evenly
    into ``bands`` — a fractional band width silently skews collision
    probability, so fail loudly instead.  Buckets larger than
    ``max_bucket_size`` are dropped before the self-join (see
    ``cap_hot_buckets``)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}; "
            "band slices would overlap/drop trailing hashes"
        )
    width = num_hashes // bands
    banded = signed.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            F.slice("minhash", b * width + 1, width)
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("__id", "band.band_idx", "band.band_hash")
    if max_bucket_size is not None:
        banded = cap_hot_buckets(banded, ["band_idx", "band_hash"], max_bucket_size)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (the verify step).

    PAIR-GRAIN formulation (round-11 verdict task 2): join each
    candidate pair to the corpus's (id, shingle-array) table on id_a
    and id_b, then intersect the two arrays ON the pair row —
    ``array_intersect`` is an O(|A|+|B|) hash probe per pair, fully
    JVM-side, and |A∩B| = its size because per-doc shingles are
    distinct.  J = ov / (|A|+|B|-ov).

    Why pair grain and not the posting-count form (its reference
    implementation lives in the tests): the posting form joins an exploded
    (id, size, shingle) token list to BOTH pair sides — its
    intermediate is one row per pair per matching token, then a
    pair-key groupBy over all of it.  At the round-11 stress point
    (500k docs, 6.2M candidate pairs, ~50 shared tokens each) that is
    ~300M skinny rows through a sort-merge join + aggregate — measured
    deep in the single-node spill regime (~360 s verify wall,
    insensitive to partition count; SCALING.md round 11).  The pair
    grain moves one row per PAIR (6.2M fat rows carrying two bounded
    arrays), no token explosion and no post-join aggregate at all —
    shuffle volume is bounded by candidate count x document shingle
    size, and candidates were measured exactly linear in corpus size.
    Round-12 SAME-RUN twin on identical disjoint-replica corpora and
    an identical checkpointed candidate set (bit-identical outputs,
    25,562 pairs at the top point): verify-stage wall 5.9 s -> 2.6 s
    at N=50k docs, 68.8 s -> 8.4 s (8.2x) at N=500k — the posting
    form's token-grain intermediate is what fell away.  Full-query
    stress (tools/stress_pairjoins.py 10,100): wall exponent 1.28 ->
    0.93 for dedup_minhash_near_pairs, i.e. the verify stage no
    longer adds a superlinear spill term on one node.

    The shingle-array build is NOT checkpointed: both join sides share
    the one projection lineage, and a round-2 measurement showed fat
    arrays in the block manager cost more than recompute (5.5s ->
    6.4s — skinny posting rows checkpointed well, fat arrays do not).

    A candidate pair with ZERO shingle overlap emits no row (filtered
    before the division) — below any useful threshold by
    construction, and every caller filters on one."""
    sh = with_shingles(df, text_col)
    arrs = sh.select(F.col(id_col).alias("__jid"), "__sh")
    a = arrs.select(F.col("__jid").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = arrs.select(F.col("__jid").alias("id_b"), F.col("__sh").alias("__sh_b"))
    scored = (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("__sh_a").alias("__sz_a"),
            F.size("__sh_b").alias("__sz_b"),
            F.size(F.array_intersect("__sh_a", "__sh_b")).alias("__ov"),
        )
        .filter(F.col("__ov") > 0)
    )
    jac = F.col("__ov").cast("double") / (
        F.col("__sz_a") + F.col("__sz_b") - F.col("__ov")
    )
    return scored.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def _simhash_from_hashes(bits: int) -> tuple[Column, Column]:
    """(votes, signature) expressions over a ``__th`` token-hash array.

    ONE ``aggregate`` pass carrying an array of ``bits`` vote counters
    (per token: zip_with against the bit sequence), then a second tiny
    aggregate folds the vote signs into the signature long.  The
    obvious per-bit formulation — ``bits`` separate ``aggregate`` calls
    chained with bitwiseOR — re-scans the token array once per bit and
    builds an expression tree large enough to defeat whole-stage
    codegen: measured 1.79s -> 0.19s for 5000 sf0.1 docs (~10x),
    bit-identical output.  SQL-expr form because ``shiftright`` needs a
    column shift amount inside the lambda, which the Python API
    restricts to int literals."""
    last = bits - 1
    votes = F.expr(
        f"aggregate(__th, array_repeat(0, {bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {last}), "
        "(a, b) -> a + (CASE WHEN (shiftright(h, CAST(b AS INT)) & 1) = 1 "
        "THEN 1 ELSE -1 END)))"
    )
    sig = F.expr(
        f"aggregate(zip_with(__votes, sequence(0, {last}), "
        "(v, b) -> CASE WHEN v > 0 "
        "THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc | x)"
    )
    return votes, sig


def simhash64(df: DataFrame, text_col: str) -> DataFrame:
    """Append ``simhash``, a 64-bit SimHash from token hashes: for each
    bit b, sum +/-1 votes over tokens; set bit where the vote is positive.  Single-pass
    vote-array formulation (see ``_simhash_from_hashes``)."""
    hashed = df.withColumn(
        "__th",
        F.transform(
            F.array_distinct(tokens(F.col(text_col))), lambda t: F.xxhash64(t)
        ),
    )
    votes, sig = _simhash_from_hashes(64)
    return (
        hashed.withColumn("__votes", votes)
        .withColumn("simhash", sig)
        .drop("__th", "__votes")
    )


SIMHASH_MD5_BITS = 60  # 15 hex chars of md5 -> fits BIGINT with headroom


def simhash_md5(df: DataFrame, text_col: str) -> DataFrame:
    """Cross-engine ``simhash``: token hash = first 15 hex chars of
    md5(token) parsed base-16 (60 usable bits).  DuckDB computes the
    identical value via CAST(concat('0x', substr(md5(t),1,15)) AS
    BIGINT), so the signature — and the banded Hamming near-pair join
    built on it — sits under the exact oracle gate.  ``simhash64``
    (xxhash64-based) remains the fast production path; this is its
    verifiable twin, same shape as minhash vs md5-minhash."""
    hashed = df.withColumn(
        "__th",
        F.transform(
            F.array_distinct(tokens(F.col(text_col))),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        ),
    )
    votes, sig = _simhash_from_hashes(SIMHASH_MD5_BITS)
    return (
        hashed.withColumn("__votes", votes)
        .withColumn("simhash", sig)
        .drop("__th", "__votes")
    )


def simhash_near_pairs(
    sigs: DataFrame,
    id_col: str,
    max_hamming: int = 10,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs from ``simhash`` signatures: band the signature into
    4 contiguous 15-bit slices, bucket-join on any
    equal band (pigeonhole: Hamming < 4 ⇒ some band matches, so
    recall is exact for distance < 4 and approximate above), then
    verify bit_count(a XOR b) <= max_hamming on candidates only.

    Scale shape mirrors lsh_candidate_pairs: shuffle carries
    (band_idx, band_val, id) longs — never documents — cost is
    sum(bucket²) with the same hot-bucket cap."""
    bands, band_bits = 4, 15
    banded = sigs.select(
        F.col(id_col).alias("__id"),
        F.col("simhash").alias("__sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("__id", "__sig", "band.band_idx", "band.band_val")
    if max_bucket_size is not None:
        banded = cap_hot_buckets(banded, ["band_idx", "band_val"], max_bucket_size)
    left = banded.alias("l")
    right = banded.alias("r")
    hamming = F.bit_count(F.col("l.__sig").bitwiseXOR(F.col("r.__sig")))
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _shingle_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_shingle_df: int | None,
) -> DataFrame:
    """Materialized (id, set-size, shingle) posting list shared by the
    exact set-similarity joins (Jaccard + containment).

    With ``max_shingle_df``, hot-shingle exclusion is a per-ROW
    ``array_except`` against the (tiny, by construction) hot set folded
    into one broadcast row: sizes are then just ``size()`` of the
    filtered array, so the whole posting-list build is a single map
    pass.  (An earlier formulation anti-joined the exploded stream and
    re-aggregated per-doc sizes — a full posting-list shuffle the
    broadcast form never pays.)  The localCheckpoint materializes the
    list once for both sides of the self-join — at scale this is the
    persisted posting list an index build would keep anyway."""
    sh = with_shingles(df.select(id_col, text_col), text_col)
    if max_shingle_df is not None:
        ex_all = sh.select(F.col(id_col), F.explode("__sh").alias("__tok"))
        hot_row = (
            ex_all.groupBy("__tok")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .agg(F.collect_list("__tok").alias("__hot"))
        )
        ex0 = (
            sh.join(F.broadcast(hot_row))
            .withColumn("__sh2", F.array_except("__sh", "__hot"))
            .select(
                F.col(id_col),
                F.size("__sh2").alias("__sz"),
                F.explode("__sh2").alias("__tok"),
            )
        )
    else:
        # uncapped: the array size IS the set size — no extra job
        ex0 = (
            sh.select(
                F.col(id_col),
                F.size("__sh").alias("__sz"),
                F.explode("__sh").alias("__tok"),
            )
        )
    return ex0.localCheckpoint()


def jaccard_threshold_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard similarity self-join at ``threshold``
    (the V-SMART-Join / set-similarity-join count formulation, with
    the All-Pairs size filter).

    MinHash+LSH (above) is the probabilistic path: cheap, but with
    false negatives.  This is the exact path that stays sub-quadratic
    AND never shuffles a document or a shingle array to a pair row:

    1. explode each doc's DISTINCT shingle set to (id, size, shingle);
    2. self-join on shingle with ``id_a < id_b`` and the size filter
       (J >= t forces t*|A| <= |B| <= |A|/t) — join volume is
       sum(df(shingle)^2), not N^2;
    3. count rows per (id_a, id_b): because shingles are distinct per
       doc, the count IS |A∩B|, and J = ov / (|A|+|B|-ov) exactly.

    Everything after the scan moves (long, long, int) tuples only —
    no verify-stage rejoin of the full sets (measured 3.5x faster
    than candidate-pairs + array_intersect verify at sf0.1, where the
    array rejoin shipped ~1 GB of shingle arrays).  The degenerate
    case is a boilerplate shingle shared by M docs (M^2 join rows) —
    the same hazard class as LSH hot buckets.

    ``max_shingle_df`` is the guard: shingles whose document frequency
    exceeds the cap are dropped from the shingle UNIVERSE before the
    join (set sizes are recomputed over the surviving shingles, so the
    Jaccard stays internally consistent).  This is a deterministic,
    oracle-replicable semantic — a boilerplate header shared by M docs
    contributes M^2 join rows uncapped, 0 capped — and it is also what
    you want linguistically: a shingle in >cap documents carries no
    dedup signal (it is the stop-phrase of shingle space).  The hot-df
    set is tiny by construction (few distinct shingles can exceed a
    large df), so the exclusion is a broadcast anti-join; the df
    aggregation is one map-side-combining pass over the posting list
    the join scans anyway.  ``None`` keeps the exact uncapped
    semantics (and skips both extra jobs).

    PPJoin-style PREFIX filtering (index only each doc's first
    |A| - ceil(t|A|) + 1 sorted shingles for candidate generation,
    then verify) was prototyped and REJECTED on measurement: at sf0.1
    with the df-cap active it is ~2x SLOWER warm (2.96s -> 6.09s) —
    the split into candidate-distinct + verify joins adds two shuffles
    and a barrier, while the df-cap has already removed exactly the
    high-frequency postings whose df^2 cost prefix filtering exists to
    avoid.  At a scale where sum(df^2) of MID-frequency shingles
    dominates the extra shuffles, the two-pass form wins; revisit then
    (both variants verified output-identical, including under the
    hypothesis property suite).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    6 dp AFTER the threshold filter on the unrounded value.
    """
    ex = _shingle_postings(df, id_col, text_col, max_shingle_df)
    a = ex.select(
        F.col(id_col).alias("id_a"),
        F.col("__sz").alias("__sz_a"),
        "__tok",
    )
    b = ex.select(
        F.col(id_col).alias("id_b"),
        F.col("__sz").alias("__sz_b"),
        "__tok",
    )
    ov = (
        a.join(b, "__tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size filter: |B| in [t|A|, |A|/t] is necessary for J >= t
            & (F.col("__sz_b") >= F.lit(threshold) * F.col("__sz_a"))
            & (F.col("__sz_b") * F.lit(threshold) <= F.col("__sz_a"))
        )
        .groupBy("id_a", "id_b", "__sz_a", "__sz_b")
        .agg(F.count(F.lit(1)).alias("__ov"))
    )
    jac = F.col("__ov").cast("double") / (
        F.col("__sz_a") + F.col("__sz_b") - F.col("__ov")
    )
    return (
        ov.withColumn("__j", jac)
        .filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))
    )


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """DIRECTIONAL shingle containment C(A→B) = |A∩B| / |A| at
    ``threshold`` — the partial-duplicate / doc-inside-doc detector
    that Jaccard structurally misses: a paragraph quoted whole inside
    a 50x longer page has Jaccard ~0.02 but containment ~1.0.
    Training pipelines use it to catch boilerplate-wrapped reposts and
    quote-expansion dupes that survive symmetric dedup.

    Same count formulation and posting-list shape as
    ``jaccard_threshold_join`` (the two share ``_shingle_postings``),
    but the pair predicate is ``id_a != id_b`` (direction matters) and
    the only admissible size filter is one-sided: C >= t and
    |A∩B| <= |B| force |B| >= t*|A| — there is no upper bound on |B|
    because a tiny doc may be contained in an arbitrarily large one.
    Join volume is still sum(df(shingle)^2), never N^2, and the
    ``max_shingle_df`` cap applies identically.

    Returns (id_a, id_b, containment): id_a's shingle set is covered
    by id_b at >= threshold; containment rounded to 6 dp AFTER the
    threshold filter on the unrounded value.
    """
    ex = _shingle_postings(df, id_col, text_col, max_shingle_df)
    a = ex.select(
        F.col(id_col).alias("id_a"),
        F.col("__sz").alias("__sz_a"),
        "__tok",
    )
    b = ex.select(
        F.col(id_col).alias("id_b"),
        F.col("__sz").alias("__sz_b"),
        "__tok",
    )
    ov = (
        a.join(b, "__tok")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            # one-sided size filter: C >= t forces |B| >= t|A|
            & (F.col("__sz_b") >= F.lit(threshold) * F.col("__sz_a"))
        )
        .groupBy("id_a", "id_b", "__sz_a")
        .agg(F.count(F.lit(1)).alias("__ov"))
    )
    cont = F.col("__ov").cast("double") / F.col("__sz_a")
    return (
        ov.withColumn("__c", cont)
        .filter(F.col("__c") >= threshold)
        .select("id_a", "id_b", F.round("__c", 6).alias("containment"))
    )


def semantic_dedup_pairs(
    vectors: DataFrame,
    threshold: float = 0.40,
    n_clusters: int = 16,
    iters: int = 2,
    max_cluster_size: int | None = 10_000,
) -> DataFrame:
    """Semantic near-dup pairs over an embedding column — the SemDeDup
    formulation (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    the ``embedding`` vectors (ids ``vec_id``), then enumerate pairs
    ONLY within a cluster and keep those with cosine >= ``threshold``.  This is the seventh dedup
    modality: where `dedup_embedding_cosine` buckets by fixed sign-bit
    hyperplanes (data-independent LSH), this one learns the partition
    from the data — clusters adapt to the embedding distribution, so
    for the same candidate budget the pair recall concentrates where
    the semantic mass actually is.

    Scale shape: the k-means build is `train_ivf_centroids` (the IVF
    coarse quantizer — deterministic init, broadcast argmin assignment,
    (cluster, dim, partial-sum) update shuffles; vectors never shuffle
    during training).  The pair join shuffles each vector ONCE on its
    cluster id; join volume is sum(cluster_size^2), never N^2.
    ``max_cluster_size`` hard-bounds the quadratic term exactly like
    LSH hot-bucket caps: a degenerate cluster (k too small for N, or a
    collapsed centroid) is truncated deterministically by id.  At 100
    TB you would raise n_clusters so N/k stays ~10^4 (SemDeDup used
    k=50k for 5B embeddings) and persist the trained centroids as an
    index artifact; both knobs are this function's parameters.

    Norms are computed once per vector BEFORE the self-join (the pair
    row then does one dot product + one divide; re-deriving norms
    per-pair would square that work).

    Returns (id_a, id_b, sim) with id_a < id_b, sim rounded to 6 dp,
    filtered on the rounded value (keeps the cross-engine oracle
    representation-stable).
    """
    from .similarity import _assign, _dot, _norm, train_ivf_centroids

    vecs = vectors.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("__e")
    )
    cents = train_ivf_centroids(
        vecs,
        n_clusters,
        iters=iters,
        id_col="vec_id",
        vec_col="__e",
    ).localCheckpoint(eager=False)
    assigned = _assign(vecs, cents, "__e", "__cluster", n_clusters).withColumn(
        "__n", _norm(F.col("__e"))
    )
    if max_cluster_size is not None:
        # truncate, don't drop: an oversized cluster still contributes
        # its first max_cluster_size members (by id) — unlike the LSH
        # hot-bucket cap, which excludes the bucket wholesale, because
        # a huge semantic cluster is exactly where the duplicates are
        wc = Window.partitionBy("__cluster").orderBy("vec_id")
        assigned = (
            assigned.withColumn("__rn", F.row_number().over(wc))
            .filter(F.col("__rn") <= max_cluster_size)
            .drop("__rn")
        )
    # materialize the assignment once: both sides of the self-join
    # consume it, and without the cut each side replays the broadcast
    # argmin + norm over the full vector table (the same reason the
    # posting list in _shingle_postings checkpoints) — at scale this
    # is the persisted cluster-assignment table an index build keeps
    assigned = assigned.localCheckpoint()
    a = assigned.select(
        "__cluster",
        F.col("vec_id").alias("id_a"),
        F.col("__e").alias("__ea"),
        F.col("__n").alias("__na"),
    )
    b = assigned.select(
        "__cluster",
        F.col("vec_id").alias("id_b"),
        F.col("__e").alias("__eb"),
        F.col("__n").alias("__nb"),
    )
    sim = F.round(
        _dot(F.col("__ea"), F.col("__eb")) / (F.col("__na") * F.col("__nb")), 6
    )
    return (
        a.join(b, "__cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
