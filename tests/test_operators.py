"""Operator-level tests: salted count equivalence, pandas-UDF centroids
vs numpy, multimodal decode determinism, LSH recall floor, as-of join
reference semantics."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.functions.vector_udfs import label_centroids
from aiven_challenge2_cdc_sharing_spark.operators.dedup import (
    simhash_md5,
    simhash_near_pairs,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signature,
)
from aiven_challenge2_cdc_sharing_spark.operators.joins import asof_join
from aiven_challenge2_cdc_sharing_spark.operators.skew import salted_count
from aiven_challenge2_cdc_sharing_spark.sources.multimodal import (
    attach_fake_media,
    attach_png_media,
    decode_media_features,
    decode_png,
    decode_real_media,
    decode_wav,
    encode_png_gray,
    encode_wav_pcm16,
)
from aiven_challenge2_cdc_sharing_spark.tables import load_table


def test_salted_count_equals_groupby(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    plain = {
        (r["user_id"], r["cnt"])
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    salted = {
        (r["user_id"], r["cnt"]) for r in salted_count(events, "user_id").collect()
    }
    assert plain == salted


def test_label_centroids_match_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = {r["label"]: (r["n"], r["centroid"]) for r in label_centroids(emb).collect()}
    pdf = emb.toPandas()
    for label, grp in pdf.groupby("label"):
        mat = np.stack(grp["embedding"].apply(lambda v: np.asarray(v, np.float64)))
        n, centroid = got[int(label)]
        assert n == len(grp)
        assert np.allclose(centroid, mat.mean(axis=0), atol=1e-12)


def test_multimodal_decode_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    feats = decode_media_features(attach_fake_media(docs))
    rows = {r["doc_id"]: r for r in feats.collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    for doc_id, text in src.items():
        b = text.encode("utf-8")
        r = rows[doc_id]
        assert r["n_bytes"] == len(b)
        assert r["fake_width"] == len(b) % 640
        assert r["byte_sum_mod"] == sum(b) % 1_000_003


def test_png_encode_decode_roundtrip():
    pixels = bytes(range(12))
    png = encode_png_gray(pixels, 4, 3)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert decode_png(png) == (4, 3, sum(pixels))


def test_png_raw_pixels_roundtrip():
    from aiven_challenge2_cdc_sharing_spark.sources.multimodal import (
        decode_png_raw,
    )

    pixels = bytes((i * 37) % 256 for i in range(40))
    png = encode_png_gray(pixels, 8, 5)
    w, h, out = decode_png_raw(png)
    assert (w, h) == (8, 5)
    assert out == pixels  # exact byte-level recovery, not just the sum


def test_png_decoder_handles_all_filter_types():
    """Hand-filter scanlines with Sub/Up/Average/Paeth and check the
    decoder recovers the exact target pixels (our encoder only emits
    filter 0, so this pins the general-purpose half of the decoder)."""
    import struct
    import zlib

    target = [bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45]),
              bytes([100, 90, 80, 70]), bytes([1, 2, 3, 4]),
              bytes([200, 150, 100, 50])]
    w, h = 4, 5

    def sub(line):
        return bytes([(line[x] - (line[x - 1] if x else 0)) & 0xFF
                      for x in range(w)])

    def up(line, prev):
        return bytes([(line[x] - prev[x]) & 0xFF for x in range(w)])

    def avg(line, prev):
        return bytes([(line[x] - (((line[x - 1] if x else 0) + prev[x]) >> 1)) & 0xFF
                      for x in range(w)])

    def paeth(line, prev):
        out = []
        for x in range(w):
            a = line[x - 1] if x else 0
            b, c = prev[x], (prev[x - 1] if x else 0)
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((line[x] - pred) & 0xFF)
        return bytes(out)

    raw = b"\x00" + target[0]
    raw += b"\x01" + sub(target[1])
    raw += b"\x02" + up(target[2], target[1])
    raw += b"\x03" + avg(target[3], target[2])
    raw += b"\x04" + paeth(target[4], target[3])

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    assert decode_png(png) == (w, h, sum(sum(r) for r in target))


def test_wav_encode_decode_roundtrip():
    samples = [0, 1000, -1000, 32767, -32768, 5]
    wav = encode_wav_pcm16(samples, sample_rate=8000)
    nch, rate, nframes, amp = decode_wav(wav)
    assert (nch, rate, nframes) == (1, 8000, len(samples))
    assert amp == sum(abs(s) for s in samples) / len(samples)


def test_real_decode_spark_path(spark, sf_dir):
    """End-to-end Spark plumbing: text -> real PNG payload -> mapInPandas
    real decode; features must match a pure-Python recompute."""
    docs = load_table(spark, sf_dir, "documents").limit(25)
    feats = {
        r["doc_id"]: (r["width"], r["height"], r["pixel_sum"])
        for r in decode_real_media(attach_png_media(docs)).collect()
    }
    for r in docs.collect():
        data = r["text"].encode("utf-8")
        n = len(data)
        w, h = n % 16 + 1, n % 8 + 1
        data = data or b"\x00"
        need = w * h
        pixels = (data * (need // len(data) + 1))[:need]
        assert feats[r["doc_id"]] == (w, h, sum(pixels))


def test_real_decode_wav_spark_path(spark):
    rows = [(1, "audio/wav", encode_wav_pcm16([100, -100, 200, -200])),
            (2, "audio/wav", encode_wav_pcm16([0, 0], sample_rate=16000))]
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, payload binary"
    )
    got = {r["doc_id"]: r for r in decode_real_media(media).collect()}
    assert got[1]["sample_rate"] == 8000 and got[1]["n_frames"] == 4
    assert got[1]["amplitude_mean"] == 150.0
    assert got[2]["sample_rate"] == 16000 and got[2]["amplitude_mean"] == 0.0


def test_minhash_identical_docs_always_pair(spark):
    rows = [(1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "totally different words entirely here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    signed = minhash_signature(docs, "text")
    cands = lsh_candidate_pairs(signed, "doc_id")
    verified = jaccard_pairs(cands, docs, "doc_id", "text").collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified}
    assert pairs.get((1, 2)) == 1.0  # identical docs always collide at j=1
    assert (1, 3) not in pairs or pairs[(1, 3)] < 0.2


def test_lsh_hot_bucket_cap_bounds_pairs(spark):
    # adversarial corpus: 1000 byte-identical docs -> one degenerate LSH
    # bucket per band.  Uncapped, the self-join would emit ~C(1000,2)
    # (~500k) candidate pairs from pure boilerplate; the cap drops the
    # hot bucket so candidate volume stays bounded.
    rows = [(i, "the same boilerplate footer text appears everywhere") for i in range(1000)]
    rows += [(2000, "alpha beta gamma delta epsilon zeta"),
             (2001, "alpha beta gamma delta epsilon zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    signed = minhash_signature(docs, "text").localCheckpoint(eager=False)
    capped = lsh_candidate_pairs(signed, "doc_id", max_bucket_size=50)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the giant bucket is gone; the small genuine-dup bucket survives
    assert (2000, 2001) in got
    assert len(got) == 1
    # uncapped control on a small slice still pairs everything
    uncapped = lsh_candidate_pairs(signed, "doc_id", max_bucket_size=None)
    assert uncapped.count() >= 499_500


def test_simhash_md5_near_pairs_semantics(spark):
    # identical docs -> identical signature -> hamming 0, always found;
    # hamming <= 3 recall is exact (pigeonhole over 4 bands); unrelated
    # docs sit far apart in hamming space and never pair.
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "wholly unrelated vocabulary occupies this document body")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = simhash_md5(docs, "text").select("doc_id", "simhash")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_pairs(sigs, "doc_id", max_hamming=3).collect()}
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_near_pairs_hot_bucket_cap(spark):
    # same adversarial shape as the minhash cap test: a giant cohort of
    # byte-identical docs must not explode the band self-join.
    rows = [(i, "the same boilerplate footer text appears everywhere")
            for i in range(1000)]
    rows += [(2000, "alpha beta gamma delta epsilon zeta"),
             (2001, "alpha beta gamma delta epsilon zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = simhash_md5(docs, "text").select("doc_id", "simhash").localCheckpoint(
        eager=False
    )
    capped = simhash_near_pairs(sigs, "doc_id", max_bucket_size=50)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (2000, 2001) in got
    assert len(got) == 1


def test_lsh_bands_must_divide_num_hashes(spark):
    import pytest

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    signed = minhash_signature(docs, "text", num_hashes=10)
    with pytest.raises(ValueError, match="not divisible"):
        lsh_candidate_pairs(signed, "doc_id", bands=4, num_hashes=10)


def test_asof_join_matches_reference_semantics(spark):
    trades = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 101.0), (2, 15, 50.0), (3, 5, 7.0)],
        "uid long, t long, px double",
    )
    quotes = spark.createDataFrame(
        [(1, 8, 99.0), (1, 15, 100.5), (1, 20, 100.9), (2, 15, 49.5)],
        "uid long, t long, qx double",
    )
    got = {
        (r["uid"], r["t"]): r["__asof_ts"]
        for r in asof_join(trades, quotes, on="uid", left_ts="t", right_ts="t").collect()
    }
    # uid1 t10 -> quote t8; uid1 t20 -> quote t20 (inclusive); uid2 t15 -> t15
    assert got == {(1, 10): 8, (1, 20): 20, (2, 15): 15}
    # uid3 has no quote: dropped (inner)

def test_hash_split_stable_under_repartition(spark, sf_dir):
    """The whole point of content-hash splits: the assignment must be a
    pure function of the key, invariant to partitioning/layout."""
    from aiven_challenge2_cdc_sharing_spark.operators.sampling import (
        hash_bucket,
        split_assign,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = {
        r["doc_id"]: r["split"]
        for r in docs.select(
            "doc_id", split_assign(F.col("doc_id"), "split", 0.1).alias("split")
        ).collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in docs.repartition(7)
        .select("doc_id", split_assign(F.col("doc_id"), "split", 0.1).alias("split"))
        .collect()
    }
    assert a == b
    buckets = [
        r["b"]
        for r in docs.select(hash_bucket(F.col("doc_id"), "split").alias("b")).collect()
    ]
    assert all(0 <= x < 65536 for x in buckets)
    # independent salts decorrelate: the mix-salt bucket differs from the
    # split-salt bucket for at least most keys
    both = docs.select(
        hash_bucket(F.col("doc_id"), "split").alias("s"),
        hash_bucket(F.col("doc_id"), "mix").alias("m"),
    ).collect()
    assert sum(r["s"] == r["m"] for r in both) < len(both) * 0.01


def test_jaccard_pairs_pair_grain_matches_posting_form(spark):
    # Round-12 promotion pin: the pair-grain array-intersect default
    # must be BIT-IDENTICAL to the posting-count form it replaced
    # (same pairs, same 6dp jaccard, same zero-overlap omission) —
    # this is what keeps prior driver attestations of
    # dedup_minhash_near_pairs meaningful across the swap.
    from tests.references import jaccard_pairs_postings

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta eta"),
        (3, "alpha beta gamma delta epsilon zeta"),
        (4, "totally different words entirely here now"),
        (5, "short doc"),
        (6, "short doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # all candidate pairs, including zero-overlap ones (5,4) etc., so
    # the omission semantics are exercised — not just LSH survivors
    ids = docs.select(F.col("doc_id").alias("id_a"))
    pairs = (
        ids.crossJoin(docs.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    new = jaccard_pairs(pairs, docs, "doc_id", "text")
    old = jaccard_pairs_postings(pairs, docs, "doc_id", "text")
    assert sorted(new.collect()) == sorted(old.collect())
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
