"""Multi-format ingest: round-trip fidelity, quarantine capture,
schema evolution, and pushdown survival in the second columnar format."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aiven_challenge2_cdc_sharing_spark.sources import formats

TRICKY = [
    Row(id=1, text='plain'),
    Row(id=2, text='comma, inside'),
    Row(id=3, text='quote " inside'),
    Row(id=4, text='both ", and\nnewline'),
    Row(id=5, text=None),
    Row(id=6, text=''),
]

TRICKY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def _sorted_rows(df):
    return sorted(
        ((r["id"], r["text"]) for r in df.collect()), key=lambda t: t[0]
    )


def test_csv_roundtrip_tricky_strings(spark, tmp_path):
    df = spark.createDataFrame(TRICKY, TRICKY_SCHEMA)
    path = str(tmp_path / "tricky_csv")
    formats.write_csv(df, path)
    back = formats.valid_rows(formats.read_csv(spark, path, TRICKY_SCHEMA))
    got = _sorted_rows(back)
    want = _sorted_rows(df)
    # CSV cannot distinguish NULL from empty string without a nullValue
    # sentinel; both sides read back as NULL — normalize for compare.
    want = [(i, None if t == "" else t) for i, t in want]
    got = [(i, None if t == "" else t) for i, t in got]
    assert got == want


def test_jsonl_roundtrip_tricky_strings(spark, tmp_path):
    df = spark.createDataFrame(TRICKY, TRICKY_SCHEMA)
    path = str(tmp_path / "tricky_jsonl")
    formats.write_jsonl(df, path)
    back = formats.valid_rows(formats.read_jsonl(spark, path, TRICKY_SCHEMA))
    # JSON distinguishes null from "" exactly
    assert _sorted_rows(back) == _sorted_rows(df)


def test_orc_roundtrip_exact(spark, tmp_path):
    df = spark.createDataFrame(TRICKY, TRICKY_SCHEMA)
    path = str(tmp_path / "tricky_orc")
    formats.write_orc(df, path)
    back = formats.read_orc(spark, path)
    assert _sorted_rows(back) == _sorted_rows(df)
    assert back.schema == df.schema


def test_csv_quarantine_captures_malformed_rows(spark, tmp_path):
    path = tmp_path / "dirty"
    os.makedirs(path)
    (path / "part-0.csv").write_text(
        "id,text\n"
        "1,good\n"
        "not_an_int,bad row\n"
        "2,also good\n"
    )
    read = formats.read_csv(spark, str(path), TRICKY_SCHEMA)
    valid = formats.valid_rows(read)
    bad = read.filter(F.col(formats.CORRUPT_COL).isNotNull())
    assert sorted(r["id"] for r in valid.collect()) == [1, 2]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "not_an_int" in bad_rows[0][formats.CORRUPT_COL]


def test_jsonl_quarantine_and_missing_fields(spark, tmp_path):
    path = tmp_path / "dirty_json"
    os.makedirs(path)
    (path / "part-0.json").write_text(
        '{"id": 1, "text": "full row"}\n'
        '{"id": 2}\n'            # missing field -> NULL (schema evolution)
        'this is not json\n'     # malformed -> quarantine
    )
    read = formats.read_jsonl(spark, str(path), TRICKY_SCHEMA)
    valid = formats.valid_rows(read)
    bad = read.filter(F.col(formats.CORRUPT_COL).isNotNull())
    rows = {r["id"]: r["text"] for r in valid.collect()}
    assert rows == {1: "full row", 2: None}
    assert len(bad.collect()) == 1


def test_orc_filter_pushdown_survives(spark, tmp_path, sf_dir):
    """Predicate pushdown must reach the ORC scan like it does parquet."""
    from aiven_challenge2_cdc_sharing_spark.tables import load_table

    part = load_table(spark, sf_dir, "part")
    path = str(tmp_path / "part_orc")
    formats.write_orc(part, path)
    plan = (
        formats.read_orc(spark, path)
        .filter(F.col("p_size") > 40)
        .select("p_partkey", "p_size")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,40)" in plan
    # column pruning: the scan reads 2 columns, not 6
    assert "ReadSchema: struct<p_partkey:bigint,p_size:int>" in plan


def test_binaryfile_crawl_ingest_parity(spark, sf_dir, tmp_path):
    """Raw-file crawl ingestion: media that arrives as LOOSE FILES on
    disk/object store (the way image corpora actually land) read via
    the binaryFile source, then pushed through the same mapInPandas
    decode seam as the column-embedded path — features must match
    byte-for-byte."""
    from aiven_challenge2_cdc_sharing_spark.sources.multimodal import (
        attach_png_media,
        decode_real_media,
    )
    from aiven_challenge2_cdc_sharing_spark.tables import load_table
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = attach_png_media(docs)
    # spill each payload to its own file, keyed by doc_id
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    for r in media.select("doc_id", "payload").collect():
        (crawl / f"{r['doc_id']}.png").write_bytes(bytes(r["payload"]))
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(str(crawl))
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.png$", 1)
            .cast("long")
            .alias("doc_id"),
            F.lit("image/png").alias("media_type"),
            F.col("content").alias("payload"),
        )
    )
    from_files = {
        r["doc_id"]: (r["width"], r["height"], r["pixel_sum"])
        for r in decode_real_media(files).collect()
    }
    from_column = {
        r["doc_id"]: (r["width"], r["height"], r["pixel_sum"])
        for r in decode_real_media(media).collect()
    }
    assert from_files == from_column
    assert len(from_files) == 20
