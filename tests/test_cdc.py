"""CDC algebra + materializer tests — formalizing the reference's
observational verification (SURVEY.md §5): golden snapshot, replay
idempotence (consumer_to_opensearch.py:61,95 semantics), out-of-order
robustness."""

from __future__ import annotations

from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.cdc import (
    apply_changes,
    from_wire,
    generate_envelope_log,
    latest_snapshot,
    to_wire,
    unwrap,
)
from tests.references import snapshot_at


def rows_set(df, cols=None):
    cols = cols or df.columns
    return {tuple(str(x) for x in r) for r in df.select(*sorted(cols)).collect()}


def test_envelope_log_shape(spark, sf_dir):
    log = generate_envelope_log(spark, sf_dir)
    ops = {r["op"] for r in log.select("op").distinct().collect()}
    assert ops == {"c", "u", "d"}
    # inserts have null before, deletes null after
    assert log.filter((F.col("op") == "c") & F.col("before").isNotNull()).count() == 0
    assert log.filter((F.col("op") == "d") & F.col("after").isNotNull()).count() == 0


def test_snapshot_idempotent_under_replay(spark, sf_dir):
    log = generate_envelope_log(spark, sf_dir)
    once = latest_snapshot(unwrap(log))
    twice = latest_snapshot(unwrap(log.unionByName(log)))  # full replay
    assert rows_set(once) == rows_set(twice)


def test_snapshot_order_robust(spark, sf_dir):
    log = generate_envelope_log(spark, sf_dir)
    shuffled = log.orderBy(F.rand(seed=7))  # arbitrary arrival order
    assert rows_set(latest_snapshot(unwrap(log))) == rows_set(
        latest_snapshot(unwrap(shuffled))
    )


def test_deletes_removed_updates_win(spark, sf_dir):
    snap = latest_snapshot(unwrap(generate_envelope_log(spark, sf_dir)))
    assert snap.filter(F.col("id") % 7 == 0).count() == 0
    updated = snap.filter(F.col("id") % 3 == 0)
    # update rewrites phone with the 104729 multiplier (generator rule)
    bad = updated.filter(
        F.col("phone")
        != F.expr(
            "concat('+1-', lpad(cast(cast(id as bigint) * 104729 % 10000000 as string), 7, '0'))"
        )
    )
    assert bad.count() == 0


def test_apply_changes_incremental_equals_full(spark, sf_dir):
    log = generate_envelope_log(spark, sf_dir)
    full = latest_snapshot(unwrap(log))
    # split: apply inserts first, then updates+deletes as a second batch
    inserts = unwrap(log.filter(F.col("op") == "c"))
    rest = unwrap(log.filter(F.col("op") != "c"))
    current = latest_snapshot(inserts)
    merged = apply_changes(current, rest)
    assert rows_set(full) == rows_set(merged)
    # idempotence: re-applying the same batch changes nothing
    merged2 = apply_changes(merged, rest)
    assert rows_set(merged) == rows_set(merged2)


def test_snapshot_at_before_any_delete(spark, sf_dir):
    log = unwrap(generate_envelope_log(spark, sf_dir))
    n_keys = log.select("id").distinct().count()
    # just before the first delete could land: all keys still live
    first_delete = (
        log.filter(F.col("__deleted")).agg(F.min("ts_ms")).collect()[0][0]
    )
    snap = snapshot_at(log, first_delete - 1)
    assert snap.count() == n_keys


def test_wire_roundtrip_preserves_state(spark, sf_dir):
    unwrapped = unwrap(generate_envelope_log(spark, sf_dir))
    direct = latest_snapshot(unwrapped)
    via_wire = latest_snapshot(
        from_wire(to_wire(unwrapped)), key_cols=("id",), order_cols=("offset",)
    ).drop("offset")
    assert rows_set(direct) == rows_set(via_wire)


def test_tombstones_present_on_wire(spark, sf_dir):
    wire = to_wire(unwrap(generate_envelope_log(spark, sf_dir)))
    n_deletes = (
        generate_envelope_log(spark, sf_dir).filter(F.col("op") == "d").count()
    )
    assert wire.filter(F.col("value_json").isNull()).count() == n_deletes


def test_schema_evolution_mid_stream(spark, tmp_path):
    """A column added to the source table mid-stream (the classic
    Debezium schema-evolution event): later envelopes carry an extra
    field in before/after.  Reading the log with mergeSchema and
    running the SAME unwrap/snapshot algebra must null-fill the new
    column for pre-evolution rows and keep last-writer-wins intact —
    no operator changes, the algebra is schema-generic (`row.*`)."""
    v1 = [
        (1, "c", None, {"id": 1, "val": "a"}, 1000, 0),
        (2, "c", None, {"id": 2, "val": "b"}, 1001, 1),
    ]
    v2 = [
        # post-evolution envelopes: new column `tier` present
        (1, "u", {"id": 1, "val": "a", "tier": None},
         {"id": 1, "val": "a2", "tier": "gold"}, 2000, 2),
        (3, "c", None, {"id": 3, "val": "c", "tier": "basic"}, 2001, 3),
    ]
    s1 = ("id long, op string, before struct<id:long,val:string>, "
          "after struct<id:long,val:string>, ts_ms long, seq long")
    s2 = ("id long, op string, "
          "before struct<id:long,val:string,tier:string>, "
          "after struct<id:long,val:string,tier:string>, ts_ms long, seq long")
    spark.createDataFrame(v1, s1).write.parquet(str(tmp_path / "log"))
    spark.createDataFrame(v2, s2).write.mode("append").parquet(
        str(tmp_path / "log")
    )
    log = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "log")
    )
    snap = latest_snapshot(unwrap(log.drop("id")))
    got = {r["id"]: (r["val"], r["tier"]) for r in snap.collect()}
    assert got == {1: ("a2", "gold"), 2: ("b", None), 3: ("c", "basic")}
