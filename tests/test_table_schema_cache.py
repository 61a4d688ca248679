"""``tables.load_table`` infers a table file's schema once per session.

Inference is one Spark job that reads the parquet footer; later reads of
the same file (same size and mtime) pass the cached schema and run none.
A file rewritten in place, or another session, infers again.
"""

from __future__ import annotations

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aiven_challenge2_cdc_sharing_spark.tables import load_table


def _jobs(spark, group, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy(sf_dir, dst, names):
    """A fresh path per test, so no earlier read has warmed the cache."""
    os.makedirs(dst, exist_ok=True)
    for n in names:
        shutil.copy(os.path.join(sf_dir, f"{n}.parquet"), os.path.join(dst, f"{n}.parquet"))
    return str(dst)


@pytest.mark.parametrize("name", ["customer", "events", "documents", "embeddings"])
def test_second_load_runs_no_job(spark, sf_dir, tmp_path, name):
    d = _copy(sf_dir, tmp_path, [name])
    first, n1 = _jobs(spark, f"cold_{name}", lambda: load_table(spark, d, name).schema)
    second, n2 = _jobs(spark, f"warm_{name}", lambda: load_table(spark, d, name).schema)
    assert (n1, n2) == (1, 0)
    assert second == first


def test_registry_build_runs_no_job(spark, sf_dir):
    from aiven_challenge2_cdc_sharing_spark.queries import load_registry

    registry = load_registry()
    for name in ("cdc_count_by_classification", "dash_events_per_hour_by_type"):
        fn = registry[name].fn
        fn(spark, sf_dir)  # warm-up
        _, n = _jobs(spark, f"build_{name}", lambda: fn(spark, sf_dir))
        assert n == 0, name


def test_self_join_keeps_distinct_attributes(spark, sf_dir, tmp_path):
    """Each call is a new relation: a join of two calls on a column pairs
    rows by value, not every row with every other."""
    from collections import Counter

    d = _copy(sf_dir, tmp_path, ["nation"])
    a, b = load_table(spark, d, "nation"), load_table(spark, d, "nation")
    regions = Counter(pq.read_table(os.path.join(d, "nation.parquet"))["n_regionkey"].to_pylist())
    pairs = a.join(b, a["n_regionkey"] == b["n_regionkey"]).count()
    assert pairs == sum(c * c for c in regions.values()) < a.count() ** 2


def test_rewritten_file_is_inferred_again(spark, sf_dir, tmp_path):
    d = _copy(sf_dir, tmp_path, ["customer"])
    cols = load_table(spark, d, "customer").columns
    path = os.path.join(d, "customer.parquet")
    t = pq.read_table(path)
    pq.write_table(t.append_column("c_extra", pa.array(range(t.num_rows), pa.int64())), path)
    df, n = _jobs(spark, "rewritten", lambda: load_table(spark, d, "customer"))
    assert n == 1
    assert df.columns == cols + ["c_extra"]
    assert sorted(r[0] for r in df.select("c_extra").collect()) == list(range(t.num_rows))


@pytest.mark.parametrize("unit,tz", [("ns", None), ("us", None), ("us", "UTC")])
def test_cached_events_read_keeps_ts(spark, tmp_path, unit, tz):
    """TIMESTAMP(NANOS) reads as int64 nanos under nanosAsLong,
    TIMESTAMP(MICROS) as TIMESTAMP_NTZ or TIMESTAMP: the cached second
    read converts ``ts`` exactly as the inferring first one did."""
    base = datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)
    ts = [base + datetime.timedelta(minutes=7 * i, microseconds=i) for i in range(5)]
    table = pa.table({
        "event_id": pa.array(range(5), pa.int64()),
        "ts": pa.array(ts, pa.timestamp(unit, tz=tz)),
        "value": pa.array([1.5 * i for i in range(5)], pa.float64()),
    })
    pq.write_table(table, tmp_path / "events.parquet", version="2.6")
    d = str(tmp_path)

    def read():
        df = load_table(spark, d, "events")
        return dict(df.dtypes)["ts"], sorted(r["ts"] for r in df.select("ts").collect())

    first = read()
    _, n = _jobs(spark, f"events_{unit}_{tz}", lambda: load_table(spark, d, "events").dtypes)
    assert n == 0
    assert read() == first
    assert first[0] == "timestamp"
    assert len(first[1]) == 5


def test_new_session_infers_again(spark, sf_dir, tmp_path):
    d = _copy(sf_dir, tmp_path, ["customer"])
    load_table(spark, d, "customer")
    other = spark.newSession()
    _, n = _jobs(other, "new_session", lambda: load_table(other, d, "customer"))
    assert n == 1
