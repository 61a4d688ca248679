"""The workloads.  Each is a closed loop with one client: the next
operation starts only after the previous one returned.

``generate`` makes the inputs from the seed (once, untimed).  ``setup``
is one set-up repetition after session start: load the initial state
through the program and warm up.  ``run`` times operations until the
deadline and checks their results outside the timed calls.  The
program's public functions are called as a user would call them; the
benchmark changes none of them.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import asdict

from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.schemas import CDC_ENVELOPE
from aiven_challenge2_cdc_sharing_spark.streaming.runtime import (
    N_SNAPSHOT_BUCKETS,
    envelope_file_stream,
    merge_snapshot_batch,
    read_snapshot,
    run_snapshot_maintenance,
)

import checks
import gen


# ---------------------------------------------------------------------------
# state-table inspection (outside timed calls)
# ---------------------------------------------------------------------------

def list_state(path: str) -> dict[str, tuple[int, int]]:
    """Data files under a state table: relative path -> (bytes, mtime ns)."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                st = os.stat(full)
                out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def buckets_rewritten(path: str, before: dict) -> int:
    """Buckets of the state table at ``path`` holding a data file that is
    not in the earlier listing ``before``."""
    after = list_state(path)
    return len({os.path.dirname(p) for p, v in after.items() if before.get(p) != v})


def write_initial(events, path: str) -> None:
    """The initial-state inserts as one parquet file of envelopes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    row_t = pa.struct([
        ("id", pa.int32()), ("full_name", pa.string()), ("email", pa.string()),
        ("phone", pa.string()), ("classification", pa.string()),
        ("created_at", pa.timestamp("us", tz="UTC")),
    ])

    names = [f.name for f in row_t]

    def img(r):
        return None if r is None else dict(zip(names, r))

    table = pa.table({
        "op": [e[0] for e in events],
        "before": pa.array([img(e[1]) for e in events], row_t),
        "after": pa.array([img(e[2]) for e in events], row_t),
        "ts_ms": pa.array([e[3] for e in events], pa.int64()),
        "source_table": ["customer"] * len(events),
        "seq": pa.array([e[4] for e in events], pa.int64()),
    })
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# dashboard reads on the served snapshot (the reference's three dashboards
# plus a point lookup); each returns comparable values, checked untimed
# ---------------------------------------------------------------------------

def read_by_classification(spark, snap, _key):
    rows = (read_snapshot(spark, snap).groupBy("classification")
            .agg(F.count(F.lit(1)).alias("cnt")).collect())
    return sorted((r[0], r[1]) for r in rows)


def read_per_hour(spark, snap, _key):
    rows = (read_snapshot(spark, snap)
            .groupBy(F.date_trunc("hour", "created_at").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt")).collect())
    return sorted((checks.epoch_s(r[0]), r[1]) for r in rows)


def read_recent(spark, snap, _key):
    rows = (read_snapshot(spark, snap)
            .select("id", "full_name", "classification", "created_at")
            .orderBy(F.desc("created_at"), F.desc("id")).limit(10).collect())
    return [(r[0], r[1], r[2], checks.epoch_s(r[3])) for r in rows]


def read_lookup(spark, snap, key):
    rows = read_snapshot(spark, snap).filter(F.col("id") == key).collect()
    return [checks.canon_row(r) for r in rows]


READS = (
    ("by_classification", read_by_classification),
    ("per_hour", read_per_hour),
    ("recent", read_recent),
    ("lookup", read_lookup),
)


# rounds of reads per set-up: read timings keep falling for the first
# rounds in a fresh JVM, and with one round per set-up they were still
# falling in the timed window
WARM_READS = 3


def warm_reads(spark, snap, key) -> None:
    for _ in range(WARM_READS):
        for _, fn in READS:
            fn(spark, snap, key)


def expected_read(name: str, dashboards: dict, live: dict, key: int):
    if name == "lookup":
        return [checks.canon_row(live[key])] if key in live else []
    return dashboards[name]


class Samples:
    """What a run measured and checked."""

    def __init__(self):
        self.op_s: list[float] = []
        self.read_s: list[float] = []
        self.changes = 0  # change events applied in timed ops
        self.change_bytes = 0  # their size as JSON lines
        self.attempted = 0
        self.failures: list[str] = []
        self.stream: list[dict] = []  # stream_counters of each catch-up
        self.query_s: dict[str, list[float]] = {}  # registry query -> timings

    def fail(self, what: str) -> None:
        self.failures.append(what)


def timed_reads(spark, tracer, snap, key, s: Samples) -> list[tuple]:
    """Run and time each read once; returns (name, key, result) of each
    read that returned, for ``check_reads``."""
    out = []
    for name, fn in READS:
        s.attempted += 1
        try:
            with tracer.span(name, "read") as sp:
                got = fn(spark, snap, key)
        except Exception as e:  # a failed op is counted, the run goes on
            s.fail(f"read {name}: {type(e).__name__}: {e}")
            continue
        s.read_s.append(sp["dur"])
        out.append((name, key, got))
    return out


def check_reads(results, live, dashboards, label: str, s: Samples) -> None:
    for name, key, got in results:
        if got != expected_read(name, dashboards, live, key):
            s.fail(f"{label} read {name}: result differs from the replay")


def snapshot_rows(spark, snap) -> list[tuple]:
    pdf = read_snapshot(spark, snap).toPandas()
    cols = ["id", "full_name", "email", "phone", "classification", "created_at"]
    return list(pdf[cols].itertuples(index=False))


def check_snapshot(spark, snap, live, label: str, s: Samples) -> None:
    for p in checks.snapshot_diff(snapshot_rows(spark, snap), live):
        s.fail(f"{label} snapshot: {p}")


# ---------------------------------------------------------------------------
# cdc_trickle
# ---------------------------------------------------------------------------

class Trickle:
    """Tiny Zipf-keyed batches applied one at a time with
    ``merge_snapshot_batch`` (the ``foreachBatch`` body), each followed by
    the dashboards and a point lookup on the served snapshot."""

    name = "cdc_trickle"
    params = gen.TRICKLE
    n_batches = 30  # more than a run can apply

    def generate(self, work: str, seed: int) -> None:
        g = gen.EnvelopeGen(self.params, seed)
        self.work = work
        self.initial = g.initial()
        self.batches = [g.batch() for _ in range(self.n_batches)]
        self.init_path = os.path.join(work, "initial.parquet")
        write_initial(self.initial, self.init_path)
        # one JSON file per batch: what the file stream source would hand
        # to foreachBatch, decoded by the JVM rather than by Python workers
        self.batch_paths = []
        for i, b in enumerate(self.batches):
            d = os.path.join(work, "batches", f"{i:05d}")
            gen.write_envelope_files(b, d, 1)
            self.batch_paths.append(d)
        rng = random.Random(seed)
        self.lookup_keys = [g.pick_key() for _ in range(self.n_batches)]
        self.sample_step = rng.randint(1, 3)  # intermediate snapshot check
        self.rep = 0

    def describe(self) -> dict:
        return {"generator": asdict(self.params),
                "batch_events_mean": sum(map(len, self.batches)) / len(self.batches)}

    def setup(self, spark) -> None:
        self.rep += 1
        self.snap = os.path.join(self.work, f"state{self.rep}")
        init = spark.read.schema(CDC_ENVELOPE).parquet(self.init_path)
        merge_snapshot_batch(init, self.snap, N_SNAPSHOT_BUCKETS)
        # warm-up: the first batch and some rounds of reads
        merge_snapshot_batch(self._batch_df(spark, 0), self.snap, N_SNAPSHOT_BUCKETS)
        warm_reads(spark, self.snap, self.lookup_keys[0])
        old = os.path.join(self.work, f"state{self.rep - 1}")
        shutil.rmtree(old, ignore_errors=True)

    def _batch_df(self, spark, i: int):
        return spark.read.schema(CDC_ENVELOPE).json(self.batch_paths[i])

    def run(self, spark, tracer, deadline: float) -> Samples:
        """Apply and read until the deadline, keeping what the reads and
        the sampled snapshot returned; check them all afterwards."""
        s = Samples()
        reads, sample = [], None
        step = 0
        while time.perf_counter() < deadline and step + 1 < self.n_batches:
            step += 1
            batch = self.batches[step]
            df = self._batch_df(spark, step)
            before = list_state(self.snap)
            s.attempted += 1
            try:
                with tracer.span("merge_snapshot_batch", "apply") as sp:
                    merge_snapshot_batch(df, self.snap, N_SNAPSHOT_BUCKETS)
            except Exception as e:
                s.fail(f"apply {step}: {type(e).__name__}: {e}")
                break
            s.op_s.append(sp["dur"])
            nb = buckets_rewritten(self.snap, before)
            sp.update(buckets_rewritten=nb, changes=len(batch))
            s.changes += len(batch)
            s.change_bytes += gen.events_nbytes(batch)
            reads.append(timed_reads(spark, tracer, self.snap, self.lookup_keys[step], s))
            if step == self.sample_step:
                sample = snapshot_rows(spark, self.snap)
        self.state_path = self.snap
        # the replay, step by step, against what the program returned
        state = checks.lww_state(self.initial + self.batches[0])
        for i, results in enumerate(reads, start=1):
            checks.lww_apply(state, self.batches[i])
            live = checks.live_rows(state)
            check_reads(results, live, checks.expected_dashboards(live), f"step {i}", s)
            if i == self.sample_step and sample is not None:
                for p in checks.snapshot_diff(sample, live):
                    s.fail(f"step {i} snapshot: {p}")
        check_snapshot(spark, self.snap, checks.live_rows(state), "final", s)
        return s


# ---------------------------------------------------------------------------
# cdc_catchup
# ---------------------------------------------------------------------------

class Catchup:
    """A consumer restarting after downtime: one availableNow
    ``run_snapshot_maintenance`` over a backlog of JSON envelope files with
    uniform keys, then the dashboards on the published snapshot."""

    name = "cdc_catchup"
    params = gen.CATCHUP
    n_files = 8  # envelope_file_stream reads 4 files per trigger
    backlog_batches = 2  # of params.batch_sizes[0] events each

    def generate(self, work: str, seed: int) -> None:
        g = gen.EnvelopeGen(self.params, seed)
        self.work = work
        self.initial = g.initial()
        self.backlog = [e for _ in range(self.backlog_batches) for e in g.batch()]
        self.init_path = os.path.join(work, "initial.parquet")
        write_initial(self.initial, self.init_path)
        self.backlog_dir = os.path.join(work, "backlog")
        self.backlog_bytes = gen.write_envelope_files(self.backlog, self.backlog_dir, self.n_files)
        self.warm_dir = os.path.join(work, "warm")
        gen.write_envelope_files(self.backlog[:2000], self.warm_dir, 1)
        rng = random.Random(seed)
        self.lookup_keys = [rng.randint(1, self.params.n_keys) for _ in range(1000)]
        self.live = checks.live_rows(checks.lww_state(self.initial + self.backlog))
        self.dashboards = checks.expected_dashboards(self.live)
        self.rep = 0

    def describe(self) -> dict:
        return {"generator": asdict(self.params), "backlog_events": len(self.backlog),
                "backlog_files": self.n_files, "backlog_bytes": self.backlog_bytes}

    def _fresh_state(self, tag: str) -> tuple[str, str]:
        """A copy of the base state and an empty checkpoint location."""
        snap = os.path.join(self.work, f"snap-{tag}")
        ck = os.path.join(self.work, f"ck-{tag}")
        shutil.rmtree(snap, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        shutil.copytree(self.base, snap)
        return snap, ck

    def setup(self, spark) -> None:
        self.rep += 1
        base = os.path.join(self.work, f"base{self.rep}")
        init = spark.read.schema(CDC_ENVELOPE).parquet(self.init_path)
        merge_snapshot_batch(init, base, N_SNAPSHOT_BUCKETS)
        shutil.rmtree(os.path.join(self.work, f"base{self.rep - 1}"), ignore_errors=True)
        self.base = base
        # warm-up: a short catch-up and some rounds of reads
        snap, ck = self._fresh_state("warm")
        q = run_snapshot_maintenance(envelope_file_stream(spark, self.warm_dir), snap, ck)
        q.awaitTermination()
        warm_reads(spark, snap, self.lookup_keys[0])

    def run(self, spark, tracer, deadline: float) -> Samples:
        s = Samples()
        base_listing = list_state(self.base)
        rep = 0
        snap = None
        while time.perf_counter() < deadline:
            rep += 1
            snap, ck = self._fresh_state(str(rep))
            s.attempted += 1
            try:
                with tracer.span("run_snapshot_maintenance", "catchup") as sp:
                    q = run_snapshot_maintenance(
                        envelope_file_stream(spark, self.backlog_dir), snap, ck)
                    sp["job_groups"].append(str(q.runId))
                    q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
            except Exception as e:
                s.fail(f"catch-up {rep}: {type(e).__name__}: {e}")
                break
            s.op_s.append(sp["dur"])
            s.stream.append(stream_counters(q.recentProgress))
            # every trigger of a uniform-key backlog touches every bucket
            nb = buckets_rewritten(snap, base_listing)
            sp.update(buckets_rewritten=nb, changes=len(self.backlog))
            if tracer.enabled:
                tracer.split_triggers(sp, q.recentProgress)
            s.changes += len(self.backlog)
            s.change_bytes += self.backlog_bytes
            check_reads(timed_reads(spark, tracer, snap, self.lookup_keys[rep % 1000], s),
                        self.live, self.dashboards, f"catch-up {rep}", s)
            if rep > 1:
                shutil.rmtree(os.path.join(self.work, f"snap-{rep - 1}"), ignore_errors=True)
                shutil.rmtree(os.path.join(self.work, f"ck-{rep - 1}"), ignore_errors=True)
        if snap is not None:
            check_snapshot(spark, snap, self.live, "final", s)
        self.state_path = snap
        return s


STREAM_DURATIONS = {
    "trigger_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "wal_commit_s": "walCommit",
    "latest_offset_s": "latestOffset",
    "query_planning_s": "queryPlanning",
}


def stream_counters(progress: list[dict]) -> dict:
    """Per-trigger progress records summed over one catch-up."""
    out = {"batches": sum(1 for p in progress if p.get("numInputRows", 0) > 0)}
    for key, dur in STREAM_DURATIONS.items():
        out[key] = sum(p.get("durationMs", {}).get(dur, 0) for p in progress) / 1e3
    return out


# ---------------------------------------------------------------------------
# registry_sample
# ---------------------------------------------------------------------------

class Registry:
    """Warm passes over a fixed list of registry queries on seeded tables:
    each runs ``q.fn(spark, sf_dir)`` and writes to the noop sink.  The
    list covers the CDC batch path with a dashboard on it, a dashboard on
    the events table, and the two Arrow boundaries (a pandas_udf and
    mapInArrow)."""

    name = "registry_sample"
    params = gen.REGISTRY
    queries = (
        "cdc_count_by_classification",
        "dash_events_per_hour_by_type",
        "sim_cosine_topk_pandas",
        "udf_arrow_map_doc_stats",
    )
    # the read of a served table; cdc_count_by_classification rebuilds the
    # snapshot from the envelope log on every call
    dashboards = ("dash_events_per_hour_by_type",)

    def generate(self, work: str, seed: int) -> None:
        from aiven_challenge2_cdc_sharing_spark.queries import load_registry

        self.sf_dir = os.path.join(work, "tables")
        self.tables = gen.write_tables(self.sf_dir, seed, self.params)
        registry = load_registry()
        self.registry = {n: registry[n] for n in self.queries}

    def describe(self) -> dict:
        return {"tables": asdict(self.params), "queries": list(self.queries)}

    def setup(self, spark) -> None:
        """Warm-up: scan every table, then run each query once, keeping
        its rows for the oracle check."""
        from aiven_challenge2_cdc_sharing_spark.tables import load_table

        for t in self.tables:
            load_table(spark, self.sf_dir, t).count()
        self.results = {}
        for name, q in self.registry.items():
            df = q.fn(spark, self.sf_dir)
            self.results[name] = (df.columns, [tuple(r) for r in df.collect()])

    def run(self, spark, tracer, deadline: float) -> Samples:
        s = Samples()
        while time.perf_counter() < deadline:
            t0 = time.perf_counter()
            ok = True
            for name, q in self.registry.items():
                s.attempted += 1
                try:
                    with tracer.span(name, "query") as sp:
                        df = q.fn(spark, self.sf_dir)
                        sp["build_end"] = time.time()
                        if tracer.enabled:
                            # planning on its own; the write below plans again
                            df._jdf.queryExecution().executedPlan()
                            sp["plan_end"] = time.time()
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:
                    s.fail(f"query {name}: {type(e).__name__}: {e}")
                    ok = False
                    continue
                s.query_s.setdefault(name, []).append(sp["dur"])
                if name in self.dashboards:
                    s.read_s.append(sp["dur"])
            if not ok:
                break
            s.op_s.append(time.perf_counter() - t0)
        # each query's set-up rows against its DuckDB oracle, once per run
        for name, (cols, rows) in self.results.items():
            s.attempted += 1
            problem = checks.oracle_diff(self.sf_dir, self.tables,
                                         self.registry[name].oracle, cols, rows)
            if problem:
                s.fail(f"query {name}: {problem}")
        return s


WORKLOADS = {w.name: w for w in (Trickle, Catchup, Registry)}
