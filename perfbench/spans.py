"""Span recorder and Spark job collector for the traced run.

Each public call the benchmark makes becomes a span (name, op id, start,
end, parent).  The op id is set as the Spark job group, so every job the
call runs on the calling thread is filed under it.  A streaming query runs
its micro-batches, ``foreachBatch`` body included, under its own job group
(the query's run id) with ``batch = N`` in the job description; the op
names that group too, and each trigger becomes a child ``apply`` span.
Jobs are attributed by job group only, never by call site: in this
program call sites mostly read ``parquet at <unknown>:0``.

After each call the collector reads the op's jobs from the status store
(``job(id)``, ``lastStageAttempt(id)``) and records each as a child span
carrying its stage counters, and sums the SQL node metrics of its
executions: the scans' "number of files read" and the Python-worker
times and bytes of Arrow/pandas nodes.  Spans stay in memory and are written out once,
when the run ends.  Self time (``driver_gap_s``) is an op's wall time
minus the union of its job intervals.

With tracing off, ``span`` only times the call.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "output_rows",
)
# SQL node metrics summed per op (the status store keeps them per execution)
SQL_METRICS = {
    "number of files read": "files_read",
    "time to run Python workers": "python_worker_run_s",
    "time to start Python workers": "python_worker_boot_s",
    "time to initialize Python workers": "python_worker_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
_UNITS = {"": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1, "m": 60, "h": 3600}
_BATCH = re.compile(r"batch = (\d+)")


def metric_value(text: str) -> float:
    """A SQL metric as the status store formats it ("1,234", "2.3 s",
    "24.0 KiB", or a "total (min, med, max ...)" line followed by such a
    value), in counts, seconds or bytes."""
    num, _, unit = text.split("\n")[-1].split(" (")[0].partition(" ")
    return float(num.replace(",", "")) * _UNITS[unit]


def _epoch(iso: str) -> float:
    """Epoch seconds of a progress timestamp such as 2024-01-01T00:00:00.123Z."""
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _attach(sp: dict, jobs: list[dict]) -> None:
    """Make ``jobs`` children of op span ``sp`` and sum their counters."""
    for j in jobs:
        j["parent"] = sp["op_id"]
    sp["jobs"] = len(jobs)
    sp["stages"] = sum(j["stages"] for j in jobs)
    sp["tasks"] = sum(j["tasks"] for j in jobs)
    for f in STAGE_FIELDS:
        sp[f] = sum(j[f] for j in jobs)
    covered = union_s([(max(j["start"], sp["start"]), min(j["end"], sp["end"])) for j in jobs])
    sp["driver_gap_s"] = max(sp["dur"] - covered, 0.0)
    sp["job_floor_s"] = sp["driver_gap_s"] / len(jobs) if jobs else 0.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._n = 0
        if not enabled:
            return
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._to_java = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._jvm_stat = f"/proc/{self.sc._gateway.proc.pid}/stat"
        self._last_exec = self._max_exec_id()

    def _jvm_cpu_s(self) -> float:
        """User + system CPU of the driver JVM (fields 14-15 of its stat)."""
        with open(self._jvm_stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def _max_exec_id(self) -> int:
        n = int(self.sql_store.executionsCount())
        last = self._to_java(self.sql_store.executionsList(max(n - 1, 0), 1))
        return max((int(e.executionId()) for e in last), default=-1)

    def _job_span(self, jid: int, op_id: str) -> dict:
        job = self.store.job(jid)
        start = job.submissionTime().get().getTime() / 1e3
        done = job.completionTime()
        end = done.get().getTime() / 1e3 if done.isDefined() else start
        desc = str(job.description().get()) if job.description().isDefined() else ""
        batch = _BATCH.search(desc)
        c = dict.fromkeys(STAGE_FIELDS, 0.0)
        stages = tasks = 0
        for sid in self._to_java(job.stageIds()):
            try:
                st = self.store.lastStageAttempt(int(sid))
            except Exception:  # py4j error: a stage the store never saw
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            stages += 1
            tasks += int(st.numTasks())
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["input_bytes"] += st.inputBytes()
            c["output_bytes"] += st.outputBytes()
            c["output_rows"] += st.outputRecords()
        return {
            "name": f"job {jid}", "kind": "job", "op_id": op_id,
            "group": str(job.jobGroup().get()) if job.jobGroup().isDefined() else None,
            "batch": int(batch.group(1)) if batch else None,
            "start": start, "end": end, "stages": stages, "tasks": tasks, **c,
        }

    def _sql_metrics(self) -> dict[str, float]:
        """Sums of the ``SQL_METRICS`` node metrics over the SQL executions
        since the last call."""
        total = dict.fromkeys(SQL_METRICS.values(), 0.0)
        top = self._max_exec_id()
        for eid in range(self._last_exec + 1, top + 1):
            ex = self.sql_store.execution(eid)
            if not ex.isDefined():
                continue
            accs = [(m.accumulatorId(), SQL_METRICS[str(m.name())])
                    for m in self._to_java(ex.get().metrics()) if str(m.name()) in SQL_METRICS]
            values = self.sql_store.executionMetrics(eid) if accs else None
            for acc, key in accs:
                v = values.get(acc)
                if v.isDefined():
                    total[key] += metric_value(str(v.get()))
        self._last_exec = max(self._last_exec, top)
        return total

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        """Time one public call.  Yields the span dict; ``dur`` is set on
        exit, and when tracing its jobs and counters too.  The caller may
        add further job groups to ``span["job_groups"]``."""
        self._n += 1
        op_id = f"{op}-{self._n}"
        sp = {"name": name, "kind": "op", "op": op, "op_id": op_id, "parent": None,
              "job_groups": [op_id], **attrs}
        if self.enabled:
            self.sc.setJobGroup(op_id, name)
            cpu0, jcpu0 = time.process_time(), self._jvm_cpu_s()
        sp["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["dur"] = time.perf_counter() - t0
            sp["end"] = sp["start"] + sp["dur"]
            if self.enabled:
                sp["driver_cpu_s"] = time.process_time() - cpu0
                sp["jvm_cpu_s"] = self._jvm_cpu_s() - jcpu0
                self.sc._jsc.clearJobGroup()
                self._collect(sp)
            self.spans.append(sp)

    def _collect(self, sp: dict) -> None:
        tracker = self.sc.statusTracker()
        ids = sorted({int(j) for g in sp["job_groups"] for j in tracker.getJobIdsForGroup(g)})
        jobs = [self._job_span(j, sp["op_id"]) for j in ids]
        self.spans.extend(jobs)
        _attach(sp, jobs)
        sp.update(self._sql_metrics())

    def split_triggers(self, sp: dict, progress: list[dict]) -> None:
        """Give a streaming op one child ``apply`` span per trigger (one
        ``foreachBatch`` call of ``merge_snapshot_batch``), placed by the
        trigger's progress record, with the jobs whose description names
        that batch.  Process CPU is not separable per trigger; it is
        apportioned by trigger wall time."""
        jobs = [j for j in self.spans if j["kind"] == "job" and j["parent"] == sp["op_id"]]
        total = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) or 1
        for p in progress:
            start = _epoch(p["timestamp"])
            ms = p["durationMs"].get("triggerExecution", 0)
            self._n += 1
            t = {
                "name": f"merge_snapshot_batch (batch {p['batchId']})", "kind": "op",
                "op": "apply", "op_id": f"apply-{self._n}", "parent": sp["op_id"],
                "start": start, "end": start + ms / 1e3, "dur": ms / 1e3,
                "changes": p.get("numInputRows", 0),
                "jvm_cpu_s": sp["jvm_cpu_s"] * ms / total,
                "driver_cpu_s": sp["driver_cpu_s"] * ms / total,
            }
            _attach(t, [j for j in jobs if j["batch"] == p["batchId"]])
            self.spans.append(t)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
