"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 8 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, starts a Spark session on ``local[nproc]`` with the package's own
configuration, sets up several times (``setup_s`` is the session start
plus the median set-up), times operations for ``--seconds``, checks
every result against an independent reference, and prints one JSON
object as the last line of stdout.  With ``--trace 0`` it holds the
end-to-end metrics; with ``--trace 1`` the per-layer metrics of a traced
run, whose spans are also written to ``.perfbench/``.  The lines before
it give the workload's metrics under their own names (``apply_p50_s``,
``catchup_s``, ``pass_s``, tails, ``changes_per_s``, ``failed_ratio``) with units,
and record the host context (core count, load average, a single-core
probe) as data.

Exits non-zero without a result when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# two set-ups, the first cold: their median (= mean) counts one-off cold
# costs at half weight, so work moved into set-up shows either way
SETUP_REPS = 2
OPS = ("apply", "read", "catchup", "query")
PYTHON_FIELDS = ("worker_run_s", "worker_boot_s", "worker_init_s", "bytes_sent", "bytes_received")
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
    "output_bytes", "output_rows", "driver_gap_s", "job_floor_s",
)


def host_probe_s() -> float:
    """Single-core CPU probe: a fixed 5M-iteration integer loop."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i * i
    if s < 0:
        raise AssertionError
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU time of the machine so far, in clock ticks."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


def median(v):
    return statistics.median(v) if v else 0.0


def tail(v):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or (None, None) when there are too few samples."""
    v = sorted(v)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if len(v) * (1 - p / 100) >= 10:
            return p, v[min(len(v) - 1, int(len(v) * p / 100))]
    return None, None


def prepare_env(work: str) -> None:
    """Keep everything Spark and Python write inside the checkout."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher and the driver): temp files here, no
    # hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc


def stop_jvm(spark) -> None:
    """Stop the session and the driver JVM, and wait until it has exited
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def end_to_end(s, setup_s: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": median(s.op_s), "unit": "s"},
        "read_p50_s": {"value": median(s.read_s), "unit": "s"},
    }


def _tail_text(v) -> str:
    p, t = tail(v)
    return f"{t:.4f} s (p{p:g}, n={len(v)})" if p else f"n/a (n={len(v)})"


def workload_lines(wl, s, session_s: float, reps: list[float]) -> list[str]:
    """The workload's end-to-end metrics under their per-workload names
    (``op_p50_s`` is ``apply_p50_s``, ``catchup_s`` or ``pass_s``)."""
    lines = [f"setup_s {session_s + median(reps):.4f} s (session start {session_s:.3f} + "
             f"median of {len(reps)} set-ups: " + ", ".join(f"{x:.3f}" for x in reps) + ")"]
    if wl.name == "cdc_trickle":
        apply_time = sum(s.op_s)
        lines += [
            f"apply_p50_s {median(s.op_s):.4f} s (n={len(s.op_s)})",
            f"apply_tail_s {_tail_text(s.op_s)}",
            f"changes_per_s {s.changes / apply_time if apply_time else 0:.3f} 1/s "
            f"({s.changes} changes in {len(s.op_s)} applies)",
        ]
    elif wl.name == "cdc_catchup":
        lines += [
            f"catchup_s {median(s.op_s):.4f} s (median of {len(s.op_s)}: "
            + ", ".join(f"{x:.3f}" for x in s.op_s) + ")",
            f"changes_per_s {len(wl.backlog) / median(s.op_s) if s.op_s else 0:.1f} 1/s "
            f"({len(wl.backlog)} changes per catch-up)",
        ]
    else:
        lines.append(f"pass_s {median(s.op_s):.4f} s (median of {len(s.op_s)}: "
                     + ", ".join(f"{x:.3f}" for x in s.op_s) + ")")
        lines += [f"query {k} {median(v):.4f} s (median of {len(v)})"
                  for k, v in s.query_s.items()]
    lines += [
        f"read_p50_s {median(s.read_s):.4f} s (n={len(s.read_s)})",
        f"read_tail_s {_tail_text(s.read_s)}",
        f"failed_ratio {len(s.failures) / max(s.attempted, 1):.4f} "
        f"({len(s.failures)} of {s.attempted})",
    ]
    return lines


def _mean(v):
    return sum(v) / len(v) if v else 0.0


def _unit(field: str) -> str:
    return "s" if field.endswith("_s") else "bytes" if field.endswith("_bytes") else "count"


def op_layers(ops: list[dict], op: str) -> dict:
    """Spark and process counters of one op kind, as the mean per call
    (0 when the workload has no such op)."""
    calls = [sp for sp in ops if sp["op"] == op]
    out = {f"spark.{op}.{f}": (_mean([c[f] for c in calls]), _unit(f)) for f in SPARK_FIELDS}
    out[f"jvm.{op}.cpu_s"] = (_mean([c["jvm_cpu_s"] for c in calls]), "s")
    out[f"driver.{op}.cpu_s"] = (_mean([c["driver_cpu_s"] for c in calls]), "s")
    return out


def query_layers(tracer, queries: list[dict], names, passes: int) -> dict:
    """DataFrame build / plan / execution split and the Python boundary of
    the registry queries, per pass, and each query's jobs per call."""
    jobs = {}
    for j in tracer.spans:
        if j["kind"] == "job":
            jobs.setdefault(j["parent"], []).append(j)

    def per_pass(f) -> float:
        return sum(f(q) for q in queries) / passes if passes else 0.0

    out = {
        "queries.build_s": (per_pass(lambda q: q["build_end"] - q["start"]), "s"),
        "queries.plan_s": (per_pass(lambda q: q["plan_end"] - q["build_end"]), "s"),
        "queries.exec_s": (per_pass(lambda q: q["end"] - q["plan_end"]), "s"),
        "queries.build_jobs": (per_pass(lambda q: sum(
            j["start"] <= q["build_end"] for j in jobs.get(q["op_id"], []))), "count"),
        "queries.exec_jobs": (per_pass(lambda q: sum(
            j["start"] > q["build_end"] for j in jobs.get(q["op_id"], []))), "count"),
    }
    for f in PYTHON_FIELDS:
        unit = "s" if f.endswith("_s") else "bytes"
        out[f"python.{f}"] = (per_pass(lambda q: q[f"python_{f}"]), unit)
    for n in names:
        out[f"queries.{n}.jobs"] = (_mean([q["jobs"] for q in queries if q["name"] == n]), "count")
    return out


def per_layer(wl, s, tracer) -> dict:
    """Per-layer metrics of a traced run, named ``layer.op.metric``.  Every
    workload reports all of them, with 0 for a layer it does not reach."""
    from workloads import STREAM_DURATIONS, Registry, list_state

    ops = [sp for sp in tracer.spans if sp["kind"] == "op"]
    applies = [sp for sp in ops if sp["op"] == "apply"]
    writes = [sp for sp in ops if "buckets_rewritten" in sp]
    reads = [sp for sp in ops if sp["op"] == "read"]
    changes = sum(sp["changes"] for sp in applies)
    state = list_state(wl.state_path) if getattr(wl, "state_path", None) else {}
    out = {}
    for op in OPS:
        out.update(op_layers(ops, op))
    out.update({
        "runtime.apply.buckets_rewritten": (_mean([sp["buckets_rewritten"] for sp in writes]), "count"),
        "runtime.apply.rows_written_per_change": (
            sum(sp["output_rows"] for sp in applies) / changes if changes else 0.0, "count"),
        "runtime.write_amp": (
            sum(sp["output_bytes"] for sp in applies) / s.change_bytes if s.change_bytes else 0.0,
            "bytes/byte"),
        "runtime.state.files": (len(state), "count"),
        "runtime.state.bytes": (sum(v[0] for v in state.values()), "bytes"),
        "runtime.read.files_read": (_mean([sp["files_read"] for sp in reads]), "count"),
    })
    for k in ("batches", *STREAM_DURATIONS):
        out[f"stream.{k}"] = (_mean([st[k] for st in s.stream]), "count" if k == "batches" else "s")
    queries = [sp for sp in ops if sp["op"] == "query" and "plan_end" in sp]
    out.update(query_layers(tracer, queries, Registry.queries, len(s.op_s) if queries else 0))
    return _as_metrics(out)


def _as_metrics(d: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in d.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-param", action="append", default=[], metavar="NAME=VALUE",
                    help="override a generator parameter (to probe how much the "
                         "figures depend on it), e.g. key_skew=0.8 or batch_sizes=4,8,16")
    args = ap.parse_args(argv)

    out_dir = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    prepare_env(work)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, out_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, out_dir: str, work: str) -> int:
    # fails here, before any output, when the program is not present
    from aiven_challenge2_cdc_sharing_spark.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host = {"nproc": len(os.sched_getaffinity(0)), "loadavg_before": os.getloadavg(),
            "probe_s": round(host_probe_s(), 4)}
    ticks0 = cpu_ticks()
    wl = WORKLOADS[args.workload]()
    for kv in args.gen_param:
        name, _, value = kv.partition("=")
        old = getattr(wl.params, name)
        new = tuple(int(v) for v in value.split(",")) if isinstance(old, tuple) else type(old)(value)
        wl.params = dataclasses.replace(wl.params, **{name: new})
    t0 = time.perf_counter()
    wl.generate(work, args.seed)
    gen_s = time.perf_counter() - t0

    # setup_s = session start (JVM included) + the median of SETUP_REPS
    # set-ups (state load and warm-up)
    reps, spark = [], None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(spark)
            reps.append(time.perf_counter() - t0)
        tracer = Tracer(spark, bool(args.trace))
        t0 = time.perf_counter()
        s = wl.run(spark, tracer, t0 + args.seconds)
        run_s = time.perf_counter() - t0
        layers = per_layer(wl, s, tracer) if args.trace else None
    finally:
        if spark is not None:
            stop_jvm(spark)
    host["loadavg_after"] = os.getloadavg()
    # share of the machine's CPU time the hypervisor gave to other guests
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    host["steal_share"] = round(ticks[1] / ticks[0], 4) if ticks[0] else 0.0
    setup_s = session_s + median(reps)
    phases = {"generate_s": gen_s, "setup_s": session_s + sum(reps), "run_and_check_s": run_s,
              "total_s": time.perf_counter() - T_START}

    print(f"workload {wl.name} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    print("host " + json.dumps(host))
    print("inputs " + json.dumps(wl.describe()))
    print("phases " + json.dumps({k: round(v, 3) for k, v in phases.items()}))
    for line in workload_lines(wl, s, session_s, reps):
        print(line)
    for f in s.failures[:20]:
        print(f"FAILED {f}")
    if args.trace:
        for k, m in sorted(layers.items()):
            print(f"{k} {m['value']:.6g} {m['unit']}")
        path = os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json")
        tracer.write(path)
        print(f"spans {len(tracer.spans)} written to {os.path.relpath(path)}")
        metrics = layers
    else:
        metrics = end_to_end(s, setup_s)
    print(json.dumps({
        "correct": not s.failures,
        "attempted": s.attempted,
        "failed": len(s.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
