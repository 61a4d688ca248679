"""Steadiness mode: repeat workloads over several seeds and report, for
each metric, the median, the quartiles and the spread (interquartile
distance as a share of the median), naming every metric whose spread
exceeds its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workloads cdc_trickle,cdc_catchup,registry_sample --seeds 1-10
    python3 perfbench/steady.py --workloads cdc_trickle --seeds 1-5 --overhead

``--overhead`` also makes a traced run per seed and reports the tracing
overhead: the traced minus the untraced median of each timed op.  Run
from the repository root; exits 1 when a run fails or a spread is over
its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# per-workload op timings a run prints above its result line
OP_LINES = re.compile(r"^(apply_p50_s|catchup_s|pass_s|read_p50_s) ([0-9.]+) s")


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int,
             gen_params: list[str]) -> tuple[dict, dict]:
    """(result JSON, op timings by name) of one benchmark run; the timings
    include ``run_s``, the run's own wall time."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    cmd += [f"--gen-param={p}" for p in gen_params]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    run_s = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    ops = {}
    for line in lines:
        m = OP_LINES.match(line)
        if m:
            ops[m.group(1)] = float(m.group(2))
        elif line.startswith("host "):
            ops["host"] = json.loads(line[5:])
    ops["run_s"] = run_s
    return json.loads(lines[-1]), ops


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as ``statistics.quantiles`` gives them."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--gen-param", action="append", default=[], metavar="NAME=VALUE",
                    help="passed on to run.py")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    over = []
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        traced: dict[str, list[float]] = {}
        plain: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            res, ops = run_once(wl, seed, seconds, 0, args.gen_param)
            if not res["correct"] or res["failed"]:
                over.append(f"{wl} seed {seed}: {res['failed']} of {res['attempted']} failed")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            host = ops.pop("host", {})
            run_s = ops.pop("run_s")
            print(f"{wl} seed {seed}: " + " ".join(
                f"{k}={m['value']:.4f}" for k, m in res["metrics"].items())
                + f"  (run {run_s:.1f} s, probe_s {host.get('probe_s')}, "
                f"steal {host.get('steal_share')})", flush=True)
            if args.overhead:
                for k, v in ops.items():
                    plain.setdefault(k, []).append(v)
                _, tops = run_once(wl, seed, seconds, 1, args.gen_param)
                tops.pop("host", None)
                tops.pop("run_s")
                for k, v in tops.items():
                    traced.setdefault(k, []).append(v)
        for k, v in values.items():
            if len(v) < 2:
                continue
            med, q1, q3, sp = spread(v)
            bound = bounds.get(k)
            flag = ""
            if bound is not None and sp > bound:
                flag = "  OVER BOUND"
                over.append(f"{wl} {k} spread {sp:.3f} > bound {bound}")
            elif bound is not None and sp > bound / 3:
                flag = "  (above a third of the bound)"
            print(f"{wl} {k}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f} "
                  f"spread {sp:.3f} bound {bound}{flag}")
        for k in traced:
            t, p = statistics.median(traced[k]), statistics.median(plain[k])
            print(f"{wl} tracing overhead {k}: traced {t:.4f} s untraced {p:.4f} s "
                  f"difference {t - p:+.4f} s")
    for o in over:
        print("NOT STEADY: " + o)
    return 1 if over else 0


if __name__ == "__main__":
    sys.exit(main())
