"""Shows that the snapshot check catches a wrong snapshot.

    python3 perfbench/selftest.py

Builds a small state table through the program (``merge_snapshot_batch``
over generated trickle batches), checks that it matches the independent
last-writer-wins replay, then corrupts the table's files three ways and
checks that each corruption is reported:

- a delete dropped (a tombstone turned back into a live row),
- a live row lost,
- a stale value (one column of one live row changed).

Exits 0 only when the clean table passes and every corruption fails.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(state: str) -> list[str]:
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(state)
                  for f in fs if f.endswith(".parquet"))


def _rewrite_first(state: str, pick, change) -> int:
    """Apply ``change`` to the first file holding a row ``pick`` selects;
    returns the key of the row changed."""
    for path in _files(state):
        t = pq.read_table(path)
        rows = [i for i, ok in enumerate(pick(t).to_pylist()) if ok]
        if rows:
            key = t.column("id")[rows[0]].as_py()
            # Spark wrote the timestamps as INT96; keep that encoding, and
            # drop the checksum sidecar the rewrite invalidates
            pq.write_table(change(t, rows[0]), path, use_deprecated_int96_timestamps=True)
            crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            return key
    raise RuntimeError("no row to corrupt")


def _set(t, col: str, i: int, value):
    vals = t.column(col).to_pylist()
    vals[i] = value
    return t.set_column(t.schema.get_field_index(col), col, [vals])


def main() -> int:
    import run

    out = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(out, f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run.prepare_env(work)
    sys.path.insert(0, ROOT)
    from aiven_challenge2_cdc_sharing_spark.schemas import CDC_ENVELOPE
    from aiven_challenge2_cdc_sharing_spark.session import get_spark
    from aiven_challenge2_cdc_sharing_spark.streaming.runtime import (
        N_SNAPSHOT_BUCKETS,
        merge_snapshot_batch,
    )

    import checks
    import gen
    from workloads import Samples, check_snapshot

    params = dataclasses.replace(gen.TRICKLE, n_keys=2000, key_skew=0.6)
    g = gen.EnvelopeGen(params, seed=7)
    events = g.initial()
    batches = [g.batch() for _ in range(40)]
    spark = get_spark("perfbench-selftest")
    ok = True
    try:
        clean = os.path.join(work, "clean")
        # several batches per merge keep the test short
        chunks = [events] + [[e for b in batches[i:i + 8] for e in b]
                             for i in range(0, len(batches), 8)]
        for i, chunk in enumerate(chunks):
            path = os.path.join(work, f"chunk{i}")
            gen.write_envelope_files(chunk, path, 1)
            merge_snapshot_batch(spark.read.schema(CDC_ENVELOPE).json(path), clean,
                                 N_SNAPSHOT_BUCKETS)
        events = [e for chunk in chunks for e in chunk]
        live = checks.live_rows(checks.lww_state(events))

        s = Samples()
        check_snapshot(spark, clean, live, "clean", s)
        print(f"clean table: {'passes' if not s.failures else s.failures}")
        ok &= not s.failures

        corruptions = {
            "delete dropped": (lambda t: t.column("__deleted"),
                               lambda t, i: _set(t, "__deleted", i, False)),
            "live row lost": (lambda t: pc.invert(t.column("__deleted")),
                              lambda t, i: t.take([j for j in range(t.num_rows) if j != i])),
            "stale value": (lambda t: pc.invert(t.column("__deleted")),
                            lambda t, i: _set(t, "phone", i, "+1-0000000")),
        }
        for name, (pick, change) in corruptions.items():
            bad = os.path.join(work, name.replace(" ", "_"))
            shutil.copytree(clean, bad)
            key = _rewrite_first(bad, pick, change)
            s = Samples()
            check_snapshot(spark, bad, live, name, s)
            caught = bool(s.failures)
            print(f"{name} (key {key}): {'caught: ' + s.failures[0] if caught else 'NOT CAUGHT'}")
            ok &= caught
    finally:
        run.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
