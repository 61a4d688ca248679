"""Independent correctness checks.

The CDC workloads are checked against ``lww_state``: a plain-Python
last-writer-wins replay of exactly the events the program was given,
ordered by ``(ts_ms, seq)``, with deletes kept as tombstones.  None of
the program's code is used to compute the expected answer.

Registry queries are checked against their DuckDB oracle SQL over the
same tables, with the comparison of ``tools/oracle_check.py``.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from collections import Counter

UTC = dt.timezone.utc
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def lww_apply(state: dict[int, tuple], events) -> dict[int, tuple]:
    """Independent last-writer-wins replay into ``state``: key -> (ts_ms,
    seq, op, image), deletes kept as tombstones (image = before-image)."""
    for op, before, after, ts_ms, seq in events:
        img = before if op == "d" else after
        key = img[0]
        cur = state.get(key)
        if cur is None or (ts_ms, seq) > (cur[0], cur[1]):
            state[key] = (ts_ms, seq, op, img)
    return state


def lww_state(events) -> dict[int, tuple]:
    return lww_apply({}, events)


def live_rows(state: dict[int, tuple]) -> dict[int, tuple]:
    """Published view of an ``lww_state``: key -> row image of live keys."""
    return {k: v[3] for k, v in state.items() if v[2] != "d"}


def epoch_s(t) -> int:
    """Whole UTC seconds of a datetime (naive ones are UTC: the benchmark
    runs with TZ=UTC and the session time zone is UTC)."""
    if t.tzinfo is None:
        t = t.replace(tzinfo=UTC)
    return int(t.timestamp())


def canon_row(r) -> tuple:
    """(id, full_name, email, phone, classification, created_at epoch s)."""
    return (int(r[0]), r[1], r[2], r[3], r[4], epoch_s(r[5]))


def expected_dashboards(live: dict[int, tuple]) -> dict:
    """The three dashboards of the reference (count by classification,
    new customers per hour, recent 10 customers) over the live rows."""
    rows = live.values()
    hours = Counter(epoch_s(r[5]) // 3600 * 3600 for r in rows)
    recent = sorted(rows, key=lambda r: (epoch_s(r[5]), r[0]), reverse=True)[:10]
    return {
        "by_classification": sorted(Counter(r[4] for r in rows).items()),
        "per_hour": sorted(hours.items()),
        "recent": [(r[0], r[1], r[4], epoch_s(r[5])) for r in recent],
    }


def snapshot_diff(got_rows, live: dict[int, tuple]) -> list[str]:
    """Differences between a collected snapshot and the expected live rows;
    empty when they are equal."""
    got: dict[int, tuple] = {}
    problems = []
    for r in got_rows:
        c = canon_row(r)
        if c[0] in got:
            problems.append(f"duplicate key {c[0]}")
        got[c[0]] = c
    want = {k: canon_row(v) for k, v in live.items()}
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    changed = [k for k in want.keys() & got.keys() if want[k] != got[k]]
    for label, keys in (("missing", missing), ("unexpected", extra), ("wrong", changed)):
        if keys:
            k = min(keys)
            problems.append(
                f"{len(keys)} {label} keys, e.g. {k}: got {got.get(k)} want {want.get(k)}"
            )
    return problems


def oracle_diff(sf_dir: str, tables, sql: str, cols, rows) -> str | None:
    """How a query's Spark rows differ from its oracle SQL run by DuckDB
    over the parquet tables in ``sf_dir``; None when they agree."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import canon

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    con.close()
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)}, oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows, oracle {len(orows)}"
    if canon(rows, cols) != canon(orows, ocols):
        return "values differ from the oracle"
    return None
