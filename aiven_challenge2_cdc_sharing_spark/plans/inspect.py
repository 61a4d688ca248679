"""Physical-plan inspection utilities.

The 100 TB contract of this engine is enforced here: tests assert that
dimension joins broadcast, predicates reach the parquet scan
(PushedFilters) and scans prune columns (ReadSchema).  A query that
silently regresses to a
shuffle join or a full-schema scan fails the suite, not just the
benchmark.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True if the scan's PushedFilters contains every fragment."""
    s = explain_str(df)
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", s)
    pushed = ",".join(m)
    return all(f in pushed for f in fragments)


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column lists of each scan's ReadSchema (pruning check)."""
    s = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", s):
        out.append([c.split(":")[0].strip() for c in m.group(1).split(",") if c])
    return out


def num_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan (each Exchange is a full data movement)."""
    return explain_str(df).count("Exchange ")
