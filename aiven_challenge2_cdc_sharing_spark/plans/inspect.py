"""Physical-plan inspection: the formatted plan text that
``tools/plan_audit.py`` and ``tools/explain_dump.py`` read, and that the
plan assertions in ``tests/`` search for broadcasts, pushed filters and
pruned scans."""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
