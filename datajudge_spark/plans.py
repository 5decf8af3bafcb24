"""Plan capture for failure reporting.

The reference compiles the literal SQL it ran into every failing
``TestResult`` (constraints/base.py:268-287). Our analog: render the
DataFrame's optimized logical plan (what Catalyst will execute) lazily — only
when a constraint actually fails — so the happy path pays nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    """Optimized logical plan of a DataFrame as a string (best-effort)."""
    try:
        qe = df._jdf.queryExecution()  # noqa: SLF001 - py4j handle, public-ish
        return qe.optimizedPlan().toString()
    except Exception:
        try:
            return str(df._plan)  # Spark Connect
        except Exception:
            return f"<unavailable plan; schema={df.schema.simpleString()}>"


def render_plans(dfs) -> list[str] | None:
    """Render ``dfs``, which may be a thunk that builds them."""
    if callable(dfs):
        dfs = dfs()
    if not dfs:
        return None
    return [plan_string(df) for df in dfs]
