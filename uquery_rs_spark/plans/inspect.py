"""Physical-plan inspection — the scale feedback loop.

`bench.py` measures wall-clock; these helpers check the *shape* of the plan:
did the filter reach the parquet scan, did the dimension join go broadcast.
Used by tests to pin plan properties so regressions that would only hurt
at 100 TB are caught at sf0.001.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the formatted plan."""
    plan = formatted_plan(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "PushedFilters" in line)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)
