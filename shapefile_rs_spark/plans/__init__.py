"""Physical-plan inspection helpers.

The optimizer properties the engine relies on at 100 TB — column pruning
reaching the parquet scan, filter pushdown, broadcast joins staying
broadcast, hot paths inside whole-stage codegen — are asserted, not hoped
for.  These helpers give tests (and users auditing a deployment) one
place to read an executed plan and check those properties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The formatted physical plan Spark would run for ``df``."""
    return df._jdf.queryExecution().executedPlan().toString()


def read_schema(df: DataFrame) -> str:
    """The ``ReadSchema`` the parquet scan was pruned to ('' if no scan)."""
    plan = executed_plan(df)
    if "ReadSchema:" not in plan:
        return ""
    return plan.split("ReadSchema:")[1].splitlines()[0].strip()
