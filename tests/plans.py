"""Physical-plan text for the tests that assert optimizer properties
(column pruning reaching the parquet scan, filter pushdown, broadcast
joins staying broadcast, hot paths inside whole-stage codegen)."""

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The formatted physical plan Spark would run for ``df``."""
    return df._jdf.queryExecution().executedPlan().toString()
