"""Gap-based sessionization (batch).

Pure window composition: a session boundary is a gap over ``gap_sec``
between consecutive events of a user; the session index is the running sum
of boundary flags.  Two shuffles total (the window partition and the final
group), both on ``user_id`` — the second reuses the first's partitioning.
All outputs are integers (epochs, counts) so the DuckDB oracle compares
hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gap_sessions(
    events: DataFrame,
    gap_sec: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """(user_id, session_idx, n_events, duration_sec, start_epoch) — one
    row per session.  ``order_tiebreak`` makes same-timestamp event order
    deterministic across engines."""
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_idx = (
        events.withColumn("_e", epoch)
        .withColumn("_gap", F.col("_e") - F.lag("_e").over(w))
        .withColumn(
            "_new", F.when(F.col("_gap").isNull() | (F.col("_gap") > gap_sec), 1).otherwise(0)
        )
        .withColumn("session_idx", F.sum("_new").over(run))
    )
    return with_idx.groupBy(user_col, "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("_e") - F.min("_e")).alias("duration_sec"),
        F.min("_e").alias("start_epoch"),
    )


def gap_sessions_sql(
    table: str = "events",
    gap_sec: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> str:
    """DuckDB twin — identical window/flag/grouping construction."""
    return f"""
WITH e AS (
  SELECT {user_col}, {order_tiebreak},
         -- FLOOR: duckdb epoch() keeps fractional seconds and BIGINT cast
         -- rounds; Spark's timestamp->long cast truncates
         CAST(FLOOR(epoch({ts_col})) AS BIGINT) AS _e
  FROM {table}
), flagged AS (
  SELECT {user_col}, {order_tiebreak}, _e,
         CASE WHEN _e - LAG(_e) OVER w IS NULL
                OR _e - LAG(_e) OVER w > {gap_sec}
              THEN 1 ELSE 0 END AS _new
  FROM e
  WINDOW w AS (PARTITION BY {user_col} ORDER BY _e, {order_tiebreak})
), idx AS (
  SELECT {user_col}, _e,
         -- CAST: DuckDB window SUM returns HUGEINT, which pandas renders
         -- as float64 while Spark emits bigint (the doc_stats lesson)
         CAST(SUM(_new) OVER (PARTITION BY {user_col} ORDER BY _e, {order_tiebreak}
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT {user_col}, session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       (MAX(_e) - MIN(_e)) AS duration_sec,
       MIN(_e) AS start_epoch
FROM idx
GROUP BY 1, 2
"""
