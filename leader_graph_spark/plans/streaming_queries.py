"""Event-time queries over ``events``: tumbling, sliding and session
windows and an event-time interval join, each with the oracle the
correctness gate checks. The tumbling window also runs as a Structured
Streaming job (stream == batch asserted in tests/test_streaming.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from leader_graph_spark.plans.registry import query
from leader_graph_spark.sources.tables import load_table
from leader_graph_spark.streaming.jobs import session_windows, tumbling_counts

_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


@query("events_tumbling_hourly", _TUMBLING_ORACLE, bench=True, tags=("streaming-tumbling",))
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (batch twin of the
    watermarked streaming job in streaming/jobs.py)."""
    events = load_table(spark, sf_dir, "events")
    return tumbling_counts(events, window="1 hour")


_SLIDING_ORACLE = """
WITH expanded AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS window_start,
         event_type, value
  FROM events
)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM expanded
GROUP BY 1, 2, 3
"""


@query("events_sliding_hour_by_30m", _SLIDING_ORACLE, tags=("streaming-sliding",))
def events_sliding_hour_by_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour size, 30 minute slide): every event
    lands in two windows; the oracle expands each row into its member
    windows explicitly."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL '5 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '5 minutes' AS session_end,
       user_id,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_id
"""


@query("events_session_windows", _SESSION_ORACLE, tags=("streaming-session",))
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 5-minute inactivity gap — Spark's
    native ``session_window`` (streaming-capable); the oracle is the
    classic lag/cumsum sessionization."""
    events = load_table(spark, sf_dir, "events")
    return session_windows(events, gap="5 minutes")


_CLICK_PURCHASE_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       c.ts AS click_ts, p.ts AS purchase_ts
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 1 HOUR
"""


@query("clicks_with_recent_purchase", _CLICK_PURCHASE_ORACLE, tags=("streaming-join",))
def clicks_with_recent_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join: clicks × same-user purchases within
    the preceding hour. As a stream-stream join it would carry
    watermarks on both sides so join state is evictable; the batch form
    is the same plan without state."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (F.col("purchase_ts") >= F.expr("click_ts - INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
