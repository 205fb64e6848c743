"""Event-time window plans: tumbling, sliding and session windows over
the batch events frame, each checked against a DuckDB oracle. They pin
the window semantics a Structured Streaming job would share with batch
(the same ``window`` / ``session_window`` specs), including the
NULL-event-time contract stated on ``_TUMBLING_ORACLE``.

Scale: tumbling/sliding aggs shuffle on (window, key) — bounded state,
uniform keys. Session windows shuffle per user.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import plan

DEC = "decimal(18,6)"
TS_FMT = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# Tumbling 1-hour counts per event type.
# ---------------------------------------------------------------------------

_TUMBLING_ORACLE = f"""
    -- WHERE ts IS NOT NULL states the engine contract the plan runs
    -- under: Spark's F.window DROPS NULL-event-time rows (pinned in
    -- tests/test_streaming_degenerate.py) where a bare GROUP BY
    -- time_bucket would keep a NULL-window group (r13 null-corpus)
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{TS_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


@plan("tumbling_hourly_counts", _TUMBLING_ORACLE)
def tumbling_hourly_counts(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Sliding 1-hour/30-minute value sums. Each event lands in exactly two
# 30-minute-aligned windows; the oracle replays that expansion with a
# UNION ALL of the two shifted bucketings. Decimal sums for exactness.
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = f"""
    WITH expanded AS (
      -- ts IS NOT NULL: F.window drops NULL event times (pinned
      -- NULL-event-time contract; see _TUMBLING_ORACLE)
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value
      FROM events WHERE ts IS NOT NULL
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
             event_type, value
      FROM events WHERE ts IS NOT NULL
    )
    SELECT strftime(ws, '{TS_FMT_DUCK}') AS window_start, event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM expanded
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


@plan("sliding_value_sums_30m", _SLIDING_ORACLE)
def sliding_value_sums_30m(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("value_sum"))
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "value_sum",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Session windows (30-minute gap) per user — F.session_window batch-side;
# the oracle derives the same sessions via gap sessionization, with
# session_end = last event + gap (Spark's session_window end semantics).
# ---------------------------------------------------------------------------

_SESSION_WINDOW_ORACLE = f"""
    WITH flagged AS (
      -- ts IS NOT NULL: F.session_window drops NULL event times
      -- (pinned NULL-event-time contract; see _TUMBLING_ORACLE)
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
           strftime(MAX(ts) + INTERVAL '30 minutes', '{TS_FMT_DUCK}') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
"""


@plan("session_window_stats", _SESSION_WINDOW_ORACLE)
def session_window_stats(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("value_sum"),
        )
        .select(
            "user_id",
            F.date_format("s.start", TS_FMT).alias("session_start"),
            F.date_format("s.end", TS_FMT).alias("session_end"),
            "n_events",
            "value_sum",
        )
        .orderBy("user_id", "session_start")
    )
