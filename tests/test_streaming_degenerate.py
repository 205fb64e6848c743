"""NULL-event-time contract of the event-time window plans
(plans/stream_parity.py, stated on ``_TUMBLING_ORACLE``): rows with a
NULL ``ts`` are excluded from windowed aggregates — Spark's window() is
generator-shaped and produces no bucket for a NULL input — while NULL
grouping KEYS group normally.
"""

from __future__ import annotations

import os
from datetime import datetime

from comperhensive_bigdata_analysis__spark.plans.stream_parity import (
    tumbling_hourly_counts,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

ROWS = [
    (1, datetime(2024, 1, 1, 10, 0, 0), 1, "view", 1.0, None),
    (2, datetime(2024, 1, 1, 10, 30, 0), 1, "click", 2.0, None),
    (3, None, 2, "view", 3.0, None),  # NULL event time
    (4, datetime(2024, 1, 1, 11, 0, 0), None, None, None, None),  # NULL keys
    (5, datetime(2024, 1, 1, 11, 5, 0), 2, "view", None, None),  # NULL value
]


def test_batch_window_drops_null_ts_rows_only(spark, tmp_path):
    sf_dir = str(tmp_path)
    spark.createDataFrame(ROWS, EVENTS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    got = tumbling_hourly_counts(spark, sf_dir).collect()
    # 4 rows with a ts -> 4 (window, type) groups; the NULL-ts row is
    # excluded (generator semantics) while the NULL event_type GROUPS
    assert sum(r["n_events"] for r in got) == 4
    assert any(r["event_type"] is None for r in got)
