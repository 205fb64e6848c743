"""Relational operators Spark lacks as single calls — as-of join and
gap sessionization — built as compositions of DataFrame ops (SURVEY
§2.3 'custom operators' disposition: composition first, UDF never).

Scale design:
- as_of_join: the union+window formulation — both inputs shuffle ONCE
  on the key, then a single ordered window pass carries the latest
  right-side payload forward. No range explosion, no per-row probing;
  state per partition is one row of carried payload. This is the
  standard distributed as-of at any scale (vs. DuckDB's native ASOF,
  which the oracle uses).
- sessionize: lag + conditional flag + running sum — two window passes
  over one key-shuffle, the classic gap-sessionization plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    suffix: str = "_right",
) -> DataFrame:
    """For each left row, attach the latest right row with
    right_ts <= left_ts on the same keys (left outer semantics).

    ``right`` must be unique per (keys, right_ts) — pre-aggregate if
    not, or the carried payload is ambiguous.
    Returns all left columns + right_ts as ``{right_ts}{suffix}`` +
    the payload columns.
    """
    lcols = left.columns
    l_tagged = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__rts"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__p_{c}")
            for c in right_payload
        ],
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in keys],
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(f"__p_{c}") for c in right_payload],
    ).select(*l_tagged.columns)  # align column order
    # right rows sort before left rows at equal ts => "<=" semantics
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l_tagged.unionByName(r_tagged)
    merged = merged.withColumn("__rts", F.last("__rts", ignorenulls=True).over(w))
    for c in right_payload:
        merged = merged.withColumn(f"__p_{c}", F.last(f"__p_{c}", ignorenulls=True).over(w))
    return merged.filter(F.col("__side") == 1).select(
        *lcols,
        F.col("__rts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__p_{c}").alias(c) for c in right_payload],
    )


def sessionize(
    events: DataFrame,
    key: str,
    ts_col: str,
    gap_seconds: int = 1800,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the time
    since the previous event of the same key exceeds ``gap_seconds``.

    Returns the input plus ``session_id`` (0-based per key).
    """
    tiebreak = [order_tiebreak] if order_tiebreak else []
    w_lag = Window.partitionBy(key).orderBy(ts_col, *tiebreak)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # microsecond-exact gap test (timestampdiff(SECOND,...) floors, which
    # mis-splits sessions whose gap falls inside (gap, gap+1) seconds)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    with_prev = events.withColumn("__prev_us", F.lag(us).over(w_lag))
    new_sess = F.when(
        F.col("__prev_us").isNull()
        | ((us - F.col("__prev_us")) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    return (
        with_prev.withColumn("__new", new_sess)
        .withColumn("session_id", F.sum("__new").over(w_run) - 1)
        .drop("__prev_us", "__new")
    )


def coalesce_intervals(
    df: DataFrame,
    key: str,
    start_col: str,
    end_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Merge overlapping or touching ``[start, end]`` intervals per key
    (gaps-and-islands): the classic running-max-end island scan. Returns
    one row per merged interval: ``(key, island, start_col, end_col)``
    with island ids 1-based in start order.

    Start/end must be orderable and comparable (bigint epoch-micros in
    the plan tier, so both engines agree bit-for-bit). One exchange on
    ``key``; both window passes and the reducing groupBy reuse that
    partitioning (HashPartitioning(key) satisfies the (key, island)
    clustering), so no further shuffle.
    """
    tiebreak = [order_tiebreak] if order_tiebreak else []
    w = Window.partitionBy(key).orderBy(start_col, *tiebreak)
    prev_max_end = F.max(end_col).over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_iv = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    return (
        df.withColumn("__new_iv", new_iv)
        .withColumn(
            "island",
            F.sum("__new_iv").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(key, "island")
        .agg(F.min(start_col).alias(start_col), F.max(end_col).alias(end_col))
    )
