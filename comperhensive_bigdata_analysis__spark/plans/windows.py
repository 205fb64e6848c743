"""Window/temporal plans: sessionization, running totals, moving
averages, as-of join, range join, CUBE, percentiles — the analytic
surface beyond the reference's batch SQL (SURVEY §2.8 was empty; these
are the natural follow-ons the engine must still cover, each with a
DuckDB oracle).

Shuffle discipline: every plan here is ONE exchange on its key
(user_id / event_type) followed by ordered window passes — the shape
that scales linearly with data per key.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.relational import as_of_join, sessionize
from ..sources.tables import load_table
from . import plan

DEC = "decimal(18,6)"
TS_FMT = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# Gap sessionization (30-minute gap), aggregated per session.
# ---------------------------------------------------------------------------

_SESSION_ORACLE = f"""
    WITH flagged AS (
      -- ts IS NOT NULL: an event with unknown time cannot be placed
      -- in a session (the pinned streaming NULL-event-time contract;
      -- without it the engines' opposite NULL-ordering defaults also
      -- renumber every session — r13 mixed-corpus sweep)
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, value,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
           MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
"""


@plan("sessionize_events", _SESSION_ORACLE)
def sessionize_events(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    # NULL event times open no session (see oracle) — scan-pushed
    s = sessionize(
        e.filter(F.col("ts").isNotNull()),
        "user_id", "ts", gap_seconds=1800, order_tiebreak="event_id",
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # ntz->ltz is UTC-pinned
    return (
        s.withColumn("__us", us)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), TS_FMT).alias("session_start"),
            (F.max("__us") - F.min("__us")).alias("duration_us"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("value_sum"),
        )
        .orderBy("user_id", "session_id")
    )


# ---------------------------------------------------------------------------
# Running (cumulative) per-user totals.
# ---------------------------------------------------------------------------

_RUNNING_ORACLE = """
    -- ts IS NOT NULL: a running-by-time total cannot sequence an
    -- event with unknown time (pinned streaming contract; the bare
    -- spelling re-exposed Spark-NULLS-FIRST vs DuckDB-NULLS-LAST in
    -- both the sequence and the cumulative sums — r13 mixed sweep)
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS event_seq
    FROM events
    WHERE ts IS NOT NULL
    ORDER BY user_id, event_seq
"""


@plan("running_user_totals", _RUNNING_ORACLE)
def running_user_totals_batch(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()  # see oracle — scan-pushed
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.select(
            "event_id",
            "user_id",
            F.sum(F.col("value").cast(DEC)).over(wf).cast("double").alias("running_total"),
            F.row_number().over(w).cast("long").alias("event_seq"),
        )
        .orderBy("user_id", "event_seq")
    )


# ---------------------------------------------------------------------------
# 7-day moving average of daily value sums per event_type.
# ---------------------------------------------------------------------------

_MOVAVG_ORACLE = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(SUM(CAST(y AS DECIMAL(18,6)))
                OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mov_avg_7d
    FROM daily
    ORDER BY event_type, day
"""


@plan("moving_average_7d", _MOVAVG_ORACLE)
def moving_average_7d(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("y"))
    )
    wf = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, Window.currentRow)
    )
    return (
        daily.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (
                F.sum(F.col("y").cast(DEC)).over(wf).cast("double")
                / F.count(F.lit(1)).over(wf)
            ).alias("mov_avg_7d"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# As-of join: each purchase picks up the user's latest click at-or-before
# it. Spark side = union+window (operators/relational.py); oracle uses
# DuckDB's native ASOF LEFT JOIN.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = f"""
    WITH clicks AS (
      SELECT user_id, ts, MAX(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '{TS_FMT_DUCK}') AS purchase_ts,
           strftime(c.ts, '{TS_FMT_DUCK}') AS click_ts,
           c.click_value
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
    ORDER BY p.event_id
"""


@plan("asof_click_before_purchase", _ASOF_ORACLE)
def asof_click_before_purchase(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = as_of_join(
        purchases, clicks, ["user_id"], "ts", "ts", ["click_value"], suffix="_click"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT).alias("purchase_ts"),
        F.date_format("ts_click", TS_FMT).alias("click_ts"),
        "click_value",
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Range self-join: same-user event pairs within 5 minutes.
# ---------------------------------------------------------------------------

# Microsecond-exact bound: second-granularity diffs are a trap — DuckDB
# datediff('second') counts boundary CROSSINGS while Spark timestampdiff
# measures elapsed seconds, so a pair exactly at the bound with
# fractional seconds lands on different sides (surfaced at sf0.1).
_RANGE_ORACLE = """
    SELECT a.user_id, COUNT(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
    GROUP BY a.user_id
    ORDER BY a.user_id
"""


@plan("range_join_pairs", _RANGE_ORACLE)
def range_join_pairs(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (
                F.abs(F.col("a.us") - F.col("b.us")) <= 300_000_000
            ),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# CUBE over order status x priority (grouping-sets family, SURVEY §2.4).
# ---------------------------------------------------------------------------

_CUBE_ORACLE = """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    -- Spark omits the ()-grouping-set row on EMPTY input (engine seam,
    -- test_engine_seams.py); real groups always have >= 1 row
    HAVING COUNT(*) > 0
    ORDER BY status, priority
"""


@plan("cube_orders", _CUBE_ORACLE)
def cube_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


# ---------------------------------------------------------------------------
# Exact interpolated percentiles per group (median / p90).
# ---------------------------------------------------------------------------

_PCT_ORACLE = """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Analytic value functions: first/last/nth + percent_rank/cume_dist.
# Semantics (and the oracle) are the classic windows — first/last/nth
# over an UNBOUNDED-to-UNBOUNDED date frame, rank ratios over the
# price order — but the Spark shape derives them WITHOUT any window
# partitioned by o_orderpriority: that key has 5 values, so each
# window partition holds ~20% of ALL orders in one task AQE cannot
# split, and none of these functions carries a rank filter, so
# WindowGroupLimit's map-side prune never applies. Instead:
# first/third come from a salted exact top-3 and last from a salted
# top-1 in reverse order (operators/skew.salted_top_k), census-sized
# and broadcast back; percent_rank = (r-1)/(c-1) and cume_dist = r/c are
# integer formulas of the exact rank r and count c from
# operators/skew.distributed_scan (the ordering ends in o_orderkey,
# so ranks have no peers and rank == row_number). Rank ratios stay
# integer arithmetic -> engine-independent doubles.
# PRECONDITION (pinned in tools/roundend_gate.py, r13 dup sweep):
# o_orderkey unique — the rank==row_number identity needs the ORDER BY
# to end in a unique tiebreak; duplicated keys create true peers,
# where ANSI percent_rank/cume_dist take peer-group values the rank
# spine deliberately does not compute.
# ---------------------------------------------------------------------------

_VALUE_FN_ORACLE = """
    SELECT o_orderkey, o_orderpriority,
           FIRST_VALUE(o_totalprice) OVER w_date AS first_price,
           LAST_VALUE(o_totalprice) OVER w_date AS last_price,
           NTH_VALUE(o_totalprice, 3) OVER w_date AS third_price,
           PERCENT_RANK() OVER w_price AS price_pct_rank,
           CUME_DIST() OVER w_price AS price_cume_dist
    FROM orders
    WINDOW
      w_date AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
      w_price AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
"""


@plan("window_value_functions", _VALUE_FN_ORACLE)
def window_value_functions(spark, sf_dir):
    from ..operators.skew import distributed_scan, salted_top_k

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice"
    )
    # LAZY persist: the three top-k legs and the rank spine each
    # consume this projection; without the cache the pruned orders
    # scan runs four times (measured 64x: 13.2s -> 10.3s with it).
    # Lifecycle-registered (cache.py): released by the session owner
    # at phase boundaries via release_plan_caches().
    from ..cache import register_plan_cache

    o = register_plan_cache(o)
    # per-priority date-order endpoints, census-sized (5 rows each):
    # first and third from one salted exact top-3 in date order, last
    # from a salted top-1 in reverse date order (struct min/max would
    # do it in one aggregate but compiles to a keyed SortAggregate,
    # which the plan-shape suite forbids). nth_value semantics keep
    # NULL for a partition with < 3 rows via the left join below.
    top3 = salted_top_k(
        o, ["o_orderpriority"], ["o_orderdate", "o_orderkey"], 3
    )
    firsts = top3.filter(F.col("__rk") == 1).select(
        "o_orderpriority", F.col("o_totalprice").alias("first_price")
    )
    third = top3.filter(F.col("__rk") == 3).select(
        "o_orderpriority", F.col("o_totalprice").alias("third_price")
    )
    lasts = salted_top_k(
        o,
        ["o_orderpriority"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
        1,
    ).select("o_orderpriority", F.col("o_totalprice").alias("last_price"))
    ranked = distributed_scan(
        o,
        ["o_orderpriority"],
        ["o_totalprice", "o_orderkey"],
        rank_col="__r",
        total_count_col="__c",
    )
    r, c = F.col("__r"), F.col("__c")
    # NULL-SAFE joins back on the partition key: a NULL
    # o_orderpriority is a legitimate window partition in both
    # engines; plain equi-joins would silently drop its rows (r13
    # null-corpus sweep). Each leg renames its key so the null-safe
    # condition needs no aliases.
    def nsjoin(left, right, rk, how="inner"):
        return left.join(
            F.broadcast(right.withColumnRenamed("o_orderpriority", rk)),
            F.col("o_orderpriority").eqNullSafe(F.col(rk)),
            how,
        ).drop(rk)

    return (
        nsjoin(
            nsjoin(nsjoin(ranked, firsts, "__kf"), lasts, "__kl"),
            third,
            "__kt",
            "left",
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            "first_price",
            "last_price",
            "third_price",
            F.when(
                c > 1, (r - 1).cast("double") / (c - 1).cast("double")
            )
            .otherwise(F.lit(0.0))
            .alias("price_pct_rank"),
            (r.cast("double") / c.cast("double")).alias("price_cume_dist"),
        )
        .orderBy("o_orderkey")
    )


@plan("percentile_prices", _PCT_ORACLE)
def percentile_prices(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Share-of-parent: each nation's fraction of its region's revenue — the
# windowed-aggregate-over-an-aggregate shape (GROUP BY then SUM OVER
# PARTITION). The grouped frame is ~25 rows, so the window pass is
# trivial; all the weight is in the one fact aggregation below it. The
# DECIMAL revenue flows INTO the window sum (exact, order-insensitive —
# a double window sum would depend on per-engine row order) and only
# the final division runs on doubles, floored at 1e-6.
# ---------------------------------------------------------------------------

_SHARE_ORACLE = """
    WITH nat AS (
      SELECT r_name AS region, n_name AS nation,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev_dec
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    )
    SELECT region, nation,
           CAST(rev_dec AS DOUBLE) AS revenue,
           FLOOR(CAST(rev_dec AS DOUBLE) * 1e6
                 / CAST(SUM(rev_dec) OVER (PARTITION BY region) AS DOUBLE)) / 1e6
             AS region_share
    FROM nat
    ORDER BY region, nation
"""


@plan("revenue_share_within_region", _SHARE_ORACLE)
def revenue_share_within_region(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec"))
    )
    w = Window.partitionBy("region")
    rev = F.col("rev_dec").cast("double")
    tot = F.sum("rev_dec").over(w).cast("double")
    return nat.select(
        "region",
        "nation",
        rev.alias("revenue"),
        (F.floor(rev * 1e6 / tot) / 1e6).alias("region_share"),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# Interval coalescing (gaps-and-islands MERGE, not gap sessionization):
# each event opens a fixed 5-minute activity interval; overlapping or
# touching intervals per user are merged with the classic running-max-end
# island scan, then reduced to per-user coverage stats. All arithmetic is
# on BIGINT epoch-microseconds, so both engines agree bit-for-bit. One
# exchange on user_id, two ordered window passes over it, one combine.
# ---------------------------------------------------------------------------

_IVL_US = 300_000_000  # 5 minutes in microseconds

_INTERVALS_ORACLE = f"""
    WITH iv AS (
      -- NULL event times open no interval (the pinned streaming
      -- NULL-event-time contract, tests/test_streaming_degenerate.py;
      -- r13 null-corpus sweep) — an unknown time cannot be ordered,
      -- merged, or measured
      SELECT user_id, event_id,
             epoch_us(ts) AS s_us,
             epoch_us(ts) + {_IVL_US} AS e_us
      FROM events WHERE ts IS NOT NULL
    ), flagged AS (
      SELECT user_id, s_us, e_us,
             CASE WHEN s_us > COALESCE(
                    MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING),
                    -9223372036854775808)
                  THEN 1 ELSE 0 END AS new_iv,
             event_id
      FROM iv
    ), isl AS (
      SELECT user_id, s_us, e_us,
             SUM(new_iv) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ), merged AS (
      SELECT user_id, island, MIN(s_us) AS ivs, MAX(e_us) AS ive
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           COUNT(*) AS n_intervals,
           CAST(SUM(ive - ivs) AS BIGINT) AS covered_us,
           MAX(ive - ivs) AS longest_us
    FROM merged
    GROUP BY user_id
    ORDER BY user_id
"""


@plan("merge_event_intervals", _INTERVALS_ORACLE)
def merge_event_intervals(spark, sf_dir):
    from ..operators.relational import coalesce_intervals

    e = load_table(spark, sf_dir, "events")
    s_us = F.unix_micros(F.col("ts").cast("timestamp"))
    # NULL event times open no interval (pinned streaming contract;
    # see the oracle comment) — pushed to the scan
    iv = e.filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        s_us.alias("s_us"),
        (s_us + F.lit(_IVL_US)).alias("e_us"),
    )
    merged = coalesce_intervals(
        iv, "user_id", "s_us", "e_us", order_tiebreak="event_id"
    ).select("user_id", F.col("s_us").alias("ivs"), F.col("e_us").alias("ive"))
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.col("ive") - F.col("ivs")).alias("covered_us"),
            F.max(F.col("ive") - F.col("ivs")).alias("longest_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Daily value series with LOCF (last-observation-carried-forward) over a
# dense user x day spine — the time-series densification forecasting
# pipelines need (dense_month_status_grid fills zeros; this carries the
# last EXACT DECIMAL observation forward, so the fill is engine-exact
# and only the final cast emits a double). The spine cross-join is
# |users| x |days| (both tiny relative to events); the fill is one
# ordered window pass inside the user_id partitioning.
# ---------------------------------------------------------------------------

_LOCF_ORACLE = """
    WITH bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi FROM events
    ), days AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ), users AS (
      SELECT DISTINCT user_id FROM events
    ), daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), spine AS (
      SELECT u.user_id, d.day FROM users u CROSS JOIN days d
    )
    SELECT spine.user_id, CAST(spine.day AS VARCHAR) AS day,
           CAST(last_value(v IGNORE NULLS) OVER (
                  PARTITION BY spine.user_id ORDER BY spine.day
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS v_filled,
           (v IS NOT NULL) AS observed
    FROM spine LEFT JOIN daily
      ON spine.user_id = daily.user_id AND spine.day = daily.day
    ORDER BY spine.user_id, spine.day
"""


@plan("daily_value_locf", _LOCF_ORACLE)
def daily_value_locf(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    day = F.to_date(F.col("ts"))
    bounds = e.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    users = e.select("user_id").distinct()
    daily = e.groupBy("user_id", day.alias("day")).agg(
        F.sum(F.col("value").cast(DEC)).alias("v")
    )
    spine = users.crossJoin(F.broadcast(days))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.col("day").cast("string").alias("day"),
            F.last("v", ignorenulls=True).over(w).cast("double").alias("v_filled"),
            F.col("v").isNotNull().alias("observed"),
        )
        .orderBy("user_id", "day")
    )


# ---------------------------------------------------------------------------
# Robust dispersion: median absolute deviation per group. Two exact
# percentile passes — medians per group, broadcast back, then the median
# of |x - med|. ROUND(...,6) absorbs the engines' last-ulp interpolation
# difference (same dodge as percentile_prices). Both aggregations are
# per-group percentiles, not global sorts.
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
    WITH med AS (
      SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS p50
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           ROUND(MAX(m.p50), 6) AS median_price,
           ROUND(quantile_cont(abs(o.o_totalprice - m.p50), 0.5), 6) AS mad
    FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
"""


@plan("mad_order_prices", _MAD_ORACLE)
def mad_order_prices(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50")
    )
    return (
        o.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.max("p50"), 6).alias("median_price"),
            F.round(
                F.expr("percentile(abs(o_totalprice - p50), 0.5)"), 6
            ).alias("mad"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) per order priority: orders strictly more
# expensive than EVERY strictly-earlier order in their priority class.
# Classic skyline needs an O(n^2) dominance self-join; on a total
# date order it collapses to one running-max window with a RANGE frame
# ending 1 day before the current row (the range frame — not ROWS —
# is what keeps same-day peers out of each other's comparison set).
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
    WITH d AS (
      -- an order with UNKNOWN date cannot sit on a date-ordered
      -- frontier: NULL dates are excluded on BOTH sides (r13
      -- null-corpus sweep — the bare spelling put every NULL-date row
      -- on the frontier here while the plan's day equi-join dropped
      -- them all)
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS epoch_day
      FROM orders WHERE o_orderdate IS NOT NULL
    ),
    m AS (
      SELECT *,
             MAX(o_totalprice) OVER (
               PARTITION BY o_orderpriority ORDER BY epoch_day
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_max
      FROM d
    )
    SELECT o_orderpriority, epoch_day, o_orderkey, o_totalprice
    FROM m
    WHERE prev_max IS NULL OR o_totalprice > prev_max
    ORDER BY o_orderpriority, epoch_day, o_orderkey
"""


@plan("pareto_frontier_orders", _PARETO_ORACLE)
def pareto_frontier_orders(spark, sf_dir):
    """Per-priority skyline: orders not dominated by any strictly
    earlier, strictly pricier order.

    100 TB: the running range-max is computed on a per-(priority, day)
    CENSUS — max price per day (map-side-combined aggregate over the
    raw rows), exclusive prefix-max over the day order in a window
    whose partitions hold only ~|days| rows, broadcast-joined back —
    instead of a range window over the raw table, which would sort
    each priority's ENTIRE order set (~20% of the table for a 5-value
    key) in one task AQE cannot split, with no WindowGroupLimit prune
    (running max has no rank filter). No self-join either (the naive
    dominance formulation is a quadratic theta-join). Output is the
    frontier only — expected O(log n) rows per partition for
    exchangeable arrivals.
    """
    o = load_table(spark, sf_dir, "orders")
    # NULL dates excluded (see oracle comment) — pushed to the scan
    d = o.filter(F.col("o_orderdate").isNotNull()).select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("epoch_day"),
    )
    day_max = d.groupBy("o_orderpriority", "epoch_day").agg(
        F.max("o_totalprice").alias("__dmax")
    )
    w_prev = (
        Window.partitionBy("o_orderpriority")
        .orderBy("epoch_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = day_max.select(
        F.col("o_orderpriority").alias("__pp"),
        F.col("epoch_day").alias("__pd"),
        F.max("__dmax").over(w_prev).alias("prev_max"),
    )
    # null-safe on the priority key: a NULL priority is a legitimate
    # window partition (epoch_day is non-NULL by the filter above)
    m = d.join(
        F.broadcast(prev),
        F.col("o_orderpriority").eqNullSafe(F.col("__pp"))
        & (F.col("epoch_day") == F.col("__pd")),
    ).drop("__pp", "__pd")
    return (
        m.filter(
            F.col("prev_max").isNull() | (F.col("o_totalprice") > F.col("prev_max"))
        )
        .select("o_orderpriority", "epoch_day", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "epoch_day", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Rolling anomaly score: each day's revenue z-scored against its own
# trailing 30-day window. Frame sums stay DECIMAL (exact, associative,
# order-free); the per-row moments go through the FLOOR-then-cast
# discipline (see autocorr_lag7_revenue) before the double algebra, so
# both engines compute identical z values. Degenerate windows (fewer
# than 10 days, or zero variance after flooring) yield NULL rather than
# a divide-by-zero.
# ---------------------------------------------------------------------------

_ROLLZ_ORACLE = """
    WITH daily AS (
      -- ts IS NOT NULL: a daily series has no NULL day; the phantom
      -- NULL-day row otherwise shifts every trailing frame by the
      -- engines' opposite NULL-ordering defaults (r13 mixed sweep)
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,6))) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    fr AS (
      SELECT day, y,
             COUNT(*) OVER w AS n,
             CAST(FLOOR(SUM(y) OVER w) AS DOUBLE) AS s1,
             CAST(FLOOR(SUM(y * y) OVER w) AS DOUBLE) AS s2
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(y AS DOUBLE) AS revenue,
           CASE WHEN n >= 10
                 AND CAST(n AS DOUBLE) * s2 - s1 * s1 > 0
                THEN (CAST(y AS DOUBLE) - s1 / CAST(n AS DOUBLE))
                       / SQRT((CAST(n AS DOUBLE) * s2 - s1 * s1)
                              / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
           END AS z
    FROM fr
    ORDER BY day
"""


@plan("rolling_zscore_days", _ROLLZ_ORACLE)
def rolling_zscore_days(spark, sf_dir):
    """Trailing-30-day z-score of daily revenue (NULL during warm-up).

    100 TB: the window runs on the day-grain aggregate (~|days| rows,
    already map-side combined), never raw events; decimal frame sums
    are exact regardless of the engine's accumulation order.
    """
    e = load_table(spark, sf_dir, "events")
    # no NULL day in a daily series (see oracle) — scan-pushed
    daily = e.filter(F.col("ts").isNotNull()).groupBy(
        F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("y")
    )
    w = Window.orderBy("day").rowsBetween(-29, 0)
    fr = daily.select(
        "day",
        "y",
        F.count(F.lit(1)).over(w).alias("n"),
        F.floor(F.sum("y").over(w)).cast("double").alias("s1"),
        F.floor(F.sum(F.col("y") * F.col("y")).over(w)).cast("double").alias("s2"),
    )
    nd = F.col("n").cast("double")
    var_num = nd * F.col("s2") - F.col("s1") * F.col("s1")
    z = (F.col("y").cast("double") - F.col("s1") / nd) / F.sqrt(
        var_num / (nd * (F.col("n") - 1).cast("double"))
    )
    return fr.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("y").cast("double").alias("revenue"),
        F.when((F.col("n") >= 10) & (var_num > 0), z).alias("z"),
    ).orderBy("day")
