"""Core relational plans — the reference's query surface (SURVEY §2.2-§2.8)
re-expressed on the driver corpus.

Each plan cites the reference query shape it generalizes (Q0-Q12,
SURVEY §2.12). Scale notes inline: broadcasts for dimension joins,
partial aggregation everywhere (groupBy.agg is map-side combined),
TakeOrderedAndProject for top-k, no driver-side row handling.

Determinism contract with the DuckDB oracle:
- SUM/AVG over doubles casts operands to DECIMAL first (exact,
  order-insensitive) and casts the result back to double.
- Timestamps are rendered to ISO strings with date_format/strftime.
- Every ORDER BY ... LIMIT has a unique tiebreaker key.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import plan

DEC = "decimal(18,6)"

#: Narrow operand types for decimal MULTIPLICATION: DuckDB silently falls
#: back to double math when a decimal product's precision would exceed 38,
#: so products use (12,4) x (7,4) -> exact decimal in both engines.
PRICE_DEC = "decimal(12,4)"
RATE_DEC = "decimal(6,4)"


def _dec(c):
    return (c if not isinstance(c, str) else F.col(c)).cast(DEC)


def disc_price_sum(price_col: str, disc_col: str, alias: str):
    """Exact SUM(price * (1 - discount)) as double — the decimal widths
    keep both Spark and DuckDB on integer (decimal) arithmetic. The
    final conversion hops through STRING: DuckDB's direct
    decimal->double cast DOUBLE-ROUNDS once the unscaled value exceeds
    2^53 (hugeint->double rounds, then the scale division rounds
    again) where Spark/Java round correctly — decimal->string is exact
    and string->double correctly rounded in BOTH engines at any
    magnitude (engine seam 4, test_engine_seams.py; found by the r13
    dup-corpus value sweep at 3x sums, and the guard that matters at
    100 TB where sums always exceed 2^53)."""
    prod = F.col(price_col).cast(PRICE_DEC) * (
        F.lit(1).cast(RATE_DEC) - F.col(disc_col).cast(RATE_DEC)
    )
    return F.sum(prod).cast("string").cast("double").alias(alias)


#: The oracle-side spelling of disc_price_sum (via-string: seam 4).
DISC_PRICE_SQL = (
    "CAST(CAST(SUM(CAST({p} AS DECIMAL(12,4))"
    " * (CAST(1 AS DECIMAL(6,4)) - CAST({d} AS DECIMAL(6,4)))) AS VARCHAR)"
    " AS DOUBLE)"
)


def _dsum(c, alias):
    """Exact sum of a double column, returned as double. Plain cast on
    BOTH sides (the paired oracles spell CAST(SUM(...) AS DOUBLE)):
    symmetric, and the DECIMAL(18,6) sums stay under the 2^53 unscaled
    bound in every gate corpus, so seam 4 can't bite here — the
    via-string hop is reserved for the scale-8 revenue products whose
    dup-corpus sums already cross it (see disc_price_sum)."""
    return F.sum(_dec(c)).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Flagship: pricing summary (TPC-H Q1 shape; generalizes reference Q6/Q7 —
# SUM/AVG + GROUP BY + ORDER BY, ipynb:1814-1816, 1952-1954).
# Scale: single shuffle on (returnflag, linestatus) — 6 groups; partial
# agg collapses ~everything map-side. No other exchange in the plan.
# ---------------------------------------------------------------------------
@plan(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE)
               AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    # fan_out: the five decimal partial-aggregates are the plan's cost,
    # and on a one-row-group input they run as ONE task (guide §2.5);
    # the round-robin exchange is a no-op on split-capable layouts and
    # the date predicate still pushes through it into the scan
    # (pinned by test_pricing_summary_pushdown_and_partial_agg).
    # Decimal sums are exact, so partial-agg order cannot move values.
    from ..sources.tables import fan_out

    l = fan_out(load_table(spark, sf_dir, "lineitem"))
    cnt = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            disc_price_sum("l_extendedprice", "l_discount", "sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / cnt).alias("avg_qty"),
            (F.sum(_dec("l_discount")).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Multi-join revenue rollup (reference has only client-side joins J1/J2;
# this is the same capability in-engine). nation/region are tiny -> the
# engine broadcasts them explicitly; customer⋈orders⋈lineitem shuffles on
# the join keys and AQE picks sizes at runtime.
# ---------------------------------------------------------------------------
@plan(
    "revenue_by_nation",
    """
    SELECT n_name AS nation,
           -- decimal -> VARCHAR -> DOUBLE, not a direct double cast:
           -- DuckDB double-rounds decimal->double once the unscaled
           -- value exceeds 2^53 (hugeint->double rounds, then the
           -- scale division rounds again) where Spark/Java round
           -- correctly; the string hop is exact then correctly
           -- rounded in BOTH engines at any magnitude (engine seam 4,
           -- test_engine_seams.py)
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC, nation
    """,
)
def revenue_by_nation(spark, sf_dir):
    # Aggregate BELOW the join: lineitem (the 40x-larger fact) collapses
    # to one decimal partial per order BEFORE touching orders/customer,
    # so the joins move ~|orders| rows instead of ~|lineitem| — and the
    # orderkey hash partitioning from the aggregation is reused by the
    # orders join (no second shuffle of the aggregated side). Decimal
    # partials re-summed at nation level are bit-identical to the
    # single-pass sum (decimal addition is exact), so the oracle is
    # unchanged. This is the standard partial-agg pushdown Catalyst
    # doesn't do on its own; at 1000 executors it's the difference
    # between shuffling the fact table and shuffling its group count.
    from ..sources.tables import fan_out

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # KEYED fan-out (r14, guide §2.4/§2.5): on a one-row-group input
    # the per-order decimal partial aggregation — the plan's dominant
    # cost, measured 1.46 s of the 1.86 s row at sf0.1 — runs as ONE
    # task. Hash-partitioning lineitem on l_orderkey parallelizes it
    # AND satisfies the aggregation's required distribution, so the
    # aggregation's own exchange is replaced rather than added to
    # (round-robin here would scatter each order's rows and kill
    # map-side combining — measured 0.94x in r13; keyed measured
    # 1.57x/1.54x at 32/8 cores, values identical). No-op on
    # split-capable layouts, like every fan_out call.
    l = fan_out(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    n = load_table(spark, sf_dir, "nation")
    prod = F.col("l_extendedprice").cast(PRICE_DEC) * (
        F.lit(1).cast(RATE_DEC) - F.col("l_discount").cast(RATE_DEC)
    )
    per_order = l.groupBy("l_orderkey").agg(
        F.sum(prod).alias("__rev_dec"),
        F.count(F.lit(1)).alias("__items"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            # via-string: exact then correctly rounded in both engines
            # (seam 4 — DuckDB decimal->double double-rounds past 2^53)
            F.sum("__rev_dec").cast("string").cast("double").alias("revenue"),
            F.sum("__items").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# Filter + arithmetic projection (reference Q2/Q3 shape: multi-column
# arithmetic + date predicate + sort, ipynb:536-549/708-717). Per-row
# double math is IEEE-deterministic, no decimal needed. The date filter
# and 4-column projection both push into the parquet scan.
# ---------------------------------------------------------------------------
@plan(
    "filter_project_arith",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_discount > 0.05
    ORDER BY l_orderkey, l_linenumber
    """,
)
def filter_project_arith(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") > 0.05)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            rev.alias("revenue"),
            (rev * (F.lit(1.0) + F.col("l_tax"))).alias("charged"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Top-k (reference Q8: sum by state ORDER BY 2 DESC LIMIT 10, ipynb:2116-2118).
# Spark plans this as TakeOrderedAndProject — no global sort.
# ---------------------------------------------------------------------------
@plan(
    "top_customers",
    """
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spend,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    ORDER BY total_spend DESC, o_custkey
    LIMIT 10
    """,
)
def top_customers(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(_dsum("o_totalprice", "total_spend"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("total_spend").desc(), "o_custkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# DISTINCT projection (reference Q4/Q5/D1, ipynb:933-936).
# ---------------------------------------------------------------------------
@plan(
    "distinct_status_priority",
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def distinct_status_priority(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# IN-subquery semi-join (reference P6/J3: WHERE x IN (SELECT ...),
# ipynb:2281). Expressed as an explicit left-semi join; the subquery side
# is tiny -> broadcast.
# ---------------------------------------------------------------------------
@plan(
    "semi_join_region_customers",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 1))
    ORDER BY c_custkey
    """,
)
def semi_join_region_customers(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sub = n.filter(F.col("n_regionkey").isin(0, 1)).select("n_nationkey")
    return (
        c.join(F.broadcast(sub), c.c_nationkey == sub.n_nationkey, "left_semi")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Left equi-join with differing key names (reference J1: pandas merge
# left_on/right_on, ipynb:2654). Lookup side broadcast.
# ---------------------------------------------------------------------------
@plan(
    "left_join_nation_region",
    """
    SELECT n_nationkey, n_name, r_name AS region_name
    FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
    ORDER BY n_nationkey
    """,
)
def left_join_nation_region(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# GROUP BY expression + IS NOT NULL + IN-subquery + ordinal-style sort —
# the full reference Q9-Q12 shape (trim(expr) group key, ipynb:2279-2283).
# ---------------------------------------------------------------------------
@plan(
    "group_by_expr_nation",
    """
    SELECT trim(upper(n_name)) AS nation,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS acctbal_sum
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal IS NOT NULL
      AND c_nationkey IN (SELECT n_nationkey FROM nation)
    GROUP BY trim(upper(n_name))
    ORDER BY acctbal_sum DESC, nation
    """,
)
def group_by_expr_nation(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sub = n.select("n_nationkey")
    return (
        c.filter(F.col("c_acctbal").isNotNull())
        .join(F.broadcast(sub), c.c_nationkey == sub.n_nationkey, "left_semi")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.trim(F.upper(F.col("n_name"))).alias("nation"))
        .agg(_dsum("c_acctbal", "acctbal_sum"))
        .orderBy(F.col("acctbal_sum").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# COUNT(*) probes (reference A1/Q1 get_table_shape, ipynb:72-73).
# Cross-join of 1-row aggregates — constant cost at any scale.
# ---------------------------------------------------------------------------
@plan(
    "table_counts",
    """
    SELECT (SELECT COUNT(*) FROM lineitem) AS lineitem_rows,
           (SELECT COUNT(*) FROM orders)   AS orders_rows,
           (SELECT COUNT(*) FROM customer) AS customer_rows
    """,
)
def table_counts(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("lineitem_rows"))
    o = load_table(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("orders_rows"))
    c = load_table(spark, sf_dir, "customer").agg(F.count(F.lit(1)).alias("customer_rows"))
    return l.crossJoin(o).crossJoin(c)


# ---------------------------------------------------------------------------
# Window function: per-customer top-3 orders (SURVEY §2.8 — absent in the
# reference, mandated as a natural follow-on). One shuffle on o_custkey.
# ---------------------------------------------------------------------------
@plan(
    "window_top_orders",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def window_top_orders(spark, sf_dir):
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


# ---------------------------------------------------------------------------
# ROLLUP (grouping sets family; absent in the reference, SURVEY §2.4 —
# rounded out here because Spark gives it natively).
# ---------------------------------------------------------------------------
@plan(
    "rollup_returnflag",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- engine contract (r13, pinned in test_engine_seams.py): Spark
    -- omits the ()-grouping-set row on EMPTY input where ANSI/DuckDB
    -- emit one zero-count row; every real group has >= 1 row, so this
    -- HAVING drops exactly that row and nothing else
    HAVING COUNT(*) > 0
    ORDER BY returnflag, linestatus
    """,
)
def rollup_returnflag(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(_dsum("l_quantity", "qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "qty",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.6 — absent in the reference; native in Spark).
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# Anti-join: customers with no orders (SURVEY §2.3 noted anti as absent
# in the reference — rounding out the join-type matrix). Broadcast-able
# when the subquery side is small; shuffles on the key otherwise.
# ---------------------------------------------------------------------------
@plan(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Full outer join: order-count per customer against the full customer
# dimension, keeping unmatched rows from BOTH sides.
# ---------------------------------------------------------------------------
@plan(
    "full_outer_customer_orders",
    """
    WITH oc AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey)
    SELECT COALESCE(c_custkey, o_custkey) AS custkey,
           c_mktsegment,
           COALESCE(n_orders, 0) AS n_orders
    FROM customer FULL OUTER JOIN oc ON c_custkey = o_custkey
    ORDER BY custkey
    """,
)
def full_outer_customer_orders(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    oc = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        c.join(oc, c.c_custkey == oc.o_custkey, "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            "c_mktsegment",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .orderBy("custkey")
    )


@plan(
    "union_nation_keys",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def union_nation_keys(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct().orderBy("nationkey")


@plan(
    "except_nation_keys",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def except_nation_keys(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s).orderBy("nationkey")


@plan(
    "intersect_nation_keys",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def intersect_nation_keys(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).orderBy("nationkey")


# ---------------------------------------------------------------------------
# Date-expression grouping + sort on the expression (reference O2
# `order by date(day) asc` + F2 date(), ipynb:549). Events table.
# ---------------------------------------------------------------------------
@plan(
    "daily_events",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
)
def daily_events(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), _dsum("value", "value_sum"))
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# DISTINCT-over-GROUP-BY no-op (reference Q7 exactly: `select distinct
# technology, avg(...) group by technology`, ipynb:1952-1954).
# ---------------------------------------------------------------------------
@plan(
    "avg_price_by_priority",
    """
    SELECT DISTINCT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY avg_price DESC, o_orderpriority
    """,
)
def avg_price_by_priority(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg((F.sum(_dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"))
        .distinct()
        .orderBy(F.col("avg_price").desc(), "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Promo-revenue ratio (TPC-H Q14 shape): fact⋈dimension join + predicate
# + conditional aggregate. part is the medium dimension — at bench scale
# AQE broadcast-converts it; at 100 TB it shuffles on p_partkey with the
# date filter pushed to the lineitem scan.
# ---------------------------------------------------------------------------
@plan(
    "promo_revenue_ratio",
    f"""
    SELECT
      CAST(SUM(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
               ELSE CAST(0 AS DECIMAL(18,8)) END) AS DOUBLE) AS promo_revenue,
      {DISC_PRICE_SQL.format(p='l_extendedprice', d='l_discount')} AS total_revenue,
      COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def promo_revenue_ratio(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    prod = F.col("l_extendedprice").cast(PRICE_DEC) * (
        F.lit(1).cast(RATE_DEC) - F.col("l_discount").cast(RATE_DEC)
    )
    promo = F.when(F.col("p_type") == "PROMO", prod).otherwise(
        F.lit(0).cast("decimal(18,8)")
    )
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            disc_price_sum("l_extendedprice", "l_discount", "total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# EXISTS with a predicate (filtered semi-join): orders having at least
# one returned lineitem. The IN-subquery plan (semi_join_region_customers)
# covers uncorrelated IN; this is the correlated-EXISTS spelling —
# Catalyst decorrelates both to the same LeftSemi shuffle on the key.
# ---------------------------------------------------------------------------

_EXISTS_ORACLE = """
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    ORDER BY o.o_orderkey
"""


@plan("exists_returned_orders", _EXISTS_ORACLE)
def exists_returned_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    returned = l.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Scalar subquery in a projection: each order's price as a ratio of the
# global average. The scalar collapses to ONE row (decimal-exact mean)
# broadcast into a map-side projection — no per-row subquery execution,
# which is exactly how Catalyst rewrites the SQL spelling too.
# ---------------------------------------------------------------------------

_SCALAR_SUB_ORACLE = """
    WITH avg_p AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) AS global_avg
      FROM orders
    )
    SELECT o_orderkey,
           FLOOR(o_totalprice / global_avg * 1e6) / 1e6 AS price_ratio
    FROM orders, avg_p
    ORDER BY o_orderkey
"""


@plan("price_vs_global_avg", _SCALAR_SUB_ORACLE)
def price_vs_global_avg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    avg_p = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("global_avg")
    )
    return (
        o.crossJoin(F.broadcast(avg_p))
        .select(
            "o_orderkey",
            (
                F.floor(F.col("o_totalprice") / F.col("global_avg") * 1e6) / 1e6
            ).alias("price_ratio"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Table profiling (ANALYZE-style): per-column rows/nulls/distincts/
# min/max in ONE scan — the single aggregate computes every stat, then
# the row unpivots to (column, ...) shape. Value rendering is per-type
# explicit (printf for doubles, strftime for timestamps) so both engines
# print identical strings. At 100 TB swap COUNT(DISTINCT) for
# approx_count_distinct — same plan shape, sketch-mergeable.
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
]


def _render_sql(col: str, typ: str, agg: str) -> str:
    inner = f"{agg}({col})"
    if typ == "double":
        return f"printf('%.6f', {inner})"
    if typ == "timestamp":
        return f"strftime({inner}, '%Y-%m-%d %H:%M:%S')"
    return f"CAST({inner} AS VARCHAR)"


_PROFILE_ORACLE = (
    "WITH s AS (SELECT "
    + ", ".join(
        f"COUNT({c}) AS nn_{c}, COUNT(DISTINCT {c}) AS nd_{c}, "
        f"{_render_sql(c, t, 'MIN')} AS mn_{c}, {_render_sql(c, t, 'MAX')} AS mx_{c}"
        for c, t in _PROFILE_COLS
    )
    + ", COUNT(*) AS n_rows FROM orders) "
    + " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, n_rows - nn_{c} AS n_nulls, "
        f"nd_{c} AS n_distinct, mn_{c} AS min_value, mx_{c} AS max_value FROM s"
        for c, _ in _PROFILE_COLS
    )
    + " ORDER BY column_name"
)


@plan("orders_profile", _PROFILE_ORACLE)
def orders_profile(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")

    def render(col, typ, agg):
        inner = agg(F.col(col))
        if typ == "double":
            # format_string is Java printf: a NULL aggregate (empty or
            # all-NULL column) renders as the 4-char STRING 'null'
            # where DuckDB's printf yields SQL NULL — guard it (the
            # duplicated agg expression dedups in the aggregate)
            return F.when(
                inner.isNull(), F.lit(None).cast("string")
            ).otherwise(F.format_string("%.6f", inner))
        if typ == "timestamp":
            return F.date_format(inner, "yyyy-MM-dd HH:mm:ss")
        return inner.cast("string")

    # Two branches so neither poisons the other's aggregate strategy:
    # (1) counts + min/max in one KEY-LESS aggregate — key-less
    #     SortAggregate needs no sort (empty ordering requirement), so
    #     the string min/max partials sit directly on the scan;
    # (2) the multi-distinct counts alone — Spark's Expand rewrite stays
    #     pure HashAggregate when no var-width min/max rides along.
    # Fused, the old plan SORTED every expanded row per partition.
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    dist_aggs = []
    for c, t in _PROFILE_COLS:
        aggs += [
            F.count(F.col(c)).alias(f"nn_{c}"),
            render(c, t, F.min).alias(f"mn_{c}"),
            render(c, t, F.max).alias(f"mx_{c}"),
        ]
        dist_aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
    s = o.agg(*aggs).crossJoin(F.broadcast(o.agg(*dist_aggs)))
    stack_args = ", ".join(
        f"'{c}', n_rows - nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c, _ in _PROFILE_COLS
    )
    return (
        s.selectExpr(
            "n_rows",
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)",
        )
        .select(
            "column_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value"
        )
        .orderBy("column_name")
    )


# ---------------------------------------------------------------------------
# String aggregation (LISTAGG/STRING_AGG family): nations per region as
# a sorted, delimited list. Sorting inside the aggregate is what makes
# the result deterministic — collect_list order is execution-dependent,
# so the plan sorts the array before joining (and the oracle's
# string_agg carries an explicit ORDER BY for the same reason).
# ---------------------------------------------------------------------------

_STRAGG_ORACLE = """
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           COUNT(*) AS n_nations
    FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    ORDER BY region
"""


@plan("nations_per_region_list", _STRAGG_ORACLE)
def nations_per_region_list(spark, sf_dir):
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            # string_agg semantics: NULL when the aggregate saw no
            # non-NULL name (collect_list drops NULLs, so an empty
            # array means exactly that); bare concat_ws would render
            # '' where DuckDB says NULL (r13 null-corpus sweep).
            # '' NAMES still join as empty elements in both engines.
            F.when(
                F.size(F.array_sort(F.collect_list("n_name"))) > 0,
                F.concat_ws(",", F.array_sort(F.collect_list("n_name"))),
            ).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# Calendar-granularity rollup (date_trunc month): the BI trend query.
# Month key is computed map-side; one shuffle on ~24 month keys.
# ---------------------------------------------------------------------------

_MONTHLY_ORACLE = """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY date_trunc('month', o_orderdate)
    ORDER BY month
"""


@plan("monthly_order_revenue", _MONTHLY_ORACLE)
def monthly_order_revenue(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# MERGE (SCD1 upsert) semantics under the oracle: a deterministic update
# batch (every customer with c_custkey % 97 == 0 gets a +100.00 balance
# credit — double-exact in both engines, unlike a 1.1x multiply where
# DuckDB's decimal-literal math and Spark's double math can split an
# ulp; 50 synthetic new keys insert) applied via
# operators.merge.merge_upsert, then checksummed per nation. The oracle
# replays the same MERGE as anti-join + union in SQL — value-hash
# equality proves replace/insert/untouched semantics row-for-row.
# ---------------------------------------------------------------------------

_UPSERT_ORACLE = """
    WITH upd AS (
      SELECT c_custkey, c_nationkey, c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 97 = 0
      UNION ALL
      SELECT 10000000 + r AS c_custkey, r % 25 AS c_nationkey,
             CAST(100.5 * r AS DOUBLE) AS c_acctbal
      FROM (SELECT unnest(generate_series(1, 50)) AS r)
    ), merged AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
      FROM customer c ANTI JOIN upd u ON c.c_custkey = u.c_custkey
      UNION ALL
      SELECT c_custkey, c_nationkey, c_acctbal FROM upd
    )
    SELECT c_nationkey,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal_sum
    FROM merged GROUP BY c_nationkey ORDER BY c_nationkey
"""


@plan("upsert_customers", _UPSERT_ORACLE)
def upsert_customers(spark, sf_dir):
    from ..operators.merge import merge_upsert

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    bumped = c.filter(F.col("c_custkey") % 97 == 0).select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
    )
    fresh = spark.range(1, 51).select(
        (F.col("id") + 10000000).alias("c_custkey"),
        (F.col("id") % 25).alias("c_nationkey"),
        (F.lit(100.5) * F.col("id")).alias("c_acctbal"),
    )
    merged = merge_upsert(c, bumped.unionByName(fresh), ["c_custkey"])
    return (
        merged.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("bal_sum"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Nation-pair trade matrix (the TPC-H Q7 shape): revenue between
# (customer nation, supplier nation) pairs. The fact table collapses to
# one decimal partial per (orderkey, suppkey) BELOW every join — the
# same partial-agg pushdown as revenue_by_nation, so the 5-way join
# moves group partials, not line items. Supplier and nation are
# broadcast dims; orders/customer ride hash joins on their keys. The
# final (cust_nation, supp_nation) re-aggregation is exact decimal.
# ---------------------------------------------------------------------------

_TRADE_ORACLE = """
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           COUNT(*) AS n_lines,
           -- via-string cast: seam 4 (DuckDB decimal->double
           -- double-rounds past 2^53), see revenue_by_nation
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))))
                AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
    ORDER BY cust_nation, supp_nation
"""


@plan("nation_trade_matrix", _TRADE_ORACLE)
def nation_trade_matrix(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    prod = F.col("l_extendedprice").cast(PRICE_DEC) * (
        F.lit(1).cast(RATE_DEC) - F.col("l_discount").cast(RATE_DEC)
    )
    per_os = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(prod).alias("__rev_dec"),
        F.count(F.lit(1)).alias("__lines"),
    )
    cn = n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    return (
        per_os.join(o, per_os.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              per_os.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.sum("__lines").alias("n_lines"),
            # via-string: exact then correctly rounded in both engines
            # (seam 4 — DuckDB decimal->double double-rounds past 2^53)
            F.sum("__rev_dec").cast("string").cast("double").alias("revenue"),
        )
        .orderBy("cust_nation", "supp_nation")
    )


# ---------------------------------------------------------------------------
# Table diff / reconciliation — the migration-validation op: full outer
# join two snapshots on the key and classify every row added / removed /
# changed / unchanged. The "new" snapshot here is a deterministic
# perturbation of orders (drop keys % 89 == 0, bump totalprice on keys
# % 97 == 0, insert 50 synthetic keys), so the oracle can rebuild the
# identical snapshot and every class is populated. At scale
# both sides hash-partition on the key — one co-partitioned shuffle
# each; the classification is a map-side CASE over the joined row.
# ---------------------------------------------------------------------------

_DIFF_ORACLE = """
    WITH new_snap AS (
      SELECT o_orderkey,
             o_totalprice + CASE WHEN o_orderkey % 97 = 0 THEN 100.0 ELSE 0.0 END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 89 <> 0
      UNION ALL
      SELECT 10000000 + r AS o_orderkey, CAST(50.25 * r AS DOUBLE) AS o_totalprice
      FROM (SELECT unnest(generate_series(1, 50)) AS r)
    ), d AS (
      -- IS DISTINCT FROM, not <>: 'changed' means the VALUES differ
      -- null-safely (NULL->NULL is unchanged, NULL->value is changed);
      -- plain <> silently classifies any NULL-involved change as
      -- 'unchanged' (r13 null-corpus sweep)
      SELECT CASE WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM orders o FULL OUTER JOIN new_snap n USING (o_orderkey)
    )
    SELECT status, COUNT(*) AS n FROM d GROUP BY status ORDER BY status
"""


@plan("snapshot_diff_orders", _DIFF_ORACLE)
def snapshot_diff_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    new_snap = (
        o.filter(F.col("o_orderkey") % 89 != 0)
        .select(
            "o_orderkey",
            (
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % 97 == 0, F.lit(100.0)).otherwise(F.lit(0.0))
            ).alias("o_totalprice"),
        )
        .unionByName(
            spark.range(1, 51).select(
                (F.col("id") + 10000000).alias("o_orderkey"),
                (F.lit(50.25) * F.col("id")).alias("o_totalprice"),
            )
        )
    )
    # explicit presence markers: key presence must be judged by the
    # KEY side of the outer join, not by value-column nullness — a
    # legitimately-NULL price on a matched key is 'unchanged'/'changed',
    # never 'removed' (r13 null-corpus sweep)
    old = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("vo"),
        F.lit(1).alias("__po"),
    )
    new = new_snap.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("vn"),
        F.lit(1).alias("__pn"),
    )
    joined = old.join(new, "k", "full_outer")
    status = (
        F.when(F.col("__pn").isNull(), "removed")
        .when(F.col("__po").isNull(), "added")
        # null-safe inequality: 'changed' = values DISTINCT
        .when(~F.col("vo").eqNullSafe(F.col("vn")), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Data-contract integrity audit — the nightly validation pass: foreign
# keys resolve (anti-join orphan counts), primary keys are unique, and
# required columns are non-null, unioned into one check report. Each
# check is an independent aggregate/anti-join; Spark runs the union's
# branches as parallel jobs, and every count is integer-exact.
# ---------------------------------------------------------------------------

_INTEGRITY_ORACLE = """
    SELECT 'customer_null_nationkey' AS check_name,
           COUNT(*) FILTER (WHERE c_nationkey IS NULL) AS violations
    FROM customer
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           (SELECT COUNT(*) FROM lineitem l ANTI JOIN orders o
            ON l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'orders_dup_orderkey',
           COUNT(*) - COUNT(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'orders_orphan_custkey',
           (SELECT COUNT(*) FROM orders o ANTI JOIN customer c
            ON o.o_custkey = c.c_custkey)
    ORDER BY check_name
"""


@plan("integrity_audit", _INTEGRITY_ORACLE)
def integrity_audit(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")

    def one(name, df):
        return df.select(
            F.lit(name).alias("check_name"), F.col("violations").cast("bigint")
        )

    checks = [
        one(
            "customer_null_nationkey",
            c.agg(
                F.count(F.when(F.col("c_nationkey").isNull(), 1)).alias("violations")
            ),
        ),
        one(
            "lineitem_orphan_orderkey",
            l.join(o, l.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count(F.lit(1)).alias("violations")
            ),
        ),
        one(
            "orders_dup_orderkey",
            o.agg(
                (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("violations")
            ),
        ),
        one(
            "orders_orphan_custkey",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
                F.count(F.lit(1)).alias("violations")
            ),
        ),
    ]
    out = checks[0]
    for df in checks[1:]:
        out = out.unionByName(df)
    return out.orderBy("check_name")


# ---------------------------------------------------------------------------
# Cross-engine table fingerprint — the migration-reconciliation primitive
# (same family as snapshot_diff_orders, but one aggregate instead of a
# join: compare a 100 TB table across two systems by shipping 5 rows).
# Each row is rendered to a canonical string. The double column is
# canonicalized as FLOOR(price*100) cents — an integer — because BOTH
# float-rendering contracts are engine-hazardous: shortest round-trip
# double->string depends on the JVM vs DuckDB renderer agreeing in the
# last digit, and double->decimal casts differ (DuckDB converts the
# bit-exact binary value, Spark goes through the shortest string). The
# *100 multiply and FLOOR are single IEEE-754 ops, bit-identical on
# any engine, and bigint->string has one spelling — so the digest can
# never drift across JVM/DuckDB versions (the r1 hash-fail class).
# Contract: prices differing only below truncated cents collide —
# documented precision of the fingerprint, not a bug. Dates render ISO.
# Rows are digested with md5, and
# the digests are folded with order-insensitive aggregates (XOR + sum
# mod 2^61 + numeric min/max of the 60-bit sig). The sum is carried
# exactly in wide integers (decimal(38,0) / HUGEINT) but EMITTED mod
# 2^61 as BIGINT: a raw >int64 column marshals to float64 in pandas on
# the DuckDB side while Spark stays exact, so identical values hash
# differently downstream (DETERMINISM.md output-type rule). All folds keep
# fixed-width buffers, so the whole plan is ONE HashAggregate pair
# (map-side combine to 5 partial rows per task) — a string min/max of
# the hex digest would demote the aggregate to SortAggregate (declarative
# agg + variable-width buffer), i.e. a per-partition sort at 100 TB.
# ---------------------------------------------------------------------------

_CHECKSUM_ORACLE = """
    WITH r AS (
      SELECT o_orderpriority,
             md5(concat_ws('|',
                 CAST(o_orderkey AS VARCHAR),
                 CAST(o_custkey AS VARCHAR),
                 COALESCE(o_orderstatus, '~null~'),
                 COALESCE(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                               AS VARCHAR), '~null~'),
                 -- every column carries the sentinel (row_sig
                 -- coalesces ALL of them): an unsentineled NULL date
                 -- is SKIPPED by concat_ws — separator and all — so
                 -- the canonical strings diverge (r13 null-corpus)
                 COALESCE(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '~null~'),
                 COALESCE(o_orderpriority, '~null~'))) AS d
      FROM orders
    ), s AS (
      SELECT o_orderpriority,
             CAST(('0x' || substr(d, 1, 15)) AS BIGINT) AS sig
      FROM r
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           bit_xor(sig) AS xor_sig,
           CAST(SUM(CAST(sig AS HUGEINT)) % 2305843009213693952
                AS BIGINT) AS sum_sig,
           MIN(sig) AS min_sig,
           MAX(sig) AS max_sig
    FROM s
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@plan("checksum_orders", _CHECKSUM_ORACLE)
def checksum_orders(spark, sf_dir):
    from ..operators.fingerprint import fingerprint

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        # integer-cents canonicalization: FLOOR(x*100) is one IEEE
        # multiply + one floor, bit-identical on JVM and DuckDB — no
        # float rendering in the digest (see block comment above)
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("o_price"),
        F.to_date("o_orderdate").alias("o_date"),
        "o_orderpriority",
    )
    return fingerprint(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_price", "o_date",
         "o_orderpriority"],
        group_by=["o_orderpriority"],
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Exact financial proration — allocate each order's total to its line
# items proportionally by quantity, in integer CENTS with the
# largest-remainder method: base_i = (cents * qty_i) div sum_qty, and
# the div-truncation leftover goes +1 cent at a time to the lines with
# the largest remainders (linenumber breaks ties). Every operation is
# integer div/mod/rank, so allocation is exact, conservation
# (sum(alloc) == cents per order) holds by construction, and both
# engines agree bit-for-bit — the property double-based proration can
# never give. The plan reports the per-returnflag rollup; the per-order
# conservation invariant is pinned in tests/test_proration.py.
# ---------------------------------------------------------------------------

_PRORATION_ORACLE = """
    WITH li AS (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(FLOOR(l_quantity) AS BIGINT) AS qty
      FROM lineitem
    ),
    o AS (
      SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    j AS (
      SELECT li.*, o.cents,
             SUM(qty) OVER (PARTITION BY l_orderkey) AS sum_qty
      FROM li JOIN o ON o.o_orderkey = li.l_orderkey
    ),
    based AS (
      SELECT *,
             (cents * qty) // sum_qty AS base,
             (cents * qty) % sum_qty AS rem,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY (cents * qty) % sum_qty DESC,
                                         l_linenumber) AS rk,
             cents - SUM((cents * qty) // sum_qty)
                       OVER (PARTITION BY l_orderkey) AS leftover
      FROM j
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                AS BIGINT) AS allocated_cents,
           CAST(SUM(CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bumped
    FROM based
    GROUP BY 1
    ORDER BY l_returnflag
"""


@plan("prorate_order_cents", _PRORATION_ORACLE)
def prorate_order_cents(spark, sf_dir):
    """Largest-remainder allocation of order cents over line items,
    rolled up by return flag.

    100 TB: one exchange on the order key serves the join, both
    per-order windows, and the rank (bounded by lines-per-order); the
    rollup is map-side combined.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.floor("l_quantity").cast("bigint").alias("qty"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    from pyspark.sql.window import Window as W

    wo = W.partitionBy("l_orderkey")
    j = li.join(o, "l_orderkey").withColumn("sum_qty", F.sum("qty").over(wo))
    j = (
        j.withColumn("base", F.expr("(cents * qty) div sum_qty"))
        .withColumn("rem", (F.col("cents") * F.col("qty")) % F.col("sum_qty"))
        .withColumn(
            "rk",
            F.row_number().over(
                wo.orderBy(F.col("rem").desc(), "l_linenumber")
            ),
        )
        .withColumn("leftover", F.col("cents") - F.sum("base").over(wo))
    )
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("allocated_cents"),
            F.sum(F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bumped"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Tail-of-distribution report gated on an EXACT percentile threshold.
# Spark side: operators/quantile.py:exact_quantile_disc finds the P99
# by iterative histogram refinement (no global sort, bounded driver
# traffic — the 100 TB path), then one scan aggregates the tail. The
# oracle finds the same threshold with the rank-window formulation a
# single-node engine can afford (ROW_NUMBER to rank ceil(0.99*n)).
# Two algorithms, one answer — the pair checks the refinement logic
# itself, not a mirrored query.
# ---------------------------------------------------------------------------

_P99_ORACLE = """
    WITH ranked AS (
      -- NULLs excluded from the rank spine (percentile semantics;
      -- same contract as grouped_exact_median): a bare COUNT(*) over
      -- NULL values shifts the pick into the NULLS LAST region and
      -- NULLs the threshold (r13 mixed-corpus sweep)
      SELECT o_totalprice AS v,
             ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER () AS n
      FROM orders
      WHERE o_totalprice IS NOT NULL
    ),
    thr AS (
      SELECT v FROM ranked WHERE rn = CAST(CEIL(0.99 * n) AS BIGINT)
    )
    SELECT CAST((SELECT v FROM thr) AS DOUBLE) AS p99,
           CAST(COUNT(*) AS BIGINT) AS n_tail,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS tail_revenue
    FROM orders
    WHERE o_totalprice >= (SELECT v FROM thr)
"""


@plan("orders_above_exact_p99", _P99_ORACLE)
def orders_above_exact_p99(spark, sf_dir):
    from ..operators.quantile import exact_quantile_disc

    o = load_table(spark, sf_dir, "orders")
    # p99 is None on an empty table (NULL percentile_disc semantics):
    # the >= NULL filter keeps no rows and the aggregate returns the
    # same (NULL, 0, NULL) row the oracle produces; the cast keeps the
    # output schema identical either way.
    p99 = exact_quantile_disc(o, "o_totalprice", 0.99)
    return o.filter(F.col("o_totalprice") >= F.lit(p99)).agg(
        F.lit(p99).cast("double").alias("p99"),
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("tail_revenue"),
    )


# ---------------------------------------------------------------------------
# Per-priority exact median through the grouped histogram-refinement
# operator (operators/quantile.py) — the scale path that never buffers
# a group's values in one place — checked against the oracle's
# rank-window formulation. Companion to orders_above_exact_p99 (the
# global variant); together they pin both refinement code paths.
# ---------------------------------------------------------------------------

_GROUPED_MEDIAN_ORACLE = """
    WITH ranked AS (
      -- NULLs excluded from the rank spine (percentile_disc
      -- semantics): a bare COUNT(*)/ROW_NUMBER over NULL values
      -- shifts the pick and invents a NULL-median row for an all-NULL
      -- group the refinement operator correctly omits (r13
      -- null-corpus sweep). Contract: groups with zero non-NULL
      -- values are ABSENT from the report.
      SELECT o_orderpriority, o_totalprice AS v,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
      WHERE o_totalprice IS NOT NULL
    )
    SELECT o_orderpriority, CAST(v AS DOUBLE) AS value
    FROM ranked
    WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)
    ORDER BY o_orderpriority
"""


@plan("grouped_exact_median", _GROUPED_MEDIAN_ORACLE)
def grouped_exact_median(spark, sf_dir):
    from ..operators.quantile import grouped_exact_quantile_disc

    o = load_table(spark, sf_dir, "orders")
    return grouped_exact_quantile_disc(
        o, "o_orderpriority", "o_totalprice", 0.5
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Basket-size distribution — lines-per-order histogram with share and
# cumulative share. The cumulative window runs over the <=|max basket|
# rows of the final aggregate; the running numerator is an exact BIGINT
# sum, so the shares are single divisions on identical operands.
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1
    ),
    dist AS (
      SELECT n_lines, COUNT(*) AS n_orders FROM per_order GROUP BY 1
    )
    SELECT n_lines,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(n_orders AS DOUBLE) / CAST(SUM(n_orders) OVER () AS DOUBLE)
             AS share,
           CAST(SUM(n_orders) OVER (ORDER BY n_lines
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(n_orders) OVER () AS DOUBLE) AS cum_share
    FROM dist
    ORDER BY n_lines
"""


@plan("basket_size_distribution", _BASKET_ORACLE)
def basket_size_distribution(spark, sf_dir):
    from pyspark.sql.window import Window

    l = load_table(spark, sf_dir, "lineitem")
    dist = (
        l.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .groupBy("n_lines")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("n_lines").rowsBetween(Window.unboundedPreceding, 0)
    total = F.sum("n_orders").over(w_all).cast("double")
    return dist.select(
        "n_lines",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        (F.col("n_orders").cast("double") / total).alias("share"),
        (F.sum("n_orders").over(w_cum).cast("double") / total).alias("cum_share"),
    ).orderBy("n_lines")


# ---------------------------------------------------------------------------
# SCD Type-2 history build — the warehouse-side change-capture operator:
# given successive snapshots of a dimension, emit effective-dated
# version rows (eff_from / eff_to / is_current) for every key whose
# tracked attribute changed. Snapshots are deterministic perturbations
# of ``customer`` (the same device snapshot_diff_orders uses), so the
# oracle rebuilds them bit-identically: v2 bumps c_acctbal by +10.50 on
# keys % 13 == 0, v3 bumps a further +25.25 on keys % 7 == 0. Doubles
# move only through literal additions — exact, engine-identical.
# 100 TB: the union of S snapshots shuffles once on the key for the
# lag/lead windows (bounded partitions: S rows per key); emitted
# history is |changed keys| * versions. The standard formulation — no
# full-history rescan per new snapshot when run incrementally (feed
# only current + new snapshot).
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
    WITH snaps AS (
      SELECT c_custkey, 1 AS ver, c_acctbal FROM customer
      UNION ALL
      SELECT c_custkey, 2 AS ver,
             c_acctbal + CASE WHEN c_custkey % 13 = 0 THEN 10.50 ELSE 0 END
      FROM customer
      UNION ALL
      SELECT c_custkey, 3 AS ver,
             c_acctbal + CASE WHEN c_custkey % 13 = 0 THEN 10.50 ELSE 0 END
                       + CASE WHEN c_custkey % 7 = 0 THEN 25.25 ELSE 0 END
      FROM customer
    ),
    chg AS (
      SELECT * FROM (
        SELECT c_custkey, ver, c_acctbal,
               LAG(c_acctbal) OVER (PARTITION BY c_custkey ORDER BY ver) AS prev
        FROM snaps
      ) WHERE prev IS NULL OR c_acctbal <> prev
    ),
    hist AS (
      SELECT c_custkey, ver AS eff_from,
             LEAD(ver) OVER (PARTITION BY c_custkey ORDER BY ver) AS eff_to,
             c_acctbal,
             COUNT(*) OVER (PARTITION BY c_custkey) AS n_vers
      FROM chg
    )
    SELECT c_custkey, eff_from,
           COALESCE(eff_to, 99) AS eff_to,
           c_acctbal,
           CASE WHEN eff_to IS NULL THEN 1 ELSE 0 END AS is_current
    FROM hist WHERE n_vers > 1
    ORDER BY c_custkey, eff_from
"""


@plan("scd2_customer_history", _SCD2_ORACLE)
def scd2_customer_history(spark, sf_dir):
    """Snapshot-based SCD2 build (full snapshots -> history): the
    change feed is derived from the snapshots themselves, one version
    per change in each key's attribute."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    bump13 = F.when(F.col("c_custkey") % 13 == 0, 10.50).otherwise(0.0)
    bump7 = F.when(F.col("c_custkey") % 7 == 0, 25.25).otherwise(0.0)
    snaps = (
        c.select("c_custkey", F.lit(1).alias("ver"), "c_acctbal")
        .unionByName(
            c.select(
                "c_custkey",
                F.lit(2).alias("ver"),
                (F.col("c_acctbal") + bump13).alias("c_acctbal"),
            )
        )
        .unionByName(
            c.select(
                "c_custkey",
                F.lit(3).alias("ver"),
                (F.col("c_acctbal") + bump13 + bump7).alias("c_acctbal"),
            )
        )
    )
    wv = Window.partitionBy("c_custkey").orderBy("ver")
    chg = snaps.withColumn("prev", F.lag("c_acctbal").over(wv)).filter(
        F.col("prev").isNull() | (F.col("c_acctbal") != F.col("prev"))
    )
    hist = chg.select(
        "c_custkey",
        F.col("ver").alias("eff_from"),
        F.lead("ver").over(wv).alias("eff_to"),
        "c_acctbal",
        F.count(F.lit(1)).over(Window.partitionBy("c_custkey")).alias("n_vers"),
    )
    return (
        hist.filter(F.col("n_vers") > 1)
        .select(
            "c_custkey",
            "eff_from",
            F.coalesce("eff_to", F.lit(99)).alias("eff_to"),
            "c_acctbal",
            F.when(F.col("eff_to").isNull(), 1).otherwise(0).alias("is_current"),
        )
        .orderBy("c_custkey", "eff_from")
    )


# ---------------------------------------------------------------------------
# Classic TPC-H analogs (r7): the three canonical multi-join shapes a
# warehouse migration is judged by, adapted to this corpus's columns
# (o_orderpriority stands in for o_shippriority; nations are NATION_*).
# Q3 = filtered 3-way join + top-k revenue; Q7 = double-aliased
# dimension (bidirectional nation pair) + year rollup; Q10 = returned-
# item customer ranking. Scale notes inline per plan.
# ---------------------------------------------------------------------------

_Q3_CUT = "1998-06-01 00:00:00"

_Q3_ORACLE = f"""
    SELECT l_orderkey AS orderkey,
           {DISC_PRICE_SQL.format(p="l_extendedprice", d="l_discount")}
               AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority AS priority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{_Q3_CUT}'
      AND l_shipdate  > TIMESTAMP '{_Q3_CUT}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, orderkey
    LIMIT 10
"""


@plan("shipping_priority_topk", _Q3_ORACLE)
def shipping_priority_topk(spark, sf_dir):
    """TPC-H Q3 shape: unshipped-revenue top-k for one market segment.

    100 TB: the lineitem ship-date filter and the per-order decimal
    partial both run BELOW the joins (the fact collapses to one row
    per order before touching orders/customer), the segment filter
    prunes customer at the scan, and the final top-10 is
    TakeOrderedAndProject — per-partition heaps, never a global sort.

    PRECONDITION (pinned in tools/roundend_gate.py, r13 dup sweep):
    l_orderkey/o_orderkey are unique per entity — the partial-agg
    pushdown is exactly the flat join-then-aggregate ONLY then.
    Violated keys are an upstream data bug the integrity audit plan
    (orders_dup_orderkey check) counts; re-aggregating defensively
    here would charge every clean run an extra shuffle.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(_Q3_CUT).cast("timestamp_ntz")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(_Q3_CUT).cast("timestamp_ntz")
    )
    prod = F.col("l_extendedprice").cast(PRICE_DEC) * (
        F.lit(1).cast(RATE_DEC) - F.col("l_discount").cast(RATE_DEC)
    )
    per_order = l.groupBy("l_orderkey").agg(F.sum(prod).alias("__rev_dec"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("__rev_dec").cast("double").alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(10)
    )


_Q7_ORACLE = f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           {DISC_PRICE_SQL.format(p="l_extendedprice", d="l_discount")}
               AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1997-12-31 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""


@plan("nation_volume_shipping", _Q7_ORACLE)
def nation_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between a nation pair by year.

    100 TB: BOTH nation aliases broadcast pre-filtered to the 2-row
    pair, so the supplier and customer sides are semi-reduced by a
    broadcast hash join before the big fact joins; the date filter
    pushes to the lineitem scan; one exchange per join key, final
    rollup on (nation, nation, year) — 4 output rows.
    """
    pair = ("NATION_18", "NATION_19")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31 00:00:00").cast("timestamp_ntz"))
    )
    n1 = n.select(
        F.col("n_nationkey").alias("__n1k"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("__n2k"), F.col("n_name").alias("cust_nation")
    )
    prod = F.col("l_extendedprice").cast(PRICE_DEC) * (
        F.lit(1).cast(RATE_DEC) - F.col("l_discount").cast(RATE_DEC)
    )
    return (
        l.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__n1k"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__n2k"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(prod).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q10_ORACLE = f"""
    SELECT c_custkey, c_name,
           {DISC_PRICE_SQL.format(p="l_extendedprice", d="l_discount")}
               AS revenue,
           c_acctbal, n_name AS nation
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@plan("returned_item_ranking", _Q10_ORACLE)
def returned_item_ranking(spark, sf_dir):
    """TPC-H Q10 shape: top customers by returned-item revenue in one
    quarter.

    100 TB: the returnflag filter + per-order decimal partial collapse
    lineitem below the joins; the quarter filter prunes orders at the
    scan; nation broadcasts; the per-customer rollup is one exchange
    on c_custkey and the top-20 is TakeOrderedAndProject.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    prod = F.col("l_extendedprice").cast(PRICE_DEC) * (
        F.lit(1).cast(RATE_DEC) - F.col("l_discount").cast(RATE_DEC)
    )
    per_order = l.groupBy("l_orderkey").agg(F.sum(prod).alias("__rev_dec"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        # via-string: exact then correctly rounded in both engines
        # (seam 4 — DuckDB decimal->double double-rounds past 2^53)
        .agg(F.sum("__rev_dec").cast("string").cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q14_ORACLE = """
    SELECT
      CAST(SUM(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
               ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE) AS promo_revenue,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
               * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE)
          AS total_revenue,
      CAST(SUM(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
               ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
               * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE)
          AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@plan("promo_revenue_share", _Q14_ORACLE)
def promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape: promo-type revenue share for one ship month.

    100 TB: the one-month filter prunes lineitem at the scan (with
    partitioned storage this is partition pruning, not even row
    filtering); the part join carries only (p_partkey, p_type) —
    column-pruned — and AQE picks broadcast vs shuffle by the filtered
    sizes; a single aggregation emits one row. The share is a division
    of two decimal-exact doubles, IEEE-identical in both engines.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    prod = F.col("l_extendedprice").cast(PRICE_DEC) * (
        F.lit(1).cast(RATE_DEC) - F.col("l_discount").cast(RATE_DEC)
    )
    promo = F.when(F.col("p_type") == "PROMO", prod).otherwise(
        F.lit(0).cast(PRICE_DEC)
    )
    agg = l.join(p, F.col("l_partkey") == F.col("p_partkey")).agg(
        F.sum(promo).cast("double").alias("promo_revenue"),
        F.sum(prod).cast("double").alias("total_revenue"),
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        (F.col("promo_revenue") / F.col("total_revenue")).alias("promo_share"),
    )


_Q19_PRED = """
    ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      AND l_quantity BETWEEN 1 AND 11)
     OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
      AND l_quantity BETWEEN 10 AND 20)
     OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
      AND l_quantity BETWEEN 20 AND 30))
"""

_Q19_ORACLE = f"""
    SELECT {DISC_PRICE_SQL.format(p="l_extendedprice", d="l_discount")}
               AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE {_Q19_PRED}
"""


@plan("brand_quantity_revenue", _Q19_ORACLE)
def brand_quantity_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under an OR of cross-table conjunction
    branches (brand x size range x quantity range).

    100 TB: the predicate references BOTH tables, so it cannot move
    below the join whole — but Catalyst derives the single-table
    residual of each branch and pushes the OR of those residuals to
    each side (part scans only the three brands/sizes, lineitem only
    the quantity envelope) before the join re-checks the exact
    disjunction. Expressed as one SQL-text filter over the joined
    relation precisely so the OPTIMIZER does that split, not the
    query author — the shape a migration inherits from warehouse SQL.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.expr(_Q19_PRED))
        .agg(
            disc_price_sum("l_extendedprice", "l_discount", "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q18_ORACLE = """
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(o_totalprice AS DOUBLE) AS totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 200
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
"""


@plan("large_volume_customers", _Q18_ORACLE)
def large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape: customers behind the largest-quantity orders —
    the HAVING-subquery semi-join pattern.

    100 TB: the qualifying-order set comes from ONE map-side-combined
    aggregation of lineitem (decimal-exact quantity sums); it
    left-semi joins back to lineitem on the same l_orderkey
    partitioning (no second shuffle of the re-aggregated side), so the
    big fact is scanned twice but shuffled as per-order partials only;
    customer/orders join the surviving handful of orders and the
    top-20 is TakeOrderedAndProject on (totalprice, orderkey).

    PRECONDITION: unique order keys (see shipping_priority_topk —
    same partial-agg-pushdown contract, pinned in roundend_gate).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    qty = _dec("l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("__q"))
        .filter(F.col("__q") > 200)
        .select(F.col("l_orderkey").alias("__bigkey"))
    )
    per_order = (
        l.join(big, l.l_orderkey == F.col("__bigkey"), "left_semi")
        .groupBy("l_orderkey")
        .agg(F.sum(qty).cast("double").alias("sum_qty"))
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H analogs, second batch (r7): the four remaining canonical query
# shapes a warehouse migration exercises — conditional aggregation
# (Q12), HAVING against a scalar subquery (Q11), double-correlated
# EXISTS / NOT EXISTS over the same fact (Q21), and scalar-subquery
# threshold + anti-join (Q22). Columns adapted to this corpus:
# l_returnflag stands in for l_shipmode, return behavior for the
# commit/receipt lateness Q21/Q12 key on, and the order-recency window
# for Q22's "no orders in 7 years".
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
    SELECT l_returnflag AS returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           -- low = NOT high, exhaustively: a NULL priority is "not
           -- high", so it counts LOW like the plan's otherwise()
           -- branch — the NOT IN spelling made NULL count NEITHER
           -- (r13 mixed-corpus sweep)
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY returnflag
"""


@plan("priority_lines_by_returnflag", _Q12_ORACLE)
def priority_lines_by_returnflag(spark, sf_dir):
    """TPC-H Q12 shape: high- vs low-priority line counts per category
    (l_returnflag standing in for l_shipmode) — the CASE-sum
    conditional-aggregation pattern.

    100 TB: the one-year filter prunes lineitem at the scan; orders
    joins column-pruned to (o_orderkey, o_orderpriority); both
    conditional sums ride ONE aggregation over the join output with
    map-side partials, emitting 3 rows. No second pass per condition —
    the CASE moves the branching into the aggregate expression.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("returnflag")
    )


#: Q11's "important share" fraction, applied to part revenue.
_Q11_FRACTION = "0.001"

_Q11_ORACLE = f"""
    SELECT l_partkey AS partkey,
           {DISC_PRICE_SQL.format(p="l_extendedprice", d="l_discount")}
               AS part_revenue
    FROM lineitem
    GROUP BY l_partkey
    HAVING {DISC_PRICE_SQL.format(p="l_extendedprice", d="l_discount")}
         > (SELECT {DISC_PRICE_SQL.format(p="l_extendedprice", d="l_discount")}
            FROM lineitem) * {_Q11_FRACTION}
    ORDER BY part_revenue DESC, partkey
"""


@plan("part_revenue_concentration", _Q11_ORACLE)
def part_revenue_concentration(spark, sf_dir):
    """TPC-H Q11 shape: groups whose aggregate exceeds a FRACTION of
    the global aggregate — HAVING against a scalar subquery.

    100 TB: the per-part rollup is one map-side-combined exchange on
    l_partkey; the global total is a 1-ROW aggregate broadcast into
    the filter (Spark: cross-join with the scalar frame — BroadcastNL
    of one row, not a shuffle), so the big relation is scanned twice
    but shuffled once. Exact decimal sums on both sides; the single
    double multiply by the fraction is IEEE-identical cross-engine.
    """
    l = load_table(spark, sf_dir, "lineitem")
    per_part = l.groupBy(F.col("l_partkey").alias("partkey")).agg(
        disc_price_sum("l_extendedprice", "l_discount", "part_revenue")
    )
    total = l.agg(
        (
            disc_price_sum("l_extendedprice", "l_discount", "__t")
            * F.lit(float(_Q11_FRACTION))
        ).alias("__threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_revenue") > F.col("__threshold"))
        .select("partkey", "part_revenue")
        .orderBy(F.col("part_revenue").desc(), "partkey")
    )


_Q21_ORACLE = """
    -- grouped by the supplier ENTITY (key + name), not name alone:
    -- two suppliers sharing a name (e.g. both NULL on a dark column)
    -- are different suppliers, and the plan counts them separately
    -- (r13 mixed-corpus sweep); 1:1 on any sane dimension
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_suppkey, s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


@plan("sole_blame_suppliers", _Q21_ORACLE)
def sole_blame_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: the sole supplier at fault in a multi-supplier
    order (returned its lines while no co-supplier did) — the
    EXISTS + NOT EXISTS double correlation over the same fact.

    The oracle keeps the textbook correlated-subquery spelling; the
    Spark side FOLDS both correlations into one per-order aggregate —
    countDistinct(supplier) >= 2 replays the EXISTS, and
    countDistinct(supplier WHERE returned) = 1 replays the NOT EXISTS
    (l1's own supplier returned, so "exactly one returning supplier"
    IS "no other returning supplier"). Different algorithm, same rows,
    hash-checked.

    100 TB: lineitem is scanned twice but exchanged only as (orderkey)
    partials — the per-order profile is map-side combined, the
    join-back to the returned lines reuses the same l_orderkey
    partitioning, orders joins column-pruned on the same key, and the
    supplier dimension joins AFTER the fact collapses to per-supplier
    counts. Top-20 is TakeOrderedAndProject.

    PRECONDITION: unique order keys (see shipping_priority_topk —
    same partial-agg-pushdown contract, pinned in roundend_gate).
    """
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    l = load_table(spark, sf_dir, "lineitem")
    profile = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__nsupp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("__nret"),
    )
    blamed = (
        l.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(profile, "l_orderkey")
        .filter((F.col("__nsupp") >= 2) & (F.col("__nret") == 1))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        blamed.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


_Q22_CUT = "2001-01-01 00:00:00"

#: Exact-decimal spelling of "acctbal above the positive-balance
#: average": cb * n_pos > sum_pos avoids the engine-ordered double AVG
#: (decimal multiply and sum are exact in both engines, so the boundary
#: comparison cannot flip on FP summation order — DETERMINISM.md rule).
_Q22_ORACLE = f"""
    WITH pos AS (
      SELECT COUNT(*) AS n_pos,
             SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_pos
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name AS nation,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    CROSS JOIN pos
    WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > sum_pos
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '{_Q22_CUT}')
    GROUP BY n_name
    ORDER BY nation
"""


@plan("dormant_rich_customers", _Q22_ORACLE)
def dormant_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, rolled up by nation — scalar-subquery threshold plus
    NOT-EXISTS anti-join (nation standing in for the phone country
    code).

    100 TB: the positive-balance (count, sum) scalar is a 1-row
    broadcast; the dormancy check is a LEFT ANTI hash join against
    orders PRE-FILTERED to the recency window at the scan (the anti
    side shrinks by the date selectivity before any shuffle); nation
    broadcasts; one final 1-exchange rollup over the surviving
    customers. The threshold compares exact decimals (cb * n > sum),
    never an engine-ordered double average.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(_Q22_CUT).cast("timestamp_ntz")
    ).select("o_custkey")
    cb = F.col("c_acctbal").cast("decimal(12,2)")
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("__n_pos"),
        F.sum(cb).alias("__sum_pos"),
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(cb * F.col("__n_pos") > F.col("__sum_pos"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(cb).cast("double").alias("totacctbal"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# TPC-H analogs, third batch (r7): Q4 (correlated EXISTS with an
# inequality on BOTH tables' columns), Q6 (the pure scan-aggregate),
# Q13 (count-of-counts over a filtered LEFT join), Q15 (argmax by
# scalar-equality join-back), Q16 (NOT IN exclusion + grouped
# COUNT DISTINCT). Lateness stands in for commit/receipt (l_shipdate
# more than 60 days after o_orderdate); low supplier balance stands in
# for Q16's complaint filter.
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@plan("late_order_priority_census", _Q4_ORACLE)
def late_order_priority_census(spark, sf_dir):
    """TPC-H Q4 shape: one-quarter order count by priority, restricted
    to orders with at least one badly late line — a correlated EXISTS
    whose predicate compares columns of BOTH tables.

    100 TB: the quarter filter prunes orders at the scan; the EXISTS
    compiles to a LEFT SEMI hash join on l_orderkey with the lateness
    comparison as the join residual — lineitem is never aggregated or
    deduplicated first, and each order emits at most once regardless
    of how many late lines it has. One exchange per side, 5-row
    result.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp_ntz"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        o.join(l, (F.col("o_orderkey") == F.col("l_orderkey")) & late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q6_ORACLE = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


@plan("discount_revenue_probe", _Q6_ORACLE)
def discount_revenue_probe(spark, sf_dir):
    """TPC-H Q6 shape: the pure scan-aggregate — what-if revenue from
    forgone discounts in a band, no join anywhere.

    100 TB: ALL three predicates push to the parquet reader
    (PushedFilters on l_shipdate, l_discount, l_quantity), the scan
    reads only the four referenced columns, and the single aggregate
    is map-side combined into a 1-row result — the plan is one scan,
    zero exchanges of data rows. The canonical baseline for scan
    throughput.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    prod = F.col("l_extendedprice").cast(PRICE_DEC) * F.col("l_discount").cast(
        RATE_DEC
    )
    return l.agg(
        F.sum(prod).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_Q13_ORACLE = """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@plan("customer_order_distribution", _Q13_ORACLE)
def customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: the count-of-counts histogram — how many
    customers placed k qualifying orders each, INCLUDING the zero
    bucket (hence the LEFT join; an inner join silently drops
    order-less customers and corrupts the distribution).

    100 TB: the priority filter applies to the orders side BEFORE the
    left join (right-side-only ON predicates are pushed, equivalently
    expressed here as a pre-filter); the first rollup rides the join's
    c_custkey partitioning with no extra exchange; the second rollup
    exchanges one row per distinct count value. COUNT(o_orderkey)
    counts non-NULL matches only, which both engines agree on.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q15_ORACLE = f"""
    WITH rev AS (
      SELECT l_suppkey,
             {DISC_PRICE_SQL.format(p="l_extendedprice", d="l_discount")}
                 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
"""


@plan("top_revenue_supplier", _Q15_ORACLE)
def top_revenue_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the row(s) equal to a derived scalar maximum —
    argmax by equality join-back (ties all surface, unlike LIMIT 1).

    100 TB: the quarter revenue rollup is one map-side-combined
    exchange on l_suppkey; its 1-row MAX broadcasts into the equality
    filter (BroadcastNestedLoop of one row); only the surviving
    supplier keys join the dimension. The revenue relation is derived
    twice (Spark has no CTE materialization) but both derivations scan
    the same pruned quarter — at 100 TB this is two pruned scans, not
    two full-table passes. Equality on double is safe here because
    both sides derive from the SAME exact-decimal sum.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        disc_price_sum("l_extendedprice", "l_discount", "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__max_rev"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_Q16_ORACLE = """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 3000)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 50
"""


@plan("supplier_diversity_census", _Q16_ORACLE)
def supplier_diversity_census(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier breadth per part attribute
    triple, excluding a subqueried supplier blocklist (low account
    balance standing in for the complaint filter) — the NOT IN
    anti-join + grouped COUNT DISTINCT pattern.

    100 TB: the blocklist is a filtered dimension scan that anti-joins
    lineitem as a broadcast hash join (keys only, never the supplier
    row); brand/size push to the part scan; the distinct count
    partial-aggregates on (attrs, suppkey) before the final rollup, so
    the exchange carries deduplicated pairs, not raw lineitem. NOT IN
    is safe to fold to LEFT ANTI because s_suppkey is non-nullable —
    with a nullable subquery column the two differ on NULL semantics.
    """
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 3000)
        .select("s_suppkey")
    )
    return (
        l.join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# TPC-H analogs, final batch (r7): Q17 (correlated per-group average
# threshold), Q8 (market-share ratio of conditional sums), Q2 (argmin
# join-back across a dimension chain), Q9 (computed-margin rollup),
# Q20 (semi-join on a correlated share threshold). partsupp-based
# originals are re-keyed to lineitem-derived facts (offer price,
# shipped volume); averages are multiplied out to exact-decimal
# comparisons per DETERMINISM.md.
# ---------------------------------------------------------------------------

_Q17_ORACLE = """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
             / 7.0 AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part ON p_partkey = l.l_partkey
    JOIN (SELECT l_partkey AS pk, COUNT(*) AS n,
                 SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq
          FROM lineitem GROUP BY l_partkey) a ON a.pk = l.l_partkey
    WHERE p_brand = 'Brand#12'
      AND 5 * CAST(l.l_quantity AS DECIMAL(12,2)) * a.n < a.sq
"""


@plan("small_order_revenue_loss", _Q17_ORACLE)
def small_order_revenue_loss(spark, sf_dir):
    """TPC-H Q17 shape: lines below 20% of their part's average
    quantity — a correlated per-group scalar threshold, decorrelated
    into a join against the per-part aggregate.

    The threshold is multiplied out (5 * qty * n < sum) so both
    engines compare exact decimals instead of an engine-ordered double
    AVG — the boundary can't flip on summation order.

    100 TB: the per-part (count, sum) profile is one map-side-combined
    exchange on l_partkey; the probe join reuses that same
    partitioning; the brand filter pushes to the part scan and
    semi-reduces the probe side via broadcast. Two scans of lineitem,
    both column-pruned to 3 columns.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#12"
    ).select("p_partkey")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    prof = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("__n"), F.sum(qty).alias("__sq")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(prof, l.l_partkey == prof.pk)
        .filter(F.lit(5) * qty * F.col("__n") < F.col("__sq"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast(PRICE_DEC)).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q8_ORACLE = f"""
    WITH flat AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,4))
               * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
               AS vol,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 00:00:00'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN vol
                         ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE) AS mkt_share
    FROM flat GROUP BY o_year ORDER BY o_year
"""


@plan("nation_market_share", _Q8_ORACLE)
def nation_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a regional market by
    year — a ratio of conditional sums over a 7-join star.

    100 TB: region/nation broadcast pre-filtered (metadata-sized);
    the part-type filter semi-reduces lineitem via the part join —
    deliberately NOT hint-broadcast: the filtered part set is a fixed
    FRACTION of a data-scaling table (r10 broadcast audit), so AQE
    decides at runtime (auto-broadcast while it fits, shuffle join
    beyond). Both the share numerator and denominator ride ONE
    aggregation (the CASE moves the market-of-interest branch into
    the aggregate), so the star is traversed once. Exact decimal
    sums; one double division per year.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31 00:00:00").cast("timestamp_ntz"))
    )
    cu = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("__ck"))
    n2 = n.select(
        F.col("n_nationkey").alias("__sk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice").cast(PRICE_DEC) * (
        F.lit(1).cast(RATE_DEC) - F.col("l_discount").cast(RATE_DEC)
    )
    flat = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("__ck"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("__sk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("__vol"),
            "supp_nation",
        )
    )
    target = F.when(
        F.col("supp_nation") == "NATION_7", F.col("__vol")
    ).otherwise(F.lit(0).cast(PRICE_DEC))
    return (
        flat.groupBy("o_year")
        .agg(
            (
                F.sum(target).cast("double") / F.sum("__vol").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q2_ORACLE = """
    WITH offer AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(12,4))) AS best_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey AS pk, MIN(best_price) AS min_price
      FROM offer GROUP BY l_partkey
    )
    SELECT s_acctbal, s_name, n_name AS nation, p_partkey, p_name,
           CAST(offer.best_price AS DOUBLE) AS best_price
    FROM offer
    JOIN best ON offer.l_partkey = best.pk AND offer.best_price = best.min_price
    JOIN part ON p_partkey = offer.l_partkey
    JOIN supplier ON s_suppkey = offer.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_size <= 5 AND p_type = 'LARGE'
    ORDER BY s_acctbal DESC, nation, s_name, p_partkey
    LIMIT 20
"""


@plan("cheapest_part_supplier", _Q2_ORACLE)
def cheapest_part_supplier(spark, sf_dir):
    """TPC-H Q2 shape: the supplier(s) offering each part's minimum
    price, decorated through the dimension chain — the argmin
    join-back pattern (re-keyed from partsupp to lineitem-observed
    offer prices; ties all surface, as in the original).

    100 TB: both rollups are map-side-combined exchanges on
    l_partkey-led keys, and the argmin equality join-back rides the
    SAME l_partkey partitioning as the per-part MIN — no extra
    exchange; the part filter semi-reduces the join-back side;
    supplier/nation decorate the few surviving rows; top-20 is
    TakeOrderedAndProject. Exact-decimal MIN, so the equality
    join-back cannot miss on FP representation.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 5) & (F.col("p_type") == "LARGE")
    ).select("p_partkey", "p_name")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    offer = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice").cast(PRICE_DEC)).alias("__best")
    )
    best = offer.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("__best").alias("__min_price")
    )
    return (
        offer.join(
            best,
            (offer.l_partkey == best.pk) & (offer.__best == best.__min_price),
        )
        .join(p, offer.l_partkey == p.p_partkey)
        .join(s, offer.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "s_acctbal",
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_name",
            F.col("__best").cast("double").alias("best_price"),
        )
        .orderBy(F.col("s_acctbal").desc(), "nation", "s_name", "p_partkey")
        .limit(20)
    )


_Q9_ORACLE = """
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(
             CAST(l_extendedprice AS DECIMAL(12,4))
               * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
             - CAST(l_quantity AS DECIMAL(12,2))
               * CAST(p_retailprice AS DECIMAL(12,4))
               * CAST(0.6 AS DECIMAL(2,1))
           ) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
"""


@plan("product_profit_by_nation", _Q9_ORACLE)
def product_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape: computed margin (revenue minus modeled cost at
    60% of retail) rolled up by supplier nation and year, for parts
    matching a name pattern (p_retailprice standing in for
    ps_supplycost).

    100 TB: the LIKE filter pushes to the part scan (StringContains)
    and semi-reduces lineitem via the part join — not hint-broadcast:
    a name-pattern subset of part scales with the data (r10 broadcast
    audit), so AQE picks the join strategy at runtime; the margin is computed
    rowwise in exact decimals BEFORE aggregation so partials combine
    map-side; nation broadcasts; orders joins column-pruned to the
    date. One exchange per join key, small (nation x year) result.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    ).select("p_partkey", "p_retailprice")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    margin = F.col("l_extendedprice").cast(PRICE_DEC) * (
        F.lit(1).cast(RATE_DEC) - F.col("l_discount").cast(RATE_DEC)
    ) - F.col("l_quantity").cast("decimal(12,2)") * F.col(
        "p_retailprice"
    ).cast(PRICE_DEC) * F.lit("0.6").cast("decimal(2,1)")
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(margin).cast("double").alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


_Q20_ORACLE = """
    WITH per AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS q
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%bolt%'
      GROUP BY l_partkey, l_suppkey
    ),
    tot AS (
      SELECT l_partkey AS pk, SUM(q) AS tq, COUNT(*) AS ns
      FROM per GROUP BY l_partkey
    )
    SELECT s_name, n_name AS nation
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM per JOIN tot ON per.l_partkey = tot.pk
      WHERE per.q * ns > 2 * tq
    )
    ORDER BY s_name
"""


@plan("dominant_part_suppliers", _Q20_ORACLE)
def dominant_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers qualified through a nested subquery
    with a correlated aggregate threshold — here, shipping more than
    TWICE a part's fair share of volume (q * n_suppliers > 2 * total,
    scale-invariant where the original's 50%-of-availqty is not, and
    exact-decimal so the boundary is engine-stable).

    100 TB: the name filter semi-reduces lineitem via the part join
    (no broadcast hint — the filtered subset scales with the data,
    AQE decides at runtime; r10 broadcast audit); the per-part total and supplier count come from an
    UNBOUNDED WINDOW over the per-(part, supplier) rollup rather than
    a re-aggregation self-join — Spark has no CTE materialization, so
    the join spelling would re-derive the rollup and scan the fact
    TWICE; the window keeps it to one scan and one l_partkey
    exchange. The qualifying-supplier set left-semi joins the
    supplier dimension.
    """
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("bolt")
    ).select("p_partkey")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("__q"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        per.withColumn("__tq", F.sum("__q").over(w))
        .withColumn("__ns", F.count(F.lit(1)).over(w))
        .filter(F.col("__q") * F.col("__ns") > F.lit(2) * F.col("__tq"))
        .select("l_suppkey")
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )
