"""Data-layout plans: cross-engine checks for the z-order clustering
math (``zorder_key``).

Writing a z-ordered table is Spark's own calls (range-partition on the
z-key + ``sortWithinPartitions`` + parquet; DEPLOY.md "Data layout");
what a DuckDB oracle CAN check is the math that makes the layout work —
the integer bucket scaling, the Morton bit interleave, and the
resulting per-file min/max narrowing that parquet row-group stats
exploit. The plan models "files" as equal-width z-key ranges (the
footprint shape repartitionByRange + sortWithinPartitions produces,
computed as pure integer arithmetic so no global window ever touches
fact rows), so the oracle verifies the whole skipping story end-to-end
without touching a filesystem.

Reference parity: the reference has no layout optimizer (it delegates
storage to S3/Hive defaults, aws_utils.py); this is part of the
mandated beyond-reference scale surface (SURVEY §7.5 S12/S13 analog).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import plan


def zorder_key(cols: list, bits: int = 16):
    """Morton (Z-order) interleave of the rank-bucketed values of
    ``cols`` (each a numeric Column already scaled to [0, 2^bits)) into
    one BIGINT sort key. Pure JVM bit arithmetic (shiftleft/bitwise OR
    folded per bit) — no UDF.

    Raises ValueError when ``bits * len(cols) > 63``: the interleaved
    key would need more than the 63 value bits of a signed BIGINT, and
    the JVM's shiftleft wraps the shift amount mod 64, silently
    aliasing high-order bits into low positions and corrupting the
    Morton ordering. Lower ``bits`` or drop columns instead.
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"zorder_key: bits*len(cols) = {bits * n} exceeds 63 — the "
            f"interleaved key overflows a signed BIGINT (JVM shiftleft "
            f"wraps shift amounts mod 64). Use bits <= {63 // n} for "
            f"{n} columns."
        )
    key = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


_BITS = 8
_TOP = (1 << _BITS) - 1
_N_FILES = 16

# Morton interleave as plain SQL arithmetic: column x at even bits,
# column y at odd bits — the same bit placement zorder_key produces
# for cols=[x, y].
_Z_SQL = " + ".join(
    f"(((bx >> {b}) & 1) << {2 * b}) + (((by >> {b}) & 1) << {2 * b + 1})"
    for b in range(_BITS)
)

_ZORDER_ORACLE = f"""
    WITH src AS (
      SELECT o_orderkey,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS eday
      FROM orders
    ),
    s AS (
      SELECT MIN(cents) AS mnc, MAX(cents) AS mxc,
             MIN(eday) AS mnd, MAX(eday) AS mxd
      FROM src
    ),
    b AS (
      SELECT o_orderkey, cents, eday,
             ((cents - mnc) * {_TOP}) // GREATEST(mxc - mnc, 1) AS bx,
             ((eday - mnd) * {_TOP}) // GREATEST(mxd - mnd, 1) AS by
      FROM src, s
    ),
    z AS (
      SELECT o_orderkey, cents, eday, {_Z_SQL} AS zkey
      FROM b
    ),
    f AS (
      SELECT cents, eday, zkey,
             (zkey * {_N_FILES}) // ((SELECT MAX(zkey) FROM z) + 1) AS file_id
      FROM z
    )
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(cents) AS BIGINT) AS mn_cents,
           CAST(MAX(cents) AS BIGINT) AS mx_cents,
           CAST(MIN(eday) AS BIGINT) AS mn_day,
           CAST(MAX(eday) AS BIGINT) AS mx_day,
           CAST(MIN(zkey) AS BIGINT) AS mn_zkey,
           CAST(MAX(zkey) AS BIGINT) AS mx_zkey
    FROM f
    GROUP BY file_id
    ORDER BY file_id
"""


@plan("zorder_skipping_stats", _ZORDER_ORACLE)
def zorder_skipping_stats(spark, sf_dir):
    """Per-"file" min/max footprint of a 2-column z-order layout of
    orders (price cents x order day, 8 bits each), files modeled as
    equal-width z-key range buckets (the footprint a range-partitioned,
    z-key-sorted write leaves).
    Narrow per-file ranges on BOTH columns = predicates on EITHER
    column skip most files via parquet stats — the claim, verified
    cross-engine down to the interleaved bits.

    100 TB: the scale aggs are two tiny broadcast rows; the z-key is
    pure JVM bit arithmetic (no UDF, no shuffle); the only exchange is
    the final per-file rollup — file-id assignment is arithmetic on a
    broadcast 1-row max, so no global window or sort ever touches fact
    rows (the thing NTILE would have cost). Integer-only math
    end-to-end (DETERMINISM §12): bucket = (x - mn) * top DIV span,
    never a float ratio.
    """
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("eday"),
    )
    scale = src.agg(
        F.min("cents").alias("mnc"),
        F.max("cents").alias("mxc"),
        F.min("eday").alias("mnd"),
        F.max("eday").alias("mxd"),
    )
    b = src.crossJoin(F.broadcast(scale)).select(
        "o_orderkey",
        "cents",
        "eday",
        F.expr(f"(cents - mnc) * {_TOP} DIV GREATEST(mxc - mnc, 1)").alias("bx"),
        F.expr(f"(eday - mnd) * {_TOP} DIV GREATEST(mxd - mnd, 1)").alias("by"),
    )
    z = b.withColumn("zkey", zorder_key([F.col("bx"), F.col("by")], bits=_BITS))
    zmax = z.agg(F.max("zkey").alias("zmx"))
    f = z.crossJoin(F.broadcast(zmax)).select(
        "cents",
        "eday",
        "zkey",
        F.expr(f"zkey * {_N_FILES} DIV (zmx + 1)").alias("file_id"),
    )
    return (
        f.groupBy(F.col("file_id").cast("long").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("mn_cents"),
            F.max("cents").alias("mx_cents"),
            F.min("eday").alias("mn_day"),
            F.max("eday").alias("mx_day"),
            F.min("zkey").alias("mn_zkey"),
            F.max("zkey").alias("mx_zkey"),
        )
        .orderBy("file_id")
    )
