"""Cross-system table fingerprinting: reduce any relation to a few
order-insensitive digest scalars so two copies of a 100 TB table can be
compared by shipping a handful of rows (the aggregate twin of the
full-outer snapshot diff).

Method: render each row to a canonical '|'-joined string (caller
pre-shapes columns — e.g. dates to ISO, see plans/relational.py
checksum_orders for the cross-engine rendering rules), md5 it, take the
first 60 bits as a BIGINT sig, and fold sigs with XOR + modular SUM +
MIN/MAX plus COUNT. Every fold keeps a fixed-width buffer, so the whole
reduction is one map-side-combined HashAggregate pair — never
SortAggregate (which a string min/max would force), never a shuffle of
data rows.

Output-type discipline: the sum fold is carried exactly in wide-integer
arithmetic (Spark decimal(38,0) / DuckDB HUGEINT — no overflow below
~1e20 rows of 60-bit sigs) but EMITTED as ``sum(sig) mod 2^61`` cast to
BIGINT. A raw decimal(38,0)/HUGEINT output column is marshalling-fragile:
pandas renders HUGEINT and >int64 decimals as float64, so two engines
holding the identical exact value hash differently downstream (see
DETERMINISM.md — final outputs stay inside int64). The mod-2^61 fold is
still order-insensitive and any single-row change still flips it (mod of
a sum is the sum of mods; a sig delta < 2^60 can't be a multiple of
2^61).

Collision posture: the 60-bit sig keeps SUM/XOR exact in wide-integer
arithmetic; equal (n, xor, sum, min, max) across engines is a
probabilistic but overwhelming match certificate, and any single-row
difference flips xor_sig and sum_sig with certainty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NULL_MARKER = "~null~"

#: Modulus for the emitted sum fold: 2^61. Large enough that a single
#: 60-bit sig delta can never alias to 0, small enough that the emitted
#: value always fits int64 on every engine/marshaller.
SUM_FOLD_MOD = 2305843009213693952


def row_sig(cols, null_marker: str = NULL_MARKER):
    """60-bit BIGINT digest of the canonical row rendering of ``cols``."""
    rendered = [
        F.coalesce(F.col(c).cast("string"), F.lit(null_marker)) for c in cols
    ]
    d = F.md5(F.concat_ws("|", *rendered))
    return F.conv(F.substring(d, 1, 15), 16, 10).cast("long")


def fingerprint(
    df: DataFrame,
    cols: list[str],
    group_by: list[str] | None = None,
    null_marker: str = NULL_MARKER,
) -> DataFrame:
    """Digest-fold ``df[cols]`` into (n, xor_sig, sum_sig, min_sig,
    max_sig), optionally per ``group_by`` key (e.g. a partition column,
    so mismatches localize to a partition)."""
    sig = row_sig(cols, null_marker).alias("__sig")
    folded = df.select(*(group_by or []), sig).groupBy(*(group_by or [])).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor("__sig").alias("xor_sig"),
        # exact wide-integer sum internally; emit mod 2^61 as BIGINT so
        # the output column is marshal-stable (never HUGEINT/float64)
        (
            F.sum(F.col("__sig").cast("decimal(38,0)"))
            % F.lit(SUM_FOLD_MOD).cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("sum_sig"),
        F.min("__sig").alias("min_sig"),
        F.max("__sig").alias("max_sig"),
    )
    return folded
