"""Bloom-filter bit arithmetic — the md5-derived position scheme of the
membership plan (plans/dedup.py:bloom_filter_probe). The scheme is
DuckDB-replayable (the plan's oracle restates it in SQL): for seed s
and content digest d,

    bitpos(s, d) = int(md5('bf' || s || ':' || d)[:8], 16) mod m_bits
    slot = bitpos div 63,  mask = 1 << (bitpos mod 63)

63 bits per slot long keeps the sign bit clear of shift overflow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Hash-function count (k). fp ~ (1 - e^(-k*n/m))^k; k=7 is optimal
#: near m/n = 10 bits/key.
BLOOM_SEEDS = 7
#: Bits per slot long (sign bit avoided).
BLOOM_SLOT_BITS = 63
#: Default slot count — 64*63 = 4032 bits, ~16 bits/key at the demo
#: corpus size. Size m ~ -n*ln(fp)/ln(2)^2 for production key counts.
BLOOM_SLOTS = 64


def bloom_bitpos(digest_col: Column, seed_col: Column, m_bits: int) -> Column:
    """Bit position in [0, m_bits) for one (digest, seed) pair."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "",
                        F.lit("bf"),
                        seed_col.cast("string"),
                        F.lit(":"),
                        digest_col,
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % m_bits
    )


def bloom_positions(
    df: DataFrame,
    digest_col: str,
    slots: int = BLOOM_SLOTS,
    seeds: int = BLOOM_SEEDS,
) -> DataFrame:
    """(<digest_col>, slot, mask) — ``seeds`` rows per input digest."""
    m_bits = slots * BLOOM_SLOT_BITS
    seed_arr = F.array(*[F.lit(s) for s in range(seeds)])
    pos = df.select(digest_col, F.explode(seed_arr).alias("s")).select(
        digest_col, bloom_bitpos(F.col(digest_col), F.col("s"), m_bits).alias("bitpos")
    )
    return pos.select(
        digest_col,
        F.floor(F.col("bitpos") / BLOOM_SLOT_BITS).cast("long").alias("slot"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(bitpos % {BLOOM_SLOT_BITS} AS INT))"
        ).alias("mask"),
    )
