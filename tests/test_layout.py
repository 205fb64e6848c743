"""The z-order key of the data-layout plans (plans/layout.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from comperhensive_bigdata_analysis__spark.plans.layout import zorder_key


def test_zorder_key_rejects_bigint_overflow(spark):
    """bits*len(cols) > 63 would wrap JVM shiftleft amounts mod 64 and
    corrupt the Morton ordering — must refuse loudly (ADVICE r1)."""
    cols = [F.col(c) for c in ("a", "b", "c", "d")]
    with pytest.raises(ValueError, match="exceeds 63"):
        zorder_key(cols, bits=16)  # 64 bits of key
