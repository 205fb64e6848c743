"""Property-based tests (hypothesis) for the pure-Python ingest
semantics — SURVEY §5.2 item 3: sanitization idempotent, output charset
closed, collapse rule total — plus the column dedup and the timestamp
probe's cheap gate, which need the Spark session to evaluate."""

from __future__ import annotations

import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from comperhensive_bigdata_analysis__spark.sources.ingest import (
    sanitize_name,
    table_name_for,
)


@given(st.text(max_size=80))
def test_sanitize_charset_and_idempotence(s):
    out = sanitize_name(s)
    assert re.fullmatch(r"[A-Za-z0-9_]*", out) is not None
    assert "__" not in out
    assert sanitize_name(out) == out  # idempotent (helper_utils.py:27-36)


@given(st.text(min_size=1, max_size=40))
def test_table_name_lowercase_and_stable(stem):
    name = table_name_for(f"/data/{stem}.csv")
    assert name == name.lower()
    assert re.fullmatch(r"[a-z0-9_]*", name) is not None
    # extension stripped regardless of stem content
    assert name == table_name_for(f"other/dir/{stem}.csv")


@settings(deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["a b", "a-b", "a_b", "A B", "a.b", "a  b", "a_b_1", "a b 1", "A_B_2", "a_b_1_1"]
        ),
        min_size=1,
        max_size=6,
    )
)
@example(["a_b_1", "a b", "a-b"])
def test_sanitize_collisions_are_resolved_deterministically(spark, cols):
    from pyspark.sql import functions as F

    from comperhensive_bigdata_analysis__spark.sources.ingest import sanitize_columns

    df = spark.range(1).select(*[F.lit(i).alias(c) for i, c in enumerate(cols)])
    out = sanitize_columns(df).columns
    assert out == sanitize_columns(df).columns  # same inputs -> same outputs
    assert [sanitize_name(c) for c in out] == out
    # no residual collisions, also under Spark's case-insensitive resolution
    assert len({c.lower() for c in out}) == len(out)


# -- the timestamp probe's cheap gate (needs Spark) -------------------------

_TS_ALPHABET = "0123456789+-/: T\t.Zaz"


@pytest.fixture(scope="module")
def ts_probe(spark):
    from comperhensive_bigdata_analysis__spark.sources.ingest import (
        _try_ts,
        _ts_candidate,
    )

    def probe(values):
        df = spark.createDataFrame([(v,) for v in values], "s string")
        return {
            r["s"]: (r["gate"], r["parses"])
            for r in df.selectExpr(
                "s",
                f"{_ts_candidate('s')} AS gate",
                f"{_try_ts('s')} IS NOT NULL AS parses",
            ).collect()
        }

    return probe


def test_ts_gate_admits_signed_years_and_rejects_padding(ts_probe):
    out = ts_probe(["-2020-01-01", "+02020/01/01", " 2020-01-01", "01/02/2020"])
    assert out["-2020-01-01"] == (True, True)
    assert out["+02020/01/01"] == (True, True)
    assert out["01/02/2020"] == (True, True)
    assert out[" 2020-01-01"] == (False, False)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.text(alphabet=_TS_ALPHABET, max_size=24),
            st.text(max_size=12),
            st.dates().map(str).flatmap(
                lambda d: st.sampled_from([d, f"-{d}", f"+{d}", f" {d}", f"{d} 12:00:00"])
            ),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_ts_gate_false_implies_unparseable(ts_probe, values):
    """_ts_candidate is a necessary condition: whenever it is false,
    every probed format fails, so gating the probe never changes which
    columns ingest coerces to timestamp."""
    for v, (gate, parses) in ts_probe(values).items():
        assert gate or not parses, repr(v)
