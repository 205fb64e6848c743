"""Sketch tolerance: approximate distinct counts and percentiles against
their exact counterparts."""

from __future__ import annotations

from pyspark.sql import functions as F

from comperhensive_bigdata_analysis__spark.plans.sketch import approx_distinct_users
from comperhensive_bigdata_analysis__spark.sources.tables import load_table


def test_approx_distinct_within_tolerance(spark, sf_dir):
    approx = {
        r["event_type"]: r["approx_users"]
        for r in approx_distinct_users(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        rel_err = abs(approx[k] - exact[k]) / exact[k]
        assert rel_err <= 0.05, (k, approx[k], exact[k])


def test_approx_percentile_close_to_exact(spark, sf_dir):
    from comperhensive_bigdata_analysis__spark.plans.sketch import (
        approx_percentile_prices,
    )
    from comperhensive_bigdata_analysis__spark.plans.windows import percentile_prices

    approx = {
        r["o_orderpriority"]: (r["ap50"], r["ap90"])
        for r in approx_percentile_prices(spark, sf_dir).collect()
    }
    exact = {
        r["o_orderpriority"]: (r["p50"], r["p90"])
        for r in percentile_prices(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    # approx_percentile returns an actual data value while the exact plan
    # interpolates — at smoke-scale group sizes that semantic gap (not
    # sketch error) dominates, hence the 5% band.
    for k in exact:
        for a, e in zip(approx[k], exact[k]):
            assert abs(a - e) / abs(e) <= 0.05, (k, a, e)


def test_hll_mergeable_union_within_tolerance(spark, sf_dir):
    """The UNIONED sketch's global estimate must land within 5% of the
    exact global distinct — the merge path, not just per-group accuracy
    (a wrong union would double-count shared users across groups)."""
    from pyspark.sql import functions as F

    from comperhensive_bigdata_analysis__spark.plans.sketch import (
        hll_mergeable_distinct,
    )
    from comperhensive_bigdata_analysis__spark.sources.tables import load_table

    rows = {r["grain"]: r["approx_users"] for r in
            hll_mergeable_distinct(spark, sf_dir).collect()}
    e = load_table(spark, sf_dir, "events")
    exact_all = e.select("user_id").distinct().count()
    assert abs(rows["ALL"] - exact_all) / exact_all <= 0.05
    # union can never exceed the sum of the parts
    assert rows["ALL"] <= sum(v for k, v in rows.items() if k != "ALL")
