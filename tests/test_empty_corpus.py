"""Degenerate-input robustness (round-12 audits): a 100 TB pipeline
hits empty and null-riddled inputs routinely — an upstream filter that
matches nothing, a fresh partition, a dry incremental batch, a source
whose optional columns went dark — and a plan that CRASHES there is a
production bug the populated-corpus oracle gate cannot see.

Three audits ran all 234 registered plans:

- EMPTY corpus (schema-correct, zero rows): 232 survived; fixed and
  pinned here: exact_quantile_disc raised on empty instead of
  returning SQL percentile_disc's NULL, and the JSONL roundtrip hit
  Spark's no-files-to-infer-from failure.
- NULL corpus (every non-key column NULL, keys kept): 230 survived;
  fixed and pinned here: three ANSI DIVIDE_BY_ZERO crashes where
  DuckDB (and each plan's own oracle) return NULL — now try_divide
  (ab_conversion_z, price_drift_buckets, woe_priority_returns; the
  zero denominators are reachable on ordinary skewed data, not just
  the audit corpus) — and NULL_MAP_KEY in the Presto map_agg rewrite,
  which now drops null keys like Presto's own accumulator does.
- SINGLE-ROW corpus (limit(1) of every table): 228 survived; fixed
  and pinned here: six more ANSI DIVIDE_BY_ZERO crashes in the n=1 /
  constant-column statistics (OLS slope denominator shared by all
  four forecast plans; sample-variance n-1 divisors in
  corr_stats_lineitem, embedding_dim_moments, sigma_clip_outliers,
  zscore_order_prices; the z-score's sd=0 constant-column case) —
  all now try_divide, degrading to the same NULLs DuckDB computes.

A representative cross-family subset stays under regression so new
plan shapes keep all three properties.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from comperhensive_bigdata_analysis__spark import plans
from comperhensive_bigdata_analysis__spark.sources.tables import load_table

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


@pytest.fixture(scope="session")
def empty_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    return out


@pytest.fixture(scope="session")
def null_dir(spark, sf_dir, tmp_path_factory):
    """Every non-key column NULLed; keys kept so joins still connect."""
    out = str(tmp_path_factory.mktemp("null_sf"))
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        cols = [
            F.col(c)
            if (c.endswith("key") or c.endswith("_id"))
            else F.lit(None).cast(dt).alias(c)
            for c, dt in df.dtypes
        ]
        df.select(*cols).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet")
        )
    return out


# One plan per family: relational agg/join/window, SQL front door,
# dedup (exact + minhash + census persist), ANN, text/training
# (incl. the distributed_scan shapes), media, formats, pipeline — plus
# the two plans the audit actually caught.
REPRESENTATIVES = [
    "pricing_summary",
    "revenue_by_nation",
    "top_customers",
    "window_top_orders",
    "sql_date_literal_filter",
    "exact_dedup_docs",
    "minhash_lsh_dedup",
    "exact_substr_spans",
    "winnowing_fingerprint_pairs",
    "domain_cap_census",
    "knn_bruteforce",
    "ivf_recall_eval",
    "ccnet_quality_buckets",
    "pack_context_windows",
    "dsir_importance_weights",
    "unigram_lm_surprisal",
    "jpeg_pixel_stats",
    "jpeg_pixel_stats_np",
    "wav_audio_stats",
    "wav_audio_stats_np",
    "media_pixel_stats",
    "gif_pixel_stats",
    "gif_video_frames",
    "media_resize_roundtrip",
    "media_real_decode_census",
    "csv_roundtrip_stats",
    "corpus_clean_pipeline",
    "grouped_exact_median",
    # the two r12 audit catches:
    "orders_above_exact_p99",
    "jsonl_roundtrip_stats",
]


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_plan_survives_empty_corpus(spark, empty_dir, name):
    rows = plans.QUERIES[name](spark, empty_dir).collect()
    assert isinstance(rows, list)  # no crash; content checked below


def test_exact_quantile_disc_returns_none_on_empty(spark):
    from comperhensive_bigdata_analysis__spark.operators.quantile import (
        exact_quantile_disc,
    )

    df = spark.createDataFrame([], "v double")
    assert exact_quantile_disc(df, "v", 0.99) is None
    # all-NULL/NaN input is empty AFTER filtering — same contract
    df2 = spark.createDataFrame([(None,), (float("nan"),)], "v double")
    assert exact_quantile_disc(df2, "v", 0.5) is None


def test_p99_plan_matches_oracle_shape_on_empty(spark, empty_dir):
    rows = plans.QUERIES["orders_above_exact_p99"](spark, empty_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["p99"] is None and r["n_tail"] == 0 and r["tail_revenue"] is None


def test_jsonl_roundtrip_empty_matches_oracle_shape(spark, empty_dir):
    rows = plans.QUERIES["jsonl_roundtrip_stats"](spark, empty_dir).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 0


# The four r12 null-corpus catches, plus representatives whose paths
# exercise Python workers / window shares / map aggregates on NULLs.
NULL_REPRESENTATIVES = [
    "ab_conversion_z",
    "price_drift_buckets",
    "woe_priority_returns",
    "sql_presto_map_compat",
    # r12 adversarial-values fixes with NULL-sensitive semantics:
    "argmax_event_per_user",
    "top_event_paths",
    "pricing_summary",
    "corpus_clean_pipeline",
    "exact_substr_spans",
    "dsir_importance_weights",
    "knn_bruteforce",
    "jpeg_pixel_stats_np",
    "revenue_share_within_region",
]


@pytest.mark.parametrize("name", NULL_REPRESENTATIVES)
def test_plan_survives_null_corpus(spark, null_dir, name):
    rows = plans.QUERIES[name](spark, null_dir).collect()
    assert isinstance(rows, list)


def test_try_divide_semantics_match_oracle_on_nulls(spark, null_dir):
    """The divide-by-zero fixes must return the oracle's NULLs, not
    fabricate numbers: with every value column NULL, each share/ratio
    column is NULL while the exact counts stay correct."""
    rows = plans.QUERIES["price_drift_buckets"](spark, null_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    # least(floor(NULL), 9) = 9: one bucket, all rows in period B
    assert r["bucket"] == 9 and r["n_a"] == 0 and r["n_b"] > 0
    assert r["p"] is None and r["p_over_q"] is None


def test_map_agg_drops_null_keys_like_presto(spark, null_dir):
    # nation names are NULL in this corpus: the rewritten map_agg must
    # produce empty maps (NULL keys skipped), not NULL_MAP_KEY.
    rows = plans.QUERIES["sql_presto_map_compat"](spark, null_dir).collect()
    assert rows and all(r["n_nations"] == 0 for r in rows)


@pytest.fixture(scope="session")
def one_dir(spark, sf_dir, tmp_path_factory):
    """limit(1) of every table — the n=1 statistics edge."""
    out = str(tmp_path_factory.mktemp("one_sf"))
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    return out


# The six r12 single-row catches (the forecast pair covers the shared
# _slope_intercept OLS denominator for all four forecast plans).
ONE_ROW_REPRESENTATIVES = [
    "corr_stats_lineitem",
    "embedding_dim_moments",
    "linear_forecast",
    "seasonal_forecast",
    "sigma_clip_outliers",
    "zscore_order_prices",
]


@pytest.mark.parametrize("name", ONE_ROW_REPRESENTATIVES)
def test_plan_survives_single_row_corpus(spark, one_dir, name):
    rows = plans.QUERIES[name](spark, one_dir).collect()
    assert isinstance(rows, list)


def test_n1_statistics_degrade_to_oracle_nulls(spark, one_dir):
    """At n=1 the sample variance and correlation are undefined: the
    fixed plans must produce the oracle's NULLs, never fabricated
    numbers, while exact counts stay correct."""
    r = plans.QUERIES["corr_stats_lineitem"](spark, one_dir).collect()[0]
    assert r["n"] == 1
    assert r["corr_qty_price"] is None and r["stddev_price"] is None
    z = plans.QUERIES["zscore_order_prices"](spark, one_dir).collect()[0]
    assert z["n"] == 1 and z["mean_z"] is None
