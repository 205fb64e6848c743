"""Property tests for the training-pipeline plans beyond the oracle
hash-match: split stability/proportions, sample determinism, scrub
invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from comperhensive_bigdata_analysis__spark import plans


def test_split_proportions_and_stability(spark, sf_dir):
    run1 = {r["split"]: r["n_docs"] for r in plans.QUERIES["train_test_split"](spark, sf_dir).collect()}
    run2 = {r["split"]: r["n_docs"] for r in plans.QUERIES["train_test_split"](spark, sf_dir).collect()}
    assert run1 == run2  # hash split: no RNG, rerun-identical
    total = sum(run1.values())
    assert set(run1) == {"train", "val", "test"}
    # md5 is uniform: 'cd'/256 = 80.1%, ('e6'-'cd')/256 = 9.8%
    assert 0.70 <= run1["train"] / total <= 0.90
    assert run1["val"] / total <= 0.20
    assert run1["test"] / total <= 0.20


def test_stratified_sample_deterministic_and_capped(spark, sf_dir):
    s1 = [tuple(r) for r in plans.QUERIES["stratified_sample_docs"](spark, sf_dir).collect()]
    s2 = [tuple(r) for r in plans.QUERIES["stratified_sample_docs"](spark, sf_dir).collect()]
    assert s1 == s2
    per_source = {}
    for source, _doc, rk in s1:
        per_source.setdefault(source, []).append(rk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 5
               for v in per_source.values())


def test_scrub_removes_stopwords(spark, sf_dir):
    out = plans.QUERIES["boilerplate_scrub"](spark, sf_dir)
    docs = out.count()
    # corpus contains 'a'/'the' tokens -> some scrubbing must occur
    assert out.filter(F.col("n_stopwords") > 0).count() > 0
    # scrubbing never lengthens text
    from comperhensive_bigdata_analysis__spark.sources.tables import load_table
    d = load_table(spark, sf_dir, "documents").select("doc_id", F.length("text").alias("orig"))
    assert (
        out.join(d, "doc_id").filter(F.col("clean_chars") > F.col("orig")).count() == 0
    )
    assert out.count() == docs


def test_tfidf_ranks_within_doc(spark, sf_dir):
    out = plans.QUERIES["tfidf_top_terms"](spark, sf_dir)
    bad = (
        out.groupBy("doc_id")
        .agg(F.collect_list("rk").alias("rks"), F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 3) | (F.array_min("rks") != 1))
        .count()
    )
    assert bad == 0


def test_zscore_weighted_mean_is_zero(spark, sf_dir):
    """Group mean z-scores, weighted by group size, must average to ~0
    (z-scores are centered on the global mean by construction)."""
    rows = plans.QUERIES["zscore_order_prices"](spark, sf_dir).collect()
    total_n = sum(r["n"] for r in rows)
    weighted = sum(r["n"] * r["mean_z"] for r in rows) / total_n
    assert abs(weighted) < 1e-4  # floor-at-1e-6 rounding is the only slack
    for r in rows:
        assert r["min_z"] <= r["mean_z"] <= r["max_z"]


def test_dense_grid_is_complete_and_zero_filled(spark, sf_dir):
    """Every month x status cell exists exactly once, and cell counts sum
    back to the table's row count (zero-fill adds no phantom rows)."""
    out = plans.QUERIES["dense_month_status_grid"](spark, sf_dir)
    rows = out.collect()
    months = {r["month"] for r in rows}
    statuses = {r["status"] for r in rows}
    assert len(rows) == len(months) * len(statuses)  # dense: full cartesian
    assert len({(r["month"], r["status"]) for r in rows}) == len(rows)
    from comperhensive_bigdata_analysis__spark.sources.tables import load_table

    assert sum(r["n_orders"] for r in rows) == load_table(spark, sf_dir, "orders").count()


def test_weighted_sample_rates_track_tier_thresholds(spark, sf_dir):
    """'long' docs are kept at 100% (every hex char < 'g'); lower tiers
    keep close to their nominal 8/16, 4/16, 1/16 md5-prefix rates."""
    rows = {r["tier"]: r for r in plans.QUERIES["weighted_sample_docs"](spark, sf_dir).collect()}
    nominal = {"long": 1.0, "mid": 0.5, "short": 0.25, "tiny": 1 / 16}
    for tier, r in rows.items():
        rate = r["n_kept"] / r["n_docs"]
        if tier == "long":
            assert rate == 1.0
        else:
            assert abs(rate - nominal[tier]) < 0.15
        assert r["kept_chars"] <= r["n_docs"] * 10**7  # sanity: bounded


def test_dsir_weights_favor_target_language(spark, sf_dir):
    """The DSIR importance weight is ln p_target(doc) - ln p_raw(doc)
    up to hashing: documents FROM the target slice (lang='en') must
    average a higher per-feature weight than the rest of the corpus —
    the separation the resampler exists to exploit. Per-feature (not
    per-doc) so length differences between slices can't mask the sign."""
    from comperhensive_bigdata_analysis__spark.sources.tables import load_table

    w = plans.QUERIES["dsir_importance_weights"](spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    per_feat = (
        w.join(langs, "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_target"))
        .agg(
            (F.sum("dsir_logw") / F.sum("n_feats")).alias("w_per_feat")
        )
    )
    got = {r["is_target"]: r["w_per_feat"] for r in per_feat.collect()}
    assert got[True] > got[False]
    # weights are finite and the census covers every non-empty doc
    n_docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    ).count()
    assert w.count() == n_docs


def test_dsir_operators_fit_once_score_increments(spark, sf_dir):
    """Production DSIR contract: (1) fit+score over the full corpus
    reproduces the oracle-checked plan exactly; (2) a model fit on one
    half scores a held-out half — the fit-once / score-increments flow
    — producing a finite weight for every non-empty held-out doc."""
    from comperhensive_bigdata_analysis__spark.operators.curation import (
        dsir_featurize,
        dsir_fit,
        dsir_score,
    )
    from comperhensive_bigdata_analysis__spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    hashed = dsir_featurize(
        d.withColumn("is_en", F.col("lang") == "en"),
        "doc_id", "text", "is_en",
    )
    got = {
        r["doc_id"]: (r["n_feats"], r["dsir_logw"])
        for r in dsir_score(hashed, dsir_fit(hashed)).collect()
    }
    want = {
        r["doc_id"]: (r["n_feats"], r["dsir_logw"])
        for r in plans.QUERIES["dsir_importance_weights"](spark, sf_dir).collect()
    }
    assert got == want  # composition == the oracle-checked plan

    fit_half = hashed.filter(F.col("doc_id") % 2 == 0)
    held_out = hashed.filter(F.col("doc_id") % 2 == 1)
    model = dsir_fit(fit_half)
    scored = dsir_score(held_out, model).collect()
    n_held = held_out.select("doc_id").distinct().count()
    assert len(scored) == n_held
    assert all(r["dsir_logw"] is not None for r in scored)


def test_dsir_plan_is_the_operator_composition(spark, sf_dir):
    """DSIR has one implementation: the oracle-checked plan optimizes to
    the same plan as dsir_featurize -> dsir_fit -> dsir_score over the
    fanned-out corpus (expression ids aside)."""
    import re

    from comperhensive_bigdata_analysis__spark.operators.curation import (
        dsir_featurize,
        dsir_fit,
        dsir_score,
    )
    from comperhensive_bigdata_analysis__spark.sources.tables import (
        fan_out,
        load_table,
    )

    def optimized(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+", "#", plan)

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hashed = dsir_featurize(
        docs.withColumn("is_en", F.col("lang") == "en"),
        "doc_id", "text", "is_en",
    )
    composed = dsir_score(hashed, dsir_fit(hashed)).orderBy("doc_id")
    got = plans.QUERIES["dsir_importance_weights"](spark, sf_dir)
    assert optimized(got) == optimized(composed)


def test_dsir_dense_model_scores_unseen_buckets(spark):
    """Review fix: the model must be DENSE (all 64 buckets, smoothed
    default for unseen ones) so scoring a later batch never silently
    drops features — every feature of a scored doc counts in n_feats
    even when the fit batch never touched its bucket, and featurize
    works without a target column at score time."""
    from comperhensive_bigdata_analysis__spark.operators.curation import (
        dsir_featurize,
        dsir_fit,
        dsir_score,
    )

    fit_docs = spark.createDataFrame(
        [(1, "alpha beta", True)], "doc_id long, text string, is_t boolean"
    )
    model = dsir_fit(dsir_featurize(fit_docs, "doc_id", "text", "is_t"))
    assert model.count() == 64  # dense, not just observed buckets
    score_docs = spark.createDataFrame(
        [(2, "gamma delta epsilon")], "doc_id long, text string"
    )
    scored = dsir_score(
        dsir_featurize(score_docs, "doc_id", "text"), model
    ).collect()
    assert len(scored) == 1
    assert scored[0]["n_feats"] == 5  # 3 unigrams + 2 bigrams, none dropped
    assert scored[0]["dsir_logw"] is not None
