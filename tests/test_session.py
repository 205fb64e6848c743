"""The session ``get_spark`` builds: the static codegen-cache size it sets
and the recompilation that size saves."""

from __future__ import annotations

from comperhensive_bigdata_analysis__spark.plans.pipeline import run_phase
from comperhensive_bigdata_analysis__spark.session import RUNTIME_CONFS

from .conftest import SF_CORRECT

CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"

#: perfbench's curation_corpus plans (its seventh op, kNN, is no plan)
CURATION_PLANS = [
    "exact_dedup_docs",
    "doc_quality",
    "minhash_lsh_dedup",
    "corpus_clean_pipeline",
    "dsir_importance_weights",
    "exact_substr_spans",
]


def test_codegen_cache_is_sized_at_the_builder(spark):
    """The size is set where a static conf can be set: the builder.
    In RUNTIME_CONFS, apply_runtime_confs would swallow the error of
    setting it on a live session without a word."""
    assert spark.conf.get(CODEGEN_CACHE) == "1000"
    assert CODEGEN_CACHE not in RUNTIME_CONFS


def test_warm_curation_pass_compiles_nothing(spark):
    """A second pass of the curation plans finds every generated class
    in Spark's codegen cache. With Spark's default of 100 entries the
    ~150 classes of one pass evict each other, and every pass
    recompiles ~140 of them."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def compiled_by_one_pass():
        before = compiles.getCount()
        run_phase(spark, SF_CORRECT, CURATION_PLANS)
        return compiles.getCount() - before

    compiled_by_one_pass()  # cold: fills the cache
    assert compiled_by_one_pass() == 0
