"""The fold-based kNN operator (the one perfbench's kNN op runs) must
agree with the decimal-exact, oracle-checked knn_bruteforce plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from comperhensive_bigdata_analysis__spark.operators.similarity import brute_force_knn
from comperhensive_bigdata_analysis__spark.plans.vector import knn_bruteforce
from comperhensive_bigdata_analysis__spark.sources.tables import load_table


def test_knn_fold_vs_numpy(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_knn(e, q, k=10).orderBy("rank").collect()
    want = knn_bruteforce(spark, sf_dir).collect()
    assert len(want) == 10
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    for g, w in zip(got, want):
        # the plan rounds its cosine to 6 decimals
        assert abs(g["cosine"] - w["cosine"]) <= 1e-6, (g, w)
