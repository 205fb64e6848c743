"""ANN scale-path plans: approximate results must be consistent subsets
of the exact baselines."""

from __future__ import annotations

from comperhensive_bigdata_analysis__spark.plans import ann
from comperhensive_bigdata_analysis__spark.plans.vector import (
    embedding_near_dup,
    knn_bruteforce,
)


def test_lsh_pairs_subset_of_exact_pairs(spark, sf_dir):
    lsh = {(r["id_a"], r["id_b"]) for r in ann.lsh_band_pairs(spark, sf_dir).collect()}
    exact = {(r["id_a"], r["id_b"]) for r in embedding_near_dup(spark, sf_dir).collect()}
    assert lsh <= exact
    assert lsh  # banding at 4x4 bits must surface at least one pair


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    truth = {r["vec_id"] for r in knn_bruteforce(spark, sf_dir).collect()}
    got = {r["vec_id"] for r in ann.ivf_knn(spark, sf_dir).collect()}
    # probing NPROBE/NCENTROIDS = 1/4 of the space must still recover a
    # majority of the true top-k on clustered synthetic data
    assert len(truth & got) / len(truth) >= 0.5
