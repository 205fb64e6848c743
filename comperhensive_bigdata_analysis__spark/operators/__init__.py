"""Reusable distributed operators (dedup, similarity, relational,
bucketing, skew helpers)."""

from .dedup import (  # noqa: F401
    exact_dedup,
    ngram_jaccard_pairs,
    minhash_signatures,
    minhash_lsh_pairs,
    simhash_signatures,
)
from .similarity import brute_force_knn  # noqa: F401
from .relational import as_of_join, sessionize  # noqa: F401
from .merge import merge_upsert, scd2_apply  # noqa: F401
from .bucketing import colocated_join, write_bucketed  # noqa: F401
from .skew import salted_join  # noqa: F401
