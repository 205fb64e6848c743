"""Scalar/text/vector/bloom function library (SURVEY §2.7 + extensions).

Everything here returns Column expressions built from pyspark.sql.functions
builtins — JVM-side, whole-stage-codegen'd. No Python UDFs.
"""

from .text import (  # noqa: F401
    bpe_ish_token_count,
    token_count,
    punct_count,
    stopword_count,
    quality_score_col,
    word_shingles,
    char_shingles,
)
from .vectors import dot_product, l2_norm, cosine_similarity  # noqa: F401
