"""Similarity search over embedding columns (array<float>).

brute_force_knn is the exact nearest-neighbor operator. Query vectors
are broadcast; each partition scores its rows with a single codegen'd
fold expression (functions.vectors.cosine_similarity) and the per-query
top-k is a ranked window. The catalog's ANN and near-dup shapes (LSH
banding, IVF, PQ, all-pairs above a threshold) are plans in plans/ann.py
and plans/vector.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity


def brute_force_knn(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries``: (query_id, embedding). Small (broadcast); the scan side
    streams. Returns (query_id, vec_id, cosine, rank) with rank 1..k.
    """
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    )
    scored = (
        vectors.join(F.broadcast(q), F.col(id_col) != F.col("__qid"))
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("__qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
