"""Similarity-search plans over ``embeddings`` (array<float>, 64-dim).

Oracle determinism: float dot products are order-dependent, and Spark's
fold order differs from DuckDB's list internals. The oracle-checked
plans therefore compute dot products the EXACT way — posexplode the
vectors, multiply per position in double (IEEE-deterministic per row),
cast each product to DECIMAL(28,12) and sum (order-insensitive). The
fold-based kNN operator (operators/similarity.brute_force_knn) is
tested against knn_bruteforce: same neighbours in order, cosine within
1e-6.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import plan

PDEC = "decimal(28,12)"


def _exploded(df):
    """(vec_id, pos, x): one row per vector component, double-typed."""
    return df.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "xf"),
    ).select("vec_id", "pos", F.col("xf").cast("double").alias("x"))


# ---------------------------------------------------------------------------
# Exact brute-force top-10 cosine neighbors of vec_id = 0.
# ---------------------------------------------------------------------------

_KNN_ORACLE = """
    WITH v AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    q AS (SELECT pos, x AS qx FROM v WHERE vec_id = 0),
    d AS (
      SELECT v.vec_id,
             CAST(SUM(CAST(v.x * q.qx AS DECIMAL(28,12))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(v.x * v.x  AS DECIMAL(28,12))) AS DOUBLE) AS sq
      FROM v JOIN q USING (pos)
      WHERE v.vec_id <> 0
      GROUP BY v.vec_id
    ),
    qn AS (SELECT CAST(SUM(CAST(qx * qx AS DECIMAL(28,12))) AS DOUBLE) AS qsq FROM q)
    SELECT vec_id, ROUND(dot / (sqrt(sq) * sqrt(qsq)), 6) AS cosine
    FROM d, qn
    ORDER BY cosine DESC, vec_id
    LIMIT 10
"""


@plan("knn_bruteforce", _KNN_ORACLE)
def knn_bruteforce(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    v = _exploded(e)
    q = v.filter(F.col("vec_id") == 0).select("pos", F.col("x").alias("qx"))
    d = (
        v.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("x") * F.col("qx")).cast(PDEC)).cast("double").alias("dot"),
            F.sum((F.col("x") * F.col("x")).cast(PDEC)).cast("double").alias("sq"),
        )
    )
    qn = q.agg(F.sum((F.col("qx") * F.col("qx")).cast(PDEC)).cast("double").alias("qsq"))
    return (
        d.crossJoin(F.broadcast(qn))
        .select(
            "vec_id",
            F.round(F.col("dot") / (F.sqrt("sq") * F.sqrt("qsq")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Exact all-pairs cosine >= 0.35 — embedding near-dup detection.
# The exploded pair join is exact; plans/ann.lsh_band_pairs is the
# banded-LSH candidate shape of the same search.
# ---------------------------------------------------------------------------

_PAIRS_ORACLE = """
    WITH v AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    nrm AS (
      SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sq
      FROM v GROUP BY vec_id
    ),
    d AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(SUM(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM v a JOIN v b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(dot / (sqrt(x.sq) * sqrt(y.sq)), 6) AS cosine
    FROM d JOIN nrm x ON id_a = x.vec_id JOIN nrm y ON id_b = y.vec_id
    WHERE dot / (sqrt(x.sq) * sqrt(y.sq)) >= 0.35
    ORDER BY id_a, id_b
"""


@plan("embedding_near_dup", _PAIRS_ORACLE)
def embedding_near_dup(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    v = _exploded(e)
    nrm = v.groupBy("vec_id").agg(
        F.sum((F.col("x") * F.col("x")).cast(PDEC)).cast("double").alias("sq")
    )
    a, b = v.alias("a"), v.alias("b")
    d = (
        a.join(b, (F.col("a.pos") == F.col("b.pos")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .groupBy(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .agg(F.sum((F.col("a.x") * F.col("b.x")).cast(PDEC)).cast("double").alias("dot"))
    )
    nx = nrm.select(F.col("vec_id").alias("id_a"), F.col("sq").alias("sq_a"))
    ny = nrm.select(F.col("vec_id").alias("id_b"), F.col("sq").alias("sq_b"))
    cos = F.col("dot") / (F.sqrt("sq_a") * F.sqrt("sq_b"))
    # The norm lookups are one row per VECTOR — O(n), so they must NOT
    # be broadcast (ADVICE r6 on the same shape in ml.py: an O(n)
    # broadcast OOMs at real scale). Plain key joins; AQE may still
    # choose broadcast at small SF where the table fits.
    return (
        d.join(nx, "id_a")
        .join(ny, "id_b")
        .filter(cos >= 0.35)
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding moments — the anisotropy diagnostic for an
# embedding space: a dimension whose variance collapses (or whose mean
# drifts from 0) degrades cosine separability and unbalances IVF/LSH
# buckets. posexplode is map-side; ONE shuffle on the dimension index;
# mean/var are scalar algebra over exact decimal sums (floored at 1e-6),
# the same moment discipline as zscore_order_prices.
#
# The LINEAR sum casts x to DECIMAL(38,25): scale 25 exceeds the decimal
# expansion length of any float32 at these magnitudes, so the cast is
# EXACT and the HALF_UP-vs-half-even tie that scale-12 casts of raw
# float32 values can hit (x = p/2^13) is structurally impossible.
# Squares stay at (28,12), where ties are unsolvable (2q = 13 has no
# integer solution).
# ---------------------------------------------------------------------------

_DIM_ORACLE = """
    WITH v AS (
      SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    ), m AS (
      SELECT pos,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,25))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM v GROUP BY pos
    )
    SELECT pos,
           FLOOR((sx / n) * 1e6) / 1e6 AS dim_mean,
           FLOOR(((sxx - sx * sx / n) / (n - 1.0)) * 1e6) / 1e6 AS dim_var
    FROM m ORDER BY pos
"""


@plan("embedding_dim_moments", _DIM_ORACLE)
def embedding_dim_moments(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(F.posexplode("embedding").alias("pos", "xf")).select(
        "pos", F.col("xf").cast("double").alias("x")
    )
    x = F.col("x")
    m = v.groupBy("pos").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(38,25)")).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(28,12)")).cast("double").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    return m.select(
        F.col("pos").cast("long").alias("pos"),
        (F.floor((sx / n) * 1e6) / 1e6).alias("dim_mean"),
        # try_divide: a one-vector corpus makes the sample-variance
        # denominator 0; DuckDB returns NULL, ANSI `/` would crash
        # (r12 single-row audit). n itself is never 0 (posexplode
        # yields no rows for an empty corpus).
        (
            F.floor(
                F.try_divide(sxx - sx * sx / n, n - F.lit(1.0)) * 1e6
            )
            / 1e6
        ).alias("dim_var"),
    ).orderBy("pos")


# ---------------------------------------------------------------------------
# Dominant-dimension census: which coordinate carries each vector's max
# value (1-based), counted across the corpus — an anisotropy/collapse
# diagnostic that complements embedding_dim_moments. Pure map-side
# array_max + array_position (first match on ties, same rule as
# DuckDB's list_indexof; float32 comparisons are bit-exact on both
# engines), then one tiny-key aggregate.
# ---------------------------------------------------------------------------

_ARGMAX_DIM_ORACLE = """
    WITH d AS (
      SELECT CAST(list_indexof(embedding, list_aggregate(embedding, 'max')) AS BIGINT) AS dim
      FROM embeddings
    )
    SELECT dim, COUNT(*) AS n
    FROM d GROUP BY dim ORDER BY dim
"""


@plan("embedding_argmax_dim", _ARGMAX_DIM_ORACLE)
def embedding_argmax_dim(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            F.array_position(
                F.col("embedding"), F.array_max("embedding")
            ).alias("dim")
        )
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Hashed-BOW retrieval pipeline — the end-to-end text -> vector ->
# top-k composition a RAG ingest needs, fully oracled: tokenize the
# corpus, feature-hash terms into a 32-bucket sparse embedding
# (md5-derived bucket, identical on both engines), and retrieve the 10
# nearest documents to doc 0 by cosine. All mass stays integer (tf
# sums, dot products, squared norms); the only float is the ranking
# key dot^2/norm — a single correctly-rounded IEEE division identical
# on both engines — and it never reaches the output columns.
# ---------------------------------------------------------------------------

_HASH_DIM = 32
_HE_QUERY_DOC = 0
_HE_TOPK = 10

_HASH_EMBED_ORACLE = rf"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    emb AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % {_HASH_DIM}
               AS bucket,
             SUM(tf) AS v
      FROM tf GROUP BY doc_id, bucket
    ),
    q AS (SELECT bucket, v AS qv FROM emb WHERE doc_id = {_HE_QUERY_DOC}),
    norms AS (SELECT doc_id, SUM(v * v) AS nd FROM emb GROUP BY doc_id),
    dots AS (
      SELECT e.doc_id, SUM(e.v * q.qv) AS dot
      FROM emb e JOIN q USING (bucket)
      WHERE e.doc_id <> {_HE_QUERY_DOC}
      GROUP BY e.doc_id
    )
    SELECT d.doc_id,
           CAST(d.dot AS BIGINT) AS dot,
           CAST(n.nd AS BIGINT) AS norm_sq
    FROM dots d JOIN norms n USING (doc_id)
    ORDER BY CAST(d.dot * d.dot AS DOUBLE) / n.nd DESC, d.doc_id
    LIMIT {_HE_TOPK}
"""


@plan("hash_embed_topk", _HASH_EMBED_ORACLE)
def hash_embed_topk(spark, sf_dir):
    """Top-{_HE_TOPK} nearest documents to doc {_HE_QUERY_DOC} under a
    32-dim feature-hashed bag-of-words embedding (see module comment).

    100 TB: the query vector is <= 32 rows (broadcast); the embedding
    is one (doc, bucket) map-side-combined aggregate over the token
    relation; the candidate dot products shuffle once on doc_id; the
    final ranking is a top-k (TakeOrderedAndProject), never a global
    sort. Cosine ranking compares dot^2/norm, so no sqrt and no float
    accumulation anywhere.

    r13: dot and norm come from ONE aggregation pass. The previous
    shape computed them as separate groupBy legs joined on doc_id;
    because each leg pushed a different doc_id predicate into its
    scan, the subtrees were not ReuseExchange-identical and the
    corpus was scanned+tokenized THREE times (measured: 3 parquet
    scans, 0 reused exchanges in the final adaptive plan). Fusing
    norms into the dot aggregation via a LEFT join against the
    broadcast query vector leaves the full-corpus tokenize pass
    running ONCE (the query-vector leg's scan survives but its
    doc_id = {_HE_QUERY_DOC} predicate prunes it to a single
    document). Equivalence with the two-leg oracle: SUM skips NULL
    qv from the left join, so dot over matched buckets is unchanged;
    a candidate sharing no bucket with the query has all-NULL
    products, SUM returns NULL, and the isNotNull filter drops it —
    exactly the rows the oracle's inner joins drop.
    """
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("term").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % _HASH_DIM
    )
    emb = (
        tf.select("doc_id", bucket.alias("bucket"), "tf")
        .groupBy("doc_id", "bucket")
        .agg(F.sum("tf").alias("v"))
    )
    q = (
        emb.filter(F.col("doc_id") == _HE_QUERY_DOC)
        .select("bucket", F.col("v").alias("qv"))
    )
    fused = (
        emb.filter(F.col("doc_id") != _HE_QUERY_DOC)
        .join(F.broadcast(q), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("v") * F.col("qv")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("nd"),
        )
        .filter(F.col("dot").isNotNull())
    )
    ranked = (
        fused.select(
            "doc_id",
            F.col("dot").alias("dot"),
            F.col("nd").alias("norm_sq"),
            ((F.col("dot") * F.col("dot")).cast("double") / F.col("nd")).alias(
                "__rank"
            ),
        )
        .orderBy(F.col("__rank").desc(), "doc_id")
        .limit(_HE_TOPK)
        .select("doc_id", "dot", "norm_sq")
    )
    return ranked


# ---------------------------------------------------------------------------
# int8 scalar-quantization error census — the standard ANN memory move
# (4 bytes/dim -> 1) evaluated before adopting it: per-dimension scale
# s = max|x| / 127, round-to-nearest code q = floor(x / s + 0.5)
# (the deterministic cross-engine spelling of the standard symmetric
# SQ rounding — review r8: a floor code would inflate MSE ~4x and
# make max_abs_err a constant ~s), reconstruction x' = q * s.
# Reports, per dimension, the scale, MSE, and max absolute error — the
# numbers that decide whether int8 (or the PQ tier, pq_adc_knn) is
# safe for the recall target.
# Exactness: max|x| is comparison-only; x/s, floor, q*s, x - x' are
# all IEEE-identical row math in both engines; squared errors truncate
# to DECIMAL(28,12) before the order-free sum; MSE and the two
# reported floats are floor-rounded 1e-6. An all-zero dimension would
# divide by zero, so s = 0 pins q = 0 and err = x (= 0) in BOTH
# engines via the same CASE.
# 100 TB: the scale table is one map-side-combined MAX per dimension
# (64 rows — broadcast-safe metadata); the error pass is a key join of
# the component relation against it plus one aggregate. Linear, no
# windows.
# ---------------------------------------------------------------------------

_INT8_QUANT_ORACLE = """
    WITH v0 AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    v AS (SELECT * FROM v0 WHERE isfinite(x)),
    sc AS (SELECT pos, MAX(ABS(x)) / 127.0 AS s FROM v GROUP BY pos),
    e AS (
      SELECT v.pos,
             CASE WHEN sc.s = 0 THEN v.x
                  ELSE v.x - FLOOR(v.x / sc.s + 0.5) * sc.s END AS err
      FROM v JOIN sc ON v.pos = sc.pos
    )
    SELECT e.pos, CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(ANY_VALUE(sc.s) * 1e6) / 1e6 AS scale,
           FLOOR(CAST(SUM(CAST(err * err AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*) * 1e12) / 1e12 AS mse,
           FLOOR(MAX(ABS(err)) * 1e6) / 1e6 AS max_abs_err
    FROM e JOIN sc ON e.pos = sc.pos
    GROUP BY e.pos ORDER BY e.pos
"""


@plan("int8_quant_error_census", _INT8_QUANT_ORACLE)
def int8_quant_error_census(spark, sf_dir):
    """Per-dimension int8 quantization error (see section comment)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # 1-based component index to match SQL array subscript convention.
    # Non-finite components are EXCLUDED in both engines (oracle:
    # isfinite): a single NaN would otherwise poison the dimension's
    # max-abs scale — Spark orders NaN above every double — and turn
    # the whole census row into noise; a census over the finite
    # components is the number a quantization decision actually needs.
    v = (
        _exploded(emb)
        .select((F.col("pos") + 1).cast("long").alias("pos"), "x")
        .filter(~F.isnan("x") & (F.abs("x") < float("inf")))
    )
    sc = v.groupBy("pos").agg((F.max(F.abs("x")) / 127.0).alias("s"))
    err = F.when(F.col("s") == 0, F.col("x")).otherwise(
        F.col("x") - F.floor(F.col("x") / F.col("s") + 0.5) * F.col("s")
    )
    e = v.join(F.broadcast(sc), "pos").select("pos", "s", err.alias("err"))
    def trunc(col, k):
        # floor-to-k-decimals that survives huge doubles: Spark's
        # floor(DOUBLE) returns BIGINT and clamps ~2.4e36 to Long.MAX
        # (torture-corpus finding) where DuckDB's floor stays double.
        # x - x % 1 is IEEE remainder in both engines: equal to floor
        # for these non-negative values, and an exact passthrough once
        # the double has no fractional part.
        v = col * k
        return (v - v % F.lit(1.0)) / k

    return (
        e.groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            trunc(F.first("s"), 1e6).alias("scale"),
            trunc(
                F.sum((F.col("err") * F.col("err")).cast(PDEC))
                .cast("double")
                / F.count(F.lit(1)),
                1e12,
            ).alias("mse"),
            trunc(F.max(F.abs("err")), 1e6).alias("max_abs_err"),
        )
        .orderBy("pos")
    )
