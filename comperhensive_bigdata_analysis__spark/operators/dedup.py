"""Deduplication operators for text corpora (driver-mandated LLM-pipeline
capability; no analog in the reference, which only needed whole-row
DISTINCT — SURVEY §2.6).

Design for 100 TB:

- exact_dedup: hash-groupBy on a 128-bit content digest. One shuffle on
  the digest (uniformly distributed -> no skew), map-side combine.
- ngram_jaccard_pairs: inverted-index self-join on shingles. Exact but
  quadratic in the worst case — the CORRECTNESS baseline. At scale, cap
  shingle document frequency (max_df) to break hot-key skew, or use
  minhash_lsh_pairs.
- minhash_lsh_pairs: the scale path. Signatures are k independent mins
  over shingle hashes (one explode + one groupBy with k min-aggregates);
  banding turns all-pairs into an equality join on (band, bucket) —
  shuffle keys are uniform hashes, cardinality bounded by collisions.

Portability: hashes are lexicographic mins of md5 hex strings (salted
per seed). md5 is identical everywhere, so DuckDB oracles can replay the
exact computation — no engine-specific hash() anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_shingles

#: Default MinHash configuration — 8 hashes in 4 bands of 2. Small but
#: honest: bands of 2 fire at jaccard ~0.3+ with high probability. This
#: is the DEMO/ORACLE scale (cheap enough that DuckDB replays every
#: hash); production corpora should run MINHASH_K_PROD.
MINHASH_K = 8
MINHASH_BANDS = 4

#: Production signature size — 64 hashes in 16 bands of 4 (the classic
#: Spark-MLlib/datasketch ballpark; web-corpus pipelines run 64–128).
#: Recall/shuffle tradeoff: the banding fire probability is
#: 1-(1-j^r)^b (r rows per band, b bands) — at K=8/b=4/r=2 a j=0.7
#: near-dup fires with p≈0.94 but j=0.5 only p≈0.68; at K=64/b=16/r=4
#: j=0.7 fires at p≈0.99 while j=0.2 drops to p≈0.025, i.e. BOTH
#: better recall at the target band and a sharper low-j cutoff (fewer
#: false candidate pairs to verify). Cost is linear: K min-aggregates
#: in the one signature groupBy (still a single shuffle whose rows are
#: 8x wider) and b band rows per doc in the bucket join (4x the join
#: input). est_jaccard precision also tightens (sd = sqrt(j(1-j)/K),
#: ~0.18 -> 0.06 at j=0.5).
MINHASH_K_PROD = 64
MINHASH_BANDS_PROD = 16


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group rows by content digest; keep the minimum id as canonical.

    Returns (sig, keep_id, n_copies) — one row per distinct content.
    """
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("sig"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) inverted-index rows, distinct per document.

    Two-step on purpose: the token array is materialized in its own
    projection BEFORE the shingle transform. Referencing the tokenizer
    expression directly inside the transform lambda re-evaluates the
    regex split once PER ARRAY ELEMENT (HOF lambdas are interpreted,
    no CSE) — measured ~4x slower at sf0.1.

    NULL-text docs are filtered BEFORE the projection (r13 null-corpus
    sweep): they have no shingle set — the previous behavior gave them
    a single '' shingle via concat_ws over a NULL slice, fabricating
    jaccard-1.0 pairs between unrelated docs and concentrating every
    such doc on one hot join key (quadratic at 100 TB). A filter
    (vs a NULL-out) keeps the predicate pushable to the parquet scan."""
    from ..functions.text import tokens

    with_toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks")
    )
    t = F.col("__toks")
    k = F.size(t) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return with_toks.select("doc", F.explode(F.array_distinct(grams)).alias("s"))


def char_shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """(id, shingle) rows over character n-grams — lowercases in its own
    projection first (see char_shingles perf note). NULL-text docs are
    filtered at the scan, same contract as _shingle_rows."""
    from ..functions.text import char_shingles

    lowered = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), F.lower(F.col(text_col)).alias("__low")
    )
    return lowered.select(
        "doc", F.explode(char_shingles(F.col("__low"), n)).alias("s")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join.

    |A ∩ B| from the shingle self-join, |A ∪ B| = |A|+|B|-|A ∩ B|.
    ``max_df`` drops shingles present in more than that many documents
    before the join (hot-key/skew control at scale; alters semantics, so
    oracle-checked plans leave it None).
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    sh = _shingle_rows(df, id_col, text_col, n)
    if max_df is not None:
        hot = sh.groupBy("s").count().filter(F.col("count") > max_df).select("s")
        sh = sh.join(hot, "s", "left_anti")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def char_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact character n-gram Jaccard join (same shape as
    ngram_jaccard_pairs, char-shingle modality — language-agnostic).
    Returns (id_a, id_b, jaccard) with id_a < id_b."""
    sh = char_shingle_rows(df, id_col, text_col, n)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _salted_hash_sql(seed: int, col: str = "s") -> str:
    """Salted shingle hash: a 60-bit BIGINT from the md5 hex prefix —
    portable, DuckDB oracles replay it exactly via CAST('0x'||substr).
    It mins over fixed-width longs, so the signature aggregate stays a
    HashAggregate; a hex-string min here would demote the grouped agg
    to SortAggregate and sort every exploded shingle row per
    partition."""
    return (
        f"CAST(conv(substring(md5(CAST(concat('mh{seed}:', {col}) "
        f"AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = MINHASH_K,
) -> DataFrame:
    """(doc, mh_0..mh_{k-1}): per-document MinHash signature — the min of
    each salted hash over the document's shingle set. One explode + one
    groupBy with k min-aggregates (all map-side combinable).

    Built as ONE parameterized SQL statement instead of k composed
    Column expressions: the k-wide DataFrame-API construction cost
    ~0.7 s of driver time at K=64 (py4j round trips + per-step
    re-analysis, measured r14 — 74% of the benched q15 row was plan
    BUILD, not execution); one statement parses and analyzes once
    (~60 ms). The physical plan is unchanged (same HashAggregate over
    the same expressions), so values are bit-identical."""
    sh = _shingle_rows(df, id_col, text_col, n)
    mins = ", ".join(
        f"min({_salted_hash_sql(i)}) AS mh_{i}" for i in range(k)
    )
    return df.sparkSession.sql(
        f"SELECT doc, {mins} FROM {{sh}} GROUP BY doc", sh=sh
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    min_est: float = 0.25,
) -> DataFrame:
    """LSH candidate pairs + estimated jaccard.

    Banding: signature split into ``bands`` groups of k/bands rows; docs
    sharing any band bucket become candidates (equality join on the
    band-bucket digest — uniform shuffle keys). Estimated jaccard =
    fraction of matching signature components.
    The signature relation is persisted: it feeds three consumers
    (banding + both sides of the rescore join), and recomputing it
    triples the shingle-explode cost (measured ~3x wall on the K=64
    bench tier). Repeated calls do NOT accumulate cache entries:
    Spark's CacheManager keys on the canonicalized plan, so an
    identical call reuses the existing entry (and logs "already
    cached") — one entry lives per DISTINCT input corpus/parameters,
    released on session stop or spark.catalog.clearCache().
    Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    r = k // bands
    spark = df.sparkSession

    # Pack the k signature components into ONE array column in the
    # signature statement itself: every downstream expression (band
    # buckets, match counting) then stays k-independent. Construction
    # discipline (measured r14: driver-side plan BUILD was 74% of the
    # benched K=64 row — ~1.26 s build vs ~0.45 s execution at sf0.1):
    # the k-wide signature aggregate is ONE parameterized SQL statement
    # (one parse/analysis instead of k composed Column expressions),
    # and the downstream steps use single-string F.expr/selectExpr.
    # The band/rescore legs deliberately consume the persisted ``sig``
    # DATAFRAME OBJECT, not a spark.sql {param} reference: DataFrame
    # substitution in parameterized SQL resolves through a temp view
    # that the CacheManager does not match (measured: the signature
    # aggregate inlined and re-executed per leg, 4x), while subtree
    # matching on the object's own plan hits the cache. Physical plan
    # and every expression are unchanged from the API spelling, so
    # candidate pairs and est_jaccard are bit-identical (verified
    # against the previous spelling and the oracle at sf0.001-0.1).
    def band_bucket_sql(b: int) -> str:
        band = f"slice(sig, {b * r + 1}, {r})"
        return (
            f"md5(CAST(array_join(transform({band}, "
            f"v -> CAST(v AS STRING)), '|') AS BINARY))"
        )

    sh = _shingle_rows(df, id_col, text_col, n)
    mins = ", ".join(f"min({_salted_hash_sql(i)})" for i in range(k))
    sig = spark.sql(
        f"SELECT doc, array({mins}) AS sig FROM {{sh}} GROUP BY doc", sh=sh
    ).persist()
    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', {band_bucket_sql(b)})"
        for b in range(bands)
    )
    band_rows = sig.select(
        "doc", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc", "bb.band", "bb.bucket")
    x, y = band_rows.alias("x"), band_rows.alias("y")
    cand = (
        x.join(
            y,
            F.expr("x.band = y.band AND x.bucket = y.bucket AND x.doc < y.doc"),
        )
        .selectExpr("x.doc AS id_a", "y.doc AS id_b")
        .distinct()
    )
    sa = sig.selectExpr("doc AS id_a", "sig AS sig_a")
    sb = sig.selectExpr("doc AS id_b", "sig AS sig_b")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            f"size(filter(zip_with(sig_a, sig_b, (p, q) -> p = q), m -> m))"
            f" / CAST({k} AS DOUBLE) AS est_jaccard",
        )
        .filter(F.col("est_jaccard") >= F.lit(float(min_est)))
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """Per-document SimHash over whitespace tokens.

    Each token contributes +1/-1 to each bit position according to its
    md5; the signature bit is the sign of the sum. ``bits`` <= 32 (we
    parse one hex nibble per 4 bits). One explode + one groupBy with
    ``bits`` conditional-sum aggregates.
    Returns (doc, simhash) with simhash as a non-negative long.
    """
    from ..functions.text import tokens

    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("t"),
    )
    h = F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 8), 16, 10).cast("long")
    bit_sums = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"bs_{i}")
            for i in range(bits)
        ]
    )
    sig = sum(
        F.when(F.col(f"bs_{i}") > 0, F.lit(2**i)).otherwise(F.lit(0)) for i in range(bits)
    )
    return bit_sums.select("doc", sig.cast("long").alias("simhash"))
