"""Text-analysis plans over the ``documents`` table (driver-mandated
LLM-pipeline operators: language-ID, quality scoring, token counting,
fingerprinting).

All hot-path expressions are JVM built-ins (regexp_count / split /
length / md5) — whole-stage codegen end to end, no Python UDFs. Each
plan is embarrassingly parallel over document partitions: no shuffle
except the final per-language rollups, which group on a handful of keys.

Portability notes for the DuckDB oracles: Java regex and RE2 agree on
the character classes used here; DuckDB's regexp_replace needs the
explicit 'g' flag to match Spark's replace-all default.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import (
    bpe_ish_token_count,
    punct_count,
    quality_score_col,
    stopword_count,
    token_count,
    tokens,
)
from ..sources.tables import load_table
from . import plan

# ---------------------------------------------------------------------------
# Per-document stats: token count, char count, punctuation, stopwords.
# (Reference analog: A6/A7 column profiling, helper_utils.py:89,118 —
# generalized to text-corpus profiling.)
# ---------------------------------------------------------------------------


@plan(
    "doc_token_stats",
    r"""
    SELECT doc_id,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_actual,
           CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                AS INTEGER) AS n_punct,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t IN ('the', 'and', 'of', 'to', 'in', 'is', 'a'))) AS INTEGER) AS n_stopwords
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_token_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars_actual"),
        punct_count(t).alias("n_punct"),
        stopword_count(t).alias("n_stopwords"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Quality scoring + filter: keep documents above a composite threshold.
# Weighted mix of length band, stopword density and mean token length —
# the classic heuristic pre-filter of an LLM data pipeline.
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = r"""
    WITH scored AS (
      SELECT doc_id, lang, source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
             length(text) AS n_chars_actual,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t IN ('the', 'and', 'of', 'to', 'in', 'is', 'a'))) AS n_stop
      FROM documents
    )
    SELECT doc_id, lang, source, CAST(n_tokens AS INTEGER) AS n_tokens,
           FLOOR((
             0.4 * (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END)
           + 0.3 * LEAST(CAST(n_stop AS DOUBLE) * 10.0 / n_tokens, 1.0)
           + 0.3 * LEAST(CAST(n_chars_actual AS DOUBLE) / n_tokens / 8.0, 1.0)
           ) * 1000000) / 1000000 AS quality
    FROM scored
    WHERE n_tokens > 0
    ORDER BY doc_id
"""
# FLOOR, not ROUND, in the oracle above and the plan below: the quality
# formula emits exact ties at the 6th decimal (e.g. 0.8959375, surfaced
# at sf0.1) and Spark/DuckDB break ROUND ties differently; floor of the
# identical IEEE double is deterministic in both engines.


@plan("doc_quality", _QUALITY_ORACLE)
def doc_quality(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        stopword_count(F.col("text")).alias("n_stop"),
    )
    q6 = (
        F.floor(quality_score_col("n_tokens", "n_chars_actual", "n_stop") * 1_000_000)
        / 1_000_000
    )
    return (
        scored.filter(F.col("n_tokens") > 0)
        .select("doc_id", "lang", "source", "n_tokens", q6.alias("quality"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: stopword-list voting entirely in regexp_count —
# the n-gram/stopword heuristic of the classic langid pre-filter. The
# corpus's `lang` label lets the oracle double as an accuracy harness.
# ---------------------------------------------------------------------------

_LANGID_ORACLE = r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t IN ('the', 'and', 'of', 'to', 'in', 'is', 'a'))) >= 3
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
    FROM documents
    GROUP BY lang
    ORDER BY lang
"""


@plan("lang_id_stats", _LANGID_ORACLE)
def lang_id_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # CASE-shaped, not a bool cast: a NULL-text doc is NOT predicted
    # English (counts 0, like the oracle's CASE); the cast would
    # propagate the NULL comparison into the SUM (r13 null-corpus
    # value sweep)
    pred_en = F.when(stopword_count(F.col("text")) >= 3, 1).otherwise(0)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(pred_en).cast("long").alias("n_pred_en"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Document fingerprint: md5 content hash (the exact-dedup signature) +
# a 16-hex-digit prefix usable as a 64-bit bucket key.
# ---------------------------------------------------------------------------


@plan(
    "doc_fingerprint",
    """
    SELECT doc_id, md5(text) AS fp, substr(md5(text), 1, 16) AS fp64
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    return d.select("doc_id", fp.alias("fp"), F.substring(fp, 1, 16).alias("fp64")).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# BPE-ish token estimate (word pieces + digit runs + symbols) — the
# LLM-pipeline token accounting pass (functions/text.bpe_ish_token_count).
# ---------------------------------------------------------------------------


@plan(
    "bpe_token_estimate",
    r"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS est_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def bpe_token_estimate(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(bpe_ish_token_count("text")).alias("est_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# JSON extraction from the events.props column (semi-structured scan —
# modern pipelines always carry a JSON tail column).
# ---------------------------------------------------------------------------


@plan(
    "events_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    ORDER BY k
    """,
)
def events_json_extract(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.get_json_object("props", "$.k").cast("bigint").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Fuzzy string matching: near-identical part names by edit distance.
# The length pre-filter is a CORRECT pushdown, not an approximation —
# levenshtein(a,b) >= |len(a)-len(b)|, so pairs outside the bound can't
# match and never reach the expensive distance call. At corpus scale the
# same contract extends to (length-bucket, prefix) blocking keys so the
# candidate join stays band-diagonal instead of quadratic.
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 3
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY name_a, name_b
"""


@plan("fuzzy_name_pairs", _FUZZY_ORACLE)
def fuzzy_name_pairs(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").select("p_name").distinct()
    a, b = p.alias("a"), p.alias("b")
    na, nb = F.col("a.p_name"), F.col("b.p_name")
    return (
        a.join(
            b,
            (na < nb)
            & (F.abs(F.length(na) - F.length(nb)) <= 3),
        )
        .select(
            na.alias("name_a"),
            nb.alias("name_b"),
            F.levenshtein(na, nb).alias("dist"),
        )
        .filter(F.col("dist") <= 3)
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# Blocklist redaction audit — the regex-scrub primitive (same machinery
# as PII/email/phone redaction: boundary-anchored regexp_replace;
# patterns here are corpus terms so the rule actually fires on the test
# corpus). Boundaries are EXPLICIT consuming groups ((^|[^word])term
# ([^word]|$), put back via backreference), not \b: Java and RE2
# disagree on \b at non-ASCII boundaries (the r1 hash-fail class), and
# RE2 has no lookarounds, so a consuming ASCII-class group is the one
# spelling both engines execute identically. Contract note: like any
# single-pass consuming-boundary scrub, immediately adjacent terms
# ("customer customer") redact only the first occurrence per pass —
# identically on both engines. Entirely map-side (regex over the text
# column), one small grouped agg; chars_removed is a length delta, so
# every metric is integer-exact.
# ---------------------------------------------------------------------------

_REDACT_ORACLE = r"""
    WITH r AS (
      SELECT source,
             length(text) AS len0,
             length(regexp_replace(text,
                 '(^|[^A-Za-z0-9_])(customer|vector)([^A-Za-z0-9_]|$)',
                 '\1\3', 'g')) AS len1
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN len1 < len0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
           CAST(SUM(len0 - len1) AS BIGINT) AS chars_removed
    FROM r GROUP BY source ORDER BY source
"""


@plan("blocklist_redact_stats", _REDACT_ORACLE)
def blocklist_redact_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    len0 = F.length("text")
    len1 = F.length(
        F.regexp_replace(
            "text",
            r"(^|[^A-Za-z0-9_])(customer|vector)([^A-Za-z0-9_]|$)",
            r"$1$3",
        )
    )
    return (
        d.select("source", len0.alias("len0"), len1.alias("len1"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # CASE-shaped: a NULL-text doc is not HIT (counts 0, like
            # the oracle's CASE); chars_removed stays a plain sum —
            # its NULL deltas propagate identically in both engines
            F.sum(
                F.when(F.col("len1") < F.col("len0"), 1).otherwise(0)
            ).cast("bigint").alias("n_docs_hit"),
            F.sum(F.col("len0") - F.col("len1")).alias("chars_removed"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rule flags — the multi-rule document filter of a
# pretraining pipeline (short-doc, repetition, word-length rules), with
# every threshold an INTEGER cross-multiplication (max_cnt*5 > n_tokens
# instead of max_cnt/n_tokens > 0.2), so rule outcomes are exact in both
# engines — no double division anywhere. Token pass shuffles once on
# (doc_id, term); doc- and source-level reductions follow.
# ---------------------------------------------------------------------------

_GOPHER_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0
    ), tc AS (
      SELECT doc_id, source, term, COUNT(*) AS cnt
      FROM tok GROUP BY doc_id, source, term
    ), doc AS (
      SELECT doc_id, source,
             SUM(cnt) AS n_tokens,
             SUM(cnt * length(term)) AS sum_len,
             MAX(cnt) AS max_cnt
      FROM tc GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_tokens < 15 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_short,
           CAST(SUM(CASE WHEN max_cnt * 5 > n_tokens THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repetitive,
           CAST(SUM(CASE WHEN sum_len < 3 * n_tokens OR sum_len > 10 * n_tokens
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_wordlen,
           CAST(SUM(CASE WHEN n_tokens >= 15 AND max_cnt * 5 <= n_tokens
                     AND sum_len >= 3 * n_tokens AND sum_len <= 10 * n_tokens
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM doc GROUP BY source ORDER BY source
"""


@plan("gopher_quality_flags", _GOPHER_ORACLE)
def gopher_quality_flags(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    doc = tc.groupBy("doc_id", "source").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.length("term")).alias("sum_len"),
        F.max("cnt").alias("max_cnt"),
    )
    nt, sl, mc = F.col("n_tokens"), F.col("sum_len"), F.col("max_cnt")
    short = nt < 15
    repetitive = mc * 5 > nt
    wordlen = (sl < 3 * nt) | (sl > 10 * nt)
    return (
        doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(short.cast("bigint")).alias("n_short"),
            F.sum(repetitive.cast("bigint")).alias("n_repetitive"),
            F.sum(wordlen.cast("bigint")).alias("n_wordlen"),
            F.sum((~short & ~repetitive & ~wordlen).cast("bigint")).alias("n_pass"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# JSON key census over the props tail column: parse to MAP<string,string>
# and explode the KEYS — schema discovery for semi-structured columns
# (what fields exist, how often, over how many users), the complement of
# events_json_extract's single-path probe. Map parse + explode are
# JVM-side codegen; counts are map-side combined on the tiny key space.
# ---------------------------------------------------------------------------

_JSON_KEYS_ORACLE = """
    WITH k AS (
      SELECT user_id, unnest(json_keys(props)) AS key FROM events
    )
    SELECT key, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM k GROUP BY key ORDER BY key
"""


@plan("events_json_key_census", _JSON_KEYS_ORACLE)
def events_json_key_census(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        e.select("user_id", F.explode(F.map_keys(m)).alias("key"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# Corpus similarity matrix — pairwise cosine between each SOURCE's
# term-frequency vector, computed the inverted-index way: one token-
# keyed self-join of the per-(source, term) count table yields every
# pair's dot product; norms come from one more aggregate of the same
# table. No vector is ever materialized driver-side. Counts are exact
# integers; dot products and squared norms are exact BIGINTs; only the
# final cosine divides doubles (sqrt is IEEE correctly-rounded).
#
# 100 TB: |sources| x |vocab| is the shuffled relation — already the
# collapsed aggregate, not raw tokens. The token-keyed join is skewed
# by stopword-like terms; at scale prune the ultra-common head (they
# carry no discriminative signal) or salt — the same treatment
# minhash_lsh_dedup documents for its band keys.
# ---------------------------------------------------------------------------

_CORPUS_SIM_ORACLE = r"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    norms AS (
      SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2 FROM tf GROUP BY 1
    ),
    dots AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(SUM(a.c * b.c) AS BIGINT) AS dot
      FROM tf a JOIN tf b
        ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT d.src_a, d.src_b, d.dot,
           CAST(d.dot AS DOUBLE)
             / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE)))
             AS cosine
    FROM dots d
    JOIN norms na ON na.source = d.src_a
    JOIN norms nb ON nb.source = d.src_b
    ORDER BY src_a, src_b
"""


@plan("corpus_similarity_matrix", _CORPUS_SIM_ORACLE)
def corpus_similarity_matrix(spark, sf_dir):
    """Pairwise cosine similarity of per-source term-frequency vectors.

    100 TB: tokens collapse to (source, term) counts map-side before
    any join; the dot-product join shuffles the aggregate on term; the
    |sources|-row norm table broadcasts. The output is quadratic in
    |sources| BY DEFINITION — this is a dense dataset-card report over
    a metadata-cardinality dimension (like nation), not a data-volume
    dimension; for unbounded source counts the banded/blocked dedup
    family (minhash_lsh_dedup, char_jaccard_dedup) is the tool. A
    ubiquitous term's pair fan-out concentrates in its term partition,
    but that is an EQUI-JOIN partition, which AQE's skew splitting can
    divide — unlike a window partition (the r10 triage rule).
    """
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    norms = tf.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("n2")
    )
    a = tf.select(F.col("source").alias("src_a"), "term", F.col("c").alias("ca"))
    b = tf.select(F.col("source").alias("src_b"), "term", F.col("c").alias("cb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot"))
    )
    na = F.broadcast(norms.select(F.col("source").alias("src_a"), F.col("n2").alias("na2")))
    nb = F.broadcast(norms.select(F.col("source").alias("src_b"), F.col("n2").alias("nb2")))
    return (
        dots.join(na, "src_a")
        .join(nb, "src_b")
        .select(
            "src_a",
            "src_b",
            "dot",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
            ).alias("cosine"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Per-source top-3 terms: (source, term) counts -> salted exact top-k
# (operators/skew.salted_top_k). Formerly the array-native
# collect_list + sort_array + slice pipeline — replaced in the r10
# collect_list audit because that shape buffers a source's whole
# vocabulary in one aggregation buffer (see the plan docstring). The
# DuckDB oracle keeps the classic row_number() <= 3 formulation: two
# formulations, one answer, so the pair still checks the Spark
# shape's semantics rather than mirroring it.
# ---------------------------------------------------------------------------

_TOP_TERMS_SRC_ORACLE = r"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok GROUP BY 1, 2
    ),
    ranked AS (
      SELECT source, term, n,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n DESC, term) AS rk
      FROM tf
    )
    SELECT source, CAST(rk AS INTEGER) AS rk, term, n
    FROM ranked WHERE rk <= 3
    ORDER BY source, rk
"""


@plan("top_terms_per_source", _TOP_TERMS_SRC_ORACLE)
def top_terms_per_source(spark, sf_dir):
    """Top-3 terms per document source.

    100 TB: term counts collapse map-side in the (source, term)
    aggregate; the top-3 selection is the salted exact top-k
    (operators/skew.salted_top_k) over that census. The previous
    array shape — collect_list of EVERY (n, term) struct per source,
    sort, slice 3 — buffered a source's entire vocabulary (unbounded:
    millions of distinct terms for a big domain) in ONE aggregation
    buffer; its docstring's "bounded state per group" claim was
    wrong, the same hot-key class as the window audit's other
    conversions. Output identical (ranked by n desc, term asc — a
    total order, matching the oracle's ROW_NUMBER).
    """
    from ..functions.text import tokens
    from ..operators.skew import salted_top_k

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        salted_top_k(
            tf, ["source"], [F.col("n").desc(), F.col("term")], 3,
            rank_col="rk",
        )
        .select("source", F.col("rk").cast("int").alias("rk"), "term", "n")
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# Lexical diversity per language — type-token ratio plus hapax share
# (terms seen exactly once), the standard corpus-quality pair: low TTR
# flags templated/duplicated text, high hapax share flags noise. All
# counts exact; the two ratios are single IEEE divisions.
# ---------------------------------------------------------------------------

_TTR_ORACLE = r"""
    WITH tok AS (
      SELECT lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT lang, term, COUNT(*) AS n FROM tok GROUP BY 1, 2
    )
    SELECT lang,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS ttr,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS hapax_share
    FROM tf
    GROUP BY lang
    ORDER BY lang
"""


@plan("lexical_diversity_by_lang", _TTR_ORACLE)
def lexical_diversity_by_lang(spark, sf_dir):
    """Type-token ratio and hapax-legomenon share per language.

    100 TB: tokens collapse to (lang, term) counts map-side; the
    per-language rollup is |langs| groups. The shape is the first half
    of corpus_similarity_matrix, reused as a quality signal.
    """
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hapax = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    return (
        tf.groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            hapax.cast("bigint").alias("n_hapax"),
            (F.count(F.lit(1)).cast("double") / F.sum("n").cast("double")).alias(
                "ttr"
            ),
            (hapax.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "hapax_share"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Within-document n-gram repetition profile — the Gopher repetition
# family beyond the single max-token rule (Rae et al. 2021 §A1.1 flags
# docs whose duplicated n-grams exceed a fraction of the text; C4 and
# RefinedWeb apply the same class of filter). Here: word 3-grams per
# document, total vs distinct occurrences, flagged when duplicated
# shingles exceed 20% — as an INTEGER cross-multiplication
# (5*dup > n_sh), so the rule is exact in both engines.
# 100 TB: one (doc, shingle) shuffle with map-side combine, then doc-
# and source-level rollups — same linear shape as gopher_quality_flags.
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    sh AS (
      SELECT doc_id, source,
             unnest([array_to_string(t[i:i+2], ' ')
                     for i in generate_series(1, greatest(len(t)-2, 1))]) AS s
      FROM toks
    ),
    sc AS (
      SELECT doc_id, source, s, COUNT(*) AS c
      FROM sh GROUP BY doc_id, source, s
    ),
    doc AS (
      SELECT doc_id, source, SUM(c) AS n_sh, COUNT(*) AS n_distinct
      FROM sc GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN 5 * (n_sh - n_distinct) > n_sh
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(n_sh) AS BIGINT) AS sum_shingles,
           CAST(SUM(n_sh - n_distinct) AS BIGINT) AS sum_dup
    FROM doc GROUP BY source ORDER BY source
"""


@plan("doc_ngram_repetition", _REPETITION_ORACLE)
def doc_ngram_repetition(spark, sf_dir):
    """Duplicated word-3-gram profile per source (Gopher-style
    repetition filter; threshold 20% duplicated shingles).

    The token array is materialized in its own projection before the
    shingle transform (HOF lambdas are interpreted with no CSE — see
    operators/dedup.py:_shingle_rows for the measured 4x penalty).
    """
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    with_toks = d.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", "source", tokens(F.col("text")).alias("__toks")
    )
    t = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, 3)),
    )
    sc = (
        with_toks.select("doc_id", "source", F.explode(grams).alias("s"))
        .groupBy("doc_id", "source", "s")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    doc = sc.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_sh"), F.count(F.lit(1)).alias("n_distinct")
    )
    dup = F.col("n_sh") - F.col("n_distinct")
    return (
        doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((dup * 5 > F.col("n_sh")).cast("bigint")).alias("n_flagged"),
            F.sum("n_sh").alias("sum_shingles"),
            F.sum(dup).alias("sum_dup"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Corpus report card — the per-source dataset-card profile an LLM data
# pipeline publishes with every release (HF dataset cards, Dolma/Pile
# papers): volume, vocabulary, exact-duplicate load, and quality-rule
# pass rate, one row per source. A composition of the engine's own
# signals (exact_dedup + gopher rules + token stats) into one plan, so
# Catalyst can share the token relation across the aggregate legs.
# 100 TB: three linear aggregate families (token combine, digest
# groups, per-doc rules) joined on the |sources|-row key — every join
# side after aggregation is metadata-sized.
# ---------------------------------------------------------------------------

_REPORT_CARD_ORACLE = r"""
    WITH tc AS (
      SELECT doc_id, source, term, COUNT(*) AS cnt FROM (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents WHERE length(trim(text)) > 0
      ) GROUP BY doc_id, source, term
    ),
    doc AS (
      SELECT doc_id, source, SUM(cnt) AS n_tokens,
             SUM(cnt * length(term)) AS sum_len, MAX(cnt) AS max_cnt
      FROM tc GROUP BY doc_id, source
    ),
    src_tok AS (
      SELECT source, SUM(n_tokens) AS n_tokens,
             SUM(CASE WHEN n_tokens >= 15 AND max_cnt * 5 <= n_tokens
                       AND sum_len >= 3 * n_tokens AND sum_len <= 10 * n_tokens
                      THEN 1 ELSE 0 END) AS n_quality_pass
      FROM doc GROUP BY source
    ),
    src_vocab AS (
      SELECT source, COUNT(DISTINCT term) AS n_types FROM tc GROUP BY source
    ),
    dup AS (
      SELECT source, COUNT(*) AS n_dup_docs FROM (
        SELECT source, md5(text) AS sig,
               COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
        FROM documents
      ) WHERE n_copies > 1 GROUP BY source
    ),
    base AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
    SELECT base.source, base.n_docs,
           CAST(src_tok.n_tokens AS BIGINT) AS n_tokens,
           src_vocab.n_types,
           COALESCE(dup.n_dup_docs, 0) AS n_dup_docs,
           CAST(src_tok.n_quality_pass AS BIGINT) AS n_quality_pass,
           FLOOR(CAST(src_vocab.n_types AS DOUBLE)
                 / src_tok.n_tokens * 1e6) / 1e6 AS ttr
    FROM base
    JOIN src_tok USING (source)
    JOIN src_vocab USING (source)
    LEFT JOIN dup USING (source)
    ORDER BY source
"""


@plan("corpus_report_card", _REPORT_CARD_ORACLE)
def corpus_report_card(spark, sf_dir):
    from ..cache import register_plan_cache
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Lazy plan-cache (cache.py lifecycle): the doc-stats leg consumes
    # tc at (doc_id, source) granularity while the vocabulary leg's
    # count_distinct is rewritten by Catalyst to a (source, term)
    # distinct that bypasses the doc_id grouping — the subtrees stop
    # being ReuseExchange-identical and the tokenize pass (the
    # dominant stage) executed twice (r13 wide scan audit). One
    # materialization serves both granularities.
    tc = register_plan_cache(tc)
    doc = tc.groupBy("doc_id", "source").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.length("term")).alias("sum_len"),
        F.max("cnt").alias("max_cnt"),
    )
    nt, sl, mc = F.col("n_tokens"), F.col("sum_len"), F.col("max_cnt")
    quality_pass = (
        (nt >= 15) & (mc * 5 <= nt) & (sl >= 3 * nt) & (sl <= 10 * nt)
    )
    src_tok = doc.groupBy("source").agg(
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(quality_pass.cast("bigint")).alias("n_quality_pass"),
    )
    src_vocab = tc.groupBy("source").agg(
        F.count_distinct("term").alias("n_types")
    )
    # docs-per-source whose digest is globally duplicated, via a
    # (digest, source) census + digest-total join — NOT a window over
    # the digest: a window colocates every copy of a hot boilerplate
    # text in one unsplittable task (VERDICT r9 "What's wrong #1"),
    # while both census groupBys map-side-combine and the join runs
    # between two already-aggregated digest-keyed frames.
    per_src = d.groupBy(
        F.md5(F.col("text").cast("binary")).alias("__dg"), "source"
    ).agg(F.count(F.lit(1)).alias("__n_src"))
    per_dg = per_src.groupBy("__dg").agg(F.sum("__n_src").alias("__n_copies"))
    dup = (
        per_src.join(per_dg.filter(F.col("__n_copies") > 1), "__dg")
        .groupBy("source")
        .agg(F.sum("__n_src").alias("n_dup_docs"))
    )
    # n_docs from the digest census, not a third raw scan: the census
    # groups EVERY row (NULL text hashes to a NULL digest group), so
    # the per-source sum of group counts IS the row count — and the
    # census subtree is shared with the dup leg, so ReuseExchange
    # executes it once (r13: executed documents scans 3 -> 2).
    base = per_src.groupBy("source").agg(F.sum("__n_src").alias("n_docs"))
    return (
        base.join(src_tok, "source")
        .join(src_vocab, "source")
        .join(dup, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_types",
            F.coalesce("n_dup_docs", F.lit(0)).alias("n_dup_docs"),
            "n_quality_pass",
            (
                F.floor(
                    F.col("n_types").cast("double") / F.col("n_tokens") * 1e6
                )
                / 1e6
            ).alias("ttr"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Logistic quality scoring — the learned-filter half of a pretraining
# quality pipeline (fastText/CCNet-style classifiers): a fixed-weight
# logistic model over per-document lexical features (log length, mean
# word length, stopword ratio, repetition ratio), scored in-engine and
# rolled up per source. The weights here are demo literals; a real
# pipeline broadcasts trained weights — the SHAPE (feature combine +
# map-side sigmoid + source rollup) is what runs at 100 TB.
# Float discipline: features are exact-int ratios (identical doubles in
# both engines), ln/exp are evaluated on identical inputs, per-doc
# scores are DECIMAL-truncated before the order-insensitive source sum,
# and the pass count uses the sign of the logit (z > 0 <=> score > .5)
# so the rule is float-division-free.
# ---------------------------------------------------------------------------

_LOGIT_ORACLE = r"""
    WITH tc AS (
      SELECT doc_id, source, term, COUNT(*) AS cnt FROM (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents WHERE length(trim(text)) > 0
      ) GROUP BY doc_id, source, term
    ),
    doc AS (
      SELECT doc_id, source,
             SUM(cnt) AS n_tokens,
             SUM(cnt * length(term)) AS sum_len,
             MAX(cnt) AS max_cnt,
             SUM(CASE WHEN term IN ({stopwords}) THEN cnt ELSE 0 END) AS n_stop
      FROM tc GROUP BY doc_id, source
    ),
    scored AS (
      SELECT source,
             -2.0 + 0.5 * ln(n_tokens)
                  + 0.3 * (sum_len / n_tokens)
                  - 4.0 * (n_stop / n_tokens)
                  - 2.0 * (max_cnt / n_tokens) AS z
      FROM doc
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN z > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           FLOOR(CAST(SUM(CAST(1.0 / (1.0 + exp(-z)) AS DECIMAL(28,12)))
                      AS DOUBLE) / COUNT(*) * 1e6) / 1e6 AS avg_score
    FROM scored GROUP BY source ORDER BY source
"""


def _logit_oracle() -> str:
    from ..functions.text import STOPWORDS_EN

    return _LOGIT_ORACLE.format(
        stopwords=", ".join(f"'{w}'" for w in STOPWORDS_EN)
    )


@plan("quality_logit_scores", _logit_oracle())
def quality_logit_scores(spark, sf_dir):
    from ..functions.text import STOPWORDS_EN, tokens

    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    doc = tc.groupBy("doc_id", "source").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.length("term")).alias("sum_len"),
        F.max("cnt").alias("max_cnt"),
        F.sum(
            F.when(F.col("term").isin(*STOPWORDS_EN), F.col("cnt")).otherwise(0)
        ).alias("n_stop"),
    )
    nt = F.col("n_tokens")
    z = (
        F.lit(-2.0)
        + 0.5 * F.log(nt)
        + 0.3 * (F.col("sum_len") / nt)
        - 4.0 * (F.col("n_stop") / nt)
        - 2.0 * (F.col("max_cnt") / nt)
    )
    scored = doc.select("source", z.alias("z"))
    score = 1.0 / (1.0 + F.exp(-F.col("z")))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("z") > 0).cast("bigint")).alias("n_pass"),
            (
                F.floor(
                    F.sum(score.cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                )
                / 1e6
            ).alias("avg_score"),
        )
        .orderBy("source")
    )
