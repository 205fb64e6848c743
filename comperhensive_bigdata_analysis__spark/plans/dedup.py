"""Dedup plans over ``documents`` (exact, n-gram Jaccard, MinHash-LSH,
SimHash) with full DuckDB oracles — every hash is md5-derived so the
oracle replays the identical computation.

Scale posture: exact Jaccard here is the correctness baseline; the LSH
plan demonstrates the banding path whose shuffle keys are uniform
digests. See operators/dedup.py for the 100 TB notes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import (
    MINHASH_BANDS,
    MINHASH_K,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from ..sources.tables import load_table
from . import plan

# ---------------------------------------------------------------------------
# Exact dedup: md5 content groups (hash-groupBy; uniform shuffle keys).
# ---------------------------------------------------------------------------


@plan(
    "exact_dedup_docs",
    """
    SELECT md5(text) AS sig, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY sig
    """,
)
def exact_dedup_docs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text").orderBy("sig")


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs (word 3-shingles, threshold 0.3).
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                   for i in generate_series(1, greatest(len(t)-2, 1))])) AS s
      FROM toks
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, i / (x.n + y.n - i) AS jaccard
    FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
    WHERE i / (x.n + y.n - i) >= 0.3
    ORDER BY id_a, id_b
"""


@plan("ngram_jaccard_dedup", _JACCARD_ORACLE)
def ngram_jaccard_dedup(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.3).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# Character 5-gram Jaccard — the language-agnostic dedup modality
# (robust to tokenization differences; the standard complement to word
# shingles in corpus dedup).
# ---------------------------------------------------------------------------

_CHAR_JACCARD_ORACLE = """
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct([lower(text)[i:i+4]
                                   for i in generate_series(1, greatest(length(text)-4, 1))])) AS s
      FROM documents
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, i / (x.n + y.n - i) AS jaccard
    FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
    WHERE i / (x.n + y.n - i) >= 0.4
    ORDER BY id_a, id_b
"""


@plan("char_jaccard_dedup", _CHAR_JACCARD_ORACLE)
def char_jaccard_dedup(spark, sf_dir):
    from ..operators.dedup import char_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    return char_jaccard_pairs(d, "doc_id", "text", n=5, threshold=0.4).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# MinHash-LSH candidate pairs (the scale path for the Jaccard join).
# k=8 salted-md5 min-hashes, 4 bands of 2.
# ---------------------------------------------------------------------------


def _minhash_oracle(k: int = MINHASH_K, bands: int = MINHASH_BANDS) -> str:
    r = k // bands
    mins = ",\n             ".join(
        f"MIN(CAST('0x' || substr(md5('mh{i}:' || s), 1, 15) AS BIGINT)) AS mh_{i}"
        for i in range(k)
    )
    band_eq = "\n       OR ".join(
        "("
        + " AND ".join(f"a.mh_{b * r + j} = b.mh_{b * r + j}" for j in range(r))
        + ")"
        for b in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                   for i in generate_series(1, greatest(len(t)-2, 1))])) AS s
      FROM toks
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ({matches}) / {float(k)} AS est_jaccard
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE ({band_eq})
      AND ({matches}) / {float(k)} >= 0.25
    ORDER BY id_a, id_b
    """


@plan("minhash_lsh_dedup", _minhash_oracle())
def minhash_lsh_dedup(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", n=3, min_est=0.25).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# SimHash signatures (16-bit; token-level). Bit-exact oracle via the
# '0x'-prefixed hex cast of the same md5 prefix.
# ---------------------------------------------------------------------------

_SIMHASH_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id, CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hv FROM tok
    ),
    bits AS (
      SELECT doc_id,
             {sums}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id AS doc,
           CAST({sig} AS BIGINT) AS simhash
    FROM bits
    ORDER BY doc
""".format(
    sums=",\n             ".join(
        f"SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS bs_{i}"
        for i in range(16)
    ),
    sig=" + ".join(f"(CASE WHEN bs_{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(16)),
)


@plan("simhash_docs", _SIMHASH_ORACLE)
def simhash_docs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return simhash_signatures(d, "doc_id", "text", bits=16).orderBy("doc")


# ---------------------------------------------------------------------------
# Sub-document segment dedup — the CCNet/RefinedWeb-style pass that
# exact-dedups at SEGMENT granularity (here non-overlapping 16-token
# windows standing in for paragraphs; the corpus has no newlines), so
# repeated boilerplate inside otherwise-distinct documents is counted
# and removable. Complements whole-doc exact_dedup (md5 of everything)
# and MinHash (near-dup docs): this one finds the repeated PARTS.
# ---------------------------------------------------------------------------

_SEG_W = 16

_SEGMENT_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    segs AS (
      SELECT doc_id, source,
             array_to_string(t[(i-1)*{_SEG_W}+1:i*{_SEG_W}], ' ') AS seg
      FROM toks,
           UNNEST(range(1, GREATEST((len(t)+{_SEG_W}-1)//{_SEG_W}, 1) + 1)) AS u(i)
      WHERE (i-1)*{_SEG_W} < len(t)
    ),
    freq AS (
      SELECT seg, COUNT(*) AS f FROM segs GROUP BY seg
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN f.f > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_segments,
           CAST(COUNT(DISTINCT CASE WHEN f.f > 1 THEN s.doc_id END) AS BIGINT)
             AS n_docs_with_dups
    FROM segs s JOIN freq f USING (seg)
    GROUP BY s.source
    ORDER BY s.source
"""


@plan("segment_dedup_stats", _SEGMENT_ORACLE)
def segment_dedup_stats(spark, sf_dir):
    """Per-source census of exactly-repeated 16-token segments (corpus-
    wide frequency > 1): segment totals, duplicated-segment count, and
    docs containing at least one duplicated segment.

    100 TB: segments collapse to (seg, count) with map-side combine —
    one shuffle on the segment string (uniform md5-like distribution of
    keys; templated corpora make a hot head, cap or hash-prefix-salt
    then). The frequency table joins back on the same key, so the
    exchange is reused; rollup is per-source.
    """
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    # NULL text has no segments (same contract as _shingle_rows; the
    # oracle's regexp_split_to_array(NULL) -> unnest emits no rows) —
    # the filter pushes to the scan
    with_toks = d.filter(F.col("text").isNotNull()).select(
        "doc_id", "source", tokens(F.col("text")).alias("__toks")
    )
    t = F.col("__toks")
    n_segs = F.ceil(F.size(t) / _SEG_W).cast("int")
    segs = with_toks.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_segs, F.lit(1))),
                lambda i: F.concat_ws(
                    " ", F.slice(t, (i - F.lit(1)) * _SEG_W + 1, _SEG_W)
                ),
            )
        ).alias("seg"),
    )
    freq = segs.groupBy("seg").agg(F.count(F.lit(1)).alias("f"))
    return (
        segs.join(freq, "seg")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum((F.col("f") > 1).cast("int")).cast("bigint").alias(
                "n_dup_segments"
            ),
            F.countDistinct(
                F.when(F.col("f") > 1, F.col("doc_id"))
            ).cast("bigint").alias("n_docs_with_dups"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Incremental dedup — the PRODUCTION shape of exact dedup: never
# re-dedup the whole corpus; digest-anti-join the incoming batch (the
# deterministic md5(doc_id) hex-prefix 'f' slice, ~1/16 of docs spread
# over every source — a modulo slice would alias with the corpus's
# doc_id->source layout) against the base corpus.
# At 100 TB the base digest table is the only thing that persists
# between runs, and the delta's cost is proportional to the DELTA.
# ---------------------------------------------------------------------------

_INCR_ORACLE = """
    WITH base AS (
      SELECT DISTINCT md5(text) AS sig FROM documents
      WHERE substr(md5(doc_id::VARCHAR), 1, 1) <> 'f'
    ),
    incoming AS (
      SELECT doc_id, source, md5(text) AS sig FROM documents
      WHERE substr(md5(doc_id::VARCHAR), 1, 1) = 'f'
    )
    SELECT i.source,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN b.sig IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_vs_base,
           CAST(SUM(CASE WHEN b.sig IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel
    FROM incoming i LEFT JOIN base b ON i.sig = b.sig
    GROUP BY i.source
    ORDER BY i.source
"""


@plan("incremental_dedup_census", _INCR_ORACLE)
def incremental_dedup_census(spark, sf_dir):
    """Per-source census of an incoming batch against the base corpus:
    exact duplicates (digest already present) vs novel documents.

    100 TB: the base collapses to DISTINCT digests once (persistable
    across runs — the state a batch dedup service keeps); the probe
    join shuffles on the uniform digest key and its cost scales with
    the BATCH, not the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    sig = F.md5(F.col("text").cast("binary"))
    is_new = (
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
        == "f"
    )
    base = d.filter(~is_new).select(sig.alias("sig")).distinct()
    incoming = d.filter(is_new).select("doc_id", "source", sig.alias("sig"))
    return (
        incoming.join(base.withColumn("__hit", F.lit(1)), "sig", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_incoming"),
            F.count("__hit").cast("bigint").alias("n_dup_vs_base"),
            F.sum(F.col("__hit").isNull().cast("int")).cast("bigint").alias(
                "n_novel"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership probe — the mergeable-sketch half of
# cross-corpus dedup at 100 TB: build a bit-set sketch of the "seen"
# corpus (here: even doc_ids), broadcast it, and probe the candidate
# corpus (odd doc_ids) without ever joining the corpora row-to-row.
# The filter is 64 slots x 63 bits (4032 bits, 7 md5-derived hash
# functions; ~16 bits/key at the demo corpus size, fp ~0.2%) aggregated with bit_or — the same associative/commutative
# merge a 1000-executor build would do per partition before the final
# 16-row reduce; the probe side is a broadcast join against those 64
# rows. The exact answer (semi-join on content digest) runs beside it,
# so the output prices the false-positive rate honestly.
# Bit positions are md5 arithmetic on the content digest — DuckDB
# replays them exactly; no floats anywhere.
# ---------------------------------------------------------------------------

from ..functions.bloom import (  # single source of the position scheme
    BLOOM_SEEDS as _BLOOM_SEEDS,
    BLOOM_SLOT_BITS as _BLOOM_SLOT_BITS,
    BLOOM_SLOTS as _BLOOM_SLOTS,
    bloom_positions,
)

_BLOOM_M = _BLOOM_SLOTS * _BLOOM_SLOT_BITS

_BLOOM_ORACLE = f"""
    WITH base AS (
      -- NULL text has no digest and cannot be built into or probed
      -- against the filter (r13 null-corpus sweep); the Spark side
      -- states the same filter, pushed to the scan. cp: physical-row
      -- copy index — the probe is per candidate ROW (each physical
      -- row is a presented candidate), so the per-(doc,digest)
      -- grouping below must not collapse duplicated keys (r13
      -- dup-corpus sweep; the filter-build side is immune — bit_or
      -- and DISTINCT digest dedup by construction)
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY doc_id) AS cp,
             md5(text) AS digest
      FROM documents
      WHERE text IS NOT NULL
    ),
    seeds AS (SELECT unnest(generate_series(0, {_BLOOM_SEEDS - 1})) AS s),
    seen_pos AS (
      SELECT CAST('0x' || substr(md5('bf' || CAST(s AS VARCHAR) || ':' || digest), 1, 8)
                  AS BIGINT) % {_BLOOM_M} AS bitpos
      FROM base CROSS JOIN seeds WHERE doc_id % 2 = 0
    ),
    filt AS (
      SELECT bitpos // {_BLOOM_SLOT_BITS} AS slot,
             BIT_OR(CAST(1 AS BIGINT) << (bitpos % {_BLOOM_SLOT_BITS})) AS bits
      FROM seen_pos GROUP BY bitpos // {_BLOOM_SLOT_BITS}
    ),
    seen_digests AS (
      SELECT DISTINCT digest FROM base WHERE doc_id % 2 = 0
    ),
    cand_pos AS (
      SELECT doc_id, cp, digest,
             CAST('0x' || substr(md5('bf' || CAST(s AS VARCHAR) || ':' || digest), 1, 8)
                  AS BIGINT) % {_BLOOM_M} AS bitpos
      FROM base CROSS JOIN seeds WHERE doc_id % 2 = 1
    ),
    probe AS (
      SELECT p.doc_id, p.cp, p.digest,
             SUM(CASE WHEN (COALESCE(f.bits, 0)
                            & (CAST(1 AS BIGINT) << (p.bitpos % {_BLOOM_SLOT_BITS})))
                           <> 0
                      THEN 1 ELSE 0 END) AS n_hits
      FROM cand_pos p
      LEFT JOIN filt f ON p.bitpos // {_BLOOM_SLOT_BITS} = f.slot
      GROUP BY p.doc_id, p.cp, p.digest
    ),
    flagged AS (
      SELECT probe.doc_id,
             CASE WHEN n_hits = {_BLOOM_SEEDS} THEN 1 ELSE 0 END AS member,
             CASE WHEN sd.digest IS NOT NULL THEN 1 ELSE 0 END AS exact_dup
      FROM probe LEFT JOIN seen_digests sd USING (digest)
    )
    SELECT COUNT(*) AS n_candidates,
           CAST(SUM(member) AS BIGINT) AS n_bloom_member,
           CAST(SUM(exact_dup) AS BIGINT) AS n_exact_dup,
           CAST(SUM(CASE WHEN member = 1 AND exact_dup = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM flagged
"""


@plan("bloom_filter_probe", _BLOOM_ORACLE)
def bloom_filter_probe(spark, sf_dir):
    """Bloom-sketch cross-corpus membership with exact side-by-side.

    100 TB: the filter build is one explode (7 rows/doc) + a 64-group
    bit_or reduce — map-side combined, output is 64 longs regardless of
    corpus size (size the real filter m ~ -n*ln(fp)/ln(2)^2 and shard
    the slot space as n grows). The probe never shuffles the candidate
    corpus: the filter joins broadcast-side, which is the WHOLE point —
    at scale the seen-DIGEST set is not broadcastable (that's why the
    bloom exists), so the exact leg here is demo-scale-only machinery
    to PRICE the false-positive rate; production keeps just the sketch.
    Dedup pipelines use this shape to skip re-deduping documents
    already ingested in earlier runs.
    """
    d = load_table(spark, sf_dir, "documents")
    # NULL text -> no digest -> neither buildable nor probeable (the
    # bare pipeline would instead silently drop candidates at the
    # membership equi-join while the oracle counted them)
    base = d.filter(F.col("text").isNotNull()).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("digest")
    )
    seen = base.filter(F.col("doc_id") % 2 == 0)
    cand = base.filter(F.col("doc_id") % 2 == 1)

    # Position scheme (functions/bloom.py), restated by the oracle.
    filt = (
        bloom_positions(seen.select("digest"), "digest")
        .select("slot", "mask")
        .groupBy("slot")
        .agg(F.bit_or("mask").alias("bits"))
    )
    seen_digests = seen.select("digest").distinct().withColumn("seen", F.lit(1))

    membership = (
        bloom_positions(cand.select("digest").distinct(), "digest")
        .join(F.broadcast(filt), "slot", "left")
        .select(
            "digest",
            (
                (
                    F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
                    != 0
                ).cast("int")
            ).alias("hit"),
        )
        .groupBy("digest")
        .agg(F.sum("hit").alias("n_hits"))
    )
    # membership/seen_digests are O(corpus) relations (see docstring:
    # the exact leg is demo-scale-only) — no broadcast HINTS, so the
    # plan degrades to shuffle joins instead of OOM if run big; AQE
    # still broadcasts them under threshold at demo scale.
    flagged = (
        cand.join(membership, "digest")
        .join(seen_digests, "digest", "left")
        .select(
            "doc_id",
            (F.col("n_hits") == _BLOOM_SEEDS).cast("int").alias("member"),
            F.coalesce(F.col("seen"), F.lit(0)).alias("exact_dup"),
        )
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum("member").alias("n_bloom_member"),
        F.sum("exact_dup").alias("n_exact_dup"),
        F.sum(((F.col("member") == 1) & (F.col("exact_dup") == 0)).cast("int")).alias(
            "n_false_pos"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash calibration — estimated vs exact Jaccard for every LSH
# candidate pair, the honesty check a production dedup pipeline runs on
# a sample before trusting the estimator at full scale (the estimator's
# stddev is sqrt(j(1-j)/k); at k=8 that is ~0.17, and this plan shows
# it). est_jaccard is matches/k (an exact k-multiple), exact_jaccard is
# the integer-ratio division both engines compute identically — no
# rounding device needed anywhere.
# 100 TB: the candidate set is the LSH join (linear); the exact rescore
# touches only candidate pairs, and calibration runs on a sampled
# corpus slice, never the full corpus.
# ---------------------------------------------------------------------------


def _calibration_oracle(k: int = MINHASH_K, bands: int = MINHASH_BANDS) -> str:
    r = k // bands
    mins = ",\n             ".join(
        f"MIN(CAST('0x' || substr(md5('mh{i}:' || s), 1, 15) AS BIGINT)) AS mh_{i}"
        for i in range(k)
    )
    band_eq = "\n       OR ".join(
        "("
        + " AND ".join(f"a.mh_{b * r + j} = b.mh_{b * r + j}" for j in range(r))
        + ")"
        for b in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                   for i in generate_series(1, greatest(len(t)-2, 1))])) AS s
      FROM toks
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ({matches}) / {float(k)} AS est_jaccard
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE ({band_eq})
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT cand.id_a AS id_a, cand.id_b AS id_b, cand.est_jaccard,
           COALESCE(i / (x.n + y.n - i), 0.0) AS exact_jaccard
    FROM cand
    LEFT JOIN inter ON cand.id_a = inter.id_a AND cand.id_b = inter.id_b
    LEFT JOIN sz x ON cand.id_a = x.doc_id
    LEFT JOIN sz y ON cand.id_b = y.doc_id
    ORDER BY cand.id_a, cand.id_b
    """


@plan("minhash_calibration", _calibration_oracle())
def minhash_calibration(spark, sf_dir):
    """PRECONDITION (pinned in tools/roundend_gate.py, r13 dup sweep):
    doc_id unique — pair semantics are keyed by doc_id, and the
    count-based exact-jaccard arithmetic (|A∩B| from the shingle
    self-join) double-counts sets when ids repeat. Dedup upstream
    (exact_dedup) is the production answer, not a defensive distinct
    here."""
    d = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(d, "doc_id", "text", n=3, min_est=0.0)
    exact = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.0).select(
        "id_a", "id_b", F.col("jaccard").alias("exact_jaccard")
    )
    return (
        cand.join(exact, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.coalesce("exact_jaccard", F.lit(0.0)).alias("exact_jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# ExactSubstr-style repeated-span census (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"): find
# every MAXIMAL span of a document covered by 16-token windows that
# occur more than once corpus-wide. Unlike segment_dedup_stats (fixed
# non-overlapping tiles), the windows here slide at stride 1, so a
# repeated passage is caught wherever it starts — the property the
# suffix-array method has, re-expressed as a shingle-frequency join
# plus per-doc interval merging (gaps-and-islands window).
# All-integer output: positions, span counts, token mass — no float
# discipline needed at all.
# 100 TB: windows are keyed by md5(shingle) so the two shingle
# exchanges (frequency count + join back) move 16-byte digests, never
# the 100-char shingle strings; both group/join on the same digest key
# so the exchange is reused; the island merge is one window pass inside
# the per-doc partitioning. Linear — ~1 digest row per token.
# ---------------------------------------------------------------------------

from ..operators.curation import ESS_W as _ESS_W  # shared with the scrubber

#: Shared CTE chain (tokenize -> stride-1 shingles -> corpus-dup
#: windows -> merged maximal spans) — ONE SQL definition feeding both
#: the span census oracle and the scrub census oracle, mirroring how
#: operators/curation.exact_substr_span_table feeds both Spark plans.
_EXACT_SUBSTR_SPAN_CTES = rf"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    sh AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(t) - {_ESS_W - 1}, 0) + 1)) AS pos,
             unnest(list_transform(
               range(1, greatest(len(t) - {_ESS_W - 1}, 0) + 1),
               i -> md5(array_to_string(t[i:i + {_ESS_W - 1}], ' ')))) AS dg
      FROM tok
    ),
    freq AS (SELECT dg FROM sh GROUP BY dg HAVING COUNT(*) > 1),
    dup AS (SELECT s.doc_id, s.pos FROM sh s JOIN freq USING (dg)),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN pos <= MAX(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    + {_ESS_W - 1}
                  THEN 0 ELSE 1 END AS brk
      FROM dup
    ),
    grp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM marked
    ),
    spans AS (
      SELECT doc_id, g, MIN(pos) AS s, MAX(pos) + {_ESS_W - 1} AS e
      FROM grp GROUP BY doc_id, g
    )
"""

_EXACT_SUBSTR_ORACLE = (
    _EXACT_SUBSTR_SPAN_CTES
    + """
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_token_mass
    FROM spans GROUP BY doc_id ORDER BY doc_id
"""
)


@plan("exact_substr_spans", _EXACT_SUBSTR_ORACLE)
def exact_substr_spans(spark, sf_dir):
    """Per-doc maximal repeated-span census (see module comment).

    Spans are merged when they OVERLAP (share >= 1 token position);
    back-to-back non-overlapping repeats stay separate spans. Only
    documents containing at least one corpus-duplicated window appear.

    The span pipeline itself lives in operators/curation.py
    (exact_substr_span_table) — ONE definition serves this oracle-
    checked census and the production scrubber (exact_substr_scrub),
    so the window arithmetic cannot drift between them.
    """
    from ..operators.curation import exact_substr_span_table

    d = load_table(spark, sf_dir, "documents")
    spans = exact_substr_span_table(d, "doc_id", "text", w=_ESS_W)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias(
                "dup_token_mass"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# ExactSubstr SCRUB census (VERDICT r7 ask #7): drive the PRODUCTION
# scrubber (operators/curation.exact_substr_scrub — the higher-order
# token filter over the shared span table) and report, per source, the
# document count, how many documents lost a span, and the raw /
# removed / residual whitespace-token mass. The DuckDB oracle derives
# the same numbers from the SPAN ARITHMETIC alone (merged-span coverage
# = removed tokens), so any drift between the scrubber's in-span filter
# and the span-table semantics breaks the hash — the cross-engine guard
# the pytest fixture tests can't give the shared pipeline.
# All-integer output; no float discipline needed.
# 100 TB: the scrubber's exchanges (digest frequency + same-key join
# back + per-doc span collect) plus one per-source rollup — linear,
# and the token filtering itself is a JVM higher-order expression over
# the scan, never a Python stage.
# ---------------------------------------------------------------------------

_SCRUB_CENSUS_ORACLE = (
    _EXACT_SUBSTR_SPAN_CTES
    + r"""
    , per_doc AS (
      SELECT doc_id, SUM(e - s + 1) AS removed FROM spans GROUP BY doc_id
    ),
    nt AS (
      SELECT doc_id, source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
      FROM documents
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN p.removed IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_scrubbed_docs,
           CAST(SUM(t.n) AS BIGINT) AS n_tokens,
           -- a doc with UNKNOWN token count (NULL text) contributes
           -- unknown removed mass, not 0 — mirrors the plan's
           -- SUM(nt - res) NULL propagation (r13 null-corpus sweep)
           CAST(SUM(CASE WHEN t.n IS NOT NULL
                         THEN COALESCE(p.removed, 0) END) AS BIGINT)
             AS removed_tokens,
           CAST(SUM(t.n - COALESCE(p.removed, 0)) AS BIGINT)
             AS residual_tokens
    FROM nt t LEFT JOIN per_doc p USING (doc_id)
    GROUP BY t.source ORDER BY t.source
"""
)


@plan("exact_substr_scrub_census", _SCRUB_CENSUS_ORACLE)
def exact_substr_scrub_census(spark, sf_dir):
    """Per-source scrub impact, measured FROM THE SCRUBBER OUTPUT
    (token counts of text vs text_scrubbed) while the oracle recomputes
    it from span coverage — see the section comment."""
    from ..functions.text import token_count
    from ..operators.curation import exact_substr_scrub

    d = load_table(spark, sf_dir, "documents")
    scr = exact_substr_scrub(d, "doc_id", "text", w=_ESS_W).select(
        "source",
        token_count(F.col("text")).cast("bigint").alias("nt"),
        token_count(F.col("text_scrubbed")).cast("bigint").alias("res"),
    )
    return (
        scr.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("res") < F.col("nt"), 1).otherwise(0)
            ).cast("bigint").alias("n_scrubbed_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.sum(F.col("nt") - F.col("res")).cast("bigint").alias(
                "removed_tokens"
            ),
            F.sum("res").cast("bigint").alias("residual_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Soft dedup reweighting (the "keep but down-weight" alternative to
# removal, per SoftDeDup-style data reweighting): every document keeps
# a sampling weight 1/n_copies of its exact-content group, so repeated
# boilerplate contributes one document's worth of gradient mass in
# expectation while unique text is untouched. The census reports, per
# source, the raw vs effective (weight-summed) document and token
# counts — the numbers a mixture planner consumes.
# Float discipline: each weight is the single IEEE division 1/n over
# exact integers (identical cross-engine); weighted token mass is
# tf * (1/n) per doc, DECIMAL(28,12)-truncated before the sum,
# floor-rounded to 1e-6.
# 100 TB: one md5-digest exchange for the copy counts (uniform keys,
# map-side combine), the count joins back on the same digest key
# (exchange reuse), and the rollup is per-source. Linear.
# ---------------------------------------------------------------------------

_SOFT_DEDUP_ORACLE = r"""
    WITH base AS (
      SELECT doc_id, source, md5(text) AS digest,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
      FROM documents
    ),
    copies AS (SELECT digest, COUNT(*) AS n FROM base GROUP BY digest)
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(CAST(SUM(CAST(1.0 / c.n AS DECIMAL(28,12))) AS DOUBLE)
                 * 1e6) / 1e6 AS eff_docs,
           CAST(SUM(b.nt) AS BIGINT) AS n_tokens,
           FLOOR(CAST(SUM(CAST(b.nt * (1.0 / c.n) AS DECIMAL(28,12)))
                      AS DOUBLE) * 1e6) / 1e6 AS eff_tokens
    FROM base b JOIN copies c USING (digest)
    GROUP BY b.source ORDER BY b.source
"""


@plan("soft_dedup_weights", _SOFT_DEDUP_ORACLE)
def soft_dedup_weights(spark, sf_dir):
    """Per-source raw vs duplication-discounted doc/token mass (see
    module comment). eff_* sums each doc's 1/n_copies weight."""
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        token_count("text").cast("long").alias("nt"),
    )
    copies = base.groupBy("digest").agg(F.count(F.lit(1)).alias("n"))
    w = F.lit(1.0) / F.col("n")
    j = base.join(copies, "digest")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (
                F.floor(
                    F.sum(w.cast("decimal(28,12)")).cast("double") * 1e6
                )
                / 1e6
            ).alias("eff_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            (
                F.floor(
                    F.sum((F.col("nt") * w).cast("decimal(28,12)")).cast(
                        "double"
                    )
                    * 1e6
                )
                / 1e6
            ).alias("eff_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint overlap (Schleimer, Wilkerson & Aiken 2003 —
# the MOSS local-fingerprinting algorithm): hash every character
# 5-gram, slide a window of 4 consecutive hashes, and keep each
# window's MINIMUM hash. The guarantee: any shared substring of
# length >= k + w - 1 = 8 chars yields at least one shared fingerprint,
# while only ~2/(w+1) of positions are kept — position-robust overlap
# detection at a fraction of the shingle mass. The census joins
# documents on shared fingerprints and ranks the top-overlapping pairs.
# Ties inside a window don't need a position rule here because the
# SELECTED VALUE is the fingerprint — equal hashes select the same
# fingerprint either way, and the per-doc set is DISTINCT.
# All-integer output. md5-derived hashes, so the oracle replays the
# identical fingerprint sets.
# 100 TB: fingerprints are ~2/(w+1) of the 5-gram mass and the head is
# a top-k (TakeOrderedAndProject), never a global sort. The pair join
# is keyed on the 60-bit fingerprint — but fingerprint document
# frequency is ZIPFIAN, not uniform: a boilerplate substring shared by
# m documents contributes m^2/2 pairs, and the r8 scale probe measured
# exactly that (27.6x at 8x corpus growth before the cap below).
# MOSS-style fix, same family as the LSH auto-band rule: drop
# fingerprints whose document frequency exceeds WINNOW_MAX_DF before
# pairing — a substring in that many documents is boilerplate, not
# evidence any PAIR copied the other (Schleimer et al. §5 discard
# over-frequent fingerprints for the same reason). Pair mass is then
# <= n_fingerprints * cap / 2 — linear; the df census itself is one
# map-side-combined aggregate reusing the pair join's exchange key.
# ---------------------------------------------------------------------------

_WIN_K = 5  # char-gram width
_WIN_W = 4  # winnowing window (hashes per window)
WINNOW_MAX_DF = 16  # drop fingerprints in more docs than this

#: Shared fingerprint + df-census CTE chain (text -> 5-gram md5 hashes
#: -> window minima -> per-doc DISTINCT fingerprints -> df census) —
#: the oracle twin of ``_winnow_fingerprints``; reused by the pair
#: census and the cap-recall eval so the two oracles cannot drift.
_WINNOW_FP_CTES = rf"""
    g AS (
      SELECT doc_id, lower(text) AS lt
      FROM documents WHERE length(text) >= {_WIN_K + _WIN_W - 1}
    ),
    hs AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(length(lt) - {_WIN_K - 1}, 0) + 1),
               i -> CAST('0x' || substr(md5(lt[i:i + {_WIN_K - 1}]), 1, 15)
                    AS BIGINT)) AS h
      FROM g
    ),
    fp AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(h) - {_WIN_W - 1}, 0) + 1),
               j -> list_min(h[j:j + {_WIN_W - 1}])))) AS f
      FROM hs
    ),
    dft AS (SELECT f, COUNT(*) AS df FROM fp GROUP BY f)
"""

_WINNOW_ORACLE = rf"""
    WITH {_WINNOW_FP_CTES},
    rare AS (
      SELECT fp.doc_id, fp.f FROM fp JOIN dft USING (f)
      WHERE dft.df <= {WINNOW_MAX_DF}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM rare a JOIN rare b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ORDER BY n_shared DESC, id_a, id_b LIMIT 20
"""


@plan("winnowing_fingerprint_pairs", _WINNOW_ORACLE)
def winnowing_fingerprint_pairs(spark, sf_dir):
    """Top-20 document pairs by shared winnowing fingerprints (see
    module comment). Pairs need >= 3 shared fingerprints to rank;
    fingerprints in more than WINNOW_MAX_DF documents are boilerplate
    and excluded before pairing (the linearity cap — section comment).

    PRECONDITION: doc_id unique (see minhash_calibration — same
    doc_id-keyed pair contract; this plan and winnowing_cap_recall
    are pinned in tools/roundend_gate.py)."""
    return winnowing_pairs_at(spark, sf_dir, max_df=WINNOW_MAX_DF)


def _winnow_fingerprints(spark, sf_dir):
    """(doc_id, f) winnowing fingerprint rows — the shared first pass,
    fully declarative (no checkpoint: an eager materialization here ran
    Spark jobs at plan-CONSTRUCTION time and hid the parquet scan
    behind a LogicalRDD leaf, blinding the scan-reuse audit — r9 review
    finding). The capped consumer executes this scan exactly once
    through its persisted frame (see ``_winnow_pair_counts``); the
    uncapped self-join control recomputes it per side, which is part of
    what that negative control measures."""
    d = load_table(spark, sf_dir, "documents")
    g = d.filter(F.length("text") >= _WIN_K + _WIN_W - 1).select(
        "doc_id", F.lower(F.col("text")).alias("lt")
    )
    hs = g.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, greatest(length(lt) - {_WIN_K - 1}, 1)), "
            f"i -> CAST(conv(substring(md5(CAST(substring(lt, i, {_WIN_K}) "
            f"AS BINARY)), 1, 15), 16, 10) AS BIGINT))"
        ).alias("h"),
    )
    return hs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(size(h) - {_WIN_W - 1}, 1)), "
                    f"j -> array_min(slice(h, j, {_WIN_W})))"
                )
            )
        ).alias("f"),
    )


#: Pair explosion over a per-fingerprint sorted doc list: (docs[i],
#: docs[j>i]) — ascending sort makes id_a < id_b by construction.
_PAIR_EXPLODE = (
    "flatten(transform(docs, (x, i) -> transform("
    "slice(docs, i + 2, size(docs)), y -> struct(x AS id_a, y AS id_b))))"
)


def _winnow_pair_counts(spark, sf_dir, max_df: int | None):
    """(id_a, id_b, n_shared) for every doc pair sharing >= 3 surviving
    fingerprints, NOT limited — the census head and the recall eval
    both build on this. Two physical shapes on purpose:

    - capped (default): lazily persist the fingerprint frame,
      partial-aggregated ``groupBy(f).count()`` census -> BROADCAST
      ANTI join of the tiny over-cap blacklist (the cap costs the main
      leg no shuffle) -> groupBy f collect_list (buffers BOUNDED at cap
      elements because over-cap fingerprints never reach the collect)
      -> explode bounded pair structs -> one pair aggregate. The census
      map-side-combines (a boilerplate fingerprint sends one partial
      row per map task, not its full doc list) and after the anti join
      EVERY surviving key has <= cap rows, so the collect_list shuffle
      is uniform by construction — no stage colocates one
      fingerprint's whole mass in one task. The cache means the
      char-gram+md5 fingerprint scan (the dominant cost) runs once.
      Measured r10 against a single window count partitioned by f:
      faster at every point — uniform 1x/8x 1.06/3.89s vs 1.20/4.95s,
      planted-skew 1x/8x 2.78/18.85s vs 3.34/19.54s (SCALE_PROBE.md).
    - uncapped (max_df=None): the r8 self-join shape, the reference
      census of ``winnowing_cap_recall`` and the scale probe's
      measured negative control (22.78x at 8x when last uncapped) —
      group-list explode without the cap would materialize unbounded
      arrays in a single task, which is strictly worse than the join's
      streamed pair blowup.
    """
    fp = _winnow_fingerprints(spark, sf_dir)
    if max_df is not None:
        # LAZY persist (no jobs at construction — the r9
        # localCheckpoint lesson): the char-level k-gram+md5
        # fingerprint scan is the dominant cost and the census leg
        # never shares an exchange with the join leg at runtime; the
        # cache makes both legs read one materialized frame. Then ANTI
        # join against the OVER-cap blacklist, not a semi join against
        # its complement: the blacklist (boilerplate fingerprints,
        # df > cap) is census-sized — at most |fp rows| / cap distinct
        # values and in practice tiny — so AQE broadcasts it and the
        # cap costs the main leg no shuffle at all; the under-cap set
        # is nearly the whole vocabulary and would force a full-mass
        # shuffle join (measured: semi-on-complement 38.3s vs anti
        # 35.6s vs anti+persist 18.9s on the planted-skew 8x corpus).
        # Lifecycle-registered (cache.py): released by the session
        # owner at phase boundaries via release_plan_caches().
        from ..cache import register_plan_cache

        fp = register_plan_cache(fp)
        blacklist = (
            fp.groupBy("f")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("f")
        )
        kept = fp.join(blacklist, "f", "left_anti")
        pairs = (
            kept.groupBy("f")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
            .select(F.explode(F.expr(_PAIR_EXPLODE)).alias("p"))
            .select("p.id_a", "p.id_b")
        )
    else:
        a, b = fp.alias("a"), fp.alias("b")
        pairs = a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


def winnowing_pairs_at(spark, sf_dir, max_df: int | None):
    """The top-20 winnowing pair census at an explicit df cap.
    ``max_df=None`` disables the cap — kept callable as the scale
    probe's measured NEGATIVE CONTROL (the uncapped shape was 27.6x at
    8x growth; the probe re-measures it every round so the cap's value
    stays an empirical row, not a one-time claim — same pattern as the
    LSH fixed-band control)."""
    return (
        _winnow_pair_counts(spark, sf_dir, max_df)
        .orderBy(F.desc("n_shared"), "id_a", "id_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Winnowing cap-survival eval (VERDICT r8 ask #6, mirroring the
# semdedup salt-recall honesty pattern): the WINNOW_MAX_DF cap drops
# fingerprints shared by many documents on the ASSUMPTION they are
# boilerplate, not copy evidence — this plan MEASURES what that
# assumption does to the pair census instead of asserting it.
# Reference = the UNCAPPED census (>= 3 shared fingerprints); kept =
# the capped census (a strict SUBSET: capping only removes shared
# fingerprints, so a capped pair's n_shared is <= its uncapped count
# and no new pairs appear). recall_ppm = kept * 1e6 DIV true in
# integer arithmetic so both engines agree bit-for-bit; true = 0
# degrades to vacuous 1e6.
#
# READ THE NUMBER CAREFULLY (measured r9, sf0.01): 124,005 of the
# 124,750 possible doc pairs — 99.4% of ALL pairs — clear the >= 3 bar
# UNCAPPED on this boilerplate-heavy synthetic corpus, vs 23 capped
# (recall_ppm 185). The uncapped census has no precision here: it is
# the boilerplate cross-product, exactly the m^2/2 mass the cap
# exists to remove. So a LOW survival number is the cap doing its job,
# NOT copy pairs being lost — the recall-on-true-copies evidence is
# the planted-pair fixture pair (test_dedup_tiers.py): the guarantee
# test, plus the boilerplate-swamp variant where every doc shares
# df >> cap boilerplate and the capped census must still rank exactly
# the planted copy pairs (their passage fingerprints have df = 2).
# 100 TB: this is an EVAL, not a production pass — the reference leg
# is deliberately the uncapped quadratic census (the same
# bounded-fixture role as semdedup_salt_recall's within-cluster exact
# leg) and would run on a sampled slice at scale, while the capped leg
# stays the linear production shape. The plan executes the fingerprint
# scan three times (self-join truth x2 + capped leg) BY DESIGN: the
# legs cannot share an exchange, and an eager materialization to force
# sharing ran jobs at construction time and blinded the scan-reuse
# audit (r9 review) — three visible scans of an eval beat one hidden
# one.
# ---------------------------------------------------------------------------

_WINNOW_RECALL_ORACLE = rf"""
    WITH {_WINNOW_FP_CTES},
    rare AS (
      SELECT fp.doc_id, fp.f FROM fp JOIN dft USING (f)
      WHERE dft.df <= {WINNOW_MAX_DF}
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ),
    kept AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT CAST({WINNOW_MAX_DF} AS BIGINT) AS max_df,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_kept_pairs,
           CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN CAST(1000000 AS BIGINT)
                ELSE (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) * 1000000
                     // (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)
           END AS recall_ppm
"""


@plan("winnowing_cap_recall", _WINNOW_RECALL_ORACLE)
def winnowing_cap_recall(spark, sf_dir):
    """One-row survival eval of the WINNOW_MAX_DF boilerplate cap: how
    many of the uncapped census's pairs (>= 3 shared fingerprints)
    survive capping. Capped pairs are a strict subset of uncapped
    pairs, so kept/true is the survival rate — see the section comment
    for why a LOW value on a boilerplate-heavy corpus is the cap
    WORKING (the uncapped census is the boilerplate cross-product),
    and where the recall-on-planted-copies evidence lives."""
    truth = _winnow_pair_counts(spark, sf_dir, None).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs")
    )
    kept = _winnow_pair_counts(spark, sf_dir, WINNOW_MAX_DF).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept_pairs")
    )
    return truth.crossJoin(kept).select(
        F.lit(WINNOW_MAX_DF).cast("bigint").alias("max_df"),
        "n_true_pairs",
        "n_kept_pairs",
        F.when(F.col("n_true_pairs") == 0, F.lit(1000000).cast("bigint"))
        .otherwise(
            F.expr("n_kept_pairs * CAST(1000000 AS BIGINT) DIV n_true_pairs")
        )
        .alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# Per-source document cap (the FineWeb/C4-style "frequency cap": no
# single domain may contribute more than CAP documents to the corpus,
# so boilerplate-heavy giants can't dominate the mixture). Selection is
# deterministic and order-free: rank each source's documents by
# (md5(doc_id), doc_id) — a stable pseudo-random priority both engines
# compute identically, so re-runs and engine swaps keep the SAME
# survivors (no RNG, no insertion-order dependence). The census
# reports, per source, raw vs kept doc and token mass.
# All-integer output.
# 100 TB: the old single window ranked EVERY row (the raw-mass leg
# needs no rank but shared the window), so no WindowGroupLimit prune
# applied and a hot source's entire doc set sorted in one task AQE
# cannot split (the r9 digest-window lesson). Now raw mass is a plain
# map-side-combined aggregate, and the kept set is the salted
# two-level top-CAP (operators/skew.salted_top_k), whose worst
# single task holds <= CAP*32 rows per source — tighter even than the
# group-limit-pruned bare window's CAP * num_map_partitions. The
# projected (source, nt, priority) frame is lazily persisted so the
# token_count regexp — the dominant stage — runs once for both legs
# (the exact-substr census pattern, operators/curation.py).
# ---------------------------------------------------------------------------

DOMAIN_CAP = 20  # max documents any one source may contribute


_DOMAIN_CAP_ORACLE = rf"""
    WITH pri AS (
      SELECT source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= {DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           -- no ELSE 0: kept token mass sums the KEPT docs' nt only,
           -- so an all-NULL nt column reads NULL like the plan's
           -- kept-leg SUM, instead of an ELSE-0-fabricated 0
           CAST(SUM(CASE WHEN rk <= {DOMAIN_CAP} THEN nt END)
                AS BIGINT) AS kept_tokens
    FROM pri GROUP BY source ORDER BY source
"""


@plan("domain_cap_census", _DOMAIN_CAP_ORACLE)
def domain_cap_census(spark, sf_dir):
    """Per-source raw vs capped doc/token mass under the DOMAIN_CAP
    md5-priority survivor rule (see the section comment)."""
    from ..functions.text import token_count
    from ..operators.skew import salted_top_k

    d = load_table(spark, sf_dir, "documents")
    pri = d.select(
        "source",
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("nt"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("__pri"),
    )
    # Lazy persist, lifecycle-registered (cache.py): the raw leg and
    # the capped leg both read this projection; release_plan_caches()
    # frees it at phase boundaries.
    from ..cache import register_plan_cache

    pri = register_plan_cache(pri)
    raw = pri.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    kept = salted_top_k(
        pri, ["source"], ["__pri", "doc_id"], DOMAIN_CAP
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_docs"),
        F.sum("nt").cast("bigint").alias("kept_tokens"),
    )
    return (
        # inner join: every non-empty source keeps >= 1 doc (CAP >= 1).
        # NULL-SAFE on the group key: a NULL source is a legitimate
        # group in both engines' GROUP BY, and a plain equi-join would
        # silently drop it (r13 null-corpus sweep)
        raw.join(
            kept.withColumnRenamed("source", "__ks"),
            F.col("source").eqNullSafe(F.col("__ks")),
        )
        .select(
            "source", "n_docs", "kept_docs", "n_tokens", "kept_tokens"
        )
        .orderBy("source")
    )
