"""Text analysis column expressions — JVM built-ins only.

Language-ID / quality / token ops for LLM-corpus curation, plus the
shingle generators the dedup module builds on. Every function here maps
string column -> Column with no Python in the row path; at 100 TB these
run inside whole-stage codegen over the parquet scan itself.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Minimal English stopword head — enough for a heuristic language vote.
STOPWORDS_EN = ("the", "and", "of", "to", "in", "is", "a")

#: DuckDB rendering of stopword_count for plan oracles — MUST stay the
#: same tokenize-and-compare contract as the Spark expression below.
SQL_STOPWORD_COUNT = (
    r"len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
    "t -> t IN (" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + ")))"
)

_PUNCT_RE = r"[^.,!?;:]"


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(col) -> Column:
    """Whitespace token count; 0 for blank/empty strings."""
    t = _c(col)
    return F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), r"\s+"))
    )


#: One "token" per word piece of <=4 letters, digit run, or symbol —
#: a deterministic stand-in for a BPE vocabulary's piece lengths.
BPE_ISH_PATTERN = r"[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col) -> Column:
    """GPT-style token estimate: word pieces + digit runs + non-space
    symbols, counted by regexp_count inside codegen."""
    return F.regexp_count(_c(col), F.lit(BPE_ISH_PATTERN))


def tokens(col) -> Column:
    """Whitespace token array (lowercased).

    Cross-engine seam (r12, tests/test_engine_seams.py): ``lower`` here
    is the JVM's FULL Unicode case mapping — Turkish İ (U+0130) becomes
    "i"+U+0307 and word-final Greek Σ becomes ς — while DuckDB's
    ``lower`` simple-maps both (plain "i", always σ). Oracles that hash
    or length-count lowered text therefore hold on text without those
    code points; the JVM behavior is the behavior of record."""
    return F.split(F.trim(F.lower(_c(col))), r"\s+")


def punct_count(col) -> Column:
    """Count of sentence punctuation chars [.,!?;:]."""
    return F.length(F.regexp_replace(_c(col), _PUNCT_RE, ""))


def stopword_count(col) -> Column:
    """Occurrences of the English stopword head, by tokenize-and-compare:
    split the lowercased text on runs of non-[a-z0-9] and count tokens
    in the stopword set. Deliberately NOT a ``\\b`` boundary regex —
    Java's ``\\b`` and RE2/DuckDB's disagree on non-ASCII word
    boundaries (the r1 lang_id_stats hash-fail class), while an ASCII
    character class splits identically on every engine. split+filter+
    size are all JVM-evaluated built-ins (no Python UDF; note the
    higher-order ``filter`` lambda is interpreted per element, not
    whole-stage codegen'd — the determinism win, not a codegen one)."""
    toks = F.split(F.lower(_c(col)), "[^a-z0-9]+")
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))


def quality_score_col(n_tokens, n_chars, n_stop) -> Column:
    """Composite quality heuristic in [0,1]:
    0.4 * length-band + 0.3 * stopword density + 0.3 * mean token length.
    Operates on precomputed stat columns so one scan feeds many scores."""
    nt = _c(n_tokens).cast("double")
    length_band = F.when((nt >= 20) & (nt <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_density = F.least(_c(n_stop).cast("double") * 10.0 / nt, F.lit(1.0))
    mean_tok_len = F.least(_c(n_chars).cast("double") / nt / 8.0, F.lit(1.0))
    return 0.4 * length_band + 0.3 * stop_density + 0.3 * mean_tok_len


def word_shingles(col, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column.

    Built with sequence+transform over the token array — no explode here;
    callers explode exactly once into the inverted-index shape they need.
    Documents shorter than n words yield a single whole-doc shingle so
    they still participate in dedup. NULL text yields NULL (standard
    NULL-propagation, matching DuckDB's regexp_split_to_array) — the
    bare transform would emit a single '' shingle via concat_ws over a
    NULL slice, silently making every NULL-text doc a jaccard-1.0
    near-dup of every other AND creating one hot '' key that all-pairs
    them (quadratic at 100 TB). Found by the r13 null-corpus value
    sweep (124,750 fabricated pairs at 500 NULL docs).
    """
    t = _c(col)
    toks = tokens(t)
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(t.isNotNull(), F.array_distinct(grams))


def char_shingles(col, n: int = 5) -> Column:
    """Distinct character n-gram shingles of the lowercased text.

    PERF: pass a column that is ALREADY lowercased/materialized in a
    prior projection. An expression argument (e.g. lower(text)) is
    captured inside the transform lambda and re-evaluated once per
    element — O(len^2) per document (HOF lambdas are interpreted, no
    CSE). operators.dedup.char_shingle_rows does this correctly.
    """
    t = _c(col)
    k = F.length(t) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: t.substr(i, F.lit(n)),
    )
    # NULL text -> NULL shingle set (see word_shingles): the bare
    # transform emits [NULL] here, which happens not to equi-join, but
    # the stated contract is NULL-propagation, not an accident.
    return F.when(t.isNotNull(), F.array_distinct(grams))
