"""End-to-end training-corpus cleaning pipeline — the composite shape a
real LLM data pipeline runs nightly: exact dedup -> quality filter ->
per-(lang, source) token accounting. One registered plan so the WHOLE
chain is oracle-checked, not just its stages.

Pipeline plan shape (and why it scales):
1. dedup: row_number over md5(text), keep rn == 1 (lowest doc_id per
   content). md5 is uniform over DISTINCT texts; a mass-duplicated
   boilerplate text is still ONE hot digest, but because the rank
   filter is adjacent, Spark's WindowGroupLimit pushdown prunes each
   MAP partition to its first row per digest before the shuffle — the
   hot digest's reducer task receives at most one row per upstream
   partition, not the full copy mass. (An aggregate min(struct(...))
   would bound it the same way but compiles to a keyed SortAggregate
   — struct buffers can't hash-aggregate — which the plan-shape suite
   forbids; the group-limited window keeps whole-stage codegen.)
2. quality + token stats: pure map-side expressions (regexp/len), no
   shuffle, whole-stage codegen.
3. rollup: groupBy on (lang, source) — a handful of groups, map-side
   combined.
Total: two exchanges (dedup key, final rollup) regardless of corpus
size. At 100 TB the dedup exchange dominates, is pruned map-side by
the group limit, and AQE coalesces the rollup.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    SQL_STOPWORD_COUNT,
    quality_score_col,
    stopword_count,
    token_count,
)
from ..sources.tables import load_table
from . import plan

QUALITY_CUTOFF = 0.5


def run_phase(spark, sf_dir, plan_names, consume=None):
    """Execute a batch of registered plans as ONE pipeline phase, then
    drop every plan-internal cache at the boundary — the exercised form
    of the DEPLOY.md "Long-lived sessions" contract (VERDICT r11 ask
    #5): census-shaped plans lazily ``register_plan_cache`` frames that
    no operator can unpersist itself; the phase runner is the session
    owner that releases them after the consuming actions.

    ``consume`` receives each plan's DataFrame and must run the action
    (default: ``collect()``). Returns ``(results, n_released)`` with
    ``results`` keyed by plan name. Within the phase, repeated
    executions of one plan still hit the warm cache entries; the
    release happens once, after ALL the phase's actions, so it is never
    inside anyone's timed region. perfbench's curation workload does
    NOT route through this runner: it releases once per round
    (cache.release_plan_caches), so repeated runs of one plan within a
    round keep their caches (cache.py docstring).
    """
    from ..cache import release_plan_caches
    from . import QUERIES

    consume = consume or (lambda df: df.collect())
    results = {}
    try:
        for name in plan_names:
            results[name] = consume(QUERIES[name](spark, sf_dir))
    finally:
        # released even when a plan raises: a half-run phase must not
        # leak its census persists into the next phase
        released = release_plan_caches()
    return results, released

# Stage spellings shared with plans/text.py oracles (keep in sync).
_SQL_TOKENS = r"""CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END"""
# tokenize-and-compare, never \b — Java vs RE2 word boundaries diverge
# on non-ASCII (the r1 lang_id_stats hash-fail class)
_SQL_STOP = SQL_STOPWORD_COUNT

_PIPELINE_ORACLE = rf"""
    WITH deduped AS (
      SELECT * FROM (
        SELECT doc_id, text, lang, source,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT doc_id, lang, source,
             {_SQL_TOKENS} AS n_tokens,
             length(text) AS n_chars,
             {_SQL_STOP} AS n_stop
      FROM deduped
    ),
    kept AS (
      SELECT lang, source, n_tokens,
             FLOOR((
               0.4 * (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END)
             + 0.3 * LEAST(CAST(n_stop AS DOUBLE) * 10.0 / n_tokens, 1.0)
             + 0.3 * LEAST(CAST(n_chars AS DOUBLE) / n_tokens / 8.0, 1.0)
             ) * 1000000) / 1000000 AS quality
      FROM scored
      WHERE n_tokens > 0
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_quality
    FROM kept
    WHERE quality >= {QUALITY_CUTOFF}
    GROUP BY lang, source
    ORDER BY lang, source
"""


@plan("corpus_clean_pipeline", _PIPELINE_ORACLE)
def corpus_clean_pipeline(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # r14 (guide §2.3 "shuffle keys and metadata instead of payloads"):
    # score BEFORE the dedup window, so the digest exchange carries
    # (digest, doc_id, lang, source, 3 ints) instead of the full text
    # payload — at corpus scale the dedup shuffle is the plan's only
    # full-size exchange and this shrinks it to metadata width. Value
    # identity: the scores are deterministic per-row functions of text,
    # and the window keeps the min-doc_id row per digest intact, so the
    # survivor's (n_tokens, n_chars, n_stop) equal the post-dedup
    # scoring of the same row (oracle unchanged, hash-green). The
    # rn == 1 filter stays adjacent to the window, so WindowGroupLimit
    # still prunes each map partition to one row per digest before the
    # (now narrow) shuffle.
    scored_all = d.select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.col("text").cast("binary")).alias("__digest"),
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        stopword_count(F.col("text")).alias("n_stop"),
    )
    w = Window.partitionBy("__digest").orderBy("doc_id")
    scored = (
        scored_all.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "source", "n_tokens", "n_chars", "n_stop")
    )
    # floor-at-6-decimals, not round: see plans/text.py doc_quality note
    q6 = (
        F.floor(quality_score_col("n_tokens", "n_chars", "n_stop") * 1_000_000)
        / 1_000_000
    )
    kept = scored.filter(F.col("n_tokens") > 0).select(
        "lang", "source", "n_tokens", q6.alias("quality")
    )
    return (
        kept.filter(F.col("quality") >= QUALITY_CUTOFF)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_quality"),
        )
        .orderBy("lang", "source")
    )
