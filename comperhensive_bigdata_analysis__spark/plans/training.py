"""Training-data-pipeline plans: deterministic splits/samples, TF-IDF,
boilerplate scrubbing, distribution statistics, window deltas, grouping
sets. These round out the driver-mandated LLM-pipeline surface beyond
dedup/similarity: the operations that turn a raw corpus into curated,
bucketed, statistically-profiled training shards.

Portability contract (same as plans/dedup.py): every pseudo-random
choice is an md5 digest, every float aggregate goes through decimal
sums, every ranking tie-breaks on integers/strings — so the DuckDB
oracle replays each computation bit-identically.

Scale notes per plan inline; the common theme: one hash-partitioned
shuffle per aggregation level, no driver-side loops, deterministic
hashes instead of RNG state (re-runnable on any cluster layout).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from . import plan

DEC = "decimal(18,6)"


def _md5_str(col):
    """md5 hex of a value's string rendering — portable across engines."""
    return F.md5(col.cast("string").cast("binary"))


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (~80/10/10) by content-free id hash.
# At 100 TB this is THE split primitive: no RNG state, no shuffle at all
# (split is a map-side expression), stable under re-runs, resharding,
# and late-arriving data — a doc's split never changes.
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = """
    WITH tagged AS (
      SELECT CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split,
             n_chars
      FROM documents
    )
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY split ORDER BY split
"""


@plan("train_test_split", _SPLIT_ORACLE)
def train_test_split(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    h2 = F.substring(_md5_str(F.col("doc_id")), 1, 2)
    split = (
        F.when(h2 < "cd", "train").when(h2 < "e6", "val").otherwise("test")
    ).alias("split")
    return (
        d.select(split, "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sample: top-5 docs per source by md5 order —
# reproducible "random" sampling without RNG. One shuffle (partition by
# source); rank is a per-group window, no global sort.
# ---------------------------------------------------------------------------

_STRAT_ORACLE = """
    WITH ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      FROM documents
    )
    SELECT source, doc_id, rk FROM ranked WHERE rk <= 5
    ORDER BY source, rk
"""


@plan("stratified_sample_docs", _STRAT_ORACLE)
def stratified_sample_docs(spark, sf_dir):
    # Exact per-source top-5 via the salted two-level rank
    # (operators/skew.salted_top_k). The bare rank-filter window does
    # get WindowGroupLimit's map-side prune, but its hot-source
    # reducer still sorts k * num_map_partitions rows in one task —
    # millions at 100 TB scan widths; the salted shape tightens that
    # single-task bound to <= 5*32 rows per source. Output identical —
    # (md5(doc_id), doc_id) is a total order.
    from ..operators.skew import salted_top_k

    d = load_table(spark, sf_dir, "documents")
    pri = d.select("source", "doc_id", _md5_str(F.col("doc_id")).alias("__pri"))
    return (
        salted_top_k(pri, ["source"], ["__pri", "doc_id"], 5, rank_col="rk")
        .select("source", "doc_id", F.col("rk").cast("long").alias("rk"))
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# TF-IDF top-3 terms per document. Ranking tie-breaks on (tf desc, df
# asc, term asc) — integers and strings only, so rank order is engine-
# independent; the float tfidf is floored at 1e-6 for hash stability.
# Scale: two hash aggregations (doc-term, term) + one broadcast of the
# tiny df table; no global sort — the top-3 is a per-doc window.
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rk
      FROM tf JOIN dfreq USING (term)
    )
    SELECT doc_id, term, rk,
           FLOOR(tf * ln(n.n_docs / df) * 1e6) / 1e6 AS tfidf
    FROM scored, n WHERE rk <= 3
    ORDER BY doc_id, rk
"""


@plan("tfidf_top_terms", _TFIDF_ORACLE)
def tfidf_top_terms(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    # dfreq is one row per DISTINCT term — O(vocabulary), which grows
    # with the corpus, so no broadcast hint (ADVICE-r6 rule); AQE
    # broadcasts it at small SF where it fits.
    return (
        tf.join(dfreq, "term")
        .select("doc_id", "term", "tf", "df", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= 3)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "rk",
            (
                F.floor(
                    F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * F.lit(1e6)
                )
                / F.lit(1e6)
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# Boilerplate/stopword scrub: remove filler tokens, collapse whitespace,
# fingerprint the scrubbed text. Token-level contract (split on \s+,
# drop tokens equal to a filler word, rejoin with single spaces) — NOT
# a \b regex delete: Java and RE2 \b diverge on non-ASCII word
# boundaries (the r1 hash-fail class), while whitespace splitting and
# exact string compare are engine-independent. Pure map-side expression
# chain (zero shuffles before the final ORDER BY) — whole-stage codegen
# end to end.
# ---------------------------------------------------------------------------

_STOP_TOKENS = ("a", "the")

_SCRUB_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents
    ),
    scrubbed AS (
      SELECT doc_id,
             len(list_filter(t, x -> x IN ('a', 'the'))) AS n_stopwords,
             -- COALESCE: DuckDB's array_to_string([]) is NULL while
             -- Spark's array_join([]) is '' — the intended semantic
             -- for a fully-scrubbed doc is the empty string (same
             -- contract as exact_substr_scrub), so the oracle states
             -- it explicitly (r12 torture-corpus audit). The CASE
             -- keeps that coalesce from ALSO swallowing NULL text:
             -- a NULL doc scrubs to NULL, not to md5('') (r13
             -- null-corpus sweep)
             CASE WHEN t IS NULL THEN NULL
                  ELSE COALESCE(array_to_string(
                    list_filter(t, x -> len(x) > 0 AND x NOT IN ('a', 'the')),
                    ' '), '') END AS clean
      FROM toks
    )
    SELECT doc_id, n_stopwords, length(clean) AS clean_chars,
           md5(clean) AS clean_sig
    FROM scrubbed ORDER BY doc_id
"""


@plan("boilerplate_scrub", _SCRUB_ORACLE)
def boilerplate_scrub(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOP_TOKENS)))
    clean = F.array_join(
        F.filter(toks, lambda x: (F.length(x) > 0) & ~x.isin(*_STOP_TOKENS)),
        " ",
    )
    return (
        d.select("doc_id", n_stop.cast("long").alias("n_stopwords"), clean.alias("__clean"))
        .select(
            "doc_id",
            "n_stopwords",
            F.length("__clean").cast("long").alias("clean_chars"),
            F.md5(F.col("__clean").cast("binary")).alias("clean_sig"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Correlation / stddev per group, computed from EXACT decimal moment sums
# (n, Σx, Σy, Σx², Σy², Σxy) so both engines derive the float result from
# bit-identical inputs — native corr()/stddev() stream doubles in engine-
# specific order and drift in the low bits. Same shape Spark uses for its
# own partial aggregates: one map-side-combined shuffle, six decimal sums.
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           FLOOR((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6) / 1e6
             AS corr_qty_price,
           FLOOR(sqrt((n * syy - sy * sy) / (n * (n - 1.0))) * 1e6) / 1e6
             AS stddev_price
    FROM s ORDER BY l_returnflag
"""


@plan("corr_stats_lineitem", _CORR_ORACLE)
def corr_stats_lineitem(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q.cast(DEC)).cast("double").alias("sx"),
        F.sum(p.cast(DEC)).cast("double").alias("sy"),
        F.sum((q * q).cast("decimal(28,8)")).cast("double").alias("sxx"),
        F.sum((p * p).cast("decimal(28,8)")).cast("double").alias("syy"),
        F.sum((q * p).cast("decimal(28,8)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # try_divide: a single-row group or a constant column zeroes the
    # correlation denominator / the n-1 variance divisor — ordinary
    # data; DuckDB (the oracle) returns NULL, ANSI `/` would crash
    # the plan (r12 single-row audit).
    corr = F.try_divide(
        n * sxy - sx * sy,
        F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
    )
    sd = F.sqrt(F.try_divide(n * syy - sy * sy, n * (n - F.lit(1.0))))
    return s.select(
        "l_returnflag",
        "n",
        (F.floor(corr * 1e6) / 1e6).alias("corr_qty_price"),
        (F.floor(sd * 1e6) / 1e6).alias("stddev_price"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Fixed-width value histogram — the distribution-profiling primitive.
# Bucket id is a map-side expression; one shuffle on ~20 uniform keys.
# ---------------------------------------------------------------------------

_HIST_ORACLE = """
    SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY bucket ORDER BY bucket
"""


@plan("price_histogram", _HIST_ORACLE)
def price_histogram(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 25000).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Per-user lag deltas: event-over-event value change, aggregated. The
# LAG result is a raw double subtraction (deterministic); the per-user
# sum goes through decimals. One shuffle on user_id, ordered window pass.
# ---------------------------------------------------------------------------

_LAG_ORACLE = """
    WITH d AS (
      SELECT user_id,
             value - lag(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS delta
      FROM events
    )
    SELECT user_id,
           COUNT(delta) AS n_deltas,
           CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_increases,
           CAST(SUM(CAST(delta AS DECIMAL(18,6))) AS DOUBLE) AS delta_sum
    FROM d GROUP BY user_id ORDER BY user_id
"""


@plan("lag_delta_events", _LAG_ORACLE)
def lag_delta_events(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        "user_id", (F.col("value") - F.lag("value").over(w)).alias("delta")
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count("delta").alias("n_deltas"),
            F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias("n_increases"),
            F.sum(F.col("delta").cast(DEC)).cast("double").alias("delta_sum"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# NTILE quartiles over order value. The EXACT global ntile runs as
# operators/skew.distributed_scan with no partition key — a bare
# Window.orderBy would sort the ENTIRE table in one task (the worst
# global window there is; no rank filter, so no WindowGroupLimit
# prune) — and the quartile is ntile_from_rank's integer formula of
# the exact global rank and total count. The approximate contract
# (approx_percentile bucket bounds broadcast as map-side comparisons,
# see approx_percentile_prices) remains the cheaper alternative when
# ±epsilon boundaries are acceptable.
# ---------------------------------------------------------------------------

_NTILE_ORACLE = """
    WITH q AS (
      -- quartiles over KNOWN prices only (percentile-family
      -- semantics): ranking NULLs would just re-expose the engines'
      -- opposite NULL-ordering defaults — Spark NULLS FIRST on ASC,
      -- DuckDB NULLS LAST (r13 mixed-corpus sweep)
      SELECT o_totalprice,
             NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
      WHERE o_totalprice IS NOT NULL
    )
    SELECT quartile, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS price_sum
    FROM q GROUP BY quartile ORDER BY quartile
"""


@plan("ntile_price_quartiles", _NTILE_ORACLE)
def ntile_price_quartiles(spark, sf_dir):
    from ..operators.skew import distributed_scan, ntile_from_rank

    o = load_table(spark, sf_dir, "orders")
    # known prices only (see oracle) — pushed to the scan
    ranked = distributed_scan(
        o.filter(F.col("o_totalprice").isNotNull()).select(
            "o_totalprice", "o_orderkey"
        ),
        [],
        ["o_totalprice", "o_orderkey"],
        rank_col="__r",
        total_count_col="__c",
    )
    return (
        ranked.select(
            "o_totalprice", ntile_from_rank(4, "__r", "__c").alias("quartile")
        )
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("price_sum"),
        )
        .orderBy("quartile")
    )


# ---------------------------------------------------------------------------
# GROUPING SETS — the explicit form completing the cube/rollup family
# (SURVEY §2.4): exactly the three levels a report needs, nothing more
# (cube would compute 4, including the unused status-only slice).
# ---------------------------------------------------------------------------

_GSETS_ORACLE = """
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    -- Spark omits the ()-grouping-set row on EMPTY input (engine seam,
    -- test_engine_seams.py); real groups always have >= 1 row
    HAVING COUNT(*) > 0
    ORDER BY rflag, lstatus
"""


# ---------------------------------------------------------------------------
# Document chunking: overlapping token windows (size 50, stride 40) —
# THE context-window preparation op of an LLM data pipeline. Pure JVM
# array expressions (sequence -> posexplode -> slice -> concat_ws): the
# token array is materialized once per doc, chunk boundaries are integer
# arithmetic, and the output is ~n_tokens/stride rows per doc with
# content fingerprints.
# ---------------------------------------------------------------------------

CHUNK_SIZE = 50
CHUNK_STRIDE = 40

_CHUNK_ORACLE = rf"""
    WITH toks AS (
      -- NULL text chunks to NOTHING (you cannot window unknown
      -- content); without the filter both engines emit one phantom
      -- 50-token chunk whose sig they then disagree on (r13
      -- null-corpus sweep)
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    starts AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t), 1), {CHUNK_STRIDE})) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST((s - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           least({CHUNK_SIZE}, len(t) - s + 1) AS n_tokens,
           md5(array_to_string(t[s:s + {CHUNK_SIZE} - 1], ' ')) AS chunk_sig
    FROM starts
    ORDER BY doc_id, chunk_idx
"""


@plan("doc_chunks", _CHUNK_ORACLE)
def doc_chunks(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    # NULL text chunks to nothing (see oracle) — pushed to the scan
    with_toks = d.filter(F.col("text").isNotNull()).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    )
    n = F.size("__toks")
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(CHUNK_STRIDE))
    exploded = with_toks.select(
        "doc_id", "__toks", n.alias("__n"), F.explode(starts).alias("s")
    )
    return (
        exploded.select(
            "doc_id",
            F.expr(f"CAST((s - 1) DIV {CHUNK_STRIDE} AS BIGINT)").alias("chunk_idx"),
            F.least(F.lit(CHUNK_SIZE), F.col("__n") - F.col("s") + 1)
            .cast("long")
            .alias("n_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice("__toks", F.col("s"), CHUNK_SIZE)).cast(
                    "binary"
                )
            ).alias("chunk_sig"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# Token-distribution Shannon entropy per document — a repetition /
# degenerate-text quality signal (low entropy = spammy repetition).
# Each -p*ln(p) term is deterministic row math; the cross-term sum goes
# through decimals so term order can't perturb the result.
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    tot AS (SELECT doc_id, SUM(tf) AS n FROM tf GROUP BY doc_id)
    SELECT tf.doc_id, CAST(MAX(tot.n) AS BIGINT) AS n_tokens,
           FLOOR(CAST(SUM(CAST(-(tf.tf / tot.n) * ln(tf.tf / tot.n)
                               AS DECIMAL(28,12))) AS DOUBLE) * 1e6) / 1e6
             AS token_entropy
    FROM tf JOIN tot USING (doc_id)
    GROUP BY tf.doc_id ORDER BY tf.doc_id
"""


@plan("doc_token_entropy", _ENTROPY_ORACLE)
def doc_token_entropy(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tot = tf.groupBy("doc_id").agg(F.sum("tf").alias("n"))
    p = F.col("tf") / F.col("n")
    return (
        tf.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_tokens"),
            (
                F.floor(
                    F.sum((-p * F.log(p)).cast("decimal(28,12)")).cast("double")
                    * 1e6
                )
                / 1e6
            ).alias("token_entropy"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary head: top-50 terms by frequency (Zipf profile). Two
# hash aggs + TakeOrdered(50) — never a global sort.
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    )
    SELECT term, COUNT(*) AS n
    FROM tok GROUP BY term
    ORDER BY n DESC, term LIMIT 50
"""


@plan("vocab_top_terms", _VOCAB_ORACLE)
def vocab_top_terms(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(50)
    )


@plan("grouping_sets_revenue", _GSETS_ORACLE)
def grouping_sets_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "n",
            "revenue",
        )
        .orderBy("rflag", "lstatus")
    )


# ---------------------------------------------------------------------------
# Global z-score normalization, reported per group — the feature-scaling
# primitive of a training pipeline. All statistics are ALGEBRAIC over
# exact decimal sums (mean_z = (mean_x - mu)/sd), so no double is ever
# summed across partitions: one tiny global aggregate (broadcast as a
# literal row via cross join), one grouped aggregate, scalar math after.
# At 100 TB both aggregates are single map-side-combined shuffles.
# ---------------------------------------------------------------------------

_ZSCORE_ORACLE = """
    WITH g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS gn,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS gsx,
             CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(28,8))) AS DOUBLE) AS gsxx
      FROM orders
    ), p AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(MIN(o_totalprice) AS DOUBLE) AS mn,
             CAST(MAX(o_totalprice) AS DOUBLE) AS mx
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           FLOOR(((sx / n - gsx / gn) / sqrt((gsxx - gsx * gsx / gn) / (gn - 1.0))) * 1e6) / 1e6 AS mean_z,
           FLOOR(((mn - gsx / gn) / sqrt((gsxx - gsx * gsx / gn) / (gn - 1.0))) * 1e6) / 1e6 AS min_z,
           FLOOR(((mx - gsx / gn) / sqrt((gsxx - gsx * gsx / gn) / (gn - 1.0))) * 1e6) / 1e6 AS max_z
    FROM p CROSS JOIN g
    ORDER BY o_orderpriority
"""


@plan("zscore_order_prices", _ZSCORE_ORACLE)
def zscore_order_prices(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    g = o.agg(
        F.count(F.lit(1)).cast("double").alias("gn"),
        F.sum(x.cast(DEC)).cast("double").alias("gsx"),
        F.sum((x * x).cast("decimal(28,8)")).cast("double").alias("gsxx"),
    )
    p = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.min(x).cast("double").alias("mn"),
        F.max(x).cast("double").alias("mx"),
    )
    gn, gsx, gsxx = F.col("gn"), F.col("gsx"), F.col("gsxx")
    # try_divide twice: one order total (gn=1) zeroes the n-1 divisor,
    # and a CONSTANT price column makes sd exactly 0.0 — both ordinary
    # data; the z-scores degrade to the oracle's NULLs instead of an
    # ANSI crash (r12 single-row audit).
    sd = F.sqrt(F.try_divide(gsxx - gsx * gsx / gn, gn - F.lit(1.0)))
    mu = gsx / gn

    def z(col):
        return F.floor(F.try_divide(col - mu, sd) * 1e6) / 1e6

    return (
        p.crossJoin(F.broadcast(g))
        .select(
            "o_orderpriority",
            "n",
            z(F.col("sx") / F.col("n")).alias("mean_z"),
            z(F.col("mn")).alias("min_z"),
            z(F.col("mx")).alias("max_z"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Dense month x status grid with zero-filled counts — the gap-filling
# primitive (forecasting and cohort models need EVERY cell present,
# including empty ones). Both grid sides are tiny DISTINCT aggregates, so
# the cross join and the final join are broadcasts; the only real work is
# the one grouped count over the fact table.
# ---------------------------------------------------------------------------

_GRID_ORACLE = """
    WITH m AS (SELECT DISTINCT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month FROM orders),
         s AS (SELECT DISTINCT o_orderstatus AS status FROM orders),
         c AS (
           SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                  o_orderstatus AS status, COUNT(*) AS n
           FROM orders GROUP BY 1, 2
         )
    SELECT m.month, s.status, COALESCE(c.n, 0) AS n_orders
    FROM m CROSS JOIN s
    LEFT JOIN c ON c.month = m.month AND c.status = s.status
    ORDER BY m.month, s.status
"""


@plan("dense_month_status_grid", _GRID_ORACLE)
def dense_month_status_grid(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    month = F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
    months = o.select(month.alias("month")).distinct()
    statuses = o.select(F.col("o_orderstatus").alias("status")).distinct()
    counts = (
        o.groupBy(month.alias("month"), F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        months.crossJoin(F.broadcast(statuses))
        .join(F.broadcast(counts), ["month", "status"], "left")
        .select("month", "status", F.coalesce("n", F.lit(0)).alias("n_orders"))
        .orderBy("month", "status")
    )


# ---------------------------------------------------------------------------
# Quality-weighted deterministic downsampling — keep-rate depends on a
# quality tier (longer docs kept at higher rates), decided per row by an
# md5-prefix threshold instead of RNG. Entirely map-side: the keep
# decision is a hex-string comparison, so re-runs, resharding, and
# late-arriving shards never flip a doc's fate. One tiny grouped count.
# ---------------------------------------------------------------------------

_WSAMPLE_ORACLE = """
    WITH t AS (
      SELECT CASE WHEN n_chars >= 1000 THEN 'long'
                  WHEN n_chars >= 300 THEN 'mid'
                  WHEN n_chars >= 100 THEN 'short'
                  ELSE 'tiny' END AS tier,
             CASE WHEN n_chars >= 1000 THEN 'g'
                  WHEN n_chars >= 300 THEN '8'
                  WHEN n_chars >= 100 THEN '4'
                  ELSE '1' END AS thr,
             substr(md5(doc_id::VARCHAR), 1, 1) AS h1,
             n_chars
      FROM documents
    )
    SELECT tier,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h1 < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN h1 < thr THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM t GROUP BY tier ORDER BY tier
"""


@plan("weighted_sample_docs", _WSAMPLE_ORACLE)
def weighted_sample_docs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    nc = F.col("n_chars")
    tier = (
        F.when(nc >= 1000, "long")
        .when(nc >= 300, "mid")
        .when(nc >= 100, "short")
        .otherwise("tiny")
    )
    thr = (
        F.when(nc >= 1000, "g")
        .when(nc >= 300, "8")
        .when(nc >= 100, "4")
        .otherwise("1")
    )
    kept = F.substring(_md5_str(F.col("doc_id")), 1, 1) < thr
    return (
        d.groupBy(tier.alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.sum(F.when(kept, nc).otherwise(F.lit(0))).alias("kept_chars"),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# Sigma-clip outlier detection — the "drop the garbage rows before
# training" primitive. Fences are mu +/- 3*sd derived from EXACT decimal
# moments, so both engines materialize bit-identical fence doubles and
# every row classifies identically (no percentile interpolation, whose
# last-ulp differences could flip rows near the fence). The 1-row stats
# frame broadcasts; classification is map-side; one grouped count.
# ---------------------------------------------------------------------------

_SIGMA_ORACLE = """
    WITH g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS gn,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS gsx,
             CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(28,8))) AS DOUBLE) AS gsxx
      FROM orders
    ), f AS (
      SELECT gsx / gn - 3.0 * sqrt((gsxx - gsx * gsx / gn) / (gn - 1.0)) AS lo,
             gsx / gn + 3.0 * sqrt((gsxx - gsx * gsx / gn) / (gn - 1.0)) AS hi
      FROM g
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN o_totalprice BETWEEN lo AND hi
                         THEN CAST(o_totalprice AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE)
             AS inlier_revenue
    FROM orders CROSS JOIN f
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@plan("sigma_clip_outliers", _SIGMA_ORACLE)
def sigma_clip_outliers(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    g = o.agg(
        F.count(F.lit(1)).cast("double").alias("gn"),
        F.sum(x.cast(DEC)).cast("double").alias("gsx"),
        F.sum((x * x).cast("decimal(28,8)")).cast("double").alias("gsxx"),
    )
    gn, gsx, gsxx = F.col("gn"), F.col("gsx"), F.col("gsxx")
    # try_divide: a one-order corpus zeroes the n-1 divisor (r12
    # single-row audit); the clip bounds degrade to the oracle's NULLs.
    sd = F.sqrt(F.try_divide(gsxx - gsx * gsx / gn, gn - F.lit(1.0)))
    f = g.select(
        (gsx / gn - F.lit(3.0) * sd).alias("lo"),
        (gsx / gn + F.lit(3.0) * sd).alias("hi"),
    )
    lo, hi = F.col("lo"), F.col("hi")
    return (
        o.crossJoin(F.broadcast(f))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # CASE-shaped, not a bool cast: when the fences are NULL
            # (n=1 corpus) or the value is NULL (dark column), the
            # comparison is NULL and a cast would propagate it into
            # the SUM — the oracle's CASE counts 0 (r13 one/null-corpus
            # value sweep)
            F.sum(F.when(x > hi, F.lit(1)).otherwise(F.lit(0))).alias("n_high"),
            F.sum(F.when(x < lo, F.lit(1)).otherwise(F.lit(0))).alias("n_low"),
            F.sum(F.when(x.between(lo, hi), x.cast(DEC)).otherwise(F.lit(0).cast(DEC)))
            .cast("double")
            .alias("inlier_revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Bigram vocabulary head — collocation counting for tokenizer/LM prep,
# completing the unigram Zipf profile (vocab_top_terms). Spark builds
# bigrams INSIDE the token array with zip_with over two slices (no
# positional self-join, no extra shuffle: explode -> two hash aggs ->
# TakeOrdered(40)); the oracle reconstructs positions with
# generate_subscripts (1-based) and a pos+1 self-join.
# ---------------------------------------------------------------------------

_BIGRAM_ORACLE = r"""
    WITH t AS (
      -- cp: physical-row copy index — the pos+1 self-join must pair
      -- tokens of the SAME physical row; joining on doc_id alone
      -- squares the multiplicity when keys are duplicated while the
      -- plan's in-row zip_with stays linear (r13 dup-corpus sweep)
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY doc_id) AS cp,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents
    ), u AS (
      SELECT doc_id, cp, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
      FROM t
    ), b AS (
      SELECT a.tok || ' ' || c.tok AS bigram
      FROM u a JOIN u c ON a.doc_id = c.doc_id AND a.cp = c.cp
                       AND c.pos = a.pos + 1
    )
    SELECT bigram, COUNT(*) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 40
"""


@plan("bigram_top_terms", _BIGRAM_ORACLE)
def bigram_top_terms(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.filter(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(40)
    )


# ---------------------------------------------------------------------------
# Revenue concentration by customer decile — the Pareto/lift profile.
# Customers aggregate first (map-side combine to |customers| rows), THEN
# the global NTILE ranks the small aggregate; per-decile sums stay
# decimal-exact and the share divides two identically-derived doubles
# (bit-identical IEEE division on both engines). The decile ranking
# runs on the post-agg per-customer relation — smaller than the fact
# table but still |customers| rows, which GROWS with the data — so the
# exact global ntile is distributed_scan + ntile_from_rank, never a
# bare Window.orderBy (one task holding every customer).
# ---------------------------------------------------------------------------

_DECILE_ORACLE = """
    WITH cr AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY o_custkey
    ), d AS (
      SELECT rev, NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
      FROM cr
    ), g AS (
      SELECT decile, COUNT(*) AS n_customers,
             SUM(CAST(rev AS DECIMAL(38,6))) AS drev
      FROM d GROUP BY decile
    )
    SELECT decile, n_customers,
           CAST(drev AS DOUBLE) AS revenue,
           CAST(drev AS DOUBLE) / CAST(SUM(drev) OVER () AS DOUBLE) AS rev_share
    FROM g ORDER BY decile
"""


@plan("decile_revenue_share", _DECILE_ORACLE)
def decile_revenue_share(spark, sf_dir):
    from ..operators.skew import distributed_scan, ntile_from_rank

    o = load_table(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("rev")
    )
    ranked = distributed_scan(
        cr,
        [],
        [F.col("rev").desc(), F.col("o_custkey")],
        rank_col="__r",
        total_count_col="__c",
    )
    g = (
        ranked.select(
            "rev", ntile_from_rank(10, "__r", "__c").alias("decile")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("rev").cast("decimal(38,6)")).alias("drev"),
        )
    )
    wall = Window.partitionBy()
    return (
        g.select(
            "decile",
            "n_customers",
            F.col("drev").cast("double").alias("revenue"),
            (
                F.col("drev").cast("double")
                / F.sum("drev").over(wall).cast("double")
            ).alias("rev_share"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination check — the eval-leakage gate every serious
# pretraining pipeline runs (8-gram overlap between the training split
# and a held-out eval set, the GPT-3/PaLM decontamination recipe). The
# eval set here is the deterministic doc_id % 20 == 0 slice; a train
# doc is contaminated if ANY of its distinct word 8-grams appears in
# any eval doc. Inverted-index equality join on the gram — never
# all-pairs.
# ---------------------------------------------------------------------------

_CONTAM_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(t[i:i+7], ' ') AS g
      FROM toks, UNNEST(range(1, GREATEST(len(t) - 7, 1) + 1)) AS u(i)
    ),
    ev AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
    ),
    hits AS (
      SELECT DISTINCT gr.doc_id
      FROM grams gr JOIN ev ON gr.g = ev.g
      WHERE gr.doc_id % 20 <> 0
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(COUNT(h.doc_id) AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 20 <> 0
    GROUP BY d.source ORDER BY d.source
"""


@plan("benchmark_contamination", _CONTAM_ORACLE)
def benchmark_contamination(spark, sf_dir):
    """Per-source count of training docs sharing >= 1 word 8-gram with
    the eval split (doc_id % 20 == 0) — eval-set decontamination.

    100 TB: the gram inverted index shuffles once on the gram string
    (uniform keys); both sides of the probe hash-join on that key — the
    eval gram set is corpus-proportional (~5% of all grams), so it is
    deliberately NOT broadcast-hinted: a forced broadcast of a
    multi-GB distinct-gram set would OOM the driver, while AQE still
    turns the join into a broadcast at runtime whenever the REAL eval
    set (a benchmark suite, a few MB of grams) is genuinely small. The
    hit set collapses to distinct doc_ids before the per-source rollup.
    Repeated boilerplate grams are the skew hazard — cap gram document
    frequency upstream if the corpus has templated text.
    """
    from ..functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    # NULL text has no grams (word_shingles NULL-propagates since r13;
    # explode would drop the rows anyway — the explicit filter lets
    # the scan skip them). The census leg below stays UNfiltered:
    # NULL-text train docs are still train docs, just never
    # contaminated.
    grams = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("text"), 8)).alias("g"),
    )
    is_eval = F.col("doc_id") % 20 == 0
    ev = grams.filter(is_eval).select("g").distinct()
    hits = (
        grams.filter(~is_eval)
        .join(ev, "g")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(~is_eval)
        .join(hits.withColumn("__hit", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train_docs"),
            F.count("__hit").cast("bigint").alias("n_contaminated"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Context-window packing census: assign docs (in deterministic doc_id
# order per source) to fixed token-budget training windows by exclusive
# prefix-sum division — the sequence-packing pass that turns a cleaned
# corpus into fixed-length pretraining examples. This is the
# prefix-sum formulation (a doc whose tokens straddle a boundary spills
# into the next window) rather than sequential next-fit: identical
# output on any engine, one window-function pass, no iteration.
#
# 100 TB: the exclusive prefix sum runs as operators/skew.
# distributed_scan, NOT a bare window — a window partitioned by source
# hash-shuffles ALL of one source's rows into a single task (AQE
# cannot split a window partition), so a gigantic source serializes
# the job. The scan range-repartitions on (source, doc_id) — splitting
# the hot source across partitions in order — takes a bounded local
# prefix sum per (partition, source), and broadcast-joins the
# census-sized per-partition offsets back. Integer arithmetic end to
# end; the census output is |sources| x |windows| rows and the
# downstream aggregate is map-side combined.
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048  # tokens per training window

_PACK_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM toks
    )
    SELECT source,
           CAST(prior // {PACK_BUDGET} AS BIGINT) AS window_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM packed
    GROUP BY 1, 2
    ORDER BY source, window_id
"""


@plan("pack_context_windows", _PACK_ORACLE)
def pack_context_windows(spark, sf_dir):
    from ..functions.text import token_count

    from ..operators.skew import distributed_scan

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    packed = distributed_scan(
        toks, ["source"], ["doc_id"], prior_sum_of="n_tokens",
        prior_col="prior",
    ).withColumn("window_id", F.expr(f"prior div {PACK_BUDGET}"))
    return (
        packed.groupBy("source", F.col("window_id").cast("bigint").alias("window_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("source", "window_id")
    )


# ---------------------------------------------------------------------------
# Temperature-weighted source mixing (alpha = 0.5): sampling weight
# proportional to n_docs^alpha — the standard multilingual/multi-source
# rebalancing rule (upsample small sources, damp giant ones). alpha is
# fixed at 0.5 because sqrt is an IEEE correctly-rounded primitive, so
# the whole weight table is bit-identical on every engine (pow(x, 0.7)
# would be library-dependent). The decimal-cast total keeps the one
# cross-row double sum exact.
#
# 100 TB: the entire plan runs on |sources| rows after one count
# aggregate; draws_per_million gives an integer materialization target
# a sampler can consume directly.
# ---------------------------------------------------------------------------

_TEMPERATURE_ORACLE = """
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
             sqrt(CAST(n_docs AS DOUBLE)) AS wt
      FROM counts
    ),
    tot AS (
      SELECT CAST(SUM(CAST(wt AS DECIMAL(28,12))) AS DOUBLE) AS t FROM w
    )
    SELECT source, n_docs,
           ROUND(wt / t, 6) AS sample_share,
           CAST(FLOOR(wt / t * 1000000) AS BIGINT) AS draws_per_million
    FROM w, tot
    ORDER BY source
"""


@plan("source_temperature_weights", _TEMPERATURE_ORACLE)
def source_temperature_weights(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = counts.withColumn("wt", F.sqrt(F.col("n_docs").cast("double")))
    tot = w.agg(
        F.sum(F.col("wt").cast("decimal(28,12)")).cast("double").alias("t")
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("wt") / F.col("t"), 6).alias("sample_share"),
            F.floor(F.col("wt") / F.col("t") * 1000000)
            .cast("bigint")
            .alias("draws_per_million"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# UniMax language-budget allocation (Chung et al., "UniMax: Fairer and
# More Effective Language Sampling for Large-Scale Multilingual
# Pretraining", ICLR 2023): instead of temperature-weighting by corpus
# share, give every language a UNIFORM slice of the token budget,
# capped at E epochs of its own capacity — i.e. water-filling. Walk
# languages in ascending (cap, lang) order; each takes
# min(capacity * E, remaining div langs_left) with INTEGER floor
# division (spec'd that way so both engines match bit-for-bit), the
# remainder cascading to larger languages. Budget = 1.5x total corpus
# tokens, E = 2 — chosen so the cap binds for the small languages and
# the largest absorbs the remainder (both branches exercised at every
# SF). epochs = alloc/capacity is the one IEEE division, floor-rounded
# to 1e-6.
#
# 100 TB: the token census is the distributed pass (one map-side-
# combined aggregate over documents); the walk itself runs on
# |languages| rows — metadata-sized, bounded by the world's language
# count, not the corpus — so it is a driver-side loop, the k-means-
# seed escape pattern (VERDICT r7 ledger). The oracle replays the walk
# as a DuckDB recursive CTE.
# ---------------------------------------------------------------------------

UNIMAX_EPOCH_CAP = 2  # max epochs over any single language's corpus

_UNIMAX_ORACLE = rf"""
    WITH RECURSIVE cap AS (
      SELECT lang,
             COALESCE(CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+'))
                      END) AS BIGINT), 0) AS c
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT (SUM(c) * 3) // 2 AS budget, CAST(COUNT(*) AS BIGINT) AS nl
      FROM cap
    ),
    ord AS (
      SELECT lang, c, c * {UNIMAX_EPOCH_CAP} AS cap_tokens,
             ROW_NUMBER() OVER (ORDER BY c * {UNIMAX_EPOCH_CAP}, lang) AS rn
      FROM cap
    ),
    walk(rn, remaining, alloc) AS (
      SELECT 0, (SELECT budget FROM tot), CAST(0 AS BIGINT)
      UNION ALL
      SELECT o.rn,
             w.remaining - LEAST(o.cap_tokens,
                                 w.remaining // ((SELECT nl FROM tot) - w.rn)),
             LEAST(o.cap_tokens,
                   w.remaining // ((SELECT nl FROM tot) - w.rn))
      FROM walk w JOIN ord o ON o.rn = w.rn + 1
    )
    SELECT o.lang, o.c AS capacity_tokens,
           CAST(o.cap_tokens AS BIGINT) AS cap_tokens,
           CAST(w.alloc AS BIGINT) AS alloc_tokens,
           CASE WHEN o.c = 0 THEN 0.0
                ELSE FLOOR(CAST(w.alloc AS DOUBLE) / CAST(o.c AS DOUBLE)
                           * 1e6) / 1e6 END AS epochs
    FROM walk w JOIN ord o ON o.rn = w.rn
    ORDER BY o.lang
"""


@plan("unimax_language_budget", _UNIMAX_ORACLE)
def unimax_language_budget(spark, sf_dir):
    """Per-language UniMax token allocation: capacity, epoch cap,
    water-filled allocation, and realized epochs (see the section
    comment for the exact walk spec and why the walk is driver-side)."""
    import math

    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    cap = (
        d.groupBy("lang")
        # COALESCE: a language whose documents are all NULL-text sums
        # to NULL; degrade to capacity 0 like the oracle's cap CTE
        # instead of TypeError-ing on int(None) below (ADVICE r8).
        .agg(
            F.coalesce(F.sum(token_count(F.col("text"))), F.lit(0))
            .cast("bigint")
            .alias("c")
        )
        .collect()  # |languages| rows — metadata-sized by construction
    )
    e = UNIMAX_EPOCH_CAP
    # NULL-lang-safe walk order, matching the oracle's ROW_NUMBER
    # (ORDER BY cap_tokens, lang) under DuckDB's NULLS LAST default —
    # a bare tuple sort TypeErrors on (str, None) (r13 mixed-corpus
    # crash audit; a NULL lang is a legitimate language group)
    rows = sorted(
        ((r["lang"], int(r["c"] or 0)) for r in cap),
        key=lambda t: (t[1] * e, t[0] is None, t[0] or ""),
    )
    total = sum(c for _, c in rows)
    remaining = (total * 3) // 2
    nl = len(rows)
    out = []
    for i, (lang, c) in enumerate(rows):
        alloc = min(c * e, remaining // (nl - i))
        remaining -= alloc
        epochs = 0.0 if c == 0 else math.floor(alloc / c * 1e6) / 1e6
        out.append((lang, c, c * e, alloc, epochs))
    return spark.createDataFrame(
        sorted(out, key=lambda t: (t[0] is None, t[0] or "")),
        "lang string, capacity_tokens long, cap_tokens long, "
        "alloc_tokens long, epochs double",
    )


# ---------------------------------------------------------------------------
# Unigram language-model surprisal per document — the CCNet/KenLM-style
# quality signal (Wenzek et al. 2020): score each document by its mean
# per-token negative log-probability under a unigram LM trained on the
# corpus itself. Low surprisal = stereotyped/boilerplate text; high =
# rare-token soup. Two passes over the token relation: (1) the corpus
# model (term -> count, plus the scalar total), (2) per-doc scoring
# through a key join against the model.
# Float discipline: p = cnt/N is an int/int double division (identical
# in both engines); each tf * -ln(p) product is truncated to
# DECIMAL(28,12) before the order-insensitive sum; the final mean is a
# double division by the exact token count, floor-rounded to 1e-6.
# 100 TB: the model is |vocab| rows — it GROWS with the corpus, so no
# broadcast hint (ADVICE-r6 rule; AQE broadcasts it where it fits);
# the scoring join shuffles (doc, term) once with map-side combine.
# Linear.
# ---------------------------------------------------------------------------

_SURPRISAL_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    model AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term),
    n AS (SELECT SUM(cnt) AS n FROM model)
    SELECT tf.doc_id,
           CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
           FLOOR(CAST(SUM(CAST(tf.tf * -ln(model.cnt / n.n)
                               AS DECIMAL(28,12))) AS DOUBLE)
                 / SUM(tf.tf) * 1e6) / 1e6 AS avg_surprisal
    FROM tf JOIN model USING (term) CROSS JOIN n
    GROUP BY tf.doc_id ORDER BY tf.doc_id
"""


@plan("unigram_lm_surprisal", _SURPRISAL_ORACLE)
def unigram_lm_surprisal(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    model = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    n = model.agg(F.sum("cnt").alias("n"))
    contrib = (F.col("tf") * -F.log(F.col("cnt") / F.col("n"))).cast(
        "decimal(28,12)"
    )
    # the unigram model is one row per DISTINCT term — O(vocabulary),
    # so no broadcast hint (ADVICE-r6 rule); the scalar total still
    # broadcasts.
    return (
        tf.join(model, "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (
                F.floor(
                    F.sum(contrib).cast("double") / F.sum("tf") * 1e6
                )
                / 1e6
            ).alias("avg_surprisal"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (Robertson-Sparck Jones; k1=1.2, b=0.75) for a
# fixed query-term set — the lexical half of a hybrid retrieval stack
# (rrf_rank_fusion is the combiner). Everything derives from three tiny
# broadcast relations (per-term df, per-doc length, corpus scalars), so
# the only full-size shuffle is the (doc, term) combine.
# Float discipline: idf and the length normalization are double
# expressions over exact integer inputs evaluated in the same literal
# order in both engines; the per-term scores are DECIMAL-truncated
# before the cross-term sum, floor-rounded to 1e-6.
# 100 TB: df/doclen/scalars are metadata-sized; scoring is one linear
# pass + TakeOrdered(20) — never a global sort.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "vector", "stream")

_BM25_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term IN ('spark', 'vector', 'stream')
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT tf.doc_id,
           FLOOR(CAST(SUM(CAST(
               ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * ((tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (stats.sum_dl / stats.n_docs)))))
               AS DECIMAL(28,12))) AS DOUBLE) * 1e6) / 1e6 AS bm25
    FROM tf
    JOIN dfreq USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
"""


@plan("bm25_top_docs", _BM25_ORACLE)
def bm25_top_docs(spark, sf_dir):
    """r13 fused shape: ONE tokenize pass. The previous four-relation
    spelling (tok -> dl / stats / tf / dfreq) pushed the query-term
    filter into the tf leg's scan, so the legs were not
    ReuseExchange-identical and the corpus was scanned+tokenized 4
    times (wide scan audit, sf0.001 executed plans). Here one
    groupBy(doc_id) produces the document length AND the per-query-term
    tf as conditional sums; the corpus scalars (n_docs, sum_dl) and the
    per-term document frequencies fall out of ONE single-row aggregate
    over that doc-level relation, broadcast back. Value identity with
    the unchanged oracle: each term's score expression is the same
    float tree over the same integer inputs (a zero tf contributes
    nothing, matching the oracle's absent (doc, term) row, and docs
    matching no query term are filtered, matching the oracle's inner
    join), and the per-term DECIMAL(28,12) casts are summed exactly,
    so term order cannot move the total."""
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    glob = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")

    def score_term(i: int):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            1 + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        s = idf * (
            (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (F.col("dl") / avgdl)))
        )
        # zero-tf terms have no (doc, term) row in the oracle: add an
        # exact decimal zero, never a cast of the zero-tf score
        return F.when(tf > 0, s.cast("decimal(28,12)")).otherwise(
            F.lit(0).cast("decimal(28,12)")
        )

    total = score_term(0)
    for i in range(1, len(_BM25_TERMS)):
        total = total + score_term(i)
    matched = sum(
        (F.col(f"tf_{i}") > 0).cast("int") for i in range(len(_BM25_TERMS))
    )
    return (
        per_doc.crossJoin(F.broadcast(glob))
        .filter(matched > 0)
        .select(
            "doc_id",
            (F.floor(total.cast("double") * 1e6) / 1e6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate counting — the inner step of byte-pair-encoding
# tokenizer training (Sennrich et al. 2016) as a distributed pass:
# count adjacent symbol pairs across the corpus, weighted by word
# frequency. Production BPE iterates (count -> merge best pair ->
# recount); this plan is the count step at character level, which is
# where all the data-scale work lives — the merge itself touches only
# the |vocab|-sized model. Two hash aggregates: (term, tf) then
# (pair, sum tf); the pair explode runs over the VOCABULARY (distinct
# terms), not the corpus, so corpus growth only affects the first agg.
# ---------------------------------------------------------------------------

_BPE_PAIRS_ORACLE = r"""
    WITH tf AS (
      SELECT term, COUNT(*) AS tf FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents WHERE length(trim(text)) > 0
      ) GROUP BY term
    ),
    pairs AS (
      SELECT unnest([term[i:i+1] for i in generate_series(1, length(term) - 1)]) AS pair,
             tf
      FROM tf WHERE length(term) > 1
    )
    SELECT pair, CAST(SUM(tf) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 50
"""


@plan("bpe_pair_counts", _BPE_PAIRS_ORACLE)
def bpe_pair_counts(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.filter(F.length(F.trim("text")) > 0)
        .select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    pair = F.col("term").substr(F.col("i"), F.lit(2))
    pairs = (
        tf.filter(F.length("term") > 1)
        .select(
            "term",
            "tf",
            F.explode(
                F.sequence(F.lit(1), F.length("term") - 1)
            ).alias("i"),
        )
        .select(pair.alias("pair"), "tf")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("tf").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# BPE merge LOOP (Sennrich et al. 2016) — the full iterated tokenizer-
# training step bpe_pair_counts only counts: M rounds of (count
# adjacent symbol pairs weighted by word frequency -> pick the most
# frequent pair, ties broken (count DESC, lhs, rhs) -> merge it
# non-overlapping left-to-right in every word). Output: the learned
# merge table (rank, lhs, rhs, pair count at selection time).
#
# Cross-engine exactness: everything is integer counts + string
# equality. The merge is a LEFT FOLD over the unit list carried as a
# chr(31)-separated string: acc starts '', each unit appends as
# sep||unit, EXCEPT when the accumulator ends with sep||lhs and the
# incoming unit equals rhs — then the unit appends WITHOUT a
# separator, fusing lhs+rhs into one unit. A freshly fused unit no
# longer string-equals lhs, so overlapping runs merge exactly like
# the canonical left-to-right scan ('aaaa' + (a,a) -> [aa, aa]); both
# engines state the identical fold (Spark aggregate(), DuckDB
# list_reduce over a ''-prepended list). Words are restricted to
# ^[a-z0-9]+$ so the separator byte cannot occur in a unit. The
# DuckDB oracle unrolls the M rounds as generated CTEs (same pattern
# as pagerank_loop_parts).
#
# 100 TB: the corpus-wide work is ONE word-frequency aggregate; every
# round after that runs on the |vocab|-sized (units, freq) relation —
# pair counting is an explode + map-side-combined aggregate, the
# argmax is a 1-row TakeOrdered collect (scalar driver state, like
# pagerank's node count), and the merge pass is a per-row fold with no
# shuffle. Rounds are localCheckpointed, superseded checkpoints freed.
# ---------------------------------------------------------------------------

BPE_MERGE_ROUNDS = 4
_BPE_SEP = "\x1f"

#: One fold step of the merge (DuckDB side), parameterized on the pair
#: table alias `t` — shared by the learn chain and the fertility-apply
#: chain so the semantics cannot drift between them.
_BPE_FOLD_SQL = (
    "string_split(substr(list_reduce(list_prepend('', units), (acc, x) -> "
    "CASE WHEN x = t.b AND right(acc, length(t.a) + 1) = chr(31) || t.a "
    "THEN acc || x ELSE acc || chr(31) || x END), 2), chr(31))"
)


def _bpe_oracle_prefix(rounds: int = BPE_MERGE_ROUNDS) -> str:
    """WITH-chain learning the merges: wt/w0 plus per-round pc{k} /
    top{k} / w{k} CTEs (generated — same pattern as pagerank_loop)."""
    head = r"""
    WITH wt AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        FROM documents WHERE length(trim(text)) > 0
      ) WHERE regexp_matches(word, '^[a-z0-9]+$') GROUP BY word
    ),
    w0 AS (
      SELECT list_transform(range(1, length(word) + 1),
                            i -> substr(word, i, 1)) AS units, freq
      FROM wt
    )"""
    step = """,
    pc{k} AS (
      SELECT u['a'] AS a, u['b'] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (
        SELECT unnest(list_transform(range(1, len(units)),
                 i -> struct_pack(a := units[i], b := units[i + 1]))) AS u,
               freq
        FROM w{p}
      ) GROUP BY 1, 2
    ),
    top{k} AS (SELECT a, b, cnt FROM pc{k} ORDER BY cnt DESC, a, b LIMIT 1),
    w{k} AS (
      SELECT {fold} AS units, freq
      FROM w{p} CROSS JOIN top{k} t
    )"""
    return head + "".join(
        step.format(k=k, p=k - 1, fold=_BPE_FOLD_SQL)
        for k in range(1, rounds + 1)
    )


def _bpe_merge_oracle(rounds: int = BPE_MERGE_ROUNDS) -> str:
    tail = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, "
        f"cnt AS pair_count FROM top{k}"
        for k in range(1, rounds + 1)
    )
    return (
        f"{_bpe_oracle_prefix(rounds)}\n    SELECT * FROM (\n    {tail}\n"
        f"    ) ORDER BY merge_rank\n"
    )


def _bpe_spark_fold(a: str, b: str) -> str:
    """Spark twin of _BPE_FOLD_SQL with the pair inlined as literals
    (a, b are ^[a-z0-9]+ unit strings — safe to inline)."""
    return (
        f"split(substring(aggregate(units, '', (acc, x) -> "
        f"CASE WHEN x = '{b}' AND right(acc, {len(a) + 1}) = "
        f"concat('{_BPE_SEP}', '{a}') THEN concat(acc, x) "
        f"ELSE concat(acc, '{_BPE_SEP}', x) END), 2), '{_BPE_SEP}')"
    )


def _bpe_words(d, *extra_cols):
    """(units, freq[, extra...]) word-type relation: lowercased
    ^[a-z0-9]+$ whitespace tokens, character-split."""
    return (
        d.filter(F.length(F.trim("text")) > 0)
        .select(
            *extra_cols,
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("word"),
        )
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word", *extra_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(
            *extra_cols,
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("units"),
            "freq",
        )
    )


def _learn_bpe_merges(spark, sf_dir, rounds: int = BPE_MERGE_ROUNDS):
    """Run the merge-learning loop; returns [(rank, lhs, rhs, count)]."""
    from ..operators.graph import _free_local_checkpoint

    d = load_table(spark, sf_dir, "documents")
    words = _bpe_words(d).localCheckpoint()
    merges = []
    prev_ckpt = words
    for k in range(1, rounds + 1):
        top = (
            words.select(
                F.explode(
                    F.expr(
                        "transform(slice(units, 1, size(units) - 1), "
                        "(u, i) -> named_struct('a', u, 'b', element_at(units, i + 2)))"
                    )
                ).alias("u"),
                "freq",
            )
            .groupBy(F.col("u.a").alias("a"), F.col("u.b").alias("b"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()  # 1 row — scalar driver state per round
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((k, a, b, cnt))
        words = words.select(
            F.expr(_bpe_spark_fold(a, b)).alias("units"), "freq"
        ).localCheckpoint()
        _free_local_checkpoint(prev_ckpt, expect_checkpointed=True)
        prev_ckpt = words
    # the return value is a driver-side list — the final words
    # checkpoint has no remaining reader either (review r8)
    _free_local_checkpoint(prev_ckpt, expect_checkpointed=True)
    return merges


@plan("bpe_merge_loop", _bpe_merge_oracle())
def bpe_merge_loop(spark, sf_dir):
    """First BPE_MERGE_ROUNDS learned BPE merges over the corpus word
    vocabulary (see the section comment for the exact fold spec and
    the scale shape)."""
    return spark.createDataFrame(
        _learn_bpe_merges(spark, sf_dir),
        "merge_rank long, lhs string, rhs string, pair_count long",
    )


# ---------------------------------------------------------------------------
# BPE fertility census — APPLY the learned merge table and report the
# metric tokenizer training exists to improve: units per word
# (fertility) by language. The merges are learned GLOBALLY (exactly
# the bpe_merge_loop chain, shared CTE generator / shared Spark loop),
# then applied to the per-(lang, word) vocabulary as
# BPE_MERGE_ROUNDS chained folds — per-row expressions, no shuffle —
# and rolled up per language. Degenerate corpora (a round with no
# pairs) apply the remaining rounds as identity: the oracle LEFT JOINs
# each (possibly empty) top{k} and a NULL pair falls through to the
# plain-append branch, matching the Spark loop's early break.
# Float discipline: units_per_word is ONE double division of two exact
# BIGINTs, floor-rounded 1e-6.
# 100 TB: learning = the bpe_merge_loop shape (vocab-sized rounds);
# application adds one (lang, word) aggregate and M fold projections.
# ---------------------------------------------------------------------------


def _bpe_fertility_oracle(rounds: int = BPE_MERGE_ROUNDS) -> str:
    lw = r""",
    lwt AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT lang,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        FROM documents WHERE length(trim(text)) > 0
      ) WHERE regexp_matches(word, '^[a-z0-9]+$') GROUP BY lang, word
    ),
    al0 AS (
      SELECT lang, freq,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, i, 1)) AS units
      FROM lwt
    )"""
    apply_step = """,
    al{k} AS (
      SELECT lang, freq, {fold} AS units
      FROM al{p} LEFT JOIN top{k} t ON TRUE
    )"""
    body = "".join(
        apply_step.format(k=k, p=k - 1, fold=_BPE_FOLD_SQL)
        for k in range(1, rounds + 1)
    )
    return (
        _bpe_oracle_prefix(rounds)
        + lw
        + body
        + f"""
    SELECT lang,
           CAST(SUM(freq) AS BIGINT) AS n_words,
           CAST(SUM(freq * len(units)) AS BIGINT) AS n_units,
           FLOOR(CAST(SUM(freq * len(units)) AS DOUBLE)
                 / CAST(SUM(freq) AS DOUBLE) * 1e6) / 1e6 AS units_per_word
    FROM al{rounds} GROUP BY lang ORDER BY lang
"""
    )


@plan("bpe_fertility_census", _bpe_fertility_oracle())
def bpe_fertility_census(spark, sf_dir):
    """Per-language BPE fertility after applying the globally learned
    merge table (see the section comment)."""
    merges = _learn_bpe_merges(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    al = _bpe_words(d, F.col("lang"))
    for _, a, b, _cnt in merges:
        al = al.select(
            "lang", F.expr(_bpe_spark_fold(a, b)).alias("units"), "freq"
        )
    return (
        al.groupBy("lang")
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.col("freq") * F.size("units"))
            .cast("bigint")
            .alias("n_units"),
            (
                F.floor(
                    F.sum(F.col("freq") * F.size("units")).cast("double")
                    / F.sum("freq").cast("double")
                    * 1e6
                )
                / 1e6
            ).alias("units_per_word"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Training-shard manifest — the output side of a data pipeline: assign
# every document a deterministic shard (md5 bucket — re-run stable, no
# RNG), then emit the per-shard manifest (doc count, token volume,
# byte volume, id span) that a WebDataset/streaming loader consumes.
# The assignment column is exactly what .write.partitionBy("shard")
# would use; the manifest is its audit.
# 100 TB: assignment is map-side; the manifest is |shards| rows from
# one combine. Shard count scales with corpus (fix bytes/shard, not
# shard count) — the manifest's byte sums are the sizing feedback.
# ---------------------------------------------------------------------------

_N_SHARDS = 16

_SHARD_MANIFEST_ORACLE = rf"""
    WITH assigned AS (
      SELECT doc_id, n_chars,
             length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
               AS n_tokens,
             CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % {_N_SHARDS} AS shard
      FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM assigned GROUP BY shard ORDER BY shard
"""


@plan("training_shard_manifest", _SHARD_MANIFEST_ORACLE)
def training_shard_manifest(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # Token count via space count (single-space corpus): identical
    # integer arithmetic in both engines, no regex split needed here.
    trimmed = F.trim("text")
    n_tokens = (
        F.length(trimmed) - F.length(F.regexp_replace(trimmed, " ", "")) + 1
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("", F.lit("shard:"), F.col("doc_id").cast("string"))
                    .cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _N_SHARDS
    )
    return (
        d.select(
            "doc_id",
            "n_chars",
            n_tokens.alias("n_tokens"),
            shard.alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_bytes"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage — OOV diagnostics: against a fixed
# vocabulary (here the corpus top-50, i.e. vocab_top_terms' output
# recomputed inline so the plan is self-contained), report per-source
# token coverage and out-of-vocabulary rate. The go/no-go check before
# committing a tokenizer to a corpus mix.
# 100 TB: the vocab is a broadcast relation (real tokenizers: 32-256k
# rows); coverage is one (source, in_vocab) combine over the token
# stream. The OOV share is an exact-int double division.
# ---------------------------------------------------------------------------

_VOCAB_COVERAGE_ORACLE = r"""
    WITH tok AS (
      SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, COUNT(*) AS n FROM tok GROUP BY term
        ORDER BY n DESC, term LIMIT 50
      )
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN vocab.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab,
           CAST(SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
    FROM tok LEFT JOIN vocab USING (term)
    GROUP BY source ORDER BY source
"""


@plan("tokenizer_vocab_coverage", _VOCAB_COVERAGE_ORACLE)
def tokenizer_vocab_coverage(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.filter(F.length(F.trim("text")) > 0).select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(50)
        .select("term", F.lit(1).alias("__in"))
    )
    oov = F.sum((F.col("__in").isNull()).cast("bigint"))
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("__in").isNotNull().cast("bigint")).alias("n_in_vocab"),
            oov.alias("n_oov"),
            (oov.cast("double") / F.count(F.lit(1))).alias("oov_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw document
# by how target-like its hashed n-gram profile is. Features are
# unigrams + adjacent bigrams feature-hashed into 64 buckets (the same
# md5 bucket contract as hash_embed_topk); the target distribution p is
# fit on the lang='en' slice, the raw distribution q on the whole
# corpus, both Laplace-smoothed; a document's log importance weight is
# sum_f tf_f * (ln p_f - ln q_f). Downstream selection resamples
# proportionally to exp(logw) — this plan materializes the census the
# resampler consumes.
# Float discipline: the per-bucket log ratio is one ln over an
# identically-shaped rational expression of exact integer counts
# (damped-transcendental rule, DETERMINISM.md §4); per-doc
# contributions are DECIMAL(28,12)-truncated before the
# order-insensitive sum and the total floor-rounds to 1e-6.
# 100 TB: the 64-bucket model is one map-side-combined aggregate and
# only the 64-row model broadcasts. Linear, no all-pairs anywhere.
# ---------------------------------------------------------------------------

# The oracle hashes into the operators' bucket width.
from ..operators.curation import DSIR_BUCKETS as _DSIR_BUCKETS  # noqa: E402

_DSIR_ORACLE = rf"""
    WITH tok AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    feats AS (
      SELECT doc_id, lang,
             unnest(t || CASE WHEN len(t) >= 2
                    THEN list_transform(range(2, len(t) + 1),
                                        i -> t[i - 1] || ' ' || t[i])
                    ELSE CAST([] AS VARCHAR[]) END) AS f
      FROM tok
    ),
    hashed AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(f), 1, 8) AS BIGINT)
               % {_DSIR_BUCKETS} AS bucket
      FROM feats
    ),
    doc_tf AS (
      SELECT doc_id, bucket, COUNT(*) AS tf
      FROM hashed GROUP BY doc_id, bucket
    ),
    model AS (
      SELECT bucket,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p_cnt,
             COUNT(*) AS q_cnt
      FROM hashed GROUP BY bucket
    ),
    tot AS (SELECT SUM(p_cnt) AS p_tot, SUM(q_cnt) AS q_tot FROM model),
    ratio AS (
      SELECT bucket,
             ln(((p_cnt + 1.0) / (p_tot + {_DSIR_BUCKETS}))
                / ((q_cnt + 1.0) / (q_tot + {_DSIR_BUCKETS}))) AS logr
      FROM model CROSS JOIN tot
    )
    SELECT d.doc_id,
           CAST(SUM(d.tf) AS BIGINT) AS n_feats,
           FLOOR(CAST(SUM(CAST(d.tf * r.logr AS DECIMAL(28,12))) AS DOUBLE)
                 * 1e6) / 1e6 AS dsir_logw
    FROM doc_tf d JOIN ratio r USING (bucket)
    GROUP BY d.doc_id ORDER BY d.doc_id
"""


@plan("dsir_importance_weights", _DSIR_ORACLE)
def dsir_importance_weights(spark, sf_dir):
    """Hashed n-gram importance-resampling weights (see module comment).

    Reference parity: the reference pipeline has no data-selection
    stage at all; this is part of the driver-mandated training-data
    curation family (SURVEY §7.6) alongside source_temperature_weights
    and weighted_sample_docs.

    Built from the production operators (operators/curation.py): the
    lang='en' slice is the target, ``dsir_fit`` learns the 64-bucket
    model over the whole corpus and ``dsir_score`` weights every doc
    against it — the same calls a fit-once / score-increments pipeline
    makes, here over one corpus.

    100 TB: linear, no all-pairs — the model is a map-side-combined
    64-group aggregate and only the 64-row model broadcasts back onto
    the (doc, bucket) partials.
    """
    from ..operators.curation import dsir_featurize, dsir_fit, dsir_score
    from ..sources.tables import fan_out

    # fan_out: tokenize + bigram concat + per-feature md5 is the
    # heaviest single-scan stage in the curation set, and a
    # one-row-group input runs it as ONE task (guide §2.5). No-op on
    # split-capable layouts.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hashed = dsir_featurize(
        docs.withColumn("is_en", F.col("lang") == "en"),
        "doc_id", "text", "is_en",
    )
    return dsir_score(hashed, dsir_fit(hashed)).orderBy("doc_id")


# ---------------------------------------------------------------------------
# CCNet-style quality buckets (Wenzek et al. 2020): split each
# language's documents into head / middle / tail terciles of unigram-LM
# surprisal — the bucketing CCNet uses to keep the "head" slice for
# training. Composes the unigram_lm_surprisal census with a per-lang
# NTILE(3) (deterministic: ordered by the already floor-rounded
# surprisal with doc_id tiebreak, so both engines see the identical
# total order — same contract ntile_price_quartiles pinned).
# Float discipline: per-doc surprisals are already floor-rounded
# doubles identical cross-engine; the per-bucket mean DECIMAL-truncates
# them before the order-insensitive sum and floors to 1e-6.
# 100 TB: language is the canonical HOT key (English is half of any
# web corpus — the common case, not the tail), and a bare ntile window
# partitioned by lang sorts that half in one task AQE cannot split.
# The exact NTILE is instead derived from operators/skew.
# distributed_scan: range-repartition splits the hot language across
# partitions while keeping global order, the per-(partition, lang)
# local rank is bounded by partition size, and the census-sized offset
# join yields the exact global rank r plus the per-lang count c; the
# SQL-standard ntile bucket is then a map-side integer formula of
# (r, c) — first (c mod 3) buckets hold (c div 3 + 1) rows, the rest
# (c div 3). Output identical to the window ntile.
# ---------------------------------------------------------------------------

_CCNET_ORACLE = rf"""
    WITH s AS ({_SURPRISAL_ORACLE}),
    b AS (
      SELECT s.doc_id, d.lang, s.n_tokens, s.avg_surprisal,
             NTILE(3) OVER (PARTITION BY d.lang
                            ORDER BY s.avg_surprisal, s.doc_id) AS bucket
      FROM s JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           FLOOR(CAST(SUM(CAST(avg_surprisal AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*) * 1e6) / 1e6 AS mean_surprisal
    FROM b GROUP BY lang, bucket ORDER BY lang, bucket
"""


@plan("ccnet_quality_buckets", _CCNET_ORACLE)
def ccnet_quality_buckets(spark, sf_dir):
    """Per-(lang, tercile) doc/token census of LM surprisal (see module
    comment). Bucket 1 is the CCNet "head" (lowest surprisal)."""
    from ..operators.skew import distributed_scan, ntile_from_rank

    s = unigram_lm_surprisal(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ranked = distributed_scan(
        s.join(d, "doc_id"),
        ["lang"],
        ["avg_surprisal", "doc_id"],
        rank_col="__r",
        total_count_col="__c",
    )
    b = ranked.withColumn("bucket", ntile_from_rank(3, "__r", "__c"))
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            (
                F.floor(
                    F.sum(
                        F.col("avg_surprisal").cast("decimal(28,12)")
                    ).cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                )
                / 1e6
            ).alias("mean_surprisal"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Bigram-LM surprisal — the conditional upgrade of unigram_lm_surprisal:
# score each document by its mean -ln p(w_i | w_{i-1}) under the
# maximum-likelihood bigram model of the corpus itself. Because the
# model is fit on the same corpus, every document bigram has count >= 1
# and no smoothing/backoff is needed — the signal separates stereotyped
# word ORDER (templates score low) from merely common words, which the
# unigram tier cannot.
# Float discipline: p = cb/cu is one int/int IEEE division; per-bigram
# tf * -ln(p) is DECIMAL(28,12)-truncated before the order-insensitive
# sum; the mean is floor-rounded to 1e-6 (damped-transcendental rule).
# 100 TB: ONE tokenize pass builds the (doc, w1, w2) partial; the
# bigram model and its w1 marginal are re-aggregations of that partial
# (map-side combined); scoring joins by (w1, w2) then w1 — plain
# shuffle joins, the bigram vocabulary is NOT broadcast (it grows with
# corpus diversity). Linear, no all-pairs.
# ---------------------------------------------------------------------------

_BIGRAM_LM_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(2, len(t) + 1), i -> t[i - 1])) AS w1,
             unnest(list_transform(range(2, len(t) + 1), i -> t[i])) AS w2
      FROM tok WHERE len(t) >= 2
    ),
    tf2 AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
    cb AS (SELECT w1, w2, SUM(tf) AS cb FROM tf2 GROUP BY 1, 2),
    cu AS (SELECT w1, SUM(cb) AS cu FROM cb GROUP BY 1)
    SELECT tf2.doc_id,
           CAST(SUM(tf2.tf) AS BIGINT) AS n_bigrams,
           FLOOR(CAST(SUM(CAST(tf2.tf * -ln(cb.cb / cu.cu)
                               AS DECIMAL(28,12))) AS DOUBLE)
                 / SUM(tf2.tf) * 1e6) / 1e6 AS avg_bigram_surprisal
    FROM tf2 JOIN cb USING (w1, w2) JOIN cu USING (w1)
    GROUP BY tf2.doc_id ORDER BY tf2.doc_id
"""


@plan("bigram_lm_surprisal", _BIGRAM_LM_ORACLE)
def bigram_lm_surprisal(spark, sf_dir):
    """Per-doc mean conditional surprisal under the corpus bigram LM
    (see module comment)."""
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tk = d.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    n = F.size("t")
    bg = (
        tk.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, n - 1).alias("w1"),
                    F.slice("t", 2, n - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    tf2 = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    cb = tf2.groupBy("w1", "w2").agg(F.sum("tf").alias("cb"))
    cu = cb.groupBy("w1").agg(F.sum("cb").alias("cu"))
    contrib = (
        F.col("tf") * -F.log(F.col("cb") / F.col("cu"))
    ).cast("decimal(28,12)")
    return (
        tf2.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            (
                F.floor(
                    F.sum(contrib).cast("double") / F.sum("tf") * 1e6
                )
                / 1e6
            ).alias("avg_bigram_surprisal"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence / information-value stats — the classic
# credit-scoring feature-engineering op (Siddiqi 2006): for each
# category of a feature, WOE = ln(P(cat|bad)/P(cat|good)) with +0.5
# Laplace cells, and the category's IV term
# (P(cat|bad) - P(cat|good)) * WOE. Label: the order contains at least
# one returned line (l_returnflag = 'R'); feature: o_orderpriority.
# Float discipline: the per-category ln is damped (DECIMAL(28,12)
# truncation + 1e-6 floor; one value per row — nothing sums across
# rows), and the distributions are double divisions of exact integers.
# 100 TB: the label is a per-order max riding the l_orderkey combine
# (partial-agg below nothing — the join is key-to-key), the category
# rollup is 5 groups, totals broadcast. Linear, two exchanges.
# ---------------------------------------------------------------------------

_WOE_ORACLE = r"""
    WITH lab AS (
      SELECT o.o_orderpriority AS category,
             MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS bad
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority
    ),
    agg AS (
      SELECT category,
             CAST(SUM(bad) AS BIGINT) AS n_bad,
             CAST(SUM(1 - bad) AS BIGINT) AS n_good
      FROM lab GROUP BY category
    ),
    tot AS (
      SELECT CAST(SUM(n_bad) AS BIGINT) AS tb,
             CAST(SUM(n_good) AS BIGINT) AS tg
      FROM agg
    )
    SELECT category, n_bad, n_good,
           FLOOR(CAST(CAST(ln(((n_bad + 0.5) / tb) / ((n_good + 0.5) / tg))
                           AS DECIMAL(28,12)) AS DOUBLE) * 1e6) / 1e6 AS woe,
           FLOOR(CAST(CAST(((n_bad + 0.5) / tb - (n_good + 0.5) / tg)
                           * ln(((n_bad + 0.5) / tb) / ((n_good + 0.5) / tg))
                           AS DECIMAL(28,12)) AS DOUBLE) * 1e6) / 1e6
             AS iv_term
    FROM agg CROSS JOIN tot ORDER BY category
"""


@plan("woe_priority_returns", _WOE_ORACLE)
def woe_priority_returns(spark, sf_dir):
    """Per-priority weight-of-evidence and IV terms for the
    order-contains-a-return label (see module comment)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    lab = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("bad")
        )
    )
    agg = lab.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.sum("bad").cast("bigint").alias("n_bad"),
        F.sum(F.lit(1) - F.col("bad")).cast("bigint").alias("n_good"),
    )
    tot = agg.agg(
        F.sum("n_bad").cast("bigint").alias("tb"),
        F.sum("n_good").cast("bigint").alias("tg"),
    )
    # try_divide: a corpus with zero returned orders (tb = 0) — or the
    # inverse — is ordinary data, not an error; ANSI `/` would crash
    # where DuckDB and the oracle return NULL (r12 null-corpus audit).
    pb = F.try_divide(F.col("n_bad") + F.lit(0.5), F.col("tb"))
    pg = F.try_divide(F.col("n_good") + F.lit(0.5), F.col("tg"))
    woe = F.log(pb / pg)
    damp = lambda c: F.floor(  # noqa: E731
        c.cast("decimal(28,12)").cast("double") * 1e6
    ) / 1e6
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "category",
            "n_bad",
            "n_good",
            damp(woe).alias("woe"),
            damp((pb - pg) * woe).alias("iv_term"),
        )
        .orderBy("category")
    )
