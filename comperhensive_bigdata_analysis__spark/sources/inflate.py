"""Key-disjoint corpus inflation — the shared machinery behind
tools/scale_probe.py and perfbench's curation_corpus set-up.

Inflating by N preserves each table's distribution shape while keeping
copies disjoint in key space, so join/agg fan-out grows like real data
growth rather than duplicate collisions:

- lineitem: order/part keys shifted by a per-copy stride (the
  co-purchase graph gains N disjoint components of the same shape);
- orders: o_orderkey shifted by the same stride (so inflated lineitem
  still joins), customer keys and dates untouched — each customer
  simply has N times the order history;
- documents: per-copy vowel permutation of the text (new vocabulary,
  same token-count distribution) with shifted doc_ids;
- embeddings: per-copy cyclic rotation of the vector (same norm and
  pairwise-distance distribution, different hyperplane signs), with
  shifted vec_ids;
- dimension tables (region/nation/customer/supplier/part) are copied
  through unchanged — dimensions don't grow multiplicatively in a real
  warehouse, and the plans broadcast them regardless.

Both the 1x and Nx corpora are written by the SAME Spark writer and
repartitioned to the same fixed file count, so scan parallelism and
row-group layout are identical and any timing ratio isolates data
VOLUME (a raw single-file source parquet vs a multi-part Spark-written
copy would conflate file layout with data growth).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .tables import load_table

STRIDE = 1_000_000_000
N_FILES = 16

_VOWELS = "aeiou"
_PERMS = ["aeiou", "eioua", "iouae", "ouaei", "uaeio", "eiuoa", "iueao", "oaiue"]

#: Tables copied through unchanged (dimensions + anything not inflated).
PASSTHROUGH = ("region", "nation", "customer", "supplier", "part")


def _union(parts):
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def inflate_corpus(
    spark: SparkSession,
    base_dir: str,
    out_dir: str,
    n_copies: int,
    passthrough: tuple[str, ...] = (),
) -> str:
    """Write an n_copies-fold key-disjoint inflation of base_dir's
    lineitem/orders/documents/embeddings into out_dir (plus unchanged
    copies of ``passthrough`` tables), and return out_dir. Existing
    out_dir is rebuilt.

    ``n_copies`` is capped at len(_PERMS): beyond that the per-copy
    vowel permutations would repeat and copies i and i+8 would carry
    byte-identical text under different doc_ids — exactly the
    duplicate-collision artifact this module exists to avoid (the
    embedding rotation would likewise wrap at the vector dim).
    """
    if n_copies > len(_PERMS):
        raise ValueError(
            f"inflate_corpus supports at most {len(_PERMS)} key-disjoint "
            f"copies (got {n_copies}); add distinct vowel perms to _PERMS "
            "to go further"
        )
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    li = load_table(spark, base_dir, "lineitem")
    _union(
        [
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * STRIDE))
            .withColumn("l_partkey", F.col("l_partkey") + F.lit(i * STRIDE))
            for i in range(n_copies)
        ]
    ).repartition(N_FILES).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )

    o = load_table(spark, base_dir, "orders")
    _union(
        [
            o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * STRIDE))
            for i in range(n_copies)
        ]
    ).repartition(N_FILES).write.mode("overwrite").parquet(
        f"{out_dir}/orders.parquet"
    )

    d = load_table(spark, base_dir, "documents")
    _union(
        [
            d.withColumn("doc_id", F.col("doc_id") + F.lit(i * STRIDE)).withColumn(
                "text", F.translate(F.col("text"), _VOWELS, _PERMS[i % len(_PERMS)])
            )
            for i in range(n_copies)
        ]
    ).repartition(N_FILES).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    e = load_table(spark, base_dir, "embeddings")
    _union(
        [
            e.withColumn("vec_id", F.col("vec_id") + F.lit(i * STRIDE)).withColumn(
                "embedding",
                F.expr(
                    f"concat(slice(embedding, {i + 1}, size(embedding)), "
                    f"slice(embedding, 1, {i}))"
                ),
            )
            for i in range(n_copies)
        ]
    ).repartition(N_FILES).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    for t in passthrough:
        load_table(spark, base_dir, t).repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{t}.parquet")
    return out_dir


# ---------------------------------------------------------------------------
# Planted-hot-key skew corpus (VERDICT r9 ask #1). The key-disjoint
# inflation above keeps every per-key mass CONSTANT as the corpus
# grows, which makes the scale probe structurally blind to hot-key
# shapes: a digest-partitioned window count measures clean on it even
# though its worst case is one key holding a large share of the mass.
# This builder makes that worst case real: half the documents (even
# doc_id — deterministic, stride-invariant) get a single repeated
# boilerplate token appended, with boilerplate char mass ~equal to the
# doc's own text, so EVERY w-token shingle inside the boilerplate run
# is the SAME digest — one hot key carrying roughly a third of the
# corpus's total shingle mass (the Zipfian head of a real corpus,
# concentrated into its worst single-key form). Documents only: the
# digest-window shapes under test consume nothing else.
# ---------------------------------------------------------------------------

SKEW_TOKEN = "zqboilerplatex"


def plant_skew_corpus(spark: SparkSession, base_dir: str, out_dir: str) -> str:
    d = load_table(spark, base_dir, "documents")
    # ~3x the doc's own token mass (floor 96 tokens): the probe corpus's
    # docs are short, and the planted key must carry a large enough
    # share of TOTAL shingle mass (~50%) that a single-task tail is
    # unambiguous at probe scale, not a rounding error.
    n_rep = f"CAST(length(text) / 5 AS INT)"
    planted = F.expr(
        f"concat(text, ' ', repeat('{SKEW_TOKEN} ', greatest({n_rep}, 96)))"
    )
    out = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0, planted).otherwise(F.col("text")),
    )
    out.repartition(N_FILES).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    return out_dir


# ---------------------------------------------------------------------------
# Doc-count-scaled planted skew (VERDICT r10 ask #2 + #4). The token-
# mass corpus above makes the exact-substr window control's hot task
# visible (one digest, ~47% of SHINGLE mass), but winnowing reads
# balanced on it: array_distinct bounds the hot fingerprint at ONE ROW
# PER DOC, so its window-task exposure grows with DOC COUNT, and the
# char-gram md5 scan dominates when docs are long. This builder makes
# that axis real: MULT x the documents (key-disjoint ids), each doc
# reduced to a ~10-char unique md5 slug, with a fixed 12-char
# boilerplate substring appended to HALF of them — every planted doc
# emits the same interior winnowing fingerprint(s), so the hot
# fingerprint's row count is ~half the (now large) doc count while
# per-doc fingerprint sets stay tiny (the window stage, not the scan,
# carries the run). The same corpus plants the ntile-window hot-key
# case for the ccnet probe (ask #4): lang = 'en' on the boilerplate
# half (one key, half the corpus) and 'l<id mod 499>' on the rest
# (the many-cold-keys bed a p50 task statistic needs).
# ---------------------------------------------------------------------------

#: 256x: the hot fingerprint/lang must carry MILLIONS of rows for its
#: single-task cost to clear the ~0.5s per-task floor a 32-way local
#: stage has (measured r11: the marginal window-count cost is ~0.5us/
#: row, so an 80k-row hot key adds ~40ms — real colocation, invisible
#: wall time; at 5M rows it is seconds).
DOC_SKEW_MULT = 256
#: 12 repeats of ONE character: every char 5-gram inside the run is
#: identical, so every winnowing window that falls inside it takes the
#: same min — the planted half of the corpus shares exactly ONE hot
#: fingerprint value (v1 used a 12-char mixed string, which smeared
#: the planted mass over FOUR hot values in four window tasks and
#: halved the per-task signal).
DOC_SKEW_BOILER = "z" * 12  # >= winnow k+w-1 = 8
DOC_SKEW_LANGS = 499  # cold-lang bed cardinality
#: Bump to invalidate the probe's marker-keyed corpus reuse whenever
#: the construction above changes.
DOC_SKEW_VERSION = 3


def plant_doc_skew_corpus(
    spark: SparkSession, base_dir: str, out_dir: str, mult: int = DOC_SKEW_MULT
) -> str:
    d = load_table(spark, base_dir, "documents")
    keep = [c for c in d.columns if c not in ("doc_id", "text", "lang")]
    # 8-char unique slug: with winnow k=5/w=4 an unplanted doc emits
    # exactly ONE fingerprint row (4 k-grams, one window), so the
    # fingerprint-count window stage's per-task baseline is ~1 row per
    # doc and the hot value's doc-count-proportional task stands out
    # instead of drowning in per-doc fanout.
    out = (
        d.withColumn("__j", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))))
        .withColumn("doc_id", F.col("doc_id") * mult + F.col("__j"))
        .withColumn(
            "text",
            F.concat(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                F.when(
                    F.col("doc_id") % 2 == 0, F.lit(DOC_SKEW_BOILER)
                ).otherwise(F.lit("")),
            ),
        )
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 2 == 0, F.lit("en")).otherwise(
                F.concat(
                    F.lit("l"),
                    (F.col("doc_id") % DOC_SKEW_LANGS).cast("string"),
                )
            ),
        )
        .select("doc_id", "text", "lang", *keep)
    )
    out.repartition(N_FILES).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    return out_dir
