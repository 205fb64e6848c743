"""Pins for the r13 optimization internals.

- fan_out (sources/tables.py): repartitions a one-file scan, stays a
  structural no-op on split-capable inputs and non-file relations, and
  never blocks scan pushdown.
- hash_embed_topk: the r13 fusion keeps the corpus-tokenize legs at
  two (query-vector leg + fused dot/norm leg) — a third Generate
  means the dot/norm split regressed.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from comperhensive_bigdata_analysis__spark import plans
from comperhensive_bigdata_analysis__spark.sources.tables import fan_out, load_table


def _explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_fan_out_repartitions_one_file_scan(spark, sf_dir):
    # the sf corpora are one file / one row group per table, and the
    # test session has 8 slots -> fan_out must add the round-robin
    # exchange (1 file * 2 < 8).
    df = fan_out(load_table(spark, sf_dir, "lineitem"))
    ex = _explain(df)
    assert "RoundRobinPartitioning" in ex


def test_fan_out_keeps_scan_pushdown(spark, sf_dir):
    df = fan_out(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    ex = _explain(df)
    # the filter applied ABOVE the exchange still reaches the scan
    assert "GreaterThanOrEqual(l_shipdate" in ex


def test_fan_out_noop_on_split_input(spark, sf_dir, tmp_path):
    out = str(tmp_path / "split_docs")
    load_table(spark, sf_dir, "documents").repartition(8).write.parquet(out)
    df = spark.read.parquet(out)
    assert len(df.inputFiles()) * 2 >= spark.sparkContext.defaultParallelism
    assert fan_out(df) is df  # identity, not just shape-equal


def test_fan_out_noop_on_non_file_relation(spark):
    df = spark.range(10)
    assert fan_out(df) is df


def test_hash_embed_topk_tokenizes_at_most_twice(spark, sf_dir):
    """The r13 fusion: dot and norm come from ONE aggregation pass, so
    the plan holds at most two tokenize legs (full-corpus fused leg +
    the pushdown-pruned query-vector leg). Three Generates = the
    dot/norm legs split again and the corpus is re-tokenized."""
    import re

    ex = _explain(plans.QUERIES["hash_embed_topk"](spark, sf_dir))
    n_generate = len(re.findall(r"\(\d+\) Generate", ex))
    assert n_generate <= 2, f"hash_embed_topk re-grew a tokenize leg: {n_generate}"
