"""Unit tests for distributed connected components + survivorship
(operators/graph.py) on hand-built graphs where the answer is knowable
by inspection — the oracle sweep covers the end-to-end dedup plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from comperhensive_bigdata_analysis__spark.operators.graph import (
    connected_components,
    survivors,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a: long, b: long")


def test_cc_two_components_and_singleton(spark):
    # {1,2,3} chained, {10,11}, and node 99 isolated.
    edges = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    nodes = spark.range(0).selectExpr("id").union(
        spark.createDataFrame([(1,), (2,), (3,), (10,), (11,), (99,)], "id: long")
    )
    out = connected_components(edges, "a", "b", nodes=nodes, node_col="id")
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_cc_long_chain_converges(spark):
    # Path graph 0-1-2-...-9: diameter 9 forces multiple propagation
    # rounds; every node must still land on component 0.
    edges = _edges(spark, [(i, i + 1) for i in range(9)])
    out = connected_components(edges, "a", "b")
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}
    assert out.count() == 10


def test_cc_direction_and_duplicate_edges_irrelevant(spark):
    # Same component regardless of pair orientation or repeats.
    edges = _edges(spark, [(5, 4), (4, 5), (4, 3), (5, 3), (3, 4)])
    out = connected_components(edges, "a", "b")
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {3: 3, 4: 3, 5: 3}


def test_survivors_quality_then_id_tiebreak(spark):
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], "node: long, component: long"
    )
    attrs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5), (8, 5)], "doc_id: long, n_chars: long"
    )
    out = survivors(comps, attrs, "doc_id", "n_chars").orderBy("component")
    rows = [tuple(r) for r in out.collect()]
    # component 1: quality tie 30 between docs 2,3 -> min id 2 wins;
    # component 7: tie 5 between 7,8 -> 7 wins.
    assert rows == [(1, 2, 3, 30), (7, 7, 2, 5)]


def test_survivors_null_quality(spark):
    """ADVICE r10: a component whose quality is NULL for every member
    must still emit a survivor (min id, like the old nulls-last rank
    window), while NULL members of a mixed component never beat a
    scored sibling."""
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (7, 7), (8, 7)], "node: long, component: long"
    )
    attrs = spark.createDataFrame(
        [(1, None), (2, None), (7, None), (8, 5)],
        "doc_id: long, n_chars: long",
    )
    out = survivors(comps, attrs, "doc_id", "n_chars").orderBy("component")
    rows = [tuple(r) for r in out.collect()]
    # component 1: all-NULL quality -> survivor is min id 1, quality NULL;
    # component 7: doc 8 has the only score -> it wins over NULL doc 7.
    assert rows == [(1, 1, 2, None), (7, 8, 2, 5)]


def test_cc_plan_labels_every_document(spark, sf_dir):
    from comperhensive_bigdata_analysis__spark import plans

    cc = plans.QUERIES["dup_clusters"](spark, sf_dir)
    docs = cc.count()
    assert docs == 500  # every doc labeled, singletons included
    # component is always <= its member's id (min-label invariant)
    assert cc.filter(F.col("component") > F.col("doc_id")).count() == 0


def test_iterative_loops_free_superseded_checkpoints(spark):
    """ADVICE r7: the per-round localCheckpoints must not accumulate —
    after a multi-round connected_components run, executor storage
    holds only the loop-invariant frames plus the FINAL round's
    checkpoint, not one label vector per iteration."""
    sc = spark.sparkContext

    def persisted():
        return len(sc._jsc.getPersistentRDDs())

    before = persisted()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    labels = connected_components(chain, "src", "dst", max_iter=10)
    assert labels.count() == 13
    # symmetrized edges + final labels = 2
    assert persisted() - before <= 2, (before, persisted())


def test_pagerank_loop_frees_superseded_checkpoints(spark, sf_dir):
    """The catalog's 5-round PageRank loop frees each superseded
    round's checkpoint: executor storage grows by fewer entries than
    the loop has rounds (edges, universe, outdeg and the final ranks
    are 4; without the free it would be 3 + 5)."""
    from comperhensive_bigdata_analysis__spark.plans.graph import (
        _PAGERANK_LOOP_ROUNDS,
        pagerank_loop_parts,
    )

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    top = pagerank_loop_parts(spark, sf_dir)
    assert top.count() > 0
    grown = len(sc._jsc.getPersistentRDDs()) - before
    assert grown < _PAGERANK_LOOP_ROUNDS, grown


def test_free_checkpoint_warns_when_expected_leaf_missing(spark):
    """ADVICE r9: a caller that just localCheckpoint'd its frame passes
    expect_checkpointed=True — if the plan leaf is then NOT a
    LogicalRDD (a Spark upgrade renamed/wrapped the node), the free
    path must warn once instead of silently letting O(iterations)
    checkpoints accumulate. A plain (non-checkpointed) frame stands in
    for the wrong-leaf case."""
    import warnings

    from comperhensive_bigdata_analysis__spark.operators import graph as g

    plain = spark.range(3).toDF("node")
    old = g._FREE_WARNED
    try:
        g._FREE_WARNED = False
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            g._free_local_checkpoint(plain, expect_checkpointed=True)
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "LogicalRDD" in str(w.message)
            for w in caught
        ), [str(w.message) for w in caught]
        # one-time: a second call stays quiet
        with warnings.catch_warnings(record=True) as again:
            warnings.simplefilter("always")
            g._free_local_checkpoint(plain, expect_checkpointed=True)
        assert not again
        # and the default (unknown-provenance) path never warns
        g._FREE_WARNED = False
        with warnings.catch_warnings(record=True) as quiet:
            warnings.simplefilter("always")
            g._free_local_checkpoint(plain)
        assert not quiet
    finally:
        g._FREE_WARNED = old
