"""Distributed graph connectivity for dedup clustering.

Near-duplicate detection (operators/dedup.py) emits PAIRS; turning pairs
into dedup decisions needs the transitive closure — if A~B and B~C then
{A,B,C} is one cluster even though A~C never fired. The reference has no
graph surface at all (its dedup is whole-row DISTINCT — SURVEY §2.6);
this is part of the driver-mandated LLM-pipeline extension, where
cluster-then-keep-one is the standard corpus dedup contract.

Algorithm: min-label propagation. Every node starts labeled with its own
id; each round, every node adopts the minimum label among itself and its
neighbors; converged when no label changes. Rounds needed = graph
diameter. Near-dup clusters are near-cliques (diameter 1-3), so this
terminates in a handful of rounds.

Design for 100 TB / 1000 executors:

- Each round is ONE shuffle: join(labels, edges) + groupBy(dst).min —
  both hash-partitioned on node id, and AQE coalesces the tiny tail.
- ``localCheckpoint`` after every round cuts the lineage chain;
  without it round k re-executes rounds 1..k-1 and the DAG grows
  quadratically (the classic iterative-Spark trap).
- Convergence is detected with a count on the checkpointed frame —
  cheap because the frame is already materialized.
- For graphs with long chains (not the dedup shape), switch to the
  large-star/small-star contraction of Kiveris et al. (MR "Connected
  Components in MapReduce", SOCC'14) which converges in O(log^2 n)
  rounds — the propagation step below is the building block either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _free_local_checkpoint(df: DataFrame, *,
                           expect_checkpointed: bool = False) -> None:
    """Deterministically drop a ``localCheckpoint``'s storage blocks.

    ``Dataset.unpersist()`` is a no-op for checkpointed data (the cache
    manager has no entry for a LogicalRDD plan), and waiting for the
    ContextCleaner ties reclamation to driver GC timing — on a large
    graph that lets O(iterations) rank vectors pile up in executor
    storage. The checkpointed RDD is reachable as the LogicalRDD leaf's
    ``rdd`` field; unpersisting THAT frees the blocks. Best-effort by
    design: a non-checkpointed frame (the plan leaf is not a
    LogicalRDD, e.g. a loop's round-0 seed) is an EXPECTED no-op and
    returns quietly — UNLESS the caller passes
    ``expect_checkpointed=True`` because it just built the frame with
    ``.localCheckpoint()``: then a non-LogicalRDD leaf means a Spark
    upgrade renamed/wrapped the internal node and checkpoint blocks
    would silently accumulate, so a ONE-TIME warning fires (ADVICE r9
    — the r8 warning only covered the exception path, leaving the
    most likely failure mode, the early return, silent at runtime).
    The same one-time warning covers the free path throwing (Spark
    Connect, an internal plan-shape change); the pytest canary on
    version bumps is test_iterative_loops_free_superseded_checkpoints
    (test_graph.py).
    """
    global _FREE_WARNED
    try:
        logical = df._jdf.queryExecution().logical()
        if logical.getClass().getSimpleName() != "LogicalRDD":
            if expect_checkpointed and not _FREE_WARNED:
                _FREE_WARNED = True
                import warnings

                warnings.warn(
                    "_free_local_checkpoint: caller passed a frame it "
                    "just localCheckpoint'd, but the plan leaf is "
                    f"{logical.getClass().getSimpleName()}, not "
                    "LogicalRDD — a Spark upgrade likely moved the "
                    "internal node; superseded loop checkpoints will "
                    "accumulate until driver GC.",
                    RuntimeWarning,
                    stacklevel=2,
                )
            return  # not a checkpointed frame — expected no-op path
        logical.rdd().unpersist(False)
    except Exception as exc:  # noqa: BLE001 — cleanup must never fail the job
        if not _FREE_WARNED:
            _FREE_WARNED = True
            import warnings

            warnings.warn(
                "_free_local_checkpoint could not reach the checkpointed "
                f"RDD ({type(exc).__name__}: {exc}); superseded loop "
                "checkpoints will accumulate until driver GC. Internal "
                "plan shape may have moved (Spark upgrade / Connect).",
                RuntimeWarning,
                stacklevel=2,
            )


_FREE_WARNED = False


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    ``edges`` is an undirected pair list (each pair listed once, either
    direction). ``nodes`` optionally supplies the full node universe so
    isolated nodes (no incident edge) come back as their own singleton
    component; otherwise the universe is the nodes appearing in edges.

    Returns (node, component) — component = min id in the cluster.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # Materialize the symmetrized edge list ONCE. It sits upstream of the
    # join in EVERY propagation round; left as lineage, each round would
    # re-execute the (potentially expensive) pair-producing plan — e.g.
    # the shingle self-join feeding dedup clustering.
    sym = (
        e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint()
    )
    if nodes is not None:
        universe = nodes.select(F.col(node_col or src).alias("node")).distinct()
    else:
        universe = sym.select(F.col("s").alias("node")).distinct()
    labels = universe.select("node", F.col("node").alias("component"))

    prev_ckpt: DataFrame | None = None
    for _ in range(max_iter):
        # Neighbor minimum per destination node: one shuffle on node id.
        cand = (
            sym.join(labels, sym["s"] == labels["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.min("component").alias("cand"))
        )
        merged = (
            labels.join(cand, "node", "left")
            .select(
                "node",
                F.col("component").alias("__old"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("cand"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint()  # cut lineage; materialize this round
        )
        changed = merged.filter(F.col("component") != F.col("__old")).count()
        # this round's checkpoint is materialized and counted — the
        # previous round's blocks have no remaining reader (ADVICE r7)
        if prev_ckpt is not None:
            _free_local_checkpoint(prev_ckpt, expect_checkpointed=True)
        prev_ckpt = merged
        labels = merged.drop("__old")
        if changed == 0:
            break
    return labels


def survivors(
    components: DataFrame,
    attrs: DataFrame,
    node_col: str,
    quality_col: str,
) -> DataFrame:
    """Pick one representative per component: max quality, min id tiebreak.

    The canonical dedup survivorship rule — keep the longest (or
    highest-scoring) member of each near-dup cluster, drop the rest.
    Returns (component, survivor_id, n_members, best_quality).

    Shape: hash aggregations + one equi-join-back, not a window. The
    old rank/count windows partitioned by component colocated the
    whole cluster in one task (no rank filter on the count leg, so no
    WindowGroupLimit prune), and near-dup components are the textbook
    hot key — one boilerplate cluster can hold a visible fraction of a
    100 TB corpus, and AQE cannot split a window partition. Both
    aggregates here (max/count, then min over the best-quality rows)
    map-side-combine to one row per component per input partition, and
    the join back to the census is an equi-join AQE's skew handling
    CAN split. (min/max of a struct would do this in one pass but
    compiles to a keyed SortAggregate — struct buffers can't
    hash-aggregate — which the plan-shape suite forbids.)

    NULL quality (ADVICE r10): ``max(q)`` ignores NULLs, so rows with
    NULL quality never beat a scored sibling; a component whose
    quality is NULL for EVERY member has ``best_quality`` NULL and the
    filter uses null-safe equality so it still emits a survivor (the
    min id) — the same row the old nulls-last rank window picked.
    """
    joined = components.join(attrs, on=components["node"] == attrs[node_col]).select(
        "component", F.col(node_col).alias("member"), F.col(quality_col).alias("q")
    )
    best = joined.groupBy("component").agg(
        F.max("q").alias("best_quality"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        joined.join(best, "component")
        .filter(F.col("q").eqNullSafe(F.col("best_quality")))
        .groupBy("component", "n_members", "best_quality")
        .agg(F.min("member").alias("survivor_id"))
        .select("component", "survivor_id", "n_members", "best_quality")
    )
