"""Dedup-cluster plans: near-dup pairs -> connected components ->
survivorship. The step the pair-emitting dedup plans (plans/dedup.py)
stop short of: transitive closure over the similarity graph, then one
kept document per cluster.

No reference analog (its dedup is whole-row DISTINCT, SURVEY §2.6) —
this is the driver-mandated LLM-pipeline extension's clustering leg.

Oracle: DuckDB ``WITH RECURSIVE`` transitive closure over the SAME
char-5-gram Jaccard pair query the char_jaccard_dedup plan uses, so
Spark's iterative min-label propagation is checked against an
independent fixpoint formulation — different algorithm, same answer.

Scale: the Spark side is operators/graph.py (one shuffle per round,
localCheckpoint lineage cuts, O(diameter) rounds — see its module
docstring for the 100 TB analysis). The recursive CTE is oracle-only:
closure materialization is quadratic per cluster and would never ship
at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import char_jaccard_pairs
from ..operators.graph import connected_components, survivors
from ..sources.tables import load_table
from . import plan
from .dedup import _CHAR_JACCARD_ORACLE

# Every document labeled with its near-dup cluster (singletons included:
# component = own id).
_CC_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_CHAR_JACCARD_ORACLE}),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, r.comp FROM reach r JOIN edges e ON r.node = e.s
    )
    SELECT node AS doc_id, MIN(comp) AS component
    FROM reach GROUP BY node ORDER BY doc_id
"""


@plan("dup_clusters", _CC_ORACLE)
def dup_clusters(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = char_jaccard_pairs(d, "doc_id", "text", n=5, threshold=0.4)
    cc = connected_components(
        pairs.select("id_a", "id_b"),
        "id_a",
        "id_b",
        nodes=d.select("doc_id"),
        node_col="doc_id",
    )
    return cc.select(F.col("node").alias("doc_id"), "component").orderBy("doc_id")


# One survivor per multi-member cluster: longest text wins, min doc_id
# tiebreak — the canonical keep-one dedup decision.
_SURVIVOR_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_CHAR_JACCARD_ORACLE}),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, r.comp FROM reach r JOIN edges e ON r.node = e.s
    ),
    cc AS (
      SELECT node, MIN(comp) AS component FROM reach GROUP BY node
    ),
    ranked AS (
      SELECT cc.component, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY cc.component
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY cc.component) AS n_members
      FROM cc JOIN documents d ON cc.node = d.doc_id
    )
    SELECT component, doc_id AS survivor_id, n_members,
           n_chars AS best_quality
    FROM ranked WHERE rn = 1 AND n_members > 1
    ORDER BY component
"""


@plan("dedup_survivors", _SURVIVOR_ORACLE)
def dedup_survivors(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = char_jaccard_pairs(d, "doc_id", "text", n=5, threshold=0.4)
    cc = connected_components(
        pairs.select("id_a", "id_b"),
        "id_a",
        "id_b",
        nodes=d.select("doc_id"),
        node_col="doc_id",
    )
    return (
        survivors(cc, d.select("doc_id", "n_chars"), "doc_id", "n_chars")
        .filter(F.col("n_members") > 1)
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# Co-purchase graph (market-basket): parts are connected when they
# appear in the same order. Edge generation is a self-join WITHIN the
# orderkey partition (no cross-order pairs), so the shuffle key is the
# orderkey and pair explosion is bounded by per-order basket size.
# ---------------------------------------------------------------------------

_COPURCHASE_ORACLE = """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, COUNT(*) AS n_orders
    FROM pairs GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
"""


def _basket_items(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_partkey").distinct()


def _copurchase_edges(spark, sf_dir, min_orders: int = 1):
    items = _basket_items(spark, sf_dir)
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
    )


@plan("copurchase_pairs", _COPURCHASE_ORACLE)
def copurchase_pairs(spark, sf_dir):
    return (
        _copurchase_edges(spark, sf_dir)
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Triangle count over the co-purchase graph — the standard clustering
# primitive (community density, recommendation strength).
#
# The oracle states the textbook wedge join ((x,y)+(y,z) closed by
# (x,z)); the Spark side computes the SAME orientation-invariant count
# with the edge-iterator algorithm instead, because the wedge join
# materializes and exchanges every length-2 path as a ROW (this corpus:
# ~49M wedge rows per sf0.1 copy against 1.2M edges) and the closure
# join then sort-merges that stream — the probe showed the sort+spill
# of the wedge exchange dominating wall clock at 8x data. Edge-iterator
# instead attaches each endpoint's forward-adjacency ARRAY to the edge
# and counts `array_intersect` sizes: the same pair comparisons happen
# inside a JVM hash intersect per edge row, the biggest exchange
# carries edge-count rows (arrays as compact payloads, no 3-column
# row-per-wedge overhead), and nothing ever sorts wedge-scale data.
#
# Edges are oriented lower-degree -> higher-degree (id tiebreak), the
# Suri–Vassilvitskii orientation: every triangle has exactly one
# source-apex under the total order, so each is counted once, and max
# forward-degree is O(sqrt(m)) — on skewed real-world graphs that
# bounds sum(outdeg^2) (the intersect work) near-linearly in m, which
# is the 100 TB contract. (This basket corpus is near-regular — degree
# ordering trims only ~17% here — the row-overhead and no-sort wins
# are what the probe measures locally.)
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT COUNT(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.b = e2.a
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@plan("copurchase_triangles", _TRIANGLE_ORACLE)
def copurchase_triangles(spark, sf_dir):
    e = _copurchase_edges(spark, sf_dir).select("part_a", "part_b").distinct()
    # Total degree per node (2m rows in, map-side combined).
    deg = (
        e.select(F.col("part_a").alias("v"))
        .unionAll(e.select(F.col("part_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Orient each edge from the (degree, id)-smaller endpoint. The deg
    # table is one row per node — dimension-sized, so AQE broadcasts it
    # under the threshold and shuffle-joins it above; no explicit hint
    # keeps the plan honest at node counts where broadcast would OOM.
    da = deg.select(F.col("v").alias("part_a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("part_b"), F.col("d").alias("db"))
    fwd = F.col("da") < F.col("db")
    tie = (F.col("da") == F.col("db")) & (F.col("part_a") < F.col("part_b"))
    eo = (
        e.join(da, "part_a")
        .join(db, "part_b")
        .select(
            F.when(fwd | tie, F.col("part_a")).otherwise(F.col("part_b")).alias("src"),
            F.when(fwd | tie, F.col("part_b")).otherwise(F.col("part_a")).alias("dst"),
        )
    )
    # Forward adjacency: one row per non-sink node, neighbors as an
    # array. With degree orientation each array is O(sqrt(m)) long.
    adj = eo.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    nbrs_src = adj.select(F.col("src"), F.col("nbrs").alias("nbrs_src"))
    nbrs_dst = adj.select(
        F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_dst")
    )
    # src always has >=1 forward edge (this one); a dst with NO forward
    # edges contributes zero common neighbors, so the inner join
    # dropping it leaves the count unchanged and skips dead rows.
    # SHUFFLE_HASH: build the node-keyed adjacency map per partition
    # and STREAM the edges — sorting rows that carry adjacency arrays
    # is exactly the cost this rewrite exists to avoid.
    return (
        eo.join(nbrs_src.hint("SHUFFLE_HASH"), "src")
        .join(nbrs_dst.hint("SHUFFLE_HASH"), "dst")
        .select(F.size(F.array_intersect("nbrs_src", "nbrs_dst")).alias("t"))
        .agg(
            # COUNT(*)-compatible on an empty edge set: 0, not NULL.
            F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_triangles")
        )
    )


# ---------------------------------------------------------------------------
# PageRank power-iteration step on the co-purchase graph, in EXACT
# INTEGER fixed-point. Floating-point PageRank can't be oracle-checked
# bit-for-bit (contribution sums are order-dependent doubles), so ranks
# live at scale 2^30: contribution = (rank_fp * 85) div (100 * outdeg)
# — integer floor division, identical in both engines — and the damped
# sum is an exact BIGINT fold, order-free. One iteration from the
# uniform vector is the oracle-checkable unit; operators/graph.py-style
# looping (checkpoint per round) extends it to convergence exactly like
# connected_components.
#
# 100 TB: edges come from the per-order part self-join (bounded by
# basket size squared per order, same shape as copurchase_pairs); each
# iteration is one exchange on dst + a broadcast-or-shuffle join of the
# rank vector with the edge list — the standard distributed PageRank
# layout, here with deterministic arithmetic on top.
# ---------------------------------------------------------------------------

_PAGERANK_FP = 1 << 30  # fixed-point one
_PAGERANK_ORACLE = f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey FROM lineitem l
    ),
    edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    outdeg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1
    ),
    contrib AS (
      SELECT e.dst,
             SUM((CAST({_PAGERANK_FP} AS BIGINT) * 85) // (100 * o.d))
               AS got
      FROM edges e JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    )
    SELECT dst AS part_id,
           CAST((CAST({_PAGERANK_FP} AS BIGINT) * 15) // 100 + got AS BIGINT)
             AS rank_fp
    FROM contrib
    ORDER BY rank_fp DESC, part_id
    LIMIT 20
"""


@plan("pagerank_step_parts", _PAGERANK_ORACLE)
def pagerank_step_parts(spark, sf_dir):
    """Top-20 parts after one damped PageRank step (d=0.85) from the
    uniform vector, in exact 2^30 fixed-point."""
    l = load_table(spark, sf_dir, "lineitem")
    baskets = l.select("l_orderkey", "l_partkey").distinct()
    a = baskets.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = baskets.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "k")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    # True integer `div` (not `/` + cast: that routes through double
    # division and truncation, which can disagree with floor division
    # at quotient boundaries).
    contrib = (
        edges.join(outdeg, "src")
        .select(
            "dst",
            F.expr(f"(cast({_PAGERANK_FP} as bigint) * 85) div (100 * d)").alias(
                "part_contrib"
            ),
        )
        .groupBy("dst")
        .agg(F.sum("part_contrib").alias("got"))
    )
    base = (_PAGERANK_FP * 15) // 100
    return (
        contrib.select(
            F.col("dst").alias("part_id"),
            (F.lit(base).cast("bigint") + F.col("got")).cast("bigint").alias("rank_fp"),
        )
        .orderBy(F.col("rank_fp").desc(), "part_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# PageRank FULL LOOP (VERDICT r7 ask #6): pagerank_step_parts pins a
# single step under the oracle; this plan runs a FIXED 5-round damped
# (85/100) power iteration — dangling-mass redistribution included —
# in exact 2^30 fixed-point, so the cross-round arithmetic gets the same
# cross-engine hash guarantee as connected_components. The DuckDB
# oracle unrolls the 5 rounds as a chained-CTE sequence generated from
# ONE step template (recursive CTEs restrict aggregation over the
# working table; a fixed iteration count needs no recursion anyway).
#
# The graph is the co-purchase pair list ORIENTED low->high partkey, so
# real sinks exist (a part that is always the larger member of its
# pairs has no out-edge) and the dangling term is genuinely exercised.
# Per round: contribution = (rank_fp * 85) div (100 * outdeg) summed
# over in-edges; every node also gets (dangling_mass * 85) div (100*n)
# plus the constant teleport (2^30 * 15) div 100 — all positive BIGINT
# floor divisions, identical in both engines; max mass n*2^30*85 stays
# far under 2^63.
#
# 100 TB: per round = one key join of the O(nodes) rank vector with the
# edge list + one map-side-combined aggregate onto dst + a scalar
# dangling fold carried as a 1-row frame (crossJoin — never collected
# to the driver); rounds are localCheckpointed and the superseded
# checkpoint is freed, exactly like connected_components.
# ---------------------------------------------------------------------------

_PAGERANK_LOOP_ROUNDS = 5


def _pagerank_loop_oracle(rounds: int = _PAGERANK_LOOP_ROUNDS) -> str:
    fp = _PAGERANK_FP
    head = f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey FROM lineitem l
    ),
    edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    universe AS (
      SELECT src AS node FROM edges
      UNION SELECT dst FROM edges
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM universe),
    outdeg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1
    ),
    r0 AS (
      SELECT node, CAST({fp} AS BIGINT) AS rank_fp FROM universe
    )"""
    step = """,
    contrib{k} AS (
      SELECT e.dst AS node, SUM((p.rank_fp * 85) // (100 * o.d)) AS got
      FROM edges e
      JOIN r{p} p ON p.node = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ),
    dang{k} AS (
      SELECT CAST(COALESCE(SUM(p.rank_fp), 0) AS BIGINT) AS mass
      FROM r{p} p LEFT JOIN outdeg o ON o.src = p.node
      WHERE o.src IS NULL
    ),
    r{k} AS (
      SELECT u.node,
             CAST((CAST({fp} AS BIGINT) * 15) // 100
                  + (dk.mass * 85) // (100 * nn.n)
                  + COALESCE(c.got, 0) AS BIGINT) AS rank_fp
      FROM universe u
      LEFT JOIN contrib{k} c ON c.node = u.node
      CROSS JOIN dang{k} dk CROSS JOIN nn
    )"""
    body = "".join(
        step.format(k=k, p=k - 1, fp=fp) for k in range(1, rounds + 1)
    )
    return (
        head
        + body
        + f"""
    SELECT node AS part_id, rank_fp FROM r{rounds}
    ORDER BY rank_fp DESC, part_id LIMIT 25
"""
    )


@plan("pagerank_loop_parts", _pagerank_loop_oracle())
def pagerank_loop_parts(spark, sf_dir):
    """Top-25 parts after 5 damped fixed-point PageRank rounds on the
    low->high-oriented co-purchase graph (see the section comment).
    Iterated twin of pagerank_step_parts; same loop discipline as
    operators/graph.connected_components (per-round localCheckpoint,
    superseded checkpoints freed)."""
    from ..operators.graph import _free_local_checkpoint

    fp = _PAGERANK_FP
    l = load_table(spark, sf_dir, "lineitem")
    baskets = l.select("l_orderkey", "l_partkey").distinct()
    a = baskets.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = baskets.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "k")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    universe = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = universe.count()
    outdeg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint()
    )
    base = (fp * 15) // 100
    ranks = universe.select("node", F.lit(fp).cast("bigint").alias("rank_fp"))
    prev_ckpt = None
    for _ in range(_PAGERANK_LOOP_ROUNDS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank_fp * 85) div (100 * d)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("got"))
        )
        # dangling mass rides as a 1-row frame — a driver-side .first()
        # here would serialize the loop on round-trips at scale
        dang = (
            ranks.join(
                outdeg.select(F.col("src").alias("node"), "d"), "node", "left"
            )
            .filter(F.col("d").isNull())
            .agg(
                F.coalesce(F.sum("rank_fp"), F.lit(0))
                .cast("bigint")
                .alias("mass")
            )
        )
        ranks = (
            universe.crossJoin(dang)
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast("bigint")
                    + F.expr(f"(mass * 85) div (100 * cast({n} as bigint))")
                    + F.coalesce(F.col("got"), F.lit(0))
                )
                .cast("bigint")
                .alias("rank_fp"),
            )
            .localCheckpoint()
        )
        if prev_ckpt is not None:
            _free_local_checkpoint(prev_ckpt, expect_checkpointed=True)
        prev_ckpt = ranks
    return (
        ranks.select(F.col("node").alias("part_id"), "rank_fp")
        .orderBy(F.col("rank_fp").desc(), "part_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Association rules — the support/confidence/lift triple over the same
# basket pairs copurchase_pairs mines. Everything derives from exact
# integer counts (pair baskets, item baskets, total baskets); the three
# ratios are single IEEE divisions on identical operands, so the plan
# carries a full oracle. Rules are kept where the pair appears in >= 2
# baskets, reported for both directions (a->b and b->a confidence
# differ), top-20 by lift.
# ---------------------------------------------------------------------------

_ASSOC_ORACLE = """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_total AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    item_n AS (
      SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY 1
    ),
    pair_n AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a AS antecedent, p.part_b AS consequent,
           CAST(p.n_pair AS BIGINT) AS n_pair,
           CAST(p.n_pair AS DOUBLE) / CAST(t.n AS DOUBLE) AS support,
           CAST(p.n_pair AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
           CAST(p.n_pair AS DOUBLE) * CAST(t.n AS DOUBLE)
             / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)) AS lift
    FROM pair_n p
    JOIN item_n ia ON ia.l_partkey = p.part_a
    JOIN item_n ib ON ib.l_partkey = p.part_b
    CROSS JOIN n_total t
    WHERE p.n_pair >= 2
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 20
"""


@plan("association_rules", _ASSOC_ORACLE)
def association_rules(spark, sf_dir):
    """Top-20 a->b rules by lift with support and confidence.

    100 TB: pair counts shuffle on the order key (fan-out bounded by
    basket size squared); the scalar basket total is a literal; item
    counts join by key (one row per distinct item — O(catalog), so no
    broadcast hint; AQE broadcasts where it fits); the head is a
    parallel top-k.
    """
    items = _basket_items(spark, sf_dir)
    n_total = items.select("l_orderkey").distinct().count()
    item_n = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("antecedent"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("consequent"))
    pair_n = (
        a.join(b, "k")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    # item_n is one row per DISTINCT item — O(catalog), which grows
    # with SF — so no broadcast hint (the ADVICE-r6 O(n)-broadcast
    # contract); AQE broadcasts it at small SF where it fits.
    ia = item_n.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_item").alias("n_a")
    )
    ib = item_n.select(
        F.col("l_partkey").alias("consequent"), F.col("n_item").alias("n_b")
    )
    nt = F.lit(float(n_total))
    return (
        pair_n.join(ia, "antecedent")
        .join(ib, "consequent")
        .select(
            "antecedent",
            "consequent",
            "n_pair",
            (F.col("n_pair").cast("double") / nt).alias("support"),
            (F.col("n_pair").cast("double") / F.col("n_a").cast("double")).alias(
                "confidence"
            ),
            (
                F.col("n_pair").cast("double")
                * nt
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(20)
    )
