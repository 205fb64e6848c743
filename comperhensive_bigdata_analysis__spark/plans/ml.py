"""Clustering building blocks over ``embeddings`` — the k-means legs of
a training-data pipeline (semantic sharding, diversity sampling,
IVF-index construction all start from "assign every vector to its
nearest centroid, then re-estimate centroids").

Exactness contract (same as plans/vector.py): per-component arithmetic
is IEEE-deterministic row math; every cross-row reduction goes through
DECIMAL casts, so distances and means are bit-identical in Spark and
DuckDB. Ranking ties break on centroid id.

Scale: centroids are tiny (K rows) and BROADCAST; assignment is
map-side per vector component — one shuffle per aggregation level,
nothing quadratic. Full Lloyd iterations = repeat (assign, update) with
a localCheckpoint per round, the operators/graph.py iteration
discipline.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from . import plan

PDEC = "decimal(28,12)"
K = 8  # seed centroids = vectors with vec_id < K (deterministic init)

_ASSIGN_CTE = f"""
    v AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, pos, x AS cx FROM v WHERE vec_id < {K}),
    d AS (
      SELECT v.vec_id, c.cid,
             CAST(SUM(CAST((v.x - c.cx) * (v.x - c.cx) AS DECIMAL(28,12)))
                  AS DOUBLE) AS d2
      FROM v JOIN c USING (pos)
      GROUP BY v.vec_id, c.cid
    ),
    assign AS (
      SELECT vec_id, cid, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM d
    )
"""

_KM_ASSIGN_ORACLE = f"""
    WITH {_ASSIGN_CTE}
    SELECT vec_id, cid AS centroid, FLOOR(d2 * 1e6) / 1e6 AS dist2
    FROM assign WHERE rn = 1
    ORDER BY vec_id
"""


def _exploded(df):
    return df.select("vec_id", F.posexplode("embedding").alias("pos", "xf")).select(
        "vec_id", "pos", F.col("xf").cast("double").alias("x")
    )


def _assignment(e):
    """(vec_id, centroid, d2): nearest seed centroid per vector."""
    v = _exploded(e)
    c = v.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), "pos", F.col("x").alias("cx")
    )
    diff = F.col("x") - F.col("cx")
    d = (
        v.join(F.broadcast(c), "pos")
        .groupBy("vec_id", "cid")
        .agg(F.sum((diff * diff).cast(PDEC)).cast("double").alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        d.select("vec_id", "cid", "d2", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@plan("kmeans_assign", _KM_ASSIGN_ORACLE)
def kmeans_assign(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    a = _assignment(e)
    return a.select(
        "vec_id",
        F.col("cid").alias("centroid"),
        (F.floor(F.col("d2") * 1e6) / 1e6).alias("dist2"),
    ).orderBy("vec_id")


# One Lloyd update step: new centroid component = mean of members'
# components. Caution — the summed terms here are RAW float32-derived
# doubles, which CAN tie exactly at the decimal(28,12) rounding digit
# (x = p/2^13 makes x*10^12 a half-integer; Spark rounds HALF_UP, DuckDB
# half-even — surfaced at sf0.01). Squares/products can't tie at an even
# scale (2q=13 has no solution), which is why the distance plans need no
# guard. The mean is floored at 1e-6 to absorb that one-ulp quantum.
_KM_UPDATE_ORACLE = f"""
    WITH {_ASSIGN_CTE}
    SELECT a.cid AS centroid, v.pos, COUNT(*) AS n_members,
           FLOOR(CAST(SUM(CAST(v.x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
                 * 1e6) / 1e6 AS mean_x
    FROM assign a JOIN v ON a.vec_id = v.vec_id AND a.rn = 1
    GROUP BY a.cid, v.pos
    ORDER BY centroid, pos
"""


@plan("kmeans_update", _KM_UPDATE_ORACLE)
def kmeans_update(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    a = _assignment(e).select("vec_id", "cid")
    v = _exploded(e)
    return (
        v.join(a, "vec_id")
        # 1-based component index to match SQL array subscript convention
        .groupBy(F.col("cid").alias("centroid"), (F.col("pos") + 1).cast("long").alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (
                F.floor(
                    F.sum(F.col("x").cast(PDEC)).cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                )
                / 1e6
            ).alias("mean_x"),
        )
        .orderBy("centroid", "pos")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup census — the cluster-scoped embedding
# dedup SCALE PATH (public SemDeDup recipe: k-means the embedding
# space, then look for near-duplicate pairs only WITHIN each cluster,
# because cross-cluster cosines can't clear a high threshold). The
# existing embedding_near_dup plan is the exact global tier (all-pairs
# — quadratic); this plan is the shape you run at 100 TB: assignment
# is a broadcast-centroid map pass, and the pair join carries the
# cluster in its key so candidate pairs shrink from n^2/2 to
# sum_k(n_k^2)/2. Max-cluster-size contract (VERDICT r6 ask #5):
# within-cluster all-pairs is quadratic in n_k, so clusters larger
# than SEMDEDUP_MAX_CLUSTER are deterministically re-split into
# ceil(n_k / cap) sub-buckets by an md5 digest of vec_id, and pairs
# are compared only within (cid, sub) — worst-case pair count per
# bucket is cap^2/2 and the global pair count is <= n * cap / 2,
# i.e. LINEAR in n at fixed cap. (This is the standard SemDeDup
# approximation: near-dup pairs split across sub-buckets are missed;
# a production pipeline re-runs with a rotated digest salt to claw
# back recall.) Pruning policy (deterministic): a vector is pruned
# iff ANY lower-id member of its own (cid, sub) bucket is a
# >=0.35-cosine duplicate. NOTE this is not the sequential greedy
# (chain A~B, B~C with A!~C: greedy keeps C, this prunes it) — it
# upper-bounds the greedy prune count; both engines state the rule
# per pair so they count identically. Exactness: the ml.py/vector.py
# decimal discipline (per-component row math, DECIMAL(28,12)
# reductions, identical double division both sides of the threshold);
# the squared norms are folded into the SAME pair aggregation that
# computes the dot product (decimal sums are order-insensitive and
# every pos matches, so sum(a.x^2) over matched rows IS the norm),
# which drops the separate norm table — and with it the O(n)
# norm-table broadcast the first cut had (ADVICE r6).
# ---------------------------------------------------------------------------

SEMDEDUP_THRESH = 0.35
SEMDEDUP_MAX_CLUSTER = 48  # re-split clusters larger than this

#: Shared CTE chain for the semantic-dedup family: cluster assignment,
#: member counts, md5 sub-bucket re-split, decimal-exact pair cosines,
#: and the duplicate-edge list (id_a < id_b within one (cid, sub)).
_SEMDEDUP_CTE = f"""
    {_ASSIGN_CTE},
    a2 AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
    mem AS (SELECT cid, COUNT(*) AS n_members FROM a2 GROUP BY cid),
    a3 AS (
      SELECT a2.vec_id, a2.cid,
             CAST('0x' || substr(md5(CAST(a2.vec_id AS VARCHAR)), 1, 8)
                  AS BIGINT)
               % CAST(CEIL(mem.n_members / {SEMDEDUP_MAX_CLUSTER}.0)
                      AS BIGINT) AS sub
      FROM a2 JOIN mem ON a2.cid = mem.cid
    ),
    p AS (
      SELECT aa.cid AS cid, aa.sub AS sub,
             a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(SUM(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(a.x * a.x AS DECIMAL(28,12))) AS DOUBLE) AS sq_a,
             CAST(SUM(CAST(b.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS sq_b
      FROM v a
      JOIN v b ON a.pos = b.pos AND a.vec_id < b.vec_id
      JOIN a3 aa ON aa.vec_id = a.vec_id
      JOIN a3 ab ON ab.vec_id = b.vec_id
                AND ab.cid = aa.cid AND ab.sub = aa.sub
      GROUP BY 1, 2, 3, 4
    ),
    dup AS (
      SELECT cid, sub, id_a, id_b FROM p
      WHERE dot / (sqrt(sq_a) * sqrt(sq_b)) >= {SEMDEDUP_THRESH}
    )
"""

#: Sub-bucket digest salts for the CENSUS pass (round-9 decision,
#: VERDICT r8 ask #3): the measured semdedup_salt_recall numbers are
#: 0.494 -> 0.775 at sf0.01 and 0.163 -> 0.312 at sf0.1 going from 1
#: salt to the 2-salt union — recall roughly DOUBLES for ~2x the
#: (linear, n*cap/2-bounded) pair cost, so the census runs both salts.
#: The greedy plan deliberately stays at 1 salt: see its section
#: comment (the sequential walk needs each vector in exactly ONE
#: bucket; a 2-salt union would force per-CLUSTER walks and break the
#: bounded-group applyInPandas contract).
SEMDEDUP_SALTS = ("", "r1")


def _salted_dup_ctes(salts) -> str:
    """Per-salt a3/p/dup CTE chain + the distinct union ``dup`` CTE —
    the oracle twin of ``semdedup_dup_edges(e, salts)`` (same md5
    digest, same (cid, sub) pair scope per salt, distinct on
    (cid, id_a, id_b) across salts)."""
    parts = []
    for i, salt in enumerate(salts):
        lit = f"'{salt}' || " if salt else ""
        parts.append(f"""
    a3_{i} AS (
      SELECT a2.vec_id, a2.cid,
             CAST('0x' || substr(md5({lit}CAST(a2.vec_id AS VARCHAR)),
                                 1, 8) AS BIGINT)
               % CAST(CEIL(mem.n_members / {SEMDEDUP_MAX_CLUSTER}.0)
                      AS BIGINT) AS sub
      FROM a2 JOIN mem ON a2.cid = mem.cid
    ),
    p_{i} AS (
      SELECT aa.cid AS cid, a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(SUM(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(a.x * a.x AS DECIMAL(28,12))) AS DOUBLE) AS sq_a,
             CAST(SUM(CAST(b.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS sq_b
      FROM v a
      JOIN v b ON a.pos = b.pos AND a.vec_id < b.vec_id
      JOIN a3_{i} aa ON aa.vec_id = a.vec_id
      JOIN a3_{i} ab ON ab.vec_id = b.vec_id
                AND ab.cid = aa.cid AND ab.sub = aa.sub
      GROUP BY 1, 2, 3
    ),
    dup_{i} AS (
      SELECT cid, id_a, id_b FROM p_{i}
      WHERE dot / (sqrt(sq_a) * sqrt(sq_b)) >= {SEMDEDUP_THRESH}
    )""")
    union = " UNION ".join(
        f"SELECT cid, id_a, id_b FROM dup_{i}" for i in range(len(salts))
    )
    return ",".join(parts) + f",\n    dup AS ({union})"


_SEMDEDUP_ORACLE = f"""
    WITH {_ASSIGN_CTE},
    a2 AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
    mem AS (SELECT cid, COUNT(*) AS n_members FROM a2 GROUP BY cid),
    {_salted_dup_ctes(SEMDEDUP_SALTS)}
    SELECT mem.cid AS cluster,
           CAST(mem.n_members AS BIGINT) AS n_members,
           CAST(COALESCE(dd.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(dd.n_pruned, 0) AS BIGINT) AS n_pruned,
           CAST(mem.n_members - COALESCE(dd.n_pruned, 0) AS BIGINT) AS n_kept
    FROM mem
    LEFT JOIN (
      SELECT cid, COUNT(*) AS n_dup_pairs,
             COUNT(DISTINCT id_b) AS n_pruned
      FROM dup GROUP BY cid
    ) dd ON mem.cid = dd.cid
    ORDER BY cluster
"""


def _sub_expr(salt: str = ""):
    """Sub-bucket id for the SEMDEDUP_MAX_CLUSTER re-split: first 8 hex
    digits of md5(salt || vec_id) mod the cluster's sub-bucket count
    (expects an ``n_members`` column in scope). ``salt=''`` is
    byte-identical to the original unsalted digest; a non-empty salt
    ROTATES the split so pairs separated by one salt usually land
    together under another (the recall claw-back pass)."""
    n_sub = F.ceil(F.col("n_members") / F.lit(float(SEMDEDUP_MAX_CLUSTER)))
    digest = F.md5(
        F.concat(F.lit(salt), F.col("vec_id").cast("string")).cast("binary")
    )
    return (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
        % n_sub.cast("long")
    )


def _assign_sub(e, salt: str = ""):
    """(vec_id, cid, sub, n_members): cluster assignment plus the
    SEMDEDUP_MAX_CLUSTER md5 sub-bucket re-split (digest salted with
    ``salt``). Only K-row tables broadcast (centroids inside
    ``_assignment``; the per-cluster size/sub-bucket-count table
    here)."""
    assign = _assignment(e).select("vec_id", "cid")
    mem = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return assign.join(F.broadcast(mem), "cid").select(
        "vec_id", "cid", _sub_expr(salt).alias("sub")
    ), mem


def semdedup_dup_edges(e, salts=None):
    """Production duplicate-edge list, unioned over one or more
    sub-bucket salts (VERDICT r7 ask #4): each salt re-splits oversize
    clusters differently, so a second (rotated) pass recovers most
    pairs the first split separated while keeping the per-pass pair
    count linear (n * cap / 2 per salt). The assignment + member
    census is built ONCE — only the cheap digest sub column varies per
    salt (structurally, not just via ReuseExchange). Returns distinct
    (cid, id_a, id_b). Measured recall per salt count:
    plans.ml.semdedup_salt_recall. Default = SEMDEDUP_SALTS (the r9
    2-salt decision)."""
    if salts is None:
        salts = SEMDEDUP_SALTS
    assign = _assignment(e).select("vec_id", "cid")
    mem = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return _dup_edges_union(e, assign, mem, salts)


def _dup_edges_union(e, assign, mem, salts):
    """The salted-union edge body of ``semdedup_dup_edges``, split out
    so callers that already hold (assign, mem) — the census — don't
    rebuild the assignment a second time."""
    base = assign.join(F.broadcast(mem), "cid")
    out = None
    for salt in salts:
        salted = base.select("vec_id", "cid", _sub_expr(salt).alias("sub"))
        edges = _dup_edges(e, salted).select("cid", "id_a", "id_b")
        out = edges if out is None else out.unionAll(edges)
    return out.distinct()


def _dup_edges(e, assign):
    """(cid, sub, id_a, id_b) duplicate-pair edges: decimal-exact
    cosines >= SEMDEDUP_THRESH between members of one (cid, sub)
    bucket, id_a < id_b. Squared norms ride the pair aggregation
    itself (no n-row side table, no n-row broadcast)."""
    v = _exploded(e).join(assign, "vec_id")
    a, b = v.alias("a"), v.alias("b")
    d = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.cid").alias("cid"),
            F.col("a.sub").alias("sub"),
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .agg(
            F.sum((F.col("a.x") * F.col("b.x")).cast(PDEC))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("a.x") * F.col("a.x")).cast(PDEC))
            .cast("double")
            .alias("sq_a"),
            F.sum((F.col("b.x") * F.col("b.x")).cast(PDEC))
            .cast("double")
            .alias("sq_b"),
        )
    )
    cos = F.col("dot") / (F.sqrt("sq_a") * F.sqrt("sq_b"))
    return d.filter(cos >= SEMDEDUP_THRESH).select("cid", "sub", "id_a", "id_b")


@plan("semantic_dedup_census", _SEMDEDUP_ORACLE)
def semantic_dedup_census(spark, sf_dir):
    """Per-cluster semantic-dedup census: members, duplicate pairs
    (cosine >= 0.35 within the cluster's sub-buckets, unioned over the
    SEMDEDUP_SALTS rotated re-splits — the r9 2-salt decision, see the
    constant's comment for the measured recall numbers), vectors
    pruned by the any-lower-id-duplicate rule, and survivors.

    100 TB: the only broadcasts are K-row tables; assignment is one
    grouped reduction per vector; the pair join's equality key is
    (pos, cid, sub) so candidates never leave their sub-bucket, and
    the SEMDEDUP_MAX_CLUSTER re-split caps the pair count at n*cap/2
    PER SALT — linear in corpus size, x|salts| passes. The census
    output is K rows. The pruning rule here upper-bounds the
    sequential greedy; see semantic_dedup_greedy for the exact greedy
    census.
    """
    e = load_table(spark, sf_dir, "embeddings")
    assign = _assignment(e).select("vec_id", "cid")
    mem = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    dup = _dup_edges_union(e, assign, mem, SEMDEDUP_SALTS)
    dd = dup.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("id_b").alias("n_pruned"),
    )
    return (
        mem.join(dd, "cid", "left")
        .select(
            F.col("cid").alias("cluster"),
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned"),
            (F.col("n_members") - F.coalesce("n_pruned", F.lit(0))).alias(
                "n_kept"
            ),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# True sequential greedy (ADVICE r6: the census's any-lower-id rule
# only UPPER-BOUNDS the SemDeDup keep-first greedy — chain A~B, B~C
# with A!~C: greedy keeps C, the census prunes it). This plan runs the
# exact greedy: walk each (cid, sub) bucket's members in ascending
# vec_id; a vector is pruned iff it is a duplicate of an already-KEPT
# lower id; pruned vectors don't prune others. The per-bucket walk is
# inherently sequential, so it runs as a grouped applyInPandas over
# the duplicate-edge list — buckets are capped at SEMDEDUP_MAX_CLUSTER
# members by the re-split, so every group is tiny and the stage is
# embarrassingly parallel across buckets no matter the corpus size.
# The oracle replays the same walk as a DuckDB recursive CTE carrying
# the kept-id list bucket-by-bucket in vec_id rank order.
#
# SALT DECISION (r9, VERDICT r8 ask #3): the greedy deliberately stays
# at ONE salt while the census runs the 2-salt union. The sequential
# keep-first walk is only well-defined over a PARTITION of the
# vectors — each vector in exactly one bucket, walked in ascending id.
# Under a 2-salt edge union a vector participates in two bucketings,
# so the walk would have to run per CLUSTER over the union edges, and
# cluster sizes are unbounded — exactly the unbounded applyInPandas
# group the re-split exists to prevent. 1 salt keeps the bounded-group
# contract; the recall cost is measured and committed
# (semdedup_salt_recall: 0.494 vs 0.775 at sf0.01).
# ---------------------------------------------------------------------------

_SEMDEDUP_GREEDY_ORACLE = f"""
    WITH RECURSIVE {_SEMDEDUP_CTE},
    ids AS (
      SELECT cid, sub, vec_id,
             ROW_NUMBER() OVER (PARTITION BY cid, sub ORDER BY vec_id) AS rn
      FROM (
        SELECT DISTINCT cid, sub, id_a AS vec_id FROM dup
        UNION
        SELECT DISTINCT cid, sub, id_b AS vec_id FROM dup
      )
    ),
    cnt AS (SELECT cid, sub, MAX(rn) AS n FROM ids GROUP BY cid, sub),
    walk(cid, sub, rn, kept) AS (
      SELECT cid, sub, 0, CAST([] AS BIGINT[]) FROM cnt
      UNION ALL
      SELECT w.cid, w.sub, w.rn + 1,
             CASE WHEN EXISTS (
               SELECT 1 FROM dup d
               WHERE d.cid = w.cid AND d.sub = w.sub
                 AND d.id_b = i.vec_id
                 AND list_contains(w.kept, d.id_a)
             ) THEN w.kept ELSE list_append(w.kept, i.vec_id) END
      FROM walk w
      JOIN ids i ON i.cid = w.cid AND i.sub = w.sub AND i.rn = w.rn + 1
    ),
    fin AS (
      SELECT w.cid, c.n - len(w.kept) AS pruned
      FROM walk w JOIN cnt c
        ON c.cid = w.cid AND c.sub = w.sub AND w.rn = c.n
    ),
    pr AS (SELECT cid, SUM(pruned) AS n_pruned FROM fin GROUP BY cid)
    SELECT mem.cid AS cluster,
           CAST(mem.n_members AS BIGINT) AS n_members,
           CAST(COALESCE(pr.n_pruned, 0) AS BIGINT) AS n_pruned_greedy,
           CAST(mem.n_members - COALESCE(pr.n_pruned, 0) AS BIGINT) AS n_kept
    FROM mem
    LEFT JOIN pr ON mem.cid = pr.cid
    ORDER BY cluster
"""


@plan("semantic_dedup_greedy", _SEMDEDUP_GREEDY_ORACLE)
def semantic_dedup_greedy(spark, sf_dir):
    """Exact SemDeDup keep-first-representative greedy census per
    cluster: members, vectors the sequential greedy prunes, survivors.

    100 TB: identical scale shape to semantic_dedup_census up through
    the duplicate-edge list (K-row broadcasts only, (pos, cid, sub)
    pair key, linear candidate count under the re-split cap); the
    greedy walk itself is sequential WITHIN a bucket but buckets are
    capped at SEMDEDUP_MAX_CLUSTER members, so the applyInPandas stage
    processes an edge list of at most cap^2/2 rows per group — tiny,
    Arrow-batched, parallel across all buckets. Only vectors that
    participate in at least one duplicate edge reach Python; everyone
    else is kept by definition and never leaves the JVM.
    """
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    assign, mem = _assign_sub(e)
    dup = _dup_edges(e, assign)

    def greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        edges_to: dict[int, set[int]] = {}
        for ia, ib in zip(pdf["id_a"], pdf["id_b"]):
            edges_to.setdefault(int(ib), set()).add(int(ia))
        kept: set[int] = set()
        pruned = 0
        ids = sorted(set(int(i) for i in pdf["id_a"]) | set(edges_to))
        for vid in ids:
            if any(u in kept for u in edges_to.get(vid, ())):
                pruned += 1
            else:
                kept.add(vid)
        return pd.DataFrame(
            {
                "cid": [int(pdf["cid"].iloc[0])],
                "n_pruned": [pruned],
            }
        )

    pr = (
        dup.groupBy("cid", "sub")
        .applyInPandas(greedy, "cid long, n_pruned long")
        .groupBy("cid")
        .agg(F.sum("n_pruned").alias("n_pruned"))
    )
    return (
        mem.join(pr, "cid", "left")
        .select(
            F.col("cid").alias("cluster"),
            "n_members",
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned_greedy"),
            (F.col("n_members") - F.coalesce("n_pruned", F.lit(0))).alias(
                "n_kept"
            ),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Sub-bucket salt RECALL eval (VERDICT r7 ask #4) — the honesty tier
# for the SEMDEDUP_MAX_CLUSTER re-split, mirroring ann_recall_matrix:
# ground truth is the FULL within-cluster duplicate-pair set (no
# sub-bucket restriction, decimal-exact cosines), and the plan reports
# what fraction of it the capped pipeline finds with 1 salt vs the
# union of 2 rotated salts. A found pair is by construction a truth
# pair (same cid, cosine >= threshold), so recall is the only number
# that moves. Truth is quadratic WITHIN clusters — this is an EVAL to
# run on a sample / small SF, exactly like the brute-force leg of
# ann_recall_matrix; the production path stays linear per salt
# (semdedup_dup_edges).
# Float discipline: recall = one IEEE division over exact BIGINTs,
# FLOOR*1e6-rounded; vacuous recall (no truth pairs) pins 1.0.
# ---------------------------------------------------------------------------

_SEMDEDUP_RECALL_ORACLE = f"""
    WITH {_ASSIGN_CTE},
    a2 AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
    mem AS (SELECT cid, COUNT(*) AS n_members FROM a2 GROUP BY cid),
    s AS (
      SELECT a2.vec_id,
             CAST('0x' || substr(md5(CAST(a2.vec_id AS VARCHAR)), 1, 8)
                  AS BIGINT)
               % CAST(CEIL(mem.n_members / {SEMDEDUP_MAX_CLUSTER}.0)
                      AS BIGINT) AS sub0,
             CAST('0x' || substr(md5('r1' || CAST(a2.vec_id AS VARCHAR)),
                                 1, 8) AS BIGINT)
               % CAST(CEIL(mem.n_members / {SEMDEDUP_MAX_CLUSTER}.0)
                      AS BIGINT) AS sub1
      FROM a2 JOIN mem ON a2.cid = mem.cid
    ),
    tp AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(SUM(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(a.x * a.x AS DECIMAL(28,12))) AS DOUBLE) AS sq_a,
             CAST(SUM(CAST(b.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS sq_b
      FROM v a
      JOIN v b ON a.pos = b.pos AND a.vec_id < b.vec_id
      JOIN a2 aa ON aa.vec_id = a.vec_id
      JOIN a2 ab ON ab.vec_id = b.vec_id AND ab.cid = aa.cid
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT id_a, id_b FROM tp
      WHERE dot / (sqrt(sq_a) * sqrt(sq_b)) >= {SEMDEDUP_THRESH}
    ),
    flags AS (
      SELECT CASE WHEN sa.sub0 = sb.sub0 THEN 1 ELSE 0 END AS f1,
             CASE WHEN sa.sub0 = sb.sub0 OR sa.sub1 = sb.sub1
                  THEN 1 ELSE 0 END AS f2
      FROM truth t
      JOIN s sa ON sa.vec_id = t.id_a
      JOIN s sb ON sb.vec_id = t.id_b
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
             CAST(COALESCE(SUM(f1), 0) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(f2), 0) AS BIGINT) AS n2
      FROM flags
    )
    SELECT 'salts_1' AS tier, n_true, n1 AS n_found,
           CASE WHEN n_true = 0 THEN 1.0
                ELSE FLOOR(CAST(n1 AS DOUBLE) / CAST(n_true AS DOUBLE)
                           * 1e6) / 1e6 END AS recall
    FROM tot
    UNION ALL
    SELECT 'salts_2', n_true, n2,
           CASE WHEN n_true = 0 THEN 1.0
                ELSE FLOOR(CAST(n2 AS DOUBLE) / CAST(n_true AS DOUBLE)
                           * 1e6) / 1e6 END
    FROM tot
    ORDER BY tier
"""


@plan("semdedup_salt_recall", _SEMDEDUP_RECALL_ORACLE)
def semdedup_salt_recall(spark, sf_dir):
    """Measured sub-bucket recall at 1 vs 2 rotated digest salts
    against the exact within-cluster duplicate-pair truth (see the
    section comment). The pair membership test per salt is a sub-id
    equality on the truth pairs — the salted splits themselves stay
    O(n); only the truth leg is quadratic-within-cluster."""
    e = load_table(spark, sf_dir, "embeddings")
    assign = _assignment(e).select("vec_id", "cid")
    mem = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    subs = assign.join(F.broadcast(mem), "cid").select(
        "vec_id",
        _sub_expr("").alias("sub0"),
        _sub_expr("r1").alias("sub1"),
    )
    v = _exploded(e).join(assign, "vec_id")
    a, b = v.alias("a"), v.alias("b")
    tp = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .agg(
            F.sum((F.col("a.x") * F.col("b.x")).cast(PDEC))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("a.x") * F.col("a.x")).cast(PDEC))
            .cast("double")
            .alias("sq_a"),
            F.sum((F.col("b.x") * F.col("b.x")).cast(PDEC))
            .cast("double")
            .alias("sq_b"),
        )
    )
    cos = F.col("dot") / (F.sqrt("sq_a") * F.sqrt("sq_b"))
    truth = tp.filter(cos >= SEMDEDUP_THRESH).select("id_a", "id_b")
    sa = subs.select(
        F.col("vec_id").alias("id_a"),
        F.col("sub0").alias("sa0"),
        F.col("sub1").alias("sa1"),
    )
    sb = subs.select(
        F.col("vec_id").alias("id_b"),
        F.col("sub0").alias("sb0"),
        F.col("sub1").alias("sb1"),
    )
    same1 = F.col("sa0") == F.col("sb0")
    same2 = same1 | (F.col("sa1") == F.col("sb1"))
    tot = (
        truth.join(sa, "id_a")
        .join(sb, "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            # COALESCE like the oracle: an empty truth set must yield
            # 0, not NULL (review r8 — hash mismatch on sampled runs)
            F.coalesce(F.sum(F.when(same1, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias("n1"),
            F.coalesce(F.sum(F.when(same2, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias("n2"),
        )
    )
    recall = F.when(F.col("n_true") == 0, F.lit(1.0)).otherwise(
        F.floor(
            F.col("n_found").cast("double")
            / F.col("n_true").cast("double")
            * 1e6
        )
        / 1e6
    )
    return (
        tot.selectExpr(
            "stack(2, 'salts_1', n1, 'salts_2', n2) AS (tier, n_found)",
            "n_true",
        )
        .select("tier", "n_true", "n_found", recall.alias("recall"))
        .orderBy("tier")
    )
