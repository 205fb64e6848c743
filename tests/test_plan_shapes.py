"""Physical-plan audit: the properties the 100 TB posture depends on,
pinned as assertions so a regression in plan shape fails CI even while
results stay correct.

- filters and column pruning reach the parquet scan (PushedFilters /
  ReadSchema),
- dimension joins broadcast (no shuffle of the big side),
- top-k compiles to TakeOrderedAndProject (never a global sort),
- semi-joins stay semi-joins,
- NO plan in the registry contains a CartesianProduct.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from comperhensive_bigdata_analysis__spark import plans


def _explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_pricing_summary_pushdown_and_partial_agg(spark, sf_dir):
    ex = _explain(plans.QUERIES["pricing_summary"](spark, sf_dir))
    # date predicate reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in ex
    # column pruning: lineitem is 16 cols; the scan reads only the 6 used
    assert "l_comment" not in ex
    # partial + final hash aggregation (map-side combine)
    assert ex.count("HashAggregate") >= 2


def test_revenue_by_nation_broadcasts_dimension(spark, sf_dir):
    ex = _explain(plans.QUERIES["revenue_by_nation"](spark, sf_dir))
    assert "BroadcastHashJoin" in ex
    # fact-side equi-joins shuffle on their keys, never nested-loop
    assert "CartesianProduct" not in ex
    assert "BroadcastNestedLoopJoin" not in ex
    # partial-agg pushdown: lineitem collapses per orderkey BELOW the
    # join (two aggregation levels = 4 HashAggregates in the plan)
    assert ex.count("HashAggregate") >= 4


def test_filter_project_pushdown(spark, sf_dir):
    ex = _explain(plans.QUERIES["filter_project_arith"](spark, sf_dir))
    assert "PushedFilters" in ex and "l_shipdate" in ex


def test_top_customers_is_take_ordered(spark, sf_dir):
    ex = _explain(plans.QUERIES["top_customers"](spark, sf_dir))
    assert "TakeOrderedAndProject" in ex


def test_semi_join_stays_semi(spark, sf_dir):
    ex = _explain(plans.QUERIES["semi_join_region_customers"](spark, sf_dir))
    assert "LeftSemi" in ex


@pytest.mark.parametrize("name", sorted(plans.QUERIES))
def test_no_cartesian_product_anywhere(spark, sf_dir, name):
    ex = _explain(plans.QUERIES[name](spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in ex, f"{name} plans a cartesian product"


@pytest.mark.parametrize("name", sorted(plans.QUERIES))
def test_output_columns_unique(spark, sf_dir, name):
    """The driver's oracle compare sorts columns by name before hashing —
    duplicate or ambiguous output names would silently corrupt it."""
    cols = plans.QUERIES[name](spark, sf_dir).columns
    assert len(set(cols)) == len(cols), f"{name} duplicate columns: {cols}"


def test_zscore_broadcasts_global_stats(spark, sf_dir):
    """The 1-row global-moments aggregate joins via broadcast nested loop
    (a broadcast of one row), never a shuffled cartesian; both aggregates
    keep map-side partials."""
    ex = _explain(plans.QUERIES["zscore_order_prices"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in ex
    assert "CartesianProduct" not in ex
    assert ex.count("HashAggregate") >= 4


def test_dense_grid_joins_are_broadcast(spark, sf_dir):
    """Grid sides are tiny DISTINCT aggregates: the month x status cross
    join and the counts left-join must both broadcast — a sort-merge join
    here would shuffle the fact-side counts for nothing."""
    ex = _explain(plans.QUERIES["dense_month_status_grid"](spark, sf_dir))
    assert "BroadcastHashJoin" in ex
    assert "SortMergeJoin" not in ex


def test_weighted_sample_is_single_scan(spark, sf_dir):
    """Tier + keep decision are map-side expressions over one scan that
    reads only (doc_id, n_chars) — never the text column."""
    ex = _explain(plans.QUERIES["weighted_sample_docs"](spark, sf_dir))
    assert "Join" not in ex
    assert "text" not in ex  # column pruning: text never leaves parquet
    assert ex.count("HashAggregate") >= 2


def test_monthly_rollup_partial_agg(spark, sf_dir):
    ex = _explain(plans.QUERIES["monthly_order_revenue"](spark, sf_dir))
    assert ex.count("HashAggregate") >= 2
    assert "o_comment" not in ex  # prunes to (o_orderdate, o_totalprice)


def test_trade_matrix_partials_below_joins(spark, sf_dir):
    """The Q7-shape matrix keeps lineitem partials below the 5-way join
    (>= 4 HashAggregates: partial+final at both levels) and broadcasts
    every dimension side — no cartesian, no nested loop."""
    ex = _explain(plans.QUERIES["nation_trade_matrix"](spark, sf_dir))
    assert ex.count("BroadcastHashJoin") >= 3
    assert ex.count("HashAggregate") >= 4
    assert "CartesianProduct" not in ex and "BroadcastNestedLoopJoin" not in ex


def test_checksum_is_pure_hash_aggregate(spark, sf_dir):
    """The table fingerprint must stay a single-scan map-side-combined
    HashAggregate: a string min/max in the fold would demote it to
    SortAggregate (per-partition sort of every row at 100 TB)."""
    ex = _explain(plans.QUERIES["checksum_orders"](spark, sf_dir))
    assert "SortAggregate" not in ex
    assert "ObjectHashAggregate" not in ex
    assert ex.count("HashAggregate") >= 2  # partial + final
    assert "Join" not in ex


def test_interval_merge_single_hash_exchange(spark, sf_dir):
    """Gaps-and-islands reuses ONE user_id exchange end-to-end: both
    window passes and both groupBys run on the same partitioning
    (HashPartitioning(user_id) satisfies the (user_id, island)
    clustering), so the only other exchange is the final sort's range
    partitioning."""
    ex = _explain(plans.QUERIES["merge_event_intervals"](spark, sf_dir))
    assert ex.count("hashpartitioning") <= 2  # tree + details, same node
    assert "CartesianProduct" not in ex and "Join" not in ex


def test_bigram_has_no_positional_self_join(spark, sf_dir):
    """Bigrams are built inside the token array (zip_with over slices),
    so the plan is one text-only scan -> explode -> hash aggs ->
    TakeOrdered, never a positional self-join."""
    ex = _explain(plans.QUERIES["bigram_top_terms"](spark, sf_dir))
    assert "Join" not in ex
    assert "TakeOrderedAndProject" in ex
    assert "doc_id" not in ex  # column pruning: only text is read


import re

import pytest  # noqa: F811 (module-level import also exists above)

_KEYED_SORTAGG = re.compile(r"\(\d+\) SortAggregate\n(?:[^\n]+\n)*?Keys \[[1-9]")


@pytest.mark.parametrize("name", sorted(plans.QUERIES))
def test_no_keyed_sort_aggregate_anywhere(spark, sf_dir, name):
    """A keyed SortAggregate sorts its input per partition — at 100 TB
    that is a silent O(n log n) regression (var-width buffers like string
    min/max under a grouped agg cause it). Key-less SortAggregates are
    fine: an empty ordering requirement inserts no sort."""
    ex = _explain(plans.QUERIES[name](spark, sf_dir))
    assert not _KEYED_SORTAGG.search(ex)


def test_rrf_legs_are_parallel_topk(spark, sf_dir):
    """Both retriever legs must compile to TakeOrderedAndProject (the
    parallel top-k), never a full global sort of documents."""
    ex = _explain(plans.QUERIES["rrf_rank_fusion"](spark, sf_dir))
    assert ex.count("TakeOrderedAndProject") >= 2


def test_pareto_frontier_has_no_self_join(spark, sf_dir):
    """The skyline's running range-max must come from the per-(priority,
    day) CENSUS broadcast back to the raw rows — never a quadratic
    dominance self-join (no SortMergeJoin/Cartesian: the only join is
    the single broadcast of the census), and never a window over the
    raw un-aggregated relation (a 5-value partition key with no rank
    filter would sort ~20% of all orders in one task)."""
    ex = _explain(plans.QUERIES["pareto_frontier_orders"](spark, sf_dir))
    assert "SortMergeJoin" not in ex and "Cartesian" not in ex
    # the census joins back as a broadcast; assert PRESENCE, not an
    # exact node count — a Spark version bump or AQE re-plan can
    # legitimately change how many times the formatted explain names
    # the node without any product regression (ADVICE r10)
    assert "BroadcastHashJoin" in ex
    # the window input must be the day-grain census: an aggregate sits
    # BELOW the window (formatted-plan node ids number bottom-up, so
    # the aggregate's id must be smaller than the window's)
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", ex)]
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", ex)]
    assert win_ids and agg_ids and min(agg_ids) < min(win_ids)


def test_wma_fanout_happens_after_aggregate(spark, sf_dir):
    """weighted_moving_average: the 30x fan-out must sit ABOVE the
    day-grain aggregate (explode of the aggregated relation), so the
    multiplier applies to ~|days| rows, not raw events; the max-day
    bound joins as a broadcast single row."""
    ex = _explain(plans.QUERIES["weighted_moving_average"](spark, sf_dir))
    gen = ex.index("Generate")  # the explode
    agg = ex.index("HashAggregate")
    # formatted explain lists operators top-down: the explode appears
    # above at least one aggregate (the day rollup feeding it)
    assert "BroadcastNestedLoopJoin" in ex  # single-row bound, broadcast
    assert gen < ex.rindex("HashAggregate")


def test_audience_overlap_sizes_are_broadcast(spark, sf_dir):
    """The |types|-row size lookups must broadcast; only the user-keyed
    self-join may shuffle."""
    ex = _explain(plans.QUERIES["audience_overlap_matrix"](spark, sf_dir))
    assert ex.count("BroadcastHashJoin") >= 2


def test_top_event_paths_is_take_ordered(spark, sf_dir):
    ex = _explain(plans.QUERIES["top_event_paths"](spark, sf_dir))
    assert "TakeOrderedAndProject" in ex


def test_hash_embed_topk_broadcasts_query_and_takes_ordered(spark, sf_dir):
    """The retrieval pipeline's 100 TB posture: the <=32-row query
    vector broadcasts into the candidate dot products, the final
    ranking compiles to TakeOrderedAndProject (top-k, never a global
    sort), and nothing degenerates to a nested loop."""
    ex = _explain(plans.QUERIES["hash_embed_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in ex
    assert "TakeOrderedAndProject" in ex
    assert "CartesianProduct" not in ex
    assert "BroadcastNestedLoopJoin" not in ex


def test_zorder_skipping_stats_broadcasts_scale_row(spark, sf_dir):
    """The z-order bucket scaling joins a ONE-row min/max aggregate
    against every order row — that join must be a broadcast (the
    cross join of a 1-row relation plans as BroadcastNestedLoopJoin,
    which is the right physical shape for 1 x N), the z-key math stays
    JVM arithmetic (no Python stage in the plan), and no global
    window/sort ever touches the fact rows — file-id assignment is
    pure arithmetic."""
    ex = _explain(plans.QUERIES["zorder_skipping_stats"](spark, sf_dir))
    assert "Broadcast" in ex
    assert "CartesianProduct" not in ex
    assert "BatchEvalPython" not in ex and "ArrowEvalPython" not in ex
    assert "Window" not in ex  # NTILE would single-partition fact rows


def test_q19_disjunction_splits_to_both_scans(spark, sf_dir):
    """brand_quantity_revenue's OR references both tables, so the
    whole predicate cannot move below the join — but Catalyst must
    derive each branch's single-table residual and push the OR of
    those residuals into BOTH parquet scans (brand/size to part,
    quantity envelope to lineitem). A regression to a post-join-only
    filter would scan both tables in full at 100 TB."""
    s = _explain(plans.QUERIES["brand_quantity_revenue"](spark, sf_dir))
    pushed = [ln for ln in s.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity" in ln and "Or(" in ln for ln in pushed), pushed
    assert any("p_brand" in ln and "Or(" in ln for ln in pushed), pushed


def test_triangles_never_sort_adjacency(spark, sf_dir):
    """copurchase_triangles (edge-iterator rewrite, r7): the adjacency
    joins are hinted SHUFFLE_HASH because sort-merging rows that carry
    neighbor ARRAYS would sort wedge-scale payload bytes — the exact
    cost the rewrite removed (the old wedge join probed 7-11x at 8x
    data; edge-iterator probes 3.2x). The plan must keep hash joins
    for the array-carrying stages and never re-introduce a cartesian."""
    ex = _explain(plans.QUERIES["copurchase_triangles"](spark, sf_dir))
    assert "ShuffledHashJoin" in ex
    assert "CartesianProduct" not in ex


def test_sole_blame_folds_correlations_to_one_aggregate(spark, sf_dir):
    """sole_blame_suppliers (Q21 shape): both correlated subqueries are
    folded into ONE per-order profile aggregate — the plan must show
    map-side-combined aggregation and a top-k TakeOrderedAndProject,
    and must NOT contain the two extra self-join legs the textbook
    EXISTS/NOT-EXISTS spelling would add (2 scans of lineitem, not 3)."""
    ex = _explain(plans.QUERIES["sole_blame_suppliers"](spark, sf_dir))
    assert "TakeOrderedAndProject" in ex
    assert ex.count("HashAggregate") >= 4
    assert ex.count("lineitem") <= 2  # file-scan mentions: base + profile


def test_part_revenue_threshold_is_one_row_broadcast(spark, sf_dir):
    """part_revenue_concentration (Q11 shape): the global-total
    threshold joins as a broadcast of ONE row (nested loop over the
    scalar), never a shuffled cartesian, and both rollups keep
    map-side partials."""
    ex = _explain(plans.QUERIES["part_revenue_concentration"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in ex
    assert "CartesianProduct" not in ex
    assert ex.count("HashAggregate") >= 4


def test_dormant_customers_anti_join_prefilters(spark, sf_dir):
    """dormant_rich_customers (Q22 shape): the dormancy anti-join's
    order side is pre-filtered to the recency window AT THE SCAN
    (PushedFilters on o_orderdate), the anti join stays a hash join,
    and the scalar balance threshold broadcasts one row."""
    ex = _explain(plans.QUERIES["dormant_rich_customers"](spark, sf_dir))
    pushed = [ln for ln in ex.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln and "GreaterThanOrEqual" in ln for ln in pushed), pushed
    assert "LeftAnti" in ex
    assert "BroadcastNestedLoopJoin" in ex  # the 1-row (n_pos, sum_pos) scalar
    assert "CartesianProduct" not in ex


def test_q6_is_single_scan_with_all_filters_pushed(spark, sf_dir):
    """discount_revenue_probe (Q6 shape): the canonical scan-aggregate
    — all three predicates reach the parquet reader and the plan
    contains NO join; a regression that lifts a filter above the scan
    reads the full fact at 100 TB."""
    ex = _explain(plans.QUERIES["discount_revenue_probe"](spark, sf_dir))
    pushed = [ln for ln in ex.splitlines() if "PushedFilters" in ln]
    assert any(
        "l_shipdate" in ln and "l_discount" in ln and "l_quantity" in ln
        for ln in pushed
    ), pushed
    assert "Join" not in ex


def test_q13_keeps_left_outer_for_zero_bucket(spark, sf_dir):
    """customer_order_distribution (Q13 shape): the join must stay
    LEFT OUTER — an inner join drops order-less customers and silently
    corrupts the zero bucket of the count-of-counts histogram."""
    ex = _explain(plans.QUERIES["customer_order_distribution"](spark, sf_dir))
    assert "LeftOuter" in ex
    assert ex.count("HashAggregate") >= 4  # both rollups partial+final


def test_q20_scans_lineitem_once(spark, sf_dir):
    """dominant_part_suppliers (Q20 shape): the per-part total is a
    RE-aggregation of the per-(part, supplier) rollup, so the big fact
    appears in exactly one scan; the qualifying set reaches supplier
    as a left-semi join."""
    ex = _explain(plans.QUERIES["dominant_part_suppliers"](spark, sf_dir))
    assert ex.count("lineitem") <= 1
    assert "LeftSemi" in ex


def test_q4_exists_compiles_to_semi_join(spark, sf_dir):
    """late_order_priority_census (Q4 shape): the correlated EXISTS
    with a cross-table inequality must stay ONE left-semi hash join
    with the lateness comparison as the residual — never a
    deduplicating aggregate or an inner join that double-counts
    multi-late-line orders."""
    ex = _explain(plans.QUERIES["late_order_priority_census"](spark, sf_dir))
    assert "LeftSemi" in ex
    pushed = [ln for ln in ex.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed), pushed


@pytest.mark.parametrize(
    "name",
    [
        "ntile_price_quartiles",
        "decile_revenue_share",
        "ccnet_quality_buckets",
        "pack_context_windows",
        "window_value_functions",
    ],
)
def test_scan_shaped_plans_range_partition(spark, sf_dir, name):
    """The round-10 distributed_scan conversions must keep their range
    exchange (the piece that splits a hot key across tasks in global
    order); losing it silently reverts to a one-task-per-key window."""
    ex = _explain(plans.QUERIES[name](spark, sf_dir))
    assert "rangepartitioning" in ex.lower(), name


@pytest.mark.parametrize(
    "name", ["stratified_sample_docs", "domain_cap_census"]
)
def test_salted_topk_plans_keep_group_limit(spark, sf_dir, name):
    """The salted top-k plans' local rank filters must keep triggering
    WindowGroupLimit (the map-side prune is half the shape's bound)."""
    ex = _explain(plans.QUERIES[name](spark, sf_dir))
    assert "WindowGroupLimit" in ex, name


# ---------------------------------------------------------------------------
# Broadcast-hint audit (VERDICT r10 ask #6). The r10 broadcast audit
# removed three explicit hints on name/type-filtered subsets of part
# (TPC-H Q8/Q9/Q20 shapes): a FIXED FRACTION of a data-scaling table
# is not broadcast-able at 100 TB — the hint overrides AQE's runtime
# size check and turns into a driver OOM exactly when the data grows.
# The rule this test pins: an explicit F.broadcast() hint is allowed
# ONLY on metadata-sized relations — dimension tables (nation/region),
# centroid/codebook tables, censuses/offsets bounded by key
# cardinality, single-row aggregates — never on a filtered subset of a
# data-scaling table (part/lineitem/orders/documents/embeddings/
# events), where AQE must decide at runtime. Enforcement is a source
# audit by ENCLOSING FUNCTION: any new broadcast call site fails until
# it is consciously added here with the bound that justifies it.
# ---------------------------------------------------------------------------

#: (module-relative path, enclosing function) for every broadcast hint
#: in the package as of round 11 — each audited metadata-sized in the
#: r10 sweep (BENCH_NOTES "Two sibling audits").
_BROADCAST_ALLOWLIST = {
    ("operators/curation.py", "dsir_score"),
    ("operators/merge.py", "merge_upsert"),
    ("operators/merge.py", "scd2_apply"),
    ("operators/similarity.py", "brute_force_knn"),
    ("operators/skew.py", "distributed_scan"),
    ("plans/analytics.py", "_dow_offsets"),
    ("plans/analytics.py", "forecast_mape"),
    ("plans/analytics.py", "rolling_7d_active_users"),
    ("plans/analytics.py", "seasonal_forecast"),
    ("plans/analytics.py", "seasonal_forecast_mape"),
    ("plans/analytics.py", "weighted_moving_average"),
    ("plans/ann.py", "_sign_bits"),
    ("plans/ann.py", "ann_recall_matrix"),
    ("plans/ann.py", "ivf_knn"),
    ("plans/ann.py", "pq_adc_knn"),
    ("plans/ann.py", "random_projection_knn"),
    ("plans/behavior.py", "audience_overlap_matrix"),
    ("plans/behavior.py", "churn_hazard_table"),
    ("plans/behavior.py", "cohort_ltv"),
    ("plans/behavior.py", "markov_next_event_accuracy"),
    ("plans/dedup.py", "bloom_filter_probe"),
    ("plans/layout.py", "zorder_skipping_stats"),
    ("plans/ml.py", "_assign_sub"),
    ("plans/ml.py", "_assignment"),
    ("plans/ml.py", "_dup_edges_union"),
    ("plans/ml.py", "semdedup_salt_recall"),
    ("plans/relational.py", "cheapest_part_supplier"),
    ("plans/relational.py", "dominant_part_suppliers"),
    ("plans/relational.py", "dormant_rich_customers"),
    ("plans/relational.py", "group_by_expr_nation"),
    ("plans/relational.py", "left_join_nation_region"),
    ("plans/relational.py", "nation_market_share"),
    ("plans/relational.py", "nation_trade_matrix"),
    ("plans/relational.py", "nation_volume_shipping"),
    ("plans/relational.py", "orders_profile"),
    ("plans/relational.py", "part_revenue_concentration"),
    ("plans/relational.py", "price_vs_global_avg"),
    ("plans/relational.py", "product_profit_by_nation"),
    ("plans/relational.py", "returned_item_ranking"),
    ("plans/relational.py", "revenue_by_nation"),
    ("plans/relational.py", "semi_join_region_customers"),
    ("plans/relational.py", "top_revenue_supplier"),
    ("plans/text.py", "corpus_similarity_matrix"),
    ("plans/training.py", "bm25_top_docs"),
    ("plans/training.py", "ccnet_bucket_by_thresholds"),
    ("plans/training.py", "dense_month_status_grid"),
    ("plans/training.py", "sigma_clip_outliers"),
    ("plans/training.py", "source_temperature_weights"),
    ("plans/training.py", "tfidf_top_terms"),
    ("plans/training.py", "tokenizer_vocab_coverage"),
    ("plans/training.py", "unigram_lm_surprisal"),
    ("plans/training.py", "woe_priority_returns"),
    ("plans/training.py", "zscore_order_prices"),
    ("plans/vector.py", "hash_embed_topk"),
    ("plans/vector.py", "int8_quant_error_census"),
    ("plans/vector.py", "knn_bruteforce"),
    ("plans/windows.py", "daily_value_locf"),
    ("plans/windows.py", "mad_order_prices"),
    ("plans/windows.py", "pareto_frontier_orders"),
    ("plans/windows.py", "revenue_share_within_region"),
    # the null-safe join helper carries the same census-sized
    # first/last/third legs (<= |priorities| rows each) the bare
    # site was audited for
    ("plans/windows.py", "window_value_functions.nsjoin"),
}


def test_broadcast_hints_only_at_audited_sites():
    import ast
    import os

    import comperhensive_bigdata_analysis__spark as pkg

    pkg_dir = os.path.dirname(pkg.__file__)
    found = set()
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            # allowlist keys hardcode '/' — normalize OS-native
            # separators so the audit is byte-identical cross-platform
            rel = os.path.relpath(path, pkg_dir).replace(os.sep, "/")
            tree = ast.parse(open(path).read())

            class _V(ast.NodeVisitor):
                def __init__(self):
                    self.stack = []

                def visit_FunctionDef(self, n):
                    self.stack.append(n.name)
                    self.generic_visit(n)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, n):
                    f = n.func
                    hit = False
                    if isinstance(f, ast.Attribute) and f.attr == "broadcast":
                        # only the two audited roots count (r11 ADVICE —
                        # an unrelated .broadcast() method must not
                        # trip the audit): the join hint F.broadcast /
                        # functions.broadcast, and the SparkContext
                        # broadcast-variable path *.sparkContext.broadcast
                        v = f.value
                        hit = (
                            isinstance(v, ast.Name)
                            and v.id in ("F", "functions")
                        ) or (
                            isinstance(v, ast.Attribute)
                            and v.attr == "sparkContext"
                        )
                    elif isinstance(f, ast.Name) and f.id == "broadcast":
                        hit = True
                    if hit:
                        found.add((rel, ".".join(self.stack) or "<module>"))
                    self.generic_visit(n)

            _V().visit(tree)
    new = found - _BROADCAST_ALLOWLIST
    assert not new, (
        f"new explicit broadcast hint site(s) {sorted(new)} — broadcast "
        f"hints are allowed only on metadata-sized relations (never a "
        f"filtered subset of a data-scaling table; let AQE decide). If "
        f"the relation is genuinely bounded, add the site to "
        f"_BROADCAST_ALLOWLIST with the audit note."
    )
    gone = _BROADCAST_ALLOWLIST - found
    assert not gone, (
        f"allowlisted broadcast site(s) {sorted(gone)} no longer exist — "
        f"prune the allowlist so it stays an exact audit inventory"
    )
