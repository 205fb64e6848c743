"""Regenerate PLANS.md — annotated physical-plan snapshots of
representative queries. Run: python tools/gen_plans_doc.py"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from comperhensive_bigdata_analysis__spark import plans  # noqa: E402
from comperhensive_bigdata_analysis__spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

PICKS = {
    "pricing_summary": (
        "Scan-side date filter pushed to parquet; two HashAggregates (partial "
        "map-side combine, final after ONE exchange on the 6-value group key)."
    ),
    "revenue_by_nation": (
        "partial-agg pushdown: lineitem collapses to one decimal partial per "
        "orderkey BELOW the joins, so the joins move ~|orders| rows, not "
        "~|lineitem|; nation broadcast; nation-level re-sum is exact (decimal)."
    ),
    "top_customers": (
        "TakeOrderedAndProject — per-partition heaps, driver merges k rows; "
        "never a global sort."
    ),
    "semi_join_region_customers": (
        "IN-subquery decorrelated to a broadcast LeftSemi join."
    ),
    "corpus_clean_pipeline": (
        "dedup window on md5(text) with an adjacent rn == 1 filter, so "
        "WindowGroupLimit prunes each MAP partition to one row per digest "
        "before the shuffle — a hot boilerplate digest's task is bounded "
        "by the partition count, not the copy mass; quality scoring "
        "map-side; final rollup on (lang, source)."
    ),
    "sessionize_events": (
        "one exchange on user_id, then ordered window passes (lag -> flag -> "
        "running sum) inside the same partitioning."
    ),
    "lsh_band_pairs": (
        "the ANN scale path: bucket keys from sign bits, candidate equality "
        "join on (band, bucket) — never the n^2 pair space — then exact "
        "rescoring of the deduped candidates only."
    ),
    "full_outer_customer_orders": (
        "aggregate-then-join: the fact side collapses to one row per key "
        "BEFORE the full outer join, so the join moves group counts, not "
        "order rows."
    ),
    "train_test_split": (
        "the split tag is a pure map-side md5 expression — NO shuffle "
        "assigns splits; the only exchange is the 3-key aggregation. A "
        "doc's split never depends on cluster layout or RNG state."
    ),
    "tfidf_top_terms": (
        "two hash aggregations (doc-term, then term) + broadcast of the "
        "small df/doc-count sides; top-3 is a per-doc window, never a "
        "global sort."
    ),
    "grouping_sets_revenue": (
        "one Expand (3 grouping sets) feeding a single partial+final "
        "aggregation — 3 report levels for one scan, one shuffle."
    ),
    "corr_stats_lineitem": (
        "six exact decimal moment sums in ONE partial+final aggregation "
        "pass; the float corr/stddev algebra runs on 3 grouped rows."
    ),
    "dup_clusters": (
        "the FINAL labels frame of iterative min-label propagation — each "
        "round behind it was one shuffle + localCheckpoint (lineage cut), "
        "so the plan shown is a checkpoint scan, not a 2^rounds DAG."
    ),
    "funnel_view_click_purchase": (
        "three shrinking per-user aggregations chained by user_id joins — "
        "one partitioning carried through every stage; the final counts "
        "are 1-row broadcasts crossed together."
    ),
    "copurchase_pairs": (
        "basket self-join INSIDE the orderkey partition (shuffle key = "
        "orderkey, never all-pairs across orders), then a hash agg on the "
        "pair key and TakeOrdered(20)."
    ),
    "orders_profile": (
        "ANALYZE in one scan: every per-column stat is an aggregate in a "
        "single HashAggregate; the unpivot (stack/Expand) runs on ONE row."
    ),
    "zscore_order_prices": (
        "the 1-row global-moments aggregate joins the grouped stats via a "
        "broadcast nested loop of one row; z-scores are scalar algebra on "
        "exact decimal sums — no double ever sums across partitions."
    ),
    "upsert_customers": (
        "MERGE as broadcast left-anti + union: the target side is never "
        "shuffled, so CDC cost scales with the update batch, not the table."
    ),
    "gopher_quality_flags": (
        "one exchange on (doc_id, term); doc- and source-level reductions "
        "ride the same partitioning; every rule threshold is an integer "
        "cross-multiplication, so no double division decides a flag."
    ),
    "nation_trade_matrix": (
        "the Q7 shape with lineitem collapsed to (orderkey, suppkey) "
        "partials BELOW the 5-way join; supplier + both nation sides "
        "broadcast, so only orders/customer hash-exchange."
    ),
    "snapshot_diff_orders": (
        "reconciliation as ONE co-partitioned full-outer join — both "
        "snapshots exchange once on the key; the 4-way classification "
        "is a map-side CASE, the rollup a 4-key aggregate."
    ),
    "checksum_orders": (
        "cross-engine fingerprint: md5 row digests folded by XOR / exact "
        "decimal sum / numeric min-max — all fixed-width buffers, so the "
        "whole table reduces in ONE map-side-combined HashAggregate pair "
        "(a string min/max here would demote to SortAggregate)."
    ),
    "merge_event_intervals": (
        "gaps-and-islands on BIGINT epoch-micros: one user_id exchange "
        "feeds both window passes AND both groupBys (partitioning on "
        "user_id satisfies the (user_id, island) clustering) — the only "
        "other exchange is the final sort."
    ),
    "bigram_top_terms": (
        "bigrams built INSIDE the token array (zip_with over two slices): "
        "one text-only scan, explode, partial+final agg, TakeOrdered(40) — "
        "no positional self-join, no global sort."
    ),
    "bitmap_distinct_users": (
        "roaring-style exact distinct: (type, word) bit_or fold with "
        "map-side partial combine — up to 64x fewer shuffled rows than "
        "expand-distinct on locally dense ids; popcount-sum per type."
    ),
    "pagerank_step_parts": (
        "edge build = per-order basket self-join (bounded by basket^2 per "
        "order); rank propagation = one exchange on dst with an exact "
        "BIGINT fixed-point fold; TakeOrdered(20) head — the standard "
        "distributed PageRank layout with deterministic arithmetic."
    ),
    "pareto_frontier_orders": (
        "skyline via a per-(priority, day) CENSUS: day-grain max aggregate "
        "(map-side combined), exclusive prefix-max over ~|days| census rows, "
        "broadcast back — never a range window over raw orders (a 5-value "
        "key with no rank filter would sort ~20% of the table in one task) "
        "and never the quadratic dominance self-join; output is the "
        "frontier only."
    ),
    "corpus_similarity_matrix": (
        "inverted-index cosine: tokens collapse to (source, term) counts "
        "BEFORE the term-keyed pair join; dot products are exact BIGINTs; "
        "the |sources|-row norm table broadcasts."
    ),
    "weighted_moving_average": (
        "weighted frame via fan-out ABOVE the day-grain aggregate (30x "
        "~|days| rows, never raw events); the max-day bound is a "
        "single-row broadcast."
    ),
    "bloom_filter_probe": (
        "mergeable-sketch membership: the seen corpus collapses to a "
        "64-long bit_or aggregate (constant-size regardless of corpus); "
        "the candidate side joins ONLY broadcast relations (filter slots "
        "+ seen digests) — no corpus-to-corpus shuffle anywhere."
    ),
    "pq_adc_knn": (
        "product quantization: one broadcast codeword join, a bounded "
        "per-(vector, subspace) argmin window (16 rows each), then a "
        "broadcast ADC lookup-table join + per-vector sum. At scale the "
        "codes are precomputed at ingest and the scan reads nibbles, "
        "not floats; this is the memory-bounded ANN tier."
    ),
    "countmin_heavy_hitters": (
        "count-min build shuffles at most rows*cols counters no matter "
        "the corpus size (uniform md5 keys, map-side combined); the "
        "probe leg is a broadcast join of the 20-term target list."
    ),
    "unigram_lm_surprisal": (
        "two-pass LM scoring: the vocabulary model aggregates map-side "
        "then broadcasts back over the (doc, term) combine — corpus "
        "volume moves through exactly one keyed shuffle."
    ),
    "semantic_dedup_census": (
        "SemDeDup scale shape: K-row centroid broadcast for assignment, "
        "K-row size table broadcast for the md5 sub-bucket re-split, "
        "then the pair join keyed on (pos, cid, sub) — candidates never "
        "leave a <=48-member bucket, so total pairs are n*cap/2 per "
        "salt, linear in corpus size. r9 SALT DECISION (measured by the "
        "oracled semdedup_salt_recall plan): recall of true "
        "within-cluster dup pairs is 0.494 at 1 salt vs 0.775 at the "
        "2-salt union at sf0.01 (0.163 vs 0.312 at sf0.1) — recall "
        "roughly doubles for ~2x the linear pair cost, so the census "
        "runs SEMDEDUP_SALTS = ('', 'r1') and its oracle derives the "
        "same distinct 2-salt union in SQL."
    ),
    "semantic_dedup_greedy": (
        "same edge pipeline as the census, then a grouped applyInPandas "
        "walk per capped bucket — sequential inside <=48 members, "
        "parallel across every bucket; only edge-participants cross the "
        "Arrow boundary, everyone else never leaves the JVM. Stays at 1 "
        "salt by decision (r9): the keep-first walk needs each vector "
        "in exactly ONE bucket; a 2-salt union would force unbounded "
        "per-cluster groups — the recall cost is the committed "
        "semdedup_salt_recall delta."
    ),
    "shipping_priority_topk": (
        "TPC-H Q3: lineitem collapses to per-order decimal partials "
        "under its ship-date filter BEFORE the joins; segment filter "
        "prunes customer at the scan; TakeOrderedAndProject caps the "
        "answer at 10 rows with per-partition heaps."
    ),
    "brand_quantity_revenue": (
        "TPC-H Q19: the cross-table OR stays above the join, but "
        "Catalyst pushes each side's OR-of-residuals into its parquet "
        "scan (brand/size to part, quantity envelopes to lineitem) — "
        "pinned by test_plan_shapes; at 100 TB that split is the "
        "difference between scanning brands and scanning everything."
    ),
    "copurchase_triangles": (
        "degree-oriented edge-iterator (r7 rewrite): forward-adjacency "
        "arrays attach to each edge under SHUFFLE_HASH joins and the "
        "count is a sum of array_intersect sizes — wedge-scale data is "
        "never exchanged or sorted (the old wedge join moved ~49M rows "
        "per sf0.1 copy and probed 7-11x at 8x data; this shape probes "
        "3.2x)."
    ),
    "sole_blame_suppliers": (
        "TPC-H Q21: both correlated subqueries (EXISTS another "
        "supplier / NOT EXISTS another returning supplier) fold into "
        "ONE per-order profile aggregate joined back on the same "
        "l_orderkey partitioning — two scans of the fact, not three, "
        "and no correlated re-execution."
    ),
    "dominant_part_suppliers": (
        "TPC-H Q20: the per-part total is a window over the "
        "per-(part, supplier) rollup, not a re-aggregation self-join — "
        "Spark has no CTE materialization, so the join spelling would "
        "scan the fact twice; the window keeps one scan + one "
        "l_partkey exchange (pinned by test_plan_shapes)."
    ),
    "nation_market_share": (
        "TPC-H Q8: 7-join star traversed ONCE — share numerator and "
        "denominator are one conditional aggregate; region/nation "
        "(metadata-sized) broadcast, while the filtered part side is "
        "deliberately un-hinted — a fixed fraction of a data-scaling "
        "table, so AQE picks broadcast-vs-shuffle at runtime (r10 "
        "broadcast audit)."
    ),
    "dsir_importance_weights": (
        "DSIR data selection as operators/curation.py's featurize -> "
        "fit -> score over the corpus (target = lang 'en'): the model "
        "is one map-side-combined 64-group aggregate, scoring joins "
        "it back onto (doc, bucket) partials; only the 64-row model "
        "broadcasts."
    ),
    "exact_substr_spans": (
        "ExactSubstr (Lee et al. 2022) as shingle-frequency census + "
        "gaps-and-islands: stride-1 windows keyed by md5 digest (16-byte "
        "shuffle keys, never shingle strings); since r10 the shingle "
        "frame is lazily persisted and the corpus-dup test is a partial-"
        "aggregated digest census + broadcast LEFT SEMI join-back — one "
        "materialized scan, and no stage colocates one digest's mass "
        "(the r9 window-count shape put a hot digest's every row in one "
        "window task; SCALE_PROBE's planted-skew rows price it at "
        "max/p50 ~4 vs ~1.2 for this shape); island merge rides the "
        "per-doc window partitioning."
    ),
    "winnowing_fingerprint_pairs": (
        "MOSS winnowing: char-gram hashes and window minima are all "
        "array expressions inside the scan projection (zero exchanges "
        "until the fingerprint relation exists); since r10 the "
        "fingerprint frame is lazily persisted, the df census is a "
        "partial-aggregated groupBy, and the WINNOW_MAX_DF cap is a "
        "broadcast ANTI join of the tiny over-cap blacklist — so every "
        "key reaching the per-fingerprint sorted doc lists has <= cap "
        "rows and that collect shuffle is uniform by construction "
        "(the r9 window-count shape colocated each fingerprint's full "
        "mass in one window task); cap-bounded pair structs explode "
        "into one pair aggregate — pair mass bounded (27.6x uncapped "
        "control vs ~3x capped at 8x growth); top-k head, never a "
        "global sort."
    ),
    "exact_substr_scrub_census": (
        "the production scrubber driven end-to-end: span-table digest "
        "exchanges + per-doc span collect_list, then the token filter "
        "is a JVM higher-order expression (exists/filter/transform) "
        "inside the scan projection — no Python stage — and the "
        "census is one per-source rollup."
    ),
    "domain_cap_census": (
        "per-source frequency cap: raw mass from a plain map-side-combined "
        "aggregate (the old shared window ranked EVERY row, so no "
        "WindowGroupLimit prune applied); kept set from the salted "
        "two-level top-CAP (operators/skew.salted_top_k) whose worst task "
        "holds <= CAP*32 rows per source; one lazily persisted projection "
        "feeds both legs."
    ),
    "int8_quant_error_census": (
        "quantization eval: the per-dimension scale table is 64 rows "
        "(metadata) and broadcast; the error pass is one broadcast key "
        "join + one map-side-combined aggregate over the component "
        "relation — linear, no windows."
    ),
    "bigram_lm_surprisal": (
        "conditional-LM scoring from one tokenize pass: the (doc, w1, "
        "w2) partial re-aggregates into the bigram model and w1 "
        "marginal; scoring joins by key — the bigram vocabulary is "
        "never broadcast (it grows with corpus diversity)."
    ),
    "ntile_price_quartiles": (
        "exact global NTILE without a global window: range exchange "
        "splits the total order across tasks, local row_number per "
        "range partition, census-sized offsets broadcast back, bucket "
        "= integer formula of (rank, count). The one-task whole-table "
        "sort this replaces is SCALE_PROBE's [global-window] negative "
        "control (5.03x vs 1.33x at 8x)."
    ),
    "ccnet_quality_buckets": (
        "per-language surprisal terciles via distributed_scan — "
        "language is the canonical hot key (English ~ half a web "
        "corpus) and ntile has no rank filter, so a bare lang window "
        "gets no WindowGroupLimit prune and colocates the hot "
        "language in one task; the scan's range partitioning splits "
        "it while the offsets stay census-sized."
    ),
    "top_terms_per_source": (
        "per-source top-3 by the salted two-level rank: local "
        "rank-filtered windows (WindowGroupLimit prunes map-side) "
        "within (source, salt), exact re-rank over <= 3*32 survivors "
        "per source — never a whole-vocabulary array buffer or an "
        "unpruned per-source sort."
    ),
}


def main() -> None:
    spark = get_spark("plansdoc", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical-plan snapshots of representative queries",
        "",
        "Generated by `.explain('formatted')` at sf0.001 (plan shapes are scale-independent;",
        "AQE adjusts sizes at runtime). Each snapshot states why the shape survives 100 TB.",
        "Regenerate with `python tools/gen_plans_doc.py`.",
        "",
    ]
    for name, note in PICKS.items():
        df = plans.QUERIES[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        out += [f"## {name}", "", note, "", "```", tree.strip(), "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
