"""Physical-plan quality gates: the properties that make these plans
survive a 100x scale-up must not regress.

Checks run against the optimizer's formatted explain output, pre-execution
(AQE may re-plan at runtime, but only to something at least as good —
these assertions pin the static plan's contract)."""

from __future__ import annotations

import pytest

from clickhouse_github_log_importer_spark.plans.queries import REGISTRY


def _reset_plan_state(spark):
    """Plan-shape assertions must not depend on test order: a cached
    relation leaked by an earlier test rewrites `Scan parquet` into
    `InMemoryTableScan`, and a leaked conf flips join strategies. Clear
    both before every gate."""
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.fixture(autouse=True)
def _pristine_plan_state(spark):
    _reset_plan_state(spark)
    yield


def explain(spark, name: str, sf_dir: str) -> str:
    df = REGISTRY[name].spark(spark, sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def tree(p: str) -> str:
    """Operator-tree section of a formatted explain (each node once)."""
    return p.split("\n\n")[0]


def test_q1_filter_pushdown_and_pruning(spark, sf_smoke):
    p = explain(spark, "q1_pricing_summary", sf_smoke)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # projection pruned to exactly the 7 needed columns at the scan
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    for col in ("l_quantity", "l_returnflag", "l_shipdate"):
        assert col in read
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_q5_broadcasts_all_dims(spark, sf_smoke):
    p = explain(spark, "q5_region_volume", sf_smoke)
    assert p.count("BroadcastHashJoin") >= 4  # nation/region/supplier/customer
    assert "SortMergeJoin" not in p  # the fact table must never sort-merge here


def test_user_activity_single_pass(spark, sf_smoke):
    # the reference shape is 5 scans + 4 joins; our plan must be ONE scan,
    # two aggregation exchanges, top-K without global sort
    p = explain(spark, "user_activity", sf_smoke)
    assert "Join" not in p
    assert tree(p).count("Scan parquet") == 1
    assert tree(p).count("Exchange") == 2
    assert "TakeOrderedAndProject" in p


def test_topk_uses_take_ordered(spark, sf_smoke):
    for name in ("most_used_prop", "top_users_by_value", "top_brands_by_revenue"):
        p = explain(spark, name, sf_smoke)
        assert "TakeOrderedAndProject" in p, name
        # LIMIT+ORDER BY must not global-sort
        assert "\n   Sort " not in p, name


#: queries whose plans legitimately contain Arrow-batched pandas UDFs —
#: the vectorized scoring paths (ANN dot products / LSH sketches / SimHash
#: bit-majority folds: a column-expression form is d (or bits) interpreted
#: CodegenFallback HOF ops per row, measured 3-6x slower even at sf0.01 and
#: linear-in-rows at scale) plus the multimodal binary codecs. Everything
#: reference-parity stays pure JVM codegen.
DECLARED_ARROW = (
    "multimodal_",
    "ann_",
    # chunked packed-bitmap containers: the per-(key, bucket) packbits fold
    # and the byte-AND popcount / OR-merge are Arrow-batched numpy by
    # design (operators/bitmaps.py)
    "bitmap_audience_overlap",
    "bitmap_state_rollup",
    "simhash_signatures",
    "embedding_near_dup_pairs",
    "cross_modal_near_dups",
    # distributed Lloyd's: broadcast-centroid assignment is an Arrow-batched
    # int64 matmul by design (clustering.py kmeans_fit) — the column-expr
    # form is k*d CodegenFallback HOF ops per row
    "kmeans_",
    "semantic_dedup_keepers",
    "cluster_keepers",
    # restart-automaton sequenceCount: the per-slice transition-function
    # tabulation and the per-user fold are Arrow group-maps by design —
    # the function-composition operator DataFrame algebra can't express
    "sequence_count_compiled",
    # timed restart automaton: same slice-level tabulation, piecewise
    # transfer functions (breaks + per-piece outcomes) — Arrow by design
    "sequence_count_timed",
    # adjacency-aware counting DFA: per-slice map composition is the
    # same Arrow group-map shape as the restart automaton
    "sequence_count_adjacent",
    # the exact-integer Gram pass is ONE batched numpy kernel by design
    # (operators/pca.py covariance_cells; gated separately for shape)
    "embedding_covariance",
    "embedding_pca_power",
    # the ANN leg scores with the Arrow int64-matmul cosine kernel
    "hybrid_rrf_search",
)


@pytest.fixture(scope="module")
def registry_plans(spark, sf_smoke) -> dict[str, str]:
    """Every registry entry's formatted explain, built once for the scans
    below (built at module scope, so it resets the plan state itself)."""
    _reset_plan_state(spark)
    return {name: explain(spark, name, sf_smoke) for name in sorted(REGISTRY)}


def test_no_python_in_hot_paths(registry_plans):
    # every query except the declared Arrow paths must stay JVM-side
    # (no row-at-a-time or batched Python eval anywhere)
    for name in sorted(REGISTRY):
        if name.startswith(DECLARED_ARROW):
            continue
        p = registry_plans[name]
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name
        assert "MapInPandas" not in p, name


def test_no_row_python_anywhere(registry_plans):
    # even the declared Arrow paths must never fall back to row-at-a-time
    # Python eval
    for name in sorted(REGISTRY):
        p = registry_plans[name]
        assert "BatchEvalPython" not in p, name


def test_multimodal_uses_arrow_batches(spark, sf_smoke):
    p = explain(spark, "multimodal_features", sf_smoke)
    assert "MapInPandas" in p  # Arrow-batched, by design


def test_parse_layer_is_single_stage(spark, tmp_path):
    from tests.fixtures import events, write_gz

    from clickhouse_github_log_importer_spark.operators.parsers import (
        project_events,
        read_raw,
    )

    path = str(tmp_path / "x.json.gz")
    write_gz(path, events(), corrupt_lines=0)
    df = project_events(read_raw(spark, path))
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = qe.explainString(mode)
    # one scan, zero shuffles, zero python: pure codegen projection
    assert p.split("\n\n")[0].count("Scan json") == 1
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_watermark_join_broadcasts_agg_side(spark, sf_smoke):
    p = explain(spark, "user_watermarks", sf_smoke)
    assert "BroadcastHashJoin" in p


def test_q4_semi_join_no_duplication(spark, sf_smoke):
    # EXISTS must plan as a LEFT SEMI join (no row duplication, no
    # post-join distinct) with the date residual riding the equi-key
    p = explain(spark, "q4_late_shipments", sf_smoke)
    assert "LeftSemi" in p
    assert "HashAggregate" in p
    # lineitem scan pruned to the two columns the semi join needs
    reads = [l for l in p.splitlines() if "ReadSchema" in l]
    assert any("l_orderkey" in r and "l_shipdate" in r and "l_quantity" not in r for r in reads)


def test_q16_anti_join_broadcasts_exclusion(spark, sf_smoke):
    # NOT IN over the tiny negative-balance supplier set must broadcast,
    # never shuffle lineitem for the exclusion
    p = explain(spark, "q16_supplier_diversity", sf_smoke)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_q17_threshold_join_broadcasts(spark, sf_smoke):
    # the decorrelated per-part threshold is brand-filtered (tiny): it must
    # come back as a broadcast, and the brand filter must reach both
    # lineitem passes via the broadcasted part keys
    p = explain(spark, "q17_small_quantity_revenue", sf_smoke)
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_q2_decorrelated_min_broadcasts(spark, sf_smoke):
    # the per-part regional min must come back as a broadcast equality
    # join (the decorrelated correlated-MIN), dims all broadcast, top-100
    # via TakeOrdered — no sort-merge, no cartesian
    p = explain(spark, "q2_min_cost_supplier", sf_smoke)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "Cartesian" not in p
    assert "TakeOrderedAndProject" in p


def test_q7_q9_dims_broadcast(spark, sf_smoke):
    # two-role nation joins and the derived-supply join must never plan a
    # cartesian; every dim side broadcasts
    for name in ("q7_nation_trade_volume", "q9_product_profit"):
        p = explain(spark, name, sf_smoke)
        assert "BroadcastHashJoin" in p, name
        assert "Cartesian" not in p and "BroadcastNestedLoopJoin" not in p, name


def test_q8_semi_join_no_duplication(spark, sf_smoke):
    # region membership is a LEFT SEMI (a customer matching twice must not
    # duplicate revenue rows); the part filter broadcasts into lineitem
    p = explain(spark, "q8_market_share", sf_smoke)
    assert "LeftSemi" in p
    assert "BroadcastHashJoin" in p
    assert "Cartesian" not in p


def test_q11_scalar_threshold_broadcast(spark, sf_smoke):
    # group-vs-global: the one-row threshold side must broadcast (nested
    # loop over a single row), the national agg must semi-join, and
    # lineitem must not sort-merge anywhere
    p = explain(spark, "q11_important_parts", sf_smoke)
    assert "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_q20_nested_semi_joins(spark, sf_smoke):
    # both nesting levels plan as LEFT SEMI: parts into lineitem,
    # qualifying suppliers into the supplier dim — no duplication, no
    # distinct needed
    p = explain(spark, "q20_excess_suppliers", sf_smoke)
    assert p.split("\n\n")[0].count("LeftSemi") == 2
    assert "SortMergeJoin" not in p


def test_q21_exists_and_not_exists(spark, sf_smoke):
    # EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, both with the
    # supplier-inequality residual riding the order-key equi-join; top-100
    # via TakeOrdered
    p = explain(spark, "q21_sole_blame_suppliers", sf_smoke)
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "Cartesian" not in p
    assert "TakeOrderedAndProject" in p


def test_ivf_assignment_is_projection(spark, sf_smoke):
    # the inverted-file build must be a shuffle-free projection (Arrow-
    # batched codebook matmul): one corpus scan, NO join anywhere —
    # exchanges only for the occupancy groupBy
    p = explain(spark, "ann_ivf_lists", sf_smoke)
    assert "Join" not in p
    assert tree(p).count("Scan parquet") == 1
    assert "ArrowEvalPython" in p  # the declared vectorized assignment


def test_ivf_search_broadcasts_probes(spark, sf_smoke):
    # probe side (queries x nprobe) broadcasts; candidates join on list_id
    p = explain(spark, "ann_ivf_topk", sf_smoke)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_decontamination_broadcasts_eval_side(spark, sf_smoke):
    # the benchmark side must broadcast: decontaminating a 100 TB corpus
    # has to be one map-side join over training shingles
    p = explain(spark, "decontamination_report", sf_smoke)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in tree(p)


def test_graph_and_temporal_queries_never_nested_loop(spark, sf_smoke):
    # iterative/band/graph plans must stay equi-join shaped — a nested
    # loop or cartesian over DATA here is quadratic at scale. The only
    # sanctioned nested loops are triangle_summary's two crossJoins of
    # single-row aggregates (1x1 by construction).
    allowed_bnlj = {"coactivity_triangles": 2}
    for name in (
        "pagerank_user_item",
        "coactivity_triangles",
        "coactivity_clustering",
        "coactivity_degrees",
        "concurrent_event_counts",
        "purchase_attribution",
    ):
        p = explain(spark, name, sf_smoke)
        assert tree(p).count("BroadcastNestedLoopJoin") <= allowed_bnlj.get(
            name, 0
        ), name
        assert "CartesianProduct" not in tree(p), name


def test_retention_cohorts_single_scan_no_join(spark, sf_smoke):
    # cohort week must come from a window over the SAME distinct pass —
    # a second fact-table scan or a join here doubles the 100 TB cost
    p = explain(spark, "retention_cohorts", sf_smoke)
    assert tree(p).count("Scan parquet") == 1
    assert "Join" not in p


def test_funnel_sliced_chain_scan(spark, sf_smoke):
    # (r5) the strict-order funnel rides the shared RANGE-SLICED chain
    # scan — a mega-user splits across tasks instead of serializing one
    # whole-partition window task (skew probe measured 1.8x before).
    # The only join allowed is the broadcast of the tiny carry table.
    p = explain(spark, "event_funnel_conversion", sf_smoke)
    low = p.lower()
    assert "cartesianproduct" not in low
    assert "sortmergejoin" not in low
    assert "shuffledhashjoin" not in low
    assert "broadcastnestedloopjoin" not in low
    assert "hashpartitioning(_slice" in low.replace(" ", "")
    assert tree(p).count("Scan parquet") <= 2  # main + carry subtree


def test_transitions_one_shuffle(spark, sf_smoke):
    p = explain(spark, "event_type_transitions", sf_smoke)
    assert tree(p).count("Scan parquet") == 1
    assert "Join" not in p


def test_gini_single_scan_histogram_window(spark, sf_smoke):
    # Gini runs over the per-count activity HISTOGRAM, never the user dim:
    # one fact scan, no joins, exactly one Window — and that window sorts
    # the tiny histogram (post-aggregation), not users or events. A
    # regression to a join-based or user-level-window plan is a global
    # sort of the user dimension at 100 TB.
    p = explain(spark, "user_activity_gini", sf_smoke)
    assert tree(p).count("Scan parquet") == 1
    assert "Join" not in p
    assert tree(p).count("Window") == 1
    assert tree(p).count("Exchange") <= 3


def test_minhash_report_no_cartesian(spark, sf_smoke):
    # estimator audit joins candidates back to signatures/shingles on
    # equi-keys only — any nested loop over doc pairs is quadratic
    p = explain(spark, "minhash_estimate_report", sf_smoke)
    assert "CartesianProduct" not in tree(p)
    assert "BroadcastNestedLoopJoin" not in tree(p)


def test_rank_profile_range_partitioned_not_serial(spark, sf_smoke):
    # percent_rank/ntile per event_type must NOT plan as a window hash-
    # partitioned by the low-cardinality type column alone — that caps
    # parallelism at the number of types and serializes each type's sort
    # onto one task (measured 4x growth on 3x data before the re-plan).
    # The distributed form slices by deterministic quantile buckets
    # (driver literals — see ranking.slice_expr) and broadcasts a tiny
    # prefix-offset table back.
    p = explain(spark, "event_rank_profile", sf_smoke)
    low = p.lower()
    assert "broadcasthashjoin" in tree(p).lower()  # offsets join back small
    # the per-row rank window must be keyed by the range slice (full
    # parallelism); the only event_type-keyed windows run over the tiny
    # post-aggregation counts table
    assert "hashpartitioning(_slice" in low.replace(" ", "")


def test_packing_prefix_sum_range_partitioned(spark, sf_smoke):
    # the per-stratum token cumsum must run as the distributed prefix
    # sum (deterministic quantile slices + offset table), never a bare
    # strata-keyed window — strata are languages/domains, often a
    # handful, and a single-task cumsum of a 100 TB stratum never
    # finishes
    p = explain(spark, "sequence_packing_plan", sf_smoke)
    low = p.lower()
    assert "hashpartitioning(_slice" in low.replace(" ", "")


def test_source_cap_two_phase_sliced(spark, sf_smoke):
    # the per-source cap must rank within (slice, source) first — a bare
    # source-keyed window over raw docs serializes each source's sort;
    # the final exact window only ever sees <= cap x slices survivors
    p = explain(spark, "source_capped_sample", sf_smoke)
    low = p.lower().replace(" ", "")
    assert "hashpartitioning(_slice" in low
    assert tree(p).count("Scan parquet") == 1


def test_trailing_sum_no_bounded_sliding_range_frame(spark, sf_smoke):
    # the trailing 7-day sum must never plan a bounded sliding RANGE
    # frame — Spark re-evaluates that frame in full per row (no
    # retraction): O(n x frame) per key, measured 241x on a mega-user.
    # The linear shape is incremental unbounded-range cumsum + as-of
    # prefix difference.
    # (r5) and the linear pass itself must be SLICED, not
    # Window.partitionBy(user): the skew probe measured the
    # partition-window form at 2.65x on a 50%-of-log mega-user. The
    # sliced form shows up as _slice-keyed window exchanges feeding
    # slice-local rows-frame scans.
    p = explain(spark, "user_trailing_7d_value", sf_smoke)
    low = p.lower().replace(" ", "")
    assert "specifiedwindowframe(rangeframe,-" not in low
    assert "hashpartitioning(_slice" in low


def test_bm25_narrow_scan_broadcast_stats(spark, sf_smoke):
    # per-doc tf/dl must be a narrow projection (no explode -> no
    # Generate), corpus stats one broadcast 1-row agg, top-k a
    # per-partition heap — the scale contract of operators/bm25.py
    p = tree(explain(spark, "bm25_keyword_search", sf_smoke))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastExchange" in p
    assert "Generate" not in p
    assert p.count("Scan parquet") == 2  # doc side + stats side only


def test_cms_preaggregated_broadcast_probe(spark, sf_smoke):
    # the count-min grid must build from PRE-AGGREGATED per-key counts
    # (one hash shuffle on user_id feeding both the cells and the probe
    # top-k), the depth fan-out must Generate AFTER that aggregation,
    # and the probe side must reach the cells as a broadcast — never a
    # shuffled join of the full grid
    p = tree(explain(spark, "heavy_hitters_cms", sf_smoke))
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") == 1
    assert p.count("Generate") == 2  # cells + probecells depth fan-outs
    assert p.count("Scan parquet") <= 2


def test_hybrid_rrf_fusion_stays_tiny(spark, sf_smoke):
    # both retrieval legs reduce to top-k lists BEFORE fusing: the plan
    # must show per-partition heap top-k (TakeOrdered) feeding the
    # fusion, and the only nested-loop joins allowed are the two 1-row
    # corpus-stat broadcasts inside the legs (bm25 stats + query vec) —
    # never a nested loop or cartesian over base tables
    p = tree(explain(spark, "hybrid_rrf_search", sf_smoke))
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastNestedLoopJoin") <= 2
    assert p.count("SortMergeJoin") <= 1  # the <=15 x <=15 full outer
    assert p.count("Scan parquet") <= 4


def test_chunk_plan_no_shuffle(spark, sf_smoke):
    # chunking is pure per-row explode/slice work: any Exchange or Join
    # would mean the plan regressed off the linear scan contract
    full = explain(spark, "doc_chunk_plan", sf_smoke)
    p = tree(full)
    assert "Generate" in p  # the chunk-index explode
    assert "Join" not in p
    # the only allowed exchange is _spread's local-parallelism
    # round-robin (no-op at cluster scale) — never a hash/range shuffle
    assert p.count("Exchange") <= 1
    assert "hashpartitioning" not in full.lower()
    assert "rangepartitioning" not in full.lower()


def test_bloom_screen_joins_all_broadcast(spark, sf_smoke):
    # the corpus side must never shuffle for a join: the k position
    # semi-joins and the exact-audit join all broadcast the tiny side
    p = tree(explain(spark, "bloom_contamination_report", sf_smoke))
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    assert "BroadcastHashJoin" in p


def test_value_histogram_broadcast_stats(spark, sf_smoke):
    # global min/max must reach the bin projection as a 1-row broadcast,
    # never a sort-merge join or a second full-scan shuffle
    p = tree(explain(spark, "value_histogram", sf_smoke))
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_window_funnel_sliced_linear_fold(spark, sf_smoke):
    # the r5 rework: EXACT windowFunnel semantics as ONE RANGE-SLICED
    # segmented scan (cascaded local windows + tiny composed carry),
    # never the (signups x clicks) per-user pair expansion (O(k^2) on a
    # mega-user) and never one serial Window partition per user (2.3x
    # skew on a 50%-of-log user). The only join allowed is the broadcast
    # of the carry table.
    p = explain(spark, "window_funnel_levels", sf_smoke)
    low = p.lower()
    assert "cartesianproduct" not in low
    assert "broadcastnestedloopjoin" not in low
    assert "sortmergejoin" not in low
    assert "shuffledhashjoin" not in low
    assert "hashpartitioning(_slice" in low.replace(" ", "")
    # static plan shows the carry subtree separately: main + carry path
    assert tree(p).count("Scan parquet") <= 2


def test_gap_fill_explodes_after_aggregation(spark, sf_smoke):
    # the hour grid must be generated from the per-(type,hour) aggregate
    # (time-bounded), not from raw events: exactly one Generate, fed by
    # an aggregate, and the fill join joins two aggregated sides
    p = tree(explain(spark, "gap_filled_hourly_counts", sf_smoke))
    assert p.count("Generate") == 1
    assert "CartesianProduct" not in p


def test_max_concurrent_sweep_sliced_prefix_scan(spark, sf_smoke):
    # (r5) the +1/-1 boundary sweep's running sum must ride the
    # range-sliced prefix scan: a bare event_type-keyed window caps
    # parallelism at the type cardinality (5) and serializes each
    # type's 100 TB timeline onto one task. Only equi-joins (the tiny
    # carry broadcast) are allowed.
    p = explain(spark, "max_concurrent_intervals", sf_smoke)
    low = p.lower()
    assert "cartesianproduct" not in low
    assert "broadcastnestedloopjoin" not in low
    assert "hashpartitioning(_slice" in low.replace(" ", "")


def test_interval_coverage_sliced_no_self_join(spark, sf_smoke):
    # (r5) the strict-predecessor running max must come from the
    # query-row idiom on the sliced scan — never a self-join of events
    # against events (quadratic on dense timelines) and never a bounded
    # sliding RANGE frame (re-evaluated in full per row). The offsets
    # join is AQE-chosen (no forced broadcast: the carry is O(users)),
    # but must stay an equi-join.
    p = explain(spark, "user_interval_coverage", sf_smoke)
    low = p.lower()
    assert "cartesianproduct" not in low
    assert "broadcastnestedloopjoin" not in low
    assert "specifiedwindowframe(rangeframe,-" not in low.replace(" ", "")
    assert "hashpartitioning(_slice" in low.replace(" ", "")


def test_ngram_lm_scoring_joins_broadcast(spark, sf_smoke):
    # the bigram/unigram count tables are capped at 128^2 / 128 rows by
    # construction — scoring must plan as broadcast joins over the token
    # stream (map-side, no shuffle of the 100 TB pair stream), exactly
    # like the DSIR bucket tables
    p = explain(spark, "ngram_lm_fluency", sf_smoke)
    low = tree(p).lower()
    assert low.count("broadcasthashjoin") >= 2
    assert "sortmergejoin" not in low
    assert "cartesianproduct" not in low


def test_kmv_setops_bounded_state(spark, sf_smoke):
    # sketch construction must stay bounded-memory: k-smallest via
    # streaming row_number windows (never a collected set), and the only
    # unkeyed join is the 1-row exact-counts broadcast
    p = explain(spark, "kmv_set_operations", sf_smoke)
    low = tree(p).lower()
    assert "collect_set" not in low and "collect_list" not in low
    assert "cartesianproduct" not in low
    # the only nested loop is the 1-row exact-counts broadcast (the
    # accepted 1-row-aggregate crossJoin pattern); at runtime the
    # persisted flags frame collapses the two static scan branches
    assert low.count("broadcastnestedloopjoin") <= 1
    assert low.count("scan parquet") <= 2


def test_bitmap_overlap_no_cartesian_wide_rows(spark, sf_smoke):
    # the container pair join must be an equi-join on the bucket id —
    # never a cartesian of the container tables — and the only
    # nested-loop join allowed is the tiny per-key totals spine
    # (#keys x #keys rows, data-size-independent)
    p = tree(explain(spark, "bitmap_audience_overlap", sf_smoke))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # the tiny totals spine
    # the bucket pair join and the spine<-ands join both broadcast
    assert p.count("BroadcastHashJoin") == 2
    # distinct before the containers: the id stream is deduped with
    # map-side combine (partial + final HashAggregate), not collected
    assert "HashAggregate" in p


def test_edit_distance_blocked_equi_join(spark, sf_smoke):
    # the ER pair expansion must happen INSIDE prefix blocks (equi-join
    # on blk) with the >64-member guard applied before it; a cartesian
    # or nested-loop join here would be the all-pairs trap
    p = explain(spark, "edit_distance_near_pairs", sf_smoke)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "levenshtein" in p.lower()
    assert "TakeOrderedAndProject" in p  # top-20, never a global sort


def test_weighted_median_sliced_prefix_over_histogram(spark, sf_smoke):
    # the cumulative weight must ride the range-sliced prefix scan OVER
    # THE POST-AGGREGATION HISTOGRAM (slice-local windows + broadcast
    # offsets), never one serial window partition per flag over raw
    # rows, and the 3-row totals must come back as a broadcast
    p = tree(explain(spark, "weighted_median_price", sf_smoke))
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2  # offsets + totals
    assert "_slice" in p or "Window" in p


def test_moment_reductions_single_shuffle(spark, sf_smoke):
    # the exact-integer-moment stats: one map-side-combined shuffle on
    # event_type, no join (correlation) / only the 1-row pivot collapse
    # (welch) — and all arithmetic JVM-side
    p = tree(explain(spark, "value_hour_correlation", sf_smoke))
    assert p.count("Scan parquet") == 1
    assert "Join" not in p
    assert p.count("Exchange") <= 2
    p2 = explain(spark, "welch_ttest_values", sf_smoke)
    assert "CartesianProduct" not in p2
    assert "ArrowEvalPython" not in p2 and "BatchEvalPython" not in p2


def test_ema_fold_is_jvm_aggregate(spark, sf_smoke):
    # (r6) the EMA affine segmented scan: per-(user, hour) JVM
    # aggregate() folds compose per user, so NO task ever holds one
    # user's whole history (the r5 shape's skew-2.95 mega-user
    # straggler). Still no window, no join, no Python — two keyed
    # aggregation exchanges: (user, bkt) then user.
    p = explain(spark, "ema_user_value", sf_smoke)
    assert "Join" not in tree(p)
    assert "Window" not in tree(p)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert tree(p).count("Exchange") <= 2
    # the calendar segmentation is present: first aggregate keyed by
    # (user_id, bkt), and the whole-history collect is gone
    low = p.lower().replace(" ", "")
    assert "bkt" in low


def test_moving_sum_capped_sliced_prefix(spark, sf_smoke):
    # (r6) groupArrayMovingSum saturation contract: the per-user array
    # collect must sit BEHIND the rank<=cap filter computed by the
    # range-sliced distributed ranking (composite (user, ts) slices) —
    # never a bare per-user window, never an uncapped whole-history
    # collect. The offsets join is AQE-chosen but must stay equi.
    p = explain(spark, "user_moving_sum_arrays", sf_smoke)
    low = p.lower()
    assert "cartesianproduct" not in low
    assert "broadcastnestedloopjoin" not in low
    assert "hashpartitioning(_slice" in low.replace(" ", "")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_vocab_growth_checkpoint_spine_broadcast(spark, sf_smoke):
    # both curve joins must broadcast the <=40-row checkpoint spine; the
    # token stream shuffles only for its keyed aggregations
    p = tree(explain(spark, "vocab_growth_curve", sf_smoke))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_lttb_fold_jvm_bounded(spark, sf_smoke):
    # the LTTB bucket walk must be the single-row JVM aggregate() fold
    # over the bounded nested array: no Python eval, and the only
    # nested-loop joins are the 1-row n / first-last broadcasts
    p = explain(spark, "lttb_downsample_hourly", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_quantile_state_sliced_histogram(spark, sf_smoke):
    # (r6) the quantile rollup's cumulative pass runs over the MERGED
    # per-day histogram (domain-bounded), rides the range-sliced prefix
    # scan, and never touches Python or a fact-table self-join
    p = explain(spark, "quantile_state_rollup", sf_smoke)
    low = p.lower()
    assert "cartesianproduct" not in low
    assert "broadcastnestedloopjoin" not in low
    assert "sortmergejoin" not in low
    assert "hashpartitioning(_slice" in low.replace(" ", "")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # main cum subtree + prefix-scan carry subtree + totals subtree each
    # show the (column-pruned, map-side-combined) histogram build in the
    # static plan; runtime exchange reuse dedupes them (gated below in
    # test_prefix_scan_runtime_exchange_reuse)
    assert tree(p).count("Scan parquet") <= 3


def test_sequence_match_sliced_chain(spark, sf_smoke):
    # (r6) sequenceMatch must ride the sliced chain scan + sliced running
    # max: no per-user serial window, no events x events self-join; the
    # only nested-loop join is the final two-1-row-aggregates cross
    for name in ("sequence_match_pattern", "sequence_match_min_gap"):
        p = explain(spark, name, sf_smoke)
        low = p.lower()
        assert "sortmergejoin" not in low, name
        assert "hashpartitioning(_slice" in low.replace(" ", ""), name
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, name


def test_multiple_regression_single_shuffle(spark, sf_smoke):
    # (r6) exact normal-equation OLS: every Gram/moment sum reduces in
    # ONE map-side-combined shuffle on event_type; the Cramer solve is
    # a projection — no join, no window, no Python anywhere
    p = tree(explain(spark, "value_multiple_regression", sf_smoke))
    assert p.count("Scan parquet") == 1
    assert "Join" not in p and "Window" not in p
    assert p.count("Exchange") <= 2
    full = explain(spark, "value_multiple_regression", sf_smoke)
    assert "ArrowEvalPython" not in full and "BatchEvalPython" not in full


def test_spearman_rank_joins_broadcast(spark, sf_smoke):
    # (r6) both rank maps (24-row hour marginal; domain-bounded value
    # marginal) must join the joint histogram as broadcasts — the fact
    # stream shuffles exactly once into the joint cells, and nothing
    # row-scaled ever sort-merges or goes cartesian
    p = explain(spark, "spearman_value_hour", sf_smoke)
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_grouping_sets_one_expand_all_broadcast(spark, sf_smoke):
    # (r6) GROUPING SETS = ONE Expand + one aggregation exchange, never
    # four scans; both dimension joins broadcast
    p = tree(explain(spark, "grouping_sets_volume", sf_smoke))
    assert p.count("Expand") == 1
    assert p.count("Scan parquet") == 3  # customer + nation + region, once
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_session_window_native_partial_agg(spark, sf_smoke):
    # (r6) the built-in session_window path: Spark's MergingSessions
    # with a PARTIAL HashAggregate before the user exchange (map-side
    # session pre-merge), one scan, no Python
    p = tree(explain(spark, "user_sessions_native", sf_smoke))
    assert "MergingSessions" in p
    assert p.count("Scan parquet") == 1
    assert p.count("Exchange") == 1
    full = explain(spark, "user_sessions_native", sf_smoke)
    assert "ArrowEvalPython" not in full and "BatchEvalPython" not in full


def test_sequence_next_node_broadcast_no_window(spark, sf_smoke):
    # (r6) both chain hops are struct-min AGGREGATES (map-side
    # combined), never per-user windows, and the first-click table
    # joins back as a broadcast — no row-scaled sort-merge join
    p = tree(explain(spark, "sequence_next_node", sf_smoke))
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_series_stats_reduce_before_pack(spark, sf_smoke):
    # (r6) the calendar-bounded series family: the fact stream reduces
    # map-side to the hourly histogram; consumer branches re-print the
    # scan statically but share its Exchange (runtime reuse gated
    # below). No Python, no cartesian.
    for name in (
        "hourly_autocorrelation",
        "hourly_outliers_tukey",
        "hourly_period_strength",
    ):
        p = explain(spark, name, sf_smoke)
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, name
        assert "CartesianProduct" not in p, name


def _executed(spark, name: str, sf_dir: str) -> str:
    df = REGISTRY[name].spark(spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_series_stats_runtime_exchange_reuse(spark, sf_smoke):
    # (r6, measured) the static plan prints the histogram scan+shuffle
    # once per consumer branch — the property that makes that safe at
    # 100 TB is AQE's RUNTIME exchange reuse collapsing the identical
    # aggregation exchanges to one execution. Persisting instead was
    # 1.4-2x slower at x30 (materialization barrier + store write), so
    # the contract is pinned here on the executed plan, not on a cache.
    # hourly_autocorrelation is exempt: it consumes the zero-filled
    # series ONCE, so its only repetition is the span-bounds pass vs
    # the main pass (column-pruned differently, hence not reusable) —
    # the same two-pass cost every bounds_df scan in the repo accepts.
    for name in (
        "hourly_outliers_tukey",
        "hourly_period_strength",
        "spearman_value_hour",
    ):
        assert "ReusedExchange" in _executed(spark, name, sf_smoke), name


def test_prefix_scan_runtime_exchange_reuse(spark, sf_smoke):
    # (r6, measured) prefix_sum's two passes both derive from the same
    # slice-local window, so their upstream exchange is identical and
    # runs ONCE at runtime — the reason the histogram build in
    # weighted-median / MWU / KS / the quantile rollup is not a
    # double (or quadruple) scan despite the static plan's repetition
    for name in (
        "weighted_median_price",
        "mann_whitney_u_values",
        "kolmogorov_smirnov_values",
        "quantile_state_rollup",
        # strict_order funnel: the signup/click/purchase branches all
        # filter the SAME ranked() output, so the ranker's slice-window
        # exchange is identical across them and executes once
        "window_funnel_strict_order",
        # equi-depth histogram: prefix_sum's two passes over the value
        # histogram share its aggregation exchange
        "value_equidepth_histogram",
    ):
        assert "ReusedExchange" in _executed(spark, name, sf_smoke), name


def test_strict_order_funnel_sliced_rank_joins(spark, sf_smoke):
    # (r6) strict_order windowFunnel: per-user sequence ranks must come
    # from the range-sliced two-pass ranker (every Window keyed by the
    # slice column — a mega-user's timeline never sorts on one task),
    # and adjacency must be hash equi-joins on (user, rank) — unique
    # keys, uniform by construction — never a cartesian or a
    # whole-user-partition window.
    p = explain(spark, "window_funnel_strict_order", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    low = p.lower().replace(" ", "")
    assert "hashpartitioning(_slice" in low
    # the mega-user hazard is a row_number window over the RAW stream
    # keyed by user alone: every windowspecdefinition that orders by the
    # raw (ts_us, event_id) pair must lead with the slice column (the
    # carry/offset windows order by _slice over the tiny per-slice
    # table, so they are keyed differently and excluded by the order
    # key). Measured backstop: SKEW_PROBE ratio 0.98 on a 50%-of-log
    # user.
    import re

    raw_windows = [
        m.group(1)
        for m in re.finditer(r"windowspecdefinition\((\w+)#[^)]*ts_us#", p)
    ]
    assert raw_windows and all(c == "_slice" for c in raw_windows), raw_windows


def test_sparkbar_reduces_before_render(spark, sf_smoke):
    # (r6) sparkbar: the raw stream must collapse map-side to the
    # (type, hour) histogram, and everything after (bucket fold, dense
    # grid, vmax, glyph render) must be ONE linear chain over type x 24
    # cells — a single parquet scan in the static plan, no dense-grid
    # self-join, no separate vmax branch. The span bounds ride a 1-row
    # broadcast (BroadcastNestedLoop, never CartesianProduct).
    p = explain(spark, "hourly_sparkbar_by_type", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    # 2 static scans = the accepted bounds_df two-pass: the span
    # (min/max hour) branch prunes to a narrower scan schema than the
    # histogram branch, so its exchange is legitimately different (no
    # runtime reuse) — but it is a column-pruned min/max pass, the same
    # cost class as every other bounds_df scan in the repo
    assert tree(p).count("Scan parquet") <= 2


def test_daily_array_ops_calendar_bounded(spark, sf_smoke):
    # (r6) array-combinator battery: the collect_list input is the
    # (type, day) rollup — calendar-bounded — never raw rows, and the
    # cumsum/difference folds are JVM expression trees, not Python.
    p = explain(spark, "daily_value_array_ops", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Join" not in tree(p)
    assert tree(p).count("Scan parquet") == 1
    # map-side partial_count/sum before the day-keyed exchange
    assert "partial" in p.lower()


def test_gopher_rules_single_pass_no_joins(spark, sf_smoke):
    # (r6) rule battery: one projection -> constant fan-out explode ->
    # one map-side-combined aggregation; no joins, no windows, no
    # Python in the feature expressions.
    p = explain(spark, "gopher_rules_report", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Join" not in tree(p)
    assert "Window" not in tree(p)
    assert tree(p).count("Scan parquet") == 1


def test_equidepth_sliced_prefix_over_histogram(spark, sf_smoke):
    # (r6) equi-depth histogram: the cumulative pass must ride the
    # range-sliced prefix scan over the value-domain-bounded histogram
    # (never a global single-partition window over raw rows), and the
    # raw stream must reduce map-side first.
    p = explain(spark, "value_equidepth_histogram", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    low = p.lower().replace(" ", "")
    assert "hashpartitioning(_slice" in low
    assert "ReusedExchange" in _executed(
        spark, "value_equidepth_histogram", sf_smoke
    )


def test_information_value_single_pass(spark, sf_smoke):
    # (r6) IV/WoE: exact counts in ONE map-side-combined pass, totals a
    # 1-row broadcast; no windows, no Python.
    p = explain(spark, "categorical_information_value", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "Window" not in tree(p)
    assert "partial" in p.lower()


def test_source_overlap_join_free(spark, sf_smoke):
    # (r6) contamination matrix: shingles reduce to the per-hash source
    # SET (bounded by source cardinality) and the a<b pairs explode
    # in-row — NO join anywhere (the self-join form re-executed the
    # explode+md5 subtree per side under AQE broadcast; measured 2x),
    # no Python, one parquet scan.
    p = explain(spark, "source_overlap_matrix", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    t_ = tree(p)
    assert "Join" not in t_
    assert tree(p).count("Scan parquet") == 1
    # shingle explode + pair explode
    assert t_.count("Generate") == 2


def test_bitmap_rollup_merges_state_not_ids(spark, sf_smoke):
    # (r6) bitmap -State/-Merge: raw rows reduce to distinct (hour,
    # bucket, offset) map-side; the day merge shuffles CONTAINER rows
    # (state-bounded), and the only Python are the two Arrow container
    # folds — never row-at-a-time.
    p = explain(spark, "bitmap_state_rollup", sf_smoke)
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert tree(p).count("FlatMapGroupsInPandas") == 2  # build + OR-merge
    assert tree(p).count("Scan parquet") == 1


def test_topk_rollup_sliced_rankers(spark, sf_smoke):
    # (r6) topK -State/-Merge: both ranking passes (hourly truncation,
    # day emission) must ride the range-sliced ranker — slice-keyed
    # window exchanges, never a whole-hour/day sort on one task.
    p = explain(spark, "topk_state_rollup", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    low = p.lower().replace(" ", "")
    assert low.count("hashpartitioning(_slice") >= 2


def test_series_decomposition_calendar_bounded(spark, sf_smoke):
    # (r6) STL-style decomposition: raw rows reduce map-side to the
    # calendar-bounded histogram; the moving-average window and the
    # seasonal join run on O(hours) rows; the 24-row seasonal table
    # broadcasts. No Python, no cartesian.
    p = explain(spark, "hourly_series_decomposition", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in tree(p)
    assert "partial" in p.lower()


def test_lang_confusion_single_projection(spark, sf_smoke):
    # (r6) the confusion matrix: scores + argmax are ONE projection
    # (no per-language scans), one map-side-combined aggregation to
    # the |langs|^2 matrix, totals broadcast back. No Python.
    p = explain(spark, "lang_id_confusion", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert tree(p).count("Scan parquet") <= 2
    assert "BroadcastHashJoin" in tree(p)


def test_corr_matrix_single_pass_all_moments(spark, sf_smoke):
    # (r6) corrMatrix: all k + k(k+1)/2 moments in ONE map-side-combined
    # aggregation over one scan; the matrix unpivot is a constant
    # 3-element explode on the 1-row aggregate. No joins, no windows.
    p = explain(spark, "feature_corr_matrix", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Join" not in tree(p)
    assert "Window" not in tree(p)
    assert tree(p).count("Scan parquet") == 1
    assert "partial" in p.lower()


def test_auc_calibration_histogram_reduction(spark, sf_smoke):
    # (r6) AUC / calibration: rank reductions over the value-domain-
    # bounded histogram on the range-sliced prefix scan — never per-row
    # ranks, no Python, runtime exchange reuse across prefix_sum's two
    # passes (same family as weighted_median / MWU / KS).
    for name in ("score_auc", "score_calibration_curve"):
        p = explain(spark, name, sf_smoke)
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, name
        assert "CartesianProduct" not in p, name
        low = p.lower().replace(" ", "")
        assert "hashpartitioning(_slice" in low, name
        assert "ReusedExchange" in _executed(spark, name, sf_smoke), name


def test_strict_dedup_funnel_sliced_both_passes(spark, sf_smoke):
    # (r7) strict_dedup windowFunnel: both segmented passes must be
    # slice-keyed — pass 1 is the shared chain scan (_slice), pass 2 the
    # fresh composite-sliced click/purchase stream (_sl) — with the
    # click dedup a (user, ts)-keyed aggregate (skew-flat; never a
    # per-user window over raw rows) and no pair expansion anywhere.
    p = explain(spark, "window_funnel_strict_dedup", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    low = p.lower().replace(" ", "")
    # r13: pass 1 (the chain scan) materializes via lazy localCheckpoint
    # — its slice-keyed shape is pinned on the un-truncated plan by
    # test_funnel_sliced_chain_scan; here it appears as the checkpointed
    # leaf every consumer reads instead of re-executing the scan
    assert "existingrdd" in low  # pass 1: materialized chain scan
    assert "hashpartitioning(_sl" in low  # pass 2: dedup-click stream


def test_sequence_compiler_sliced_passes_no_self_join(spark, sf_smoke):
    # (r7) the pattern compiler: every running-extrema pass slice-keyed,
    # no joins on raw event rows (the oracle's join formulation is for
    # DuckDB only), no Python in the plan.
    p = explain(spark, "sequence_match_compiled", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    low = p.lower().replace(" ", "")
    assert "hashpartitioning(_sl" in low
    assert "sortmergejoin" not in low


def test_next_node_matrix_join_free_single_ranked_pass(spark, sf_smoke):
    # (r8) sequenceNextNode matrix: the naive two-shifted-self-joins
    # formulation made Spark re-execute the whole ranked subtree per
    # branch (6 scans). The explode+pivot plan must hold at ONE ranked
    # pass (2 scans: stream + ranked's tiny offsets subtree), adjacency
    # via the uniform (user_id, rn) pivot exchange, no event-stream
    # joins, no Python.
    p = explain(spark, "sequence_next_node_matrix", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert tree(p).count("Scan parquet") == 2
    low = p.lower().replace(" ", "")
    assert "sortmergejoin" not in low
    assert "hashpartitioning(user_id" in low  # pivot + per-user aggs


def test_time_decayed_anchor_join_then_combinable_aggs(spark, sf_smoke):
    # (r8) exponentialTimeDecayed* analogs: anchor pass is a user-keyed
    # aggregate joined back (2 scans, pruned columns), every decayed
    # aggregate a plain combinable sum/max — no window, no Python, no
    # per-user state.
    p = explain(spark, "time_decayed_user_stats", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert tree(p).count("Scan parquet") == 2
    assert "Window" not in tree(p)
    low = p.lower().replace(" ", "")
    assert "hashpartitioning(user_id" in low


def test_session_windows_single_shuffle_merging_sessions(spark, sf_smoke):
    # (r8) native session windows: ONE (user, session) shuffle feeding
    # Spark's MergingSessions operator — the same shape the streaming
    # mode runs with a state store behind it.
    p = explain(spark, "session_window_counts", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "MergingSessions" in tree(p)
    assert tree(p).count("Scan parquet") == 1
    assert tree(p).count("Exchange") == 1


def test_irls_moments_pass_is_one_combinable_agg(spark, sf_smoke):
    # (r8) logistic IRLS: each iteration's 9 Gram/response moments must
    # be ONE scan + partial/final HashAggregate pair (map-side
    # combinable, the only exchange moves 9 numbers) with the
    # projection pruned to (ts, value, event_type) — no Python, no
    # join, no window in the per-iteration plan.
    from clickhouse_github_log_importer_spark.plans.queries import t as _t
    from pyspark.sql import functions as F

    ev = _t(spark, sf_smoke, "events").select(
        (F.expr("(ts_us div 3600000000) % 24") / F.lit(24.0)).alias("x1"),
        (F.col("value") / F.lit(100.0)).alias("x2"),
        F.when(F.col("event_type") == "purchase", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    u = F.lit(0.1) + F.lit(0.2) * F.col("x1") + F.lit(0.3) * F.col("x2")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-u))
    w = p * (F.lit(1.0) - p)
    df = ev.agg(F.sum(w).alias("s00"), F.sum(w * F.col("x1")).alias("s01"))
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    p_str = qe.explainString(mode)
    t_str = tree(p_str)
    assert "ArrowEvalPython" not in p_str and "BatchEvalPython" not in p_str
    assert "Join" not in t_str and "Window" not in t_str
    assert t_str.count("Scan parquet") == 1
    assert t_str.count("HashAggregate") == 2  # partial + final
    read = next(l for l in p_str.splitlines() if "ReadSchema" in l)
    assert "event_id" not in read and "user_id" not in read


def test_decayed_checkpoints_order_free_stage1(spark, sf_smoke):
    # (r8) running decay checkpoints: stage 1 must be a plain combinable
    # (user, day) HashAggregate pair over ONE scan — the telescoping
    # anchor trick means NO window, NO join, NO sort on raw rows; the
    # only window-free sequential work happens on the tiny per-user
    # day array (HOF, post-aggregation).
    p = explain(spark, "user_decayed_day_checkpoints", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    t_str = tree(p)
    assert "Join" not in t_str and "Window" not in t_str
    assert t_str.count("Scan parquet") == 1
    low = p.lower().replace(" ", "")
    assert "hashpartitioning(user_id" in low


def test_match_events_single_sliced_pass(spark, sf_smoke):
    # (r8) witness extraction: one range-sliced running-max pass (no
    # event-stream self-join — the oracle's join is DuckDB-only), the
    # first-match reduction a combinable min(struct) per user.
    p = explain(spark, "sequence_match_events", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    low = p.lower().replace(" ", "")
    assert "hashpartitioning(_slice" in low
    assert "sortmergejoin" not in low


def test_derivative_profile_join_free_adjacency(spark, sf_smoke):
    # (r8) derivative scan: same contract as the next-node matrix —
    # one ranked pass (2 scans incl. the offsets subtree), adjacency by
    # the (user_id, rn) pivot, no event-stream join, no Python.
    p = explain(spark, "user_value_derivative_profile", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert tree(p).count("Scan parquet") == 2
    low = p.lower().replace(" ", "")
    assert "sortmergejoin" not in low
    assert "hashpartitioning(user_id" in low


def test_topk_weighted_window_on_reduced_table(spark, sf_smoke):
    # (r8) topKWeighted: the ranking window must sit ABOVE the (day,
    # type) aggregation (domain-bounded partitions), never on raw rows
    # — in the tree the Window's child chain contains the aggregate.
    p = explain(spark, "top_k_weighted_types_daily", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    t_str = tree(p)
    assert t_str.count("Scan parquet") == 1
    win_pos = t_str.index("Window")
    agg_pos = t_str.index("HashAggregate")
    assert win_pos < agg_pos  # tree prints top-down: window above agg


def test_sequence_compiled_shares_persisted_base(spark, sf_smoke):
    # (r9) all six patterns compile against ONE persisted base stream
    # (before: six re-executions of the scan+filter+quantile subtree,
    # the suite's most expensive row); the pass structure is unchanged
    # (the r7 gate above), this pins the sharing itself.
    p = explain(spark, "sequence_match_compiled", sf_smoke)
    low = p.lower().replace(" ", "")
    # r13: the shared base is a lazy localCheckpoint (plan-truncating)
    # instead of a persist — the sharing evidence is the checkpointed
    # leaf, and exactly ZERO parquet scans remain in the entry plan
    # (every pattern reads the materialized base)
    assert "existingrdd" in low
    assert "scanparquet" not in low


def test_sequence_adjacent_ranked_dp_no_smj(spark, sf_smoke):
    # (r9) CH-exact adjacency: position DP over the persisted ranked
    # stream — adjacency edges are (user, rank+1) hash joins, bounded
    # edges slice-keyed segmented passes; never a sort-merge join or a
    # per-user serial sort, and no Python anywhere.
    p = explain(spark, "sequence_match_adjacent", sf_smoke)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    low = p.lower().replace(" ", "")
    assert "sortmergejoin" not in low
    assert "hashpartitioning(_sl" in low  # bounded-edge segmented pass
    assert "existingrdd" in low  # shared ranked base materialized (r13)


def test_embedding_covariance_single_kernel_pass(spark, sf_smoke):
    # (r9) the Gram pass: quantization JVM-side, ONE Arrow-batched
    # kernel (MapInPandas), one map-side-combinable groupBy over the
    # d(d+1)/2 cells — no joins, no per-row Python, one scan.
    p = explain(spark, "embedding_covariance", sf_smoke)
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p  # never row-at-a-time Python
    t = tree(p)
    assert t.count("Scan parquet") == 1
    assert t.count("Join") == 0
    low = p.lower().replace(" ", "")
    assert "hashpartitioning(i" in low  # the tiny cell merge


def test_pca_projection_is_shuffle_free(spark, sf_smoke):
    # (r9) the projection plan: component literals ride the task
    # closure, so the RETURNED frame is scan + project — zero
    # exchanges, zero joins, zero Python (the covariance collect runs
    # eagerly at entry-build time and is not part of this plan).
    p = explain(spark, "embedding_pca_projection", sf_smoke)
    t = tree(p)
    assert t.count("Exchange") == 0
    assert t.count("Join") == 0
    assert "MapInPandas" not in t and "EvalPython" not in t


def test_holt_fold_calendar_bounded_no_window(spark, sf_smoke):
    # (r9) Holt linear trend: the fold runs over the per-type collected
    # series AFTER the (type, hour) aggregation — calendar-bounded —
    # with the forecast fan as one Generate. No window functions, no
    # Python, and the gap-fill grid comes from aggregated spans (two
    # Generates total: grid explode + forecast fan), never raw rows.
    p = explain(spark, "holt_linear_forecast", sf_smoke)
    assert "Window" not in tree(p)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert tree(p).count("Generate") == 2
    assert "CartesianProduct" not in tree(p)


def test_bpe_word_vocab_single_scan_mapside(spark, sf_smoke):
    # (r9) BPE step 0 (the only corpus-scale job): one documents scan,
    # one keyed exchange with map-side partial aggregation, zero Python
    from clickhouse_github_log_importer_spark.operators import bpe as B
    from clickhouse_github_log_importer_spark.plans.queries import t

    df = B.word_vocab(t(spark, sf_smoke, "documents"))
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    p = qe.explainString(mode)
    assert tree(p).count("Scan parquet") == 1
    assert tree(p).count("Exchange") == 1
    assert tree(p).count("HashAggregate") == 2  # partial + final
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_bpe_apply_is_broadcast_lookup_one_doc_shuffle(spark, sf_smoke):
    # (r9) tokenization = broadcast vocab lookup: the doc-side path is
    # explode -> BroadcastHashJoin -> one doc_id-keyed aggregation; no
    # sort-merge join, no (doc_id, word) pre-shuffle, no Python
    p = explain(spark, "bpe_token_counts", sf_smoke)
    assert "BroadcastHashJoin" in tree(p)
    assert "SortMergeJoin" not in tree(p)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
