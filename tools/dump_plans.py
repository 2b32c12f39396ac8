#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plan of each headline query
at the bench scale factor — reviewable evidence that pushdown, pruning,
broadcasts, and top-K shapes are what SCALE.md claims.

    python tools/dump_plans.py [sf_dir]

With ``--names``, write each named entry's full formatted plan to
``DIR/<name>.txt`` instead (before/after plan evidence for a change):

    python tools/dump_plans.py [sf_dir] --names n1 n2 ... --outdir DIR
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SELECTED = [
    "q1_pricing_summary",
    "q5_region_volume",
    "user_activity",
    "missing_hours",
    "user_watermarks",
    "user_sessions",
    "dedup_minhash_lsh",
    "ann_lsh_buckets",
    "multimodal_features",
    "retention_cohorts",
    "event_funnel_conversion",
    "ann_recall_report",
    "event_rank_profile",
    "source_capped_sample",
    "sequence_packing_plan",
    "bm25_keyword_search",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "bloom_contamination_report",
    "doc_chunk_plan",
    "heavy_hitters_cms",
    "doc_token_rarity",
    # round 5 additions
    "bitmap_audience_overlap",
    "weighted_median_price",
    "interpolated_hourly_values",
    "edit_distance_near_pairs",
    "ema_user_value",
    "value_hour_correlation",
    "lttb_downsample_hourly",
    # round 6 additions
    "quantile_state_rollup",
    "sequence_match_pattern",
    "window_funnel_strict_order",
    "value_equidepth_histogram",
    "hourly_sparkbar_by_type",
    "source_overlap_matrix",
    "bitmap_state_rollup",
    "topk_state_rollup",
    "score_auc",
    "feature_corr_matrix",
    "hourly_series_decomposition",
    "sequence_match_min_gap",
    "uniq_state_rollup",
    # round 7 additions
    "window_funnel_strict_dedup",
    "sequence_match_compiled",
    "sequence_count_compiled",
    "daily_value_array_ops",
    # round 8 additions
    "sequence_count_timed",
    "window_funnel_levels",
    "anova_value_by_type",
    "sequence_next_node_matrix",
    "time_decayed_user_stats",
    "session_window_counts",
    "user_decayed_day_checkpoints",
    "sequence_match_events",
    "user_value_derivative_profile",
    "top_k_weighted_types_daily",
    # r9
    "sequence_match_adjacent",
    "sequence_count_adjacent",
    "embedding_covariance",
    "embedding_pca_projection",
    "holt_linear_forecast",
    # r10
    "sequence_count_adjacent_timed",
    "zipf_fit_words",
    "funnel_time_to_convert",
    # r11: the backtracking battery + the three streaming folds — each
    # must show ONE Exchange (the user hash bucket) feeding one
    # ArrowEvalPython/FlatMapGroupsInPandas, no further shuffle
    "sequence_count_timed_backtracking",
    "stream_adjacency_count_fold",
    "stream_time_decay_fold",
    "stream_funnel_cascade_fold",
    # r12: the in-watermark backtracking fold, the CH-exact witness
    # battery, and the five state-algebra folds — the user/key-hashed
    # ones must show ONE Exchange feeding one FlatMapGroupsInPandas;
    # stream_cms_fold's Exchange is on the sketch row (fan-in = depth,
    # the stream operator's own documented shape)
    "stream_backtracking_count_fold",
    "sequence_match_events_backtracking",
    "stream_lww_dedup_fold",
    "stream_quantile_fold",
    "stream_kmv_fold",
    "stream_cms_fold",
    "stream_match_events_fold",
]
# bpe_merge_table (and bpe_merge_table_incremental) are deliberately
# NOT in SELECTED: like logistic_regression_irls their entries are
# driver-side merge loops over the bounded vocabulary and the returned
# frame is the driver-built merge table; the corpus-scale plan is the
# word_vocab aggregation (one map-side-combined groupBy, gated in
# tests/test_plans.py)
# embedding_pca_power is deliberately NOT in SELECTED for the same
# reason as logistic_regression_irls: its entry collects the (control-
# plane-sized) covariance cells and returns driver-computed literals;
# the distributed plan IS embedding_covariance, gated above
# logistic_regression_irls is deliberately NOT in SELECTED: its entry
# plan is a driver-side collect loop (the per-iteration moments plan is
# gated in tests/test_plans.py instead)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--names", nargs="+", help="entries to dump one file each")
    ap.add_argument("--outdir", help="directory for the --names files")
    args = ap.parse_args()
    if bool(args.names) != bool(args.outdir):
        ap.error("--names and --outdir go together")
    sf_dir = args.sf_dir
    from clickhouse_github_log_importer_spark.plans.queries import REGISTRY
    from clickhouse_github_log_importer_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    def plan(name: str) -> str:
        df = REGISTRY[name].spark(spark, sf_dir)
        return df._jdf.queryExecution().explainString(mode)

    if args.names:
        os.makedirs(args.outdir, exist_ok=True)
        for name in args.names:
            path = os.path.join(args.outdir, f"{name}.txt")
            with open(path, "w") as f:
                f.write(plan(name))
            print("wrote", path)
        return

    out = [
        "# PLANS — physical plans of representative queries",
        "",
        f"Generated by `tools/dump_plans.py` against `{sf_dir}`. The operator",
        "tree section shows each node once; see `tests/test_plans.py` for the",
        "machine-checked invariants and `SCALE.md` for the reasoning.",
        "",
    ]
    for name in SELECTED:
        tree = plan(name).split("\n\n")[0]
        out += [f"## {name}", "", REGISTRY[name].doc, "", "```", tree, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SELECTED)} plans)")


if __name__ == "__main__":
    main()
