#!/usr/bin/env python
"""Skew probe: measured behavior of the window/cap/packing plans when one
key owns most of the data.

The scale probe (tools/scale_probe.py) grows data uniformly; real
corpora are power-law. This probe builds deliberately skewed variants of
the x10 tables and compares wall time against the uniform x10 run:

- **mega-user events**: half of all events reassigned to ONE user.
  Per-user windows (sessionization, trailing sums, funnels) are
  semantically serial per key, so the mega user's slice runs on one
  task — the probe measures how bad that straggler actually is, and
  whether anything worse (spill, OOM, quadratic blowup) hides behind it.
- **mega-source documents**: 90% of docs relabeled to ONE source. The
  two-phase per-source cap (plans/dataops.py source_capped_sample) must
  stay flat — phase 1 ranks within (input slice, source), so the mega
  source costs each slice a local sort, not one task a 90%-of-corpus
  sort. For contrast the probe also times the naive single-window cap
  it replaced, on the same skewed input.

Usage: python tools/skew_probe.py  (expects .scale_probe/x10 built; run
tools/scale_probe.py first). Writes SKEW_PROBE.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools.probe_common import cpu_ticks as _cpu_ticks  # noqa: E402
from tools.probe_common import git_head as _git_head  # noqa: E402
from tools.probe_common import measure_with_steal_gate  # noqa: E402
from tools.probe_common import steal_pct as _steal_pct  # noqa: E402
from tools.probe_common import wait_for_idle as _wait_for_idle  # noqa: E402

X10 = os.path.join(REPO, ".scale_probe", "x10")
SKEW = os.path.join(REPO, ".scale_probe", "x10_skew")

EVENT_QUERIES = [
    "user_sessions",
    "user_trailing_7d_value",
    "event_funnel_conversion",
    "window_funnel_levels",
    "user_activity",
    "top_events_per_user",
    # r5 sliced sweeps/scans: all user-keyed, so the mega-user variant
    # must stay flat for the composite-slice claim to hold
    "user_interval_coverage",
    "sequence_pair_count",
    "user_delta_sum",
    "inter_event_gap_profile",
    # r6: EMA is now an affine segmented scan over (user, hour) — the
    # mega-user must be flat, not the r5 2.95x straggler
    "ema_user_value",
    "window_funnel_levels_inclusive",
    "user_bounding_ratio",
    # r6: capped moving-sum arrays ride the sliced ranking; plus the two
    # heaviest bench rows, both time-keyed sweeps that must shrug off a
    # user-skewed log
    "user_moving_sum_arrays",
    "weighted_median_price",
    "max_concurrent_intervals",
    # r6: the built-in session_window sibling DELIBERATELY co-locates
    # each user's rows; its ratio here, next to the flat sliced
    # user_sessions, is the measured argument for why the segmented
    # sessionizer is the registry headline
    "user_sessions_native",
    # r6 late additions: rank-adjacency funnel (sliced ranker + uniform
    # (user, rank) joins must shrug off the mega-user) and the topK MV
    # (hourly truncation bounds the merge regardless of user skew)
    "window_funnel_strict_order",
    "topk_state_rollup",
    "sequence_match_min_gap",
    # r7: strict_dedup funnel (chain scan + (user,ts) click dedup + one
    # more segmented pass) and the sequenceMatch compiler (K-1 sliced
    # running-extrema passes) must both shrug off the mega-user; the
    # value-domain-keyed ML-eval pair is expected dead flat (value
    # histogram never keys by user) — pinned for the record
    "window_funnel_strict_dedup",
    "sequence_match_compiled",
    "score_auc",
    "score_calibration_curve",
    # r7 late: restart-automaton sequenceCount — the per-slice transition
    # tabulation must stay slice-bounded on the mega-user
    "sequence_count_compiled",
    # r8: the two never-probed per-user shapes VERDICT r7 flagged, plus
    # the timed restart automaton (two-branch tabulation is still one
    # Arrow batch per slice — the mega-user must stay slice-bounded)
    "sequence_next_node",
    "hourly_sparkbar_by_type",
    "sequence_count_timed",
    # r9: adjacency DP — the ranked stream and (user, rank) joins must
    # spread a mega-user across the hash space
    "sequence_match_adjacent",
    "sequence_count_adjacent",
    # r8: value/type-keyed, expected dead flat — pinned for the record
    "anova_value_by_type",
    # r8 batch 2-3: the join-free next-node matrix (ranked + (user, rn)
    # pivot must spread the mega-user), the anchored time-decay aggs
    # (user-keyed join + combinable sums), and the native session
    # windows (co-located per user LIKE user_sessions_native — its
    # ratio is pinned for the same contrast)
    "sequence_next_node_matrix",
    "time_decayed_user_stats",
    "session_window_counts",
    # r8 batch 3: day-telescoped decay checkpoints (order-free stage 1
    # must shrug off the mega-user; the HOF tail is calendar-bounded)
    # and the witness extractor (one sliced running-max pass)
    "user_decayed_day_checkpoints",
    "sequence_match_events",
    # r8 batch 4: derivative profile rides the same explode+pivot
    # adjacency as the next-node matrix — same flatness expected
    "user_value_derivative_profile",
    # r10: timed-adjacency product automaton — the ranked LAG join and
    # the per-slice piecewise tabulation must both stay slice-bounded
    # on the mega-user (the occurrence-start lag spreads with rank)
    "sequence_count_adjacent_timed",
    # r11: the three DELIBERATELY per-user-sequential kernels (the
    # backtracking counter and the two streaming-fold twins) — their
    # mega-user ratio is the measured cost of ClickHouse's own
    # per-group execution shape, pinned next to the sliced machines'
    # flat rows exactly like user_sessions_native documents the native
    # session window
    "sequence_count_timed_backtracking",
    "stream_adjacency_count_fold",
    "stream_time_decay_fold",
    "stream_funnel_cascade_fold",
    # r12: the in-watermark backtracking fold (per-user sequential like
    # its greedy siblings) and the two state-algebra folds (key-hashed;
    # the LWW fold keys on (user, type) so the mega-user concentrates
    # dup chains into a few keys — the measured cost of that shape)
    "stream_backtracking_count_fold",
    "stream_lww_dedup_fold",
    "stream_quantile_fold",
    # r12 batch 2: witness extraction is user-keyed like the count
    # battery; the KMV fold keys on event_type and the CMS fold on
    # sketch row — both expected dead flat on a user-skewed log,
    # pinned for the record
    "sequence_match_events_backtracking",
    "stream_kmv_fold",
    "stream_cms_fold",
    "stream_match_events_fold",
]
DOC_QUERIES = [
    "source_capped_sample",
    "sequence_packing_plan",
    # r6: join-free — distinct (shingle-hash, source) reduction, then
    # per-hash source sets with in-row pair explode; the mega-source
    # must not reintroduce a doc-pair expansion anywhere
    "source_overlap_matrix",
    # r9: BPE apply — word-keyed broadcast lookup + doc_id-keyed agg;
    # a mega-source changes neither the vocabulary nor the per-doc
    # bound, so this must be dead flat
    "bpe_token_counts",
]


def build_skew(spark):
    from pyspark.sql import functions as F

    import shutil

    marker = os.path.join(SKEW, "_PROBE_OK")
    if os.path.exists(marker):
        return
    shutil.rmtree(SKEW, ignore_errors=True)
    os.makedirs(SKEW, exist_ok=True)
    ev = spark.read.parquet(f"{X10}/events.parquet")
    # every other event -> user 0: a single user owning 50% of the log
    ev = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    )
    ev.write.mode("overwrite").parquet(f"{SKEW}/events.parquet")
    docs = spark.read.parquet(f"{X10}/documents.parquet")
    docs = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 10 > 0, F.lit("mega")).otherwise(F.col("source")),
    )
    docs.write.mode("overwrite").parquet(f"{SKEW}/documents.parquet")
    # remaining tables: reuse the uniform x10 copies (queries load by name)
    for t in (
        "region nation customer supplier part orders lineitem embeddings".split()
    ):
        os.symlink(f"{X10}/{t}.parquet", f"{SKEW}/{t}.parquet")
    with open(marker, "w") as f:
        f.write("ok\n")


def naive_capped_sample(spark, sf_dir, cap=40):
    """The single-window cap source_capped_sample replaced — timed here
    on the skewed input to quantify what the two-phase re-plan buys."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clickhouse_github_log_importer_spark.plans.queries import t

    docs = t(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    w_all = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(w_rank).alias("_rn"),
        F.count("*").over(w_all).alias("_n_total"),
    )
    return (
        ranked.filter(F.col("_rn") <= cap)
        .groupBy("source")
        .agg(
            F.min("_n_total").alias("n_total"),
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("doc_id").alias("min_kept_doc_id"),
        )
    )


def main():
    # parse FIRST: --help / bad flags must answer immediately, not
    # block behind the (up to 600 s) load gate on a busy host (the
    # same r9 ADVICE fix as scale_probe.py)
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--queries",
        default="",
        help="comma-separated subset to (re)probe; rows MERGE into the "
        "existing SKEW_PROBE.json instead of replacing it (full runs "
        "still rewrite the artifact)",
    )
    args = ap.parse_args()
    subset = [q for q in args.queries.split(",") if q]

    gate = _wait_for_idle()
    if gate.get("passed") is False:
        print(f"# WARNING probe load gate timed out: {gate}")

    from clickhouse_github_log_importer_spark.plans.queries import REGISTRY
    from clickhouse_github_log_importer_spark.session import get_spark

    spark = get_spark(
        app_name="skew_probe",
        extra_conf={"spark.driver.memory": os.environ.get("PROBE_DRIVER_MEM", "48g")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(X10, "_PROBE_OK")):
        raise SystemExit("run tools/scale_probe.py first (needs .scale_probe/x10)")
    build_skew(spark)

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    def best_of(fn, runs=2):
        best = None
        for _ in range(runs):
            t0 = time.monotonic()
            mat(fn())
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    cpus = spark.sparkContext.defaultParallelism
    report = {}
    path = os.path.join(REPO, "SKEW_PROBE.json")
    if subset and os.path.exists(path):
        with open(path) as f:
            report = json.load(f)
    loads = []
    for name in subset or (EVENT_QUERIES + DOC_QUERIES):
        fn = REGISTRY[name].spark
        # SYMMETRIC warm-up (r7): warming only the uniform side put the
        # skewed variant's first-ever execution (shuffle-file creation,
        # codegen for its literal-bearing plans) inside its timed
        # window — sequence_match_compiled read 1.77 in-probe vs 0.89
        # in warmed isolation. Both variants now warm identically.
        mat(fn(spark, X10))
        mat(fn(spark, SKEW))

        def cell(fn=fn):
            c0 = _cpu_ticks()
            uni = best_of(lambda: fn(spark, X10))
            skw = best_of(lambda: fn(spark, SKEW))
            return (uni, skw), _steal_pct(c0, _cpu_ticks())

        # steal gate (r12): a row measured above the threshold re-runs
        # instead of stamping steal-inflated skew evidence silently
        (uni, skw), sp, contaminated = measure_with_steal_gate(cell)
        loads.append(os.getloadavg()[0])
        report[name] = {
            "uniform_s": uni,
            "skewed_s": skw,
            "ratio": round(skw / uni, 2) if uni else None,
            # steal% over BOTH timed variants: a high-ratio row at high
            # steal is the host, numerically (r11 bench convention)
            "steal_pct": sp,
            # ratios shift with executor width: never compare rows
            # measured at different cpus
            "cpus": cpus,
        }
        if contaminated:
            report[name]["steal_contaminated"] = True
        print(f"# {name}: uniform {uni}s skewed {skw}s "
              f"ratio {report[name]['ratio']} steal {sp}%")

    if subset:
        # stamp merged rows individually; the full-run _meta stays
        for name in subset:
            report[name]["commit"] = _git_head()
            report[name]["probed_at"] = time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            )
        with open(path, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"# merged {len(subset)} rows into {path}")
        return

    mat(naive_capped_sample(spark, SKEW))
    report["naive_single_window_cap(skewed)"] = {
        "skewed_s": best_of(lambda: naive_capped_sample(spark, SKEW)),
        "note": "the replaced plan, for contrast with source_capped_sample",
    }
    print(f"# naive cap skewed: {report['naive_single_window_cap(skewed)']['skewed_s']}s")

    # provenance + noise telemetry: ratios from a loaded host fabricate
    # 2-3x skew that isn't there (measured across rounds)
    report["_meta"] = {
        "probed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "commit": _git_head(),
        "cpus": cpus,
        "host_load_1m": {
            "min": round(min(loads), 1) if loads else None,
            "max": round(max(loads), 1) if loads else None,
        },
    }
    with open(path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(f"# wrote {path}")


if __name__ == "__main__":
    main()
