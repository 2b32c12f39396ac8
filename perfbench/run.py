"""Benchmark entry point: one workload, one run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs come from ``--seed``; set-up
(session start, view registration, a fixed warm-up) is timed as
``setup_s``; the timed phase is sized from ``--seconds``; every output is
checked. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is the run record (host, seed, sample counts, per-layer self time).

A traced run splits the timed work over three phases: untraced, traced
(spans around each layer), untraced again. The traced phase's mean latency
against the two untraced phases' is the tracing overhead.
Spans are written to ``perfbench/.out/`` when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("query_mix", "api_serve", "ingest_ticks")
END_TO_END = {"throughput_per_s": "1/s", "latency_p50_s": "s",
              "latency_tail_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
#: per-layer metrics and their units; all but the ratio, the cache
#: snapshot and the session start are per operation
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.collect_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "jvm.gc_s": "s",
    "cache.live_rdds": "count", "cache.live_mb": "MB",
    "api.envelope_s": "s", "api.query_s": "s", "api_server.wait_s": "s",
    "sources.check_existing_s": "s", "sources.check_validity_s": "s",
    "sources.validated_mb": "MB",
    "pipeline.reconcile_s": "s", "pipeline.reconcile_demoted": "count",
    "pipeline.import_s": "s", "pipeline.import_files": "count",
    "pipeline.import_once_ratio": "ratio", "pipeline.status_s": "s",
    "parsers.records_out": "count", "parsers.corrupt_rows": "count",
    "dedup.compact_s": "s", "dedup.rows_removed": "count",
    "trace.overhead_pct": "%",
}
#: span name -> per-layer metric holding its wall time
SPAN_METRICS = {
    "plans.build": "plans.build_s", "catalyst.plan": "catalyst.plan_s",
    "exec.collect": "exec.collect_s", "api.envelope": "api.envelope_s",
    "api.query": "api.query_s",
    "sources.check_existing": "sources.check_existing_s",
    "sources.check_validity": "sources.check_validity_s",
    "pipeline.reconcile": "pipeline.reconcile_s",
    "pipeline.import": "pipeline.import_s", "pipeline.status": "pipeline.status_s",
    "dedup.compact": "dedup.compact_s",
}
NOT_PER_OP = {"cache.live_rdds", "cache.live_mb", "session.start_s",
              "pipeline.import_once_ratio", "trace.overhead_pct"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default=None,
                   help="table scale (sf0.001 for a smoke run); default per workload")
    return p.parse_args(argv)


def make_workload(args, work_dir: str):
    if args.workload == "query_mix":
        from perfbench.query_mix import QueryMix

        return QueryMix(args)
    if args.workload == "api_serve":
        from perfbench.api_serve import ApiServe

        return ApiServe(args)
    from perfbench.ingest_ticks import IngestTicks

    return IngestTicks(args, work_dir)


def layer_metrics(phase: dict, tracer, untraced: list[float], session_s: float,
                  gc_s: float) -> dict:
    n = max(1, len(phase["latencies"]))
    raw = dict(phase["layers"])
    for span, total in tracer.totals().items():
        if span in SPAN_METRICS:
            raw[SPAN_METRICS[span]] = raw.get(SPAN_METRICS[span], 0.0) + total
    raw["jvm.gc_s"] = gc_s
    attempts = raw.pop("pipeline.import_attempts", 0)
    distinct = raw.pop("pipeline.import_distinct", 0)
    out = {}
    for name in PER_LAYER:
        v = raw.get(name, 0)
        out[name] = v if name in NOT_PER_OP else v / n
    out["session.start_s"] = session_s
    out["pipeline.import_once_ratio"] = distinct / attempts if attempts else 0.0
    out["trace.overhead_pct"] = 100.0 * (
        statistics.fmean(phase["latencies"]) / statistics.fmean(untraced) - 1.0)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not common.engine_available():
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work_dir = os.path.join(common.HERE, ".work", run_id)
    out_dir = os.path.join(common.HERE, ".out")
    os.makedirs(work_dir)
    os.makedirs(out_dir, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "cpus": common.cpus(), "source": common.source_id(),
              "start": common.host_sample()}
    spark = workload = None
    try:
        workload = make_workload(args, work_dir)
        record["sf"] = workload.sf
        t0 = time.perf_counter()
        spark = common.start_spark(work_dir)
        session_s = time.perf_counter() - t0
        workload.setup(spark)
        setup_s = time.perf_counter() - t0

        phase = workload.measure(spark, 0)
        attempted, failed = phase["attempted"], phase["failed"]
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer()
            probe = common.SparkProbe(spark)
            gc0 = probe.gc_s()
            traced = workload.measure(spark, 1, tracer)
            gc_s = probe.gc_s() - gc0
            after = workload.measure(spark, 2)
            for p in (traced, after):
                attempted += p["attempted"]
                failed += p["failed"]
            tracer.write(os.path.join(out_dir, f"{run_id}.spans.json"))
            record["self_s"] = tracer.self_times()
        if hasattr(workload, "final_check") and not workload.final_check(spark):
            attempted += 1
            failed += 1
        peak = common.peak_rss_mb()
        if not phase["latencies"]:
            raise RuntimeError("no operation completed")
        e2e = common.latency_metrics(phase["latencies"], phase["ops"], phase["busy_s"])
        record["tail_percentile"] = e2e.pop("tail_percentile")
        record["samples"] = e2e.pop("samples")
        record["latencies_s"] = [round(x, 4) for x in phase["latencies"]]
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = peak
        if args.trace:
            untraced = phase["latencies"] + after["latencies"]
            values = layer_metrics(traced, tracer, untraced, session_s, gc_s)
            units = PER_LAYER
            record["end_to_end"] = e2e
        else:
            values, units = e2e, END_TO_END
    finally:
        if workload is not None and hasattr(workload, "close"):
            workload.close()
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    record["end"] = common.host_sample()
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
