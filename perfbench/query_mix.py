"""``query_mix``: one closed-loop caller runs a fixed sample of registry
entries at sf0.1, ``REGISTRY[name].spark(...)`` then ``collect()``.

This is the workload where execution inside ``operators.*`` does most of
the work. Each pass runs every sampled entry once, in an order drawn
from the seed; the number of passes follows from ``--seconds`` and
``--trace`` alone, so every run at one setting does the same work.
Every result is hashed with ``plans.verify.canonicalize`` and compared
with the hash the DuckDB oracle gave for that entry
(``oracle_hashes.json``).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback
from contextlib import nullcontext

from perfbench import tables
from perfbench.common import HERE, SparkProbe, result_hash, work_units

SF = "sf0.1"
SMOKE_SF = "sf0.001"
#: entries drawn from the 1-in-6-by-name stride over the registry, one
#: or more per family: the sequence engine, checkpointed sketches and
#: dedup, eagerly built models (IRLS, PCA), pandas-UDF ANN kernels and
#: TPC-H joins
SAMPLE = (
    "ann_lsh_topk",
    "chunk_dup_rate",
    "embedding_pca_projection",
    "heavy_hitters_cms",
    "logistic_regression_irls",
    "q18_large_orders",
    "sequence_count_compiled",
)
#: seconds one warm pass of SAMPLE takes on 4 cores; sizes the run
PASS_S = 9.5


def _span(tracer, name, op=None):
    return tracer.span(name, op) if tracer else nullcontext()


class QueryMix:
    name = "query_mix"

    def __init__(self, args):
        self.sf = args.sf or SF
        self.seed = args.seed
        self.passes = work_units(args.seconds, PASS_S, args.trace)
        self.sf_dir = tables.ensure(self.sf)
        with open(os.path.join(HERE, "oracle_hashes.json")) as f:
            self.expected = json.load(f)[self.sf]
        from clickhouse_github_log_importer_spark.plans.queries import REGISTRY

        self.registry = REGISTRY

    def setup(self, spark) -> None:
        """Warm-up: one pass in name order."""
        for name in SAMPLE:
            self.registry[name].spark(spark, self.sf_dir).collect()

    def _op(self, spark, name: str, op: str, tracer) -> tuple[float, list, list]:
        sc = spark.sparkContext
        t0 = time.perf_counter()
        with _span(tracer, "op", op):
            if tracer:
                sc.setJobGroup(f"{op}:build", op)
            with _span(tracer, "plans.build"):
                df = self.registry[name].spark(spark, self.sf_dir)
            if tracer:
                sc.setJobGroup(f"{op}:exec", op)
            with _span(tracer, "catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with _span(tracer, "exec.collect"):
                rows = df.collect()
        return time.perf_counter() - t0, df.columns, rows

    def measure(self, spark, phase: int, tracer=None) -> dict:
        rng = random.Random(self.seed * 1000 + phase)
        probe = SparkProbe(spark) if tracer else None
        latencies: list[float] = []
        attempted = failed = 0
        layers: dict[str, float] = {}
        for p in range(self.passes):
            for name in rng.sample(SAMPLE, len(SAMPLE)):
                attempted += 1
                op = f"{phase}.{p}.{name}"
                try:
                    dt, cols, rows = self._op(spark, name, op, tracer)
                except Exception:  # noqa: BLE001 - counted, run goes on
                    traceback.print_exc(file=sys.stderr)
                    failed += 1
                    continue
                if result_hash(cols, rows) != self.expected.get(name):
                    print(f"query_mix: {name} result differs from the oracle",
                          file=sys.stderr)
                    failed += 1
                    continue
                latencies.append(dt)
                if probe:
                    probe.drain()
                    build = probe.group_metrics(f"{op}:build")
                    layers["plans.build_jobs"] = layers.get("plans.build_jobs", 0) + build["jobs"]
                    for k, v in probe.group_metrics(f"{op}:exec").items():
                        layers[f"exec.{k}"] = layers.get(f"exec.{k}", 0) + v + build[k]
            if probe:
                live, mb = probe.cache()
                layers["cache.live_rdds"] = max(layers.get("cache.live_rdds", 0), live)
                layers["cache.live_mb"] = max(layers.get("cache.live_mb", 0.0), mb)
        return {"latencies": latencies, "ops": len(latencies),
                "busy_s": sum(latencies), "attempted": attempted,
                "failed": failed, "layers": layers}
