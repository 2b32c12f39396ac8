"""``api_serve``: ``api_server.serve`` over HTTP at sf0.01, driven by a
separate client process with 3 closed-loop connections.

The request mix covers registry entries through ``GET /op/<name>``, the
``/query/*`` sample endpoints and ``POST /query`` SQL against the
``events`` view. At sf0.01 per-job overhead, plan build and contention in
the driver dominate; repeated requests for one entry run concurrently
and share ``operators.cache`` scopes. Every response must be a 200
without an ``error`` field whose rows equal, in any order, the
in-process result of the same request, taken during warm-up.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlencode

from perfbench import tables
from perfbench.api_client import digest
from perfbench.common import HERE, SparkProbe, work_units

SF = "sf0.01"
CONNS = 3
#: entries from the 1-in-6-by-name stride over the registry whose first
#: 100 rows are the same on every run, at least one per family: the
#: sequence engine, checkpointed sketches and dedup, eagerly built models
#: (IRLS, PCA), a pandas-UDF ANN kernel, TPC-H joins and statistics
OPS = (
    "ann_lsh_topk",
    "approx_value_percentiles",
    "bounded_distinct_by_type",
    "chunk_dup_rate",
    "embedding_pca_projection",
    "events_per_type",
    "heavy_hitters_cms",
    "logistic_regression_irls",
    "q12_priority_shipping",
    "q18_large_orders",
    "sequence_count_compiled",
    "sequence_pair_count",
    "text_quality",
    "top_events_per_user",
    "user_first_events",
    "welch_ttest_values",
)
SAMPLE_ENDPOINTS = ("record_count", "most_used_label", "repo_activity")
LIMIT = 100
TOP_N = 20
#: seconds one round (every request once) takes on 4 cores; sizes the run
ROUND_S = 5.0


def _sql(rng: random.Random) -> list[str]:
    """Ad-hoc SQL for ``POST /query``; the seed picks the constants."""
    return [
        "SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v "
        f"FROM events WHERE user_id % 7 = {rng.randrange(7)} GROUP BY event_type",
        "SELECT user_id, COUNT(*) AS n FROM events "
        f"WHERE value > {rng.choice((10, 20, 50))} "
        "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 50",
    ]


class ApiServe:
    name = "api_serve"

    def __init__(self, args):
        self.sf = args.sf or SF
        self.seed = args.seed
        self.rounds = work_units(args.seconds, ROUND_S, args.trace)
        self.sf_dir = tables.ensure(self.sf)
        self.sql = _sql(random.Random(args.seed))
        self.expected: dict[str, str] = {}  # request key -> digest of its rows
        self.server = None
        from clickhouse_github_log_importer_spark import api, api_server
        from clickhouse_github_log_importer_spark.plans.queries import REGISTRY

        self.api, self.api_server, self.registry = api, api_server, REGISTRY

    def requests(self) -> list[dict]:
        out = []
        for name in OPS:
            q = urlencode({"sf_dir": self.sf_dir, "limit": LIMIT})
            out.append({"key": f"op:{name}", "method": "GET",
                        "path": f"/op/{name}?{q}", "body": None})
        for name in SAMPLE_ENDPOINTS:
            out.append({"key": f"query:{name}", "method": "GET",
                        "path": f"/query/{name}?topN={TOP_N}", "body": None})
        for i, sql in enumerate(self.sql):
            out.append({"key": f"sql:{i}", "method": "POST", "path": "/query",
                        "body": urlencode({"query": sql})})
        return out

    def setup(self, spark) -> None:
        """Start the server with the ``events`` view, then warm up: each
        request once, in process, through the functions the handler calls,
        from as many threads as there are connections. That pass also
        gives the rows every response is checked against."""
        self.server = self.api_server.serve(
            spark, table_paths={"events": os.path.join(self.sf_dir, "events.parquet")})
        keys = [r["key"] for r in self.requests()]
        with ThreadPoolExecutor(CONNS) as pool:
            self.expected = dict(zip(keys, pool.map(lambda k: self._in_process(spark, k), keys)))

    def _in_process(self, spark, key: str) -> str:
        """Digest of the rows the handler would send for request ``key``."""
        kind, name = key.split(":", 1)
        if kind == "op":
            df = self.registry[name].spark(spark, self.sf_dir).limit(LIMIT)
            envelope = self.api.envelope(df)
        elif kind == "query":
            envelope = self.api.query(spark, self.api_server.SAMPLE_QUERIES[name](TOP_N))
        else:
            envelope = self.api.query(spark, self.sql[int(name)])
        # through JSON, as the server sends it
        return digest(json.loads(json.dumps(envelope["data"], default=str)))

    def _trace_server(self, spark, tracer) -> list[str]:
        """Wrap the server-side layers. Each request gets a job group; an
        ``/op`` request's jobs after its build go to ``<group>:exec``."""
        sc = spark.sparkContext
        groups: list[str] = []
        counter = itertools.count()

        def group(prefix: str):
            def new_group(*_a, **_k):
                g = f"{prefix}{next(counter)}"
                groups.append(g)
                sc.setJobGroup(g, g)
            return new_group

        def plan(df):
            g = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{g}:exec", g)
            # planning is lazy and kept by the QueryExecution, so doing it
            # here only moves it out of the envelope's span
            with tracer.span("catalyst.plan", g):
                df._jdf.queryExecution().executedPlan()

        def request() -> str:
            return sc.getLocalProperty("spark.jobGroup.id").removesuffix(":exec")

        for name in OPS:
            tracer.patch(self.registry[name], "spark", "plans.build",
                         before=group("op"), op=request)
        tracer.patch(self.api, "envelope", "api.envelope", before=plan, op=request)
        tracer.patch(self.api, "query", "api.query", before=group("sql"), op=request)
        return groups

    def _load(self, rounds: int, phase: int) -> list[dict]:
        """Run the client process: ``rounds`` times every request."""
        job = {"port": self.server.server_address[1], "rounds": rounds,
               "conns": CONNS,
               "seed": self.seed * 1000 + phase, "requests": self.requests()}
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "api_client.py")],
            input=json.dumps(job), capture_output=True, text=True,
            timeout=170)
        if proc.returncode != 0:
            raise RuntimeError(f"api client failed: {proc.stderr[-2000:]}")
        return json.loads(proc.stdout)

    def _ok(self, r: dict) -> bool:
        return (r["status"] == 200 and r["error"] is None
                and r["digest"] == self.expected[r["key"]])

    def _check(self, results: list[dict]) -> tuple[list[float], int]:
        """(latencies of the good responses, number of bad ones)."""
        latencies = []
        failed = 0
        for r in results:
            if self._ok(r):
                latencies.append(r["end"] - r["start"])
            else:
                failed += 1
                print(f"api_serve: bad response {r}", file=sys.stderr)
        return latencies, failed

    def measure(self, spark, phase: int, tracer=None) -> dict:
        groups = self._trace_server(spark, tracer) if tracer else []
        try:
            results = self._load(self.rounds, phase)
        finally:
            if tracer:
                tracer.restore()
        latencies, failed = self._check(results)
        attempted = len(results)
        busy_s = max(r["end"] for r in results) - min(r["start"] for r in results)
        layers: dict[str, float] = {}
        if tracer:
            probe = SparkProbe(spark)
            probe.drain()
            for g in groups:
                first = probe.group_metrics(g)
                if g.startswith("op"):
                    layers["plans.build_jobs"] = layers.get("plans.build_jobs", 0) + first["jobs"]
                    rest = probe.group_metrics(f"{g}:exec")
                    first = {k: v + rest[k] for k, v in first.items()}
                for k, v in first.items():
                    layers[f"exec.{k}"] = layers.get(f"exec.{k}", 0) + v
            live, mb = probe.cache()
            layers["cache.live_rdds"], layers["cache.live_mb"] = live, mb
            server = tracer.totals()
            layers["api_server.wait_s"] = sum(latencies) - sum(
                server.get(k, 0.0)
                for k in ("plans.build", "catalyst.plan", "api.envelope", "api.query"))
        return {"latencies": latencies, "ops": len(latencies), "busy_s": busy_s,
                "attempted": attempted, "failed": failed, "layers": layers}

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
