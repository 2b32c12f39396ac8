"""``ingest_ticks``: one caller runs a fixed number of
``streaming.pipeline.run_incremental`` ticks, starting from an empty table.

Before each tick the next hour files of a seeded corpus (``ghgen``) are
staged into the data directory and named in ``expected_files``; the tick
validates, reconciles, imports and, every ``COMPACT_EVERY`` importing
ticks, compacts. This is the write path: ``sources``, ``operators.parsers``,
the parquet append, ``reconcile`` and ``operators.dedup_replacing.compact``.
It runs none of the registry kernels.

Checks: every tick imports exactly its new files; the quarantined line
counts add up to the corrupt lines injected; after the last tick, which
compacts, the table holds exactly one row per distinct event generated.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import nullcontext

from perfbench import ghgen
from perfbench.common import SparkProbe, work_units

FILES_PER_TICK = 2
EVENTS_PER_FILE = 2000
SMOKE_EVENTS_PER_FILE = 50
COMPACT_EVERY = 3
#: two compaction cycles, so each timed phase starts at a cycle's start.
#: Ticks get faster until about the sixth from an empty table, as the
#: Spark driver JVM compiles the parse, write and py4j paths; a shorter
#: warm-up leaves that curve in the timed ticks, and how fast it settles
#: depends on how busy the host is.
WARMUP_TICKS = 2 * COMPACT_EVERY
#: seconds one warm tick takes on 4 cores; sizes the run
TICK_S = 3.2


class IngestTicks:
    name = "ingest_ticks"

    def __init__(self, args, work_dir: str):
        # a whole number of compaction cycles per timed phase, so every
        # phase (and the traced one against the untraced) compacts equally
        self.ticks = COMPACT_EVERY * work_units(
            args.seconds, TICK_S * COMPACT_EVERY, args.trace)
        phases = 3 if args.trace else 1  # a traced run has three timed phases
        n_ticks = WARMUP_TICKS + phases * self.ticks
        per_file = SMOKE_EVENTS_PER_FILE if args.sf == "sf0.001" else EVENTS_PER_FILE
        self.sf = f"gharchive-{FILES_PER_TICK}x{per_file}"
        self.corpus = ghgen.generate(args.seed, n_ticks * FILES_PER_TICK, per_file)
        root = os.path.join(work_dir, "ingest")
        # every hour file is written before set-up starts, so neither
        # setup_s nor a tick includes generating it; a tick moves its files
        # into the data directory
        self.incoming = os.path.join(root, "incoming")
        for hf in self.corpus.files:
            ghgen.write(hf, self.incoming)
        self.data_dir = os.path.join(root, "data")
        self.table = os.path.join(root, "events")
        self.meta = os.path.join(root, "meta.json")
        self.staged: list[str] = []
        self.next_file = 0
        self.import_fail = 0
        self.bad_ticks = 0
        self._group = "warmup"  # job group of the current tick, traced runs
        from clickhouse_github_log_importer_spark.streaming import pipeline

        self.pipeline = pipeline

    def _tick(self, spark) -> tuple[float, int]:
        batch = self.corpus.files[self.next_file:self.next_file + FILES_PER_TICK]
        self.next_file += len(batch)
        for hf in batch:
            os.renames(os.path.join(self.incoming, hf.rel_path),
                       os.path.join(self.data_dir, hf.rel_path))
            self.staged.append(hf.rel_path)
        t0 = time.perf_counter()
        status = self.pipeline.run_incremental(
            spark, self.meta, self.data_dir, self.table,
            expected_files=list(self.staged), compact_every=COMPACT_EVERY)
        dt = time.perf_counter() - t0
        self.import_fail += status["importFail"]
        if status["imported_this_run"] != len(batch) or status["missing"]:
            print(f"ingest_ticks: tick imported {status['imported_this_run']} "
                  f"of {len(batch)} new files, {status['missing']} missing",
                  file=sys.stderr)
            self.bad_ticks += 1
        return dt, sum(len(hf.lines) for hf in batch)

    def setup(self, spark) -> None:
        """Warm-up: the first ticks from the empty table."""
        for _ in range(WARMUP_TICKS):
            self._tick(spark)

    def _trace_pipeline(self, spark, tracer, layers: dict) -> None:
        """Wrap the functions ``run_incremental`` looks up in its module."""
        from clickhouse_github_log_importer_spark.sources.manifest import FileStatus

        pl = self.pipeline
        imported: set[str] = set()

        def add(key: str, value: float) -> None:
            layers[key] = layers.get(key, 0) + value

        def before_validity(manifest, data_dir):
            return sum(os.path.getsize(os.path.join(data_dir, k))
                       for k in manifest.keys_with(FileStatus.Downloaded))

        def before_import(_spark, manifest, *_a, **_k):
            todo = manifest.keys_with(FileStatus.Verified)
            add("pipeline.import_attempts", len(todo))
            imported.update(todo)
            return self._rows(spark)

        def after_import(rows_before, result, *_a, **_k):
            add("parsers.corrupt_rows", result[1])
            add("pipeline.import_files", result[0])
            add("parsers.records_out", self._rows(spark) - rows_before)
            layers["pipeline.import_distinct"] = len(imported)

        def before_compact(_spark, table_path, months=None):
            return self._rows(spark)

        tracer.patch(pl, "check_existing", "sources.check_existing")
        tracer.patch(pl, "check_validity", "sources.check_validity",
                     before=before_validity,
                     after=lambda nbytes, *_a: add("sources.validated_mb", nbytes / 2**20))
        tracer.patch(pl, "reconcile", "pipeline.reconcile",
                     after=lambda _s, r, *_a: add("pipeline.reconcile_demoted", len(r)))
        tracer.patch(pl, "import_verified", "pipeline.import",
                     before=before_import, after=after_import)
        tracer.patch(pl, "update_status", "pipeline.status")
        tracer.patch(pl, "compact", "dedup.compact", before=before_compact,
                     after=lambda n, *_a, **_k: add("dedup.rows_removed", n - self._rows(spark)))

    def _rows(self, spark) -> int:
        if not os.path.exists(self.table):
            return 0
        spark.sparkContext.setJobGroup("perfbench-count", "bookkeeping")
        n = spark.read.parquet(self.table).count()
        spark.sparkContext.setJobGroup(self._group, "tick")
        return n

    def measure(self, spark, phase: int, tracer=None) -> dict:
        latencies: list[float] = []
        records = 0
        layers: dict[str, float] = {}
        probe = SparkProbe(spark) if tracer else None
        bad_before = self.bad_ticks
        if tracer:
            self._trace_pipeline(spark, tracer, layers)
        try:
            for i in range(self.ticks):
                self._group = f"{phase}.{i}"
                if tracer:
                    spark.sparkContext.setJobGroup(self._group, "tick")
                with tracer.span("tick", self._group) if tracer else nullcontext():
                    dt, n = self._tick(spark)
                latencies.append(dt)
                records += n
                if probe:
                    probe.drain()
                    for k, v in probe.group_metrics(self._group).items():
                        layers[f"exec.{k}"] = layers.get(f"exec.{k}", 0) + v
        finally:
            if tracer:
                tracer.restore()
        failed = self.bad_ticks - bad_before
        return {"latencies": latencies, "ops": records, "busy_s": sum(latencies),
                "attempted": self.ticks, "failed": failed, "layers": layers}

    def final_check(self, spark) -> bool:
        """Quarantine count and the row count after the last compaction.
        Every phase is whole compaction cycles, so the last tick compacted
        all the months it left pending; the count checks that cadence."""
        staged = self.corpus.files[:self.next_file]
        corrupt = sum(hf.corrupt for hf in staged)
        rows = spark.read.parquet(self.table).count()
        distinct = self.corpus.distinct_events(self.next_file)
        ok = rows == distinct and self.import_fail == corrupt
        if not ok:
            print(f"ingest_ticks: {rows} rows for {distinct} distinct events, "
                  f"importFail {self.import_fail} for {corrupt} corrupt lines",
                  file=sys.stderr)
        return ok
