"""Helpers shared by the workloads: statistics, the run record, memory
readings, the Spark session and per-job-group Spark metrics."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import time

from bench import _cpu_ticks, _steal_pct

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "clickhouse_github_log_importer_spark"


def cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


# --- statistics ------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would sit under
    the median, so the maximum is returned, with percentile 100."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def work_units(seconds: float, unit_s: float, trace: int) -> int:
    """Units of work (passes, rounds, compaction cycles) one timed phase
    runs: about ``seconds`` of work for a unit of ``unit_s`` seconds. A
    traced run has three timed phases and splits that work over them."""
    n = max(1, round(seconds / unit_s))
    return max(1, n // 3) if trace else n


def latency_metrics(latencies: list[float], ops: float, busy_s: float) -> dict:
    """The latency and throughput metrics every workload reports."""
    value, pct = tail(latencies)
    return {
        "throughput_per_s": ops / busy_s,
        "latency_p50_s": statistics.median(latencies),
        "latency_tail_s": value,
        "tail_percentile": pct,
        "samples": len(latencies),
    }


# --- run record ------------------------------------------------------------

def steal_pct(window_s: float = 0.2) -> float | None:
    """Share of CPU time stolen by the hypervisor over a short window,
    read from /proc/stat the way ``bench.py`` reads it."""
    a = _cpu_ticks()
    time.sleep(window_s)
    return _steal_pct(a, _cpu_ticks())


def source_id() -> str:
    """git sha of the checkout, or a digest of the engine's sources where
    the checkout is not a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src-" + h.hexdigest()[:16]


def host_sample() -> dict:
    return {"load1": os.getloadavg()[0], "steal_pct": steal_pct()}


# --- memory ----------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def jvm_pid() -> int | None:
    """The Spark driver JVM started by this process, if any."""
    for c in _children(os.getpid()):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    return c
        except OSError:
            continue
    return None


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this driver Python plus its JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    pid = jvm_pid()
    if pid is not None:
        kb += _status_kb(pid, "VmHWM")
    return kb / 1024.0


# --- Spark -----------------------------------------------------------------

def start_spark(work_dir: str):
    """The engine session at ``local[nproc]``, with every scratch file
    kept under ``work_dir``."""
    n = cpus()
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine by name
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    from clickhouse_github_log_importer_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run for the per-job-group metrics
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit; the JVM
    quits when its stdin closes, and takes its Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class SparkProbe:
    """Reads Spark's own counters from the driver JVM over py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm

    def drain(self) -> None:
        """Wait until the listener has recorded every finished job."""
        self.jsc.listenerBus().waitUntilEmpty()

    def group_metrics(self, group: str) -> dict:
        """Jobs, stages, tasks and task metrics of one job group."""
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        out = dict.fromkeys(("jobs", "stages", "tasks", "executor_run_s",
                             "executor_cpu_s", "shuffle_read_mb",
                             "shuffle_write_mb", "spill_mb"), 0)
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            stage_ids.update(list(info.stageIds))
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the status store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += (sd.shuffleLocalBytesRead()
                                       + sd.shuffleRemoteBytesRead()) / 2**20
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / 2**20
        return out

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3

    def cache(self) -> tuple[int, float]:
        """(live persisted RDDs, their stored MB)."""
        live = self.sc._jsc.getPersistentRDDs().size()
        mb = sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo()) / 2**20
        return live, mb


def engine_available() -> bool:
    try:
        __import__(PACKAGE)
    except ImportError as e:
        print(f"perfbench: cannot import {PACKAGE}: {e}", file=sys.stderr)
        return False
    return True


def result_hash(columns: list[str], rows: list) -> str:
    """Order-insensitive digest of a result, through the engine's own
    ``plans.verify.canonicalize`` (the same rule the oracle check uses)."""
    import json

    import pandas as pd

    from clickhouse_github_log_importer_spark.plans.verify import canonicalize

    df = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    return hashlib.sha256(json.dumps(canonicalize(df)).encode()).hexdigest()[:16]
