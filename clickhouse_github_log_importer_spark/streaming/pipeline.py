"""The scheduled micro-batch pipeline (SURVEY 3.1, T1-T7).

Reference lifecycle (``app/schedule/update_log.ts:10-52``): hourly cron ->
exist-check -> validate -> download -> validate -> reconcile -> import ->
status. Unit of work and of commit is one hourly file. Here the same
lifecycle is one :func:`run_incremental` call; the scheduler is external
(cron / Airflow / ``Trigger.AvailableNow`` streaming — see
:func:`streaming_ingest`).

Scale shape: import reads ONLY files in Verified state (incremental, never
the backlog), parses them in one distributed job (task per gzip file),
appends to the month-partitioned events store, and reconciles with an
anti-join of expected hours vs stored hours *pushed down to the month
partitions touched by the batch*. Nothing in the loop scans the full table,
so steady-state cost is O(batch), not O(history) — the property that keeps
an hourly cadence viable when history is 100 TB.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup_replacing import compact, replacing_dedup
from ..operators.parsers import CREATED_MONTH, KEEP, project_events, read_raw
from ..sources.gharchive import check_existing, check_validity, download_missing
from ..sources.manifest import FileStatus, Manifest

#: hour-bucket key yyyyMMddHH, the reconciliation granule
#: (floor(toYYYYMMDDhhmmss/10000), app/service/log_importer_status_checker.ts:25)
HOUR_KEY_FMT = "yyyyMMddHH"


class PipelineLock:
    """T2: at-most-once-running lock (app/schedule/update_log.ts:11-18 uses
    an in-process cache key; README.md:51 documents a .lock file for
    cross-process). O_EXCL lockfile; stale locks are broken after
    ``stale_s`` so a crashed run cannot wedge the schedule."""

    def __init__(self, path: str, stale_s: int = 2 * 3600):
        self.path = path
        self.stale_s = stale_s
        self.acquired = False

    def __enter__(self) -> "PipelineLock":
        import time as _t

        if os.path.exists(self.path):
            age = _t.time() - os.path.getmtime(self.path)
            if age < self.stale_s:
                raise RuntimeError(f"pipeline already running (lock {self.path})")
            os.remove(self.path)  # break stale lock
        fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        self.acquired = True
        return self

    def __exit__(self, *exc) -> None:
        if self.acquired and os.path.exists(self.path):
            os.remove(self.path)


def key_for_path(rel_path: str) -> int:
    """F9/P20: yyyy/MM/dd/yyyy-MM-dd-H.json.gz -> yyyyMMddHH int key."""
    base = os.path.basename(rel_path)[: -len(".json.gz")]
    y, m, d, h = base.split("-")
    return int(y) * 1000000 + int(m) * 10000 + int(d) * 100 + int(h)


def import_verified(
    spark: SparkSession,
    manifest: Manifest,
    data_dir: str,
    table_path: str,
    batch_files: int = 256,
) -> tuple[int, int, list[int]]:
    """logImporter.import (app/service/log_importer.ts:12-99).

    Reads all Verified files as ONE Spark job (a non-splittable gzip file
    is exactly one task — the reference's file-per-worker parallelism,
    but cluster-wide), projects to the wide schema, appends month
    partitions. Commit protocol: manifest statuses flip to Imported only
    after the write succeeds; a crash between write and manifest save is
    healed by reconcile() + ReplacingMergeTree dedup (idempotent re-import).

    Returns ``(n_files, n_corrupt, months)``: the files imported, the
    lines the permissive reader could not parse, and the sorted distinct
    ``created_month`` values of the rows written.
    """
    todo = manifest.keys_with(FileStatus.Verified)[:batch_files]
    if not todo:
        return 0, 0, []
    paths = [os.path.join(data_dir, k) for k in todo]
    # Cache the parsed batch: Catalyst refuses plans whose referenced columns
    # are ONLY `_corrupt_record` (QUERY_ONLY_CORRUPT_RECORD_COLUMN) unless the
    # parse result is materialized first. The cache is bounded — one ingest
    # batch of hourly files, not the corpus — and is reused by both the write
    # and the batch summary, so the gzip files are decompressed once.
    raw = read_raw(spark, paths).cache()
    try:
        (
            project_events(raw).write.mode("append")
            .partitionBy("created_month")
            .parquet(table_path)
        )
        # One job over the cached batch for both figures:
        # - row-level quarantine accounting (T5 at line granularity): lines
        #   the permissive reader could not parse were skipped by
        #   project_events; the count goes to the status document
        #   (importFail analog);
        # - partitions touched by this batch, FROM THE DATA (an hourly file
        #   can carry rows of other months — late events), over the rows
        #   project_events kept; feeds the compaction cadence so only
        #   dirtied months ever rewrite.
        n_corrupt, months = raw.selectExpr(
            "count_if(_corrupt_record IS NOT NULL)",
            f"collect_set({CREATED_MONTH}) FILTER (WHERE {KEEP})",
        ).first()
        months = sorted(months)
    finally:
        raw.unpersist()
    for k in todo:
        manifest.set(k, FileStatus.Imported)
    manifest.save()
    return len(todo), n_corrupt, months


def reconcile(
    spark: SparkSession, manifest: Manifest, table_path: str
) -> list[str]:
    """T4/J3: demote hours marked Imported but absent from the store.

    The reference's anti-join (``log_importer_status_checker.ts:23-26``):
    claimed hour keys NOT IN (distinct hour buckets present in the table).
    We restrict the scan to the claimed months so partition pruning does
    the heavy lifting.
    """
    imported = manifest.keys_with(FileStatus.Imported)
    if not imported:
        return []
    keys = [(k, key_for_path(k)) for k in imported]
    months = sorted({hk // 10000 for _, hk in keys})
    claimed = spark.createDataFrame(keys, "path string, h long")
    present = (
        spark.read.parquet(table_path)
        .filter(F.col("created_month").isin(months))
        .select(
            F.date_format("created_at", HOUR_KEY_FMT).cast("long").alias("h")
        )
        .distinct()
    )
    missing = [
        r["path"] for r in claimed.join(present, "h", "left_anti").collect()
    ]
    for k in missing:
        manifest.set(k, FileStatus.Verified)  # re-import next run
    if missing:
        manifest.save()
    return sorted(missing)


def update_status(
    manifest: Manifest, status_path: str, reason: str = "ok", import_fail: int = 0
) -> dict:
    """A10/S13: status.json roll-up (app/service/update_status.ts:9-41)."""
    statuses = dict(manifest.items())
    total = len(statuses)
    imported = sum(1 for v in statuses.values() if v == FileStatus.Imported)
    missing = sorted(k for k, v in statuses.items() if v != FileStatus.Imported)
    status = {
        "reason": reason,
        "total": total,
        "imported": imported,
        "importFail": import_fail,
        "missing": total - imported,
        "missingRate": round((total - imported) / total, 6) if total else 0.0,
        "missingArr": missing,
        "updateTime": datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S"),
    }
    with open(status_path, "w") as f:
        json.dump(status, f)
    return status


def _compact_state_load(path: str) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"ticks_since_compact": 0, "pending_months": []}


def _compact_state_save(path: str, state: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, path)


def maybe_compact(
    spark: SparkSession,
    table_path: str,
    state_path: str,
    new_months: list[int],
    compact_every: int,
) -> list[int]:
    """The OPTIMIZE-on-a-cadence leg of the lifecycle (A8 as maintenance,
    not just on demand — ClickHouse merges ReplacingMergeTree parts in the
    background; here every append tick accrues its touched months and
    every ``compact_every``-th accruing tick rewrites exactly those
    partitions via :func:`..operators.dedup_replacing.compact`.

    Returns the months compacted this tick (empty when the cadence has
    not come due). State (tick counter + pending month set) lives in a
    small JSON sidecar next to the manifest, written atomically — a crash
    between compact and save merely re-compacts the same months, which is
    idempotent. Compaction cost tracks the accrued batch's months, never
    the table: the O(batch) tick property survives.
    """
    state = _compact_state_load(state_path)
    if new_months:
        state["pending_months"] = sorted(set(state["pending_months"]) | set(new_months))
        state["ticks_since_compact"] += 1
    done: list[int] = []
    if state["pending_months"] and state["ticks_since_compact"] >= compact_every:
        done = list(state["pending_months"])
        compact(spark, table_path, months=done)
        state = {"ticks_since_compact": 0, "pending_months": []}
    _compact_state_save(state_path, state)
    return done


def run_incremental(
    spark: SparkSession,
    meta_path: str,
    data_dir: str,
    table_path: str,
    status_path: str | None = None,
    expected_files: list[str] | None = None,
    fetcher=None,
    download: bool = False,
    compact_every: int | None = 24,
) -> dict:
    """One full pipeline tick (the hourly cron body, update_log.ts:10-52).

    ``compact_every``: every N importing ticks, the months appended since
    the last compaction are partition-rewritten through the
    ReplacingMergeTree OPTIMIZE analog (24 = daily at the hourly cadence);
    None disables the maintenance leg.
    """
    manifest = Manifest(meta_path)
    if expected_files:
        manifest.ensure(expected_files)
    check_existing(manifest, data_dir)
    check_validity(manifest, data_dir)
    if download:
        download_missing(manifest, data_dir, fetcher=fetcher)
        check_validity(manifest, data_dir)
    if os.path.exists(table_path):
        reconcile(spark, manifest, table_path)
    n, n_corrupt, months = import_verified(spark, manifest, data_dir, table_path)
    compacted: list[int] = []
    if compact_every is not None and os.path.exists(table_path):
        compacted = maybe_compact(
            spark, table_path, meta_path + ".compact.json", months, compact_every
        )
    status = update_status(
        manifest, status_path or meta_path + ".status.json", import_fail=n_corrupt
    )
    status["imported_this_run"] = n
    status["compacted_months"] = compacted
    return status


def events_view(spark: SparkSession, table_path: str) -> DataFrame:
    """Canonical deduped events relation (SURVEY 4.3 choice 1)."""
    return replacing_dedup(spark.read.parquet(table_path))


def streaming_ingest(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Structured Streaming upgrade path of the same ingest (SURVEY 2.9).

    File-source + checkpoint replaces the manifest state machine with
    Spark-managed exactly-once file tracking; ``dropDuplicates`` on the
    dedup key + watermark replaces read-time dedup for in-flight batches.
    The reference has no true streaming, so this is additive surface.
    """
    from ..operators.parsers import RAW_EVENT_SCHEMA
    from ..schema import DEDUP_KEY

    raw = (
        spark.readStream.schema(RAW_EVENT_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", 256)
        .json(input_dir)
    )
    events = project_events(raw)
    key = [k for k in DEDUP_KEY if k not in ("created_year",)]
    deduped = (
        events.withWatermark("created_at", "1 hour")
        .dropDuplicates([*key])
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", table_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("created_month")
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
