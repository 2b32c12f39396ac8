"""Pipeline state machine, idempotent re-import, ReplacingMergeTree dedup."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from clickhouse_github_log_importer_spark.operators.dedup_replacing import (
    compact,
    replacing_dedup,
)
from clickhouse_github_log_importer_spark.operators.parsers import (
    project_events,
    read_raw,
)
from clickhouse_github_log_importer_spark.sources.gharchive import hourly_file_list
from clickhouse_github_log_importer_spark.sources.manifest import FileStatus, Manifest
from clickhouse_github_log_importer_spark.streaming.pipeline import (
    reconcile,
    run_incremental,
)

from .fixtures import _env, events, write_gz


def test_hourly_file_list():
    # the reference's only unit test: count == hours in range, leap year ok
    from datetime import datetime, timezone

    start = datetime(2016, 2, 28, 0, tzinfo=timezone.utc)
    end = datetime(2016, 3, 1, 0, tzinfo=timezone.utc)
    lst = hourly_file_list(start, end)
    assert len(lst) == 2 * 24 + 1  # leap day included
    assert lst[0] == "2016/02/28/2016-02-28-0.json.gz"
    assert "2016/02/29/2016-02-29-12.json.gz" in lst
    # hour is not zero-padded (app/service/file_utils.ts:59-65)
    assert lst[1].endswith("2016-02-28-1.json.gz")


def test_manifest_roundtrip(tmp_path):
    m = Manifest(str(tmp_path / "meta.json"))
    m.ensure(["a.json.gz", "b.json.gz"])
    m.set("a.json.gz", FileStatus.Imported)
    m.save()
    m2 = Manifest(str(tmp_path / "meta.json"))
    assert m2.get("a.json.gz") == FileStatus.Imported
    assert m2.get("b.json.gz") == FileStatus.NeedDownload
    assert m2.stat() == {"Imported": 1, "NeedDownload": 1}


def test_run_incremental_and_reconcile(spark, tmp_path):
    data_dir = str(tmp_path / "data")
    rel = "2015/01/01/2015-01-01-15.json.gz"
    write_gz(os.path.join(data_dir, rel), events(), corrupt_lines=0)
    table = str(tmp_path / "events_table")
    meta = str(tmp_path / "meta.json")

    status = run_incremental(
        spark, meta, data_dir, table, expected_files=[rel]
    )
    assert status["imported"] == 1 and status["missing"] == 0
    df = spark.read.parquet(table)
    n1 = df.count()
    assert n1 == 12
    # month partitioning on disk (R1)
    assert os.path.isdir(os.path.join(table, "created_month=201501"))
    assert os.path.isdir(os.path.join(table, "created_month=201502"))

    # idempotent re-import: force the file back to Verified, run again,
    # the deduped view collapses to the same logical rows (T4/T7)
    m = Manifest(meta)
    m.set(rel, FileStatus.Verified)
    m.save()
    run_incremental(spark, meta, data_dir, table)
    raw = spark.read.parquet(table)
    assert raw.count() == 2 * n1
    assert replacing_dedup(raw).count() == n1

    # compaction rewrites partitions to the deduped state (OPTIMIZE analog)
    compact(spark, table)
    assert spark.read.parquet(table).count() == n1


def test_compaction_cadence_in_lifecycle(spark, tmp_path):
    """A8 as lifecycle maintenance: re-imports accrue duplicate rows; the
    Nth importing tick compacts exactly the touched months, the physical
    read cost drops back, and the deduped view never changes."""
    data_dir = str(tmp_path / "data")
    rel = "2015/01/01/2015-01-01-15.json.gz"
    write_gz(os.path.join(data_dir, rel), events(), corrupt_lines=0)
    table = str(tmp_path / "events_table")
    meta = str(tmp_path / "meta.json")

    def reimport():
        m = Manifest(meta)
        m.set(rel, FileStatus.Verified)
        m.save()
        return run_incremental(spark, meta, data_dir, table, compact_every=3)

    s1 = run_incremental(
        spark, meta, data_dir, table, expected_files=[rel], compact_every=3
    )
    n_logical = replacing_dedup(spark.read.parquet(table)).count()
    assert s1["compacted_months"] == []  # tick 1 of 3
    s2 = reimport()
    assert s2["compacted_months"] == []  # tick 2 of 3
    assert spark.read.parquet(table).count() == 2 * n_logical  # duplicates piled up
    s3 = reimport()
    # tick 3: cadence due -> exactly the accrued months rewritten
    assert s3["compacted_months"] == [201501, 201502]
    # physical row count back to logical: the deduped events_view now reads
    # 1x the data instead of 3x
    assert spark.read.parquet(table).count() == n_logical
    assert replacing_dedup(spark.read.parquet(table)).count() == n_logical
    # counter reset: the next import starts a fresh cadence window
    s4 = reimport()
    assert s4["compacted_months"] == []
    assert spark.read.parquet(table).count() == 2 * n_logical


def test_reconcile_demotes_missing_hours(spark, tmp_path):
    data_dir = str(tmp_path / "data")
    rel = "2015/01/01/2015-01-01-15.json.gz"
    write_gz(os.path.join(data_dir, rel), events(), corrupt_lines=0)
    table = str(tmp_path / "events_table")
    meta = str(tmp_path / "meta.json")
    run_incremental(spark, meta, data_dir, table, expected_files=[rel])

    # claim an hour that was never imported
    m = Manifest(meta)
    ghost = "2015/01/01/2015-01-01-16.json.gz"
    m.ensure([ghost])
    m.set(ghost, FileStatus.Imported)
    m.save()
    missing = reconcile(spark, m, table)
    assert missing == [ghost]
    assert m.get(ghost) == FileStatus.Verified  # demoted for re-import
    assert m.get(rel) == FileStatus.Imported  # real hour untouched


def test_replacing_dedup_version_precedence(spark, tmp_path):
    # same dedup key with from_api 0 and 1 -> API row wins (SURVEY 4.3)
    path = str(tmp_path / "2015-01-01-15.json.gz")
    write_gz(path, events()[:1], corrupt_lines=0)
    log_row = project_events(read_raw(spark, path), from_api=0)
    api_row = project_events(read_raw(spark, path), from_api=1).withColumn(
        "body", F.lit("refreshed-from-api")
    )
    both = log_row.unionByName(api_row)
    kept = replacing_dedup(both).collect()
    assert len(kept) == 1
    assert kept[0]["from_api"] == 1 and kept[0]["body"] == "refreshed-from-api"


def test_corrupt_file_demoted(tmp_path):
    import gzip

    from clickhouse_github_log_importer_spark.sources.gharchive import check_validity

    data_dir = tmp_path / "data"
    bad_rel = "2015/01/01/2015-01-01-16.json.gz"
    bad = data_dir / bad_rel
    bad.parent.mkdir(parents=True)
    bad.write_bytes(b"not gzip at all")
    ok_rel = "2015/01/01/2015-01-01-15.json.gz"
    write_gz(str(data_dir / ok_rel), events()[:2], corrupt_lines=0)

    m = Manifest(str(tmp_path / "meta.json"))
    m.ensure([bad_rel, ok_rel])
    m.set(bad_rel, FileStatus.Downloaded)
    m.set(ok_rel, FileStatus.Downloaded)
    check_validity(m, str(data_dir))
    assert m.get(bad_rel) == FileStatus.NeedDownload  # deleted + demoted (T5)
    assert not bad.exists()
    assert m.get(ok_rel) == FileStatus.Verified


def test_corrupt_lines_counted_in_status(spark, tmp_path):
    # a file that passes the whole-file validity gate can still carry no
    # corrupt lines; inject one post-validation to exercise the row-level
    # quarantine counter (permissive parse skips it, status reports it)
    import gzip

    data_dir = str(tmp_path / "data")
    rel = "2015/01/01/2015-01-01-15.json.gz"
    # rows the parse layer drops mark no month: a type with no parser and
    # an issue-family row with neither issue nor pull request, each in a
    # month no kept row has
    dropped = [
        _env(200, "GollumEvent", {"pages": []}, created="2015-03-04T10:00:00Z"),
        _env(201, "IssuesEvent", {"action": "opened"}, created="2015-04-04T10:00:00Z"),
    ]
    write_gz(os.path.join(data_dir, rel), events() + dropped, corrupt_lines=0)
    meta = str(tmp_path / "meta.json")
    m = Manifest(meta)
    m.ensure([rel])
    m.set(rel, FileStatus.Verified)  # bypass the file-level gate
    m.save()
    with gzip.open(os.path.join(data_dir, rel), "at") as f:
        f.write("{broken json\n")
    from clickhouse_github_log_importer_spark.streaming.pipeline import (
        import_verified,
        update_status,
    )

    n_files, n_corrupt, months = import_verified(
        spark, m, data_dir, str(tmp_path / "tbl")
    )
    assert n_files == 1 and n_corrupt == 1 and months == [201501, 201502]
    status = update_status(m, meta + ".status.json", import_fail=n_corrupt)
    assert status["importFail"] == 1
