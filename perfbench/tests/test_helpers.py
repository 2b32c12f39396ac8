"""Tests for the benchmark's own helpers, plus a tiny smoke run of each
workload at sf0.001::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import json
import os
import subprocess
import sys
from datetime import datetime, timedelta

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import ghgen, tables  # noqa: E402
from perfbench.api_client import digest  # noqa: E402
from perfbench.common import ROOT, tail, work_units  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct = tail(values)
    assert value == 90 and pct == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_percentile_follows_sample_count():
    value, pct = tail([float(i) for i in range(40)])
    assert value == 29.0 and pct == 75.0


def test_tail_is_the_maximum_below_twenty_samples():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail([float(i) for i in range(19)]) == (18.0, 100.0)
    assert tail([float(i) for i in range(20)]) == (9.0, 50.0)


def test_work_units_split_over_traced_phases():
    assert work_units(20, 7.5, 0) == 3
    assert work_units(20, 7.5, 1) == 1
    assert work_units(60, 7.5, 1) == 2
    assert work_units(1, 7.5, 0) == work_units(1, 7.5, 1) == 1


def test_digest_ignores_row_order_only():
    rows = [["a", 1, 0.5], ["b", 2, None]]
    assert digest(rows) == digest(rows[::-1])
    assert digest(rows) != digest([["a", 1, 0.5], ["b", 3, None]])
    assert digest(rows) != digest(rows[:1])


def _write_all(corpus, root):
    paths = [ghgen.write(hf, str(root)) for hf in corpus.files]
    return {os.path.relpath(p, root): open(p, "rb").read() for p in paths}


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = _write_all(ghgen.generate(7, 4, 200), tmp_path / "a")
    b = _write_all(ghgen.generate(7, 4, 200), tmp_path / "b")
    c = _write_all(ghgen.generate(8, 4, 200), tmp_path / "c")
    assert a == b
    assert a.keys() == c.keys() and a != c


def _parse(line: str):
    return datetime.strptime(json.loads(line)["created_at"], "%Y-%m-%dT%H:%M:%SZ")


def test_events_fall_inside_their_file_hour(tmp_path):
    corpus = ghgen.generate(3, 12, 300)
    late = dups = corrupt = 0
    for hf in corpus.files:
        start = hf.hour.replace(tzinfo=None)
        end = start + timedelta(hours=1)
        with gzip.open(ghgen.write(hf, str(tmp_path)), "rt") as f:
            lines = f.read().splitlines()
        assert lines == hf.lines
        stamps = [_parse(ln) for ln in lines if "created_at" in json.loads(ln)]
        # no event is stamped after its file's hour; the first is on time
        assert all(t < end for t in stamps)
        assert start <= _parse(next(ln for ln in lines if "created_at" in ln))
        on_time = sum(start <= t for t in stamps)
        assert on_time >= len(stamps) - hf.late - hf.dups
        late, dups, corrupt = late + hf.late, dups + hf.dups, corrupt + hf.corrupt
    assert late and dups and corrupt
    # the hours cross a month boundary, and some late events do too
    months = {hf.hour.month for hf in corpus.files}
    assert months == {1, 2}
    assert corpus.distinct_events() == sum(len(f.lines) - f.corrupt - f.dups
                                           for f in corpus.files)


def test_corrupt_lines_are_valid_json():
    corpus = ghgen.generate(5, 3, 50, corrupt_per_file=3)
    bad = [ln for hf in corpus.files for ln in hf.lines if "created_at" not in ln]
    assert len(bad) == 9
    for ln in bad:
        assert isinstance(json.loads(ln)["repo"]["id"], str)


def test_tables_are_deterministic():
    a, b = tables.make_tables("sf0.001"), tables.make_tables("sf0.001")
    for name in a:
        assert a[name].equals(b[name]), name
    assert len(a["lineitem"]) == tables.SIZES["sf0.001"]["lineitem"]


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("op", "x"):
        with tr.span("child"):
            pass
    self_s, totals = tr.self_times(), tr.totals()
    assert self_s["op"] == pytest.approx(totals["op"] - totals["child"])
    assert {s.op for s in tr.spans} == {"x"}


@pytest.mark.parametrize("workload", ["query_mix", "api_serve", "ingest_ticks"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    if trace and workload == "ingest_ticks":
        assert result["metrics"]["pipeline.import_once_ratio"]["value"] == 1.0
        assert result["metrics"]["pipeline.reconcile_demoted"]["value"] == 0
