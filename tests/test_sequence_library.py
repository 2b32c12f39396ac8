"""Library dispatchers (operators/sequence.py): DataFrame-in forms of
sequence_match / sequence_count must equal the registry internals on
the same data, validate inputs loudly, and accept a raw `ts` timestamp
column (normalizing like every other events consumer)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_github_log_importer_spark.operators.sequence import (
    sequence_count,
    sequence_match,
)
from clickhouse_github_log_importer_spark.plans.queries import t


def _events(spark, sf_smoke):
    return t(spark, sf_smoke, "events")


def test_match_existence_equals_registry_internal(spark, sf_smoke):
    from clickhouse_github_log_importer_spark.plans.queries import (
        _sequence_match_users,
    )

    ev = _events(spark, sf_smoke)
    got = {
        r["user_id"]
        for r in sequence_match(
            ev, "(?1)(?t<3600)(?2)(?3)", ("signup", "click", "purchase")
        ).collect()
    }
    want = {
        r["user_id"]
        for r in _sequence_match_users(
            spark,
            sf_smoke,
            "(?1)(?t<3600)(?2)(?3)",
            conds=("signup", "click", "purchase"),
        ).collect()
    }
    assert got == want and want


def test_match_adjacency_equals_registry_internal(spark, sf_smoke):
    from clickhouse_github_log_importer_spark.plans.queries import (
        _SEQ_CONDS,
        _sequence_match_adjacent_users,
    )

    ev = _events(spark, sf_smoke)
    got = {
        r["user_id"]
        for r in sequence_match(
            ev, "(?1)(?2)", _SEQ_CONDS, semantics="adjacency"
        ).collect()
    }
    want = {
        r["user_id"]
        for r in _sequence_match_adjacent_users(
            spark, sf_smoke, "(?1)(?2)"
        ).collect()
    }
    assert got == want


def test_count_dispatches_timed_and_untimed(spark, sf_smoke):
    # both dispatch arms against the pure-python greedy timed-restart
    # twin run over each user's collected stream in (ts, event_id) order
    # (no Spark kernel on the reference side); the timed arm also equals
    # its registry battery's rows for the same pattern
    from clickhouse_github_log_importer_spark.operators.sequence import (
        _parse_seq_pattern,
    )
    from clickhouse_github_log_importer_spark.operators.sequence_backtracking import (
        greedy_count_timed_py,
    )
    from clickhouse_github_log_importer_spark.plans.queries import REGISTRY

    conds = ("signup", "click", "purchase")
    ev = _events(spark, sf_smoke)
    per_user: dict[int, list] = {}
    for r in ev.select("user_id", "ts_us", "event_id", "event_type").collect():
        per_user.setdefault(r["user_id"], []).append(
            (r["ts_us"], r["event_id"], r["event_type"])
        )

    def reference(pattern):
        steps, edges = _parse_seq_pattern(pattern)
        types = [conds[i - 1] for i in steps]
        out = set()
        for u, evs in per_user.items():
            evs = sorted(evs)
            c = greedy_count_timed_py(
                [e for _, _, e in evs], [ts for ts, _, _ in evs], types, edges
            )
            if c:
                out.add((u, c))
        return out

    got_u = {
        (r["user_id"], r["seq_count"])
        for r in sequence_count(ev, "(?1)(?2)", conds).collect()
    }
    want_u = reference("(?1)(?2)")
    assert got_u == want_u and want_u
    got_t = {
        (r["user_id"], r["seq_count"])
        for r in sequence_count(ev, "(?1)(?t>43200)(?2)", conds).collect()
    }
    want_t = reference("(?1)(?t>43200)(?2)")
    assert got_t == want_t
    registry = REGISTRY["sequence_count_timed"].spark(spark, sf_smoke)
    registry_t = {
        (r["user_id"], r["seq_count"])
        for r in registry.collect()
        if r["pattern"] == "(?1)(?t>43200)(?2)"
    }
    assert got_t == registry_t


def test_accepts_raw_ts_column(spark, sf_smoke):
    # a frame WITHOUT ts_us (raw parquet shape) normalizes internally
    raw = spark.read.parquet(f"{sf_smoke}/events.parquet")
    assert "ts_us" not in raw.columns
    out = sequence_match(raw, "(?1)(?2)", ("signup", "click"))
    assert out.count() > 0


def test_validation_errors(spark, sf_smoke):
    ev = _events(spark, sf_smoke)
    with pytest.raises(ValueError, match="unknown semantics"):
        sequence_match(ev, "(?1)(?2)", ("signup", "click"), semantics="regex")
    with pytest.raises(ValueError, match="ts_us"):
        sequence_match(
            ev.select("user_id", "event_type"), "(?1)", ("signup",)
        )
    with pytest.raises(ValueError, match="event_id"):
        sequence_count(
            ev.select("user_id", "event_type", "ts_us"), "(?1)", ("signup",)
        )


def test_no_count_engine_import_from_plan_layer():
    # how a pattern compiles to a counting automaton is decided in
    # operators/sequence.py: no operator or streaming module may reach
    # into plans/queries.py for a count-engine name (the layering the
    # engine move fixed — operators must not depend on the plan layer)
    import ast
    from pathlib import Path

    import clickhouse_github_log_importer_spark as pkg

    def engine_name(name: str) -> bool:
        return name == "_parse_seq_pattern" or name.startswith(
            ("_seq_count_", "_sequence_count_")
        )

    root = Path(pkg.__file__).parent
    bad = []
    for sub in ("operators", "streaming"):
        for path in sorted((root / sub).glob("*.py")):
            tree = ast.parse(path.read_text())
            queries_aliases = set()
            for node in ast.walk(tree):
                if not isinstance(node, ast.ImportFrom):
                    continue
                mod = node.module or ""
                if mod.endswith("plans.queries"):
                    bad += [
                        f"{path.name}:{node.lineno} {a.name}"
                        for a in node.names
                        if engine_name(a.name)
                    ]
                elif mod.endswith("plans"):
                    queries_aliases |= {
                        a.asname or a.name
                        for a in node.names
                        if a.name == "queries"
                    }
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in queries_aliases
                    and engine_name(node.attr)
                ):
                    bad.append(f"{path.name}:{node.lineno} {node.attr}")
    assert not bad, bad
