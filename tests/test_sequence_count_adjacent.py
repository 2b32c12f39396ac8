"""Adjacency-aware sequenceCount (operators/sequence.py: _seq_count_dfa /
_sequence_count_battery_fused / sequence_count_adjacent): the counting
DFA must equal a leftmost non-overlapping LAZY-regex reference on
fuzzed streams (ClickHouse's matcher scans to the FIRST occurrence of
the next word), blockers/KMP-fallback/non-overlap subtleties must hold
on constructed fixtures, and single-step-word patterns must reduce to
the filtered-stream restart automaton."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from clickhouse_github_log_importer_spark.operators.sequence import (
    _parse_seq_pattern,
    _restart_dfa,
    _seq_count_dfa,
    _sequence_count_battery_fused,
    sequence_count,
)
from clickhouse_github_log_importer_spark.plans.queries import (
    _SEQ_CONDS,
    _SEQ_COUNT_ADJ_PATTERNS,
    _SEQ_COUNT_PATTERNS,
    REGISTRY,
    t,
)
from clickhouse_github_log_importer_spark.plans.verify import duckdb_connection
from tests.test_behavioral import _write_events

S = 1_000_000


def _dfa_count(pattern, conds, seq):
    delta, emit = _seq_count_dfa(pattern, conds)
    sym = {t: a for a, t in enumerate(conds)}
    s = c = 0
    for ev in seq:
        a = sym[ev]
        c += emit[s][a]
        s = delta[s][a]
    return c


def _regex_count(pattern, conds, seq):
    steps, _, adj = _parse_seq_pattern(pattern, with_adjacency=True)
    types = [conds[i - 1] for i in steps]
    sym = {t: chr(ord("A") + a) for a, t in enumerate(conds)}
    rx = ""
    for k, tp in enumerate(types):
        if k and not adj[k - 1]:
            rx += ".*?"  # lazy: CH scans to the FIRST next-word hit
        rx += sym[tp]
    s = "".join(sym[e] for e in seq)
    cnt, pos = 0, 0
    pat = re.compile(rx)
    while True:
        m = pat.search(s, pos)
        if not m:
            return cnt
        cnt += 1
        pos = m.end()


def _counts(spark, sf, pattern, conds=_SEQ_CONDS, semantics="adjacency"):
    return {
        r["user_id"]: r["seq_count"]
        for r in sequence_count(
            t(spark, sf, "events"), pattern, conds, semantics=semantics
        ).collect()
    }


def test_dfa_fuzz_vs_leftmost_regex():
    conds = ("a", "b", "c")
    pats = [
        "(?1)(?2)", "(?1)(?1)", "(?1)(?2)(?1)", "(?1)(?2).*(?3)",
        "(?2)(?1)(?2)", "(?1).*(?2)", "(?1)(?1)(?2)",
        "(?1).*(?1)(?2).*(?2)",
    ]
    rng = random.Random(42)
    for pat in pats:
        for _ in range(300):
            seq = [rng.choice(conds) for _ in range(rng.randint(0, 14))]
            assert _dfa_count(pat, conds, seq) == _regex_count(
                pat, conds, seq
            ), (pat, seq)


def test_adjacency_blocker_and_kmp_fallback(spark, tmp_path):
    conds = ("signup", "click", "purchase", "view")
    rows = [
        # u1: s c s c -> '(?1)(?2)' counts 2 non-overlapping pairs
        (1, 0, 1, "signup"), (2, 1 * S, 1, "click"),
        (3, 2 * S, 1, "signup"), (4, 3 * S, 1, "click"),
        # u2: s v c -> view blocks adjacency (declared condition)
        (5, 0, 2, "signup"), (6, 1 * S, 2, "view"),
        (7, 2 * S, 2, "click"),
        # u3: s ERROR c -> error undeclared: invisible, pair counts
        (8, 0, 3, "signup"), (9, 1 * S, 3, "error"),
        (10, 2 * S, 3, "click"),
        # u4: s s c -> KMP fallback: the second s re-anchors, pair at
        # events 2-3 counts (a naive restart-to-zero would miss it)
        (11, 0, 4, "signup"), (12, 1 * S, 4, "signup"),
        (13, 2 * S, 4, "click"),
        # u5: s s s -> '(?1)(?1)' non-overlapping counts 1 (not 2)
        (14, 0, 5, "signup"), (15, 1 * S, 5, "signup"),
        (16, 2 * S, 5, "signup"),
    ]
    sf = _write_events(tmp_path, rows)

    def got(pattern):
        return _counts(spark, sf, pattern, conds)

    assert got("(?1)(?2)") == {1: 2, 3: 1, 4: 1}
    assert got("(?1)(?1)") == {4: 1, 5: 1}
    assert got("(?1).*(?2)") == {1: 2, 2: 1, 3: 1, 4: 1}


def test_single_step_words_reduce_to_restart_automaton(spark, sf_smoke):
    # '(?1).*(?2)' under adjacency counting == '(?1)(?2)' under the
    # filtered-stream restart automaton (words of length 1 make the
    # DFA the same greedy chain counter)
    conds = ("signup", "click")
    adj = set(_counts(spark, sf_smoke, "(?1).*(?2)", conds).items())
    base = set(
        _counts(spark, sf_smoke, "(?1)(?2)", conds, "existence").items()
    )
    assert adj == base and base


def test_registry_entry_patterns(spark, sf_smoke):
    got = {
        r["pattern"]
        for r in REGISTRY["sequence_count_adjacent"]
        .spark(spark, sf_smoke)
        .collect()
    }
    assert got <= {
        "(?1)(?2)", "(?2)(?2)", "(?1)(?2).*(?3)", "(?2)(?3)(?2)"
    }


def test_rejects_time_edges(spark):
    with pytest.raises(ValueError, match="time-constrained"):
        _sequence_count_battery_fused(
            t(spark, "/root/testdata/sf0.001", "events"),
            ["(?1)(?t<10)(?2)"],
            _SEQ_CONDS,
        )


def test_library_dispatcher_adjacency(spark, sf_smoke):
    # the dispatcher against the leftmost lazy-regex reference run over
    # each user's collected declared stream in (ts, event_id) order
    conds = ("signup", "click", "purchase")
    lib = set(_counts(spark, sf_smoke, "(?1)(?2)", conds).items())
    seqs: dict[int, list] = {}
    for r in (
        t(spark, sf_smoke, "events")
        .filter(F.col("event_type").isin(*conds))
        .select("user_id", "ts_us", "event_id", "event_type")
        .collect()
    ):
        seqs.setdefault(r["user_id"], []).append(
            (r["ts_us"], r["event_id"], r["event_type"])
        )
    ref = set()
    for u, evs in seqs.items():
        c = _regex_count("(?1)(?2)", conds, [e for _, _, e in sorted(evs)])
        if c:
            ref.add((u, c))
    assert lib == ref and ref


def test_fused_battery_matches_per_pattern_union(spark, sf_smoke):
    # the entries run their whole pattern battery through ONE
    # block-diagonal combined DFA (one kernel pass + one fold shuffle);
    # the stacked automata must be row-for-row identical to the union of
    # one-pattern batteries AND to the entry's DuckDB oracle (independent
    # of the kernel) — for BOTH table builders (adjacency KMP DFA and
    # the existence restart DFA)
    ev = t(spark, sf_smoke, "events")
    con = duckdb_connection(sf_smoke)

    def rows(df):
        return {
            (r["pattern"], r["user_id"], r["seq_count"]) for r in df.collect()
        }

    fused = rows(
        _sequence_count_battery_fused(ev, _SEQ_COUNT_ADJ_PATTERNS, _SEQ_CONDS)
    )
    union = set().union(
        *(
            rows(_sequence_count_battery_fused(ev, [pat], _SEQ_CONDS))
            for pat in _SEQ_COUNT_ADJ_PATTERNS
        )
    )
    assert fused == union and fused
    oracle = REGISTRY["sequence_count_adjacent"].oracle
    assert fused == set(con.execute(oracle).fetchall())

    fused_r = rows(
        _sequence_count_battery_fused(
            ev, _SEQ_COUNT_PATTERNS, _SEQ_CONDS, dfa_of=_restart_dfa
        )
    )
    union_r = set().union(
        *(
            rows(
                _sequence_count_battery_fused(
                    ev, [pat], _SEQ_CONDS, dfa_of=_restart_dfa
                )
            )
            for pat in _SEQ_COUNT_PATTERNS
        )
    )
    assert fused_r == union_r and fused_r
    oracle_r = REGISTRY["sequence_count_compiled"].oracle
    assert fused_r == set(con.execute(oracle_r).fetchall())
