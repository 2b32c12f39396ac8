"""Timed-adjacency product automaton pins
(operators/sequence.py: _sequence_count_adjacent_timed_multi /
sequence_count_adjacent_timed): the r9 verdict's #1 missing item —
ClickHouse accepts sequenceCount('(?1)(?t<3600)(?2)') with adjacency
semantics; the product of the KMP counting DFA and the timed
wait/restart automaton must (a) gate at the occurrence's TRUE start
(KMP fallback can shift an occurrence later than its first candidate),
(b) wait on too-early '>' gaps, restart on dead '<' gaps, (c) reduce to
the untimed adjacency counter when no bound bites, and (d) count fewer
matches than the untimed counter when a bound does bite."""

from __future__ import annotations

from clickhouse_github_log_importer_spark.operators.sequence import (
    _sequence_count_adjacent_timed_multi,
    sequence_count,
)
from clickhouse_github_log_importer_spark.plans.queries import (
    _SEQ_CONDS,
    _SEQ_COUNT_ADJT_PATTERNS,
    REGISTRY,
    t,
)
from tests.test_behavioral import _write_events

S = 1_000_000  # pattern gap units are seconds; fixture ts are micros
H = 3600 * S


def _counts(spark, sf, pattern, conds):
    """The product automaton as a one-pattern battery (also for an
    untimed pattern, which the dispatcher would route elsewhere)."""
    return {
        r["user_id"]: r["seq_count"]
        for r in _sequence_count_adjacent_timed_multi(
            t(spark, sf, "events"), [pattern], conds
        ).collect()
    }


def _untimed_counts(spark, sf, pattern):
    return {
        r["user_id"]: r["seq_count"]
        for r in sequence_count(
            t(spark, sf, "events"), pattern, _SEQ_CONDS,
            semantics="adjacency",
        ).collect()
    }


def test_upper_bound_bites_and_restarts(spark, tmp_path):
    conds = ("signup", "click")
    rows = [
        # u1: s, c 1h later -> within (?t<7200): count 1
        (1, 0, 1, "signup"), (2, H, 1, "click"),
        # u2: s, c 3h later -> dead '<' bound: 0
        (3, 0, 2, "signup"), (4, 3 * H, 2, "click"),
        # u3: s, c(3h) DEAD -> restart at the click (not condition 1,
        # full restart), then s(4h), c(5h) within bound: 1
        (5, 0, 3, "signup"), (6, 3 * H, 3, "click"),
        (7, 4 * H, 3, "signup"), (8, 5 * H, 3, "click"),
    ]
    sf = _write_events(tmp_path, rows)
    assert _counts(spark, sf, "(?1)(?t<7200)(?2)", conds) == {1: 1, 3: 1}


def test_gate_checks_true_occurrence_start_not_word_entry(spark, tmp_path):
    # pattern (?1)(?t<3600)(?2)(?3): word 2 = [click, purchase].
    # u1: signup t0, click t0+30m (in bound), click t0+2h (out of
    # bound), purchase t0+2h10m. The occurrence of [click, purchase]
    # that completes STARTS at the second click (KMP fallback shifted
    # it) — gap 2h violates (?t<3600), so the count must be 0 even
    # though the first click was within bound. An entry-checked gate
    # would wrongly count 1.
    conds = ("signup", "click", "purchase")
    rows = [
        (1, 0, 1, "signup"), (2, H // 2, 1, "click"),
        (3, 2 * H, 1, "click"), (4, 2 * H + 600 * S, 1, "purchase"),
        # u2 control: click in bound directly followed by purchase: 1
        (5, 0, 2, "signup"), (6, H // 2, 2, "click"),
        (7, H // 2 + 600 * S, 2, "purchase"),
    ]
    sf = _write_events(tmp_path, rows)
    assert _counts(spark, sf, "(?1)(?t<3600)(?2)(?3)", conds) == {2: 1}


def test_lower_bound_waits_for_late_enough_occurrence(spark, tmp_path):
    conds = ("signup", "click")
    rows = [
        # u1: s, c(+10m) too early for (?t>3600) -> WAIT, c(+2h) locks: 1
        (1, 0, 1, "signup"), (2, 600 * S, 1, "click"),
        (3, 2 * H, 1, "click"),
        # u2: s, c(+10m) only -> waits out the stream: 0
        (4, 0, 2, "signup"), (5, 600 * S, 2, "click"),
    ]
    sf = _write_events(tmp_path, rows)
    assert _counts(spark, sf, "(?1)(?t>3600)(?2)", conds) == {1: 1}


def test_exact_gap_lock_wait_restart(spark, tmp_path):
    conds = ("signup", "click")
    rows = [
        # u1: c at exactly +1h: lock -> 1
        (1, 0, 1, "signup"), (2, H, 1, "click"),
        # u2: c(+10m) too early (wait), c(exactly +1h) locks -> 1
        (3, 0, 2, "signup"), (4, 600 * S, 2, "click"),
        (5, H, 2, "click"),
        # u3: c(+2h) overshoots: dead -> restart (click is not
        # condition 1, so full restart); nothing follows -> 0
        (6, 0, 3, "signup"), (7, 2 * H, 3, "click"),
    ]
    sf = _write_events(tmp_path, rows)
    assert _counts(spark, sf, "(?1)(?t==3600)(?2)", conds) == {1: 1, 2: 1}


def test_adjacency_still_enforced_inside_words(spark, tmp_path):
    # word [click, purchase] requires consecutive declared positions:
    # an intervening declared 'view' breaks it even when time is fine
    conds = ("signup", "click", "purchase", "view")
    rows = [
        (1, 0, 1, "signup"), (2, 600 * S, 1, "click"),
        (3, 700 * S, 1, "view"), (4, 800 * S, 1, "purchase"),
        # u2 control without the view: 1
        (5, 0, 2, "signup"), (6, 600 * S, 2, "click"),
        (7, 800 * S, 2, "purchase"),
    ]
    sf = _write_events(tmp_path, rows)
    assert _counts(spark, sf, "(?1)(?t<7200)(?2)(?3)", conds) == {2: 1}


def test_untimed_pattern_reduces_to_adjacent_counter(spark, sf_smoke):
    # with no time edge the product machine IS the adjacency counter
    for pat in ("(?1)(?2)", "(?2)(?3)(?2)", "(?1)(?2).*(?3)"):
        timed = _counts(
            spark, sf_smoke, pat,
            ("signup", "click", "purchase", "view"),
        )
        untimed = _untimed_counts(spark, sf_smoke, pat)
        assert timed == untimed, pat


def test_timed_counts_below_untimed_on_real_data(spark, sf_smoke):
    # every registry pattern's bound must BITE: strip the time edges
    # and the untimed adjacency count must dominate, strictly somewhere
    import re

    reg = REGISTRY["sequence_count_adjacent_timed"].spark(
        spark, sf_smoke
    ).collect()
    by_pat: dict[str, dict[int, int]] = {}
    for r in reg:
        by_pat.setdefault(r["pattern"], {})[r["user_id"]] = r["seq_count"]
    for pat in _SEQ_COUNT_ADJT_PATTERNS:
        stripped = re.sub(r"\(\?t[<>=]+\d+\)", ".*", pat)
        untimed = _untimed_counts(spark, sf_smoke, stripped)
        timed = by_pat.get(pat, {})
        assert all(
            timed.get(u, 0) <= c for u, c in untimed.items()
        ), pat
        assert set(timed) <= set(untimed), pat
        assert sum(timed.values()) < sum(untimed.values()), (
            f"{pat}: bound never bites on sf_smoke"
        )


def test_fused_timed_battery_matches_per_pattern_union(spark, sf_smoke):
    # the entry runs the whole timed-adjacency battery through ONE
    # shared ranked/lag subtree + ONE kernel pass + ONE (pattern, user)
    # fold; must be row-for-row identical to the union of one-pattern
    # batteries AND to the DuckDB oracle (independent of the kernel)
    from clickhouse_github_log_importer_spark.plans.verify import (
        duckdb_connection,
    )

    ev = t(spark, sf_smoke, "events")
    fused = {
        (r["pattern"], r["user_id"], r["seq_count"])
        for r in _sequence_count_adjacent_timed_multi(
            ev, _SEQ_COUNT_ADJT_PATTERNS, _SEQ_CONDS
        ).collect()
    }
    union = {
        (pat, r["user_id"], r["seq_count"])
        for pat in _SEQ_COUNT_ADJT_PATTERNS
        for r in _sequence_count_adjacent_timed_multi(
            ev, [pat], _SEQ_CONDS
        ).collect()
    }
    assert fused == union and fused
    oracle = set(
        duckdb_connection(sf_smoke)
        .execute(REGISTRY["sequence_count_adjacent_timed"].oracle)
        .fetchall()
    )
    assert fused == oracle
