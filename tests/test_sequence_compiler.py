"""sequenceMatch pattern compiler (operators/sequence.py:
_parse_seq_pattern; plans/queries.py: _sequence_match_users /
sequence_match_compiled) and the sequenceCount restart automata, which
run through the library dispatcher (one-pattern batteries).

The compiler must (a) parse the ClickHouse pattern grammar exactly and
reject malformed strings loudly, (b) agree with the two fixed entries
(sequence_match_pattern / sequence_match_min_gap) whose per-edge
machinery it generalizes, and (c) get the mixed-edge chain semantics
right on an adversarial fixture."""

from __future__ import annotations

import pytest

from clickhouse_github_log_importer_spark.operators.sequence import (
    _parse_seq_pattern,
    sequence_count,
)
from clickhouse_github_log_importer_spark.plans.queries import (
    _SEQ_CONDS,
    REGISTRY,
    _sequence_match_users,
    t,
)


def _count_rows(spark, sf_dir, pattern):
    """Restart-semantics counts of one pattern over the registry
    conditions: the library dispatcher, i.e. a one-pattern battery
    (the timed battery when the pattern has a time edge)."""
    return sequence_count(t(spark, sf_dir, "events"), pattern, _SEQ_CONDS)


def test_parse_steps_and_edges():
    steps, edges = _parse_seq_pattern("(?1)(?t<3600)(?2)(?3)")
    assert steps == [1, 2, 3]
    assert edges == [("<", 3600_000_000), None]

    steps, edges = _parse_seq_pattern("(?1)(?2)(?t<7200)(?3)(?t>600)(?4)")
    assert steps == [1, 2, 3, 4]
    assert edges == [None, ("<", 7200_000_000), (">", 600_000_000)]


def test_parse_dotstar_is_noop_separator():
    assert _parse_seq_pattern("(?1).*(?3)(?t<86400)(?4)") == (
        [1, 3, 4],
        [None, ("<", 86400_000_000)],
    )
    # '.*' adjacent to a constraint doesn't eat or reorder it
    assert _parse_seq_pattern("(?1)(?t<10).*(?2)") == ([1, 2], [("<", 10_000_000)])


def test_parse_repeated_condition_allowed():
    assert _parse_seq_pattern("(?1)(?1)") == ([1, 1], [None])


@pytest.mark.parametrize(
    "bad",
    [
        "(?t<3600)(?1)(?2)",  # leading constraint
        "(?1)(?2)(?t<3600)",  # trailing constraint
        "(?1)(?t<1)(?t>2)(?2)",  # two constraints on one edge
        "(?1)(?x)(?2)",  # unrecognized token
        "",  # no steps
        ".*",  # separators only
        "(?0)(?1)",  # 0 is not a valid 1-based condition index
    ],
)
def test_parse_rejects_malformed(bad):
    with pytest.raises(ValueError):
        _parse_seq_pattern(bad)


def test_executor_rejects_out_of_range_condition(spark):
    # (?5) with 4 defined conditions must be the domain ValueError, not
    # an IndexError (or a silent conds[-1] wrap for (?0), which the
    # parser now rejects)
    with pytest.raises(ValueError, match="out of range"):
        _sequence_match_users(spark, "/root/testdata/sf0.001", "(?5)(?1)")


def test_compiled_agrees_with_fixed_entries(spark, sf_smoke):
    # patterns 1 and 2 of the registry entry are the exact patterns the
    # two fixed entries hardcode — counts must match
    compiled = {
        r["pattern"]: r["n_matched"]
        for r in REGISTRY["sequence_match_compiled"].spark(spark, sf_smoke).collect()
    }
    fixed_lt = REGISTRY["sequence_match_pattern"].spark(spark, sf_smoke).first()
    fixed_gt = REGISTRY["sequence_match_min_gap"].spark(spark, sf_smoke).first()
    assert compiled["(?1)(?t<3600)(?2)(?3)"] == fixed_lt["n_matched"]
    assert compiled["(?1)(?t>3600)(?2)(?3)"] == fixed_gt["n_matched"]


def test_mixed_edge_semantics_on_fixture(spark, tmp_path):
    # 4-step chain (?1)(?2)(?t<20)(?3)(?t>5)(?4) over synthetic events;
    # per-edge optimal predecessors (latest for <, earliest for >) must
    # find chains a single-predecessor fold would miss.
    #  u1: s(0) c(10) p(25) v(35)   -> p-c=15<20, v-p=10>5      MATCH
    #  u2: s(0) c(10) p(35) v(45)   -> p-c=25 not <20           no
    #  u3: s(0) c(10) p(25) v(28)   -> v-p=3 not >5             no
    #  u4: s(0) c(10) p(25) p(29) v(32) -> v must beat SOME p by >5:
    #      earliest qualified p(25): 32-25=7>5                  MATCH
    #      (a latest-predecessor fold would test 32-29=3 and miss)
    #  u5: c(0) p(10) v(20)         -> no signup                no
    #  u6: s(0) c(10) c(24) p(30) v(40) -> latest c(24): 30-24=6<20 MATCH
    #      (an earliest-predecessor fold would test 30-10=20 and miss)
    from tests.test_behavioral import _write_events

    S = 1_000_000  # pattern gaps are seconds; fixture ts are us
    rows = [
        (1, 0, 1, "signup"), (2, 10 * S, 1, "click"),
        (3, 25 * S, 1, "purchase"), (4, 35 * S, 1, "view"),
        (5, 0, 2, "signup"), (6, 10 * S, 2, "click"),
        (7, 35 * S, 2, "purchase"), (8, 45 * S, 2, "view"),
        (9, 0, 3, "signup"), (10, 10 * S, 3, "click"),
        (11, 25 * S, 3, "purchase"), (12, 28 * S, 3, "view"),
        (13, 0, 4, "signup"), (14, 10 * S, 4, "click"),
        (15, 25 * S, 4, "purchase"), (16, 29 * S, 4, "purchase"),
        (17, 32 * S, 4, "view"),
        (18, 0, 5, "click"), (19, 10 * S, 5, "purchase"),
        (20, 20 * S, 5, "view"),
        (21, 0, 6, "signup"), (22, 10 * S, 6, "click"),
        (23, 24 * S, 6, "click"), (24, 30 * S, 6, "purchase"),
        (25, 40 * S, 6, "view"),
    ]
    sf = _write_events(tmp_path, rows)
    got = {
        r["user_id"]
        for r in _sequence_match_users(
            spark, sf, "(?1)(?2)(?t<20)(?3)(?t>5)(?4)"
        ).collect()
    }
    assert got == {1, 4, 6}


def test_count_restart_vs_matching_semantics(spark, tmp_path):
    # signup signup purchase purchase: restart semantics count ONE
    # '(?1)(?3)' chain (the second signup is ignored while seeking the
    # purchase, and the automaton restarts AFTER the first purchase with
    # no signup left); parenthesis-matching (sequence_pair_count) pairs
    # TWO. Both pinned here so the semantic difference stays documented.
    from tests.test_behavioral import _write_events

    rows = [
        (1, 0, 1, "signup"), (2, 1, 1, "signup"),
        (3, 2, 1, "purchase"), (4, 3, 1, "purchase"),
        # u2: s p s p -> restart counts 2, matching also 2
        (5, 0, 2, "signup"), (6, 1, 2, "purchase"),
        (7, 2, 2, "signup"), (8, 3, 2, "purchase"),
    ]
    sf = _write_events(tmp_path, rows)
    got = {
        r["user_id"]: r["seq_count"]
        for r in _count_rows(spark, sf, "(?1)(?3)").collect()
    }
    assert got == {1: 1, 2: 2}

    pair = {
        r["user_id"]: r["seq_count"]
        for r in REGISTRY["sequence_pair_count"].spark(spark, sf).collect()
    }
    assert pair[1] == 2 and pair[2] == 2  # maximum matching differs on u1


def test_count_composition_across_slices_matches_reference(spark, tmp_path):
    # one heavy user whose timeline MUST split across composite slices:
    # the tabulate/fold function composition must equal a direct python
    # automaton run over the full ordered stream
    import random

    from clickhouse_github_log_importer_spark.plans.queries import (
        _SEQ_CONDS,
        _parse_seq_pattern,
    )
    from tests.test_behavioral import _write_events

    rng = random.Random(7)
    types = ["signup", "click", "purchase", "view"]
    rows = [
        (i + 1, i * 1000, 1, rng.choice(types)) for i in range(400)
    ] + [(1001, 5000, 2, "signup"), (1002, 6000, 2, "click"),
         (1003, 7000, 2, "purchase")]
    sf = _write_events(tmp_path, rows)

    def reference(pattern):
        steps, _ = _parse_seq_pattern(pattern)
        tl = [_SEQ_CONDS[i - 1] for i in steps]
        out = {}
        for uid in {r[2] for r in rows}:
            evs = sorted(
                [r for r in rows if r[2] == uid], key=lambda r: (r[1], r[0])
            )
            s = cnt = 0
            for r in evs:
                if r[3] == tl[s]:
                    s += 1
                    if s == len(tl):
                        cnt += 1
                        s = 0
            if cnt:
                out[uid] = cnt
        return out

    for pattern in ("(?1)(?2)(?3)", "(?1)(?3)", "(?2)(?2)"):
        got = {
            r["user_id"]: r["seq_count"]
            for r in _count_rows(spark, sf, pattern).collect()
        }
        assert got == reference(pattern), pattern


def test_count_rejects_constrained_pattern(spark):
    # the restart DFA cannot tabulate a time edge (its state would carry
    # a timestamp); the timed battery covers those patterns
    from clickhouse_github_log_importer_spark.operators.sequence import (
        _restart_dfa,
        _sequence_count_battery_fused,
    )
    from clickhouse_github_log_importer_spark.plans.queries import _SEQ_CONDS, t

    with pytest.raises(ValueError, match="restart semantics"):
        _sequence_count_battery_fused(
            t(spark, "/root/testdata/sf0.001", "events"),
            ["(?1)(?t<10)(?2)"],
            _SEQ_CONDS,
            dfa_of=_restart_dfa,
        )


# ---------------------------------------------------------------------------
# sequence_count_timed: restart semantics with (?t<T) edges


def test_timed_count_bound_bites(spark, tmp_path):
    # same chain with and without the bound: u1's click comes 10 s after
    # signup (bound <5 kills it); u2's comes 2 s after (bound holds).
    from tests.test_behavioral import _write_events

    S = 1_000_000
    rows = [
        (1, 0, 1, "signup"), (2, 10 * S, 1, "click"),
        (3, 12 * S, 1, "purchase"),
        (4, 0, 2, "signup"), (5, 2 * S, 2, "click"),
        (6, 3 * S, 2, "purchase"),
    ]
    sf = _write_events(tmp_path, rows)
    untimed = {
        r["user_id"]: r["seq_count"]
        for r in _count_rows(spark, sf, "(?1)(?2)(?3)").collect()
    }
    timed = {
        r["user_id"]: r["seq_count"]
        for r in _count_rows(
            spark, sf, "(?1)(?t<5)(?2)(?3)"
        ).collect()
    }
    assert untimed == {1: 1, 2: 1}
    assert timed == {2: 1}  # the bound bites: u1 drops


def test_timed_restart_reanchors_on_violating_event(spark, tmp_path):
    # (?1)(?t<5)(?1) over s(0) s(100) s(103): the violating s(100)
    # restarts the chain AND re-anchors (its condition == condition 1),
    # so s(103) completes gap 3 < 5 -> count 1. A restart-without-
    # re-anchor rule would consume s(100) at state 0 and count 0.
    from tests.test_behavioral import _write_events

    S = 1_000_000
    rows = [
        (1, 0, 1, "signup"), (2, 100 * S, 1, "signup"),
        (3, 103 * S, 1, "signup"),
    ]
    sf = _write_events(tmp_path, rows)
    got = {
        r["user_id"]: r["seq_count"]
        for r in _count_rows(
            spark, sf, "(?1)(?t<5)(?1)"
        ).collect()
    }
    assert got == {1: 1}


def test_timed_no_reanchor_when_types_differ(spark, tmp_path):
    # (?2)(?t<5)(?3) over c(0) c(100) p(102): c(100) is IGNORED (state 1
    # expects purchase — only expected-condition events touch the
    # automaton, the family's pinned scan rule), then p(102) violates
    # the bound against t_prev=0 and restarts WITHOUT anchoring
    # (purchase != condition 1) -> count 0. Pins the deviation from a
    # backtracking matcher, which would pair c(100)->p(102).
    from tests.test_behavioral import _write_events

    S = 1_000_000
    rows = [
        (1, 0, 1, "click"), (2, 100 * S, 1, "click"),
        (3, 102 * S, 1, "purchase"),
        # u2 control: same shape, gap inside the bound
        (4, 0, 2, "click"), (5, 3 * S, 2, "purchase"),
    ]
    sf = _write_events(tmp_path, rows)
    got = {
        r["user_id"]: r["seq_count"]
        for r in _count_rows(
            spark, sf, "(?2)(?t<5)(?3)"
        ).collect()
    }
    assert got == {2: 1}


def test_timed_composition_across_slices_matches_reference(spark, tmp_path):
    # heavy user split across composite slices: the two-branch
    # tabulate/fold must equal a direct python run of the timed restart
    # automaton over the full ordered stream
    import random

    from clickhouse_github_log_importer_spark.plans.queries import (
        _SEQ_CONDS,
        _parse_seq_pattern,
    )
    from tests.test_behavioral import _write_events

    rng = random.Random(11)
    types = ["signup", "click", "purchase", "view"]
    S = 1_000_000
    rows = [
        (i + 1, i * rng.randint(1, 9) * S, 1, rng.choice(types))
        for i in range(400)
    ] + [
        (1001, 5 * S, 2, "signup"), (1002, 6 * S, 2, "click"),
        (1003, 7 * S, 2, "purchase"),
    ]
    rows.sort(key=lambda r: (r[2], r[1], r[0]))
    sf = _write_events(tmp_path, rows)

    def reference(pattern):
        steps, edges = _parse_seq_pattern(pattern)
        tl = [_SEQ_CONDS[i - 1] for i in steps]
        out = {}
        for uid in {r[2] for r in rows}:
            evs = sorted(
                [r for r in rows if r[2] == uid], key=lambda r: (r[1], r[0])
            )
            s = cnt = 0
            tp = None
            for r in evs:
                if r[3] != tl[s]:
                    continue
                e = edges[s - 1] if s >= 1 else None
                if e is None or (
                    r[1] - tp < e[1] if e[0] == "<" else r[1] - tp > e[1]
                ):
                    s, tp = s + 1, r[1]
                    if s == len(tl):
                        cnt += 1
                        s = 0
                elif e[0] == ">":
                    continue  # wait-until-satisfied: skip the event
                elif tl[s] == tl[0]:
                    s, tp = 1, r[1]
                else:
                    s = 0
            if cnt:
                out[uid] = cnt
        return out

    for pattern in (
        "(?1)(?t<30)(?2)(?3)",
        "(?2)(?t<60)(?3)",
        "(?1)(?2)(?t<15)(?3)",
        "(?2)(?t<25)(?2)",
        # r9: lower-bound (wait) edges, incl. mixed with '<' and a
        # repeated-condition wait
        "(?1)(?t>30)(?2)(?3)",
        "(?2)(?t>40)(?3)",
        "(?1)(?t>10)(?2)(?t<60)(?3)",
        "(?2)(?t>25)(?2)",
    ):
        got = {
            r["user_id"]: r["seq_count"]
            for r in _count_rows(spark, sf, pattern).collect()
        }
        assert got == reference(pattern), pattern


def test_timed_exact_offset_lock_wait_restart(spark, tmp_path):
    # (r10) (?t==T) under restart semantics: the first expected event
    # with gap >= T decides — lock on equality, restart past it, wait
    # (skip) below it.
    from tests.test_behavioral import _write_events

    S = 1_000_000
    rows = [
        # u1: c at exactly +100 s -> lock: 1
        (1, 0, 1, "signup"), (2, 100 * S, 1, "click"),
        # u2: c(+40s) undershoots (wait), c(exactly +100s) locks: 1
        (3, 0, 2, "signup"), (4, 40 * S, 2, "click"),
        (5, 100 * S, 2, "click"),
        # u3: c(+150s) overshoots -> dead, restart (click != cond 1),
        # then s(+200s), c(+300s) gap exactly 100 -> 1
        (6, 0, 3, "signup"), (7, 150 * S, 3, "click"),
        (8, 200 * S, 3, "signup"), (9, 300 * S, 3, "click"),
        # u4: only an overshot candidate -> 0
        (10, 0, 4, "signup"), (11, 150 * S, 4, "click"),
    ]
    sf = _write_events(tmp_path, rows)
    got = {
        r["user_id"]: r["seq_count"]
        for r in _count_rows(
            spark, sf, "(?1)(?t==100)(?2)"
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_timed_lower_bound_waits_not_restarts(spark, tmp_path):
    # s(0) c(+1h) c(+13h), bound (?t>12h): the pinned rule SKIPS the
    # too-early click and advances at the later one (count 1). A
    # restart-at-violating-event rule (the '<' behavior) would kill the
    # chain at c(+1h) and count 0 — this fixture discriminates.
    from tests.test_behavioral import _write_events

    S = 1_000_000
    rows = [
        (1, 0, 1, "signup"), (2, 3600 * S, 1, "click"),
        (3, 13 * 3600 * S, 1, "click"),
        # u2: only the too-early click -> waiting runs out, count 0
        (4, 0, 2, "signup"), (5, 3600 * S, 2, "click"),
    ]
    sf = _write_events(tmp_path, rows)
    got = {
        r["user_id"]: r["seq_count"]
        for r in _count_rows(
            spark, sf, "(?1)(?t>43200)(?2)"
        ).collect()
    }
    assert got == {1: 1}


def test_timed_lower_bound_boundary_exact_gap(spark, tmp_path):
    # gap EXACTLY T fails '>' and passes '>=' ((?t>=T) == (?t>T-1us)
    # on integer micros)
    from tests.test_behavioral import _write_events

    S = 1_000_000
    rows = [(1, 0, 1, "signup"), (2, 43200 * S, 1, "click")]
    sf = _write_events(tmp_path, rows)
    strict = _count_rows(
        spark, sf, "(?1)(?t>43200)(?2)"
    ).collect()
    inclusive = {
        r["user_id"]: r["seq_count"]
        for r in _count_rows(
            spark, sf, "(?1)(?t>=43200)(?2)"
        ).collect()
    }
    assert strict == []
    assert inclusive == {1: 1}


def test_window_funnel_dispatcher_validates(spark):
    # the four registry entries are thin wrappers over ONE dispatcher
    # (operators/sessions.py window_funnel); bad inputs fail loudly
    from clickhouse_github_log_importer_spark.operators.sessions import (
        FUNNEL_MODES,
        window_funnel,
    )
    from clickhouse_github_log_importer_spark.plans.queries import t

    ev = t(spark, "/root/testdata/sf0.001", "events")
    assert FUNNEL_MODES == (
        "default", "inclusive", "strict_order", "strict_dedup"
    )
    with pytest.raises(ValueError, match="unknown mode"):
        window_funnel(ev, 1000, mode="strictly_wrong")
    with pytest.raises(ValueError, match="3 step conditions"):
        window_funnel(ev, 1000, conds=("signup", "click"))


def test_inclusive_and_equal_edge_operators(spark, tmp_path):
    # boundary semantics: gap EXACTLY T must fail '<' and '>', pass
    # '<=', '>=' and '=='; '==' must also fail on T-1 and T+1 (the
    # exact-offset hash join, not a range check)
    from clickhouse_github_log_importer_spark.plans.queries import (
        _sequence_match_users,
    )
    from tests.test_behavioral import _write_events

    S = 1_000_000
    rows = [
        # u1: signup -> click exactly 100 s later
        (1, 0, 1, "signup"), (2, 100 * S, 1, "click"),
        # u2: 99 s gap; u3: 101 s gap
        (3, 0, 2, "signup"), (4, 99 * S, 2, "click"),
        (5, 0, 3, "signup"), (6, 101 * S, 3, "click"),
    ]
    sf = _write_events(tmp_path, rows)

    def users(pat):
        return {
            r["user_id"]
            for r in _sequence_match_users(spark, sf, pat).collect()
        }

    assert users("(?1)(?t<100)(?2)") == {2}
    assert users("(?1)(?t<=100)(?2)") == {1, 2}
    assert users("(?1)(?t>100)(?2)") == {3}
    assert users("(?1)(?t>=100)(?2)") == {1, 3}
    assert users("(?1)(?t==100)(?2)") == {1}
    assert users("(?1)(?t==99)(?2)") == {2}


def test_equal_edge_zero_gap_never_matches(spark, tmp_path):
    # chains are strictly increasing in time, so (?t==0) is statically
    # unsatisfiable — even with a signup and click at the SAME ts
    from clickhouse_github_log_importer_spark.plans.queries import (
        _sequence_match_users,
    )
    from tests.test_behavioral import _write_events

    rows = [(1, 1000, 1, "signup"), (2, 1000, 1, "click")]
    sf = _write_events(tmp_path, rows)
    assert _sequence_match_users(spark, sf, "(?1)(?t==0)(?2)").count() == 0


def test_equal_edge_composes_with_running_edges(spark, tmp_path):
    # (?1)(?t==100)(?2)(?t<50)(?3): the == hash-join pass feeds the
    # next running-extrema pass
    from clickhouse_github_log_importer_spark.plans.queries import (
        _sequence_match_users,
    )
    from tests.test_behavioral import _write_events

    S = 1_000_000
    rows = [
        (1, 0, 1, "signup"), (2, 100 * S, 1, "click"),
        (3, 120 * S, 1, "purchase"),  # 20 < 50 after the == click
        (4, 0, 2, "signup"), (5, 100 * S, 2, "click"),
        (6, 200 * S, 2, "purchase"),  # 100 not < 50
        (7, 0, 3, "signup"), (8, 99 * S, 3, "click"),
        (9, 120 * S, 3, "purchase"),  # == edge fails at 99
    ]
    sf = _write_events(tmp_path, rows)
    got = {
        r["user_id"]
        for r in _sequence_match_users(
            spark, sf, "(?1)(?t==100)(?2)(?t<50)(?3)"
        ).collect()
    }
    assert got == {1}


def test_parse_fuzz_roundtrip_and_rejection():
    # driver-side hypothesis fuzz: every generated VALID pattern parses
    # to the expected (steps, edges); reconstruction round-trips; and
    # the parser never crashes on garbage — it either parses fully or
    # raises ValueError
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ops = ["<", ">", "<=", ">=", "=="]

    @st.composite
    def valid(draw):
        k = draw(st.integers(min_value=1, max_value=6))
        steps = [draw(st.integers(min_value=1, max_value=4)) for _ in range(k)]
        edges = [
            draw(
                st.one_of(
                    st.none(),
                    st.tuples(
                        st.sampled_from(ops),
                        st.integers(min_value=0, max_value=10**6),
                    ),
                )
            )
            for _ in range(k - 1)
        ]
        dotstar = draw(st.lists(st.booleans(), min_size=k, max_size=k))
        pat = ""
        for i, s in enumerate(steps):
            if i > 0 and edges[i - 1] is not None:
                op, t = edges[i - 1]
                pat += f"(?t{op}{t})"
            if dotstar[i] and (i == 0 or edges[i - 1] is None):
                pat += ".*"
            pat += f"(?{s})"
        return pat, steps, edges

    @given(valid())
    @settings(max_examples=300, deadline=None)
    def roundtrip(v):
        pat, steps, edges = v
        got_steps, got_edges = _parse_seq_pattern(pat)
        assert got_steps == steps
        assert got_edges == [
            None if e is None else (e[0], e[1] * 1_000_000) for e in edges
        ]

    roundtrip()

    @given(st.text(alphabet="(?t<>=0123456789).*", max_size=24))
    @settings(max_examples=500, deadline=None)
    def never_crashes(s):
        try:
            steps, edges = _parse_seq_pattern(s)
            assert steps  # full parse implies at least one step
        except ValueError:
            pass  # loud rejection is the contract

    never_crashes()


def test_compiler_matches_quadratic_dp_on_random_streams(spark, tmp_path):
    # adversarial pin of the per-edge-optimal-predecessor construction
    # (incl. the r8 <=/>=/== operators): an O(n^2 K) DP with NO
    # predecessor-choice cleverness must agree on random streams
    import random

    from clickhouse_github_log_importer_spark.plans.queries import (
        _SEQ_CONDS,
        _sequence_match_users,
    )
    from tests.test_behavioral import _write_events

    rng = random.Random(29)
    S = 1_000_000
    types = list(_SEQ_CONDS)
    rows = []
    eid = 0
    for uid in range(1, 40):
        t_us = 0
        for _ in range(rng.randint(3, 18)):
            eid += 1
            t_us += rng.randint(1, 120) * S
            rows.append((eid, t_us, uid, rng.choice(types)))
    sf = _write_events(tmp_path, rows)

    def dp_users(pattern):
        steps, edges = _parse_seq_pattern(pattern)
        tl = [_SEQ_CONDS[i - 1] for i in steps]
        out = set()
        for uid in {r[2] for r in rows}:
            evs = sorted(
                [r for r in rows if r[2] == uid], key=lambda r: (r[1], r[0])
            )
            n = len(evs)
            q = [[False] * n for _ in range(len(tl))]
            for i, r in enumerate(evs):
                if r[3] == tl[0]:
                    q[0][i] = True
            for k in range(1, len(tl)):
                op_t = edges[k - 1]
                for i, r in enumerate(evs):
                    if r[3] != tl[k]:
                        continue
                    for j in range(i):
                        if not q[k - 1][j] or evs[j][1] >= r[1]:
                            continue
                        gap = r[1] - evs[j][1]
                        if op_t is None:
                            ok = True
                        elif op_t[0] == "<":
                            ok = gap < op_t[1]
                        elif op_t[0] == "<=":
                            ok = gap <= op_t[1]
                        elif op_t[0] == ">":
                            ok = gap > op_t[1]
                        elif op_t[0] == ">=":
                            ok = gap >= op_t[1]
                        else:
                            ok = gap == op_t[1]
                        if ok:
                            q[k][i] = True
                            break
                if not any(q[k]):
                    break
            if any(q[len(tl) - 1]):
                out.add(uid)
        return out

    for pattern in (
        "(?1)(?t<90)(?2)(?3)",
        "(?1)(?t<=60)(?2)(?t>=30)(?3)",
        "(?2)(?t>100)(?3)",
        "(?1)(?t==60)(?2)",
        "(?4)(?t<=120)(?2)(?t<200)(?3)",
    ):
        got = {
            r["user_id"]
            for r in _sequence_match_users(spark, sf, pattern).collect()
        }
        assert got == dp_users(pattern), pattern


def test_timed_count_le_boundary_exact_gap(spark, tmp_path):
    # gap EXACTLY T: (?t<T) restarts, (?t<=T) advances — the integer-
    # microsecond reduction (<=T <=> <T+1us) at its only observable
    # boundary. u2 control sits strictly inside both bounds.
    from tests.test_behavioral import _write_events

    S = 1_000_000
    rows = [
        (1, 0, 1, "signup"), (2, 5 * S, 1, "click"),   # gap exactly 5 s
        (3, 0, 2, "signup"), (4, 2 * S, 2, "click"),
    ]
    sf = _write_events(tmp_path, rows)

    def counts(pattern):
        return {
            r["user_id"]: r["seq_count"]
            for r in _count_rows(
                spark, sf, pattern
            ).collect()
        }

    assert counts("(?1)(?t<5)(?2)") == {2: 1}
    assert counts("(?1)(?t<=5)(?2)") == {1: 1, 2: 1}
