"""The ClickHouse sequence family's count engine, and the
library-callable sequenceMatch / sequenceCount dispatchers.

The reference log-importer hands ``sequenceMatch``/``sequenceCount``
(ClickHouse docs/en/sql-reference/aggregate-functions/
parametric-functions) to ClickHouse, e.g. for funnel dashboards over
`app/queries` output tables. Here the count side lives in this module:
the pattern compiler (:func:`_parse_seq_pattern`), the counting automata
(:func:`_restart_dfa`, :func:`_seq_count_dfa_meta`) and three fused
battery kernels, one per semantics family — every registry
``sequence_count_*`` entry and :func:`sequence_count` run one of them.
The match-side compilers still live next to the query registry
(plans/queries.py: _sequence_match_users /
_sequence_match_adjacent_users).

Input contract (both dispatchers): an events DataFrame with
``user_id`` (integral), ``event_type`` (string), and a time column —
either ``ts_us`` (bigint epoch-microseconds) or ``ts`` (timestamp /
epoch-nano bigint, normalized via plans.queries.normalize_events_ts).
``sequence_count`` additionally needs ``event_id`` (the pinned
same-timestamp tie-breaker). ``conds`` maps 1-based pattern condition
indexes to event types (disjoint by construction).

Semantics — each pinned in pytest and MIGRATION.md:

- ``semantics='existence'`` (default): every edge behaves like '.*';
  an intervening event never breaks a chain. One segmented
  running-extrema pass per edge.
- ``semantics='adjacency'``: ClickHouse-EXACT — a bare '(?1)(?2)' edge
  requires consecutive positions among declared-condition events;
  '.*' and time edges allow intervening events; undeclared-condition
  events are invisible. Position DP over the skew-safe ranked stream.
- ``sequence_count``: ClickHouse countAll RESTART semantics (greedy
  non-overlapping chains); time-bounded patterns dispatch to the timed
  automaton ('<' violation restarts, '>' violation waits) — under
  adjacency, to the timed-adjacency product automaton.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import ranking as RK

SEQUENCE_SEMANTICS = ("existence", "adjacency")


def _normalized(events: DataFrame) -> DataFrame:
    from ..plans.queries import normalize_events_ts

    if "ts_us" not in events.columns:
        events = normalize_events_ts(events)
    if "ts_us" not in events.columns:
        raise ValueError(
            "sequence operators need a 'ts_us' (epoch-us bigint) or "
            "'ts' (timestamp) column on the events frame"
        )
    return events


def sequence_match(
    events: DataFrame,
    pattern: str,
    conds: tuple[str, ...],
    semantics: str = "existence",
) -> DataFrame:
    """Users whose event stream matches a ClickHouse sequenceMatch
    ``pattern`` ('(?N)', '(?t<T)/(?t<=T)/(?t>T)/(?t>=T)/(?t==T)',
    '.*') under the chosen ``semantics``. Returns a DataFrame with one
    ``user_id`` row per matching user.

    >>> sequence_match(ev, "(?1)(?t<3600)(?2)", ("signup", "click"))
    >>> sequence_match(ev, "(?1)(?2)", ("signup", "click", "purchase"),
    ...                semantics="adjacency")
    """
    from ..plans.queries import (
        _sequence_match_adjacent_users,
        _sequence_match_users,
    )

    if semantics not in SEQUENCE_SEMANTICS:
        raise ValueError(
            f"unknown semantics {semantics!r}; one of {SEQUENCE_SEMANTICS}"
        )
    ev = _normalized(events)
    spark = events.sparkSession
    if semantics == "adjacency":
        return _sequence_match_adjacent_users(
            spark, None, pattern, conds=conds, events=ev
        )
    return _sequence_match_users(spark, None, pattern, conds=conds, events=ev)


def sequence_count(
    events: DataFrame,
    pattern: str,
    conds: tuple[str, ...],
    semantics: str = "existence",
    matcher: str = "greedy",
) -> DataFrame:
    """Per-user greedy non-overlapping match counts for ``pattern``
    under ClickHouse sequenceCount's restart semantics. Returns
    (user_id, seq_count) for users with count >= 1.

    ``matcher='backtracking'`` (r11) switches to ClickHouse's EXACT
    matcher semantics (AggregateFunctionSequenceMatch.h back_stack
    DFS = leftmost lexicographic assignment, O(n*k) via the
    can-complete DP in operators/sequence_backtracking.py) instead of
    the pinned greedy scan — use it when porting a funnel whose count
    must equal ClickHouse bit-for-bit on timed patterns (fuzz-pinned:
    the greedy scan never overcounts, but an upper-bound or '=='
    death can burn anchors backtracking would retry). Under
    ``matcher='backtracking'``, ``semantics`` picks the bare-edge
    reading: 'adjacency' is ClickHouse-exact (consecutive declared
    events), 'existence' keeps the repo's relaxed any-gap reading.

    ``semantics='existence'`` (default): every edge behaves like '.*'
    over the condition-filtered stream. Unconstrained patterns run the
    restart DFA (:func:`_restart_dfa`); patterns with time edges
    dispatch to the timed automaton (pinned greedy rules: an
    upper-bound violation restarts at the violating event, a
    lower-bound violation waits for a later candidate).
    ``semantics='adjacency'``: the ClickHouse-exact reading — bare
    edges require consecutive positions among declared-condition
    events, '.*' and time edges separate words (KMP search DFA,
    non-overlapping leftmost); time-bounded patterns dispatch to the
    timed-adjacency PRODUCT automaton (r10: gates at the occurrence's
    true start, '<' restart / '>' wait / '==' exact).

    >>> sequence_count(ev, "(?1)(?3)", ("signup", "click", "purchase"))
    >>> sequence_count(ev, "(?1)(?t>3600)(?2)", ("signup", "click"))
    >>> sequence_count(ev, "(?1)(?t<3600)(?2)", ("signup", "click",
    ...                "view"), semantics="adjacency")
    """
    if semantics not in SEQUENCE_SEMANTICS:
        raise ValueError(
            f"unknown semantics {semantics!r}; one of {SEQUENCE_SEMANTICS}"
        )
    if matcher not in ("greedy", "backtracking"):
        raise ValueError(
            f"unknown matcher {matcher!r}; one of ('greedy', 'backtracking')"
        )
    _, edges = _parse_seq_pattern(pattern)
    timed = any(e is not None for e in edges)
    ev = _normalized(events)
    if "event_id" not in ev.columns:
        raise ValueError(
            "sequence_count needs an 'event_id' column (the pinned "
            "same-timestamp tie-breaker)"
        )
    if matcher == "backtracking":
        from .sequence_backtracking import sequence_count_backtracking_users

        return sequence_count_backtracking_users(
            events.sparkSession,
            None,
            pattern,
            conds,
            events=ev,
            semantics="clickhouse" if semantics == "adjacency" else "existence",
        )
    if semantics == "adjacency" and timed:
        out = _sequence_count_adjacent_timed_multi(ev, [pattern], conds)
    elif semantics == "adjacency":
        out = _sequence_count_battery_fused(ev, [pattern], conds)
    elif timed:
        out = _sequence_count_timed_multi(ev, [pattern], conds)
    else:
        out = _sequence_count_battery_fused(
            ev, [pattern], conds, dfa_of=_restart_dfa
        )
    return out.drop("pattern")


# ---------------------------------------------------------------------------
# count engine
# ---------------------------------------------------------------------------


def _parse_seq_pattern(pattern: str, with_adjacency: bool = False):
    """Compile a ClickHouse sequenceMatch pattern string into
    (steps, edges): ``steps`` is the 1-based condition index per chain
    position; ``edges[i]`` is the time constraint between step i+1 and
    step i+2 — None (unconstrained) or (op, T_us) with op one of
    '<', '>', '<=', '>=', '==' (the full ClickHouse operator set).
    With ``with_adjacency=True`` also returns ``adjacent``:
    ``adjacent[i]`` is True iff NO separator token ('.*' or a time
    constraint) appeared between step i+1 and step i+2 — the
    ClickHouse-exact reading where a bare '(?1)(?2)' requires the two
    events to be CONSECUTIVE in the condition-matching event stream
    (time constraints consume intervening events like '.*' does:
    AggregateFunctionSequenceMatch.h treats (?t..) as KleeneStar plus
    a time check).

    Grammar (reference: ClickHouse docs/en/sql-reference/
    aggregate-functions/parametric-functions#sequencematch):
      (?N)      match condition N
      (?t<T) / (?t<=T) / (?t>T) / (?t>=T) / (?t==T)
                gap (seconds) between the two adjacent steps
      .*        any number of intervening events — a NO-OP under the
                existence semantics the compiled family pins (an
                intervening event never breaks a chain), but meaningful
                under adjacency semantics (see sequence_match_adjacent)
    A time constraint must sit between two steps; two constraints on
    one edge, a leading/trailing constraint, or any unrecognized token
    raise ValueError.
    """
    import re

    tok = re.compile(r"\(\?t(<=|>=|==|<|>)(\d+)\)|\(\?(\d+)\)|(\.\*)")
    pos = 0
    steps: list[int] = []
    edges: list[tuple[str, int] | None] = []
    adjacent: list[bool] = []
    pending: tuple[str, int] | None = None
    pending_set = False
    sep_seen = False
    while pos < len(pattern):
        m = tok.match(pattern, pos)
        if not m:
            raise ValueError(
                f"sequenceMatch pattern: unrecognized token at {pos}: "
                f"{pattern[pos:pos + 12]!r}"
            )
        op, tval, n, dotstar = m.groups()
        if n is not None:
            if int(n) < 1:
                raise ValueError(
                    "sequenceMatch pattern: condition indexes are "
                    f"1-based, got (?{int(n)})"
                )
            if steps:
                edges.append(pending)
                adjacent.append(not sep_seen)
            pending, pending_set, sep_seen = None, False, False
            steps.append(int(n))
        elif op is not None:
            if not steps:
                raise ValueError(
                    "sequenceMatch pattern: time constraint before any step"
                )
            if pending_set:
                raise ValueError(
                    "sequenceMatch pattern: two time constraints on one edge"
                )
            pending = (op, int(tval) * 1_000_000)
            pending_set = True
            sep_seen = True
        elif dotstar is not None:
            # no-op under existence semantics; a separator under adjacency
            sep_seen = True
        pos = m.end()
    if pending_set:
        raise ValueError(
            "sequenceMatch pattern: trailing time constraint with no "
            "following step"
        )
    if not steps:
        raise ValueError("sequenceMatch pattern: no steps")
    if with_adjacency:
        return steps, edges, adjacent
    return steps, edges



def _cond_types(steps, conds) -> list[str]:
    """The condition name of each 1-based pattern step; a step index
    past ``conds`` raises."""
    bad = [i for i in steps if i > len(conds)]
    if bad:
        raise ValueError(
            f"sequenceMatch pattern: condition index (?{bad[0]}) out of "
            f"range — {len(conds)} conditions defined"
        )
    return [conds[i - 1] for i in steps]


def _strict_edge(e):
    """A parsed time edge with '<='/'>=' reduced to strict bounds,
    exact on integer-microsecond timestamps: gap <= T <=> gap < T+1;
    gap >= T <=> gap > T-1 (pinned by the exact-gap boundary tests)."""
    if e is not None and e[0] == "<=":
        return ("<", e[1] + 1)
    if e is not None and e[0] == ">=":
        return (">", e[1] - 1)
    return e


_SEQ_TIMED_SENT = -(2**62)  # t_prev sentinel; never compared at state 0


#: kernel-side sub-slice width for the timed-adjacency product: the
#: '>' wait-chain tabulation is quadratic in a user's contiguous block
#: width, so blocks bound it to O(rows * BLOCK) while the per-user fold
#: composes blocks exactly like slices. IDS = the per-(user, slice)
#: block-count ceiling encoded into the composite fold key.
_ADJT_BLOCK = 1500
_ADJT_BLOCK_IDS = 1_000_000


def _seq_count_sliced_base(
    events, all_types, with_bounds=False, n_slices=None
):
    """Pattern-independent sliced event stream the count batteries
    share (the r9 compiled-family hoist applied to the count side):
    one parquet scan + one slice-quantile job for the whole battery;
    per-pattern machines filter to their own type subsets keeping the
    shared slice ids (composite slices are contiguous key ranges, so
    any subset remains contiguously sliced). Machines whose per-slice
    kernels are super-linear in slice width (the timed-adjacency wait
    chain) bound that KERNEL-SIDE with fixed-width _ADJT_BLOCK
    sub-slices — the slice count here stays at defaultParallelism.

    ``with_bounds=True`` additionally returns the quantile boundary
    literals (r12, guide §1.2): per-pattern machines that build their
    OWN slice/rank columns (the timed-adjacency LAG path) reuse them
    instead of re-running a quantile job whose input lineage re-executes
    this whole subtree — measured 3 quantile jobs -> 1 on
    sequence_count_adjacent_timed."""
    ev = events.select(
        "user_id",
        F.col("ts_us").cast("long").alias("ts_us"),
        "event_id",
        "event_type",
    )
    ev = ev.filter(F.col("event_type").isin(*set(all_types)))
    if n_slices is None:
        n_slices = ev.sparkSession.sparkContext.defaultParallelism
    key = RK.composite_slice_key("user_id", "ts_us")
    bounds = RK.slice_bounds(ev, key, n_slices)
    out = ev.withColumn("_sl", RK.slice_from_bounds(key, bounds))
    return (out, bounds) if with_bounds else out


def _piecewise_fold_counts(funcs, keys=("user_id",)):
    """Fold per-slice piecewise transfer-function rows (user_id, brk,
    exs, ext, exd, _sl) into per-user match counts: acc = (state,
    carried t_prev, count); per slice the piece index is the number of
    breaks strictly below the carried t_prev (breaks ascending; tiny
    compressed arrays, re-filtered per field — the operands are
    lambda-variable fields, cheap under the HOF rule); a null exit
    timestamp carries the entry t_prev through. Shared by the timed
    restart battery and the timed-adjacency product automaton
    (identical algebra, different transfer construction).
    ``keys`` lets the fused battery fold every pattern's rows in ONE
    shuffle keyed (pattern idx, user)."""
    folded = funcs.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(F.struct("_sl", "brk", "exs", "ext", "exd"))
        ).alias("_fs")
    )

    def _piece(x, acc, field):
        idx = F.size(
            F.filter(
                F.element_at(x["brk"], acc["s"] + 1),
                lambda bv: acc["t"] > bv,
            )
        )
        return F.element_at(F.element_at(x[field], acc["s"] + 1), idx + 1)

    state = F.aggregate(
        F.col("_fs"),
        F.struct(
            F.lit(0).alias("s"),
            F.lit(_SEQ_TIMED_SENT).cast("long").alias("t"),
            F.lit(0).cast("long").alias("c"),
        ),
        lambda acc, x: F.struct(
            _piece(x, acc, "exs").alias("s"),
            F.coalesce(_piece(x, acc, "ext"), acc["t"]).alias("t"),
            (acc["c"] + _piece(x, acc, "exd")).alias("c"),
        ),
    )
    counts = folded.select(*keys, state["c"].alias("seq_count"))
    return counts.filter(F.col("seq_count") >= 1)


def _restart_dfa(pattern: str, conds):
    """(delta, emit) tables of the RESTART automaton — ClickHouse
    sequenceCount's countAll over the condition-filtered stream: state s
    waits for its expected condition, ignores every other symbol, and
    the final advance emits and restarts (greedy non-overlapping chains:
    for s s p p, '(?1)(?3)' counts ONE chain — the second signup is
    skipped while seeking the first purchase — where the parenthesis-
    matching sequence_pair_count pairs two). Expressing it as a DFA
    lets the existence battery ride the same block-diagonal fused
    kernel as the adjacency battery. Time-constrained edges raise: the
    state would carry the anchor timestamp (the timed battery covers
    them)."""
    steps, edges = _parse_seq_pattern(pattern)
    if any(e is not None for e in edges):
        raise ValueError(
            "restart DFA: time-constrained edges are not tabulable "
            "under restart semantics (state would carry timestamps)"
        )
    types = _cond_types(steps, conds)
    sym = {c: a for a, c in enumerate(conds)}
    k = len(types)
    delta = [[s] * len(conds) for s in range(k)]
    emit = [[0] * len(conds) for _ in range(k)]
    for s, tname in enumerate(types):
        a = sym[tname]
        if s == k - 1:
            delta[s][a] = 0
            emit[s][a] = 1
        else:
            delta[s][a] = s + 1
    return delta, emit


def _seq_count_dfa_meta(pattern: str, conds, allow_timed: bool = False):
    """Compile an adjacency-aware sequenceCount pattern into the
    leftmost-search counting DFA plus the word metadata the TIMED
    product automaton needs: words = maximal runs of adjacent steps;
    between words '.*' (or a time constraint — a constraint is a
    separator, so every timed edge is a BETWEEN-WORD edge) searches;
    within a word, mismatches fall back via the word's OWN KMP failure
    function (earlier words are locked in — '.*' re-searches only the
    current word).

    Returns a dict with:
      delta[q][a]   next state reading symbol ``a`` in state ``q``
                    (0..L-1, L = total steps)
      emit[q][a]    1 when that read completes the FINAL word
      complete[q][a]  word index the read completes, else -1
      w_start[j]    first state of word j;  wlen[j] its length
      wedge[j]      inbound time edge of word j (None / (op, T_us),
                    '<='/'>=' reduced to strict on integer micros)
      wcont[j]      KMP continuation state after a FULL occurrence of
                    word j is found but rejected (wait semantics):
                    w_start[j] + prefix_function(full word)
      w1c[a]        reprocessing symbol ``a`` from state 0 completes
                    word 0 (single-symbol first word) — restart helper
    With ``allow_timed=False`` any time edge raises (the untimed
    entry's contract)."""
    steps, edges, adjacent = _parse_seq_pattern(pattern, with_adjacency=True)
    if not allow_timed and any(e is not None for e in edges):
        raise ValueError(
            "sequence_count_adjacent: time-constrained edges are not "
            "pinned under adjacency counting; "
            "sequence_count_adjacent_timed covers them"
        )
    types = _cond_types(steps, conds)
    words: list[list[int]] = [[0]]
    wedge: list[tuple[str, int] | None] = [None]
    for k in range(1, len(steps)):
        if adjacent[k - 1]:
            if edges[k - 1] is not None:  # unreachable: timed => separator
                raise ValueError("timed edge inside an adjacent word")
            words[-1].append(k)
        else:
            words.append([k])
            wedge.append(_strict_edge(edges[k - 1]))
    sym = {c: a for a, c in enumerate(conds)}
    L = len(steps)
    A = len(conds)
    delta = [[0] * A for _ in range(L)]
    emit = [[0] * A for _ in range(L)]
    complete = [[-1] * A for _ in range(L)]
    w_starts: list[int] = []
    wcont: list[int] = []
    w_start = 0
    for wi, w in enumerate(words):
        w_starts.append(w_start)
        word = [sym[types[k]] for k in w]
        # prefix function of the word
        pi = [0] * len(word)
        for j in range(1, len(word)):
            g = pi[j - 1]
            while g and word[j] != word[g]:
                g = pi[g - 1]
            pi[j] = g + 1 if word[j] == word[g] else 0
        # continuation after a rejected full occurrence: longest proper
        # prefix of the word that is also its suffix (KMP search resume)
        gfull = pi[-1] if len(word) > 1 else 0
        wcont.append(w_start + gfull)
        for j in range(len(word)):
            q = w_start + j
            for a in range(A):
                if a == word[j]:
                    nxt = q + 1
                    if j == len(word) - 1:
                        complete[q][a] = wi
                    if nxt == L:
                        emit[q][a] = 1
                        nxt = 0
                else:
                    # standard KMP search-automaton fallback: longest
                    # proper suffix of (matched prefix + a) that is a
                    # word prefix; never completes the word (g < j)
                    g = j
                    while g > 0 and word[g] != a:
                        g = pi[g - 1]
                    nxt = w_start + (g + 1 if word[g] == a else 0)
                delta[q][a] = nxt
        w_start += len(word)
    w1c = [complete[0][a] == 0 for a in range(A)]
    return {
        "delta": delta,
        "emit": emit,
        "complete": complete,
        "w_start": w_starts,
        "wlen": [len(w) for w in words],
        "wedge": wedge,
        "wcont": wcont,
        "w1c": w1c,
        "n_words": len(words),
        "L": L,
    }


def _seq_count_dfa(pattern: str, conds):
    """Untimed counting-DFA view (delta, emit) of
    :func:`_seq_count_dfa_meta` — the sequence_count_adjacent contract
    (time edges raise)."""
    meta = _seq_count_dfa_meta(pattern, conds, allow_timed=False)
    return meta["delta"], meta["emit"]


def _sequence_count_battery_fused(
    events, patterns, conds, _sliced=None, dfa_of=_seq_count_dfa
):
    """A whole untimed counting battery in ONE kernel pass + ONE fold
    shuffle (r12, guide §2.4 fewer passes — the same fusion the timed
    battery got in e42b40d, here with zero new kernel logic):

    Every pattern's counting DFA reads the SAME conds-filtered stream
    (undeclared types are invisible to every automaton in the battery),
    and the per-slice tabulation is a pure gather over the state
    vector — so the P automata STACK block-diagonally into one combined
    (sum L_p)-state DFA whose per-event gather advances all of them at
    once. The per-user fold then runs one HOF per pattern over its
    block (entry state = the block offset; exit states never leave
    their block), from ONE collect_list — P fold shuffles collapse
    to 1. ``dfa_of`` picks the per-pattern table builder: the
    adjacency KMP DFA (default) or :func:`_restart_dfa` for the
    existence battery. A one-pattern battery is the single-pattern
    counter (:func:`sequence_count` runs exactly that).

    Distribution: a DFA's action over a composite (user, ts) slice is
    a pure map entry_state -> (exit_state, completed_count), and map
    composition is associative — so one Arrow batch per slice folds its
    events into a state map (an O(L) gather per event advances the
    whole state vector), and the per-user HOF folds the <= n_slices map
    rows in slice order. Tie order (ts, event_id) is pinned in both
    engines (ClickHouse declares same-second order undefined).

    Equivalence to the per-pattern union is structural (block-diagonal
    transition tables cannot interact) and pinned by
    tests/test_sequence_count_adjacent.py::test_fused_battery_matches_
    per_pattern_union on the smoke corpus (both batteries)."""
    import pandas as pd

    sym = {c: a for a, c in enumerate(conds)}
    delta_rows: list[list[int]] = []
    emit_rows: list[list[int]] = []
    offsets: list[int] = []
    for pat in patterns:
        d, e = dfa_of(pat, conds)
        off = len(delta_rows)
        offsets.append(off)
        delta_rows.extend([x + off for x in row] for row in d)
        emit_rows.extend(list(row) for row in e)
    n_states = len(delta_rows)

    st = _seq_count_sliced_base(events, conds) if _sliced is None else _sliced

    def tab(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        delta = np.asarray(delta_rows, dtype=np.int64)
        emit = np.asarray(emit_rows, dtype=np.int64)
        pdf = pdf.sort_values(
            ["user_id", "ts_us", "event_id"], kind="mergesort"
        )
        uid = pdf["user_id"].to_numpy()
        code = pdf["event_type"].map(sym).to_numpy(dtype=np.int64)
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        ends = np.r_[starts[1:], len(uid)]
        out_u, out_e, out_d = [], [], []
        for a, b in zip(starts, ends):
            smap = np.arange(n_states, dtype=np.int64)
            cnt = np.zeros(n_states, dtype=np.int64)
            for c in code[a:b]:
                cnt += emit[smap, c]
                smap = delta[smap, c]
            out_u.append(int(uid[a]))
            out_e.append([int(x) for x in smap])
            out_d.append([int(x) for x in cnt])
        sl = int(pdf["_sl"].iloc[0]) if len(pdf) else 0
        return pd.DataFrame(
            {
                "user_id": out_u,
                "_sl": [sl] * len(out_u),
                "exits": out_e,
                "deltas": out_d,
            }
        )

    funcs = RK.grouped_kernel(
        st,
        ["_sl"],
        tab, "user_id long, _sl int, exits array<int>, deltas array<long>"
    )
    folded = funcs.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("_sl", "exits", "deltas"))
        ).alias("_fs")
    )

    def count_for(off: int):
        return F.aggregate(
            F.col("_fs"),
            F.struct(
                F.lit(off).alias("s"), F.lit(0).cast("long").alias("c")
            ),
            lambda acc, x: F.struct(
                F.element_at(x["exits"], acc["s"] + 1).alias("s"),
                (acc["c"] + F.element_at(x["deltas"], acc["s"] + 1)).alias(
                    "c"
                ),
            ),
        )["c"]

    pairs = F.array(
        *[
            F.struct(
                F.lit(pat).alias("pattern"),
                count_for(off).cast("long").alias("seq_count"),
            )
            for pat, off in zip(patterns, offsets)
        ]
    )
    return (
        folded.select("user_id", F.explode(pairs).alias("_x"))
        .select(
            F.col("_x.pattern").alias("pattern"),
            "user_id",
            F.col("_x.seq_count").alias("seq_count"),
        )
        .filter(F.col("seq_count") >= 1)
    )


def _timed_transfer_pieces(types, edges, k_states, sts, pos):
    """One user's piecewise transfer function of the timed restart
    automaton over one slice (per pattern, inside the fused kernel of
    :func:`_sequence_count_timed_multi`). ``sts`` = the user's slice
    timestamps in scan order; ``pos`` = per-type positions into that
    order (it may index MORE types than the pattern touches — the
    construction only ever reads ``pos[expected type]``, so extra rows
    are invisible to it).
    Returns the compressed per-entry-state piece table (brk, exs, ext,
    exd) documented in :func:`_sequence_count_timed_multi`."""
    import numpy as np

    def run(p, s, t_prev):
        # concrete scan from after index p; t_prev concrete.
        # '<' violated (or '==' overshot) -> restart at the
        # event (re-anchor iff its condition is condition 1);
        # '>' violated (or '==' undershot) -> SKIP the event
        # and keep waiting (r9/r10).
        cnt = 0
        while True:
            arr = pos[types[s]]
            j = int(np.searchsorted(arr, p, side="right"))
            if j >= len(arr):
                return s, t_prev, cnt
            i = int(arr[j])
            e = edges[s - 1] if s >= 1 else None
            gap = int(sts[i]) - t_prev
            if (
                e is None
                or (e[0] == "<" and gap < e[1])
                or (e[0] == ">" and gap > e[1])
                or (e[0] == "==" and gap == e[1])
            ):
                s += 1
                t_prev = int(sts[i])
                if s == k_states:
                    cnt += 1
                    s = 0
            elif e[0] == "<" or (e[0] == "==" and gap > e[1]):
                # dead chain: restart at event
                if types[s] == types[0]:
                    s, t_prev = 1, int(sts[i])
                    if k_states == 1:
                        cnt += 1
                        s = 0
                else:
                    s = 0
            # else too early: wait (state, t_prev unchanged)
            p = i

    def advance_from(entry, j0):
        # outcome of ADVANCING out of `entry` at event index j0
        s_hi, t_hi = entry + 1, int(sts[j0])
        c_hi = 0
        if s_hi == k_states:
            c_hi, s_hi = 1, 0
        s1, t1, c1 = run(j0, s_hi, t_hi)
        return s1, t1, c_hi + c1

    def restart_from(entry, j0):
        # outcome of a dead-chain RESTART at event index j0
        # (re-anchor iff its condition equals condition 1)
        if types[entry] == types[0]:
            s_lo, t_lo, c_lo = 1, int(sts[j0]), 0
            if k_states == 1:
                c_lo, s_lo = 1, 0
        else:
            s_lo, t_lo, c_lo = 0, _SEQ_TIMED_SENT, 0
        s2, t2, c2 = run(j0, s_lo, t_lo)
        return s2, t2, c_lo + c2

    # per entry state: a step function of entry t_prev —
    # pieces[i] applies when exactly i breaks are < t_prev
    # (breaks ascending); each piece = (exit_s, exit_ts, delta)
    brk: list = []
    exs: list = []
    ext: list = []
    exd: list = []
    for entry in range(k_states):
        e = edges[entry - 1] if entry >= 1 else None
        arr = pos[types[entry]]
        if len(arr) == 0:
            # no touch: identity — carry entry t_prev through
            brk.append([])
            exs.append([entry]); ext.append([None]); exd.append([0])
            continue
        if e is None:
            # first advance unconditional; concrete after it
            s1, t1, c1 = run(-1, entry, _SEQ_TIMED_SENT)
            brk.append([])
            exs.append([s1]); ext.append([t1]); exd.append([c1])
            continue
        if e[0] == "<":
            # one threshold at the first expected event:
            # advance iff t_prev > ts0 - T, else restart there
            j0 = int(arr[0])
            pieces = [
                restart_from(entry, j0),  # t_prev <= ts0 - T
                advance_from(entry, j0),  # t_prev > ts0 - T
            ]
            breaks = [int(sts[j0]) - e[1]]
        elif e[0] == "==":
            # exact offset (r10): scanning expected events in
            # order, the FIRST with gap >= T decides — lock on
            # equality, restart past it, wait below. Pieces
            # alternate restart intervals with single-point
            # locks at t_prev == ts_j - T (integer micros make
            # the point the interval (ts_j-T-1, ts_j-T]); the
            # tail (every event too early) waits out the slice.
            # Equal-ts runs collapse to their first event.
            uniq: list = []
            for j0 in arr:
                if not uniq or int(sts[int(j0)]) != uniq[-1][1]:
                    uniq.append((int(j0), int(sts[int(j0)])))
            pieces = []
            breaks = []
            for j0, ts0 in uniq:
                pieces.append(restart_from(entry, j0))
                breaks.append(ts0 - e[1] - 1)
                pieces.append(advance_from(entry, j0))
                breaks.append(ts0 - e[1])
            pieces.append((entry, None, 0))
        else:
            # '>' wait-until-satisfied: the automaton advances
            # at the FIRST expected event with ts > t_prev + T,
            # i.e. piece j (advance at arr[j]) applies for
            # ts_{j-1} - T <= t_prev < ts_j - T; the tail piece
            # (t_prev >= ts_last - T) never advances in-slice.
            # Breaks ts_j - T - 1 make "< ts_j - T" exact under
            # the "breaks strictly below t_prev" selector on
            # integer micros.
            pieces = [
                advance_from(entry, int(j0)) for j0 in arr
            ]
            pieces.append((entry, None, 0))  # wait out the slice
            breaks = [int(sts[int(j0)]) - e[1] - 1 for j0 in arr]
        # compress: merge adjacent pieces with equal outcomes
        cb: list = []
        cp: list = [pieces[0]]
        for bval, piece in zip(breaks, pieces[1:]):
            if piece == cp[-1]:
                continue
            cb.append(bval)
            cp.append(piece)
        brk.append(cb)
        exs.append([p_[0] for p_ in cp])
        ext.append([p_[1] for p_ in cp])
        exd.append([p_[2] for p_ in cp])
    return brk, exs, ext, exd


def _sequence_count_timed_multi(events, patterns, conds, _sliced=None):
    """Restart-semantics sequenceCount with ``(?t<T)`` / ``(?t>T)`` /
    ``(?t==T)`` edges for a whole battery (ClickHouse
    AggregateFunctionSequenceMatch.h countAll with time constraints).

    Pinned timed-restart semantics (documented deviation — ClickHouse
    matches with backtracking; we pin a deterministic greedy scan):
    events scan per user in (ts, event_id) order; only events of the
    currently-expected condition touch the automaton. At a state whose
    inbound edge is ('<', T) an expected event ADVANCES iff
    ``ts - t_prev < T``; otherwise the chain is dead (every later
    candidate is later still) and the automaton RESTARTS at that event,
    re-anchoring to state 1 iff its condition equals condition 1. At a
    ('>', T) state the rule is WAIT-UNTIL-SATISFIED: an expected event
    with gap <= T is skipped (state and carried timestamp unchanged) and
    the chain advances at the first expected event with gap > T. At a
    ('==', T) state an undershot event (gap < T) waits and an overshot
    one restarts. ``(?t<=T)``/``(?t>=T)`` reduce to ``(?t<T+1us)``/
    ``(?t>T-1us)`` exactly on integer-microsecond timestamps.

    Why this distributes: the per-slice transfer function has domain
    (entry_state, carried t_prev) and is a STEP FUNCTION of t_prev —
    a '<' entry state has one threshold at the first expected event
    (2 pieces); a '>' entry state one piece per candidate first-advance
    event (breaks ts_j - T) plus a no-advance tail; a '==' entry state
    alternates restart intervals with single-point locks; everything
    after the first advance is concrete. Equal adjacent pieces merge,
    so a row carries the compressed table (brk, exs, ext, exd): per
    entry state, the ascending breaks and per piece the exit state,
    exit timestamp (null = carry the entry t_prev) and match delta.
    :func:`_piecewise_fold_counts` composes them per user.

    Fused: ONE applyInPandas pass computes every pattern's
    per-(slice, user) transfer function — the kernel sort and the
    per-type position index are built once per user, not once per
    pattern — and ONE (pattern, user) fold shuffle serves the battery.
    :func:`_timed_transfer_pieces` only reads the expected types'
    positions, so the union stream's extra rows are invisible, and a
    user with no events of a pattern's types folds to count 0 and is
    filtered."""
    import pandas as pd

    metas = []
    for pat in patterns:
        steps, edges = _parse_seq_pattern(pat)
        edges = [_strict_edge(e) for e in edges]
        types = _cond_types(steps, conds)
        metas.append((types, edges, len(types)))
    all_types = sorted({tn for types, _, _ in metas for tn in types})
    if _sliced is not None:
        st = _sliced.filter(F.col("event_type").isin(*all_types))
    else:
        # finer slices than the default (4x parallelism): the
        # fused kernel runs every pattern's construction serially per
        # slice task, so the straggler slice is |patterns|x heavier —
        # splitting it restores the task packing the old 5-subtree
        # union job got for free (measured 6.1 s -> see below at 1x)
        st = _seq_count_sliced_base(
            events,
            all_types,
            n_slices=4 * events.sparkSession.sparkContext.defaultParallelism,
        )

    def tab(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["user_id", "ts_us", "event_id"], kind="mergesort"
        )
        uid = pdf["user_id"].to_numpy()
        et = pdf["event_type"].to_numpy()
        tsv = pdf["ts_us"].to_numpy()
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        ends = np.r_[starts[1:], len(uid)]
        sl = int(pdf["_sl"].iloc[0]) if len(pdf) else 0
        cols: dict[str, list] = {
            k: []
            for k in ("_p", "user_id", "_sl", "brk", "exs", "ext", "exd")
        }
        # kernel-side sub-slicing (r12, the adjacency kernel's skew fix
        # applied here): a '>'-gated wait chain costs O(width x comps)
        # per entry state — quadratic in a hot user's in-slice width.
        # Fixed-width blocks bound it to O(width x BLOCK); the
        # piecewise fold composes blocks exactly like slices (composite
        # ids keep (slice, block) order). Measured on the mega-user
        # skew corpus: ratio 4.98 -> see SKEW_PROBE.json.
        for a, b in zip(starts, ends):
            for ca in range(int(a), int(b), _ADJT_BLOCK):
                ce = min(ca + _ADJT_BLOCK, int(b))
                sub = et[ca:ce]
                sts = tsv[ca:ce]
                pos = {tn: np.flatnonzero(sub == tn) for tn in all_types}
                comp_sl = (
                    sl * _ADJT_BLOCK_IDS + (ca - int(a)) // _ADJT_BLOCK
                )
                for pi, (types, edges, k_states) in enumerate(metas):
                    brk, exs, ext, exd = _timed_transfer_pieces(
                        types, edges, k_states, sts, pos
                    )
                    cols["_p"].append(pi)
                    cols["user_id"].append(int(uid[a]))
                    cols["_sl"].append(comp_sl)
                    cols["brk"].append(brk)
                    cols["exs"].append(exs)
                    cols["ext"].append(ext)
                    cols["exd"].append(exd)
        return pd.DataFrame(cols)

    funcs = RK.grouped_kernel(
        st,
        ["_sl"],
        tab,
        "_p int, user_id long, brk array<array<long>>, "
        "exs array<array<int>>, ext array<array<long>>, "
        "exd array<array<long>>, _sl long",
    )
    counts = _piecewise_fold_counts(funcs, keys=("_p", "user_id"))
    pat_arr = F.array(*[F.lit(p) for p in patterns])
    return counts.select(
        F.element_at(pat_arr, F.col("_p") + 1).alias("pattern"),
        "user_id",
        F.col("seq_count").cast("long").alias("seq_count"),
    )


def _adjt_lag_depths(meta) -> list[int]:
    """Occurrence-start lookbacks the product automaton needs: for each
    timed-inbound word of length L, the completion event must see the
    timestamp L-1 declared positions back (the word occupies L
    CONSECUTIVE declared positions, so the start is a fixed lag)."""
    return sorted(
        {
            meta["wlen"][j] - 1
            for j in range(meta["n_words"])
            if meta["wedge"][j] is not None and meta["wlen"][j] >= 2
        }
    )


def _adjt_transfer_pieces(meta, code, tsv, lag):
    """Per-block piecewise transfer tables of the timed-adjacency
    product automaton: the (brk, exs, ext, exd) entry-state rows of ONE
    (user, block) for one pattern, called per pattern inside the fused
    kernel of :func:`_sequence_count_adjacent_timed_multi`. ``lag`` maps
    occurrence-start depths to the block's lag columns; a superset of
    the pattern's own depths is fine — only ``wlen-1`` depths of timed
    multi-symbol words are read."""
    delta_t = meta["delta"]
    complete_t = meta["complete"]
    w_start_t = meta["w_start"]
    wlen_t = meta["wlen"]
    wedge_t = meta["wedge"]
    wcont_t = meta["wcont"]
    n_words = meta["n_words"]
    L = meta["L"]
    n = len(code)

    def occ_start(i: int, j: int) -> int:
        d = wlen_t[j] - 1
        return int(tsv[i]) if d == 0 else int(lag[d][i])

    def lock(j: int, i: int):
        # outcome of LOCKING word j at completing event i
        if j == n_words - 1:
            return 0, _SEQ_TIMED_SENT, 1
        return w_start_t[j + 1], int(tsv[i]), 0

    def restart(i: int):
        # reprocess event i from state 0 with the anchor cleared
        a = int(code[i])
        if complete_t[0][a] == 0:  # single-symbol first word
            return w_start_t[1], int(tsv[i]), 0
        return delta_t[0][a], _SEQ_TIMED_SENT, 0

    def cstep(q: int, i: int, tp: int):
        a = int(code[i])
        j = complete_t[q][a]
        if j < 0:
            return delta_t[q][a], tp, 0
        e = wedge_t[j]
        if e is not None:
            gap = occ_start(i, j) - tp
            op, tb = e
            ok = (
                gap < tb
                if op == "<"
                else gap > tb
                if op == ">"
                else gap == tb
            )
            if not ok:
                if op == ">" or (op == "==" and gap < tb):
                    return wcont_t[j], tp, 0  # wait
                return restart(i)  # dead chain
        return lock(j, i)

    def crun(i0: int, q: int, tp: int):
        c = 0
        for k in range(i0, n):
            q, tp, dc = cstep(q, k, tp)
            c += dc
        return q, tp, c

    def lock_run(j: int, i: int):
        q2, tp2, dc = lock(j, i)
        qe, te, ce = crun(i + 1, q2, tp2)
        return qe, te, dc + ce

    def restart_run(i: int):
        q2, tp2, dc = restart(i)
        qe, te, ce = crun(i + 1, q2, tp2)
        return qe, te, dc + ce

    brk: list = []
    exs: list = []
    ext: list = []
    exd: list = []
    for entry in range(L):
        # symbolic prefix: the DFA advances t_prev-free until
        # the first word completion
        q, i = entry, 0
        while i < n and complete_t[q][int(code[i])] < 0:
            q = delta_t[q][int(code[i])]
            i += 1
        if i == n:
            brk.append([])
            exs.append([q]); ext.append([None]); exd.append([0])
            continue
        j = complete_t[q][int(code[i])]
        e = wedge_t[j]
        if e is None:
            # untimed lock/emit: concrete from here on
            pieces = [lock_run(j, i)]
            breaks: list = []
        elif e[0] == "<":
            s0 = occ_start(i, j)
            pieces = [restart_run(i), lock_run(j, i)]
            breaks = [s0 - e[1]]
        else:
            # enumerate the wait chain: successive completions
            # of word j under KMP-search resume
            comps = [(i, occ_start(i, j))]
            qq, k = wcont_t[j], i + 1
            while k < n:
                a2 = int(code[k])
                if complete_t[qq][a2] == j:
                    comps.append((k, occ_start(k, j)))
                    qq = wcont_t[j]
                else:
                    qq = delta_t[qq][a2]
                k += 1
            if e[0] == ">":
                pieces = [lock_run(j, c) for c, _ in comps]
                pieces.append((qq, None, 0))  # wait out the slice
                breaks = [s - e[1] - 1 for _, s in comps]
            else:  # '==': restart intervals + point locks
                uniq = []
                for c, s in comps:
                    if not uniq or s != uniq[-1][1]:
                        uniq.append((c, s))
                pieces, breaks = [], []
                for c, s in uniq:
                    pieces.append(restart_run(c))
                    breaks.append(s - e[1] - 1)
                    pieces.append(lock_run(j, c))
                    breaks.append(s - e[1])
                pieces.append((qq, None, 0))
        # compress: merge adjacent pieces with equal outcomes
        cb: list = []
        cp: list = [pieces[0]]
        for bval, piece in zip(breaks, pieces[1:]):
            if piece == cp[-1]:
                continue
            cb.append(bval)
            cp.append(piece)
        brk.append(cb)
        exs.append([p_[0] for p_ in cp])
        ext.append([p_[1] for p_ in cp])
        exd.append([p_[2] for p_ in cp])
    return brk, exs, ext, exd


def _sequence_count_adjacent_timed_multi(
    events, patterns, conds, _sliced=None, _bounds=None
):
    """sequenceCount with TIME CONSTRAINTS under the REAL adjacency
    semantics, for a whole battery — the product of the KMP counting
    DFA (:func:`_seq_count_dfa_meta`) and the timed wait/restart
    automaton (:func:`_sequence_count_timed_multi`). A time constraint
    is a separator in AggregateFunctionSequenceMatch.h (KleeneStar plus
    a gap check), so every timed edge sits BETWEEN words.

    Pinned product semantics (greedy scan, the same documented
    deviation as the timed restart automaton): declared-condition
    events scan per user in (ts, event_id) order and drive the DFA.
    Completing word j whose inbound edge is (op, T) checks
    ``gap = start(occurrence) - t_prev``, where the start is the
    occurrence's FIRST event (KMP fallback can shift an occurrence later
    than its first candidate, so the gate is at completion, never at
    word entry) and t_prev is the previously locked word's completion:
    satisfied LOCKS (final word: count += 1, restart, anchor cleared);
    a dead '<' (or overshot '==') RESTARTS by reprocessing the event
    from state 0; a too-early '>' (or undershot '==') WAITS at the
    word's KMP continuation state (w_start + prefix_function(word)).

    Distribution is the timed step-function algebra over the DFA's
    states (untimed lock = 1 piece, '<' gate = 2, '>' gate = one per
    wait-chain completion + tail). Cross-slice occurrence starts ride
    as DATA: a per-user positional LAG column (skew-safe
    operators/ranking.ranked joined on (user, rank-d)) gives every event
    its occurrence-start timestamp, so the fold stays
    :func:`_piecewise_fold_counts`.

    Fused: ONE ranked/lag subtree for the UNION of the patterns'
    occurrence-start depths, ONE applyInPandas pass whose per-block
    sort, symbol coding and lag extraction are shared across patterns,
    and ONE (pattern, user) fold shuffle. Patterns without lag depths
    never read the extra lag columns."""
    import pandas as pd

    metas = [
        _seq_count_dfa_meta(p, conds, allow_timed=True) for p in patterns
    ]
    sym = {c: a for a, c in enumerate(conds)}
    all_depths = sorted({d for m in metas for d in _adjt_lag_depths(m)})

    if _sliced is not None and not all_depths:
        st = _sliced
    else:
        ev = (
            _sliced.drop("_sl")
            if _sliced is not None
            else events.select(
                "user_id",
                F.col("ts_us").cast("long").alias("ts_us"),
                "event_id",
                "event_type",
            ).filter(F.col("event_type").isin(*set(conds)))
        )
        if all_depths:
            base = RK.ranked(
                ev.withColumnRenamed("ts_us", "_ets"),
                ["user_id"],
                ["_ets", "event_id"],
                slice_col=RK.composite_slice_key("user_id", "_ets"),
                broadcast_offsets=False,  # offsets grow with data (r9 trap)
                bounds=_bounds,
            ).drop("_n")
            for d in all_depths:
                lagd = base.select(
                    F.col("user_id").alias("_lu"),
                    (F.col("_rank") + F.lit(d)).alias("_lr"),
                    F.col("_ets").alias(f"_lag{d}"),
                )
                base = base.join(
                    lagd,
                    (F.col("user_id") == F.col("_lu"))
                    & (F.col("_rank") == F.col("_lr")),
                    "left",
                ).drop("_lu", "_lr")
            st = base.withColumnRenamed("_ets", "ts_us").drop("_rank")
        else:
            st = ev
        n_slices = st.sparkSession.sparkContext.defaultParallelism
        st = st.withColumn(
            "_sl",
            RK.slice_expr(
                st,
                RK.composite_slice_key("user_id", "ts_us"),
                n_slices,
                bounds=_bounds,
            ),
        )
    lag_cols = [f"_lag{d}" for d in all_depths]

    def tab(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["user_id", "ts_us", "event_id"], kind="mergesort"
        )
        uid = pdf["user_id"].to_numpy()
        code_all = pdf["event_type"].map(sym).to_numpy(dtype=np.int64)
        ts_all = pdf["ts_us"].to_numpy(dtype=np.int64)
        lag_all = {}
        for d, c in zip(all_depths, lag_cols):
            v = pdf[c].to_numpy(dtype="float64")
            lag_all[d] = np.where(
                np.isnan(v), float(_SEQ_TIMED_SENT), v
            ).astype(np.int64)
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        ends = np.r_[starts[1:], len(uid)]
        sl = int(pdf["_sl"].iloc[0]) if len(pdf) else 0
        cols: dict[str, list] = {
            k: []
            for k in ("_p", "user_id", "_sl", "brk", "exs", "ext", "exd")
        }
        blk_pairs = []
        for ua, ub in zip(starts, ends):
            for ca in range(int(ua), int(ub), _ADJT_BLOCK):
                blk_pairs.append(
                    (int(ua), ca, min(ca + _ADJT_BLOCK, int(ub)))
                )
        for ua, ca, ce in blk_pairs:
            code = code_all[ca:ce]
            tsv = ts_all[ca:ce]
            lag = {d: lag_all[d][ca:ce] for d in all_depths}
            comp_sl = sl * _ADJT_BLOCK_IDS + (ca - int(ua)) // _ADJT_BLOCK
            for pi, m in enumerate(metas):
                brk, exs, ext, exd = _adjt_transfer_pieces(
                    m, code, tsv, lag
                )
                cols["_p"].append(pi)
                cols["user_id"].append(int(uid[ua]))
                cols["_sl"].append(comp_sl)
                cols["brk"].append(brk)
                cols["exs"].append(exs)
                cols["ext"].append(ext)
                cols["exd"].append(exd)
        return pd.DataFrame(cols)

    funcs = RK.grouped_kernel(
        st,
        ["_sl"],
        tab,
        "_p int, user_id long, brk array<array<long>>, "
        "exs array<array<int>>, ext array<array<long>>, "
        "exd array<array<long>>, _sl long",
    )
    counts = _piecewise_fold_counts(funcs, keys=("_p", "user_id"))
    pat_arr = F.array(*[F.lit(p) for p in patterns])
    return counts.select(
        F.element_at(pat_arr, F.col("_p") + 1).alias("pattern"),
        "user_id",
        F.col("seq_count").cast("long").alias("seq_count"),
    )
