"""Streaming sequenceMatch ADJACENCY twin (stateful operator).

Twin of the batch ``sequence_match_adjacent`` position DP
(plans/queries.py::_sequence_match_adjacent_users): ClickHouse-exact
adjacency semantics — undeclared-condition events invisible, a bare
edge requires CONSECUTIVE declared-stream positions, '.*' and time
edges allow intervening events — evaluated incrementally with O(L)
per-user state instead of the batch's per-edge distributed passes.

The incremental form: the batch DP's qualified(k) is the SET of stream
positions where a length-k prefix can end, but each edge type only ever
consults a bounded SUMMARY of that set —

  adjacency edge   "was the IMMEDIATELY PRECEDING declared event a
                   qualified end of prefix k?"  -> one rolling boolean
                   (the batch (user, rank+1) join, localized)
  '.*' edge        "has ANY strictly-earlier position qualified?"
                   -> one sticky boolean (the batch MIN-rank agg)
  (?t< / <=)       latest qualified predecessor timestamp -> running
                   MAX (the batch running-extrema pass, telescoped)
  (?t> / >=)       earliest -> running MIN
  (?t==T)          (r11) membership of ``ts - T`` in the qualified
                   predecessor-timestamp set (the batch exact-offset
                   hash join) — kept as a PRUNED sorted deque: events
                   decide in non-decreasing ts, so a query at ts only
                   ever looks exactly T back, and every entry older
                   than ``ts - T`` is dead; the deque is bounded by
                   the qualified events inside one T-window (the same
                   kind of time bound the in-watermark buffer has).
                   T == 0 never qualifies, the batch's static pin (a
                   strict chain can't gain 0).

so the whole DP is a length-L vector of (prev_qualified, any_qualified,
max_ts, min_ts, eq_deque) advanced one declared event at a time. Each
event's qualifications are computed from the PRE-event vector
(strictly-earlier positions only), matching the batch's "a row never
chains with itself" pin; events are processed in the batch's exact
(ts, event_type) rank order.

EXACT within the watermark: events are decided only once the event-time
watermark passes them — in-watermark arrivals buffer in state and
replay in order, so out-of-order delivery inside the watermark cannot
reorder the DP. Emission is at most ONE row per user (first match, a
``done`` tombstone until idle eviction — the funnel contract); state is
O(L) + the in-watermark buffer + the pruned '==' deques (qualified
events inside one T-window each).
"""

from __future__ import annotations

from pyspark.sql import types as T

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("matched_ts_us", T.LongType()),
    ]
)

_NEG = -(2**62)
_POS = 2**62


def compile_adjacency(pattern: str, conds: tuple[str, ...]):
    """(types, edges, adjacent) for the streaming DP — the batch
    compiler's three-value parse."""
    from ..operators.sequence import _cond_types, _parse_seq_pattern

    steps, edges, adjacent = _parse_seq_pattern(
        pattern, with_adjacency=True
    )
    return _cond_types(steps, conds), edges, adjacent


def fresh_vec(L):
    """Empty DP vector: nothing qualified, extrema at the sentinels,
    '==' predecessor deques empty."""
    return (
        [False] * L, [False] * L, [_NEG] * L, [_POS] * L,
        [[] for _ in range(L)],
    )


def advance_adjacency(vec, events, types, edges, adjacent):
    """Pure decision core, shared with the pytest brute-force pin.

    ``vec`` = (prevq, anyq, maxe, mine, eqs) lists of length L
    (sentinels ``_NEG``/``_POS`` for unset extrema; ``eqs[k]`` the
    pruned ascending deque of qualified prefix-(k+1) end timestamps,
    maintained only when ``edges[k]`` is a '==' edge); ``events`` =
    (ts_us, event_type) DECLARED-condition rows, already sorted in the
    batch rank order (ts, event_type). Returns (vec, matched_ts_us |
    None): advances the DP one event at a time and reports the first
    event completing prefix L."""
    from bisect import bisect_left

    prevq, anyq, maxe, mine, eqs = vec
    L = len(types)
    matched = None
    # feeds_eq[k]: prefix k+1 feeds a '==' edge, so its qualified end
    # timestamps must be remembered (pruned below ts - T)
    feeds_eq = [
        k < L - 1 and edges[k] is not None and edges[k][0] == "=="
        for k in range(L)
    ]
    for ets, etype in events:
        # prune dead '==' predecessors: ts is non-decreasing, so an
        # entry older than ets - T can never be queried again
        for k in range(L - 1):
            if feeds_eq[k] and eqs[k]:
                floor = ets - edges[k][1]
                i = bisect_left(eqs[k], floor)
                if i:
                    del eqs[k][:i]
        newq = [False] * L
        for k in range(L):
            if etype != types[k]:
                continue
            if k == 0:
                ok = True
            elif adjacent[k - 1]:
                ok = prevq[k - 1]
            else:
                e = edges[k - 1]
                if e is None:
                    ok = anyq[k - 1]
                elif e[0] in ("<", "<="):
                    gap = ets - maxe[k - 1]
                    ok = anyq[k - 1] and (
                        gap < e[1] if e[0] == "<" else gap <= e[1]
                    )
                elif e[0] == "==":
                    # membership of the exact-offset predecessor; T = 0
                    # is the batch's static never-qualifies pin
                    want = ets - e[1]
                    d = eqs[k - 1]
                    i = bisect_left(d, want)
                    ok = (
                        e[1] > 0 and i < len(d) and d[i] == want
                    )
                else:  # '>' / '>='
                    gap = ets - mine[k - 1]
                    ok = anyq[k - 1] and (
                        gap > e[1] if e[0] == ">" else gap >= e[1]
                    )
            newq[k] = ok
        for k in range(L):
            if newq[k]:
                anyq[k] = True
                if ets > maxe[k]:
                    maxe[k] = ets
                if ets < mine[k]:
                    mine[k] = ets
                if feeds_eq[k] and (not eqs[k] or eqs[k][-1] != ets):
                    eqs[k].append(ets)
        prevq = newq
        if newq[L - 1] and matched is None:
            matched = ets
    return (prevq, anyq, maxe, mine, eqs), matched


def sequence_match_adjacent_streaming(
    events,
    pattern: str,
    conds: tuple[str, ...],
    idle_timeout_minutes: int = 24 * 60,
):
    """Stateful streaming adjacency matcher over (user_id long,
    ts timestamp, event_type string) with a watermark already applied
    on ts. Emits (user_id, matched_ts_us) once per user when the
    watermark passes the first pattern-completing event."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    types, edges, adjacent = compile_adjacency(pattern, conds)
    L = len(types)
    timeout_ms = idle_timeout_minutes * 60 * 1000
    declared = set(conds)

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        rows = []
        wm_ms = state.getCurrentWatermarkMs()

        def unpack():
            if state.exists:
                pq, aq, mx, mn, eqf, eqn, bt, be, done = state.get
                eqs, off = [], 0
                for n in eqn:
                    eqs.append(list(eqf[off:off + n]))
                    off += n
                return (
                    (list(pq), list(aq), list(mx), list(mn), eqs),
                    list(zip(bt, be)),
                    done,
                )
            return (fresh_vec(L), [], False)

        def decide_and_store(vec, buf, last_us):
            # decide everything strictly behind the watermark, in the
            # batch rank order; keep the rest buffered
            buf.sort()
            ready = [b for b in buf if b[0] // 1000 < wm_ms]
            keep = buf[len(ready):]
            vec, m = advance_adjacency(vec, ready, types, edges, adjacent)
            if m is not None:
                rows.append((user_id, m))
                state.update(([], [], [], [], [], [], [], [], True))
                state.setTimeoutTimestamp(max(wm_ms, m // 1000) + timeout_ms)
                return
            state.update(
                (
                    vec[0], vec[1], vec[2], vec[3],
                    [t_ for d in vec[4] for t_ in d],
                    [len(d) for d in vec[4]],
                    [b[0] for b in keep],
                    [b[1] for b in keep],
                    False,
                )
            )
            wake = (
                keep[0][0] // 1000 + 1
                if keep
                else max(last_us // 1000, wm_ms) + timeout_ms
            )
            state.setTimeoutTimestamp(max(wake, wm_ms + 1))

        if state.hasTimedOut:
            vec, buf, done = unpack()
            if done or not buf:
                # tombstone expiry, or idle with nothing pending: evict
                # (the funnel-twin idle-eviction contract — an evicted
                # user's later events start a fresh DP)
                state.remove()
            else:
                last_us = max(b[0] for b in buf)
                decide_and_store(vec, buf, last_us)
        else:
            vec, buf, done = unpack()
            last_us = 0
            for pdf in pdfs:
                ts_us = (
                    pd.to_datetime(pdf["ts"]).astype("int64") // 1000
                ).tolist()
                for t_us, et in zip(ts_us, pdf["event_type"].tolist()):
                    last_us = max(last_us, t_us)
                    if et in declared:
                        buf.append((int(t_us), et))
            if done:
                state.update(([], [], [], [], [], [], [], [], True))
                state.setTimeoutTimestamp(
                    max(wm_ms, last_us // 1000) + timeout_ms
                )
            else:
                decide_and_store(vec, buf, last_us)
        yield pd.DataFrame(rows, columns=["user_id", "matched_ts_us"])

    src = events.select("user_id", "ts", "event_type").filter(
        F.col("event_type").isin(*declared)
    )
    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=MATCH_SCHEMA,
        stateStructType=(
            "pq array<boolean>, aq array<boolean>, mx array<long>, "
            "mn array<long>, eqf array<long>, eqn array<int>, "
            "bt array<long>, be array<string>, done boolean"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
