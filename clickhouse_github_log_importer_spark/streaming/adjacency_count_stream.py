"""Streaming sequenceCount ADJACENCY twin (stateful operator).

Counting sibling of streaming/adjacency_stream.py, twin of the batch
``sequence_count_adjacent`` / ``sequence_count_adjacent_timed``
machines (operators/sequence.py). Where the batch side needs DFA-map
composition (untimed) or the piecewise step-function algebra (timed)
to distribute across time slices, the STREAMING form processes each
user's declared events strictly in order — so the state is simply the
product automaton's own runtime state:

  (dfa_state, t_prev, count, ring)

with ``ring`` the last (max word length - 1) declared-event timestamps
— the bounded lookback that gives a timed gate the occurrence's TRUE
start at completion (the batch side ships this as a ranked-stream LAG
column; a sequential scan just remembers it). All four gate rules are
the batch machine's, byte for byte: untimed completion locks; '<'
violation restarts at the completing event; '>' violation waits at the
word's KMP continuation state; '==' composes both. Stream == batch is
therefore structural, and pytest pins it on shared fixtures.

Emission: counts are monotone, so the operator emits a (user_id,
seq_count) row each time a user's count INCREASES — the running
cumulative count, decided (watermark-final) at the moment of emission;
downstream takes the per-user max/latest, and the batch entry's value
is exactly the last row emitted. Inline emission never depends on an
idle-eviction trigger actually firing (an availableNow run ends after
its last file's micro-batch; a session-final-only design would emit
nothing there). Events decide only behind the watermark (in-watermark
arrivals buffer and replay in (ts, event_id) order — the batch tie
rule); idle eviction just drops state.
"""

from __future__ import annotations

from pyspark.sql import types as T

COUNT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("seq_count", T.LongType()),
    ]
)

_SENT = -(2**62)


def compile_count_product(pattern: str, conds: tuple[str, ...]):
    """The batch product-automaton tables (timed edges allowed)."""
    from ..operators.sequence import _seq_count_dfa_meta

    return _seq_count_dfa_meta(pattern, conds, allow_timed=True)


def advance_count(state, events, meta, sym):
    """Pure decision core, shared with the pytest pins.

    ``state`` = (q, t_prev, count, ring) with ``ring`` the most recent
    declared-event timestamps, newest last, length <= max(wlen) - 1;
    ``events`` = (ts_us, event_type) declared rows in (ts, event_id)
    order. Applies the batch product rules one event at a time."""
    delta = meta["delta"]
    complete = meta["complete"]
    w_start = meta["w_start"]
    wlen = meta["wlen"]
    wedge = meta["wedge"]
    wcont = meta["wcont"]
    n_words = meta["n_words"]
    keep = max(wlen) - 1
    q, tp, cnt, ring = state

    def occ_start(ets: int, j: int) -> int:
        d = wlen[j] - 1
        if d == 0:
            return ets
        # ring holds timestamps of the d most recent PRIOR events,
        # newest last: the occurrence start is d positions back
        return ring[-d] if len(ring) >= d else _SENT

    def lock(j: int, ets: int):
        nonlocal q, tp, cnt
        if j == n_words - 1:
            cnt += 1
            q, tp = 0, _SENT
        else:
            q, tp = w_start[j + 1], ets

    def restart(a: int, ets: int):
        nonlocal q, tp
        if complete[0][a] == 0:  # single-symbol first word re-anchors
            q, tp = w_start[1], ets
        else:
            q, tp = delta[0][a], _SENT

    for ets, etype in events:
        a = sym[etype]
        j = complete[q][a]
        if j < 0:
            q = delta[q][a]
        else:
            e = wedge[j]
            if e is None:
                lock(j, ets)
            else:
                op, bound = e
                gap = occ_start(ets, j) - tp
                ok = (
                    gap < bound
                    if op == "<"
                    else gap > bound
                    if op == ">"
                    else gap == bound
                )
                if ok:
                    lock(j, ets)
                elif op == ">" or (op == "==" and gap < bound):
                    q = wcont[j]  # wait: anchor unchanged
                else:
                    restart(a, ets)  # dead chain
        if keep:
            ring = (ring + [ets])[-keep:]
    return q, tp, cnt, ring


def sequence_count_adjacent_streaming(
    events,
    pattern: str,
    conds: tuple[str, ...],
    idle_timeout_minutes: int = 24 * 60,
):
    """Stateful streaming adjacency counter over (user_id long,
    ts timestamp, event_type string, event_id long) with a watermark
    already applied on ts. Emits (user_id, seq_count) on every count
    increase — the running cumulative count; the latest row per user
    equals the batch entry's value."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    meta = compile_count_product(pattern, conds)
    sym = {c: a for a, c in enumerate(conds)}
    timeout_ms = idle_timeout_minutes * 60 * 1000
    declared = set(conds)

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        rows = []
        wm_ms = state.getCurrentWatermarkMs()

        def unpack():
            if state.exists:
                q, tp, cnt, ring, bt, be, beid = state.get
                return (
                    (int(q), int(tp), int(cnt), list(ring)),
                    list(zip(bt, beid, be)),
                )
            return (0, _SENT, 0, []), []

        def store(st, buf, last_us):
            buf.sort()
            ready = [b for b in buf if b[0] // 1000 < wm_ms]
            keep = buf[len(ready):]
            before = st[2]
            st = advance_count(
                st, [(t_, e_) for t_, _, e_ in ready], meta, sym
            )
            if st[2] > before:
                rows.append((user_id, st[2]))
            state.update(
                (
                    st[0], st[1], st[2], st[3],
                    [b[0] for b in keep],
                    [b[2] for b in keep],
                    [b[1] for b in keep],
                )
            )
            wake = (
                keep[0][0] // 1000 + 1
                if keep
                else max(last_us // 1000, wm_ms) + timeout_ms
            )
            state.setTimeoutTimestamp(max(wake, wm_ms + 1))
            return st

        if state.hasTimedOut:
            st, buf = unpack()
            if buf:
                st = store(st, buf, max(b[0] for b in buf))
            else:
                # idle: every count increase was already emitted inline;
                # just drop the state
                state.remove()
        else:
            st, buf = unpack()
            last_us = 0
            for pdf in pdfs:
                ts_us = (
                    pd.to_datetime(pdf["ts"]).astype("int64") // 1000
                ).tolist()
                for t_us, et, eid in zip(
                    ts_us,
                    pdf["event_type"].tolist(),
                    pdf["event_id"].tolist(),
                ):
                    last_us = max(last_us, t_us)
                    if et in declared:
                        buf.append((int(t_us), int(eid), et))
            store(st, buf, last_us)
        yield pd.DataFrame(rows, columns=["user_id", "seq_count"])

    src = events.select("user_id", "ts", "event_type", "event_id").filter(
        F.col("event_type").isin(*declared)
    )
    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=COUNT_SCHEMA,
        stateStructType=(
            "q int, tp long, cnt long, ring array<long>, "
            "bt array<long>, be array<string>, beid array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
