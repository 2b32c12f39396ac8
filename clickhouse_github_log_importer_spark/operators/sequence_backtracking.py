"""ClickHouse-EXACT backtracking sequenceCount (r11).

The greedy timed automata (`operators/sequence.py`:
``_sequence_count_timed_multi`` and the timed-adjacency product
automaton) pin a deterministic lock/restart/wait scan — a documented
deviation from ClickHouse's matcher, which BACKTRACKS
(``AggregateFunctionSequenceMatch.h``: a ``back_stack`` of
(action, event, base) decision points, retried LIFO on failure). This
module closes that deviation: it implements the backtracking counting
semantics exactly, as an O(n·k) per-user DP instead of a worst-case
exponential search.

Semantics pinned here (and fuzz-verified against a literal
backtracking reference in tests/test_sequence_backtracking.py):

- ClickHouse's matcher explores candidate events in ascending
  (ts, event_id) order at every decision point and retries the LATEST
  decision first (LIFO back_stack) — i.e. depth-first search in
  lexicographic order of the matched index tuple. The match it finds
  is therefore the LEXICOGRAPHICALLY SMALLEST increasing assignment
  (i_1 < i_2 < ... < i_k) of pattern steps to events satisfying every
  gap constraint.
- ``countAll`` (sequenceCount) repeats: find the leftmost match
  starting at the cursor, count it, move the cursor past the match's
  LAST event (non-overlapping), stop at the first failure.
- The event list contains exactly the rows where at least one declared
  condition fired (``Data::add`` stores only ``events.any()`` rows),
  sorted by timestamp — ties broken by ``event_id`` (the repo's pinned
  tie-breaker; ClickHouse's sort is tie-unstable).
- Gap readings between consecutive steps: a bare edge requires the two
  events CONSECUTIVE in the declared stream ("adj" — ClickHouse
  compiles nothing between two SpecificEvents); '.*' allows any
  intervening declared events ("any" — KleeneStar); a time constraint
  ``(?t op T)`` is a KleeneStar plus a gap check against the PREVIOUS
  matched event ("<", ">", "==" after the exact integer-microsecond
  reduction of <= / >=). ``semantics='existence'`` reads bare edges as
  "any" (the repo's relaxed default); ``semantics='clickhouse'`` reads
  them as "adj" (full parity).

Why O(n·k) instead of exponential DFS: the only state backtracking
threads between steps is (step j, matched position i) — the time
constraint looks one matched event back, so "can steps j..k complete
with step j matched at position i" is Markovian. Computing that
``can`` table right-to-left turns the lexicographic DFS into a greedy
chain: at each step take the SMALLEST candidate position whose ``can``
is true. Candidate windows per constraint are contiguous position
ranges (timestamps are non-decreasing in position), so each step is a
suffix-scan plus searchsorted — no per-candidate probing.

Distribution: per-user sequential, batched per hash bucket of users in
one Arrow kernel — the exact shape ClickHouse itself has (its
aggregate state is the per-group event list, matched single-threaded
at merge time). Skew bound = max per-user declared-event count, the
same bound ClickHouse carries; no driver-side work, one shuffle.

Reference: ClickHouse ``AggregateFunctionSequenceMatch.h`` (public
sources) — ``parsePattern`` (leading KleeneStar, SpecificEvent /
KleeneStar / TimeLess[OrEqual] / TimeGreater[OrEqual] / TimeEqual
actions), ``match`` (back_stack DFS, ``sequence_match_max_iterations``
guard), ``countAll`` (restart after the last consumed event). The
log-importer delegates these to ClickHouse (e.g. funnel dashboards
over `app/queries` output tables).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .ranking import grouped_kernel

# ClickHouse guards its DFS with sequence_match_max_iterations = 1e6;
# the literal reference matcher keeps the same cap (the DP needs none).
MAX_BACKTRACK_ITERATIONS = 1_000_000

BACKTRACK_SEMANTICS = ("existence", "clickhouse")


def compile_backtracking(pattern: str, conds, semantics: str = "clickhouse"):
    """Compile a sequenceMatch pattern into (types, gaps) for the
    backtracking machines. ``types[j]`` is the condition name of step
    j; ``gaps[j]`` constrains steps j and j+1: ("adj",) consecutive in
    the declared stream, ("any",) any intervening declared events, or
    (op, T_us) with op in '<' / '>' / '==' (<= / >= reduced exactly on
    integer microseconds, same rule as the greedy automata)."""
    from .sequence import _cond_types, _parse_seq_pattern, _strict_edge

    if semantics not in BACKTRACK_SEMANTICS:
        raise ValueError(
            f"unknown semantics {semantics!r}; one of {BACKTRACK_SEMANTICS}"
        )
    steps, edges, adjacent = _parse_seq_pattern(pattern, with_adjacency=True)
    types = tuple(_cond_types(steps, conds))
    gaps = []
    for e, adj in zip(edges, adjacent):
        if e is None:
            gaps.append(("adj",) if semantics == "clickhouse" and adj else ("any",))
        else:
            gaps.append(_strict_edge(e))
    return types, tuple(gaps)


def bt_count_reference(et, ts, types, gaps) -> int:
    """Literal backtracking reference (test oracle): lexicographic DFS
    over candidate assignments, restart after the last matched event —
    the direct transcription of AggregateFunctionSequenceMatch.h's
    back_stack machine for this pattern grammar. Exponential worst
    case, guarded by the same 1e6-iteration cap ClickHouse uses; only
    for fuzz-size inputs."""
    n = len(et)
    k = len(types)
    budget = [MAX_BACKTRACK_ITERATIONS]

    def rec(j: int, prev_i: int, start: int):
        if j == 0:
            cand = range(start, n)
        else:
            kind = gaps[j - 1]
            if kind[0] == "adj":
                cand = range(prev_i + 1, min(prev_i + 2, n))
            else:
                cand = range(prev_i + 1, n)
        for i in cand:
            budget[0] -= 1
            if budget[0] <= 0:
                raise RuntimeError("backtracking iteration cap exceeded")
            if et[i] != types[j]:
                continue
            if j > 0:
                kind = gaps[j - 1]
                if len(kind) == 2:
                    gap = ts[i] - ts[prev_i]
                    if kind[0] == "<":
                        if gap >= kind[1]:
                            break  # later candidates only widen the gap
                        # else in window: try it
                    elif kind[0] == ">":
                        if gap <= kind[1]:
                            continue  # too early: later may qualify
                    elif gap != kind[1]:  # '=='
                        if gap > kind[1]:
                            break
                        continue
            if j == k - 1:
                return i
            tail = rec(j + 1, i, start)
            if tail is not None:
                return tail
        return None

    cnt = 0
    p = 0
    while p < n:
        last = rec(0, -1, p)
        if last is None:
            break
        cnt += 1
        p = last + 1
    return cnt


def _can_tables(code, tsv, type_codes, gaps):
    """The right-to-left ``can`` DP shared by the counting walk and
    the witness walk: ``cans[j][i]`` = steps j..k-1 can complete with
    step j at position i; ``nxt[j][p]`` = smallest q >= p with
    ``cans[j][q]`` (else n). Returns (cans, nxt)."""
    import numpy as np

    n = len(code)
    k = len(type_codes)
    arange = np.arange(n, dtype=np.int64)

    def build_nxt(cp):
        # nxt[p] = smallest q >= p with cp[q], else n (length n+1)
        idx = np.where(cp, arange, n)
        r = np.minimum.accumulate(idx[::-1])[::-1]
        return np.append(r, n)

    can = code == type_codes[k - 1]
    nxt = [None] * k
    cans = [None] * k
    cans[k - 1] = can
    nxt[k - 1] = build_nxt(can)
    for j in range(k - 2, -1, -1):
        kind = gaps[j]
        is_j = code == type_codes[j]
        pos = np.flatnonzero(is_j)
        ok = np.zeros(n, dtype=bool)
        if len(pos):
            if kind[0] == "adj":
                q = pos + 1
                valid = q < n
                hit = np.zeros(len(pos), dtype=bool)
                hit[valid] = cans[j + 1][q[valid]]
                ok[pos] = hit
            elif kind[0] == "any":
                ok[pos] = nxt[j + 1][pos + 1] < n
            elif kind[0] == "<":
                # smallest can-position after pos has the smallest ts
                # among candidates (ts non-decreasing in position), so
                # it alone decides the upper bound
                q = nxt[j + 1][pos + 1]
                valid = q < n
                hit = np.zeros(len(pos), dtype=bool)
                hit[valid] = tsv[q[valid]] - tsv[pos[valid]] < kind[1]
                ok[pos] = hit
            elif kind[0] == ">":
                lo = np.searchsorted(tsv, tsv[pos] + kind[1], side="right")
                ok[pos] = nxt[j + 1][np.maximum(lo, pos + 1)] < n
            else:  # '=='
                target = tsv[pos] + kind[1]
                lo = np.searchsorted(tsv, target, side="left")
                hi = np.searchsorted(tsv, target, side="right")
                q = nxt[j + 1][np.maximum(lo, pos + 1)]
                ok[pos] = (q < n) & (q < hi)
        cans[j] = ok
        nxt[j] = build_nxt(ok)
    return cans, nxt


def _walk_match(tsv, nxt, gaps, k, p):
    """The greedy smallest-candidate-with-can chain from cursor ``p``:
    returns the matched positions (length k) or None. Shared by the
    counting loop and the witness extractor — identical choices by
    construction."""
    import numpy as np

    n = len(tsv)
    i = int(nxt[0][p])
    if i >= n:
        return None
    chain = [i]
    cur = i
    for j in range(1, k):
        kind = gaps[j - 1]
        if kind[0] == "adj":
            cur = cur + 1
        elif kind[0] in ("any", "<"):
            # '<': the witness is the smallest can-position — can
            # at the previous step already guaranteed it in-window
            cur = int(nxt[j][cur + 1])
        elif kind[0] == ">":
            lo = int(np.searchsorted(tsv, tsv[cur] + kind[1], side="right"))
            cur = int(nxt[j][max(lo, cur + 1)])
        else:  # '=='
            target = int(tsv[cur]) + kind[1]
            lo = int(np.searchsorted(tsv, target, side="left"))
            cur = int(nxt[j][max(lo, cur + 1)])
        chain.append(cur)
    return chain


def bt_first_match(code, tsv, type_codes, gaps):
    """The FIRST backtracking match's witness positions for ONE user —
    the lexicographically smallest assignment, i.e. exactly the rows
    ClickHouse's sequenceMatchEvents surfaces (its matcher IS the
    back_stack DFS whose first solution is this assignment). Returns a
    list of k positions into (code, tsv), or None."""
    import numpy as np

    code = np.asarray(code, dtype=np.int64)
    tsv = np.asarray(tsv, dtype=np.int64)
    if len(code) == 0:
        return None
    _, nxt = _can_tables(code, tsv, type_codes, gaps)
    return _walk_match(tsv, nxt, gaps, len(type_codes), 0)


def bt_count_fast(code, tsv, type_codes, gaps) -> int:
    """O(n·k) backtracking count for ONE user: right-to-left ``can``
    DP (can steps j..k-1 complete with step j at position i), then the
    leftmost match is the greedy smallest-candidate-with-can chain.
    ``code``/``tsv`` are the user's declared events as int codes /
    int64 epoch-us, sorted by (ts, event_id); ``type_codes`` the step
    conditions as the same codes. Fuzz-pinned equal to
    :func:`bt_count_reference`."""
    n = len(code)
    k = len(type_codes)
    if n == 0:
        return 0
    _, nxt = _can_tables(code, tsv, type_codes, gaps)

    cnt = 0
    p = 0
    while p < n:
        chain = _walk_match(tsv, nxt, gaps, k, p)
        if chain is None:
            break
        cnt += 1
        p = chain[-1] + 1
    return cnt


def bt_count_final(code, tsv, type_codes, gaps, wm_us=None):
    """Watermark-aware incremental backtracking count for ONE user:
    count only matches that are FINAL — no event arriving at or after
    ``wm_us`` (the event-time watermark; ``None`` = no more events ever)
    could change the lexicographically-smallest assignment — and report
    how much of the buffer is consumed.

    Returns ``(count, consumed)``: ``count`` final matches (the batch
    matcher finds the identical matches on any extension of the
    stream), and ``consumed`` = number of leading positions the caller
    may drop from its buffer (everything before the first un-final
    match attempt; matches consume through their last event, ClickHouse
    countAll semantics). With ``wm_us=None`` every decision is final
    and this reduces exactly to :func:`bt_count_fast` (fuzz-pinned).

    Finality: on top of :func:`bt_count_fast`'s right-to-left ``can``
    DP, a second ``possible`` DP marks positions whose ``can`` could
    still flip true via future events — future events all land at
    ``ts >= wm_us`` and AFTER every finalized position, so a window is
    "open" iff it reaches the watermark: '<' iff ``ts+T > wm``, '=='
    iff ``ts+T >= wm``, 'adj' only at the last finalized position, and
    'any'/'>' always (their windows are unbounded). A found match is
    counted only if every candidate the greedy chain SKIPPED for a
    can-false reason (symbol and in-gap valid) is not ``possible`` —
    skips for symbol or gap reasons are final by construction, and for
    'any'/'>' out-edges a skipped can-false candidate cannot exist
    (the found chain's own witnesses prove their ``can``), which is
    why only 'adj'/'<'/'==' edges ever defer counting. The first
    un-final match stops the scan (later matches depend on its
    consumption).
    """
    import numpy as np

    code = np.asarray(code, dtype=np.int64)
    tsv = np.asarray(tsv, dtype=np.int64)
    n = len(code)
    k = len(type_codes)
    if n == 0:
        return 0, 0
    arange = np.arange(n, dtype=np.int64)

    def build_nxt(cp):
        idx = np.where(cp, arange, n)
        r = np.minimum.accumulate(idx[::-1])[::-1]
        return np.append(r, n)

    fin = wm_us is not None

    # --- can DP (identical to bt_count_fast) + possible DP ------------
    cans = [None] * k
    poss = [None] * k
    nxt = [None] * k
    nxt_p = [None] * k
    last_sym = code == type_codes[k - 1]
    cans[k - 1] = last_sym
    poss[k - 1] = last_sym  # a last-step candidate's can is symbol-only
    nxt[k - 1] = build_nxt(last_sym)
    nxt_p[k - 1] = nxt[k - 1]
    for j in range(k - 2, -1, -1):
        kind = gaps[j]
        is_j = code == type_codes[j]
        pos = np.flatnonzero(is_j)
        ok = np.zeros(n, dtype=bool)
        pk = np.zeros(n, dtype=bool)
        if len(pos):
            if kind[0] == "adj":
                q = pos + 1
                valid = q < n
                hit = np.zeros(len(pos), dtype=bool)
                hit[valid] = cans[j + 1][q[valid]]
                ok[pos] = hit
                ph = np.zeros(len(pos), dtype=bool)
                ph[valid] = poss[j + 1][q[valid]]
                if fin:
                    ph[~valid] = True  # a future event becomes i's next
                pk[pos] = ph
            elif kind[0] == "any":
                ok[pos] = nxt[j + 1][pos + 1] < n
                pk[pos] = True if fin else nxt_p[j + 1][pos + 1] < n
            elif kind[0] == "<":
                q = nxt[j + 1][pos + 1]
                valid = q < n
                hit = np.zeros(len(pos), dtype=bool)
                hit[valid] = tsv[q[valid]] - tsv[pos[valid]] < kind[1]
                ok[pos] = hit
                qp = nxt_p[j + 1][pos + 1]
                validp = qp < n
                hp = np.zeros(len(pos), dtype=bool)
                hp[validp] = tsv[qp[validp]] - tsv[pos[validp]] < kind[1]
                if fin:
                    hp |= tsv[pos] + kind[1] > wm_us  # window still open
                pk[pos] = hp
            elif kind[0] == ">":
                lo = np.searchsorted(tsv, tsv[pos] + kind[1], side="right")
                ok[pos] = nxt[j + 1][np.maximum(lo, pos + 1)] < n
                pk[pos] = (
                    True
                    if fin
                    else nxt_p[j + 1][np.maximum(lo, pos + 1)] < n
                )
            else:  # '=='
                target = tsv[pos] + kind[1]
                lo = np.searchsorted(tsv, target, side="left")
                hi = np.searchsorted(tsv, target, side="right")
                q = nxt[j + 1][np.maximum(lo, pos + 1)]
                ok[pos] = (q < n) & (q < hi)
                qp = nxt_p[j + 1][np.maximum(lo, pos + 1)]
                hp = (qp < n) & (qp < hi)
                if fin:
                    hp |= target >= wm_us
                pk[pos] = hp
        cans[j] = ok
        poss[j] = pk
        nxt[j] = build_nxt(ok)
        nxt_p[j] = build_nxt(pk)

    # pending[j][i]: can is false now but could flip true -> any skip of
    # i at step j makes the surrounding match un-final
    pend_ps = [np.cumsum(poss[j] & ~cans[j]) for j in range(k)]

    def any_pend(j, a, b):
        a, b = int(a), int(b)
        if b <= a or a >= n:
            return False
        b = min(b, n)
        lo = pend_ps[j][a - 1] if a > 0 else 0
        return pend_ps[j][b - 1] - lo > 0

    # --- greedy chain walk with finality gate -------------------------
    cnt = 0
    p = 0
    while p < n:
        i = int(nxt[0][p])
        # a pending would-be start before i (or anywhere past p when no
        # match is found) keeps the whole suffix un-final
        if any_pend(0, p, i if i < n else n):
            break
        if i >= n:
            break
        cur = i
        stable = True
        for j in range(1, k):
            kind = gaps[j - 1]
            prev = cur
            if kind[0] == "adj":
                cur = prev + 1  # forced witness: nothing skipped
            elif kind[0] in ("any", "<"):
                cur = int(nxt[j][prev + 1])
                # '<' skips are all in-window (ts <= ts[cur] < ts+T)
                if any_pend(j, prev + 1, cur):
                    stable = False
                    break
            elif kind[0] == ">":
                lo = int(
                    np.searchsorted(tsv, tsv[prev] + kind[1], side="right")
                )
                start = max(lo, prev + 1)
                cur = int(nxt[j][start])
                if any_pend(j, start, cur):
                    stable = False
                    break
            else:  # '=='
                target = int(tsv[prev]) + kind[1]
                lo = int(np.searchsorted(tsv, target, side="left"))
                hi = int(np.searchsorted(tsv, target, side="right"))
                start = max(lo, prev + 1)
                cur = int(nxt[j][start])
                if any_pend(j, start, min(cur, hi)):
                    stable = False
                    break
        if not stable:
            break
        cnt += 1
        p = cur + 1
    return cnt, p


def greedy_count_timed_py(et, ts, types, edges) -> int:
    """Pure-python twin of the PINNED greedy timed-restart automaton
    (_sequence_count_timed_multi docstring rules: '<' violation
    restarts re-anchoring, '>' violation waits, '==' composes) — the
    fuzzer's greedy side for characterizing greedy-vs-backtracking
    divergence without a Spark round trip. Existence reading: only
    currently-expected condition events touch the automaton."""
    k = len(types)
    red = [
        ("<", e[1] + 1)
        if e is not None and e[0] == "<="
        else (">", e[1] - 1)
        if e is not None and e[0] == ">="
        else e
        for e in edges
    ]
    s, t_prev, cnt = 0, None, 0
    for x, tx in zip(et, ts):
        if x != types[s]:
            continue
        e = red[s - 1] if s >= 1 else None
        gap = None if t_prev is None else tx - t_prev
        if (
            e is None
            or (e[0] == "<" and gap < e[1])
            or (e[0] == ">" and gap > e[1])
            or (e[0] == "==" and gap == e[1])
        ):
            s += 1
            t_prev = tx
            if s == k:
                cnt += 1
                s = 0
        elif e[0] == "<" or (e[0] == "==" and gap > e[1]):
            if types[s] == types[0]:
                s, t_prev = 1, tx
                if k == 1:
                    cnt, s = cnt + 1, 0
            else:
                s = 0
        # else too early: wait (state, t_prev unchanged)
    return cnt


def sequence_count_backtracking_battery(
    spark, sf_dir, patterns, conds, events=None, semantics: str = "clickhouse"
):
    """(pattern, user_id, seq_count) for every pattern in one Arrow
    pass: the declared stream shuffles ONCE on a user hash bucket, and
    the kernel runs the O(n·k) DP per user per pattern. The stream is
    the union of declared conditions (ClickHouse visibility: any row
    where a declared condition fired), so 'adj' gaps count positions
    exactly as ClickHouse's events_list does."""
    import pandas as pd

    from ..plans.queries import t

    compiled = [
        (pat, compile_backtracking(pat, conds, semantics)) for pat in patterns
    ]
    sym = {c: a for a, c in enumerate(conds)}
    comp_codes = [
        (pat, tuple(sym[ty] for ty in types), gaps)
        for pat, (types, gaps) in compiled
    ]
    ev = (t(spark, sf_dir, "events") if events is None else events).select(
        "user_id",
        F.col("ts_us").cast("long").alias("ts_us"),
        "event_id",
        "event_type",
    )
    ev = ev.filter(F.col("event_type").isin(*set(conds)))
    n_buckets = spark.sparkContext.defaultParallelism * 4
    st = ev.withColumn(
        "_b", F.pmod(F.hash("user_id"), F.lit(n_buckets))
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["user_id", "ts_us", "event_id"], kind="mergesort"
        )
        uid = pdf["user_id"].to_numpy()
        code = pdf["event_type"].map(sym).to_numpy(dtype=np.int64)
        tsv = pdf["ts_us"].to_numpy(dtype=np.int64)
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        ends = np.r_[starts[1:], len(uid)]
        out_pat: list[str] = []
        out_uid: list[int] = []
        out_cnt: list[int] = []
        for a, b in zip(starts, ends):
            c = code[a:b]
            t_ = tsv[a:b]
            for pat, tcodes, gaps in comp_codes:
                cnt = bt_count_fast(c, t_, tcodes, gaps)
                if cnt >= 1:
                    out_pat.append(pat)
                    out_uid.append(int(uid[a]))
                    out_cnt.append(cnt)
        return pd.DataFrame(
            {"pattern": out_pat, "user_id": out_uid, "seq_count": out_cnt}
        )

    return grouped_kernel(
        st, ["_b"], kern, "pattern string, user_id long, seq_count long"
    )


def sequence_count_backtracking_users(
    spark, sf_dir, pattern: str, conds, events=None,
    semantics: str = "clickhouse",
):
    """Single-pattern surface: (user_id, seq_count) rows with
    count >= 1 under ClickHouse-exact backtracking counting."""
    out = sequence_count_backtracking_battery(
        spark, sf_dir, (pattern,), conds, events=events, semantics=semantics
    )
    return out.select("user_id", "seq_count")


def sequence_match_events_backtracking_battery(
    spark, sf_dir, patterns, conds, events=None,
    semantics: str = "clickhouse",
):
    """(pattern, user_id, step, ts_us, event_id) witness rows for the
    FIRST backtracking match of every pattern, one Arrow pass: the
    declared stream shuffles ONCE on a user hash bucket and the kernel
    runs :func:`bt_first_match` per user per pattern — the
    lexicographically smallest assignment, ClickHouse's own
    sequenceMatchEvents witness (its matcher IS the back_stack DFS
    whose first solution is this assignment; the greedy-predecessor
    entry `sequence_match_events` pins a DIFFERENT deterministic
    choice — latest click — for the engine's relaxed reading)."""
    import pandas as pd

    from ..plans.queries import t

    compiled = [
        (pat, compile_backtracking(pat, conds, semantics)) for pat in patterns
    ]
    sym = {c: a for a, c in enumerate(conds)}
    comp_codes = [
        (pat, tuple(sym[ty] for ty in types), gaps)
        for pat, (types, gaps) in compiled
    ]
    ev = (t(spark, sf_dir, "events") if events is None else events).select(
        "user_id",
        F.col("ts_us").cast("long").alias("ts_us"),
        "event_id",
        "event_type",
    )
    ev = ev.filter(F.col("event_type").isin(*set(conds)))
    n_buckets = spark.sparkContext.defaultParallelism * 4
    st = ev.withColumn("_b", F.pmod(F.hash("user_id"), F.lit(n_buckets)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["user_id", "ts_us", "event_id"], kind="mergesort"
        )
        uid = pdf["user_id"].to_numpy()
        code = pdf["event_type"].map(sym).to_numpy(dtype=np.int64)
        tsv = pdf["ts_us"].to_numpy(dtype=np.int64)
        eid = pdf["event_id"].to_numpy(dtype=np.int64)
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        ends = np.r_[starts[1:], len(uid)]
        out: dict[str, list] = {
            k: [] for k in ("pattern", "user_id", "step", "ts_us", "event_id")
        }
        for a, b in zip(starts, ends):
            c = code[a:b]
            t_ = tsv[a:b]
            e_ = eid[a:b]
            for pat, tcodes, gaps in comp_codes:
                chain = bt_first_match(c, t_, tcodes, gaps)
                if chain is None:
                    continue
                for step, pos in enumerate(chain):
                    out["pattern"].append(pat)
                    out["user_id"].append(int(uid[a]))
                    out["step"].append(step)
                    out["ts_us"].append(int(t_[pos]))
                    out["event_id"].append(int(e_[pos]))
        return pd.DataFrame(out)

    return grouped_kernel(
        st,
        ["_b"],
        kern,
        "pattern string, user_id long, step int, ts_us long, event_id long",
    )


def bt_witness_oracle_sql(patterns, conds, semantics: str = "clickhouse") -> str:
    """DuckDB twin of the witness battery: per pattern, chained
    LATERALs each picking the first (by rank) candidate satisfying its
    gap constraint AND a nested-EXISTS can-complete proof — the
    lexicographically smallest assignment — then the k bound events
    UNPIVOT to (pattern, user_id, step, ts_us, event_id) rows."""
    chains = []
    selects = []
    for idx, pat in enumerate(patterns):
        types, gaps = compile_backtracking(pat, conds, semantics)
        k = len(types)

        def can_sql(j: int, prev: str) -> str:
            if j >= k:
                return "TRUE"
            g = f"wg{idx}_{j}"
            tail = can_sql(j + 1, g)
            return (
                f"EXISTS (SELECT 1 FROM f {g} WHERE {g}.user_id = "
                f"u.user_id AND {g}.et = '{types[j]}' AND "
                f"{_gap_sql(gaps[j - 1], prev, g)} AND {tail})"
            )

        laterals = []
        for j in range(k):
            x = f"wx{idx}_{j}"
            if j == 0:
                gap_pred = f"{x}.rn > 0"
            else:
                gap_pred = _gap_sql(gaps[j - 1], f"wx{idx}_{j - 1}", x)
            tail = can_sql(j + 1, x)
            laterals.append(
                f"""LATERAL (
        SELECT {x}.rn, {x}.tu, {x}.eid FROM f {x}
        WHERE {x}.user_id = u.user_id AND {x}.et = '{types[j]}'
          AND {gap_pred} AND {tail}
        ORDER BY {x}.rn LIMIT 1
      ) {x}"""
            )
        chains.append(
            f"""
    w{idx} AS (
      SELECT u.user_id, """
            + ", ".join(
                f"wx{idx}_{j}.tu AS tu{j}, wx{idx}_{j}.eid AS eid{j}"
                for j in range(k)
            )
            + "\n      FROM (SELECT DISTINCT user_id FROM f) u, "
            + ", ".join(laterals)
            + "\n    )"
        )
        selects.extend(
            f"""
      SELECT '{pat}' AS pattern, user_id, {j} AS step,
             CAST(tu{j} AS BIGINT) AS ts_us,
             CAST(eid{j} AS BIGINT) AS event_id
      FROM w{idx}"""
            for j in range(k)
        )
    return (
        f"""
    WITH f AS (
      SELECT user_id, epoch_us(ts) AS tu, event_type AS et,
             event_id AS eid,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
      FROM events
      WHERE event_type IN {tuple(conds)!r}
    ),"""
        + ",".join(chains)
        + "\n    SELECT pattern, user_id, step, ts_us, event_id FROM ("
        + " UNION ALL ".join(selects)
        + "\n    )"
    )


def _gap_sql(gap, prev: str, cur: str) -> str:
    if gap[0] == "adj":
        return f"{cur}.rn = {prev}.rn + 1"
    if gap[0] == "any":
        return f"{cur}.rn > {prev}.rn"
    op = "=" if gap[0] == "==" else gap[0]
    return f"{cur}.rn > {prev}.rn AND {cur}.tu - {prev}.tu {op} {gap[1]}"


def bt_oracle_sql(patterns, conds, semantics: str = "clickhouse") -> str:
    """DuckDB twin: one recursive CTE per pattern finding ONE leftmost
    match per iteration. The chained LATERALs realize the
    greedy-with-can chain — each picks the first candidate (by rank)
    satisfying its gap constraint AND a nested-EXISTS proof that the
    remaining steps can complete after it (the SQL spelling of the
    ``can`` table), so the assignment found is exactly the
    lexicographically smallest. Cursor jumps past the match's last
    event; recursion depth = per-user match count + 1."""
    chains = []
    selects = []
    for idx, pat in enumerate(patterns):
        types, gaps = compile_backtracking(pat, conds, semantics)
        k = len(types)

        def can_sql(j: int, prev: str) -> str:
            # steps j..k-1 can complete after the event aliased `prev`
            if j >= k:
                return "TRUE"
            g = f"g{idx}_{j}"
            tail = can_sql(j + 1, g)
            return (
                f"EXISTS (SELECT 1 FROM f {g} WHERE {g}.user_id = "
                f"tt.user_id AND {g}.et = '{types[j]}' AND "
                f"{_gap_sql(gaps[j - 1], prev, g)} AND {tail})"
            )

        laterals = []
        for j in range(k):
            x = f"x{j}"
            if j == 0:
                gap_pred = f"{x}.rn > tt.cur"
            else:
                gap_pred = _gap_sql(gaps[j - 1], f"x{j - 1}", x)
            tail = can_sql(j + 1, x)
            laterals.append(
                f"""LATERAL (
        SELECT {x}.rn, {x}.tu FROM f {x}
        WHERE {x}.user_id = tt.user_id AND {x}.et = '{types[j]}'
          AND {gap_pred} AND {tail}
        ORDER BY {x}.rn LIMIT 1
      ) {x}"""
            )
        chains.append(
            f"""
    bt{idx} AS (
      SELECT user_id, CAST(0 AS BIGINT) AS cur, 0 AS cnt
      FROM (SELECT DISTINCT user_id FROM f)
      UNION ALL
      SELECT tt.user_id, x{k - 1}.rn, tt.cnt + 1
      FROM bt{idx} tt, """
            + ", ".join(laterals)
            + "\n    )"
        )
        selects.append(
            f"""
      SELECT '{pat}' AS pattern, user_id,
             CAST(max(cnt) AS BIGINT) AS seq_count
      FROM bt{idx} GROUP BY user_id HAVING max(cnt) >= 1"""
        )
    return (
        f"""
    WITH RECURSIVE f AS (
      SELECT user_id, epoch_us(ts) AS tu, event_type AS et,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
      FROM events
      WHERE event_type IN {tuple(conds)!r}
    ),"""
        + ",".join(chains)
        + "\n    SELECT pattern, user_id, seq_count FROM ("
        + " UNION ALL ".join(selects)
        + "\n    )"
    )
