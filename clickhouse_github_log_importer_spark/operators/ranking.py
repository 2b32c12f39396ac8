"""Distributed global ranking over low-cardinality partitions.

``Window.partitionBy(type).orderBy(...)`` is the scale trap hiding in
every "rank within category" query: Spark hashes each category to ONE
task, so the whole category sorts serially — parallelism is capped at
the number of categories, and the 100 TB run dies in a single-task sort.
(The scale probe measured exactly this: `event_rank_profile` grew 4.0x
on 3x data while every range-partitioned neighbor stayed linear.)

The scalable plan is the classic two-pass distributed ranking every
MPP engine runs internally:

1. **Slice deterministically** by approx-quantile boundaries of the
   first order column (:func:`slice_expr` — driver-collected literals,
   a pure function of the row), giving each category contiguous ordered
   ranges spread across many slices.
2. **Rank locally** within each (slice, category) — full parallelism.
3. **Prefix offsets**: per-(slice, category) row counts form a TINY
   table (n_slices x n_categories); a cumulative sum over it gives each
   slice's starting rank, broadcast-joined back.

``global rank = slice offset + local rank`` — identical values to the
window form, ONE data shuffle (the slice-local window's hash exchange)
instead of one serial sort. The offsets table is control-plane-sized by
construction.

percent_rank / cume_dist / ntile all derive from (rank, n) in closed
form when the ordering tuple is UNIQUE (tie-free): no peer groups, so
``cume_dist = rank/n``, ``percent_rank = (rank-1)/(n-1)`` (0 when n=1),
and ntile's uneven-bucket rule is integer arithmetic. Callers must
include a unique tiebreaker column in ``order_cols`` — the same
requirement the engine-portable window queries already obey (float-free
deterministic ordering).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: (applicationId, analyzed-plan semanticHash of the single-column bounds
#: probe, n_slices) -> boundary literals. Slice boundaries are TABLE-LEVEL
#: ORDER STATISTICS of an immutable input — the same distribution every
#: repeat of the same probe plan would re-learn with a full blocking
#: driver job (at 100 TB: a full extra pass over the data per query per
#: run). Real engines persist exactly this in the catalog (ClickHouse's
#: sparse primary index, Spark CBO column stats); memoizing the literals
#: per (app, plan, slicing) is the in-process analog. SAFE BY
#: CONSTRUCTION: boundaries affect slice BALANCE only, never results —
#: a slice id must merely be a deterministic monotone function of the
#: order key for the carry algebra to hold (pytest-pinned slice
#: invariance), so even a hash collision or a stale serve cannot change
#: a query's output, only its task sizing. Entries of any other application
#: are dropped on insert; `clear_bounds_memo()` resets for probes/tests.
_BOUNDS_MEMO: dict[tuple, list[float]] = {}


def clear_bounds_memo() -> None:
    """Forget memoized slice boundaries (probe/test hook — the scale and
    skew probes clear per-repeat memos so a stamp measures the fit)."""
    _BOUNDS_MEMO.clear()


def slice_bounds(
    df: DataFrame, order_col: str | Column, n_slices: int
) -> list[float]:
    """The driver-side quantile boundaries :func:`slice_expr` inlines as
    literals — factored out (r12, guide §1.2) so a MULTI-PASS query
    computes them ONCE and shares them across every segmented pass.

    Before this, each pass's ``slice_expr`` ran its own blocking
    ``approxQuantile`` driver job, and a pass whose input frame derives
    from an earlier pass re-executed that ENTIRE upstream subtree just
    to re-learn (approximately) the same boundaries: measured 1.6 s of
    6.2 s on ``window_funnel_strict_dedup`` and 1.3 s of 6.0 s on
    ``sequence_match_adjacent`` at sf0.1 — and at 100 TB each redundant
    quantile job is a full extra pass over the data. Sharing bounds is
    exact, not an approximation trade: a slice id only has to be a
    deterministic monotone non-decreasing function of the order key for
    the carry algebra to hold; WHICH boundaries are used affects balance
    only, and boundaries from the same key distribution are the same
    ones the second job would have produced.

    r13 (guide §1.2/§6): boundaries for an IDENTICAL probe plan are
    additionally memoized per application (see ``_BOUNDS_MEMO``) — the
    cross-query/cross-pass form of the same dedup: distinct entries
    slicing the same stream by the same composite key were each paying
    the full-scan bounds job to re-learn the same literals."""
    qs = [i / n_slices for i in range(1, n_slices)]
    c_in = F.col(order_col) if isinstance(order_col, str) else order_col
    probe = df.select(c_in.cast("double").alias("_b"))
    key = None
    try:
        key = (
            df.sparkSession.sparkContext.applicationId,
            probe._jdf.queryExecution().analyzed().semanticHash(),
            n_slices,
        )
    except Exception:  # noqa: BLE001 — memo is an optimization only
        key = None
    if key is not None and key in _BOUNDS_MEMO:
        return _BOUNDS_MEMO[key]
    out = sorted(set(probe.approxQuantile("_b", qs, 0.001)))
    if key is not None:
        # a finished application's boundaries can never be served again
        for k in [k for k in _BOUNDS_MEMO if k[0] != key[0]]:
            _BOUNDS_MEMO.pop(k, None)
        _BOUNDS_MEMO[key] = out
    return out


def slice_from_bounds(
    order_col: str | Column, bounds: list[float]
) -> Column:
    """Pure-projection slice id from precomputed :func:`slice_bounds`
    literals — no job, no scan; safe to apply to any frame carrying the
    order-key columns."""
    if not bounds:
        return F.lit(0)
    c_in = F.col(order_col) if isinstance(order_col, str) else order_col
    # plain when-sum chain (n_slices-1 comparisons, whole-stage codegen
    # friendly; an outer-column reference inside a higher-order-function
    # lambda trips Catalyst attribute binding on branched plans)
    c = c_in.cast("double")
    expr: Column = F.lit(0)
    for b in bounds:
        expr = expr + F.when(c > F.lit(float(b)), 1).otherwise(0)
    return expr


def slice_expr(
    df: DataFrame,
    order_col: str | Column,
    n_slices: int,
    bounds: list[float] | None = None,
) -> Column:
    """Deterministic slice assignment for segmented scans: 0-based slice
    id, monotone non-decreasing in ``order_col`` (numeric), computed
    from driver-side approx-quantile boundaries inlined as literals.

    WHY NOT ``repartitionByRange`` + ``spark_partition_id()``: the range
    partitioner SAMPLES its boundaries with a per-RDD seed, so when the
    branched plan (main scan + carry/offsets subtree) executes the
    exchange twice — reuse is an optimizer courtesy, not a contract, and
    AQE stage-planning or a lost executor can re-run it — the two
    executions can disagree on slice membership and the carry join keys
    silently mismatch (observed: wrong session merges under a vanilla
    8-thread session). Boundaries collected ONCE on the driver make the
    slice id a pure function of the row, immune to re-execution — the
    same literal-inlining discipline the IVF codebooks use.

    Cost: one narrow single-column quantile job up front; in exchange
    the data shuffles once (the slice-local window's hash exchange)
    instead of range + hash. Rows with an equal ``order_col`` value all
    land in one slice, so per-key contiguity holds for any tie-breaking
    suffix of the ordering. Nulls map to slice 0 — the same nulls-first
    default the window ordering uses.

    ``order_col`` may be a Column expression — e.g. the COMPOSITE key
    ``key + ts/1e16`` (lexicographic in (key, ts) while ts/1e16 < 1)
    that high-cardinality per-key scans use so that only heavy keys
    split across slices and a normal key stays whole: slicing such a
    scan by time ALONE scatters every key over many slices and inflates
    the per-(slice, key) carry table toward O(rows) — measured as the
    3x jump at x30 in the scale probe before this fix.

    ``bounds``: precomputed :func:`slice_bounds` literals — pass them
    when the query already ran the quantile job (multi-pass segmented
    scans), turning this into a free projection.
    """
    if bounds is None:
        bounds = slice_bounds(df, order_col, n_slices)
    return slice_from_bounds(order_col, bounds)


def composite_slice_key(key_col: str, ts_col: str) -> Column:
    """The (key, time) composite slicing key: ``key + ts/1e16`` — double
    arithmetic keeps it monotone in the lexicographic (key, ts) order
    for integer keys and epoch-micro timestamps through 2286 (ts/1e16 <
    1). Quantile boundaries of this key split ONLY keys heavy enough to
    span a quantile, and split them by time; everyone else stays whole,
    keeping the carry table at O(distinct keys), not O(rows)."""
    return F.col(key_col).cast("double") + F.col(ts_col).cast("double") / F.lit(1e16)


def ranked(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    n_slices: int | None = None,
    bounds_df: DataFrame | None = None,
    bounds: list[float] | None = None,
    slice_col: Column | None = None,
    broadcast_offsets: bool = True,
) -> DataFrame:
    """Add ``_rank`` (1-based within ``part_cols``, ordered by
    ``order_cols``, which must end in a unique tiebreaker) and ``_n``
    (partition row count) without ever sorting a whole partition on one
    task. Ascending, nulls-first — Window.orderBy's defaults.

    ``slice_col`` (e.g. :func:`composite_slice_key`) keeps the offsets
    table at O(distinct keys) for high-cardinality ``part_cols``, and
    ``broadcast_offsets=False`` lets AQE pick the offsets-join strategy
    there — same contract as :func:`prefix_sum`."""
    n_slices = n_slices or df.sparkSession.sparkContext.defaultParallelism
    sliced = df.withColumn(
        "_slice",
        slice_expr(
            bounds_df if bounds_df is not None else df,
            slice_col if slice_col is not None else order_cols[0],
            n_slices,
            bounds=bounds,
        ),
    )
    # local rank: windows keyed by (slice, category) — n_slices-way
    # parallel, each holds one contiguous ordered range of one category
    w_loc = Window.partitionBy("_slice", *part_cols).orderBy(*order_cols)
    local = sliced.withColumn("_lrank", F.row_number().over(w_loc))
    # tiny counts table -> prefix offsets + totals per category
    counts = local.groupBy("_slice", *part_cols).agg(F.count("*").alias("_c"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_slice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*part_cols)
    offsets = counts.select(
        "_slice",
        *part_cols,
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(w_tot).alias("_n"),
    )
    off = F.broadcast(offsets) if broadcast_offsets else offsets
    # one select, not withColumn+drop: every DataFrame op is an eager
    # analysis walk of the accumulated plan (r13, guide §7.3)
    return local.join(off, ["_slice", *part_cols]).select(
        *[F.col(c) for c in df.columns],
        F.col("_n"),
        (F.col("_off") + F.col("_lrank")).cast("long").alias("_rank"),
    )


def prefix_sum(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    val_col: str | list[str],
    n_slices: int | None = None,
    slice_col: Column | None = None,
    broadcast_offsets: bool = True,
    bounds_df: DataFrame | None = None,
    bounds: list[float] | None = None,
) -> DataFrame:
    """Add ``_prefix``: the inclusive running sum of ``val_col`` within
    ``part_cols`` ordered by ``order_cols`` (unique tiebreaker required),
    without serializing a stratum onto one task.

    ``val_col`` may be a LIST of columns (r12, guide §2.4): all running
    sums ride ONE slice-local window, ONE carry aggregate and ONE
    offsets join — output columns ``_prefix_<col>``. Chaining two
    single-column calls instead doubles every window/exchange/join AND
    (before bounds sharing) re-ran the first pass inside the second's
    quantile job.

    Same two-pass shape as :func:`ranked` — and the contiguity of
    :func:`slice_expr`'s buckets is load-bearing here, not just a
    parallel sort: per-slice partial sums only compose into a global
    running sum when each slice holds a CONTIGUOUS ordered range of its
    stratum. (Hash slices would interleave stratum rows and the offsets
    would be meaningless.)

    Double-execution note (r6, measured): the two passes (slice-local
    window; per-slice totals) both reference ``local``, so the STATIC
    plan prints the upstream subtree twice — but because ``sums``
    derives from ``local`` (not from ``sliced``), both branches contain
    the IDENTICAL window Exchange, and AQE's runtime exchange reuse
    collapses them: the executed plan shows ``ReusedExchange`` and the
    upstream scan+shuffle runs ONCE (pinned by
    ``tests/test_plans.py::test_prefix_scan_runtime_exchange_reuse``).
    Persisting the input instead was tried and REVERTED: on the x10/x30
    probes a cache materialization barrier + memory-store write made
    consumers 1.4-2x slower than letting reuse do the work.
    """
    n_slices = n_slices or df.sparkSession.sparkContext.defaultParallelism
    sliced = df.withColumn(
        "_slice",
        slice_expr(
            bounds_df if bounds_df is not None else df,
            slice_col if slice_col is not None else order_cols[0],
            n_slices,
            bounds=bounds,
        ),
    )
    w_loc = (
        Window.partitionBy("_slice", *part_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    multi = not isinstance(val_col, str)
    cols = list(val_col) if multi else [val_col]
    # ONE select adds every running-sum column (r13, guide §7.3: each
    # DataFrame op is an eager analysis walk; the per-column withColumn
    # loops here ran 2 x len(cols) extra walks per call)
    local = sliced.select(
        "*",
        *[
            F.sum(F.col(c).cast("long")).over(w_loc).alias(f"_lsum_{c}")
            for c in cols
        ],
    )
    sums = local.groupBy("_slice", *part_cols).agg(
        *[F.sum(F.col(c).cast("long")).alias(f"_c_{c}") for c in cols]
    )
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_slice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sums.select(
        "_slice",
        *part_cols,
        *[
            F.coalesce(F.sum(f"_c_{c}").over(w_off), F.lit(0)).alias(
                f"_off_{c}"
            )
            for c in cols
        ],
    )
    off = F.broadcast(offsets) if broadcast_offsets else offsets
    return local.join(off, ["_slice", *part_cols]).select(
        *[F.col(c) for c in df.columns],
        *[
            (F.col(f"_off_{c}") + F.col(f"_lsum_{c}"))
            .cast("long")
            .alias(f"_prefix_{c}" if multi else "_prefix")
            for c in cols
        ],
    )


def running_last_sliced(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    val_col: str,
    n_slices: int | None = None,
    slice_col: Column | None = None,
    broadcast_offsets: bool = True,
    bounds_df: DataFrame | None = None,
    bounds: list[float] | None = None,
) -> DataFrame:
    """Add ``_last``: the running last non-null ``val_col`` within
    ``part_cols`` ordered by ``order_cols`` (unique tiebreaker required)
    — the distributed form of ``F.last(ignorenulls=True)`` over an
    unbounded-preceding frame.

    This is the third member of the segmented-scan family (with
    :func:`ranked` and :func:`prefix_sum`): "carry the latest seen value
    forward" is associative, so it composes across contiguous range
    slices exactly like a sum — each slice's carry-out is the ``_lval``
    of its max-order row (null if the slice saw no non-null), and a
    slice's carry-in is the last non-null carry-out among earlier slices
    of the same key, computed on the tiny per-(slice, key) table and
    broadcast back. One key's timeline therefore spreads over many
    tasks instead of serializing the as-of scan onto one — the fix for
    the mega-user residual the skew probe measured on the window-based
    as-of (2.65x on a 50%-of-log user).
    """
    n_slices = n_slices or df.sparkSession.sparkContext.defaultParallelism
    sliced = df.withColumn(
        "_slice",
        slice_expr(
            bounds_df if bounds_df is not None else df,
            slice_col if slice_col is not None else order_cols[0],
            n_slices,
            bounds=bounds,
        ),
    )
    w_loc = (
        Window.partitionBy("_slice", *part_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sliced.withColumn(
        "_lval", F.last(val_col, ignorenulls=True).over(w_loc)
    )
    # carry-out per (slice, key): the running value at the slice's last
    # row == the slice's last non-null (or null if it has none)
    carry = local.groupBy("_slice", *part_cols).agg(
        F.max_by("_lval", F.struct(*order_cols)).alias("_carry")
    )
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_slice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = carry.select(
        "_slice",
        *part_cols,
        F.last("_carry", ignorenulls=True).over(w_off).alias("_in"),
    )
    off = F.broadcast(offsets) if broadcast_offsets else offsets
    # one select, not withColumn+drop (r13, guide §7.3)
    return local.join(off, ["_slice", *part_cols]).select(
        *[F.col(c) for c in df.columns],
        F.coalesce("_lval", "_in").alias("_last"),
    )


def running_max_sliced(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    val_col: str,
    n_slices: int | None = None,
    slice_col: Column | None = None,
    broadcast_offsets: bool = True,
    bounds_df: DataFrame | None = None,
    bounds: list[float] | None = None,
) -> DataFrame:
    """Add ``_rmax``: the running max of ``val_col`` (nulls ignored)
    within ``part_cols`` ordered by ``order_cols``, inclusive of the
    current row — range-sliced like :func:`prefix_sum`, since max is
    associative: each slice's carry-out is its local max, a slice's
    carry-in is the max carry-out of earlier slices (tiny broadcast
    table), and the global value is ``greatest(local, carry_in)``.

    The strict-inequality idiom: interleave zero-information query rows
    (null ``val_col``) that sort BEFORE data rows at an equal timestamp
    (e.g. order by ``(ts, kind)`` with query kind < data kind) — the
    query row's ``_rmax`` is then the max over strictly-earlier data,
    with no bounded RANGE frame anywhere.

    ``slice_col`` (e.g. :func:`composite_slice_key`) keeps the carry
    table at O(distinct keys) when ``part_cols`` is high-cardinality,
    exactly as in :func:`prefix_sum`; ``broadcast_offsets=False`` lets
    AQE pick the carry-join strategy at user-scale cardinality.
    """
    n_slices = n_slices or df.sparkSession.sparkContext.defaultParallelism
    sliced = df.withColumn(
        "_slice",
        slice_expr(
            bounds_df if bounds_df is not None else df,
            slice_col if slice_col is not None else order_cols[0],
            n_slices,
            bounds=bounds,
        ),
    )
    w_loc = (
        Window.partitionBy("_slice", *part_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sliced.withColumn("_lmax", F.max(val_col).over(w_loc))
    carry = local.groupBy("_slice", *part_cols).agg(
        F.max(val_col).alias("_carry")
    )
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_slice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = carry.select(
        "_slice", *part_cols, F.max("_carry").over(w_off).alias("_in")
    )
    off = F.broadcast(offsets) if broadcast_offsets else offsets
    # one select, not withColumn+drop (r13, guide §7.3)
    return local.join(off, ["_slice", *part_cols]).select(
        *[F.col(c) for c in df.columns],
        F.greatest("_lmax", "_in").alias("_rmax"),
    )


def rank_profile(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    ntile: int = 4,
    n_slices: int | None = None,
) -> DataFrame:
    """percent_rank / cume_dist / ntile(n) per category at full
    parallelism — closed forms over the distributed ``ranked`` pass
    (valid because ``order_cols`` ends in a unique tiebreaker)."""
    r, n = F.col("_rank"), F.col("_n")
    k = F.lit(ntile)
    rem = n % k
    basei = F.floor(n / k).cast("long")
    # first (n % k) tiles get base+1 rows (the SQL ntile rule)
    big_span = rem * (basei + 1)
    tile = (
        F.when(r <= big_span, F.floor((r - 1) / (basei + 1)))
        .otherwise(rem + F.floor((r - big_span - 1) / basei))
        + 1
    )
    return (
        ranked(df, part_cols, order_cols, n_slices)
        .withColumn(
            "pr",
            F.round(
                F.when(n > 1, (r - 1) / (n - 1)).otherwise(F.lit(0.0)), 6
            ),
        )
        .withColumn("cd", F.round(r / n, 6))
        .withColumn("quartile" if ntile == 4 else f"ntile{ntile}", tile.cast("long"))
        .drop("_rank", "_n")
    )


def anchored_pivot(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    payload_cols: list[str],
    n_offsets: int,
    slice_col: Column | None = None,
    broadcast_offsets: bool = True,
) -> DataFrame:
    """Join-free adjacency: rank rows within ``part_cols`` by
    ``order_cols`` (via :func:`ranked`), then give every anchor
    position ``_rank`` the payloads of rows ``_rank .. _rank +
    n_offsets - 1`` as columns ``<payload>_0 .. <payload>_{k}``, plus
    ``_n`` (the partition row count).

    The naive formulation — ``n_offsets - 1`` shifted self-joins on
    (key, rank) — makes Spark re-execute the entire ranked subtree per
    join branch (measured: 6 scans for a 3-wide window). Here each row
    instead EXPLODES to its ``n_offsets`` anchor positions and ONE
    uniform (key, rank) pivot re-assembles the window: one extra narrow
    pass over n_offsets x rows, one exchange, no joins — and a mega-key
    spreads across ranks instead of serializing. Anchors whose window
    runs past the partition's end carry NULL payloads (callers filter
    or coalesce). Used by ``sequence_next_node_matrix`` (3-wide type
    window) and ``user_value_derivative_profile`` (adjacent pairs).
    """
    r = ranked(
        df,
        part_cols,
        order_cols,
        slice_col=slice_col,
        broadcast_offsets=broadcast_offsets,
    )
    structs = [
        F.struct(
            (F.col("_rank") - k).alias("_arn"),
            F.lit(k).alias("_off"),
            *[F.col(c).alias(c) for c in payload_cols],
            F.col("_n").alias("_cnt"),
        )
        for k in range(n_offsets)
    ]
    contrib = r.select(
        *part_cols, F.explode(F.array(*structs)).alias("_x")
    ).filter(F.col("_x._arn") >= 1)
    aggs = [
        F.max(F.when(F.col("_x._off") == k, F.col(f"_x.{c}"))).alias(
            f"{c}_{k}"
        )
        for k in range(n_offsets)
        for c in payload_cols
    ]
    aggs.append(
        F.max(F.when(F.col("_x._off") == 0, F.col("_x._cnt"))).alias("_n")
    )
    return contrib.groupBy(
        *part_cols, F.col("_x._arn").alias("_rank")
    ).agg(*aggs)


def grouped_kernel(df, keys, fn, schema, n=None):
    """``groupBy(keys).applyInPandas(fn, schema)`` with the reducer
    count PINNED to the key-space size (r12, guide §2.2/§4).

    AQE's partition coalescing is byte-based and blind to per-row
    PYTHON cost: a kernel stage whose shuffle input is a few MB
    coalesces to one or two tasks and serializes the whole Python
    compute behind one core (measured on the fused timed-count kernel:
    4.1 s -> 2.5 s warm from this change alone). An explicit
    ``repartition(n, keys)`` pins the reducer count — Spark does not
    coalesce user-specified repartitions-by-number — while satisfying
    the groupBy's clustered-distribution requirement, so the plan still
    carries exactly ONE exchange. ``n`` defaults to the slice/bucket
    convention (4 x defaultParallelism) the kernel callers size their
    key space with; callers whose key space is smaller (a 4-row CMS
    grid) gain nothing and should keep plain groupBy."""
    if n is None:
        n = 4 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys).groupBy(*keys).applyInPandas(fn, schema)
