"""Distributed ranking (operators/ranking.py): value-equivalence with the
naive single-task window form, plus the closed-form edge cases."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from clickhouse_github_log_importer_spark.operators.ranking import (
    rank_profile,
    ranked,
)


def _naive(df, ntile=4):
    w = Window.partitionBy("cat").orderBy("v", "id")
    return df.select(
        "id",
        "cat",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(ntile).over(w).cast("long").alias("quartile"),
    )


def test_ranked_matches_window_row_number(spark):
    data = [(i, "abc"[i % 3], float((i * 37) % 11)) for i in range(200)]
    df = spark.createDataFrame(data, "id long, cat string, v double")
    got = {
        r["id"]: (r["_rank"], r["_n"])
        for r in ranked(df, ["cat"], ["v", "id"], n_slices=7).collect()
    }
    w = Window.partitionBy("cat").orderBy("v", "id")
    cw = Window.partitionBy("cat")
    want = {
        r["id"]: (r["rn"], r["n"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(cw).alias("n"),
        ).collect()
    }
    assert got == want


def test_rank_profile_matches_naive_window(spark):
    # duplicate v values across and within categories: the unique id
    # tiebreak keeps the total order (the operator's contract)
    data = [(i, "xy"[i % 2], float(i % 5)) for i in range(101)]
    df = spark.createDataFrame(data, "id long, cat string, v double")
    got = sorted(
        rank_profile(df, ["cat"], ["v", "id"], n_slices=5)
        .select("id", "pr", "cd", "quartile")
        .collect()
    )
    want = sorted(_naive(df).select("id", "pr", "cd", "quartile").collect())
    assert got == want


def test_rank_profile_small_category_edges(spark):
    # n=1 category (percent_rank -> 0, quartile 1) and n<ntile category
    # (ntile assigns one row per tile, never divides by zero)
    data = [(1, "solo", 5.0), (2, "duo", 1.0), (3, "duo", 2.0)]
    df = spark.createDataFrame(data, "id long, cat string, v double")
    rows = {
        r["id"]: r
        for r in rank_profile(df, ["cat"], ["v", "id"], n_slices=3).collect()
    }
    assert rows[1]["pr"] == 0.0 and rows[1]["cd"] == 1.0 and rows[1]["quartile"] == 1
    assert rows[2]["quartile"] == 1 and rows[3]["quartile"] == 2
    assert rows[3]["pr"] == 1.0 and rows[2]["cd"] == 0.5


def test_prefix_sum_matches_window_cumsum(spark):
    from clickhouse_github_log_importer_spark.operators.ranking import prefix_sum

    data = [(i, "pqr"[i % 3], (i * 13) % 7 + 1) for i in range(150)]
    df = spark.createDataFrame(data, "id long, cat string, sz long")
    got = {
        r["id"]: r["_prefix"]
        for r in prefix_sum(df, ["cat"], ["id"], "sz", n_slices=6).collect()
    }
    w = (
        Window.partitionBy("cat")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["id"]: r["cs"]
        for r in df.select("id", F.sum("sz").over(w).alias("cs")).collect()
    }
    assert got == want


def test_running_max_sliced_matches_window(spark):
    from clickhouse_github_log_importer_spark.operators.ranking import (
        running_max_sliced,
    )

    # nulls sprinkled in: max must ignore them locally AND in the carry
    data = [
        (i, "ab"[i % 2], ((i * 29) % 11) if i % 3 else None)
        for i in range(120)
    ]
    df = spark.createDataFrame(data, "id long, k string, v long")
    got = {
        r["id"]: r["_rmax"]
        for r in running_max_sliced(df, ["k"], ["id"], "v", n_slices=7).collect()
    }
    w = (
        Window.partitionBy("k")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["id"]: r["m"]
        for r in df.select("id", F.max("v").over(w).alias("m")).collect()
    }
    assert got == want


def test_running_last_sliced_matches_window(spark):
    from clickhouse_github_log_importer_spark.operators.ranking import (
        running_last_sliced,
    )

    # long null runs crossing slice boundaries: the carry-in must be the
    # last non-null of ANY earlier slice, not just the previous one
    data = [
        (i, "xy"[i % 2], (i * 7) % 13 if i % 9 == 0 else None)
        for i in range(140)
    ]
    df = spark.createDataFrame(data, "id long, k string, v long")
    got = {
        r["id"]: r["_last"]
        for r in running_last_sliced(df, ["k"], ["id"], "v", n_slices=8).collect()
    }
    w = (
        Window.partitionBy("k")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["id"]: r["lv"]
        for r in df.select(
            "id", F.last("v", ignorenulls=True).over(w).alias("lv")
        ).collect()
    }
    assert got == want


def test_running_max_sliced_composite_slice_col(spark):
    from clickhouse_github_log_importer_spark.operators.ranking import (
        composite_slice_key,
        running_max_sliced,
    )

    # skewed integer keys (one mega-key) + the composite (key, ts) slice
    # column and an AQE-chosen offsets join: values must still match the
    # naive window exactly
    data = [
        (i, 7 if i % 4 else i % 13, i * 1_000_000, ((i * 31) % 17) or None)
        for i in range(160)
    ]
    df = spark.createDataFrame(data, "id long, k long, ts long, v long")
    got = {
        (r["k"], r["id"]): r["_rmax"]
        for r in running_max_sliced(
            df,
            ["k"],
            ["ts", "id"],
            "v",
            n_slices=6,
            slice_col=composite_slice_key("k", "ts"),
            broadcast_offsets=False,
        ).collect()
    }
    w = (
        Window.partitionBy("k")
        .orderBy("ts", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["k"], r["id"]): r["m"]
        for r in df.select("k", "id", F.max("v").over(w).alias("m")).collect()
    }
    assert got == want


def test_bounds_memo_hits_and_never_changes_results(spark, tmp_path):
    """r13 bounds memo: identical probe plans (parquet-backed, the t()
    shape every entry uses) share ONE approxQuantile driver job per
    application; clearing re-runs it; and — the safety property that
    makes memoization legitimate — boundaries affect slice BALANCE only,
    so even a deliberately WRONG memo serve leaves every ranked result
    bit-identical."""
    from clickhouse_github_log_importer_spark.operators import ranking as R

    data = [(i, "ab"[i % 2], float((i * 13) % 29)) for i in range(300)]
    src = spark.createDataFrame(data, "id long, cat string, v double")
    path = str(tmp_path / "bounds_memo.parquet")
    src.write.parquet(path)
    # two SEPARATE reads of the same files: canonicalized plans are
    # semantically equal, so the second probe must be a memo hit
    df1 = spark.read.parquet(path)
    df2 = spark.read.parquet(path)

    calls = {"n": 0}
    orig = type(df1).approxQuantile

    def counting_aq(self, *a, **kw):
        calls["n"] += 1
        return orig(self, *a, **kw)

    type(df1).approxQuantile = counting_aq
    try:
        R.clear_bounds_memo()
        b1 = R.slice_bounds(df1, "v", 5)
        b2 = R.slice_bounds(df2, "v", 5)  # separately built, same plan
        assert calls["n"] == 1, "identical probe plans must share one job"
        assert b1 == b2
        R.clear_bounds_memo()
        R.slice_bounds(df1, "v", 5)
        assert calls["n"] == 2, "clear must force a recompute"
        # different n_slices -> different key -> fresh job
        R.slice_bounds(df1, "v", 7)
        assert calls["n"] == 3
    finally:
        type(df1).approxQuantile = orig

    # wrong-bounds serve: poison the memo with garbage boundaries and
    # assert ranked() output is unchanged (slice invariance)
    expected = sorted(
        (r["id"], r["_rank"], r["_n"])
        for r in R.ranked(df1, ["cat"], ["v", "id"], n_slices=5).collect()
    )
    probe = df1.select(F.col("v").cast("double").alias("_b"))
    key = (
        spark.sparkContext.applicationId,
        probe._jdf.queryExecution().analyzed().semanticHash(),
        5,
    )
    R._BOUNDS_MEMO[key] = [2.0]  # absurdly unbalanced single boundary
    try:
        poisoned = sorted(
            (r["id"], r["_rank"], r["_n"])
            for r in R.ranked(df1, ["cat"], ["v", "id"], n_slices=5).collect()
        )
    finally:
        R.clear_bounds_memo()
    assert poisoned == expected


def test_bounds_memo_drops_other_applications_on_insert(spark):
    """A memo key from another application can never be served again
    (keys lead with the applicationId), so an insert evicts it: the memo
    holds one application's boundaries, not every session's."""
    from clickhouse_github_log_importer_spark.operators import ranking as R

    df = spark.createDataFrame([(float(i),) for i in range(50)], "v double")
    foreign = ("app-that-has-ended", 0, 5)
    R.clear_bounds_memo()
    R._BOUNDS_MEMO[foreign] = [1.0]
    try:
        R.slice_bounds(df, "v", 5)
        assert foreign not in R._BOUNDS_MEMO
        app = spark.sparkContext.applicationId
        assert R._BOUNDS_MEMO and all(k[0] == app for k in R._BOUNDS_MEMO)
    finally:
        R.clear_bounds_memo()
