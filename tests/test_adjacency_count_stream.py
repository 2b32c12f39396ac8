"""Streaming adjacency-count twin (streaming/adjacency_count_stream.py):
the sequential product-automaton state must reproduce the batch
sequence_count_adjacent / sequence_count_adjacent_timed counts exactly
— on real corpus data via the pure core, and end-to-end through
applyInPandasWithState within the watermark."""

from __future__ import annotations

import datetime as dt
import random

from clickhouse_github_log_importer_spark.operators.sequence import sequence_count
from clickhouse_github_log_importer_spark.streaming.adjacency_count_stream import (
    _SENT,
    advance_count,
    compile_count_product,
    sequence_count_adjacent_streaming,
)

CONDS = ("signup", "click", "purchase", "view")
T0 = dt.datetime(2024, 3, 1, 10, 0, 0)


def _core_counts(spark, sf, pattern, conds=CONDS):
    """All declared events per user through the pure core, in the batch
    (ts, event_id) order."""
    from pyspark.sql import functions as F

    from clickhouse_github_log_importer_spark.plans.queries import t

    meta = compile_count_product(pattern, conds)
    sym = {c: a for a, c in enumerate(conds)}
    rows = (
        t(spark, sf, "events")
        .filter(F.col("event_type").isin(*set(conds)))
        .select("user_id", "ts_us", "event_id", "event_type")
        .collect()
    )
    per_user: dict[int, list] = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(
            (r["ts_us"], r["event_id"], r["event_type"])
        )
    out = {}
    for u, evs in per_user.items():
        evs.sort()
        st = advance_count(
            (0, _SENT, 0, []), [(t_, e_) for t_, _, e_ in evs], meta, sym
        )
        if st[2] >= 1:
            out[u] = st[2]
    return out


def _batch_counts(ev, pattern, conds=CONDS):
    """The batch adjacency counter (a one-pattern battery) per user."""
    return {
        r["user_id"]: r["seq_count"]
        for r in sequence_count(
            ev, pattern, conds, semantics="adjacency"
        ).collect()
    }


def test_core_matches_batch_untimed(spark, sf_smoke):
    from clickhouse_github_log_importer_spark.plans.queries import (
        _SEQ_COUNT_ADJ_PATTERNS,
        t,
    )

    ev = t(spark, sf_smoke, "events")
    for pat in _SEQ_COUNT_ADJ_PATTERNS:
        batch = _batch_counts(ev, pat)
        assert _core_counts(spark, sf_smoke, pat) == batch, pat


def test_core_matches_batch_timed(spark, sf_smoke):
    from clickhouse_github_log_importer_spark.plans.queries import (
        _SEQ_COUNT_ADJT_PATTERNS,
        t,
    )

    ev = t(spark, sf_smoke, "events")
    for pat in _SEQ_COUNT_ADJT_PATTERNS:
        batch = _batch_counts(ev, pat)
        assert _core_counts(spark, sf_smoke, pat) == batch, pat


def test_streaming_counts_equal_batch(spark, tmp_path):
    import os
    import time

    from pyspark.sql import functions as F

    DDL = "user_id long, ts timestamp, event_type string, event_id long"
    rng = random.Random(23)
    rows, eid = [], 0
    for u in range(1, 20):
        for _ in range(rng.randrange(3, 14)):
            eid += 1
            rows.append(
                (
                    u,
                    T0 + dt.timedelta(minutes=rng.randrange(0, 600)),
                    rng.choice(CONDS + ("error",)),
                    eid,
                )
            )
    flush = [(999, T0 + dt.timedelta(days=400), "error", 10**6)]
    pattern = "(?2)(?t<7200)(?3)"

    d = str(tmp_path / "adjc_src")
    os.makedirs(d)
    for i, part in enumerate((rows[::2], rows[1::2], flush)):
        path = os.path.join(d, f"b{i}.parquet")
        spark.createDataFrame(part, DDL).coalesce(1).write.parquet(path)
        m = time.time() - 120 + 60 * i
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (m, m))

    stream = (
        spark.readStream.schema(DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = sequence_count_adjacent_streaming(
        stream.withWatermark("ts", "5 minutes"), pattern, CONDS
    )
    q = (
        out.writeStream.format("memory")
        .queryName("adjc_stream_pin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # running-count emission: the LATEST (= max, counts are monotone)
    # row per user is the batch value
    got: dict[int, int] = {}
    for r in spark.table("adjc_stream_pin").collect():
        got[r["user_id"]] = max(got.get(r["user_id"], 0), r["seq_count"])

    ev = spark.createDataFrame(rows, DDL).select(
        "user_id",
        (F.unix_timestamp("ts") * 1_000_000).alias("ts_us"),
        "event_id",
        "event_type",
    )
    batch = _batch_counts(ev, pattern)
    assert got == batch
    assert batch  # fixture must exercise real counts
