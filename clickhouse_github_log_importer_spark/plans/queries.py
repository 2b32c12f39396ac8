"""The declared query surface (SURVEY 2) over the driver's synthetic tables.

Every reference query shape (record counts A1, filtered grouped counts A2,
exploded-JSON label top-N A3/F1-F3, the 4-way LEFT-join weighted
repo-activity score J1/A5/F8, the import-reconciliation anti-join J3/F6/F7,
the watermark LEFT-join aggregates J2/A4 with min_by/argMin, the
ReplacingMergeTree last-write-wins dedup A7/T7, top-K O1) is re-expressed
over the synthetic star schema (``region nation customer supplier part
orders lineitem events``), plus TPC-H-style analytics that exercise the
same operators at bench scale.

Each entry is a pair: a Spark plan builder ``(spark, sf_dir) -> DataFrame``
and a DuckDB oracle SQL string computing the identical result (same column
names — the harness sorts columns by name and hashes values). Determinism
rules used throughout:

- every top-K orders by the measure THEN a unique key (ClickHouse LIMIT
  ties are engine-arbitrary; we pin them);
- LEFT-join numeric gaps are zero-filled (ClickHouse fills defaults, not
  NULL — SURVEY 7.3);
- floating aggregates are rounded; ranking never depends on sub-round
  differences except through IEEE-identical arithmetic.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import ranking as RK
from ..operators.sequence import (
    _adjt_lag_depths,
    _parse_seq_pattern,
    _restart_dfa,
    _seq_count_dfa,
    _seq_count_dfa_meta,
    _seq_count_sliced_base,
    _sequence_count_adjacent_timed_multi,
    _sequence_count_battery_fused,
    _sequence_count_timed_multi,
    _strict_edge,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over pre-registered table views
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, tags: tuple[str, ...] = (), doc: str = ""):
    def deco(fn):
        # Bound persist lifetimes (operators/cache.py): persists made
        # while an entry builds its plan — including deep inside
        # operators whose callers never thread a scope — register into a
        # per-entry rotating scope, so a long session (bench's 2x216
        # entry passes, the API server) holds at most ONE live frame set
        # per entry instead of accreting one per invocation.
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            from ..operators.cache import entry_scope

            with entry_scope(f"entry:{name}"):
                return fn(*args, **kwargs)

        REGISTRY[name] = QuerySpec(spark=wrapped, oracle=oracle, tags=tags, doc=doc)
        return fn

    return deco


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make any driver-provided session safe for these plans.

    Both confs are runtime-settable: UTC rendering parity with the oracle's
    naive timestamps, and — should the testdata ever regress to parquet
    TIMESTAMP(NANOS) — nanos columns read as epoch-nano longs instead of
    erroring. ``nanosAsLong`` is a no-op for MICROS/MILLIS columns (the
    current testdata is MICROS, loaded as timestamp_ntz); the actual ts
    handling is type-adaptive in ``t()``.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # r12 note: `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
    # was trialled here (let AQE re-plan cached-frame partitioning so a
    # tiny persisted aggregate is not stored as shuffle.partitions
    # near-empty blocks) and REJECTED on measurement: a same-process A/B
    # over the persist-consuming entries showed no case where it won and
    # several (ann_ivfpq_recall_report, sequence_match_pattern,
    # window_funnel_levels) where the true arm was slower — coalescing a
    # cached frame to 1-2 partitions serializes the compute-heavy Arrow
    # kernels that read it at local scale.


#: (app_id, path, mtime_ns, size) -> loaded DataFrame. METADATA memo, not
#: a result memo (r12, guide §1.2/§6): ``spark.read.parquet`` spends
#: ~135 ms of single-threaded DRIVER time per call on file listing +
#: footer schema inference, and the registry pays it on every ``t()``
#: call of every entry (~0.1-0.4 s of every benched query's wall; the
#: same driver-side listing cost §6 bounds with
#: filesourcePartitionFileCacheSize — which only caches the listing, not
#: the schema read). A DataFrame is an immutable logical plan: reusing
#: it recomputes everything from the parquet files on every action, so
#: no data or result is ever cached here. Keyed by file mtime+size so a
#: testdata swap invalidates, and by application id so a fresh session
#: never sees another session's plan.
_TABLE_MEMO: dict[tuple, DataFrame] = {}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; for ``events`` derive the portable time pair.

    Contract (type-adaptive — the parquet writer's timestamp resolution has
    drifted across driver rounds, so never assume one):

    - ``ts_us``: epoch MICROseconds as BIGINT — the exact portable value the
      oracle compares on (DuckDB also works in micros).
    - ``ts``: TIMESTAMP (UTC session) at micro resolution for calendar ops.

    Handled loads: parquet TIMESTAMP(MICROS/MILLIS) → timestamp/timestamp_ntz
    column (use ``unix_micros``); parquet TIMESTAMP(NANOS) + ``nanosAsLong``
    → bigint epoch-nanos column (``div 1000``). Derivations are plain
    projections — free at any scale, never a shuffle.
    """
    import os

    _ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        key = (
            spark.sparkContext.applicationId,
            path,
            st.st_mtime_ns,
            st.st_size,
        )
    except OSError:
        key = None  # non-local path (e.g. object store): no memo
    if key is not None and key in _TABLE_MEMO:
        return _TABLE_MEMO[key]
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    if key is not None:
        _TABLE_MEMO[key] = df
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Derive the (``ts`` timestamp, ``ts_us`` bigint-micros) pair from
    whatever physical type the ``ts`` column loaded as. See ``t()`` for the
    contract. No-op if the frame has no ``ts`` column. Every events consumer
    (query registry, API server views, streaming sources, bench) must route
    through here so a testdata resolution drift is handled in exactly one
    place."""
    if "ts" not in df.columns:
        return df
    dtype = dict(df.dtypes)["ts"]
    if dtype.startswith("timestamp"):
        # MICROS/MILLIS parquet: loaded as timestamp(_ntz); unix_micros
        # needs a zoned timestamp, and the session is pinned UTC so the
        # ntz->tz cast is the identity on the wall-clock value.
        return df.withColumn(
            "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    if dtype == "bigint":
        # NANOS parquet read via nanosAsLong: epoch-ns long.
        return df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)")
        )
    raise TypeError(
        f"events.ts has unsupported dtype {dtype!r}; expected a "
        "timestamp type or bigint epoch-nanos"
    )


# =====================================================================
# Reference query surface (SURVEY 2.3/2.4/2.6/2.7) on synthetic tables
# =====================================================================


@register(
    "record_count",
    "SELECT COUNT(*) AS count FROM events",
    tags=("A1",),
    doc="A1 full-table count (README.md:88).",
)
def record_count(spark, sf_dir):
    return t(spark, sf_dir, "events").agg(F.count("*").alias("count"))


@register(
    "events_per_type",
    "SELECT event_type, COUNT(*) AS count FROM events GROUP BY event_type",
    tags=("A2",),
    doc="A2 filtered grouped count (README.md:114-125 subquery shape).",
)
def events_per_type(spark, sf_dir):
    return t(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("count"))


@register(
    "most_used_prop",
    """
    SELECT k AS label, COUNT(*) AS count
    FROM (
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events WHERE event_type IN ('click', 'view')
    )
    GROUP BY k ORDER BY count DESC, label ASC LIMIT 20
    """,
    tags=("A3", "F1", "O1"),
    doc="A3/F1 most_used_label shape (README.md:96-102): JSON-extract -> "
    "group -> top-N, with deterministic tie-break.",
)
def most_used_prop(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("click", "view"))
        .select(F.get_json_object("props", "$.k").cast("long").alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("label"))
        .limit(20)
    )


@register(
    "most_used_word",
    """
    SELECT word, COUNT(*) AS count
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word ORDER BY count DESC, word ASC LIMIT 20
    """,
    tags=("A3", "F3", "O1"),
    doc="A3/F3 arrayJoin-explode top-N (README.md:98 arrayJoin).",
)
def most_used_word(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("word"))
        .limit(20)
    )


_ACTIVITY_ORACLE = """
WITH icc AS (SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS count
             FROM events WHERE event_type = 'click' GROUP BY 1, 2),
     oic AS (SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS count
             FROM events WHERE event_type = 'view' GROUP BY 1, 2),
     opc AS (SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS count
             FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
     rcc AS (SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS count
             FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
     mpc AS (SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS count
             FROM events WHERE event_type = 'error' AND value > 100 GROUP BY 1, 2)
SELECT user_id,
       round(sum(sqrt(score)), 2) AS activity
FROM (
  SELECT icc.user_id AS user_id,
         icc.count + 2 * COALESCE(oic.count, 0) + 3 * COALESCE(opc.count, 0)
           + 4 * COALESCE(rcc.count, 0) + 5 * COALESCE(mpc.count, 0) AS score
  FROM icc
  LEFT JOIN oic ON icc.user_id = oic.user_id AND icc.day = oic.day
  LEFT JOIN opc ON icc.user_id = opc.user_id AND icc.day = opc.day
  LEFT JOIN rcc ON icc.user_id = rcc.user_id AND icc.day = rcc.day
  LEFT JOIN mpc ON icc.user_id = mpc.user_id AND icc.day = mpc.day
)
GROUP BY user_id
ORDER BY activity DESC, user_id ASC
LIMIT 20
"""


@register(
    "user_activity",
    _ACTIVITY_ORACLE,
    tags=("J1", "A2", "A5", "F8", "O1"),
    doc="J1/A5 repo_activity (README.md:109-129): 4-way LEFT equi-join of "
    "filtered grouped counts, ClickHouse zero-fill, weighted sqrt score, "
    "top-N. Mapped repo->day bucket, actor->user onto the synthetic "
    "events stream.",
)
def user_activity(spark, sf_dir):
    # Spark-first plan: the reference's 4-way LEFT equi-join of five
    # filtered GROUP BYs over the SAME table is semantically a conditional
    # aggregation (pivot) — the left joins on the shared grouping key with
    # COALESCE(x, 0) reduce to count(CASE WHEN...) per leg, anchored on
    # c_click > 0 (only icc groups survive the left join chain). One scan
    # + ONE shuffle on (user_id, day) instead of five scans + five
    # shuffles + four joins; at 100 TB this is the difference between one
    # exchange of the distinct keys and a five-way join pipeline.
    ev = t(spark, sf_dir, "events")

    def leg(etype: str, extra=None):
        cond = F.col("event_type") == etype
        if extra is not None:
            cond = cond & extra
        return F.count(F.when(cond, F.lit(1)))

    per_day = (
        ev.filter(
            F.col("event_type").isin("click", "view", "purchase", "signup", "error")
        )
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            leg("click").alias("c_click"),
            leg("view").alias("c_view"),
            leg("purchase").alias("c_purchase"),
            leg("signup").alias("c_signup"),
            leg("error", F.col("value") > 100).alias("c_error"),
        )
        .filter(F.col("c_click") > 0)  # icc is the join anchor
    )
    score = (
        F.col("c_click")
        + 2 * F.col("c_view")
        + 3 * F.col("c_purchase")
        + 4 * F.col("c_signup")
        + 5 * F.col("c_error")
    )
    return (
        per_day.select("user_id", score.alias("score"))
        .groupBy("user_id")
        .agg(F.round(F.sum(F.sqrt("score")), 2).alias("activity"))
        .orderBy(F.desc("activity"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "missing_hours",
    """
    WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                      date_trunc('hour', max(ts)) AS hi FROM events),
         hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
         present AS (SELECT DISTINCT date_trunc('hour', ts) AS hr FROM events)
    SELECT CAST(strftime(hr, '%Y%m%d%H') AS BIGINT) AS h
    FROM hours WHERE hr NOT IN (SELECT hr FROM present)
    """,
    tags=("J3", "A6", "F6", "F7", "F9", "U2"),
    doc="J3 import-reconciliation anti-join "
    "(app/service/log_importer_status_checker.ts:23-26): expected hour "
    "keys NOT IN distinct stored hour buckets.",
)
def missing_hours(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hr")
    )
    present = ev.select(F.date_trunc("hour", "ts").alias("hr")).distinct()
    return (
        hours.join(present, "hr", "left_anti")
        .select(F.date_format("hr", "yyyyMMddHH").cast("long").alias("h"))
    )


@register(
    "user_watermarks",
    """
    SELECT c.c_custkey AS id,
           COALESCE(e.first_ts_us, 0) AS first_ts_us,
           COALESCE(e.last_ts_us, 0) AS last_ts_us,
           COALESCE(e.first_event_id, 0) AS first_event_id,
           COALESCE(e.last_event_id, 0) AS last_event_id,
           COALESCE(e.n_events, 0) AS n_events
    FROM (SELECT c_custkey FROM customer) c
    LEFT JOIN (
      SELECT user_id,
             min(epoch_us(ts)) AS first_ts_us, max(epoch_us(ts)) AS last_ts_us,
             arg_min(event_id, epoch_us(ts)) AS first_event_id,
             arg_max(event_id, epoch_us(ts)) AS last_event_id,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id
    ) e ON c.c_custkey = e.user_id
    """,
    tags=("J2", "A4"),
    doc="J2/A4 Gitee watermark query (app/service/gitee_importer.ts:110-114): "
    "dimension LEFT JOIN per-key min/argMin/argMax aggregates; numeric "
    "gaps zero-filled like ClickHouse defaults.",
)
def user_watermarks(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("first_ts_us"),
        F.max("ts_us").alias("last_ts_us"),
        F.min_by("event_id", "ts_us").alias("first_event_id"),
        F.max_by("event_id", "ts_us").alias("last_event_id"),
        F.count("*").alias("n_events"),
    )
    # the aggregate side is small (one row per user) -> broadcast it, the
    # dimension never shuffles
    joined = cust.join(
        F.broadcast(agg), cust.c_custkey == agg.user_id, "left"
    )
    return joined.select(
        F.col("c_custkey").alias("id"),
        F.coalesce("first_ts_us", F.lit(0)).alias("first_ts_us"),
        F.coalesce("last_ts_us", F.lit(0)).alias("last_ts_us"),
        F.coalesce("first_event_id", F.lit(0)).alias("first_event_id"),
        F.coalesce("last_event_id", F.lit(0)).alias("last_event_id"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


@register(
    "dedup_last_write_wins",
    """
    SELECT user_id, event_type,
           CAST(strftime(date_trunc('hour', ts), '%Y%m%d%H') AS BIGINT) AS hour_key,
           max(event_id) AS kept_event_id,
           arg_max(value, event_id) AS kept_value,
           COUNT(*) AS n_versions
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("A7", "A8", "T7"),
    doc="A7/T7 ReplacingMergeTree last-write-wins: collapse duplicate "
    "(user, type, hour) keys keeping the max-version row "
    "(app/service/log_importer.ts:123-126; log_tugraph_importer.ts:95-123).",
)
def dedup_last_write_wins(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyyMMddHH")
            .cast("long")
            .alias("hour_key"),
        )
        .agg(
            F.max("event_id").alias("kept_event_id"),
            F.max_by("value", "event_id").alias("kept_value"),
            F.count("*").alias("n_versions"),
        )
    )


@register(
    "top_users_by_value",
    """
    SELECT user_id, round(sum(value), 2) AS total_value, COUNT(*) AS n
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id ORDER BY total_value DESC, user_id ASC LIMIT 20
    """,
    tags=("A2", "O1"),
    doc="O1 top-K over a filtered grouped aggregate (README.md:100-101).",
)
def top_users_by_value(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count("*").alias("n"),
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "users_not_customers",
    """
    SELECT DISTINCT user_id FROM events
    WHERE user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 100)
    """,
    tags=("U3", "J4"),
    doc="U3/J4 set difference via anti-join "
    "(app/service/gitee_importer.ts:328,343).",
)
def users_not_customers(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("user_id").distinct()
    cust = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100).select(
        F.col("c_custkey").alias("user_id")
    )
    return ev.join(F.broadcast(cust), "user_id", "left_anti")


@register(
    "hourly_event_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           event_type, COUNT(*) AS count, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("T1", "streaming"),
    doc="Tumbling-window aggregate: the batch semantics of the Structured "
    "Streaming ingest counters (SURVEY 2.9 upgrade path).",
)
def hourly_event_counts(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "user_first_events",
    """
    SELECT user_id,
           array_to_string((list(event_type ORDER BY epoch_us(ts), event_id))[1:5], '|')
             AS first_events,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
    tags=("A-array", "clickhouse-parity"),
    doc="groupArray analog: each user's first 5 event types in exact "
    "event order, as one ordered-array aggregation (ClickHouse "
    "groupArray(5)(...) shape). Determinism from the (ts, event_id) "
    "total order; one user-keyed shuffle, the per-user sort is the "
    "window sort every sessionization query already pays.",
)
def user_first_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rn") <= 5,
                                F.struct(F.col("_rn"), F.col("event_type")),
                            )
                        )
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("first_events"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "gap_filled_hourly_counts",
    """
    WITH c AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour_id,
             COUNT(*) AS n, round(SUM(value), 2) AS tv
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT event_type, min(hour_id) AS lo, max(hour_id) AS hi
             FROM c GROUP BY 1),
    grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS hour_id FROM span)
    SELECT g.event_type, g.hour_id, coalesce(c.n, 0) AS n_events,
           coalesce(c.tv, 0.0) AS total_value, c.n IS NULL AS is_filled
    FROM grid g LEFT JOIN c USING (event_type, hour_id)
    """,
    tags=("T1", "fill", "timeseries"),
    doc="Gap-filled hourly series (ClickHouse ORDER BY ... WITH FILL "
    "analog): per event type, every hour between its first and last "
    "activity, zero-filled where no events landed, with an is_filled "
    "marker. The grid is time-bounded (hours in the span), never "
    "data-bounded — at 100 TB the explode after the per-(type,hour) "
    "aggregation is the same few thousand rows.",
)
def gap_filled_hourly_counts(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    hour_id = F.expr("ts_us div 3600000000")
    counts = ev.groupBy("event_type", hour_id.alias("hour_id")).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv")
    )
    grid = (
        counts.groupBy("event_type")
        .agg(F.min("hour_id").alias("lo"), F.max("hour_id").alias("hi"))
        .select(
            "event_type", F.explode(F.sequence("lo", "hi")).alias("hour_id")
        )
    )
    return grid.join(counts, ["event_type", "hour_id"], "left").select(
        "event_type",
        "hour_id",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("tv", F.lit(0.0)).alias("total_value"),
        F.col("n").isNull().alias("is_filled"),
    )


@register(
    "daily_event_type_pivot",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
           COUNT(*) AS total
    FROM events GROUP BY 1
    """,
    tags=("A2", "pivot"),
    doc="True PIVOT (days x event-type columns) via Spark's pivot() with "
    "explicit values — one pass, no per-column scans; unseen types "
    "zero-fill. The wide-table shape dashboards consume.",
)
def daily_event_type_pivot(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    plural = {
        "click": "clicks",
        "view": "views",
        "purchase": "purchases",
        "signup": "signups",
        "error": "errors",
    }
    wide = (
        ev.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )
    for ty in types:
        wide = wide.withColumnRenamed(ty, plural[ty])
    total = F.col("clicks")
    for ty in types[1:]:
        total = total + F.col(plural[ty])
    return wide.withColumn("total", total.cast("long"))


@register(
    "value_histogram",
    """
    WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
    b AS (
      SELECT least(CAST(floor(((value - lo) * 20) / (hi - lo)) AS BIGINT), 19)
               AS bin,
             value
      FROM events CROSS JOIN s
    )
    SELECT bin, COUNT(*) AS n_events,
           round(min(value), 2) AS bin_min, round(max(value), 2) AS bin_max
    FROM b GROUP BY bin
    """,
    tags=("A2", "histogram"),
    doc="Equi-width 20-bin histogram of the value column (ClickHouse "
    "histogram() analog, deterministic bins instead of adaptive): "
    "global min/max as ONE broadcast 1-row aggregate, bin assignment a "
    "narrow projection with oracle-identical float association, top "
    "bin right-closed via least(). No sums of floats — counts and "
    "exact min/max only.",
)
def value_histogram(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    s = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    b = ev.crossJoin(F.broadcast(s)).select(
        F.least(
            F.floor(
                ((F.col("value") - F.col("lo")) * F.lit(20))
                / (F.col("hi") - F.col("lo"))
            ).cast("long"),
            F.lit(19).cast("long"),
        ).alias("bin"),
        "value",
    )
    return b.groupBy("bin").agg(
        F.count("*").alias("n_events"),
        F.round(F.min("value"), 2).alias("bin_min"),
        F.round(F.max("value"), 2).alias("bin_max"),
    )


# =====================================================================
# TPC-H-style analytics (bench headliners; same operator families at
# shuffle-heavy scale: multi-join, partial agg, broadcast dims, top-K)
# =====================================================================


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A2", "bench"),
    doc="TPC-H Q1 shape: scan-heavy partial+final hash aggregation; the "
    "filter and the 7-column projection must push into the parquet scan.",
)
def q1_pricing_summary(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    tags=("J1", "bench"),
    doc="TPC-H Q3 shape: selective dim filter -> fact joins -> grouped "
    "top-K (TakeOrderedAndProject).",
)
def q3_shipping_priority(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                orders.o_custkey == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_volume",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
    tags=("J1", "bench"),
    doc="TPC-H Q5 shape: star join with two broadcast dims + co-located "
    "fact joins; AQE picks broadcast for every sub-64MB side.",
)
def q5_region_volume(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nr = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nr), supp.s_nationkey == nr.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "top_brands_by_revenue",
    """
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand ORDER BY revenue DESC, p_brand ASC LIMIT 10
    """,
    tags=("J2", "O1", "bench"),
    doc="Broadcast dim join + grouped top-K: the J2 small-dim shape at "
    "fact-table scale.",
)
def top_brands_by_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_brand"))
        .limit(10)
    )


@register(
    "nation_customer_rollup",
    """
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("J2", "A2"),
    doc="Broadcast-chain dim joins + two-level rollup aggregate.",
)
def nation_customer_rollup(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@register(
    "order_priority_counts",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    tags=("J3", "A2", "bench"),
    doc="TPC-H Q4 shape: EXISTS decorrelated to a left-semi join.",
)
def order_priority_counts(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
    tags=("A2", "bench"),
    doc="TPC-H Q6 shape: pure scan + multi-predicate filter + scalar "
    "aggregate — every predicate must push to the parquet reader.",
)
def q6_forecast_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    tags=("J1", "O1", "bench"),
    doc="TPC-H Q10 shape: fact joins + dim broadcast + grouped top-K.",
)
def q10_returned_items(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q12_priority_shipping",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
    tags=("J1", "A2", "bench"),
    doc="TPC-H Q12 shape: join + conditional-sum pivot aggregation.",
)
def q12_priority_shipping(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
    tags=("J2", "F-like", "bench"),
    doc="TPC-H Q14 shape: broadcast dim join + conditional ratio aggregate "
    "+ LIKE prefix predicate.",
)
def q14_promo_share(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_orders",
    """
    SELECT c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(total_qty, 2) AS total_qty
    FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_orderdate,
             sum(l_quantity) AS total_qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_custkey, o_orderkey, o_orderdate
      HAVING sum(l_quantity) > 250
    )
    ORDER BY total_qty DESC, o_orderkey ASC
    LIMIT 20
    """,
    tags=("J1", "A2", "O1", "bench"),
    doc="TPC-H Q18 shape: grouped HAVING filter over a fact join, top-K.",
)
def q18_large_orders(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_orderdate"
        )
        .agg(F.sum("l_quantity").alias("total_qty_raw"))
        .filter(F.col("total_qty_raw") > 250)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("total_qty_raw", 2).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_bracket_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
    tags=("J2", "bench"),
    doc="TPC-H Q19 shape: disjunctive multi-bracket predicate across the "
    "join — tests OR-predicate handling over a broadcast join.",
)
def q19_bracket_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#1") & qty.between(1, 11) & size.between(1, 5))
        | ((brand == "Brand#2") & qty.between(10, 20) & size.between(1, 10))
        | ((brand == "Brand#3") & qty.between(20, 30) & size.between(1, 15))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@register(
    "top_events_per_user",
    """
    SELECT user_id, event_id, round(value, 2) AS value, rnk
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id ASC) AS rnk
      FROM events WHERE event_type = 'purchase'
    )
    WHERE rnk <= 3
    """,
    tags=("window",),
    doc="Ranking window: top-3 purchases per user (row_number over "
    "partition; the engine's window-operator surface beyond the "
    "reference's dedup-only use).",
)
def top_events_per_user(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.select(
            "user_id",
            "event_id",
            "value",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", F.round("value", 2).alias("value"), "rnk")
    )


@register(
    "daily_running_totals",
    """
    SELECT day, daily, round(CAST(running AS DOUBLE), 2) AS running
    FROM (
      SELECT day, daily,
             sum(daily) OVER (ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      FROM (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               COUNT(*) AS daily
        FROM events GROUP BY 1
      )
    )
    """,
    tags=("window",),
    doc="Frame-spec window: cumulative event count by day (running total "
    "with an explicit ROWS frame).",
)
def daily_running_totals(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("daily"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "daily",
        F.round(F.sum("daily").over(w).cast("double"), 2).alias("running"),
    )


@register(
    "region_nation_rollup",
    """
    SELECT COALESCE(r_name, '<all>') AS r_name,
           COALESCE(n_name, '<all>') AS n_name,
           COUNT(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS total_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("A2", "rollup"),
    doc="Hierarchical ROLLUP aggregate (region -> nation -> grand total) — "
    "grouping-sets surface beyond the reference's flat GROUP BYs.",
)
def region_nation_rollup(spark, sf_dir):
    supp = t(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("<all>")).alias("r_name"),
            F.coalesce("n_name", F.lit("<all>")).alias("n_name"),
            "n_suppliers",
            "total_acctbal",
        )
    )


@register(
    "order_status_cube",
    """
    SELECT COALESCE(o_orderpriority, '<all>') AS priority,
           COALESCE(o_orderstatus, '<all>') AS status,
           COUNT(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    tags=("A2", "cube"),
    doc="CUBE grouping-sets aggregate (all four marginal combinations in "
    "one pass — Spark plans a single Expand + hash aggregate, not four "
    "scans); the WITH CUBE analog beyond the reference's flat GROUP BYs.",
)
def order_status_cube(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "platform_union_counts",
    """
    SELECT src, COUNT(*) AS count
    FROM (
      SELECT 'purchase_like' AS src FROM events WHERE event_type IN ('purchase', 'signup')
      UNION ALL
      SELECT 'click_like' AS src FROM events WHERE event_type IN ('click', 'view')
    )
    GROUP BY src
    """,
    tags=("U1",),
    doc="U1 union-of-projections shape (the ten per-type parser outputs "
    "feeding one table, app/parser.js registry): unionByName + count.",
)
def platform_union_counts(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        F.lit("purchase_like").alias("src")
    )
    b = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.lit("click_like").alias("src")
    )
    return a.unionByName(b).groupBy("src").agg(F.count("*").alias("count"))


@register(
    "q15_top_suppliers",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    tags=("J2", "scalar-subquery", "bench"),
    doc="TPC-H Q15 shape: aggregate view + scalar subquery (global max) "
    "as the join filter.",
)
def q15_top_suppliers(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        supp.join(revenue, supp.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q22_idle_customers",
    """
    SELECT substr(c_name, 10, 1) AS cntrycode,
           COUNT(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    GROUP BY 1
    """,
    tags=("J3", "scalar-subquery", "U2", "bench"),
    doc="TPC-H Q22 shape: scalar AVG subquery filter + NOT EXISTS "
    "anti-join (customers with no recent orders) + grouped rollup.",
)
def q22_idle_customers(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 10, 1).alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "q4_late_shipments",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    tags=("semi-join", "bench"),
    doc="TPC-H Q4 shape: correlated EXISTS as a LEFT SEMI join with a "
    "non-equi residual condition (l_shipdate > o_orderdate) on top of the "
    "orderkey equi-key, then a grouped count by priority.",
)
def q4_late_shipments(spark, sf_dir):
    # Semi join: the equi component (orderkey) drives the shuffle; the
    # date comparison rides along as a residual condition — one pass over
    # lineitem, no duplication of matched orders (EXISTS semantics for free).
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    tags=("J2", "outer-join", "bench"),
    doc="TPC-H Q13 shape: LEFT OUTER join with an ON-clause filter on the "
    "right side (kept customers with zero orders count as c_count=0 — the "
    "outer-join/WHERE distinction), then a distribution-of-counts rollup.",
)
def q13_customer_distribution(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q16_supplier_diversity",
    """
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
    tags=("U2", "distinct-agg", "bench"),
    doc="TPC-H Q16 shape: NOT IN as a broadcast LEFT ANTI join against a "
    "tiny exclusion dim, broadcast part join, COUNT(DISTINCT) grouped agg "
    "(Spark plans partial distinct via a two-phase expand/agg).",
)
def q16_supplier_diversity(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#45").select(
        "p_partkey", "p_brand", "p_size"
    )
    bad_supp = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH brand_parts AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
    li AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN brand_parts ON p_partkey = l_partkey
    ),
    th AS (
      SELECT l_partkey AS pk, sum(l_quantity) AS sum_qty, COUNT(*) AS cnt
      FROM li GROUP BY l_partkey
    )
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM li JOIN th ON l_partkey = pk
    WHERE l_quantity * 5 * cnt < sum_qty
    """,
    tags=("scalar-subquery", "bench"),
    doc="TPC-H Q17 shape: correlated scalar AVG subquery (per-part mean "
    "quantity) decorrelated into a grouped agg + broadcast join back. The "
    "threshold qty < 0.2*avg is algebraized to 5*qty*cnt < sum_qty — "
    "exact integer-valued double arithmetic, so Spark and the oracle agree "
    "bit-for-bit regardless of summation order.",
)
def q17_small_quantity_revenue(spark, sf_dir):
    # Restrict lineitem to the brand's parts FIRST (broadcast), so the
    # per-part threshold agg and the probe both run over the reduced set —
    # the classic decorrelation, but with the selective filter pushed below
    # both sides (at 100 TB this is the difference between scanning one
    # brand's slice twice and scanning all of lineitem twice).
    parts = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
    )
    th = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("cnt")
    )
    return (
        li.join(F.broadcast(th), li.l_partkey == th.pk)
        .filter(F.col("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "user_sessions",
    """
    WITH flagged AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY epoch_us(ts)) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    idx AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
      FROM flagged
    )
    SELECT user_id,
           min(ts_us) AS session_start_us,
           max(ts_us) AS session_end_us,
           COUNT(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM idx GROUP BY user_id, sidx
    """,
    tags=("window", "sessions", "streaming"),
    doc="Gap-based sessionization (30-min gap): islands-and-gaps window "
    "pattern; the batch semantics of the applyInPandasWithState streaming "
    "operator. operators.sessions.sessionize.",
)
def user_sessions(spark, sf_dir):
    from ..operators.sessions import sessionize

    return sessionize(t(spark, sf_dir, "events"), gap_minutes=30)


@register(
    "value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
    """,
    tags=("A-approx",),
    doc="Exact linear-interpolation percentiles per group (the "
    "distribution-profiling aggregate; at 100 TB swap in "
    "approx_percentile with the same call shape).",
)
def value_percentiles(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


@register(
    "tumbling_window_counts",
    """
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           strftime(time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type, COUNT(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
    tags=("T1", "streaming", "window"),
    doc="Tumbling 1-hour window(ts) aggregate — the batch-mode check of "
    "the streaming windowed-counts operator (same code path runs under "
    "readStream with a watermark; streaming.windows.windowed_event_counts). "
    "One shuffle keyed by (window, type), map-side partial agg.",
)
def tumbling_window_counts(spark, sf_dir):
    from ..streaming.windows import windowed_event_counts

    return windowed_event_counts(t(spark, sf_dir, "events"), window="1 hour")


@register(
    "sliding_window_counts",
    """
    WITH shifted AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - o.off * INTERVAL 30 MINUTE
               AS win_start,
             event_type, value
      FROM events CROSS JOIN (VALUES (0), (1)) o(off)
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(win_start + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
             AS window_end,
           event_type, COUNT(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM shifted GROUP BY 1, 2, 3
    """,
    tags=("T1", "streaming", "window"),
    doc="Sliding window(ts, 1 hour, 30 min): every event lands in "
    "window/slide = 2 windows (the oracle derives them as two shifted "
    "30-min buckets). Streaming state is O(groups x windows-in-horizon) "
    "under a watermark, not O(history). "
    "streaming.windows.windowed_event_counts.",
)
def sliding_window_counts(spark, sf_dir):
    from ..streaming.windows import windowed_event_counts

    return windowed_event_counts(
        t(spark, sf_dir, "events"), window="1 hour", slide="30 minutes"
    )


def _cms_oracle(top: int = 10) -> str:
    from ..operators.cms import _CMS_SEED0, CMS_DEPTH, CMS_WIDTH
    from ..functions.hashing import md5_hash64_sql

    def pos(key: str) -> str:
        h = md5_hash64_sql(
            f"concat(CAST({_CMS_SEED0} + j.j AS VARCHAR), ':', CAST({key} AS VARCHAR))"
        )
        return f"{h} % {CMS_WIDTH}"

    return f"""
    WITH per_key AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
    cells AS (
      SELECT j.j AS row, {pos('user_id')} AS pos, CAST(SUM(c) AS BIGINT) AS cell_count
      FROM per_key CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) AS j(j)
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT user_id, c AS exact_count FROM per_key
      ORDER BY c DESC, user_id ASC LIMIT {top}
    ),
    probecells AS (
      SELECT p.user_id, p.exact_count, j.j AS row, {pos('p.user_id')} AS pos
      FROM probes p CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) AS j(j)
    )
    SELECT pc.user_id, pc.exact_count,
           MIN(cl.cell_count) AS cms_estimate,
           MIN(cl.cell_count) - pc.exact_count AS overestimate
    FROM probecells pc JOIN cells cl USING (row, pos)
    GROUP BY 1, 2
    """


@register(
    "heavy_hitters_cms",
    _cms_oracle(),
    tags=("A-approx", "sketch"),
    doc="Count-min sketch (depth 4 x width 512, md5 portable-hash rows) "
    "probed at the top-10 exact heavy hitters: (key, exact, estimate, "
    "overestimate). estimate >= exact always — the measured collision "
    "error is the width/depth tuning signal (same audit pattern as "
    "ann_recall_report). Built from pre-aggregated per-key counts: one "
    "uniform keyed shuffle with map-side combine, then an O(depth*width) "
    "grid that broadcasts/merges cellwise. operators.cms.",
)
def heavy_hitters_cms(spark, sf_dir):
    from ..operators.cms import heavy_hitter_audit

    return heavy_hitter_audit(t(spark, sf_dir, "events"), "user_id")


def _cms_rollup_oracle(top: int = 3) -> str:
    from ..functions.hashing import md5_hash64_sql
    from ..operators.cms import _CMS_SEED0, CMS_DEPTH, CMS_WIDTH

    def pos(key: str) -> str:
        h = md5_hash64_sql(
            f"concat(CAST({_CMS_SEED0} + j.j AS VARCHAR), ':', "
            f"CAST({key} AS VARCHAR))"
        )
        return f"{h} % {CMS_WIDTH}"

    return f"""
    WITH base AS (
      SELECT epoch_us(ts) // 86400000000 AS day_id,
             epoch_us(ts) // 3600000000 AS hour_id, user_id
      FROM events
    ),
    per_kh AS (SELECT day_id, hour_id, user_id, COUNT(*) AS c
               FROM base GROUP BY 1, 2, 3),
    hourly AS (
      SELECT day_id, hour_id, j.j AS row, {pos('user_id')} AS pos,
             SUM(c) AS cell_count
      FROM per_kh CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) AS j(j)
      GROUP BY 1, 2, 3, 4
    ),
    day_grid AS (
      SELECT day_id, row, pos, CAST(SUM(cell_count) AS BIGINT)
               AS cell_count
      FROM hourly GROUP BY 1, 2, 3
    ),
    per_kd AS (SELECT day_id, user_id, CAST(SUM(c) AS BIGINT)
                 AS exact_count
               FROM per_kh GROUP BY 1, 2),
    probes AS (
      SELECT day_id, user_id, exact_count
      FROM (SELECT *, row_number() OVER (PARTITION BY day_id
                      ORDER BY exact_count DESC, user_id ASC) AS rn
            FROM per_kd)
      WHERE rn <= {top}
    ),
    probecells AS (
      SELECT p.day_id, p.user_id, p.exact_count, j.j AS row,
             {pos('p.user_id')} AS pos
      FROM probes p CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) AS j(j)
    )
    SELECT pc.day_id, pc.user_id, pc.exact_count,
           MIN(g.cell_count) AS cms_estimate,
           CAST(MIN(g.cell_count) - pc.exact_count AS BIGINT)
             AS overestimate
    FROM probecells pc JOIN day_grid g USING (day_id, row, pos)
    GROUP BY 1, 2, 3
    """


@register(
    "cms_state_rollup",
    _cms_rollup_oracle(),
    tags=("A-approx", "sketch", "rollup", "clickhouse-parity"),
    doc="CMS -State/-Merge rollup, completing the mergeable-state trio "
    "(uniq_state_rollup distincts, quantile_state_rollup percentiles, "
    "this one frequencies): hourly count-min grids (depth 4 x width "
    "512, md5 portable rows) merged CELL-WISE to day grids without "
    "re-reading raw data — CMS merge is linear, so merge == direct "
    "exactly (pytest-pinned) — then each day's top-3 exact heavy "
    "hitters probed against the day grid built ONLY from its hour "
    "states: (day, key, exact, estimate, overestimate >= 0). The "
    "per-day probe ranking rides the range-sliced distributed ranking "
    "(negated-count order), never one serial window task per day. "
    "operators/cms.py.",
)
def cms_state_rollup(spark, sf_dir):
    from ..operators.cms import CMS_DEPTH, cms_pos
    from ..operators.ranking import ranked

    ev = t(spark, sf_dir, "events").select(
        F.expr("ts_us div 86400000000").alias("day_id"),
        F.expr("ts_us div 3600000000").alias("hour_id"),
        "user_id",
    )
    per_kh = ev.groupBy("day_id", "hour_id", "user_id").agg(
        F.count("*").alias("c")
    )
    cells = F.posexplode(
        F.array(*[cms_pos("user_id", j) for j in range(CMS_DEPTH)])
    ).alias("row", "pos")
    # hourly -State grids (sparse-represented)
    hourly = (
        per_kh.select("day_id", "hour_id", "c", cells)
        .groupBy("day_id", "hour_id", "row", "pos")
        .agg(F.sum("c").alias("cell_count"))
    )
    # -Merge: day grid from hour grids only (cell-wise add, exact)
    day_grid = hourly.groupBy("day_id", "row", "pos").agg(
        F.sum("cell_count").cast("long").alias("cell_count")
    )
    # NOT persisted (r12, measured): caching the per-(day, user) counts
    # to spare the probe ranker's quantile job its recompute was a wash
    # at sf0.1 (2.34 s persisted vs 2.24 s recomputed) — the avoided
    # subtree is one scan + two hash aggregations, cheaper than cache
    # materialization here.
    per_kd = per_kh.groupBy("day_id", "user_id").agg(
        F.sum("c").cast("long").alias("exact_count")
    )
    probes = (
        ranked(
            per_kd.withColumn("_neg", -F.col("exact_count")),
            ["day_id"],
            ["_neg", "user_id"],
        )
        .filter(F.col("_rank") <= 3)
        .select("day_id", "user_id", "exact_count")
    )
    pc = probes.select("day_id", "user_id", "exact_count", cells)
    return (
        pc.join(day_grid, ["day_id", "row", "pos"])
        .groupBy("day_id", "user_id", "exact_count")
        .agg(F.min("cell_count").alias("cms_estimate"))
        .select(
            "day_id",
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overestimate"),
        )
    )


@register(
    "approx_distinct_users",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS hll_ok
    FROM events GROUP BY event_type
    """,
    tags=("A-approx", "bench"),
    doc="HLL++ approximate distinct count per group, verified against its "
    "error contract: the query carries the exact distinct count AND a "
    "boolean asserting |approx - exact| <= 3*rsd*exact (rsd=0.05). The "
    "sketch value itself is engine-specific, so the ORACLE checks the "
    "bounded-error CLAIM (exact values + TRUE) — a broken or drifting "
    "sketch flips the boolean and fails the hash. At 100 TB the approx "
    "path is the one to run: one pass, fixed-size sketches, no "
    "distinct-expand shuffle.",
)
def approx_distinct_users(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.05).alias("_approx"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= 0.15 * F.col("exact_users")
        ).alias("hll_ok"),
    )


@register(
    "approx_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.99), 4) AS p99,
           TRUE AS p50_ok, TRUE AS p99_ok
    FROM events GROUP BY event_type
    """,
    tags=("A-approx", "bench"),
    doc="approx_percentile (Greenwald-Khanna rank sketch, accuracy 10000) "
    "verified against its RANK contract next to the exact percentiles: "
    "the sketch guarantees rank error <= n/accuracy and returns an actual "
    "data value, so the booleans assert the approx p50 lies within the "
    "exact [p49, p51] value band and the approx p99 within [p98, max] — "
    "robust at any group size, unlike a value tolerance (a heavy tail "
    "puts the p99-neighborhood order statistics far apart). Same oracle "
    "strategy as approx_distinct_users: the claim is hashed, not the "
    "sketch. The approx form is the 100 TB path (bounded memory per "
    "group vs exact percentile's full sort).",
)
def approx_value_percentiles(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.expr("percentile(value, 0.49)").alias("_e49"),
        F.expr("percentile(value, 0.51)").alias("_e51"),
        F.expr("percentile(value, 0.98)").alias("_e98"),
        F.max("value").alias("_vmax"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("_a50"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("_a99"),
    )
    return agg.select(
        "event_type",
        "p50",
        "p99",
        F.col("_a50").between(F.col("_e49"), F.col("_e51")).alias("p50_ok"),
        F.col("_a99").between(F.col("_e98"), F.col("_vmax")).alias("p99_ok"),
    )


# =====================================================================
# TPC-H join/subquery shapes without a partsupp table: supply cost is
# derived from lineitem (min unit price per (part, supplier)), which
# keeps Q2/Q9/Q11's correlated-subquery and profit shapes intact while
# using only the driver's tables.
# =====================================================================

#: derived partsupp: the minimum observed unit price per (part, supplier).
_PS_SQL = """
    ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(l_extendedprice / l_quantity) AS ps_supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
"""


def _derived_ps(li: DataFrame) -> DataFrame:
    """min unit price per (part, supplier) over a (possibly pre-filtered)
    lineitem slice — the partsupp stand-in. One shuffle on the pair key;
    map-side partial min keeps the exchange at distinct-pair cardinality."""
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))


def table_fingerprint(sf_dir: str, name: str) -> tuple[str, int, int]:
    """(path, mtime_ns, size) of a testdata parquet — memo-key component so
    process-level caches invalidate when a table is regenerated in place
    (the r1->r2 testdata-drift scenario, applied to memos)."""
    import os

    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(p)
        return (p, st.st_mtime_ns, st.st_size)
    except OSError:
        return (p, 0, 0)


#: process-level memo for the full (unfiltered) derived supply table —
#: q2/q9 both need it and within one bench/suite process it was being
#: re-aggregated from a full lineitem scan per query. Keyed on
#: (applicationId, lineitem fingerprint) so a regenerated table or a new
#: session recomputes; clearCache() downgrades it to a recompute, never
#: breaks it. The driver's per-process correctness runs are unaffected
#: (fresh process -> first call computes).
_PS_MEMO: dict[tuple, DataFrame] = {}


def _full_ps_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (
        spark.sparkContext.applicationId,
        table_fingerprint(sf_dir, "lineitem"),
    )
    if key not in _PS_MEMO:
        _PS_MEMO[key] = _derived_ps(
            t(spark, sf_dir, "lineitem").select(
                "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
            )
        ).persist()
    return _PS_MEMO[key]


@register(
    "q2_min_cost_supplier",
    f"""
    WITH {_PS_SQL},
    regional AS (
      SELECT ps_partkey, ps_suppkey, ps_supplycost,
             s_acctbal, s_name, n_name
      FROM ps
      JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    min_cost AS (
      SELECT ps_partkey AS mk, min(ps_supplycost) AS mc
      FROM regional GROUP BY ps_partkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           round(ps_supplycost, 2) AS supply_cost
    FROM regional
    JOIN min_cost ON ps_partkey = mk AND ps_supplycost = mc
    JOIN part ON p_partkey = ps_partkey
    WHERE p_type = 'STANDARD' AND p_size <= 10
    ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
    LIMIT 100
    """,
    tags=("J1", "correlated-scalar", "bench"),
    doc="TPC-H Q2 shape (minimum-cost supplier): the correlated MIN over "
    "the regional supply table decorrelated into a grouped min + equality "
    "join back. Supply cost derives from lineitem (no partsupp table). "
    "Region filter pushed below the per-part min so both sides of the "
    "decorrelation scan only the region's suppliers.",
)
def q2_min_cost_supplier(spark, sf_dir):
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = t(spark, sf_dir, "nation")
    nr = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supp = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # derived supply table restricted to regional suppliers AFTER the pair
    # agg: the restriction is on a GROUP KEY (l_suppkey), so filtering the
    # aggregated (part, supplier) pairs is value-identical to pre-filtering
    # the rows — and lets q2 share the process-memoized full supply table
    # with q9 instead of re-scanning lineitem. The broadcast semi-join
    # keeps the filter map-side; at cluster scale the agg output is
    # distinct-pair cardinality, far below the lineitem row count.
    regional = _full_ps_for(spark, sf_dir).join(
        F.broadcast(supp.select("s_suppkey")),
        F.col("ps_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    min_cost = regional.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_supplycost").alias("mc")
    )
    parts = (
        t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_name")
    )
    return (
        regional.join(
            F.broadcast(min_cost),
            (F.col("ps_partkey") == F.col("mk"))
            & (F.col("ps_supplycost") == F.col("mc")),
        )
        .join(F.broadcast(parts), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("ps_supplycost", 2).alias("supply_cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(100)
    )


@register(
    "q7_nation_trade_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("J1", "bench"),
    doc="TPC-H Q7 shape (bilateral trade volume): 5-way star join with TWO "
    "roles of the nation dim (supplier's and customer's), a symmetric "
    "nation-pair disjunction, and a per-year rollup. All dims broadcast; "
    "the only shuffles are the order/customer fact joins and the final "
    "3-key agg.",
)
def q7_nation_trade_volume(spark, sf_dir):
    nations = t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = nations.select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = nations.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    supp = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .select("c_custkey", "cust_nation")
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("J1", "bench"),
    doc="TPC-H Q8 shape (market share): 7-way join, nation dim in two "
    "roles (customer region membership vs supplier identity), conditional "
    "aggregation ratio per year. Every dim broadcasts; the part filter "
    "prunes lineitem before the orders join.",
)
def q8_market_share(spark, sf_dir):
    parts = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("ank"))
    cust = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("ank"))
        .select("c_custkey")
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    f"""
    WITH {_PS_SQL}
    SELECT n_name AS nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
      SELECT n_name, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - ps_supplycost * l_quantity AS amount
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
    )
    GROUP BY n_name, o_year
    ORDER BY nation ASC, o_year DESC
    """,
    tags=("J1", "bench"),
    doc="TPC-H Q9 shape (product-type profit): profit per line = revenue "
    "minus derived supply cost (min unit price per (part, supplier) from "
    "lineitem — no partsupp table), rolled up by supplier nation and "
    "order year. The part-name filter prunes lineitem before the pair-key "
    "supply join; dims broadcast.",
)
def q9_product_profit(spark, sf_dir):
    parts = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount",
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
    )
    # supply cost must derive from ALL of lineitem (the oracle's ps CTE is
    # unfiltered) — only the probe side is part-pruned. Process-memoized:
    # q2 consumes the same intermediate.
    ps = _full_ps_for(spark, sf_dir)
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@register(
    "q11_important_parts",
    """
    WITH national AS (
      SELECT l_partkey, sum(l_extendedprice) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, round(value, 2) AS value
    FROM national
    WHERE value > (SELECT sum(value) * 0.001 FROM national)
    ORDER BY value DESC, partkey ASC
    """,
    tags=("A2", "scalar-subquery", "bench"),
    doc="TPC-H Q11 shape (important stock): grouped value per part for one "
    "nation's suppliers, HAVING against a scalar fraction of the SAME "
    "aggregate — the group-vs-global comparison. The per-part aggregate "
    "computes once; the global total re-aggregates the (tiny) grouped "
    "result and broadcasts as a scalar, never rescanning lineitem.",
)
def q11_important_parts(spark, sf_dir):
    supp = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    national = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    total = national.agg((F.sum("value") * 0.001).alias("threshold"))
    return (
        national.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("partkey"), F.round("value", 2).alias("value")
        )
        .orderBy(F.desc("value"), F.asc("partkey"))
    )


@register(
    "q20_excess_suppliers",
    """
    SELECT s_name, round(s_acctbal, 2) AS s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_4'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 40
      )
    ORDER BY s_name
    """,
    tags=("semi-join", "bench"),
    doc="TPC-H Q20 shape (nested semi-joins): suppliers of one nation who "
    "shipped > 40 units of some 'small%' part in 1997. Inner part filter "
    "broadcasts into lineitem, pair-key agg with an integer HAVING, then "
    "a LEFT SEMI into the supplier dim — three nesting levels, no row "
    "duplication anywhere.",
)
def q20_excess_suppliers(spark, sf_dir):
    parts = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    qualified = (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 40)  # integer-valued doubles: engine-exact
        .select("l_suppkey")
    )
    return (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


@register(
    "q21_sole_blame_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_6'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 100
    """,
    tags=("semi-join", "anti-join", "bench"),
    doc="TPC-H Q21 shape (sole-blame supplier): EXISTS + NOT EXISTS over "
    "the same self-joined fact — the supplier is the ONLY one on a "
    "multi-supplier finished order whose lines were returned. The "
    "correlated subqueries plan as a LEFT SEMI then LEFT ANTI on the "
    "order key with the supplier-inequality residual riding the join; "
    "no exists/not-exists materialization, no row duplication. (The "
    "reference schema lacks commit/receipt dates, so 'late' is recast "
    "as 'returned' — the plan shape is Q21's.)",
)
def q21_sole_blame_suppliers(spark, sf_dir):
    n6_supp = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_6")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    orders_f = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = t(spark, sf_dir, "lineitem")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(F.broadcast(n6_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("lo2"), F.col("l_suppkey").alias("ls2")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("lo3"), F.col("l_suppkey").alias("ls3"))
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("lo2")) & (F.col("ls2") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("lo3")) & (F.col("ls3") != F.col("l_suppkey")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


# =====================================================================
# Temporal joins (additive engine surface: as-of / band joins and
# time-RANGE frames Spark lacks or a warehouse user expects — see
# operators/temporal.py for the scale argument)
# =====================================================================


@register(
    "purchase_attribution",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    j AS (
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
             c.event_id AS last_click_id, epoch_us(c.ts) AS click_ts_us,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC NULLS LAST,
                                         c.event_id DESC) AS rn
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
    )
    SELECT event_id, user_id, last_click_id,
           (ts_us - click_ts_us) // 1000000 AS lag_seconds
    FROM j WHERE rn = 1
    """,
    tags=("temporal", "asof"),
    doc="As-of attribution: each purchase matched to the same user's "
    "latest click at or before it (ties pinned to the max click id). "
    "Spark side is the single-shuffle union+window asof_join "
    "(operators.temporal) — the oracle deliberately uses the expand+rank "
    "formulation so the two engines cross-check different algorithms.",
)
def purchase_attribution(spark, sf_dir):
    from ..operators import temporal as TMP

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", F.col("event_id").alias("last_click_id")
    )
    j = TMP.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        probe_time="ts_us",
        ref_time="ts_us",
        payload=["last_click_id"],
        tiebreak="last_click_id",
    )
    return j.select(
        "event_id",
        "user_id",
        "last_click_id",
        F.expr(f"(ts_us - {TMP.ASOF_TIME}) div 1000000").alias("lag_seconds"),
    )


@register(
    "concurrent_event_counts",
    """
    SELECT a.event_id, count(b.event_id) AS n_concurrent
    FROM events a LEFT JOIN events b
      ON b.event_id <> a.event_id
     AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN -60000000 AND 60000000
    GROUP BY 1
    """,
    tags=("temporal", "range-join"),
    doc="Keyless band self-join: per event, how many other events (any "
    "user) landed within +-60s. Spark expresses it as a bucketed range "
    "join (operators.temporal.range_join_bucketed: minute cells + exact "
    "band refine — a real equi-join, never a nested-loop); the oracle is "
    "DuckDB's native inequality join. Cost is pair-volume-bound (the "
    "operator RETURNS pairs, and band pairs grow with timeline density "
    "— the scale probe's ~4x-on-3x is the output, not the plan); when "
    "only counts are needed use concurrent_event_counts_linear.",
)
def concurrent_event_counts(spark, sf_dir):
    from ..operators import temporal as TMP

    ev = t(spark, sf_dir, "events").select("event_id", "ts_us")
    pairs = TMP.range_join_bucketed(
        ev,
        ev.select(F.col("event_id").alias("other_id"), F.col("ts_us").alias("ots")),
        probe_time="ts_us",
        ref_time="ots",
        lower=-60_000_000,
        upper=60_000_000,
        payload=["other_id"],
    )
    counts = (
        pairs.filter(F.col("other_id") != F.col("event_id"))
        .groupBy("event_id")
        .agg(F.count("*").alias("n_concurrent"))
    )
    return ev.select("event_id").join(counts, "event_id", "left").select(
        "event_id", F.coalesce("n_concurrent", F.lit(0).cast("long")).alias("n_concurrent")
    )


@register(
    "concurrent_event_counts_linear",
    """
    SELECT a.event_id, count(b.event_id) AS n_concurrent
    FROM events a LEFT JOIN events b
      ON b.event_id <> a.event_id
     AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN -60000000 AND 60000000
    GROUP BY 1
    """,
    tags=("temporal", "range-join"),
    doc="The count specialization of the keyless +-60s band: identical "
    "result to concurrent_event_counts, but via step-function prefix "
    "differences (operators.temporal.band_count_keyless) — per-timestamp "
    "counts and two boundary query rows per event ride ONE distributed "
    "range-sliced ordered pass, so cost is linear in events even as "
    "timeline density (and therefore pair volume) grows.",
)
def concurrent_event_counts_linear(spark, sf_dir):
    from ..operators import temporal as TMP

    ev = t(spark, sf_dir, "events").select("event_id", "ts_us")
    return TMP.band_count_keyless(
        ev, "ts_us", "event_id", -60_000_000, 60_000_000, out_col="n_concurrent"
    )


@register(
    "user_trailing_7d_value",
    """
    SELECT event_id, user_id,
           round(sum(CAST(round(value * 100) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
                 ) / 100.0, 2) AS trailing_7d_value
    FROM events
    """,
    tags=("temporal", "window"),
    doc="Time-RANGE window frame: per event, the user's trailing-7-day "
    "value sum. Frame bounds are exact epoch-micro offsets and the sum "
    "runs over integer cents, so the sliding aggregation is "
    "order-insensitive and bit-identical across engines.",
)
def user_trailing_7d_value(spark, sf_dir):
    # NOT a bounded sliding RANGE frame: Spark re-evaluates that frame in
    # full per row (no retraction), which goes quadratic on any user whose
    # events cluster inside one window span — the skew probe measured
    # 241x wall on a mega-user. The linear plan is the prefix-sum
    # difference in operators.temporal.trailing_range_sum (incremental
    # cumsum minus an as-of lookup at t - 7d), value-identical.
    from ..operators.temporal import trailing_range_sum

    ev = t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_id", "user_id", "ts_us", cents.alias("_cents"))
    out = trailing_range_sum(
        base, "user_id", "ts_us", "_cents", 7 * 86400 * 1_000_000, out_col="_tr"
    )
    return out.select(
        "event_id",
        "user_id",
        F.round(F.col("_tr") / 100.0, 2).alias("trailing_7d_value"),
    )


@register(
    "event_rank_profile",
    """
    SELECT event_id, event_type,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    tags=("window",),
    doc="Distribution-rank battery (percent_rank / cume_dist / ntile) "
    "per event type. NOT a naive Window.partitionBy(event_type) — that "
    "serializes each type's sort onto one task (the scale probe measured "
    "4x growth on 3x data). Re-planned on operators.ranking.rank_profile: "
    "range-partition by (type, value, id), local ranks, tiny prefix-"
    "offset table broadcast back — value-identical (the unique event_id "
    "tiebreak makes ranks closed-form), parallel at any scale.",
)
def event_rank_profile(spark, sf_dir):
    from ..operators.ranking import rank_profile

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return rank_profile(
        ev, ["event_type"], ["value", "event_id"], ntile=4
    ).select("event_id", "event_type", "pr", "cd", "quartile")


# =====================================================================
# Graph analytics (in-engine analog of the reference's Neo4j/TuGraph
# export+query split — operators/graph_analytics.py)
# =====================================================================

#: co-activity pair list: users touching the same item (props.k) in the
#: same hour — the sparse projection used by the triangle/degree queries
_COACTIVITY_SQL = """
    ek AS (
      SELECT DISTINCT user_id AS u,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             date_trunc('hour', ts) AS h
      FROM events
    ),
    co AS (
      SELECT DISTINCT a.u AS id_a, b.u AS id_b
      FROM ek a JOIN ek b ON a.k = b.k AND a.h = b.h AND a.u < b.u
    )"""


def _coactivity_pairs(ev: DataFrame) -> DataFrame:
    ek = ev.select(
        F.col("user_id").alias("u"),
        # BIGINT, not INT: GH-scale item/repo ids exceed 2^31 (the same
        # width rule the ingest schema follows); an int32 cast here threw
        # CAST_INVALID_INPUT the moment the scale probe's key domain
        # crossed 2.1e9
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.date_trunc("hour", "ts").alias("h"),
    ).distinct()
    return (
        ek.select(F.col("u").alias("id_a"), "k", "h")
        .join(ek.select(F.col("u").alias("id_b"), "k", "h"), ["k", "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


#: materialized co-activity edge list per (application, sf_dir): three
#: graph queries consume the same pair graph, and the reference's own
#: design exports the graph once (to Neo4j/TuGraph) before querying it —
#: the in-engine analog is persisting the edge frame, not rebuilding the
#: distinct+self-join pipeline per query. clearCache() downgrades it to a
#: plain recompute, never breaks it.
_COACT_EDGES: dict[tuple, DataFrame] = {}


def _coactivity_pairs_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (
        spark.sparkContext.applicationId,
        table_fingerprint(sf_dir, "events"),
    )
    if key not in _COACT_EDGES:
        _COACT_EDGES[key] = _coactivity_pairs(t(spark, sf_dir, "events")).persist()
    return _COACT_EDGES[key]


def _pagerank_oracle(iters: int = 3) -> str:
    from ..operators.graph_analytics import PR_SCALE

    parts = [
        f"""
    WITH b AS (
      SELECT DISTINCT user_id AS u,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    ),
    e AS (
      SELECT u AS src, 10000 + k AS dst FROM b
      UNION ALL
      SELECT 10000 + k AS src, u AS dst FROM b
    ),
    deg AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
    r0 AS (SELECT src AS id, CAST({PR_SCALE} AS BIGINT) AS r FROM deg)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    r{i} AS (
      SELECT e.dst AS id,
             CAST(({15 * PR_SCALE} + 85 * CAST(sum(p.r // d.od) AS BIGINT)) // 100
                  AS BIGINT) AS r
      FROM e JOIN deg d ON e.src = d.src JOIN r{i - 1} p ON p.id = e.src
      GROUP BY e.dst
    )"""
        )
    parts.append(
        f"""
    SELECT CASE WHEN id >= 10000 THEN 'item' ELSE 'user' END AS node_type,
           id, r AS rank_fp, round(r / {PR_SCALE}.0, 6) AS rank
    FROM r{iters}"""
    )
    return "".join(parts)


@register(
    "pagerank_user_item",
    _pagerank_oracle(3),
    tags=("graph", "iterative"),
    doc="Fixed-point integer PageRank (3 damped iterations, 1.0 == 1e9) "
    "on the undirected user<->item bipartite graph from events.props.k. "
    "All-integer update rule makes the ranks bit-identical across "
    "engines and shuffle orders — float PageRank cannot be "
    "hash-verified. operators.graph_analytics.pagerank_fixed_point; "
    "oracle is the same recurrence unrolled as SQL CTEs.",
)
def pagerank_user_item(spark, sf_dir):
    from ..operators import graph_analytics as GA

    ev = t(spark, sf_dir, "events")
    b = ev.select(
        F.col("user_id").alias("u"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    ).distinct()
    e = GA.undirected(
        b.select(F.col("u").alias("id_a"), (F.col("k") + 10000).alias("id_b"))
    )
    pr = GA.pagerank_fixed_point(e, iters=3)
    return pr.select(
        F.when(F.col("id") >= 10000, F.lit("item")).otherwise(F.lit("user")).alias(
            "node_type"
        ),
        "id",
        F.col("r").alias("rank_fp"),
        F.round(F.col("r") / F.lit(float(GA.PR_SCALE)), 6).alias("rank"),
    )


@register(
    "coactivity_triangles",
    f"""
    WITH {_COACTIVITY_SQL.lstrip()},
    nodes AS (
      SELECT count(DISTINCT id) AS n_nodes
      FROM (SELECT id_a AS id FROM co UNION ALL SELECT id_b FROM co)
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM co e1
      JOIN co e2 ON e2.id_a = e1.id_b
      JOIN co e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    )
    SELECT nodes.n_nodes, (SELECT count(*) FROM co) AS n_edges,
           tri.n_triangles
    FROM nodes, tri
    """,
    tags=("graph",),
    doc="Triangle census of the user co-activity graph (same item, same "
    "hour). Spark counts on (degree, id)-oriented edges — wedge fan-out "
    "capped at O(sqrt(E)) — while the oracle uses the naive ordered "
    "triple join; equal counts cross-check the orientation argument. "
    "operators.graph_analytics.triangle_summary.",
)
def coactivity_triangles(spark, sf_dir):
    from ..operators import graph_analytics as GA

    return GA.triangle_summary(_coactivity_pairs_for(spark, sf_dir))


@register(
    "coactivity_clustering",
    f"""
    WITH {_COACTIVITY_SQL.lstrip()},
    tr AS (
      SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      FROM co e1
      JOIN co e2 ON e2.id_a = e1.id_b
      JOIN co e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    tc AS (
      SELECT id, count(*) AS n_triangles
      FROM (SELECT a AS id FROM tr UNION ALL SELECT b FROM tr
            UNION ALL SELECT c FROM tr)
      GROUP BY 1
    ),
    d AS (
      SELECT id, count(*) AS degree
      FROM (SELECT id_a AS id FROM co UNION ALL SELECT id_b FROM co)
      GROUP BY 1
    )
    SELECT d.id, d.degree,
           COALESCE(tc.n_triangles, 0) AS n_triangles,
           round(2.0 * COALESCE(tc.n_triangles, 0)
                 / (d.degree * (d.degree - 1)), 6) AS clustering_coeff
    FROM d LEFT JOIN tc USING (id)
    WHERE d.degree >= 2
    """,
    tags=("graph",),
    doc="Local clustering coefficient per user (2T / d(d-1), degree>=2): "
    "how clique-like each user's co-activity neighborhood is. Triangles "
    "exploded to their three vertices and counted per node — triangle "
    "volume, not corpus volume. "
    "operators.graph_analytics.local_clustering.",
)
def coactivity_clustering(spark, sf_dir):
    from ..operators import graph_analytics as GA

    return GA.local_clustering(_coactivity_pairs_for(spark, sf_dir))


@register(
    "coactivity_degrees",
    f"""
    WITH {_COACTIVITY_SQL.lstrip()},
    d AS (
      SELECT id, count(*) AS degree
      FROM (SELECT id_a AS id FROM co UNION ALL SELECT id_b AS id FROM co)
      GROUP BY 1
    )
    SELECT degree, count(*) AS n_nodes FROM d GROUP BY 1
    """,
    tags=("graph",),
    doc="Degree histogram of the co-activity graph — two map-side "
    "combined aggregations. operators.graph_analytics.degree_distribution.",
)
def coactivity_degrees(spark, sf_dir):
    from ..operators import graph_analytics as GA

    return GA.degree_distribution(_coactivity_pairs_for(spark, sf_dir))


# =====================================================================
# Behavioral analytics: cohorts, funnels, transition matrices
# =====================================================================


@register(
    "retention_cohorts",
    """
    WITH f AS (SELECT user_id, min(epoch_us(ts)) AS first_us
               FROM events GROUP BY user_id),
    c AS (SELECT user_id,
                 CAST(date_trunc('week', make_timestamp(first_us)) AS DATE)
                   AS cw
          FROM f),
    w AS (SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS DATE) AS week
          FROM events)
    SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cw, week) // 7 AS BIGINT)
             AS week_offset,
           count(DISTINCT user_id) AS n_users
    FROM w JOIN c USING (user_id)
    GROUP BY cw, week_offset
    """,
    tags=("A2", "cohort"),
    doc="Weekly retention cohorts: users grouped by the Monday-start week "
    "of their first event; n distinct users active per (cohort, offset) "
    "cell. Two aggregations sharing the user_id shuffle key — the cohort "
    "dim joins back on the same partitioning, no extra exchange shape at "
    "scale.",
)
def retention_cohorts(spark, sf_dir):
    # single scan: distinct (user, week), cohort week = min week per user
    # (the week of the first event IS the minimum week) via a window over
    # the same user_id partitioning the distinct just shuffled on — no
    # join, no second scan of the fact table
    ev = t(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    cw = F.min("week").over(Window.partitionBy("user_id"))
    return (
        wk.withColumn("cw", cw)
        .groupBy(
            "cw", F.expr("datediff(week, cw) div 7").cast("long").alias("week_offset")
        )
        # rows are distinct (user, week), so count(*) == distinct users
        .agg(F.count("*").alias("n_users"))
        .select(
            # dates render as yyyy-MM-dd strings in output columns (repo
            # convention: engine-portable, hash-stable)
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
    )


def _funnel_chain_scan(
    spark, sf_dir, inclusive: bool = False, emit_min_signup: bool = False
):
    """Loader shim over :func:`operators.sessions.funnel_chain_scan` —
    the shared RANGE-SLICED signup->click->purchase chain scan now lives
    with the windowFunnel mode dispatcher (operators/sessions.py), so a
    library caller gets the same machinery on any events DataFrame; the
    registry call sites keep this (spark, sf_dir) signature."""
    from ..operators.sessions import funnel_chain_scan

    return funnel_chain_scan(
        t(spark, sf_dir, "events").select("user_id", "event_type", "ts_us"),
        inclusive=inclusive,
        emit_min_signup=emit_min_signup,
    )


@register(
    "event_funnel_conversion",
    """
    WITH su AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
                FROM events WHERE event_type = 'signup' GROUP BY user_id),
    ck AS (SELECT e.user_id, min(epoch_us(e.ts)) AS click_us
           FROM events e JOIN su USING (user_id)
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > su.signup_us
           GROUP BY e.user_id),
    pu AS (SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us
           FROM events e JOIN ck USING (user_id)
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > ck.click_us
           GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM su) AS n_signup,
           (SELECT count(*) FROM ck) AS n_click_after,
           (SELECT count(*) FROM pu) AS n_purchase_after
    """,
    tags=("J1", "funnel"),
    doc="Strict-order funnel: users who signed up, then clicked AFTER the "
    "first signup, then purchased AFTER that first click. Existence "
    "form: a click qualifies iff SOME signup strictly precedes it "
    "(min-signup < click is the same condition), and a purchase "
    "qualifies iff some qualified click strictly precedes it — exactly "
    "the windowless case of the shared RANGE-SLICED chain scan "
    "(_funnel_chain_scan), so a mega-user never serializes one task.",
)
def event_funnel_conversion(spark, sf_dir):
    g = _funnel_chain_scan(spark, sf_dir)
    per_user = g.groupBy("user_id").agg(
        F.max((F.col("_k") == 0).cast("int")).alias("_l1"),
        F.max(
            ((F.col("_k") == -1) & F.col("_gS").isNotNull()).cast("int")
        ).alias("_l2"),
        F.max(
            ((F.col("_k") == -2) & F.col("_gC").isNotNull()).cast("int")
        ).alias("_l3"),
    )
    return per_user.agg(
        F.sum("_l1").alias("n_signup"),
        F.sum("_l2").alias("n_click_after"),
        F.sum("_l3").alias("n_purchase_after"),
    )


@register(
    "stream_funnel_cascade_fold",
    """
    WITH su AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
                FROM events WHERE event_type = 'signup' GROUP BY user_id),
    ck AS (SELECT e.user_id, min(epoch_us(e.ts)) AS click_us
           FROM events e JOIN su USING (user_id)
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > su.signup_us
           GROUP BY e.user_id),
    pu AS (SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us
           FROM events e JOIN ck USING (user_id)
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > ck.click_us
           GROUP BY e.user_id)
    SELECT su.user_id, su.signup_us, ck.click_us, pu.purchase_us
    FROM su LEFT JOIN ck USING (user_id) LEFT JOIN pu USING (user_id)
    """,
    tags=("funnel", "streaming-twin", "arrow-kernel"),
    doc="The STREAMING strict-order funnel's decision core surfaced to "
    "the driver (third of the r10 stretch-#8 folds): "
    "streaming/funnel_stream._cascade — the earliest-valid "
    "(signup, click, purchase) cascade over PRUNED stage buffers "
    "(clicks at-or-before the current signup plus the current best; "
    "purchases at-or-before the current best click plus the current "
    "best — exactly the entries that could still become the answer as "
    "earlier stage events arrive). r12: the cascade only changes when "
    "a stage's best can change, so the no-op spans are batched — "
    "numpy segment-mins build each user's END-OF-STREAM pruned "
    "buffers in one vectorized pass, and ONE _cascade call per user "
    "over that pruned state emits the row the driver hash-verifies "
    "(the per-event re-cascade invariant — every prefix, every "
    "arrival order — is fuzz-pinned in tests/test_funnel_stream.py "
    "instead of re-proved per event in the hot loop). One row per "
    "signup user, nullable later stages; oracle = the three cascading "
    "conditional mins as LEFT joins. One shuffle on a user hash "
    "bucket.",
)
def stream_funnel_cascade_fold(spark, sf_dir):
    import pandas as pd

    from ..streaming.funnel_stream import _cascade

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts_us").cast("long").alias("ts_us"),
        "event_id",
        "event_type",
    ).filter(F.col("event_type").isin("signup", "click", "purchase"))
    n_buckets = spark.sparkContext.defaultParallelism * 4
    st = ev.withColumn("_b", F.pmod(F.hash("user_id"), F.lit(n_buckets)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["user_id", "ts_us", "event_id"], kind="mergesort"
        )
        uid = pdf["user_id"].to_numpy()
        tus = pdf["ts_us"].to_numpy(dtype="int64")
        et = pdf["event_type"].to_numpy()
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        if starts.size == 0:
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "signup_us": pd.Series(dtype="int64"),
                    "click_us": pd.Series(dtype="int64"),
                    "purchase_us": pd.Series(dtype="int64"),
                }
            )
        seg = np.cumsum(np.r_[True, uid[1:] != uid[:-1]]) - 1
        big = np.iinfo("int64").max

        def seg_min(mask):
            vals = np.where(mask, tus, big)
            out = np.minimum.reduceat(vals, starts)
            return out  # `big` where the segment has no masked entry

        su = seg_min(et == "signup")
        su_row = su[seg]
        ck = seg_min((et == "click") & (tus > su_row))
        ck_row = ck[seg]
        pu = seg_min((et == "purchase") & (tus > ck_row))
        # end-of-stream pruned buffers, exactly the streaming fold's
        # state: clicks <= su plus the best click; purchases <= ck plus
        # the best purchase — vectorized masks, then ONE cascade per
        # user over the (tiny) pruned slices re-derives the answer
        # through the streaming core, so the emitted values flow
        # through _cascade, not the numpy shortcut
        ck_mask = (et == "click") & (tus <= su_row)
        pu_mask = (et == "purchase") & (tus <= ck_row)
        out: dict[str, list] = {
            k: []
            for k in ("user_id", "signup_us", "click_us", "purchase_us")
        }
        for i, (a, b) in enumerate(zip(starts, np.r_[starts[1:], len(uid)])):
            if su[i] == big:
                continue  # no signup: the fold never emits this user
            cks = tus[a:b][ck_mask[a:b]].tolist()
            if ck[i] != big:
                cks.append(int(ck[i]))
            pus = tus[a:b][pu_mask[a:b]].tolist()
            if pu[i] != big:
                pus.append(int(pu[i]))
            c_fin, p_fin, _, _ = _cascade(int(su[i]), cks, pus)
            out["user_id"].append(int(uid[a]))
            out["signup_us"].append(int(su[i]))
            out["click_us"].append(c_fin)
            out["purchase_us"].append(p_fin)
        return pd.DataFrame(out)

    return RK.grouped_kernel(
        st,
        ["_b"],
        kern,
        "user_id long, signup_us long, click_us long, purchase_us long",
    )


@register(
    "stream_lww_dedup_fold",
    """
    WITH s AS (
      SELECT CAST(user_id AS VARCHAR) || '|' || event_type AS key,
             epoch_us(ts) AS v, event_id AS tb
      FROM events
    ),
    r AS (
      SELECT key, v, tb,
             row_number() OVER (PARTITION BY key
                                ORDER BY v DESC, tb DESC) AS rn,
             count(*) OVER (PARTITION BY key) AS n
      FROM s
    )
    SELECT key, CAST(v AS BIGINT) AS version, CAST(tb AS BIGINT) AS tiebreak,
           CAST(n AS BIGINT) AS n_dups
    FROM r WHERE rn = 1
    """,
    tags=("dedup", "streaming-twin", "arrow-kernel"),
    doc="The streaming ReplacingMergeTree(ver) LWW dedup's decision "
    "core surfaced to the driver (r12, the r11 verdict's #6: highest "
    "remaining state-machine risk): streaming/dedup_stream.lww_fold — "
    "the EXACT per-duplicate compare loop the applyInPandasWithState "
    "update runs (keep max (version, tiebreak), count duplicates) — "
    "executed as one batch fold per key over 4 arrival chunks (the "
    "micro-batch shape), so the driver hash-verifies the state "
    "update's compare/count algebra itself against a window-function "
    "oracle. Key = (user_id, event_type), version = event time, "
    "tiebreak = event_id — the ReplacingMergeTree(ver) pick "
    "`dedup_last_write_wins` converges to, on a surface with real "
    "duplicates. One shuffle on a key hash bucket.",
)
def stream_lww_dedup_fold(spark, sf_dir):
    import pandas as pd

    from ..streaming.dedup_stream import lww_fold

    ev = t(spark, sf_dir, "events").select(
        F.concat(
            F.col("user_id").cast("string"), F.lit("|"), F.col("event_type")
        ).alias("key"),
        F.col("ts_us").cast("long").alias("v"),
        F.col("event_id").cast("long").alias("tb"),
    )
    n_buckets = spark.sparkContext.defaultParallelism * 4
    st = ev.withColumn("_b", F.pmod(F.hash("key"), F.lit(n_buckets)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["key", "v", "tb"], kind="mergesort")
        keys = pdf["key"].to_numpy()
        vv = pdf["v"].to_numpy()
        tbv = pdf["tb"].to_numpy()
        starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        ends = np.r_[starts[1:], len(keys)]
        out: dict[str, list] = {
            k: [] for k in ("key", "version", "tiebreak", "n_dups")
        }
        for a, b in zip(starts, ends):
            best = (None, None, 0)
            # 4 positional chunks = the micro-batch arrival shape the
            # stateful update sees; the fold must land identically
            for c in range(4):
                lo = a + (b - a) * c // 4
                hi = a + (b - a) * (c + 1) // 4
                best = lww_fold(best, zip(vv[lo:hi], tbv[lo:hi]))
            out["key"].append(keys[a])
            out["version"].append(best[0])
            out["tiebreak"].append(best[1])
            out["n_dups"].append(best[2])
        return pd.DataFrame(out)

    return RK.grouped_kernel(
        st,
        ["_b"],
        kern, "key string, version long, tiebreak long, n_dups long"
    )


@register(
    "stream_quantile_fold",
    """
    WITH s AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS key,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    c AS (SELECT key, v, count(*) AS cnt FROM s GROUP BY 1, 2),
    cc AS (
      SELECT key, v, cnt,
             SUM(cnt) OVER (PARTITION BY key ORDER BY v) AS cum,
             SUM(cnt) OVER (PARTITION BY key) AS n
      FROM c
    )
    SELECT key, CAST(max(n) AS BIGINT) AS n_events,
           CAST(min(CASE WHEN cum >= (n - 1) // 4 + 1 THEN v END)
                AS BIGINT) AS p25,
           CAST(min(CASE WHEN cum >= (n - 1) // 2 + 1 THEN v END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum >= ((n - 1) * 3) // 4 + 1 THEN v END)
                AS BIGINT) AS p75
    FROM cc GROUP BY 1
    """,
    tags=("sketch", "streaming-twin", "arrow-kernel"),
    doc="The streaming exact-quantile state's decision core surfaced "
    "to the driver (r12, the r11 verdict's #6): "
    "streaming/quantile_stream._merge_hist + _quantile_row — the "
    "EXACT histogram counter-add and quantileExactLow integer pick "
    "(idx = (n-1)*num div den over the sorted cumulative) the "
    "applyInPandasWithState update runs per micro-batch — executed as "
    "one batch fold per day key over 4 positional chunks (the "
    "micro-batch shape: each chunk is merged into the carried "
    "histogram exactly as a micro-batch would be), so the driver "
    "hash-verifies the incremental state algebra against a "
    "window-function oracle. Value domain folded to integer cents "
    "JVM-side; state bounded by the value domain, not the row count. "
    "One shuffle on a key hash bucket.",
)
def stream_quantile_fold(spark, sf_dir):
    import pandas as pd

    from ..streaming.quantile_stream import _merge_hist, _quantile_row

    ev = t(spark, sf_dir, "events").select(
        F.expr("CAST(ts_us div 86400000000 AS STRING)").alias("key"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    n_buckets = spark.sparkContext.defaultParallelism * 4
    st = ev.withColumn("_b", F.pmod(F.hash("key"), F.lit(n_buckets)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["key"], kind="mergesort")
        keys = pdf["key"].to_numpy()
        starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        ends = np.r_[starts[1:], len(keys)]
        frames = []
        for a, b in zip(starts, ends):
            vals, cnts = [], []
            for c in range(4):
                lo = a + (b - a) * c // 4
                hi = a + (b - a) * (c + 1) // 4
                if hi > lo:
                    vals, cnts = _merge_hist(
                        vals, cnts, [pdf.iloc[lo:hi]]
                    )
            frames.append(_quantile_row(keys[a], vals, cnts))
        if not frames:
            return pd.DataFrame(
                {
                    "key": pd.Series(dtype="str"),
                    "n_events": pd.Series(dtype="int64"),
                    "p25": pd.Series(dtype="int64"),
                    "p50": pd.Series(dtype="int64"),
                    "p75": pd.Series(dtype="int64"),
                }
            )
        return pd.concat(frames, ignore_index=True)

    return RK.grouped_kernel(
        st,
        ["_b"],
        kern, "key string, n_events long, p25 long, p50 long, p75 long"
    )


@register(
    "stream_match_events_fold",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      FROM events
    ),
    p AS (
      SELECT user_id, ts_us AS tp, event_id AS ep
      FROM e WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts_us AS tc, event_id AS ec
      FROM e WHERE event_type = 'click'
    ),
    q AS (
      SELECT p.user_id, p.tp, p.ep, c.tc, c.ec,
             row_number() OVER (
               PARTITION BY p.user_id, p.tp, p.ep
               ORDER BY c.tc DESC, c.ec DESC) AS rn
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.tc <= p.tp
       AND p.tp - c.tc < 86400000000
    ),
    first_match AS (
      SELECT user_id, tp, ep, tc, ec,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY tp, ep) AS prn
      FROM q WHERE rn = 1
    )
    SELECT user_id,
           tc AS click_ts_us, ec AS click_event_id,
           tp AS purchase_ts_us, ep AS purchase_event_id
    FROM first_match WHERE prn = 1
    """,
    tags=("funnel", "streaming-twin", "arrow-kernel"),
    doc="The streaming sequenceMatchEvents twin's decision core "
    "surfaced to the driver (r12, completing the program: every "
    "streaming module's decision core now has a driver-green fold): "
    "streaming/sequence_stream.decide_first_match — purchases walked "
    "in ascending order, each decided once the watermark passes it "
    "(match -> the LATEST qualifying click; no qualifying click -> "
    "dropped, since a later click can never qualify), stop at the "
    "first still-inside-watermark purchase — replayed per user over 4 "
    "ascending watermark chunks plus a final everything-decided pass, "
    "with decided-no-match purchases pruned between chunks exactly as "
    "the stateful operator prunes its buffer. Same oracle as "
    "sequence_match_events, so driver-green means the streaming "
    "decision loop, the distributed running-max plan, and a third "
    "engine agree per user. One shuffle on a user hash bucket.",
)
def stream_match_events_fold(spark, sf_dir):
    import pandas as pd

    from ..streaming.sequence_stream import decide_first_match

    bound_us = 86400000000
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts_us").cast("long").alias("ts_us"),
        "event_id",
        "event_type",
    ).filter(F.col("event_type").isin("click", "purchase"))
    n_buckets = spark.sparkContext.defaultParallelism * 4
    st = ev.withColumn("_b", F.pmod(F.hash("user_id"), F.lit(n_buckets)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["user_id", "ts_us", "event_id"], kind="mergesort"
        )
        uid = pdf["user_id"].to_numpy()
        tsv = pdf["ts_us"].to_numpy(dtype=np.int64)
        eidv = pdf["event_id"].to_numpy(dtype=np.int64)
        isp = (pdf["event_type"] == "purchase").to_numpy()
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        ends = np.r_[starts[1:], len(uid)]
        out: dict[str, list] = {
            k: []
            for k in (
                "user_id", "click_ts_us", "click_event_id",
                "purchase_ts_us", "purchase_event_id",
            )
        }
        for a, b in zip(starts, ends):
            t_ = tsv[a:b]
            e_ = eidv[a:b]
            p_ = isp[a:b]
            lo, hi = int(t_[0]), int(t_[-1])
            # chunk boundaries in ms (the watermark's granularity),
            # final pass decides everything (watermark past the end)
            wms_ms = [
                (lo + (hi - lo) * (i + 1) // 4) // 1000 for i in range(3)
            ] + [hi // 1000 + 1]
            match = None
            clicks: list = []
            purchases: list = []
            fed = 0
            for wm_ms in wms_ms:
                # arrivals up to this watermark step
                cut = int(np.searchsorted(t_, wm_ms * 1000, side="left"))
                for i in range(fed, cut if wm_ms != wms_ms[-1] else b - a):
                    (purchases if p_[i] else clicks).append(
                        (int(t_[i]), int(e_[i]))
                    )
                fed = max(fed, cut if wm_ms != wms_ms[-1] else b - a)
                match, purchases = decide_first_match(
                    clicks, purchases, wm_ms, bound_us
                )
                if match is not None:
                    break
            if match is not None:
                tc, ec, tp, ep = match
                out["user_id"].append(int(uid[a]))
                out["click_ts_us"].append(tc)
                out["click_event_id"].append(ec)
                out["purchase_ts_us"].append(tp)
                out["purchase_event_id"].append(ep)
        return pd.DataFrame(out)

    return RK.grouped_kernel(
        st,
        ["_b"],
        kern,
        "user_id long, click_ts_us long, click_event_id long, "
        "purchase_ts_us long, purchase_event_id long",
    )


def _kmv_fold_oracle() -> str:
    from ..functions.hashing import md5_hash64_sql
    from ..streaming.kmv_stream import KMV_STREAM_K as K

    h = md5_hash64_sql("CAST(user_id AS VARCHAR)")
    return f"""
    WITH h AS (SELECT DISTINCT event_type AS key, {h} AS h FROM events),
    r AS (SELECT key, h,
                 row_number() OVER (PARTITION BY key ORDER BY h) AS rn
          FROM h),
    k AS (SELECT key, CAST(count(*) AS BIGINT) AS nk,
                 CAST(coalesce(max(CASE WHEN rn = {K} THEN h END), 0)
                      AS BIGINT) AS hk
          FROM r WHERE rn <= {K} GROUP BY key)
    SELECT key, nk, hk,
           CAST(CASE WHEN nk < {K} THEN nk
                ELSE round({K - 1} * 1152921504606846976.0 / hk)
                END AS BIGINT) AS kmv_estimate
    FROM k
    """


@register(
    "stream_kmv_fold",
    _kmv_fold_oracle(),
    tags=("sketch", "streaming-twin", "arrow-kernel"),
    doc="The streaming KMV distinct sketch's decision core surfaced to "
    "the driver (r12): streaming/kmv_stream.kmv_merge — the EXACT "
    "merge step the applyInPandasWithState update runs per micro-batch "
    "(KMV union = k smallest of the carried k-array union the batch's "
    "hashes), extracted pure and shared — executed as one batch fold "
    "per event_type over 4 positional chunks, then the stream's own "
    "_estimate ((k-1)*2^60/h_k, half-up rounding). Hashes are the "
    "portable JVM-side md5 family, so the driver hash-verifies the "
    "merge algebra AND the estimate bit-for-bit against DuckDB. One "
    "shuffle on a key hash bucket.",
)
def stream_kmv_fold(spark, sf_dir):
    import pandas as pd

    from ..functions.hashing import md5_hash64
    from ..streaming.kmv_stream import KMV_STREAM_K, _estimate, kmv_merge

    ev = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        md5_hash64(F.col("user_id").cast("string")).alias("h"),
    )
    n_buckets = spark.sparkContext.defaultParallelism * 4
    st = ev.withColumn("_b", F.pmod(F.hash("key"), F.lit(n_buckets)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["key"], kind="mergesort")
        keys = pdf["key"].to_numpy()
        hv = pdf["h"].to_numpy()
        starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        ends = np.r_[starts[1:], len(keys)]
        out: dict[str, list] = {
            k: [] for k in ("key", "nk", "hk", "kmv_estimate")
        }
        for a, b in zip(starts, ends):
            merged: list[int] = []
            for c in range(4):
                lo = a + (b - a) * c // 4
                hi = a + (b - a) * (c + 1) // 4
                merged = kmv_merge(merged, hv[lo:hi], KMV_STREAM_K)
            nk, hk, est = _estimate(merged, KMV_STREAM_K)
            out["key"].append(keys[a])
            out["nk"].append(nk)
            out["hk"].append(hk)
            out["kmv_estimate"].append(est)
        return pd.DataFrame(out)

    return RK.grouped_kernel(
        st,
        ["_b"],
        kern, "key string, nk long, hk long, kmv_estimate long"
    )


def _cms_fold_oracle() -> str:
    from ..functions.hashing import seeded_hash64_sql
    from ..operators.cms import CMS_DEPTH, CMS_WIDTH, _CMS_SEED0

    parts = [
        f"""
      SELECT {j} AS row,
             CAST(({seeded_hash64_sql("key", _CMS_SEED0 + j)})
                  % {CMS_WIDTH} AS INT) AS pos,
             c
      FROM k"""
        for j in range(CMS_DEPTH)
    ]
    return (
        """
    WITH k AS (
      SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS c
      FROM events GROUP BY 1
    ),
    cells AS ("""
        + " UNION ALL ".join(parts)
        + """)
    SELECT row, pos, CAST(SUM(c) AS BIGINT) AS cell_count
    FROM cells GROUP BY row, pos
    """
    )


@register(
    "stream_cms_fold",
    _cms_fold_oracle(),
    tags=("sketch", "streaming-twin", "arrow-kernel"),
    doc="The streaming count-min sketch's decision core surfaced to "
    "the driver (r12): streaming/cms_stream's update loop — per sketch "
    "ROW, np.bincount of the micro-batch's JVM-hashed cell positions "
    "added into the carried width-array — executed as one batch fold "
    "per row over 4 positional chunks (each chunk bincounted and "
    "added exactly as a micro-batch would be), emitting the non-zero "
    "(row, pos, cell_count) cells. Positions are the portable md5 "
    "family (operators.cms.cms_pos), so the driver hash-verifies the "
    "grid bit-for-bit against DuckDB. Fan-in = depth groups — the "
    "stream operator's own documented shape (each task's state is one "
    "width-length array); the BATCH grid entries (heavy_hitters_cms, "
    "cms_state_rollup) keep the two-phase exact-then-fanout plan for "
    "the distributed path.",
)
def stream_cms_fold(spark, sf_dir):
    import pandas as pd

    from ..operators.cms import CMS_DEPTH, CMS_WIDTH, cms_pos

    ev = t(spark, sf_dir, "events")
    cells = ev.select(
        F.posexplode(
            F.array(
                *[
                    cms_pos("user_id", j, CMS_WIDTH).cast("int")
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("row", "pos")
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        counts = np.zeros(CMS_WIDTH, dtype=np.int64)
        n = len(pdf)
        pos = pdf["pos"].to_numpy()
        for c in range(4):
            lo = n * c // 4
            hi = n * (c + 1) // 4
            counts += np.bincount(
                pos[lo:hi], minlength=CMS_WIDTH
            ).astype(np.int64)
        nz = np.flatnonzero(counts)
        return pd.DataFrame(
            {
                "row": np.full(len(nz), int(pdf["row"].iloc[0]), dtype=np.int32),
                "pos": nz.astype(np.int32),
                "cell_count": counts[nz],
            }
        )

    return cells.groupBy("row").applyInPandas(
        kern, "row int, pos int, cell_count long"
    )


_FUNNEL_WINDOW_US = 24 * 3600 * 1000000  # 24 h


@register(
    "window_funnel_levels",
    f"""
    WITH s1 AS (SELECT user_id, epoch_us(ts) AS t1 FROM events
                WHERE event_type = 'signup'),
    s2 AS (
      SELECT s1.user_id, s1.t1, min(epoch_us(e.ts)) AS t2
      FROM s1 JOIN events e ON e.user_id = s1.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) > s1.t1
        AND epoch_us(e.ts) <= s1.t1 + {_FUNNEL_WINDOW_US}
      GROUP BY 1, 2
    ),
    s3 AS (
      SELECT s2.user_id, s2.t1, min(epoch_us(e.ts)) AS t3
      FROM s2 JOIN events e ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > s2.t2
        AND epoch_us(e.ts) <= s2.t1 + {_FUNNEL_WINDOW_US}
      GROUP BY 1, 2
    ),
    lvl AS (
      SELECT u.user_id,
             CASE WHEN u.user_id IN (SELECT user_id FROM s3) THEN 3
                  WHEN u.user_id IN (SELECT user_id FROM s2) THEN 2
                  ELSE 1 END AS funnel_level
      FROM (SELECT DISTINCT user_id FROM s1) u
    )
    SELECT funnel_level, count(*) AS n_users FROM lvl GROUP BY 1
    """,
    tags=("J1", "funnel", "clickhouse-parity"),
    doc="ClickHouse windowFunnel(24h) analog, EXACT maximal-level "
    "semantics: a user reaches level k if ANY signup starts a chain "
    "signup -> click -> purchase completing within 24 h of that signup. "
    "Implemented as ONE RANGE-SLICED linear scan (like ClickHouse's own "
    "sorted-scan windowFunnel, AggregateFunctionWindowFunnel.h, but "
    "distributed): the per-user fold state (S = latest signup ts, C = "
    "best chain-start reachable via some click) is associative across "
    "contiguous time slices, so a mega-user's timeline splits over many "
    "tasks — local cascaded window columns per slice plus a tiny "
    "per-(slice, user) carry table composed with one more cascade and "
    "broadcast back. Never the (signups x clicks) pair expansion: O(k) "
    "per user and skew-flat (probe ~1 on a 50%-of-log user). "
    "Equivalence to the oracle's greedy-min-chain formulation: level 3 "
    "iff exists signup t1 < click t2 < purchase t3 <= t1+W (t2 <= t1+W "
    "is implied by t2 < t3 <= t1+W; maximizing t1 over clicks before "
    "each purchase dominates, since a smaller t1 only shrinks the "
    "window end). Strictness is encoded in the sort key, not bounded "
    "RANGE frames: at an equal timestamp purchases (kind -2) sort "
    "before clicks (kind -1) sort before signups (kind 0), so an "
    "inclusive running frame at a row sees exactly the strictly-earlier "
    "chain stages.",
)
def window_funnel_levels(spark, sf_dir):
    from ..operators.sessions import window_funnel

    return window_funnel(
        t(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts_us", "event_id"
        ),
        window_us=_FUNNEL_WINDOW_US,
        mode="default",
    )


@register(
    "event_type_transitions",
    """
    SELECT event_type, next_type, count(*) AS n
    FROM (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS next_type
      FROM events
    )
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    tags=("window",),
    doc="Markov transition counts between consecutive event types per "
    "user (lead window ordered by (ts, event_id) for tie determinism): "
    "one shuffle on user_id, then a map-side-combined count.",
)
def event_type_transitions(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


@register(
    "user_activity_gini",
    """
    WITH pu AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
    h AS (SELECT c, count(*) AS m FROM pu GROUP BY c),
    s AS (
      SELECT c, m,
             CAST(COALESCE(sum(m) OVER (ORDER BY c
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS prev
      FROM h
    ),
    agg AS (
      SELECT CAST(sum(c * (m * prev + (m * (m + 1)) // 2)) AS BIGINT) AS rank_sum,
             CAST(sum(m) AS BIGINT) AS n,
             CAST(sum(c * m) AS BIGINT) AS total
      FROM s
    )
    SELECT n AS n_users, total AS total_events,
           round(2.0 * rank_sum / (CAST(n AS DOUBLE) * total)
                 - (n + 1.0) / n, 6) AS gini
    FROM agg
    """,
    tags=("A2", "audit"),
    doc="Contributor-concentration audit: exact Gini coefficient of "
    "per-user event counts. Scalable shape: aggregate users to an "
    "activity HISTOGRAM (rows = distinct activity levels, thousands at "
    "most), then exact integer rank-block sums over that tiny frame — "
    "the user dimension is never globally sorted. Within an equal-count "
    "tie block the rank-weighted sum is order-independent, so the value "
    "is deterministic on any engine. Final formula is the only float op.",
)
def user_activity_gini(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    h = pu.groupBy("c").agg(F.count("*").alias("m"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    s = h.withColumn(
        "prev", F.coalesce(F.sum("m").over(w), F.lit(0)).cast("long")
    )
    agg = s.agg(
        F.sum(F.expr("c * (m * prev + (m * (m + 1)) div 2)"))
        .cast("long")
        .alias("rank_sum"),
        F.sum("m").cast("long").alias("n"),
        F.sum(F.expr("c * m")).cast("long").alias("total"),
    )
    return agg.select(
        F.col("n").alias("n_users"),
        F.col("total").alias("total_events"),
        F.round(
            F.lit(2.0) * F.col("rank_sum")
            / (F.col("n").cast("double") * F.col("total"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


# =====================================================================
# Mergeable distinct sketch (ClickHouse uniqTheta/uniqCombined analog)
# =====================================================================

_KMV_K = 64
_KMV_BUCKETS = 64
_TWO60 = 1152921504606846976.0  # 2^60, exact as a double


def _kmv_oracle() -> str:
    from ..functions.hashing import md5_hash64_sql

    K = _KMV_K
    bound = 4.0 / (K - 2) ** 0.5
    h = md5_hash64_sql("CAST(user_id AS VARCHAR)")
    return f"""
    WITH h AS (SELECT DISTINCT event_type, {h} AS h FROM events),
    r AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h),
    k AS (SELECT event_type, count(*) AS nk,
                 max(CASE WHEN rn = {K} THEN h END) AS hk
          FROM r WHERE rn <= {K} GROUP BY event_type),
    e AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
          FROM events GROUP BY event_type),
    est AS (
      SELECT e.event_type, e.exact_users,
             CASE WHEN k.nk < {K} THEN CAST(k.nk AS DOUBLE)
                  ELSE round({K - 1} * {_TWO60} / k.hk) END AS est
      FROM e JOIN k USING (event_type)
    )
    SELECT event_type, exact_users,
           CAST(est AS BIGINT) AS kmv_estimate,
           abs(est - exact_users) <= {bound} * exact_users AS within_bound
    FROM est
    """


@register(
    "uniq_kmv_sketch",
    _kmv_oracle(),
    tags=("A-approx", "sketch", "clickhouse-parity"),
    doc="KMV (k-minimum-values) distinct sketch per event type — the "
    "engine-PORTABLE cousin of approx_distinct_users' HLL++: built on "
    "the shared md5 hash family, the k=64 smallest distinct hashes (and "
    "so the estimate (k-1)*2^60/h_k) are bit-identical on any engine, "
    "so the oracle matches the ESTIMATE itself, not just an error "
    "contract (the within_bound column keeps the 4/sqrt(k-2) contract "
    "audit too; fewer than k distinct hashes = exact by construction). "
    "Mergeable: union of sketches = k smallest of the union — the "
    "plan computes exactly that, per-(type, hash-bucket) k-smallest "
    "survivors (streaming row_number windows, bounded memory, never a "
    "collected set) merged to the global k per type; two window "
    "passes whose second input is <= buckets*k rows per type.",
)
def uniq_kmv_sketch(spark, sf_dir):
    from ..functions.hashing import md5_hash64

    K = _KMV_K
    bound = 4.0 / (K - 2) ** 0.5
    ev = t(spark, sf_dir, "events")
    hashed = (
        ev.select(
            "event_type",
            md5_hash64(F.col("user_id").cast("string")).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.lit(1).alias("_one"))
    )
    w_b = Window.partitionBy(
        "event_type", F.pmod("h", F.lit(_KMV_BUCKETS))
    ).orderBy("h")
    survivors = hashed.withColumn("_rn", F.row_number().over(w_b)).filter(
        F.col("_rn") <= K
    )
    w_t = Window.partitionBy("event_type").orderBy("h")
    topk = survivors.withColumn("_rn2", F.row_number().over(w_t)).filter(
        F.col("_rn2") <= K
    )
    sk = topk.groupBy("event_type").agg(
        F.max(F.when(F.col("_rn2") == K, F.col("h"))).alias("_hk"),
        F.count("*").alias("_nk"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    est = F.when(
        F.col("_nk") < K, F.col("_nk").cast("double")
    ).otherwise(F.round(F.lit((K - 1) * _TWO60) / F.col("_hk")))
    return (
        exact.join(F.broadcast(sk), "event_type")
        .withColumn("_est", est)
        .select(
            "event_type",
            "exact_users",
            F.col("_est").cast("long").alias("kmv_estimate"),
            (
                F.abs(F.col("_est") - F.col("exact_users"))
                <= F.lit(bound) * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


@register(
    "retention_conditions",
    """
    SELECT CAST(sum(c1) AS BIGINT) AS n_cond1,
           CAST(sum(c1 * c2) AS BIGINT) AS n_cond1_and_2,
           CAST(sum(c1 * c3) AS BIGINT) AS n_cond1_and_3,
           round(CAST(sum(c1 * c2) AS DOUBLE) / sum(c1), 6) AS r2,
           round(CAST(sum(c1 * c3) AS DOUBLE) / sum(c1), 6) AS r3
    FROM (
      SELECT user_id,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c1,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2,
             max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c3
      FROM events GROUP BY user_id
    )
    """,
    tags=("A2", "funnel", "clickhouse-parity"),
    doc="ClickHouse retention(cond1, ..) analog with EXACT semantics: "
    "per user, r1 = cond1 and r_i = cond1 AND cond_i (unordered — "
    "distinct from the time-windowed retention_cohorts and the strict-"
    "order funnels), summed over users plus conversion ratios. One "
    "map-side-combined per-user flag aggregate, one scalar rollup — "
    "two shuffles, no windows, skew-irrelevant.",
)
def retention_conditions(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "signup").cast("int")).alias("c1"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("c2"),
        F.max((F.col("event_type") == "error").cast("int")).alias("c3"),
    )
    agg = per_user.agg(
        F.sum("c1").cast("long").alias("n_cond1"),
        F.sum(F.col("c1") * F.col("c2")).cast("long").alias("n_cond1_and_2"),
        F.sum(F.col("c1") * F.col("c3")).cast("long").alias("n_cond1_and_3"),
    )
    return agg.select(
        "n_cond1",
        "n_cond1_and_2",
        "n_cond1_and_3",
        F.round(
            F.col("n_cond1_and_2").cast("double") / F.col("n_cond1"), 6
        ).alias("r2"),
        F.round(
            F.col("n_cond1_and_3").cast("double") / F.col("n_cond1"), 6
        ).alias("r3"),
    )


# =====================================================================
# Theta-style sketch set operations (ClickHouse uniqTheta analog)
# =====================================================================


def _kmv_setops_oracle() -> str:
    from ..functions.hashing import md5_hash64_sql

    K = _KMV_K
    h = md5_hash64_sql("CAST(user_id AS VARCHAR)")
    est = (
        f"CASE WHEN nk < {K} THEN CAST(nk AS DOUBLE) "
        f"ELSE round({K - 1} * {_TWO60} / hk) END"
    )
    return f"""
    WITH m AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS ha,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hb
      FROM events WHERE event_type IN ('signup', 'purchase')
      GROUP BY user_id
    ),
    hs AS (SELECT {h} AS h, ha, hb FROM m),
    s AS (
      SELECT DISTINCT 'a' AS s, h FROM hs WHERE ha = 1
      UNION ALL SELECT DISTINCT 'b', h FROM hs WHERE hb = 1
      UNION ALL SELECT DISTINCT 'u', h FROM hs
    ),
    r AS (SELECT s, h, row_number() OVER (PARTITION BY s ORDER BY h) AS rn
          FROM s),
    k AS (SELECT s, count(*) AS nk,
                 max(CASE WHEN rn = {K} THEN h END) AS hk
          FROM r WHERE rn <= {K} GROUP BY s),
    e AS (SELECT s, {est} AS e FROM k),
    p AS (SELECT max(CASE WHEN s = 'a' THEN e END) AS ea,
                 max(CASE WHEN s = 'b' THEN e END) AS eb,
                 max(CASE WHEN s = 'u' THEN e END) AS eu
          FROM e),
    x AS (SELECT CAST(sum(ha) AS BIGINT) AS exact_a,
                 CAST(sum(hb) AS BIGINT) AS exact_b,
                 CAST(count(*) AS BIGINT) AS exact_union,
                 CAST(sum(ha * hb) AS BIGINT) AS exact_intersection
          FROM m)
    SELECT CAST(ea AS BIGINT) AS est_a, CAST(eb AS BIGINT) AS est_b,
           CAST(eu AS BIGINT) AS est_union,
           CAST(greatest(0.0, ea + eb - eu) AS BIGINT) AS est_intersection,
           round(greatest(0.0, ea + eb - eu) / eu, 6) AS jaccard_est,
           exact_a, exact_b, exact_union, exact_intersection
    FROM p, x
    """


@register(
    "kmv_set_operations",
    _kmv_setops_oracle(),
    tags=("A-approx", "sketch", "clickhouse-parity"),
    doc="Theta-sketch-style SET OPERATIONS on KMV distinct sketches "
    "(ClickHouse uniqTheta union/intersect analog): A = signup users, "
    "B = purchase users. Union sketch = k smallest distinct hashes of "
    "A union B (sketch mergeability IS the plan); intersection and "
    "Jaccard by inclusion-exclusion over the three estimates, clamped "
    "at 0. Same portable md5 family as uniq_kmv_sketch, so the oracle "
    "matches the estimates bit-for-bit, with exact counts beside them "
    "as the error audit. One per-user flag aggregate feeds both the "
    "sketches (explode to <=3 set rows/user, k-smallest via bucketed "
    "streaming row_number — bounded memory) and the exact counts.",
)
def kmv_set_operations(spark, sf_dir):
    from ..functions.hashing import md5_hash64

    K = _KMV_K
    ev = t(spark, sf_dir, "events")
    m = (
        ev.filter(F.col("event_type").isin("signup", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "signup").cast("int")).alias("ha"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("hb"),
        )
    )
    from ..operators.cache import checkpoint_in

    # r13: checkpoint over persist (A/B kmv_set_operations 3/3 pairwise,
    # min 0.99 -> 0.59 s)
    m = checkpoint_in(None, m)  # feeds sketches AND exact counts
    hs = m.withColumn("h", md5_hash64(F.col("user_id").cast("string")))
    sets = hs.select(
        F.explode(
            F.concat(
                F.when(F.col("ha") == 1, F.array(F.lit("a"))).otherwise(
                    F.array().cast("array<string>")
                ),
                F.when(F.col("hb") == 1, F.array(F.lit("b"))).otherwise(
                    F.array().cast("array<string>")
                ),
                F.array(F.lit("u")),
            )
        ).alias("s"),
        "h",
    ).dropDuplicates(["s", "h"])
    w_b = Window.partitionBy("s", F.pmod("h", F.lit(_KMV_BUCKETS))).orderBy("h")
    survivors = sets.withColumn("_rn", F.row_number().over(w_b)).filter(
        F.col("_rn") <= K
    )
    w_t = Window.partitionBy("s").orderBy("h")
    topk = survivors.withColumn("_rn2", F.row_number().over(w_t)).filter(
        F.col("_rn2") <= K
    )
    sk = topk.groupBy("s").agg(
        F.max(F.when(F.col("_rn2") == K, F.col("h"))).alias("hk"),
        F.count("*").alias("nk"),
    )
    est = F.when(F.col("nk") < K, F.col("nk").cast("double")).otherwise(
        F.round(F.lit((K - 1) * _TWO60) / F.col("hk"))
    )
    p = (
        sk.withColumn("e", est)
        .groupBy()
        .agg(
            F.max(F.when(F.col("s") == "a", F.col("e"))).alias("ea"),
            F.max(F.when(F.col("s") == "b", F.col("e"))).alias("eb"),
            F.max(F.when(F.col("s") == "u", F.col("e"))).alias("eu"),
        )
    )
    x = m.agg(
        F.sum("ha").cast("long").alias("exact_a"),
        F.sum("hb").cast("long").alias("exact_b"),
        F.count("*").cast("long").alias("exact_union"),
        F.sum(F.col("ha") * F.col("hb")).cast("long").alias("exact_intersection"),
    )
    inter = F.greatest(F.lit(0.0), F.col("ea") + F.col("eb") - F.col("eu"))
    return p.crossJoin(F.broadcast(x)).select(
        F.col("ea").cast("long").alias("est_a"),
        F.col("eb").cast("long").alias("est_b"),
        F.col("eu").cast("long").alias("est_union"),
        inter.cast("long").alias("est_intersection"),
        F.round(inter / F.col("eu"), 6).alias("jaccard_est"),
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersection",
    )


# =====================================================================
# Interval sweep analytics (ClickHouse maxIntersections + coverage)
# =====================================================================

_IV_DUR_US = 300_000_000  # each event spans [ts, ts + 300 s)


@register(
    "max_concurrent_intervals",
    f"""
    WITH d AS (
      SELECT event_type, event_id, epoch_us(ts) AS t, 1 AS delta FROM events
      UNION ALL
      SELECT event_type, event_id, epoch_us(ts) + {_IV_DUR_US}, -1 FROM events
    ),
    p AS (
      SELECT event_type, t,
             sum(delta) OVER (PARTITION BY event_type
                              ORDER BY t, delta, event_id
                              ROWS UNBOUNDED PRECEDING) AS c
      FROM d
    ),
    mx AS (SELECT *, max(c) OVER (PARTITION BY event_type) AS mc FROM p)
    SELECT event_type, CAST(max(c) AS BIGINT) AS max_concurrent,
           CAST(min(CASE WHEN c = mc THEN t END) AS BIGINT) AS first_peak_us
    FROM mx GROUP BY event_type
    """,
    tags=("temporal", "sweep", "clickhouse-parity"),
    doc="ClickHouse maxIntersections / maxIntersectionsPosition analog: "
    "each event spans [ts, ts+300s); per event type, the maximum number "
    "of concurrently open intervals and the earliest instant it is "
    "reached. Classic +1/-1 boundary sweep: 2 rows per event, running "
    "sum ordered by (t, delta, event_id) — the -1 sorts before the +1 "
    "at an equal instant, giving exact half-open semantics. The running "
    "sum rides the range-sliced distributed prefix scan "
    "(operators.ranking.prefix_sum), so one type's timeline never "
    "serializes onto a single task; peak + position come from one "
    "max_by pass (lexicographic (count, -t) argmax = earliest peak).",
)
def max_concurrent_intervals(spark, sf_dir):
    from ..operators.ranking import prefix_sum

    ev = t(spark, sf_dir, "events").select("event_type", "event_id", "ts_us")
    deltas = ev.select(
        "event_type",
        "event_id",
        F.col("ts_us").alias("t"),
        F.lit(1).alias("delta"),
    ).unionByName(
        ev.select(
            "event_type",
            "event_id",
            (F.col("ts_us") + F.lit(_IV_DUR_US)).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    pre = prefix_sum(
        deltas,
        ["event_type"],
        ["t", "delta", "event_id"],
        "delta",
        # boundaries from the single un-doubled scan (the +300s end rows
        # shift the time distribution by less than a slice width)
        bounds_df=ev.select(F.col("ts_us").alias("t")),
    )
    return pre.groupBy("event_type").agg(
        F.max("_prefix").cast("long").alias("max_concurrent"),
        F.max_by(
            F.col("t"),
            F.struct(F.col("_prefix").alias("c"), (-F.col("t")).alias("nt")),
        )
        .cast("long")
        .alias("first_peak_us"),
    )


@register(
    "user_interval_coverage",
    f"""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + {_IV_DUR_US} AS e
      FROM events
    ),
    p AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pe
      FROM iv
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(greatest(0, e - greatest(s, coalesce(pe, s))))
                AS BIGINT) AS covered_us
    FROM p GROUP BY user_id
    """,
    tags=("temporal", "sweep", "gaps-and-islands"),
    doc="Gaps-and-islands interval UNION per user: total micros covered "
    "by the merged [ts, ts+300s) spans (overlaps counted once, half-open "
    "adjacency merges seamlessly). Sweep form: with starts sorted, each "
    "interval adds max(0, end - max(start, prev_max_end)) where "
    "prev_max_end is the running max end over STRICTLY earlier rows — "
    "expressed via the zero-information-query-row idiom on the "
    "range-sliced running max (operators.ranking.running_max_sliced): a "
    "null-valued query row per event sorts (ts, event_id, kind) just "
    "before its data row, so its inclusive running max IS the strict "
    "predecessor max, with no bounded frame and no self-join. Sliced on "
    "the composite (user, ts) key, so a mega-user splits by time while "
    "the carry table stays O(distinct users).",
)
def user_interval_coverage(spark, sf_dir):
    from ..operators.ranking import composite_slice_key, running_max_sliced

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts_us")
    rows = ev.select(
        "user_id",
        "event_id",
        "ts_us",
        F.lit(1).alias("kind"),
        (F.col("ts_us") + F.lit(_IV_DUR_US)).alias("end_v"),
    ).unionByName(
        ev.select(
            "user_id",
            "event_id",
            "ts_us",
            F.lit(0).alias("kind"),
            F.lit(None).cast("long").alias("end_v"),
        )
    )
    swept = running_max_sliced(
        rows,
        ["user_id"],
        ["ts_us", "event_id", "kind"],
        "end_v",
        slice_col=composite_slice_key("user_id", "ts_us"),
        broadcast_offsets=False,
        # boundaries from the single un-doubled scan: data + query rows
        # share (user, ts), so the union has the same distribution
        bounds_df=ev.select("user_id", "ts_us"),
    )
    start = F.col("ts_us")
    end = F.col("ts_us") + F.lit(_IV_DUR_US)
    prev = F.coalesce(F.col("_rmax"), start)
    contrib = F.greatest(F.lit(0).cast("long"), end - F.greatest(start, prev))
    return (
        swept.filter(F.col("kind") == 0)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_intervals"),
            F.sum(contrib).cast("long").alias("covered_us"),
        )
    )


@register(
    "sequence_pair_count",
    """
    WITH d AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS delta,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind
      FROM events WHERE event_type IN ('signup', 'purchase')
    ),
    p AS (
      SELECT user_id, kind,
             sum(delta) OVER (PARTITION BY user_id
                              ORDER BY t, kind, event_id
                              ROWS UNBOUNDED PRECEDING) AS c
      FROM d
    )
    SELECT user_id,
           CAST(sum(1 - kind) AS BIGINT) AS n_signups,
           CAST(sum(kind) AS BIGINT) AS n_purchases,
           CAST(sum(kind) - greatest(0, max(c)) AS BIGINT) AS seq_count,
           (sum(kind) - greatest(0, max(c))) >= 1 AS has_match
    FROM p GROUP BY user_id
    """,
    tags=("temporal", "funnel", "clickhouse-parity"),
    doc="ClickHouse sequenceCount('(?1)(?2)') analog: per user, the "
    "number of NON-OVERLAPPING greedy (signup -> later purchase) chains, "
    "plus the sequenceMatch boolean. Closed form via parenthesis "
    "matching: treating signups as '(' and purchases as ')', matched "
    "pairs = #purchases - max(0, max prefix (#purchases - #signups)) in "
    "(ts, kind, event_id) order (signup sorts before purchase at an "
    "equal instant) - provably the greedy count, so the whole automaton "
    "collapses to ONE range-sliced prefix sum (composite (user, ts) "
    "slices, AQE carry join) + a per-user aggregate. No per-user "
    "collect_list, no join expansion, skew-flat by construction.",
)
def sequence_pair_count(spark, sf_dir):
    from ..operators.ranking import composite_slice_key, prefix_sum

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            "event_id",
            "ts_us",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(-1)
            .alias("delta"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("kind"),
        )
    )
    pre = prefix_sum(
        ev,
        ["user_id"],
        ["ts_us", "kind", "event_id"],
        "delta",
        slice_col=composite_slice_key("user_id", "ts_us"),
        broadcast_offsets=False,
        bounds_df=ev.select("user_id", "ts_us"),
    )
    agg = pre.groupBy("user_id").agg(
        F.sum(F.lit(1) - F.col("kind")).cast("long").alias("n_signups"),
        F.sum("kind").cast("long").alias("n_purchases"),
        (
            F.sum("kind") - F.greatest(F.lit(0).cast("long"), F.max("_prefix"))
        )
        .cast("long")
        .alias("seq_count"),
    )
    return agg.select(
        "user_id",
        "n_signups",
        "n_purchases",
        "seq_count",
        (F.col("seq_count") >= 1).alias("has_match"),
    )


@register(
    "sum_map_by_day",
    """
    WITH g AS (
      SELECT epoch_us(ts) // 86400000000 AS day_id, event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v,
             CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mn,
             CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mx
      FROM events GROUP BY 1, 2
    )
    SELECT day_id,
           array_to_string(list(event_type ORDER BY event_type), '|')
             AS type_keys,
           array_to_string(list(CAST(n AS VARCHAR) ORDER BY event_type), '|')
             AS counts,
           array_to_string(list(CAST(v AS VARCHAR) ORDER BY event_type), '|')
             AS value_cents,
           array_to_string(list(CAST(mn AS VARCHAR) ORDER BY event_type), '|')
             AS min_cents,
           array_to_string(list(CAST(mx AS VARCHAR) ORDER BY event_type), '|')
             AS max_cents
    FROM g GROUP BY day_id
    """,
    tags=("A-array", "clickhouse-parity"),
    doc="ClickHouse sumMap + minMap + maxMap analogs in one pass: per "
    "day, the key-sorted parallel arrays (event_type keys, per-key "
    "event counts, per-key value sums/mins/maxes in exact integer "
    "cents) — the tuple-of-arrays shape the Map combinators return, "
    "serialized pipe-joined for engine-portable hashing (the "
    "user_first_events convention). Two map-side-combined aggregations; "
    "the per-day array build touches only the (days x types) rollup, "
    "never raw rows, so the collect_list is bounded by the type "
    "cardinality regardless of data scale.",
)
def sum_map_by_day(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    g = ev.groupBy(
        F.expr("ts_us div 86400000000").alias("day_id"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("v"),
        F.min(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("mn"),
        F.max(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("mx"),
    )
    arr = F.array_sort(
        F.collect_list(F.struct("event_type", "n", "v", "mn", "mx"))
    )
    return (
        g.groupBy("day_id")
        .agg(arr.alias("_a"))
        .select(
            "day_id",
            F.concat_ws(
                "|", F.transform(F.col("_a"), lambda s: s["event_type"])
            ).alias("type_keys"),
            F.concat_ws(
                "|",
                F.transform(F.col("_a"), lambda s: s["n"].cast("string")),
            ).alias("counts"),
            F.concat_ws(
                "|",
                F.transform(F.col("_a"), lambda s: s["v"].cast("string")),
            ).alias("value_cents"),
            F.concat_ws(
                "|",
                F.transform(F.col("_a"), lambda s: s["mn"].cast("string")),
            ).alias("min_cents"),
            F.concat_ws(
                "|",
                F.transform(F.col("_a"), lambda s: s["mx"].cast("string")),
            ).alias("max_cents"),
        )
    )


_GAP_EDGES_US = (
    1_000_000,  # <= 1 s
    10_000_000,  # <= 10 s
    60_000_000,  # <= 1 min
    600_000_000,  # <= 10 min
    3_600_000_000,  # <= 1 h
    86_400_000_000,  # <= 1 d
)
_GAP_LABELS = ("<=1s", "<=10s", "<=1m", "<=10m", "<=1h", "<=1d", ">1d")


def _gap_bucket_sql(col: str) -> str:
    w = " ".join(
        f"WHEN {col} <= {e} THEN '{lbl}'"
        for e, lbl in zip(_GAP_EDGES_US, _GAP_LABELS)
    )
    return f"CASE {w} ELSE '{_GAP_LABELS[-1]}' END"


@register(
    "inter_event_gap_profile",
    f"""
    WITH g AS (
      SELECT epoch_us(ts)
               - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                         ORDER BY epoch_us(ts), event_id)
               AS gap_us
      FROM events
    ),
    b AS (SELECT {_gap_bucket_sql('gap_us')} AS gap_bucket FROM g
          WHERE gap_us IS NOT NULL)
    SELECT gap_bucket, CAST(count(*) AS BIGINT) AS n_gaps,
           round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6)
             AS frac
    FROM b GROUP BY gap_bucket
    """,
    tags=("temporal", "window", "behavior"),
    doc="Inter-event gap distribution: per user, the time between "
    "consecutive events (ts, event_id order), bucketed on a log-ish "
    "grid — the cadence profile behind session-gap and bot-detection "
    "thresholds. The predecessor timestamp is NOT a lag window per user "
    "(the mega-user serial-task trap): ts is monotone in the scan "
    "order, so prev_ts = running max over strictly earlier rows — the "
    "zero-information-query-row idiom on running_max_sliced, composite "
    "(user, ts) slices. The histogram rollup then touches 7 buckets.",
)
def inter_event_gap_profile(spark, sf_dir):
    from ..operators.ranking import composite_slice_key, running_max_sliced

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts_us")
    rows = ev.select(
        "user_id", "event_id", "ts_us", F.lit(1).alias("kind"),
        F.col("ts_us").alias("val"),
    ).unionByName(
        ev.select(
            "user_id", "event_id", "ts_us", F.lit(0).alias("kind"),
            F.lit(None).cast("long").alias("val"),
        )
    )
    swept = running_max_sliced(
        rows,
        ["user_id"],
        ["ts_us", "event_id", "kind"],
        "val",
        slice_col=composite_slice_key("user_id", "ts_us"),
        broadcast_offsets=False,
        bounds_df=ev.select("user_id", "ts_us"),
    )
    gap = (F.col("ts_us") - F.col("_rmax")).alias("gap_us")
    bucket = F.lit(_GAP_LABELS[-1])
    for e, lbl in reversed(list(zip(_GAP_EDGES_US, _GAP_LABELS))):
        bucket = F.when(F.col("gap_us") <= e, F.lit(lbl)).otherwise(bucket)
    counts = (
        swept.filter((F.col("kind") == 0) & F.col("_rmax").isNotNull())
        .select(gap)
        .select(bucket.alias("gap_bucket"))
        .groupBy("gap_bucket")
        .agg(F.count("*").cast("long").alias("n_gaps"))
    )
    w_all = Window.partitionBy()
    return counts.select(
        "gap_bucket",
        "n_gaps",
        F.round(
            F.col("n_gaps") / F.sum("n_gaps").over(w_all).cast("double"), 6
        ).alias("frac"),
    )


@register(
    "user_delta_sum",
    """
    WITH d AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT)
               - lag(CAST(round(value * 100) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS dv
      FROM events
    )
    SELECT user_id,
           CAST(sum(CASE WHEN dv > 0 THEN dv ELSE 0 END) AS BIGINT)
             AS delta_sum_cents,
           CAST(sum(CASE WHEN dv < 0 THEN -dv ELSE 0 END) AS BIGINT)
             AS delta_drop_cents,
           CAST(count(dv) AS BIGINT) AS n_deltas
    FROM d GROUP BY user_id
    """,
    tags=("temporal", "window", "clickhouse-parity"),
    doc="ClickHouse deltaSum analog (plus the symmetric drop sum): per "
    "user, the sum of positive (and of negative) changes between "
    "consecutive values in (ts, event_id) order, in exact integer "
    "cents. The predecessor VALUE comes from running_last_sliced via "
    "the query-row idiom (a null-valued twin row reads the last "
    "non-null among strictly earlier rows), so one user's history "
    "splits across slices — never a per-user lag window. One sliced "
    "scan + one user-keyed aggregate.",
)
def user_delta_sum(spark, sf_dir):
    from ..operators.ranking import composite_slice_key, running_last_sliced

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts_us",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    rows = ev.select(
        "user_id", "event_id", "ts_us", "cents", F.lit(1).alias("kind"),
        F.col("cents").alias("val"),
    ).unionByName(
        ev.select(
            "user_id", "event_id", "ts_us", "cents",
            F.lit(0).alias("kind"),
            F.lit(None).cast("long").alias("val"),
        )
    )
    swept = running_last_sliced(
        rows,
        ["user_id"],
        ["ts_us", "event_id", "kind"],
        "val",
        slice_col=composite_slice_key("user_id", "ts_us"),
        broadcast_offsets=False,
        bounds_df=ev.select("user_id", "ts_us"),
    )
    dv = F.col("cents") - F.col("_last")
    return (
        swept.filter(F.col("kind") == 0)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(dv > 0, dv).otherwise(F.lit(0).cast("long")))
            .cast("long")
            .alias("delta_sum_cents"),
            F.sum(F.when(dv < 0, -dv).otherwise(F.lit(0).cast("long")))
            .cast("long")
            .alias("delta_drop_cents"),
            F.count(F.col("_last")).cast("long").alias("n_deltas"),
        )
    )


@register(
    "weighted_median_price",
    """
    WITH h AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    c AS (
      SELECT l_returnflag, price_c, w,
             CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price_c
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
      FROM h
    )
    SELECT l_returnflag,
           CAST(min(CASE WHEN 4 * cw >= tw THEN price_c END) AS BIGINT)
             AS p25_cents,
           CAST(min(CASE WHEN 2 * cw >= tw THEN price_c END) AS BIGINT)
             AS weighted_median_cents,
           CAST(min(CASE WHEN 4 * cw >= 3 * tw THEN price_c END)
                AS BIGINT) AS p75_cents,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM c GROUP BY 1
    """,
    tags=("agg", "quantile", "clickhouse-parity"),
    doc="ClickHouse quantilesExactWeighted(0.25, 0.5, 0.75) analog: per "
    "return flag, the exact lower weighted quartiles of extended price "
    "(integer cents) with quantity as the weight, all three crossings "
    "read from ONE cumulative pass. Scale shape is the VALUE-HISTOGRAM "
    "trick, the same reason quantilesExactWeighted scales in "
    "ClickHouse: the first shuffle collapses the fact stream to one "
    "row per (flag, distinct price) with map-side-combined weights, so "
    "the cumulative-weight window that picks the median runs over the "
    "histogram (bounded by the price DOMAIN, data-independent), never "
    "over the raw rows — and the cumulative weight itself rides "
    "ranking.prefix_sum's range-sliced two-pass scan, so even a huge "
    "value domain splits across tasks instead of serializing one "
    "window partition per flag. Totals come back as a broadcast "
    "3-row aggregate, not a second window.",
)
def weighted_median_price(spark, sf_dir):
    from ..operators.ranking import prefix_sum

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    h = li.groupBy("l_returnflag", "price_c").agg(F.sum("qty").alias("w"))
    # slice boundaries priced on the NARROW raw scan: quantiling h would
    # execute the histogram shuffle once for the bounds job and again
    # for the real pass (the bounds only need the order column's
    # distribution, and row-weighted quantiles balance slices at least
    # as well as distinct-value quantiles). r12 note: persisting h and
    # pricing bounds on the cached histogram was TRIED and rejected on
    # interleaved A/B (min 3.7 -> 4.9 s at sf0.1): prices are
    # near-unique, so the histogram is near-data-scale and its cache
    # write costs more than the narrow single-column re-scan it saves.
    pre = prefix_sum(
        h,
        ["l_returnflag"],
        ["price_c"],
        "w",
        bounds_df=li.select("price_c"),
    )
    tot = h.groupBy("l_returnflag").agg(F.sum("w").alias("tw"))
    c = pre.join(F.broadcast(tot), "l_returnflag")
    cw, tw, price = F.col("_prefix"), F.col("tw"), F.col("price_c")
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(4 * cw >= tw, price)).cast("long").alias("p25_cents"),
        F.min(F.when(2 * cw >= tw, price))
        .cast("long")
        .alias("weighted_median_cents"),
        F.min(F.when(4 * cw >= 3 * tw, price))
        .cast("long")
        .alias("p75_cents"),
        F.min("tw").cast("long").alias("total_weight"),
    )


@register(
    "bitmap_audience_overlap",
    """
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM d GROUP BY 1),
    x AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_and
      FROM d a JOIN d b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT ta.event_type AS type_a, tb.event_type AS type_b,
           ta.n AS n_a, tb.n AS n_b,
           CAST(COALESCE(x.n_and, 0) AS BIGINT) AS n_and,
           CAST(ta.n + tb.n - COALESCE(x.n_and, 0) AS BIGINT) AS n_or
    FROM tot ta JOIN tot tb ON ta.event_type < tb.event_type
    LEFT JOIN x ON x.type_a = ta.event_type AND x.type_b = tb.event_type
    """,
    tags=("set", "sketch", "clickhouse-parity"),
    doc="ClickHouse groupBitmapAnd/Or analog: exact audience-overlap "
    "cardinalities (AND/OR of distinct-user sets) for every pair of "
    "event types, computed on CHUNKED PACKED BITMAPS (the roaring-"
    "bitmap container design, RoaringBitmap.h): one distinct shuffle, "
    "then each (type, user_id>>13) group folds its <=8192 members into "
    "a 1 KiB packed sub-bitmap in one Arrow batch; pair cardinalities "
    "are popcounts of sub-bitmap ANDs joined on the bucket id, so no "
    "shuffle ever carries a row wider than 1 KiB and a billion-user "
    "audience is ~122k independent sub-bitmaps, not one giant blob on "
    "one task. OR is derived by inclusion-exclusion, never "
    "materialized. See operators/bitmaps.py.",
)
def bitmap_audience_overlap(spark, sf_dir):
    from ..operators.bitmaps import audience_bitmaps, bitmap_pair_overlap
    from ..operators.cache import rotating_scope

    ev = t(spark, sf_dir, "events")
    bm = audience_bitmaps(ev, "event_type", "user_id")
    # rotating scope: the lazily-returned frame can't unpersist after its
    # own action, so each call releases the previous call's container cache
    return bitmap_pair_overlap(bm, scope=rotating_scope("bitmap_audience_overlap"))


@register(
    "interpolated_hourly_values",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hour_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(hour_id) AS lo, max(hour_id) AS hi FROM c),
    grid AS (SELECT unnest(range(lo, hi + 1)) AS hour_id FROM span),
    g AS (SELECT grid.hour_id, c.cents
          FROM grid LEFT JOIN c USING (hour_id)),
    f AS (
      SELECT hour_id, cents,
             last_value(cents IGNORE NULLS) OVER
               (ORDER BY hour_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
             first_value(cents IGNORE NULLS) OVER
               (ORDER BY hour_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
             last_value(CASE WHEN cents IS NOT NULL THEN hour_id END
                        IGNORE NULLS) OVER
               (ORDER BY hour_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
             first_value(CASE WHEN cents IS NOT NULL THEN hour_id END
                         IGNORE NULLS) OVER
               (ORDER BY hour_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM g
    )
    SELECT hour_id,
           round(CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                      WHEN nh = ph THEN CAST(pc AS DOUBLE)
                      ELSE pc + (nc - pc) * (CAST(hour_id - ph AS DOUBLE)
                                             / CAST(nh - ph AS DOUBLE))
                 END / 100.0, 4) AS value_usd,
           cents IS NULL AS is_filled
    FROM f
    """,
    tags=("fill", "timeseries", "clickhouse-parity"),
    doc="ClickHouse ORDER BY ... WITH FILL INTERPOLATE analog: the "
    "hourly total-value series with every missing hour linearly "
    "interpolated between its nearest present neighbors (span ends are "
    "present by construction, so no extrapolation arm is ever taken). "
    "The pre-aggregation is one map-side-combined shuffle to the "
    "(hour) histogram; the spine and the prev/next sweeps then run "
    "over TIME-BOUNDED rows (a century is <1M hours, independent of "
    "corpus size), which is why the single ordered window here is "
    "safe where a per-user one would not be. Arithmetic is exact "
    "integer cents until the final IEEE-identical lerp + round(4).",
)
def interpolated_hourly_values(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy(F.expr("ts_us div 3600000000").alias("hour_id")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    grid = c.agg(
        F.min("hour_id").alias("lo"), F.max("hour_id").alias("hi")
    ).select(F.explode(F.sequence("lo", "hi")).alias("hour_id"))
    g = grid.join(c, "hour_id", "left")
    wp = Window.orderBy("hour_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.orderBy("hour_id").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    marked = F.when(F.col("cents").isNotNull(), F.col("hour_id"))
    f = g.select(
        "hour_id",
        "cents",
        F.last("cents", ignorenulls=True).over(wp).alias("pc"),
        F.first("cents", ignorenulls=True).over(wn).alias("nc"),
        F.last(marked, ignorenulls=True).over(wp).alias("ph"),
        F.first(marked, ignorenulls=True).over(wn).alias("nh"),
    )
    lerp = F.col("pc") + (F.col("nc") - F.col("pc")) * (
        (F.col("hour_id") - F.col("ph")).cast("double")
        / (F.col("nh") - F.col("ph")).cast("double")
    )
    filled = (
        F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
        .when(F.col("nh") == F.col("ph"), F.col("pc").cast("double"))
        .otherwise(lerp)
    )
    return f.select(
        "hour_id",
        F.round(filled / 100.0, 4).alias("value_usd"),
        F.col("cents").isNull().alias("is_filled"),
    )


@register(
    "bounded_distinct_by_type",
    """
    WITH pu AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(least(COUNT(*), 11) AS BIGINT) AS uniq_upto_10,
           (max(struct_pack(c := cents, u := user_id))).u AS top_user_id,
           (max(struct_pack(c := cents, u := user_id))).c
             AS top_user_cents
    FROM pu GROUP BY 1
    """,
    tags=("agg", "clickhouse-parity"),
    doc="ClickHouse uniqUpTo(10) + topKWeighted(1)/argMax parity in one "
    "pass: per event type, the distinct-user count saturated at 11 "
    "(uniqUpTo's exact contract: counts are exact up to N, N+1 means "
    "'more than N') and the top user by total spend in integer cents "
    "with deterministic ties (lexicographic (cents, user_id) struct "
    "max — ClickHouse's topK tie order is engine-arbitrary; we pin "
    "it). Two map-side-combined shuffles: fact -> (type, user) "
    "partials -> per-type fold; the struct max IS the single-pass "
    "heavy-hitter fold, no sort, no window.",
)
def bounded_distinct_by_type(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    pu = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    agg = pu.groupBy("event_type").agg(
        F.least(F.count("*"), F.lit(11)).cast("long").alias("uniq_upto_10"),
        F.max(F.struct(F.col("cents").alias("c"), F.col("user_id").alias("u"))).alias("m"),
    )
    return agg.select(
        "event_type",
        "uniq_upto_10",
        F.col("m.u").alias("top_user_id"),
        F.col("m.c").alias("top_user_cents"),
    )


@register(
    "ema_user_value",
    """
    WITH b AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS bkt,
             list(round(value * 100) ORDER BY epoch_us(ts), event_id)
               AS vs
      FROM events GROUP BY 1, 2
    ),
    seg AS (
      SELECT user_id, bkt, len(vs) AS m,
             list_reduce(list_prepend(CAST(1.0 AS DOUBLE), vs),
                         (acc, x) -> 0.75 * acc) AS a,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
                         (acc, x) -> 0.25 * x + 0.75 * acc) AS b,
             list_reduce(vs, (acc, x) -> 0.25 * x + 0.75 * acc) AS s
      FROM b
    ),
    u AS (
      SELECT user_id, CAST(SUM(m) AS BIGINT) AS n_events,
             list(struct_pack(a := a, b := b, s := s) ORDER BY bkt)
               AS segs
      FROM seg GROUP BY 1
    )
    SELECT user_id, n_events,
           round(list_reduce(segs,
                   (acc, r) -> struct_pack(a := r.a, b := r.b,
                                           s := r.a * acc.s + r.b)).s,
                 4) AS ema
    FROM u
    """,
    tags=("temporal", "fold", "clickhouse-parity", "segmented-scan"),
    doc="ClickHouse exponentialMovingAverage analog (per-step smoothing "
    "alpha=0.25, seeded with the first observation): the final EMA of "
    "each user's value-in-cents stream in (ts, event_id) order. The EMA "
    "step acc' = 0.25*x + 0.75*acc is an AFFINE map, and affine maps "
    "compose associatively — a contiguous slice of the stream reduces "
    "to a (coeff, offset) pair: coeff = 0.75^m (left-multiplied fold), "
    "offset = the same fold started from 0. So instead of collecting "
    "one user's ENTIRE history onto one task (the r5 shape: skew 2.95 "
    "on a mega-user, OOM-by-bot-user at 100x), the stream is segmented "
    "on the calendar (user, hour) — deterministic, engine-portable "
    "slicing, unlike quantile boundaries — each segment folds its own "
    "(a, b, s) in parallel, and the per-user composition folds the "
    "TINY per-hour segment table (bounded by the time span, not the "
    "data rate; a billion-event bot user is ~#hours segments, never "
    "one array). Bit-parity holds because BOTH engines evaluate the "
    "identical slice-composed IEEE expressions over the identical "
    "segmentation: per-segment seeded fold s, affine fold (a, b), then "
    "the identical composition r.a * acc + r.b in bucket order — "
    "regrouped double arithmetic rounds differently than a flat fold, "
    "so the oracle mirrors the segmentation exactly rather than "
    "pretending the two are equal.",
)
def ema_user_value(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    b = ev.groupBy(
        "user_id", F.expr("ts_us div 3600000000").alias("bkt")
    ).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ts_us").alias("t"),
                    F.col("event_id").alias("e"),
                    F.round(F.col("value") * 100).alias("v"),
                )
            )
        ).alias("arr")
    )
    vs = F.transform(F.col("arr"), lambda r: r["v"])
    rest = F.slice(vs, F.lit(2), F.greatest(F.size(vs) - 1, F.lit(0)))
    step = lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc  # noqa: E731
    seg = b.select(
        "user_id",
        "bkt",
        F.size("arr").cast("long").alias("m"),
        # coeff 0.75^m by repeated left multiplication (not pow(): both
        # engines run the same mult sequence -> bit-identical)
        F.aggregate(vs, F.lit(1.0), lambda acc, x: F.lit(0.75) * acc).alias("a"),
        F.aggregate(vs, F.lit(0.0), step).alias("b"),
        # seeded fold: the value as if this segment started the stream
        F.aggregate(rest, F.element_at(vs, 1), step).alias("s"),
    )
    u = seg.groupBy("user_id").agg(
        F.sum("m").cast("long").alias("n_events"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("bkt").alias("k"),
                    F.col("a"),
                    F.col("b"),
                    F.col("s"),
                )
            )
        ).alias("segs"),
    )
    segs = F.col("segs")
    restseg = F.slice(
        segs, F.lit(2), F.greatest(F.size(segs) - 1, F.lit(0))
    )
    ema = F.aggregate(
        restseg,
        F.element_at(segs, 1)["s"],
        lambda acc, r: r["a"] * acc + r["b"],
    )
    return u.select(
        "user_id", "n_events", F.round(ema, 4).alias("ema")
    )


@register(
    "value_hour_correlation",
    """
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(epoch_us(ts) // 3600000000 % 24) AS BIGINT) AS sx,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sy,
             CAST(SUM((epoch_us(ts) // 3600000000 % 24)
                      * (epoch_us(ts) // 3600000000 % 24)) AS BIGINT)
               AS sxx,
             SUM(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT)) AS syy,
             SUM((epoch_us(ts) // 3600000000 % 24)
                 * CAST(round(value * 100) AS BIGINT)) AS sxy
      FROM events GROUP BY 1
    )
    SELECT event_type, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy)), 6) AS corr_xy,
           round((CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * sy / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1), 6) AS covar_samp,
           round(sqrt((CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * sy / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - 1)), 6) AS stddev_y
    FROM m
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse corr / covarSamp / stddevSamp parity per event "
    "type, between hour-of-day and value-in-cents. The portability "
    "trick is EXACT INTEGER MOMENTS: n, Sx, Sy, Sxx stay BIGINT "
    "(hour<=23, cents<=~6e4: Sxx wraps at ~1.7e16 rows/group, Sy at "
    "~1.6e14 — beyond any real group), while the SQUARED/CROSS moments "
    "Syy and Sxy accumulate as decimal(38,0) / HUGEINT (cents^2 <= "
    "~3.2e9 would wrap int64 SILENTLY at ~2.9e9 rows/group — a real "
    "bound at 100 TB; decimal sums are exact and mergeable, and only "
    "the final closed form casts them to DOUBLE — the driver hasher "
    "never sees a wide type), reduced with map-side combine in ONE "
    "shuffle "
    "whose merge order cannot matter — unlike naive float corr(), "
    "whose partial-sum order differs per engine and per run. The "
    "closed-form double arithmetic at the end is the identical "
    "expression in both engines, so it is IEEE-bit-identical before "
    "round(6).",
)
def value_hour_correlation(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    x = F.expr("ts_us div 3600000000") % 24
    y = F.round(F.col("value") * 100).cast("long")
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * x).cast("long").alias("sxx"),
        # squared/cross moments: exact decimal accumulators (int64 would
        # wrap silently at ~2.9e9 rows/group for cents<=~6e4)
        F.sum((y * y).cast("decimal(38,0)")).alias("syy"),
        F.sum((x * y).cast("decimal(38,0)")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    syyd = F.col("syy").cast("double")
    corr = (nd * sxyd - sxd * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - sxd * F.col("sx"))
        * (nd * syyd - syd * F.col("sy"))
    )
    covar = (sxyd - sxd * F.col("sy") / nd) / (nd - 1)
    sdy = F.sqrt((syyd - syd * F.col("sy") / nd) / (nd - 1))
    return m.select(
        "event_type",
        "n",
        F.round(corr, 6).alias("corr_xy"),
        F.round(covar, 6).alias("covar_samp"),
        F.round(sdy, 6).alias("stddev_y"),
    )


@register(
    "welch_ttest_values",
    """
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS s,
             SUM(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT)) AS ss
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    ),
    w AS (
      SELECT
        (SELECT CAST(n AS DOUBLE) FROM m WHERE event_type = 'click')
          AS na,
        (SELECT CAST(s AS DOUBLE) FROM m WHERE event_type = 'click')
          AS sa,
        (SELECT CAST(ss AS DOUBLE) FROM m WHERE event_type = 'click')
          AS ssa,
        (SELECT CAST(n AS DOUBLE) FROM m WHERE event_type = 'view')
          AS nb,
        (SELECT CAST(s AS DOUBLE) FROM m WHERE event_type = 'view')
          AS sb,
        (SELECT CAST(ss AS DOUBLE) FROM m WHERE event_type = 'view')
          AS ssb
    ),
    v AS (
      SELECT na, nb,
             sa / na AS ma, sb / nb AS mb,
             (ssa - sa * sa / na) / (na - 1) / na AS va,
             (ssb - sb * sb / nb) / (nb - 1) / nb AS vb
      FROM w
    )
    SELECT CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT) AS n_view,
           round((ma - mb) / sqrt(va + vb), 6) AS t_stat,
           round((va + vb) * (va + vb)
                 / (va * va / (na - 1) + vb * vb / (nb - 1)), 4)
             AS welch_df
    FROM v
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse welchTTest analog: Welch's unequal-variance t "
    "statistic and Welch-Satterthwaite degrees of freedom for "
    "value-in-cents, click vs view arms. Same exact-integer-moment "
    "design as value_hour_correlation: each arm reduces to (n, S) "
    "BIGINT + SS decimal(38,0)/HUGEINT (cents^2 would wrap int64 at "
    "~2.9e9 rows/arm) in one map-side-combined shuffle (merge-order-"
    "proof), "
    "the 2-row moment table collapses to one row, and the closed-form "
    "double expression is evaluated identically in both engines — "
    "bit-identical before rounding. The p-value lookup (incomplete "
    "beta) is presentation, not data reduction, and is left to the "
    "caller like ClickHouse returns (t, df) from welchTTest.",
)
def welch_ttest_values(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    y = F.round(F.col("value") * 100).cast("long")
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(y).cast("long").alias("s"),
        # exact decimal accumulator — see value_hour_correlation
        F.sum((y * y).cast("decimal(38,0)")).alias("ss"),
    )
    one = m.groupBy().pivot("event_type", ["click", "view"]).agg(
        F.first("n").alias("n"), F.first("s").alias("s"),
        F.first("ss").alias("ss"),
    )
    na, sa, ssa = (
        F.col("click_n").cast("double"),
        F.col("click_s").cast("double"),
        F.col("click_ss").cast("double"),
    )
    nb, sb, ssb = (
        F.col("view_n").cast("double"),
        F.col("view_s").cast("double"),
        F.col("view_ss").cast("double"),
    )
    ma, mb = sa / na, sb / nb
    va = (ssa - sa * sa / na) / (na - 1) / na
    vb = (ssb - sb * sb / nb) / (nb - 1) / nb
    return one.select(
        F.col("click_n").alias("n_click"),
        F.col("view_n").alias("n_view"),
        F.round((ma - mb) / F.sqrt(va + vb), 6).alias("t_stat"),
        F.round(
            (va + vb) * (va + vb)
            / (va * va / (na - 1) + vb * vb / (nb - 1)),
            4,
        ).alias("welch_df"),
    )


_ANOVA_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "anova_value_by_type",
    f"""
    WITH m AS (
      SELECT
        {", ".join(
            f'''CAST(COUNT(*) FILTER (WHERE event_type = '{g}') AS BIGINT)
               AS n_{g},
             CAST(COALESCE(SUM(CAST(round(value * 100) AS BIGINT))
               FILTER (WHERE event_type = '{g}'), 0) AS BIGINT) AS s_{g},
             CAST(COALESCE(SUM(CAST(round(value * 100) AS BIGINT)
               * CAST(round(value * 100) AS BIGINT))
               FILTER (WHERE event_type = '{g}'), 0)
               AS DECIMAL(38, 0)) AS ss_{g}'''
            for g in _ANOVA_TYPES
        )}
      FROM events
      WHERE event_type IN {_ANOVA_TYPES!r}
    ),
    v AS (
      SELECT
        {" + ".join(f"n_{g}" for g in _ANOVA_TYPES)} AS n_total,
        {" + ".join(
            f"CASE WHEN n_{g} > 0 THEN 1 ELSE 0 END"
            for g in _ANOVA_TYPES
        )} AS k,
        CAST({" + ".join(f"s_{g}" for g in _ANOVA_TYPES)} AS DOUBLE)
          AS s_all,
        CAST({" + ".join(f"ss_{g}" for g in _ANOVA_TYPES)} AS DOUBLE)
          AS ss_all,
        {" + ".join(
            f"CASE WHEN n_{g} > 0 THEN CAST(s_{g} AS DOUBLE)"
            f" * CAST(s_{g} AS DOUBLE) / CAST(n_{g} AS DOUBLE)"
            f" ELSE CAST(0 AS DOUBLE) END"
            for g in _ANOVA_TYPES
        )} AS grp
      FROM m
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n_total - k AS BIGINT) AS df_within,
           round((grp - s_all * s_all / n_total) / CAST(k - 1 AS DOUBLE)
                 / ((ss_all - grp) / (n_total - k)), 6) AS f_stat,
           round((grp - s_all * s_all / n_total)
                 / (ss_all - s_all * s_all / n_total), 6) AS eta_sq
    FROM v
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse analysisOfVariance (anova) analog: one-way ANOVA of "
    "value-in-cents across the five event types — F statistic, degrees "
    "of freedom, and eta-squared effect size. Same exact-integer-moment "
    "design as the t-test family: per-group (n, S, SS) reduce as "
    "BIGINT / decimal(38,0) in ONE map-side-combined conditional "
    "aggregation (merge-order-proof — no float accumulation across "
    "partitions), the single moment row converts to doubles in a FIXED "
    "left-associated expression tree mirrored in the oracle "
    "(alphabetical group order), so f_stat is bit-identical before the "
    "6dp round. SSB = sum_g S_g^2/n_g - S^2/N, SSW = SS_tot - "
    "sum_g S_g^2/n_g. The p-value (F CDF / incomplete beta) is "
    "presentation, left to the caller exactly as ClickHouse returns "
    "(f, df) pairs from its test functions.",
)
def anova_value_by_type(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*_ANOVA_TYPES)
    )
    y = F.round(F.col("value") * 100).cast("long")
    aggs = []
    for g in _ANOVA_TYPES:
        hit = F.col("event_type") == g
        aggs += [
            F.count(F.when(hit, 1)).cast("long").alias(f"n_{g}"),
            F.coalesce(F.sum(F.when(hit, y)), F.lit(0))
            .cast("long")
            .alias(f"s_{g}"),
            F.coalesce(
                F.sum(F.when(hit, (y * y).cast("decimal(38,0)"))),
                F.lit(0).cast("decimal(38,0)"),
            ).alias(f"ss_{g}"),
        ]
    m = ev.groupBy().agg(*aggs)

    def _chain(cols):
        out = cols[0]
        for c in cols[1:]:
            out = out + c
        return out

    n_total = _chain([F.col(f"n_{g}") for g in _ANOVA_TYPES])
    # r9 (ADVICE): an ABSENT group must not divide by zero — its
    # S_g^2/n_g term guards to 0 and it drops out of k/df, the same
    # CASE tree the oracle uses, so small fixtures missing a type stay
    # engine-portable (with < 2 present groups F is undefined either
    # way — documented contract)
    k = _chain(
        [
            F.when(F.col(f"n_{g}") > 0, 1).otherwise(0)
            for g in _ANOVA_TYPES
        ]
    )
    s_all = _chain([F.col(f"s_{g}") for g in _ANOVA_TYPES]).cast("double")
    ss_all = _chain([F.col(f"ss_{g}") for g in _ANOVA_TYPES]).cast("double")
    grp = _chain(
        [
            F.when(
                F.col(f"n_{g}") > 0,
                F.col(f"s_{g}").cast("double")
                * F.col(f"s_{g}").cast("double")
                / F.col(f"n_{g}").cast("double"),
            ).otherwise(F.lit(0).cast("double"))
            for g in _ANOVA_TYPES
        ]
    )
    v = m.select(
        n_total.alias("n_total"),
        k.alias("k"),
        s_all.alias("s_all"),
        ss_all.alias("ss_all"),
        grp.alias("grp"),
    )
    nt = F.col("n_total").cast("double")
    return v.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("n_total").cast("long").alias("n_total"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n_total") - F.col("k")).cast("long").alias("df_within"),
        F.round(
            (F.col("grp") - F.col("s_all") * F.col("s_all") / nt)
            / (F.col("k") - 1).cast("double")
            / (
                (F.col("ss_all") - F.col("grp"))
                / (nt - F.col("k"))
            ),
            6,
        ).alias("f_stat"),
        F.round(
            (F.col("grp") - F.col("s_all") * F.col("s_all") / nt)
            / (
                F.col("ss_all")
                - F.col("s_all") * F.col("s_all") / nt
            ),
            6,
        ).alias("eta_sq"),
    )


@register(
    "student_ttest_values",
    """
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS s,
             SUM(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT)) AS ss
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    ),
    w AS (
      SELECT
        (SELECT CAST(n AS DOUBLE) FROM m WHERE event_type = 'click')
          AS na,
        (SELECT CAST(s AS DOUBLE) FROM m WHERE event_type = 'click')
          AS sa,
        (SELECT CAST(ss AS DOUBLE) FROM m WHERE event_type = 'click')
          AS ssa,
        (SELECT CAST(n AS DOUBLE) FROM m WHERE event_type = 'view')
          AS nb,
        (SELECT CAST(s AS DOUBLE) FROM m WHERE event_type = 'view')
          AS sb,
        (SELECT CAST(ss AS DOUBLE) FROM m WHERE event_type = 'view')
          AS ssb
    ),
    v AS (
      SELECT na, nb, sa / na AS ma, sb / nb AS mb,
             ((ssa - sa * sa / na) + (ssb - sb * sb / nb))
               / (na + nb - 2) AS sp2
      FROM w
    )
    SELECT CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT) AS n_view,
           round((ma - mb) / sqrt(sp2 * (1 / na + 1 / nb)), 6) AS t_stat,
           CAST(na + nb - 2 AS BIGINT) AS df
    FROM v
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse studentTTest analog: the pooled-variance (equal-"
    "variance) two-sample t statistic for value-in-cents, click vs "
    "view arms — the equal-variance sibling of welch_ttest_values, "
    "from the SAME exact-moment reduction ((n, S) BIGINT + SS "
    "decimal(38,0) per arm, one map-side-combined shuffle, merge-"
    "order-proof), with df = na + nb - 2 exact and the closed-form "
    "double expression identical in both engines.",
)
def student_ttest_values(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    y = F.round(F.col("value") * 100).cast("long")
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(y).cast("long").alias("s"),
        F.sum((y * y).cast("decimal(38,0)")).alias("ss"),
    )
    one = m.groupBy().pivot("event_type", ["click", "view"]).agg(
        F.first("n").alias("n"), F.first("s").alias("s"),
        F.first("ss").alias("ss"),
    )
    na, sa, ssa = (
        F.col("click_n").cast("double"),
        F.col("click_s").cast("double"),
        F.col("click_ss").cast("double"),
    )
    nb, sb, ssb = (
        F.col("view_n").cast("double"),
        F.col("view_s").cast("double"),
        F.col("view_ss").cast("double"),
    )
    ma, mb = sa / na, sb / nb
    sp2 = ((ssa - sa * sa / na) + (ssb - sb * sb / nb)) / (na + nb - 2)
    return one.select(
        F.col("click_n").alias("n_click"),
        F.col("view_n").alias("n_view"),
        F.round(
            (ma - mb) / F.sqrt(sp2 * (F.lit(1) / na + F.lit(1) / nb)), 6
        ).alias("t_stat"),
        (na + nb - 2).cast("long").alias("df"),
    )


@register(
    "mann_whitney_u_values",
    """
    WITH h AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS na_v,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nb_v
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    ),
    c AS (
      SELECT v, na_v, nb_v, na_v + nb_v AS m_v,
             SUM(na_v + nb_v) OVER (ORDER BY v) AS cum
      FROM h
    ),
    m AS (
      SELECT CAST(SUM(na_v) AS BIGINT) AS n_click,
             CAST(SUM(nb_v) AS BIGINT) AS n_view,
             SUM(CAST(na_v AS HUGEINT)
                 * (2 * (cum - m_v) + m_v + 1)) AS r2,
             SUM(CAST(m_v AS HUGEINT) * m_v * m_v - m_v) AS tie
      FROM c
    )
    SELECT n_click, n_view,
           round(CAST(r2 - CAST(n_click AS HUGEINT) * (n_click + 1)
                      AS DOUBLE) / 2, 1) AS u_click,
           round((CAST(r2 - CAST(n_click AS HUGEINT) * (n_click + 1)
                       AS DOUBLE) / 2
                  - CAST(n_click AS DOUBLE) * n_view / 2)
                 / sqrt(CAST(n_click AS DOUBLE) * n_view / 12
                        * ((CAST(n_click + n_view AS DOUBLE) + 1)
                           - CAST(tie AS DOUBLE)
                             / (CAST(n_click + n_view AS DOUBLE)
                                * (CAST(n_click + n_view AS DOUBLE)
                                   - 1)))), 6) AS z_score
    FROM m
    """,
    tags=("agg", "stats", "clickhouse-parity", "segmented-scan"),
    doc="ClickHouse mannWhitneyUTest analog: the rank-sum U statistic "
    "(click arm) and its tie-corrected normal z-score for value-in-"
    "cents, click vs view. The rank reduction is EXACT INTEGER "
    "arithmetic over the VALUE HISTOGRAM, not per-row ranks: with "
    "c_v = count of values below v and m_v the tie-group size, "
    "2*R_click = sum na_v * (2*c_v + m_v + 1) and the tie term "
    "sum(m^3 - m) accumulate as decimal(38,0)/HUGEINT (2n^2 and m^3 "
    "wrap int64 at real scales), so the merge order cannot matter and "
    "the state is bounded by the value DOMAIN like "
    "quantile_state_rollup. The cumulative tie-group walk rides the "
    "range-sliced prefix scan; the closed-form z (normal "
    "approximation, the same asymptotic ClickHouse uses for large n) "
    "is the identical double expression in both engines.",
)
def mann_whitney_u_values(spark, sf_dir):
    from ..operators.ranking import prefix_sum

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    h = ev.groupBy(
        F.round(F.col("value") * 100).cast("long").alias("v")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("na_v"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("nb_v"),
    ).withColumn("m_v", F.col("na_v") + F.col("nb_v"))
    cum = prefix_sum(h, [], ["v"], "m_v")
    c_v = F.col("_prefix") - F.col("m_v")
    m = cum.agg(
        F.sum("na_v").cast("long").alias("n_click"),
        F.sum("nb_v").cast("long").alias("n_view"),
        F.sum(
            F.col("na_v").cast("decimal(38,0)")
            * (2 * c_v + F.col("m_v") + 1)
        ).alias("r2"),
        F.sum(
            F.col("m_v").cast("decimal(38,0)") * F.col("m_v") * F.col("m_v")
            - F.col("m_v")
        ).alias("tie"),
    )
    nad = F.col("n_click").cast("double")
    nd = (F.col("n_click") + F.col("n_view")).cast("double")
    u = (
        F.col("r2")
        - F.col("n_click").cast("decimal(38,0)") * (F.col("n_click") + 1)
    ).cast("double") / 2
    mu = nad * F.col("n_view") / 2
    sig = F.sqrt(
        nad * F.col("n_view") / 12
        * ((nd + 1) - F.col("tie").cast("double") / (nd * (nd - 1)))
    )
    return m.select(
        "n_click",
        "n_view",
        F.round(u, 1).alias("u_click"),
        F.round((u - mu) / sig, 6).alias("z_score"),
    )


@register(
    "kolmogorov_smirnov_values",
    """
    WITH h AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS na_v,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nb_v
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    ),
    c AS (
      SELECT v, SUM(na_v) OVER (ORDER BY v) AS ca,
             SUM(na_v + nb_v) OVER (ORDER BY v) AS cm
      FROM h
    ),
    tot AS (
      SELECT CAST(SUM(na_v) AS BIGINT) AS na,
             CAST(SUM(nb_v) AS BIGINT) AS nb
      FROM h
    ),
    d AS (
      SELECT na, nb,
             MAX(abs(CAST(ca AS HUGEINT) * nb
                     - CAST(cm - ca AS HUGEINT) * na)) AS dnum
      FROM c CROSS JOIN tot GROUP BY 1, 2
    )
    SELECT na AS n_click, nb AS n_view,
           round(CAST(dnum AS DOUBLE)
                 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
             AS d_stat,
           round(sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                 * (CAST(dnum AS DOUBLE)
                    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6)
             AS ks_stat
    FROM d
    """,
    tags=("agg", "stats", "clickhouse-parity", "segmented-scan"),
    doc="ClickHouse kolmogorovSmirnovTest analog: the two-sample KS "
    "distance D = max |ECDF_click - ECDF_view| and the scaled statistic "
    "sqrt(na*nb/(na+nb))*D for value-in-cents. The ECDF gap is EXACT "
    "INTEGER arithmetic over the value histogram — cross-multiplied "
    "like the LTTB anchors: D's numerator is max |cumA*nb - cumB*na| "
    "(decimal/HUGEINT: cum products reach n^2), with cumB derived as "
    "cum(m) - cumA so ONE arm's prefix plus the total prefix suffice; "
    "the max and both cumulatives ride the range-sliced prefix scan "
    "over the domain-bounded histogram, never a global per-row sort, "
    "and only the final one-row closed form touches doubles — the "
    "identical expression in both engines. Completes the two-sample "
    "family: welch/student (means), mannWhitney (ranks), KS "
    "(distributions).",
)
def kolmogorov_smirnov_values(spark, sf_dir):
    from ..operators.ranking import prefix_sum

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    # NOT persisted (r12, measured): caching this domain-bounded value
    # histogram regressed the entry (1.43 s persisted vs 1.09 s
    # recomputed at sf0.1) — the fused prefix pass below already
    # collapsed the second quantile job, so the only avoided recompute
    # is one cheap scan + agg.
    h = ev.groupBy(
        F.round(F.col("value") * 100).cast("long").alias("v")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("na_v"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("nb_v"),
    ).withColumn("m_v", F.col("na_v") + F.col("nb_v"))
    # ONE fused prefix pass for both cumulatives (r12, guide §2.4): the
    # chained form ran two windows/carries/joins AND a second quantile
    # job that re-executed the first pass's subtree (2 aq jobs, 1.3 s of
    # 3.7 s at sf0.1 -> 1 aq job)
    c = (
        prefix_sum(h, [], ["v"], ["na_v", "m_v"])
        .withColumnRenamed("_prefix_na_v", "_ca")
        .withColumnRenamed("_prefix_m_v", "_cm")
    )
    tot = h.agg(
        F.sum("na_v").cast("long").alias("na"),
        F.sum("nb_v").cast("long").alias("nb"),
    )
    j = c.crossJoin(F.broadcast(tot))  # 1-row totals
    d = j.groupBy("na", "nb").agg(
        F.max(
            F.abs(
                F.col("_ca").cast("decimal(38,0)") * F.col("nb")
                - (F.col("_cm") - F.col("_ca")).cast("decimal(38,0)")
                * F.col("na")
            )
        ).alias("dnum")
    )
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    dd = F.col("dnum").cast("double") / (nad * nbd)
    return d.select(
        F.col("na").alias("n_click"),
        F.col("nb").alias("n_view"),
        F.round(dd, 6).alias("d_stat"),
        F.round(F.sqrt(nad * nbd / (nad + nbd)) * dd, 6).alias("ks_stat"),
    )


@register(
    "cramers_v_type_band",
    """
    WITH cells AS (
      SELECT event_type AS t,
             (epoch_us(ts) // 3600000000 % 24) // 6 AS band,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT t, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
    ct AS (SELECT band, CAST(SUM(o) AS BIGINT) AS c
           FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT t) AS BIGINT) AS nr,
                   CAST(COUNT(DISTINCT band) AS BIGINT) AS nc
            FROM cells),
    packed AS (
      SELECT tot.n, tot.nr, tot.nc,
             list(struct_pack(t := cells.t, band := cells.band,
                              o := cells.o, r := rt.r, c := ct.c)
                  ORDER BY cells.t, cells.band) AS arr
      FROM cells JOIN rt USING (t) JOIN ct USING (band) CROSS JOIN tot
      GROUP BY 1, 2, 3
    ),
    chi AS (
      SELECT n, nr, nc,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(arr, x ->
                   (CAST(x.o AS DOUBLE)
                    - CAST(x.r AS DOUBLE) * x.c / CAST(n AS DOUBLE))
                   * (CAST(x.o AS DOUBLE)
                      - CAST(x.r AS DOUBLE) * x.c / CAST(n AS DOUBLE))
                   / (CAST(x.r AS DOUBLE) * x.c / CAST(n AS DOUBLE)))),
               (acc, x) -> acc + x) AS chi2
      FROM packed
    )
    SELECT n, nr AS n_rows, nc AS n_cols,
           round(chi2, 4) AS chi2,
           round(sqrt(chi2 / (CAST(n AS DOUBLE)
                              * least(nr - 1, nc - 1))), 6) AS cramers_v
    FROM chi
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse cramersV analog: association between event type and "
    "6-hour time-of-day band. The contingency table is ONE map-side-"
    "combined shuffle to <= (types x bands) exact BIGINT cells; "
    "marginals and n derive from the cells, never a second fact scan. "
    "chi^2 sums <= 20 double terms — order-dependent in IEEE, so both "
    "engines fold the IDENTICAL terms in the IDENTICAL (type, band) "
    "sort order over a collected array (the same discipline as the "
    "LTTB walk) instead of trusting an aggregate's merge order; "
    "V = sqrt(chi2 / (n * min(r-1, c-1))) is the identical one-row "
    "closed form.",
)
def cramers_v_type_band(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("t"),
        F.expr("(ts_us div 3600000000 % 24) div 6").alias("band"),
    ).agg(F.count("*").cast("long").alias("o"))
    rt = cells.groupBy("t").agg(F.sum("o").cast("long").alias("r"))
    ct = cells.groupBy("band").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.count_distinct("t").cast("long").alias("nr"),
        F.count_distinct("band").cast("long").alias("nc"),
    )
    packed = (
        cells.join(F.broadcast(rt), "t")
        .join(F.broadcast(ct), "band")
        .crossJoin(F.broadcast(tot))
        .groupBy("n", "nr", "nc")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("t"), F.col("band"), F.col("o"),
                        F.col("r"), F.col("c"),
                    )
                )
            ).alias("arr")
        )
    )
    nd = F.col("n").cast("double")

    def term(x):
        e = x["r"].cast("double") * x["c"] / nd
        d = x["o"].cast("double") - e
        return d * d / e

    chi2 = F.aggregate(
        F.transform(F.col("arr"), term), F.lit(0.0), lambda acc, x: acc + x
    )
    return packed.select(
        "n",
        F.col("nr").alias("n_rows"),
        F.col("nc").alias("n_cols"),
        F.round(chi2, 4).alias("chi2"),
        F.round(
            F.sqrt(chi2 / (nd * F.least(F.col("nr") - 1, F.col("nc") - 1))),
            6,
        ).alias("cramers_v"),
    )


_LTTB_OUT = 20
_LTTB_B = _LTTB_OUT - 2


@register(
    "lttb_downsample_hourly",
    f"""
    WITH RECURSIVE
    series AS (
      SELECT epoch_us(ts) // 3600000000 AS x,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    pts AS (SELECT row_number() OVER (ORDER BY x) AS i, x, y FROM series),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
    bkt AS (SELECT CAST((i-2) * {_LTTB_B} // (n-2) AS BIGINT) AS k, x, y
            FROM pts, nn WHERE i >= 2 AND i <= n - 1),
    anch AS (
      SELECT k - 1 AS k, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
      FROM bkt GROUP BY k HAVING k - 1 >= 0
      UNION ALL
      SELECT {_LTTB_B} - 1, 1, x, y FROM pts, nn WHERE i = n
    ),
    sel AS (
      SELECT 0 AS step, x AS px, y AS py FROM pts WHERE i = 1
      UNION ALL
      SELECT s.step + 1, c.x, c.y
      FROM sel s, LATERAL (
        SELECT b.x, b.y
        FROM bkt b JOIN anch a ON a.k = s.step
        WHERE b.k = s.step
        ORDER BY abs(CAST(s.px * a.c - a.sx AS DOUBLE)
                       * CAST(b.y - s.py AS DOUBLE)
                   - CAST(s.px - b.x AS DOUBLE)
                       * CAST(a.sy - s.py * a.c AS DOUBLE)) DESC,
                 b.x ASC
        LIMIT 1) c
      WHERE s.step < {_LTTB_B}
    )
    SELECT CAST(step AS BIGINT) AS rank, px AS hour_id, py AS cents
    FROM sel
    UNION ALL
    SELECT {_LTTB_B} + 1, x, y FROM pts, nn WHERE i = n
    ORDER BY rank
    """,
    tags=("timeseries", "downsample", "clickhouse-parity"),
    doc="ClickHouse largestTriangleThreeBuckets analog: downsample the "
    "hourly total-cents series to 20 visually-representative points — "
    "first + last kept, 18 index-equal interior buckets, each "
    "contributing the point that maximizes the triangle area with the "
    "PREVIOUSLY SELECTED point and the NEXT bucket's average (the "
    "Steinarsson 2013 algorithm, sequential by construction — "
    "ClickHouse's own is a per-group ordered scan). Engine "
    "portability: the bucket-average anchor is cleared of its "
    "denominator (score cross-multiplied by the bucket count) so every "
    "subexpression is exact int64; only the two outer products go "
    "through IEEE double, identically in both engines, and ties pin "
    "to the earliest x. Scale shape: the fact stream reduces map-side "
    "to the TIME-BOUNDED hourly histogram; the sequential fold then "
    "runs as ONE JVM higher-order aggregate() over a single bounded "
    "nested array (B=18 buckets), no Python, no loop over collect(). "
    "Contract: series longer than 20 points (shorter series need no "
    "downsampling).",
)
def lttb_downsample_hourly(spark, sf_dir):
    B = _LTTB_B
    ev = t(spark, sf_dir, "events")
    series = ev.groupBy(F.expr("ts_us div 3600000000").alias("x")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    w = Window.orderBy("x")
    # the numbered point series feeds several branches (count, bucket
    # walk, first/last anchors); all share the histogram aggregation's
    # Exchange, which AQE runtime reuse executes once
    pts = series.select(F.row_number().over(w).alias("i"), "x", "y")
    nn = pts.agg(F.count("*").cast("long").alias("n"))
    ptsn = pts.crossJoin(F.broadcast(nn))
    bkt = ptsn.filter(
        (F.col("i") >= 2) & (F.col("i") <= F.col("n") - 1)
    ).select(F.expr(f"(i-2) * {B} div (n-2)").alias("k"), "x", "y")
    anch = (
        bkt.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("c"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
        )
        .select((F.col("k") - 1).alias("k"), "c", "sx", "sy")
        .filter(F.col("k") >= 0)
        .unionByName(
            ptsn.filter(F.col("i") == F.col("n")).select(
                F.lit(B - 1).cast("long").alias("k"),
                F.lit(1).cast("long").alias("c"),
                F.col("x").alias("sx"),
                F.col("y").alias("sy"),
            )
        )
    )
    bgrp = bkt.groupBy("k").agg(
        F.sort_array(F.collect_list(F.struct("x", "y"))).alias("pts")
    )
    one = (
        bgrp.join(F.broadcast(anch), "k")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("k", "pts", "c", "sx", "sy"))
            ).alias("bks")
        )
        .crossJoin(
            F.broadcast(
                ptsn.agg(
                    F.min_by(F.struct("x", "y"), "i").alias("p0"),
                    F.max_by(F.struct("x", "y"), "i").alias("pn"),
                )
            )
        )
    )
    score = (
        "abs(cast(acc.px * b.c - b.sx as double)"
        "      * cast(p.y - acc.py as double)"
        "   - cast(acc.px - p.x as double)"
        "      * cast(b.sy - acc.py * b.c as double))"
    )
    fold = (
        "aggregate(bks,"
        "  named_struct('px', p0.x, 'py', p0.y,"
        "    'sel', array(named_struct('x', p0.x, 'y', p0.y))),"
        "  (acc, b) -> aggregate(b.pts,"
        "    named_struct('s', cast(-1.0 as double),"
        "      'x', cast(0 as bigint), 'y', cast(0 as bigint)),"
        f"    (a2, p) -> if({score} > a2.s,"
        f"      named_struct('s', {score}, 'x', p.x, 'y', p.y), a2),"
        "    bst -> named_struct('px', bst.x, 'py', bst.y,"
        "      'sel', concat(acc.sel,"
        "        array(named_struct('x', bst.x, 'y', bst.y))))))"
    )
    sel = one.select(
        F.expr(
            f"concat(({fold}).sel, array(named_struct('x', pn.x, 'y', pn.y)))"
        ).alias("sel")
    )
    return sel.select(
        F.posexplode("sel").alias("rank", "p")
    ).select(
        F.col("rank").cast("long").alias("rank"),
        F.col("p.x").alias("hour_id"),
        F.col("p.y").alias("cents"),
    )


def _uniq_state_rollup_oracle() -> str:
    from ..functions.hashing import md5_hash64_sql

    K = _KMV_K
    bound = 4.0 / (K - 2) ** 0.5
    h = md5_hash64_sql("CAST(user_id AS VARCHAR)")
    return f"""
    WITH h AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_id,
                      epoch_us(ts) // 3600000000 AS hour_id, {h} AS h
               FROM events),
    hr AS (SELECT day_id, hour_id, h,
                  row_number() OVER (PARTITION BY day_id, hour_id
                                     ORDER BY h) AS rn
           FROM h),
    st AS (SELECT day_id, hour_id, h FROM hr WHERE rn <= {K}),
    dm AS (SELECT day_id, h,
                  row_number() OVER (PARTITION BY day_id ORDER BY h) AS rn
           FROM (SELECT DISTINCT day_id, h FROM st)),
    dk AS (SELECT day_id, CAST(count(*) AS BIGINT) AS nk,
                  max(CASE WHEN rn = {K} THEN h END) AS hk
           FROM dm WHERE rn <= {K} GROUP BY day_id),
    ex AS (SELECT epoch_us(ts) // 86400000000 AS day_id,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                  CAST(count(DISTINCT epoch_us(ts) // 3600000000)
                       AS BIGINT) AS n_hours
           FROM events GROUP BY 1),
    est AS (
      SELECT ex.day_id, ex.n_hours, ex.exact_users,
             CASE WHEN dk.nk < {K} THEN CAST(dk.nk AS DOUBLE)
                  ELSE round({K - 1} * {_TWO60} / dk.hk) END AS est
      FROM ex JOIN dk USING (day_id)
    )
    SELECT day_id, n_hours, exact_users,
           CAST(est AS BIGINT) AS kmv_estimate,
           abs(est - exact_users) <= {bound} * exact_users
             AS within_bound
    FROM est
    """


@register(
    "uniq_state_rollup",
    _uniq_state_rollup_oracle(),
    tags=("A-approx", "sketch", "rollup", "clickhouse-parity"),
    doc="AggregatingMergeTree uniqState/uniqMerge analog: an hourly "
    "materialized view stores the KMV distinct-user sketch STATE "
    "(k=64 smallest distinct md5 hashes) per hour, and day-level "
    "distinct estimates come from MERGING that day's hour states — "
    "the raw event stream is never re-read at the coarser grain, "
    "which is the whole economics of the ClickHouse -State/-Merge "
    "materialized-view pattern. Merge is exact by construction (the "
    "k smallest of a day are each among their hour's k smallest), so "
    "the day estimate equals a direct day sketch bit-for-bit, and "
    "the portable md5 family makes the oracle match the estimate "
    "itself. exact_users/within_bound keep the 4/sqrt(k-2) error "
    "audit beside it. Scale shape: one distinct shuffle on (hour, "
    "hash), bounded per-(hour, bucket) streaming row_number for the "
    "states (never a collected set), then the merge pass runs over "
    "<= 24*k rows per day.",
)
def uniq_state_rollup(spark, sf_dir):
    from ..functions.hashing import md5_hash64

    K = _KMV_K
    bound = 4.0 / (K - 2) ** 0.5
    ev = t(spark, sf_dir, "events")
    hashed = (
        ev.select(
            F.expr("ts_us div 86400000000").alias("day_id"),
            F.expr("ts_us div 3600000000").alias("hour_id"),
            md5_hash64(F.col("user_id").cast("string")).alias("h"),
        )
        .groupBy("day_id", "hour_id", "h")
        .agg(F.lit(1).alias("_one"))
    )
    # hour-level -State: k smallest per (hour, hash-bucket) then per hour
    w_b = Window.partitionBy(
        "day_id", "hour_id", F.pmod("h", F.lit(_KMV_BUCKETS))
    ).orderBy("h")
    pre = hashed.withColumn("_rn", F.row_number().over(w_b)).filter(
        F.col("_rn") <= K
    )
    w_h = Window.partitionBy("day_id", "hour_id").orderBy("h")
    states = pre.withColumn("_rnh", F.row_number().over(w_h)).filter(
        F.col("_rnh") <= K
    )
    # -Merge: day sketch from the union of its hour states only
    w_d = Window.partitionBy("day_id").orderBy("h")
    merged = (
        states.select("day_id", "h")
        .distinct()
        .withColumn("_rnd", F.row_number().over(w_d))
        .filter(F.col("_rnd") <= K)
        .groupBy("day_id")
        .agg(
            F.max(F.when(F.col("_rnd") == K, F.col("h"))).alias("_hk"),
            F.count("*").alias("_nk"),
        )
    )
    exact = ev.groupBy(
        F.expr("ts_us div 86400000000").alias("day_id")
    ).agg(
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.count_distinct(F.expr("ts_us div 3600000000"))
        .cast("long")
        .alias("n_hours"),
    )
    est = F.when(
        F.col("_nk") < K, F.col("_nk").cast("double")
    ).otherwise(F.round(F.lit((K - 1) * _TWO60) / F.col("_hk")))
    return (
        exact.join(F.broadcast(merged), "day_id")
        .withColumn("_est", est)
        .select(
            "day_id",
            "n_hours",
            "exact_users",
            F.col("_est").cast("long").alias("kmv_estimate"),
            (
                F.abs(F.col("_est") - F.col("exact_users"))
                <= F.lit(bound) * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


@register(
    "quantile_state_rollup",
    """
    WITH h AS (
      SELECT epoch_us(ts) // 86400000000 AS day_id,
             epoch_us(ts) // 3600000000 AS hour_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2, 3
    ),
    m AS (SELECT day_id, cents, SUM(cnt) AS cnt FROM h GROUP BY 1, 2),
    c AS (SELECT day_id, cents, cnt,
                 SUM(cnt) OVER (PARTITION BY day_id ORDER BY cents)
                   AS cum,
                 SUM(cnt) OVER (PARTITION BY day_id) AS n
          FROM m)
    SELECT day_id, CAST(max(n) AS BIGINT) AS n_events,
           round(min(CASE WHEN cum >= (n - 1) // 4 + 1
                          THEN cents END) / 100.0, 2) AS p25_usd,
           round(min(CASE WHEN cum >= (n - 1) // 2 + 1
                          THEN cents END) / 100.0, 2) AS p50_usd,
           round(min(CASE WHEN cum >= ((n - 1) * 3) // 4 + 1
                          THEN cents END) / 100.0, 2) AS p75_usd
    FROM c GROUP BY 1
    """,
    tags=("agg", "sketch", "rollup", "clickhouse-parity"),
    doc="ClickHouse quantileState/quantileMerge (AggregatingMergeTree "
    "percentile MV) parity — the percentile-drift monitor a training-"
    "data pipeline runs continuously: hourly quantile STATES merged to "
    "day-level p25/p50/p75 of value-in-cents WITHOUT re-reading raw "
    "data. The state is the exact value histogram (hour, cents, count) "
    "— mergeable by SUM (associative/commutative, pytest-pinned merge "
    "== direct), bounded by the VALUE DOMAIN not the row count, and "
    "the quantile pick is quantileExactLow integer arithmetic "
    "(idx = (n-1)*num div den) over the range-sliced cumulative scan, "
    "so no float index math and no single-task day partitions. "
    "operators/quantile_state.py; completes uniq_state_rollup's "
    "-State/-Merge family for quantiles.",
)
def quantile_state_rollup(spark, sf_dir):
    from ..operators.quantile_state import (
        histogram_state,
        merge_state,
        quantiles_from_state,
    )

    ev = t(spark, sf_dir, "events").select(
        F.expr("ts_us div 86400000000").alias("day_id"),
        F.expr("ts_us div 3600000000").alias("hour_id"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # -State: what an hourly MV would persist
    hourly = histogram_state(ev, ["day_id", "hour_id"], "cents")
    # -Merge: day states from hour states only (raw rows never re-read)
    day = merge_state(hourly, ["day_id"], "cents")
    q = quantiles_from_state(day, ["day_id"], "cents")
    return q.select(
        "day_id",
        "n_events",
        F.round(F.col("p25") / 100.0, 2).alias("p25_usd"),
        F.round(F.col("p50") / 100.0, 2).alias("p50_usd"),
        F.round(F.col("p75") / 100.0, 2).alias("p75_usd"),
    )


_SEQ_MATCH_T_US = 3600 * 1000000  # the (?t<3600) edge bound, in micros


@register(
    "sequence_match_pattern",
    f"""
    WITH s AS (SELECT user_id, epoch_us(ts) AS ti FROM events
               WHERE event_type = 'signup'),
    c AS (SELECT user_id, epoch_us(ts) AS ti FROM events
          WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts) AS ti FROM events
          WHERE event_type = 'purchase'),
    qc AS (
      SELECT DISTINCT c.user_id, c.ti
      FROM c JOIN s ON s.user_id = c.user_id
       AND s.ti < c.ti AND c.ti - s.ti < {_SEQ_MATCH_T_US}
    ),
    m AS (SELECT DISTINCT p.user_id
          FROM p JOIN qc ON qc.user_id = p.user_id AND qc.ti < p.ti)
    SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_matched,
           CAST((SELECT COUNT(DISTINCT user_id) FROM s) AS BIGINT)
             AS n_signup_users
    """,
    tags=("funnel", "sequence", "clickhouse-parity", "segmented-scan"),
    doc="ClickHouse sequenceMatch('(?1)(?t<3600)(?2)(?3)') parity: users "
    "with a signup -> click chain whose first edge is time-bounded "
    "(click within 3600 s strictly after SOME signup) followed by a "
    "purchase strictly after that click. The per-edge time constraint "
    "generalizes the windowFunnel chain scan: a click is stage-2 "
    "reachable iff ts - (LATEST signup strictly before it) < T — the "
    "latest predecessor is the closest, so the existence test needs "
    "exactly the _gS the shared RANGE-SLICED chain scan already "
    "computes — and the purchase existence test is a segmented running "
    "max over qualified-click timestamps (operators/ranking."
    "running_max_sliced, composite (user, ts) slices). Strictness is "
    "encoded in the (ts, kind) sort key, no bounded RANGE frames, no "
    "self-join, and a mega-user's timeline spreads across slices. The "
    "oracle is the direct EXISTS formulation (joins are fine at oracle "
    "scale).",
)
def sequence_match_pattern(spark, sf_dir):
    g = _funnel_chain_scan(spark, sf_dir)
    qts = F.when(
        (F.col("_k") == -1)
        & (F.col("_ts") - F.col("_gS") < F.lit(_SEQ_MATCH_T_US)),
        F.col("_ts"),
    )
    return _qualified_click_purchase_match(spark, sf_dir, g, qts)


def _qualified_click_purchase_match(spark, sf_dir, g, qts):
    """Shared second segmented pass of the sequenceMatch family: given
    the chain scan ``g`` and a qualified-click timestamp column ``qts``
    (null when the click fails its edge constraint), count users with a
    purchase strictly after SOME qualified click, beside the distinct
    signup-user denominator.

    Running max of qualified-click ts REUSES the chain scan's slice id:
    the scan's carry join left the frame hash-partitioned on (_slice,
    user_id), so the slice-local window needs no new exchange and no
    second quantile job — just its own tiny carry. Purchase rows
    (_k == -2 in strict mode) sort before equal-ts clicks, so the
    running max at a purchase sees only strictly-earlier qualified
    clicks — the same-timestamp invariant is encoded HERE, once, for
    every edge-constraint variant ((?t<T), (?t>T))."""
    q = g.withColumn("_qts", qts)
    w_loc = (
        Window.partitionBy("_slice", "user_id")
        .orderBy("_ts", "_k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = q.withColumn("_lq", F.max("_qts").over(w_loc))
    carry = q.groupBy("_slice", "user_id").agg(
        F.max("_qts").alias("_qout")
    )
    w_off = (
        Window.partitionBy("user_id")
        .orderBy("_slice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = carry.select(
        "_slice", "user_id", F.max("_qout").over(w_off).alias("_qin")
    )
    r = local.join(offs, ["_slice", "user_id"])
    matched = (
        r.filter(
            (F.col("_k") == -2)
            & F.greatest("_lq", "_qin").isNotNull()
        )
        .select("user_id")
        .distinct()
        .agg(F.count("*").cast("long").alias("n_matched"))
    )
    signups = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select("user_id")
        .distinct()
        .agg(F.count("*").cast("long").alias("n_signup_users"))
    )
    return matched.crossJoin(signups)  # two 1-row aggregates


@register(
    "events_limit_by",
    """
    SELECT event_type, rank, event_id
    FROM (
      SELECT event_type, event_id,
             CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rank
      FROM events
    )
    WHERE rank <= 3
    """,
    tags=("limit", "clickhouse-parity"),
    doc="ClickHouse `LIMIT 3 BY event_type` analog: the first three "
    "events of every type in (ts, event_id) order. The per-group "
    "limit rides ranking.ranked's range-sliced two-pass machinery "
    "(slice-local row_number + broadcast prefix offsets), so a "
    "low-cardinality group column never serializes one window "
    "partition per type onto a task — the same reason ClickHouse "
    "evaluates LIMIT BY streaming per block rather than sorting whole "
    "groups.",
)
def events_limit_by(spark, sf_dir):
    from ..operators.ranking import ranked

    ev = t(spark, sf_dir, "events").select(
        "event_type", "ts_us", "event_id"
    )
    r = ranked(ev, ["event_type"], ["ts_us", "event_id"])
    return (
        r.filter(F.col("_rank") <= 3)
        .select(
            "event_type",
            F.col("_rank").cast("long").alias("rank"),
            "event_id",
        )
    )


@register(
    "purchase_attribution_windowed",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    j AS (
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
             c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC NULLS LAST,
                                         c.event_id DESC) AS rn
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
    )
    SELECT event_id, user_id,
           CASE WHEN ts_us - click_ts_us <= 7200000000
                THEN click_id END AS attributed_click_id,
           CASE WHEN ts_us - click_ts_us <= 7200000000
                THEN (ts_us - click_ts_us) // 1000000
           END AS lag_seconds
    FROM j WHERE rn = 1
    """,
    tags=("temporal", "asof", "clickhouse-parity"),
    doc="Tolerance-bounded as-of attribution (pandas merge_asof "
    "tolerance semantics): each purchase matched to the same user's "
    "latest click at or before it ONLY if that click is within the 2 h "
    "attribution window — older matches null out, exactly how "
    "marketing attribution windows work. Same single-shuffle "
    "union+window asof_join plan as purchase_attribution (the "
    "tolerance is a post-predicate on the matched pair, no extra "
    "shuffle); the oracle cross-checks with the expand+rank "
    "formulation.",
)
def purchase_attribution_windowed(spark, sf_dir):
    from ..operators import temporal as TMP

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", F.col("event_id").alias("attributed_click_id")
    )
    j = TMP.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        probe_time="ts_us",
        ref_time="ts_us",
        payload=["attributed_click_id"],
        tiebreak="attributed_click_id",
        tolerance=7_200_000_000,
    )
    return j.select(
        "event_id",
        "user_id",
        "attributed_click_id",
        F.expr(f"(ts_us - {TMP.ASOF_TIME}) div 1000000").alias(
            "lag_seconds"
        ),
    )


@register(
    "user_bounding_ratio",
    """
    WITH v AS (
      SELECT user_id, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS cents,
             event_id
      FROM events
    ),
    g AS (
      SELECT user_id,
             (max(struct_pack(t := t, e := event_id, v := cents))).v
               AS v_last,
             (min(struct_pack(t := t, e := event_id, v := cents))).v
               AS v_first,
             max(t) AS t_max, min(t) AS t_min,
             CAST(count(*) AS BIGINT) AS n
      FROM v GROUP BY 1
    )
    SELECT user_id, n,
           CASE WHEN t_max > t_min
                THEN round((v_last - v_first)
                           / (CAST(t_max - t_min AS DOUBLE) / 1e6), 6)
           END AS cents_per_second
    FROM g
    """,
    tags=("agg", "clickhouse-parity"),
    doc="ClickHouse boundingRatio analog: per user, the slope "
    "(last value - first value) / (last ts - first ts) in cents per "
    "second, with first/last picked deterministically by the "
    "(ts, event_id) struct extremes (ClickHouse's pick at equal "
    "timestamps is arbitrary; we pin it) and single-event users "
    "yielding NULL. One map-side-combined shuffle; the struct min/max "
    "IS the single-pass fold — no window, no sort.",
)
def user_bounding_ratio(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    s = F.struct(
        F.col("ts_us").alias("t"),
        F.col("event_id").alias("e"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    g = ev.groupBy("user_id").agg(
        F.max(s).alias("_mx"),
        F.min(s).alias("_mn"),
        F.max("ts_us").alias("_tmax"),
        F.min("ts_us").alias("_tmin"),
        F.count("*").cast("long").alias("n"),
    )
    slope = F.round(
        (F.col("_mx.v") - F.col("_mn.v"))
        / ((F.col("_tmax") - F.col("_tmin")).cast("double") / F.lit(1e6)),
        6,
    )
    return g.select(
        "user_id",
        "n",
        F.when(F.col("_tmax") > F.col("_tmin"), slope).alias(
            "cents_per_second"
        ),
    )


@register(
    "user_moving_sum_arrays",
    f"""
    WITH r AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rk,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    s AS (
      SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
             list(v ORDER BY rk) AS vs
      FROM r WHERE rk <= {{cap}} GROUP BY 1
    )
    SELECT user_id, n_events, n_events > {{cap}} AS truncated,
           array_to_string(
             list_transform(range(1, len(vs) + 1),
               i -> CAST(list_sum(list_slice(vs, greatest(1, i - 2), i))
                         AS BIGINT)),
             ',') AS moving3_cents
    FROM s
    """.format(cap=10000),
    tags=("agg", "array", "clickhouse-parity", "segmented-scan"),
    doc="ClickHouse groupArrayMovingSum(3) analog: per user, the "
    "length-3 trailing moving sum of value-in-cents at every position "
    "of the (ts, event_id)-ordered history, returned as one array per "
    "group (serialized to a comma string for engine-portable hashing, "
    "like sum_map_by_day). The per-group array IS the output contract "
    "(groupArrayMovingSum is array-valued by definition) — but an "
    "UNBOUNDED per-key array is an OOM-by-bot-user at 100x, so the "
    "contract saturates like ClickHouse's groupArray(max_size): only "
    "the FIRST 10000 positions per user are materialized, `truncated` "
    "flags saturation, and `n_events` stays the true total. The "
    "prefix filter rides the range-sliced distributed ranking "
    "(operators/ranking.ranked, composite (user, ts) slices, AQE "
    "offsets join) so no task ever holds one user's full history — "
    "collect_list only ever sees <= cap rows per user. The windowed "
    "sums are a JVM transform+aggregate over the sorted capped array, "
    "exact integers, no window operator over the fact table.",
)
def user_moving_sum_arrays(spark, sf_dir):
    return _moving_sum_arrays(t(spark, sf_dir, "events"), cap=10000)


def _moving_sum_arrays(ev: DataFrame, cap: int) -> DataFrame:
    """groupArrayMovingSum(3) with a saturation cap — see the registry
    entry. Parameterized so tests can pin the cap contract with a tiny
    cap instead of generating 10k+ events."""
    from ..operators.ranking import composite_slice_key, ranked

    base = ev.select(
        "user_id",
        "ts_us",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    rk = ranked(
        base,
        ["user_id"],
        ["ts_us", "event_id"],
        slice_col=composite_slice_key("user_id", "ts_us"),
        broadcast_offsets=False,
    )
    s = (
        rk.filter(F.col("_rank") <= cap)
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts_us").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("v"),
                    )
                )
            ).alias("arr"),
            F.max("_n").cast("long").alias("n_events"),
        )
    )
    mov = (
        "transform(sequence(1, size(_vs)), i -> "
        "  aggregate(slice(_vs, greatest(1, i - 2),"
        "                  i - greatest(1, i - 2) + 1),"
        "            0L, (acc, x) -> acc + x))"
    )
    return (
        s.withColumn("_vs", F.expr("transform(arr, r -> r.v)"))
        .select(
            "user_id",
            "n_events",
            (F.col("n_events") > F.lit(cap)).alias("truncated"),
            F.expr(
                f"concat_ws(',', transform({mov}, x -> cast(x as string)))"
            ).alias("moving3_cents"),
        )
    )


@register(
    "window_funnel_levels_inclusive",
    f"""
    WITH s1 AS (SELECT user_id, epoch_us(ts) AS t1 FROM events
                WHERE event_type = 'signup'),
    s2 AS (
      SELECT s1.user_id, s1.t1, min(epoch_us(e.ts)) AS t2
      FROM s1 JOIN events e ON e.user_id = s1.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) >= s1.t1
        AND epoch_us(e.ts) <= s1.t1 + {_FUNNEL_WINDOW_US}
      GROUP BY 1, 2
    ),
    s3 AS (
      SELECT s2.user_id, s2.t1, min(epoch_us(e.ts)) AS t3
      FROM s2 JOIN events e ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) >= s2.t2
        AND epoch_us(e.ts) <= s2.t1 + {_FUNNEL_WINDOW_US}
      GROUP BY 1, 2
    ),
    lvl AS (
      SELECT u.user_id,
             CASE WHEN u.user_id IN (SELECT user_id FROM s3) THEN 3
                  WHEN u.user_id IN (SELECT user_id FROM s2) THEN 2
                  ELSE 1 END AS funnel_level
      FROM (SELECT DISTINCT user_id FROM s1) u
    )
    SELECT funnel_level, count(*) AS n_users FROM lvl GROUP BY 1
    """,
    tags=("J1", "funnel", "clickhouse-parity"),
    doc="windowFunnel(24h) in ClickHouse's DEFAULT tie mode, pinned "
    "deterministic: stages may chain at EQUAL timestamps (t2 >= t1, "
    "t3 >= t2) — ClickHouse's docs declare same-timestamp behavior "
    "order-dependent; this analog pins it by sorting signup before "
    "click before purchase at a tie, so an inclusive running frame "
    "sees same-timestamp predecessors. Same single range-sliced chain "
    "scan as window_funnel_levels (only the equal-ts sort kind flips); "
    "the strict sibling IS the strict_increase mode. Same O(k)-per-"
    "user, skew-flat plan.",
)
def window_funnel_levels_inclusive(spark, sf_dir):
    from ..operators.sessions import window_funnel

    return window_funnel(
        t(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts_us", "event_id"
        ),
        window_us=_FUNNEL_WINDOW_US,
        mode="inclusive",
    )


@register(
    "conditional_aggregates_by_type",
    """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             (epoch_us(ts) // 86400000000) % 7 AS dow7
      FROM events
    )
    SELECT event_type,
           CAST(count(*) FILTER (WHERE dow7 IN (2, 3)) AS BIGINT)
             AS weekend_n,
           CAST(COALESCE(sum(cents) FILTER (WHERE dow7 IN (2, 3)), 0)
                AS BIGINT) AS weekend_cents,
           (min(struct_pack(v := cents, e := event_id))
              FILTER (WHERE dow7 IN (2, 3))).e
             AS cheapest_weekend_event
    FROM v GROUP BY 1
    """,
    tags=("agg", "clickhouse-parity"),
    doc="ClickHouse -If combinator parity (countIf / sumIf / argMinIf) "
    "in one pass: per event type, weekend-only count, cent sum, and "
    "the event id of the cheapest weekend event with deterministic "
    "(cents, event_id) struct-min ties. 'Weekend' is epoch-day "
    "arithmetic ((day_id) % 7 in {2, 3}: 1970-01-01 was a Thursday), "
    "NOT dayofweek() — the two engines number weekdays differently "
    "and the modular form is identical in both. One map-side-combined "
    "shuffle; conditional aggregates never become a second scan or a "
    "filtered self-join.",
)
def conditional_aggregates_by_type(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    wk = (F.expr("ts_us div 86400000000") % 7).isin(2, 3)
    cents = F.round(F.col("value") * 100).cast("long")
    s = F.struct(cents.alias("v"), F.col("event_id").alias("e"))
    return ev.groupBy("event_type").agg(
        F.count(F.when(wk, F.lit(1))).cast("long").alias("weekend_n"),
        F.coalesce(F.sum(F.when(wk, cents)), F.lit(0))
        .cast("long")
        .alias("weekend_cents"),
        F.min(F.when(wk, s)).getField("e").alias("cheapest_weekend_event"),
    )


@register(
    "spearman_value_hour",
    """
    WITH joint AS (
      SELECT epoch_us(ts) // 3600000000 % 24 AS h,
             CAST(round(value * 100) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM events GROUP BY 1, 2
    ),
    hh AS (
      SELECT h, 2 * (SUM(mh) OVER (ORDER BY h) - mh) + mh + 1 AS rx2
      FROM (SELECT h, CAST(SUM(m) AS BIGINT) AS mh FROM joint GROUP BY 1)
    ),
    vv AS (
      SELECT v, 2 * (SUM(mv) OVER (ORDER BY v) - mv) + mv + 1 AS ry2
      FROM (SELECT v, CAST(SUM(m) AS BIGINT) AS mv FROM joint GROUP BY 1)
    ),
    s AS (
      SELECT CAST(SUM(m) AS BIGINT) AS n,
             SUM(CAST(m AS HUGEINT) * rx2) AS sx,
             SUM(CAST(m AS HUGEINT) * ry2) AS sy,
             SUM(CAST(m AS HUGEINT) * rx2 * rx2) AS sxx,
             SUM(CAST(m AS HUGEINT) * ry2 * ry2) AS syy,
             SUM(CAST(m AS HUGEINT) * rx2 * ry2) AS sxy
      FROM joint JOIN hh USING (h) JOIN vv USING (v)
    )
    SELECT n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS spearman_rho
    FROM s
    """,
    tags=("agg", "stats", "clickhouse-parity", "segmented-scan"),
    doc="ClickHouse rankCorr analog: Spearman rank correlation between "
    "hour-of-day and value-in-cents, tie-aware (both variables are "
    "heavily tied). Per-row ranks collapse to histograms: the joint "
    "(hour, cents) contingency reduces map-side to <= 24 x |value "
    "domain| cells; each variable's doubled average rank 2r = "
    "2c + m + 1 (an exact integer) comes from its marginal "
    "histogram's prefix scan (the value arm rides the range-sliced "
    "prefix scan, never a global per-row sort); Spearman is then "
    "Pearson over rank moments accumulated as EXACT decimal(38,0) "
    "(per-cell m*(2rx)*(2ry) <= 4n^3 wraps int64 beyond ~1.6e6 rows "
    "and stays in 38 digits to n ~ 2.9e12; the n*Sxy-scale closed "
    "form would reach 4n^4, so it is evaluated in doubles — the "
    "identical IEEE expression in both engines, merge-order-proof "
    "because every input to it is exact).",
)
def spearman_value_hour(spark, sf_dir):
    from ..operators.ranking import prefix_sum

    ev = t(spark, sf_dir, "events")
    # the joint histogram feeds three branches (both marginals + the
    # moment pass); they share its aggregation Exchange, which AQE's
    # runtime exchange reuse executes once (see _hourly_series note).
    # NOT persisted (r12, measured): caching it to spare the marginal
    # prefix scans' quantile jobs their recompute regressed the entry
    # (2.58 s persisted vs 2.05 s recomputed at sf0.1) — the quantile
    # jobs' recomputed subtree is one scan + one hash aggregation,
    # cheaper than cache materialization.
    joint = ev.groupBy(
        (F.expr("ts_us div 3600000000") % 24).alias("h"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).agg(F.count("*").cast("long").alias("m"))
    hh = joint.groupBy("h").agg(F.sum("m").cast("long").alias("mh"))
    hh = prefix_sum(hh, [], ["h"], "mh").select(
        "h",
        (2 * (F.col("_prefix") - F.col("mh")) + F.col("mh") + 1).alias("rx2"),
    )
    vv = joint.groupBy("v").agg(F.sum("m").cast("long").alias("mv"))
    vv = prefix_sum(vv, [], ["v"], "mv").select(
        "v",
        (2 * (F.col("_prefix") - F.col("mv")) + F.col("mv") + 1).alias("ry2"),
    )
    j = joint.join(F.broadcast(hh), "h").join(vv, "v")
    md = F.col("m").cast("decimal(38,0)")
    s = j.agg(
        F.sum("m").cast("long").alias("n"),
        F.sum(md * F.col("rx2")).alias("sx"),
        F.sum(md * F.col("ry2")).alias("sy"),
        F.sum(md * F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(md * F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum(md * F.col("rx2") * F.col("ry2")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    rho = (nd * F.col("sxy").cast("double") - sxd * syd) / F.sqrt(
        (nd * F.col("sxx").cast("double") - sxd * sxd)
        * (nd * F.col("syy").cast("double") - syd * syd)
    )
    return s.select("n", F.round(rho, 6).alias("spearman_rho"))


@register(
    "categorical_association_suite",
    """
    WITH cells AS (
      SELECT event_type AS t,
             (epoch_us(ts) // 3600000000 % 24) // 6 AS band,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT t, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
    ct AS (SELECT band, CAST(SUM(o) AS BIGINT) AS c
           FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT t) AS BIGINT) AS nr,
                   CAST(COUNT(DISTINCT band) AS BIGINT) AS nc
            FROM cells),
    packed AS (
      SELECT tot.n, tot.nr, tot.nc,
             list(struct_pack(t := cells.t, band := cells.band,
                              o := cells.o, r := rt.r, c := ct.c)
                  ORDER BY cells.t, cells.band) AS arr
      FROM cells JOIN rt USING (t) JOIN ct USING (band) CROSS JOIN tot
      GROUP BY 1, 2, 3
    ),
    folded AS (
      SELECT n, nr, nc,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(arr, x ->
                   (CAST(x.o AS DOUBLE)
                    - CAST(x.r AS DOUBLE) * x.c / CAST(n AS DOUBLE))
                   * (CAST(x.o AS DOUBLE)
                      - CAST(x.r AS DOUBLE) * x.c / CAST(n AS DOUBLE))
                   / (CAST(x.r AS DOUBLE) * x.c / CAST(n AS DOUBLE)))),
               (acc, x) -> acc + x) AS chi2,
             0.0 - list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(arr, x ->
                   (CAST(x.o AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(x.r AS DOUBLE) / CAST(n AS DOUBLE)))),
               (acc, x) -> acc + x) AS hx,
             0.0 - list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(arr, x ->
                   (CAST(x.o AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(x.c AS DOUBLE) / CAST(n AS DOUBLE)))),
               (acc, x) -> acc + x) AS hy,
             0.0 - list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(arr, x ->
                   (CAST(x.o AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(x.o AS DOUBLE) / CAST(n AS DOUBLE)))),
               (acc, x) -> acc + x) AS hxy
      FROM packed
    )
    SELECT n, nr AS n_rows, nc AS n_cols,
           round(sqrt(chi2 / (chi2 + CAST(n AS DOUBLE))), 6)
             AS contingency_coeff,
           round(sqrt(
             greatest(CAST(0.0 AS DOUBLE),
                      chi2 / CAST(n AS DOUBLE)
                      - CAST((nr - 1) * (nc - 1) AS DOUBLE)
                        / CAST(n - 1 AS DOUBLE))
             / least(CAST(nr AS DOUBLE)
                     - CAST((nr - 1) * (nr - 1) AS DOUBLE)
                       / CAST(n - 1 AS DOUBLE) - 1,
                     CAST(nc AS DOUBLE)
                     - CAST((nc - 1) * (nc - 1) AS DOUBLE)
                       / CAST(n - 1 AS DOUBLE) - 1)), 6)
             AS cramers_v_bc,
           round((hx + hy - hxy) / hx, 6) AS theils_u
    FROM folded
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse contingency / cramersVBiasCorrected / theilsU "
    "analogs, all from the ONE exact-integer contingency table "
    "cramers_v_type_band builds (event type x 6-hour band, one "
    "map-side-combined shuffle). The entropy terms use the marginal-"
    "through-cells identity sum_cells (o/n)ln(r/n) = sum_rows "
    "(r/n)ln(r/n), so H(X), H(Y) and H(X,Y) are all pinned-order "
    "folds over the SAME sorted cells array (the LTTB discipline: "
    "IEEE sum order is part of the portable semantics); theilsU = "
    "(H(X)+H(Y)-H(X,Y))/H(X) is the uncertainty coefficient "
    "U(type|band), contingency = sqrt(chi2/(chi2+n)), and the "
    "Bergsma bias correction subtracts (r-1)(c-1)/(n-1) from phi^2 "
    "with the corrected-dimension denominator — each a one-row "
    "closed form over exact inputs, identical in both engines.",
)
def categorical_association_suite(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("t"),
        F.expr("(ts_us div 3600000000 % 24) div 6").alias("band"),
    ).agg(F.count("*").cast("long").alias("o"))
    rt = cells.groupBy("t").agg(F.sum("o").cast("long").alias("r"))
    ct = cells.groupBy("band").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.count_distinct("t").cast("long").alias("nr"),
        F.count_distinct("band").cast("long").alias("nc"),
    )
    packed = (
        cells.join(F.broadcast(rt), "t")
        .join(F.broadcast(ct), "band")
        .crossJoin(F.broadcast(tot))
        .groupBy("n", "nr", "nc")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("t"), F.col("band"), F.col("o"),
                        F.col("r"), F.col("c"),
                    )
                )
            ).alias("arr")
        )
    )
    nd = F.col("n").cast("double")

    def fold(term):
        return F.aggregate(
            F.transform(F.col("arr"), term), F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def chi_term(x):
        e = x["r"].cast("double") * x["c"] / nd
        d = x["o"].cast("double") - e
        return d * d / e

    chi2 = fold(chi_term)
    hx = F.lit(0.0) - fold(
        lambda x: (x["o"].cast("double") / nd)
        * F.log(x["r"].cast("double") / nd)
    )
    hy = F.lit(0.0) - fold(
        lambda x: (x["o"].cast("double") / nd)
        * F.log(x["c"].cast("double") / nd)
    )
    hxy = F.lit(0.0) - fold(
        lambda x: (x["o"].cast("double") / nd)
        * F.log(x["o"].cast("double") / nd)
    )
    n1d = (F.col("n") - 1).cast("double")
    phi2c = F.greatest(
        F.lit(0.0),
        chi2 / nd
        - ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("double") / n1d,
    )
    denom = F.least(
        F.col("nr").cast("double")
        - ((F.col("nr") - 1) * (F.col("nr") - 1)).cast("double") / n1d - 1,
        F.col("nc").cast("double")
        - ((F.col("nc") - 1) * (F.col("nc") - 1)).cast("double") / n1d - 1,
    )
    return packed.select(
        "n",
        F.col("nr").alias("n_rows"),
        F.col("nc").alias("n_cols"),
        F.round(F.sqrt(chi2 / (chi2 + nd)), 6).alias("contingency_coeff"),
        F.round(F.sqrt(phi2c / denom), 6).alias("cramers_v_bc"),
        F.round((hx + hy - hxy) / hx, 6).alias("theils_u"),
    )


@register(
    "value_moments_by_type",
    """
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS s1,
             SUM(CAST(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT) AS HUGEINT))
               AS s2,
             SUM(CAST(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                 * CAST(round(value * 100) AS BIGINT)) AS s3,
             SUM(CAST(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                 * (CAST(round(value * 100) AS BIGINT)
                    * CAST(round(value * 100) AS BIGINT))) AS s4
      FROM events GROUP BY 1
    ),
    a AS (
      SELECT event_type, n,
             CAST(s1 AS DOUBLE) / n AS mean,
             CAST(s2 AS DOUBLE) / n AS a2,
             CAST(s3 AS DOUBLE) / n AS a3,
             CAST(s4 AS DOUBLE) / n AS a4
      FROM m
    ),
    c AS (
      SELECT event_type, n, mean,
             a2 - mean * mean AS m2,
             a3 - 3 * mean * a2 + 2 * mean * mean * mean AS m3,
             a4 - 4 * mean * a3 + 6 * mean * mean * a2
                - 3 * mean * mean * mean * mean AS m4
      FROM a
    )
    SELECT event_type, n,
           round(mean, 4) AS mean_cents,
           round(m2, 4) AS var_pop,
           round(m3 / (m2 * sqrt(m2)), 6) AS skew_pop,
           round(m4 / (m2 * m2), 6) AS kurt_pop
    FROM c
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse skewPop / kurtPop analog: population skewness "
    "m3/m2^1.5 and (non-excess, ClickHouse-convention) kurtosis "
    "m4/m2^2 of value-in-cents per event type, from EXACT raw power "
    "sums S1..S4 in ONE map-side-combined shuffle. S1 stays BIGINT; "
    "S2..S4 accumulate as decimal(38,0)/HUGEINT — cents<=~6e4 makes "
    "the per-row 4th power ~1.3e19, which already exceeds int64 as a "
    "SUM at 1 row and the per-row product must itself be computed in "
    "decimal (long*long multiplication wraps silently in the JVM); "
    "38 digits hold S4 to n ~ 7e18 rows. The central-moment closed "
    "forms (m3 = a3 - 3*mean*a2 + 2*mean^3, ...) are evaluated as "
    "the IDENTICAL double expression trees in both engines over "
    "those exact sums, so the result is merge-order-proof.",
)
def value_moments_by_type(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    y = F.round(F.col("value") * 100).cast("long")
    y2 = y * y  # <= ~3.6e9 for cents <= 6e4: safe as a per-row long
    y2d = y2.cast("decimal(38,0)")
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(y).cast("long").alias("s1"),
        F.sum(y2d).alias("s2"),
        F.sum(y2d * y).alias("s3"),
        F.sum(y2d * y2).alias("s4"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    a2 = F.col("s2").cast("double") / nd
    a3 = F.col("s3").cast("double") / nd
    a4 = F.col("s4").cast("double") / nd
    m2 = a2 - mean * mean
    m3 = a3 - 3 * mean * a2 + 2 * mean * mean * mean
    m4 = (
        a4 - 4 * mean * a3 + 6 * mean * mean * a2
        - 3 * mean * mean * mean * mean
    )
    return m.select(
        "event_type",
        "n",
        F.round(mean, 4).alias("mean_cents"),
        F.round(m2, 4).alias("var_pop"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skew_pop"),
        F.round(m4 / (m2 * m2), 6).alias("kurt_pop"),
    )


@register(
    "value_hour_regression",
    """
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(epoch_us(ts) // 3600000000 % 24) AS BIGINT) AS sx,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sy,
             CAST(SUM((epoch_us(ts) // 3600000000 % 24)
                      * (epoch_us(ts) // 3600000000 % 24)) AS BIGINT)
               AS sxx,
             SUM(CAST((epoch_us(ts) // 3600000000 % 24) AS HUGEINT)
                 * CAST(round(value * 100) AS BIGINT)) AS sxy
      FROM events GROUP BY 1
    )
    SELECT event_type, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS slope_cents_per_hour,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS intercept_cents
    FROM m
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse simpleLinearRegression analog: per event type, the "
    "least-squares slope and intercept of value-in-cents on "
    "hour-of-day, from the same exact-moment reduction as "
    "value_hour_correlation — (n, Sx, Sy, Sxx) BIGINT and Sxy "
    "decimal(38,0) (hour*cents <= 1.4e6 per row; int64 wraps at "
    "~6.5e12 rows, decimal holds to ~7e31) in one map-side-combined "
    "shuffle, closed form slope=(n*Sxy-Sx*Sy)/(n*Sxx-Sx^2) and "
    "intercept=(Sy-slope*Sx)/n evaluated as identical double "
    "expressions in both engines.",
)
def value_hour_regression(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    x = F.expr("ts_us div 3600000000") % 24
    y = F.round(F.col("value") * 100).cast("long")
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(x.cast("decimal(38,0)") * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    slope = (nd * F.col("sxy").cast("double") - sxd * syd) / (
        nd * F.col("sxx").cast("double") - sxd * sxd
    )
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_cents_per_hour"),
        F.round((syd - slope * sxd) / nd, 6).alias("intercept_cents"),
    )


@register(
    "bitwise_user_masks",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(bit_and(user_id) AS BIGINT) AS users_bit_and,
           CAST(bit_or(user_id) AS BIGINT) AS users_bit_or,
           CAST(bit_xor(user_id) AS BIGINT) AS users_bit_xor
    FROM events GROUP BY 1
    """,
    tags=("agg", "clickhouse-parity"),
    doc="ClickHouse groupBitAnd / groupBitOr / groupBitXor analog over "
    "user ids per event type, via Spark's native bit_and/bit_or/"
    "bit_xor aggregates — bitwise ops are associative and "
    "commutative, so the aggregation is one map-side-combined "
    "shuffle with exact results under any merge order (the xor arm "
    "is the classic distributed parity check).",
)
def bitwise_user_masks(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("bit_and(user_id)").cast("long").alias("users_bit_and"),
        F.expr("bit_or(user_id)").cast("long").alias("users_bit_or"),
        F.expr("bit_xor(user_id)").cast("long").alias("users_bit_xor"),
    )


@register(
    "hour_entropy_by_type",
    """
    WITH cells AS (
      SELECT event_type, epoch_us(ts) // 3600000000 % 24 AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    packed AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
             list(struct_pack(h := h, c := c) ORDER BY h) AS arr
      FROM cells GROUP BY 1
    )
    SELECT event_type, n,
           round(0.0 - list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(arr, x ->
                 (CAST(x.c AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(x.c AS DOUBLE) / CAST(n AS DOUBLE)))),
             (acc, x) -> acc + x), 6) AS entropy_nats,
           round((0.0 - list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(arr, x ->
                 (CAST(x.c AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(x.c AS DOUBLE) / CAST(n AS DOUBLE)))),
             (acc, x) -> acc + x)) / 0.6931471805599453, 6)
             AS entropy_bits
    FROM packed
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse entropy() analog: Shannon entropy of each event "
    "type's hour-of-day distribution. The fact stream reduces "
    "map-side to <= 24 exact BIGINT cells per type; the <= 24 "
    "p*ln(p) double terms fold in pinned h-order over a collected "
    "array (IEEE sum order as part of the semantics, the "
    "cramers/LTTB discipline), and the bits variant divides the "
    "nats fold by the LITERAL double 0.6931471805599453 rather than "
    "trusting both engines' log2/ln(2) to agree to the last ULP.",
)
def hour_entropy_by_type(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.expr("ts_us div 3600000000") % 24).alias("h")
    ).agg(F.count("*").cast("long").alias("c"))
    packed = cells.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.array_sort(F.collect_list(F.struct("h", "c"))).alias("arr"),
    )
    nd = F.col("n").cast("double")
    nats = F.lit(0.0) - F.aggregate(
        F.transform(
            F.col("arr"),
            lambda x: (x["c"].cast("double") / nd)
            * F.log(x["c"].cast("double") / nd),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return packed.select(
        "event_type",
        "n",
        F.round(nats, 6).alias("entropy_nats"),
        F.round(nats / F.lit(0.6931471805599453), 6).alias("entropy_bits"),
    )


@register(
    "hourly_autocorrelation",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hour_id,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(hour_id) AS lo, max(hour_id) AS hi FROM c),
    grid AS (SELECT unnest(range(lo, hi + 1)) AS hour_id FROM span),
    g AS (SELECT grid.hour_id, CAST(coalesce(c.x, 0) AS BIGINT) AS x
          FROM grid LEFT JOIN c USING (hour_id)),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s1,
                   SUM(CAST(x AS HUGEINT) * x) AS s2
            FROM g),
    p AS (SELECT CAST(b.hour_id - a.hour_id AS BIGINT) AS lag,
                 SUM(CAST(a.x AS HUGEINT) * b.x) AS sxy,
                 CAST(SUM(a.x) AS BIGINT) AS sh,
                 CAST(SUM(b.x) AS BIGINT) AS st
          FROM g a JOIN g b ON b.hour_id - a.hour_id BETWEEN 1 AND 3
          GROUP BY 1)
    SELECT lag, n AS n_hours,
           round((CAST(sxy AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / n) * (sh + st)
                  + (n - lag) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n))
                 / (CAST(s2 AS DOUBLE)
                    - n * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s1 AS DOUBLE) / n)), 6) AS acf
    FROM p CROSS JOIN tot ORDER BY lag
    """,
    tags=("agg", "stats", "timeseries", "clickhouse-parity"),
    doc="Autocorrelation of the gap-filled global hourly event-count "
    "series at lags 1..3 (the seasonality probe ClickHouse users "
    "build from neighbor self-joins or runningDifference). The fact "
    "stream reduces map-side to the TIME-bounded hourly histogram "
    "(calendar hours, never data volume — a decade is ~9e4 points), "
    "which zero-fills like gap_filled_hourly_counts and packs into "
    "ONE sorted array row; each lag's cross-moment sum_t x_t*x_{t+k} "
    "is a JVM zip_with/aggregate fold over array slices in exact "
    "decimal(38,0) (hourly counts can reach ~1e9 at 100 TB scale, "
    "so per-term products ~1e18 overflow a summed int64 "
    "immediately), and the standard ACF closed form r_k = (Sxy - "
    "mean*(Sh+St) + (n-k)*mean^2) / (S2 - n*mean^2) is the "
    "identical double expression in both engines.",
)
def hourly_autocorrelation(spark, sf_dir):
    g = _hourly_series(spark, sf_dir, "hourly_autocorrelation").select(
        "hour_id", "x"
    )
    packed = g.agg(
        F.array_sort(F.collect_list(F.struct("hour_id", "x"))).alias("s"),
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
    )
    arr = F.transform(F.col("s"), lambda r: r["x"])
    nd = F.col("n").cast("double")
    xbar = F.col("s1").cast("double") / F.col("n")

    def acf_at(k):
        nk = (F.col("n") - k).cast("int")
        head = F.slice(arr, F.lit(1), nk)
        tail = F.slice(arr, F.lit(k + 1), nk)
        sxy = F.aggregate(
            F.zip_with(
                head, tail, lambda a, b: a.cast("decimal(38,0)") * b
            ),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, v: (acc + v).cast("decimal(38,0)"),
        )
        sh = F.aggregate(
            head, F.lit(0).cast("long"), lambda acc, v: acc + v
        )
        st = F.aggregate(
            tail, F.lit(0).cast("long"), lambda acc, v: acc + v
        )
        num = (
            sxy.cast("double")
            - xbar * (sh + st)
            + (F.col("n") - k) * xbar * xbar
        )
        den = F.col("s2").cast("double") - F.col("n") * xbar * xbar
        return F.struct(
            F.lit(k).cast("long").alias("lag"),
            F.col("n").alias("n_hours"),
            F.round(num / den, 6).alias("acf"),
        )

    return (
        packed.select(
            F.explode(F.array(acf_at(1), acf_at(2), acf_at(3))).alias("z")
        )
        .select("z.lag", "z.n_hours", "z.acf")
        .orderBy("lag")
    )


def _hourly_series(spark, sf_dir, key):
    """Gap-filled global hourly count series (hour_id, lo, x).

    Every consumer branch (span, zero-fill join, totals, phase folds)
    references the histogram aggregation, so the STATIC plan prints the
    raw scan+shuffle once per branch — but the branches share the
    IDENTICAL aggregation Exchange, and AQE's runtime exchange reuse
    collapses them (``ReusedExchange`` in the executed plan; pinned by
    ``test_series_stats_runtime_exchange_reuse``). Persisting here was
    tried and REVERTED: the materialization barrier + memory-store
    write measured 1.4-2x SLOWER than runtime reuse at x30 (same
    finding as ``ranking.prefix_sum``'s double-execution note). ``key``
    names the consumer for future per-query tuning."""
    del key  # consumer label; kept for call-site self-documentation
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy(F.expr("ts_us div 3600000000").alias("hour_id")).agg(
        F.count("*").cast("long").alias("x")
    )
    grid = c.agg(
        F.min("hour_id").alias("lo"), F.max("hour_id").alias("hi")
    ).select("lo", F.explode(F.sequence("lo", "hi")).alias("hour_id"))
    return grid.join(c, "hour_id", "left").select(
        "hour_id",
        "lo",
        F.coalesce("x", F.lit(0)).cast("long").alias("x"),
    )


@register(
    "hourly_outliers_tukey",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hour_id,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(hour_id) AS lo, max(hour_id) AS hi FROM c),
    grid AS (SELECT unnest(range(lo, hi + 1)) AS hour_id FROM span),
    g AS (SELECT grid.hour_id, CAST(coalesce(c.x, 0) AS BIGINT) AS x
          FROM grid LEFT JOIN c USING (hour_id)),
    q AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, list(x ORDER BY x) AS arr
          FROM g),
    b AS (SELECT arr[CAST((n - 1) // 4 AS INT) + 1] AS q1,
                 arr[CAST(3 * (n - 1) // 4 AS INT) + 1] AS q3
          FROM q)
    SELECT hour_id, x AS n_events, q1, q3,
           CASE WHEN 2 * x < 2 * q1 - 3 * (q3 - q1) THEN 'low'
                ELSE 'high' END AS side
    FROM g CROSS JOIN b
    WHERE 2 * x < 2 * q1 - 3 * (q3 - q1)
       OR 2 * x > 2 * q3 + 3 * (q3 - q1)
    """,
    tags=("agg", "stats", "timeseries", "clickhouse-parity"),
    doc="ClickHouse seriesOutliersDetectTukey analog over the gap-filled "
    "global hourly count series: hours whose count falls outside the "
    "Tukey fences [Q1 - 1.5*IQR, Q3 + 1.5*IQR]. EVERYTHING is exact "
    "integer arithmetic — the quartiles are lower-quantile picks at "
    "integer indices (n-1)//4 and 3(n-1)//4 of the sorted calendar-"
    "bounded series, and the fences clear the 1.5 denominator by "
    "doubling both sides (2x < 2*Q1 - 3*IQR), so no float ever enters "
    "the comparison and the two engines cannot disagree on a boundary "
    "hour. One map-side-combined shuffle to the time-bounded "
    "histogram; the one-row fence bounds broadcast back over it.",
)
def hourly_outliers_tukey(spark, sf_dir):
    g = _hourly_series(spark, sf_dir, "hourly_outliers_tukey").select(
        "hour_id", "x"
    )
    b = g.agg(
        F.count("*").cast("long").alias("n"),
        F.array_sort(F.collect_list("x")).alias("arr"),
    ).select(
        F.element_at(
            "arr", (F.expr("(n - 1) div 4") + 1).cast("int")
        ).alias("q1"),
        F.element_at(
            "arr", (F.expr("3 * (n - 1) div 4") + 1).cast("int")
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    low = 2 * F.col("x") < 2 * F.col("q1") - 3 * iqr
    high = 2 * F.col("x") > 2 * F.col("q3") + 3 * iqr
    return (
        g.crossJoin(F.broadcast(b))
        .filter(low | high)
        .select(
            "hour_id",
            F.col("x").alias("n_events"),
            "q1",
            "q3",
            F.when(low, F.lit("low")).otherwise(F.lit("high")).alias("side"),
        )
    )


@register(
    "hourly_period_strength",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hour_id,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(hour_id) AS lo, max(hour_id) AS hi FROM c),
    grid AS (SELECT unnest(range(lo, hi + 1)) AS hour_id FROM span),
    g AS (SELECT grid.hour_id - span.lo AS tt,
                 CAST(coalesce(c.x, 0) AS BIGINT) AS x
          FROM grid LEFT JOIN c USING (hour_id) CROSS JOIN span),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s1,
                   SUM(CAST(x AS HUGEINT) * x) AS s2
            FROM g),
    cand AS (SELECT unnest([6, 12, 24, 168]) AS p),
    ph AS (SELECT cand.p, g.tt % cand.p AS phase,
                  CAST(COUNT(*) AS BIGINT) AS nph,
                  CAST(SUM(g.x) AS BIGINT) AS sph
           FROM g CROSS JOIN cand GROUP BY 1, 2),
    packed AS (
      SELECT p, list(struct_pack(phase := phase, nph := nph, sph := sph)
                     ORDER BY phase) AS arr
      FROM ph GROUP BY 1
    ),
    f AS (
      SELECT p,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(arr, x ->
                   CAST(x.sph AS DOUBLE) * CAST(x.sph AS DOUBLE)
                   / x.nph)),
               (acc, x) -> acc + x) AS ssb_raw
      FROM packed
    ),
    s AS (
      SELECT p,
             round((ssb_raw
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                   / (CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n),
                   6) AS strength
      FROM f CROSS JOIN tot
    )
    SELECT CAST(p AS BIGINT) AS period_hours, strength,
           strength = (SELECT max(strength) FROM s) AS is_peak
    FROM s
    """,
    tags=("agg", "stats", "timeseries", "clickhouse-parity"),
    doc="ClickHouse seriesPeriodDetectFFT analog, trig-free: for each "
    "candidate period p in {6, 12, 24, 168} hours, the fraction of the "
    "gap-filled hourly count series' variance explained by grouping "
    "hours into their phase t mod p (the one-way-ANOVA 'seasonal "
    "strength' sum_ph S_ph^2/n_ph identity) — the period with the "
    "highest strength is the detected seasonality. No FFT and no "
    "cos/sin means no cross-engine libm trig risk: per-phase (n, S) "
    "stay exact BIGINT (<= 168 cells per candidate, one map-side-"
    "combined shuffle over the calendar-bounded series), the <= 168 "
    "S^2/n double terms fold in pinned phase order (the LTTB/cramers "
    "discipline), and the strength closed form is the identical "
    "double expression in both engines. Peak flag compares the "
    "already-rounded strengths, never raw doubles.",
)
def hourly_period_strength(spark, sf_dir):
    g = _hourly_series(spark, sf_dir, "hourly_period_strength").select(
        (F.col("hour_id") - F.col("lo")).alias("tt"), "x"
    )
    tot = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
    )
    cand = spark.createDataFrame([(6,), (12,), (24,), (168,)], "p int")
    ph = g.crossJoin(F.broadcast(cand)).groupBy(
        "p", (F.col("tt") % F.col("p")).alias("phase")
    ).agg(
        F.count("*").cast("long").alias("nph"),
        F.sum("x").cast("long").alias("sph"),
    )
    packed = ph.groupBy("p").agg(
        F.array_sort(
            F.collect_list(F.struct("phase", "nph", "sph"))
        ).alias("arr")
    )
    ssb_raw = F.aggregate(
        F.transform(
            F.col("arr"),
            lambda x: x["sph"].cast("double") * x["sph"].cast("double")
            / x["nph"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    s1d = F.col("s1").cast("double")
    corr_term = s1d * s1d / F.col("n")
    strength = F.round(
        (ssb_raw - corr_term)
        / (F.col("s2").cast("double") - corr_term),
        6,
    )
    s = packed.crossJoin(F.broadcast(tot)).select(
        F.col("p").cast("long").alias("period_hours"),
        strength.alias("strength"),
    )
    mx = s.agg(F.max("strength").alias("mxs"))
    return s.crossJoin(F.broadcast(mx)).select(
        "period_hours",
        "strength",
        (F.col("strength") == F.col("mxs")).alias("is_peak"),
    )


@register(
    "user_sessions_native",
    None,  # oracle assigned below: shares user_sessions' SQL verbatim
    tags=("window", "sessions", "streaming", "builtin"),
    doc="The BUILT-IN sibling of user_sessions: Spark's native "
    "session_window(ts, '30 minutes') gap-merge aggregation, the "
    "operator you'd reach for first on a cluster (and the one that "
    "runs unchanged on a streaming frame with a watermark — the "
    "state-store path the applyInPandasWithState sessionizer hand-"
    "rolls). Boundary semantics verified against the oracle's rule: "
    "session_window merges at delta == gap exactly (inclusive), i.e. "
    "a new session starts iff the gap EXCEEDS 30 min, bit-identical "
    "to the islands-and-gaps batch sessionizer; same oracle SQL as "
    "user_sessions. Scale note: the merging-sessions aggregation "
    "co-locates each user's rows, so a mega-user lands on one task — "
    "operators.sessions.sessionize (the registry headline) is the "
    "skew-sliced form; this entry pins the built-in's parity.",
)
def user_sessions_native(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .drop("w")
    )


# user_sessions_native shares user_sessions' oracle verbatim (same
# output contract; only the Spark plan differs).
REGISTRY["user_sessions_native"].oracle = REGISTRY["user_sessions"].oracle


def _det3(a, b, c, d, e, f, g, h, i):
    """3x3 determinant with a FIXED expression shape.

    Works for both engines' operand types (Spark Columns or SQL text via
    the format helper below); the shape — a*(e*i - f*h) - b*(d*i - f*g)
    + c*(d*h - e*g) — is part of the portable semantics: both engines
    evaluate the IDENTICAL IEEE double tree over exact-integer inputs.
    """
    return a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)


def _det3_sql(m):
    a, b, c, d, e, f, g, h, i = m
    return (
        f"({a} * ({e} * {i} - {f} * {h}) "
        f"- {b} * ({d} * {i} - {f} * {g}) "
        f"+ {c} * ({d} * {h} - {e} * {g}))"
    )


def _multi_regression_oracle():
    det = _det3_sql(
        ["nd", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22"]
    )
    det0 = _det3_sql(
        ["sy", "s1", "s2", "sy1", "s11", "s12", "sy2", "s12", "s22"]
    )
    det1 = _det3_sql(
        ["nd", "sy", "s2", "s1", "sy1", "s12", "s2", "sy2", "s22"]
    )
    det2 = _det3_sql(
        ["nd", "s1", "sy", "s1", "s11", "sy1", "s2", "s12", "sy2"]
    )
    return f"""
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(epoch_us(ts) // 3600000000 % 24) AS BIGINT) AS i1,
             CAST(SUM(epoch_us(ts) // 86400000000 % 7) AS BIGINT) AS i2,
             CAST(SUM((epoch_us(ts) // 3600000000 % 24)
                      * (epoch_us(ts) // 3600000000 % 24)) AS BIGINT)
               AS i11,
             CAST(SUM((epoch_us(ts) // 3600000000 % 24)
                      * (epoch_us(ts) // 86400000000 % 7)) AS BIGINT)
               AS i12,
             CAST(SUM((epoch_us(ts) // 86400000000 % 7)
                      * (epoch_us(ts) // 86400000000 % 7)) AS BIGINT)
               AS i22,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS iy,
             SUM(CAST((epoch_us(ts) // 3600000000 % 24) AS HUGEINT)
                 * CAST(round(value * 100) AS BIGINT)) AS iy1,
             SUM(CAST((epoch_us(ts) // 86400000000 % 7) AS HUGEINT)
                 * CAST(round(value * 100) AS BIGINT)) AS iy2,
             SUM(CAST(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT) AS HUGEINT))
               AS iyy
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) AS nd,
             CAST(i1 AS DOUBLE) AS s1, CAST(i2 AS DOUBLE) AS s2,
             CAST(i11 AS DOUBLE) AS s11, CAST(i12 AS DOUBLE) AS s12,
             CAST(i22 AS DOUBLE) AS s22,
             CAST(iy AS DOUBLE) AS sy, CAST(iy1 AS DOUBLE) AS sy1,
             CAST(iy2 AS DOUBLE) AS sy2, CAST(iyy AS DOUBLE) AS syy
      FROM m
    ),
    b AS (
      SELECT event_type, n, sy, sy1, sy2, syy, nd,
             {det0} / {det} AS b0,
             {det1} / {det} AS b1,
             {det2} / {det} AS b2
      FROM d
    )
    SELECT event_type, n,
           round(b0, 4) AS intercept_cents,
           round(b1, 6) AS hour_coef,
           round(b2, 6) AS dow_coef,
           round(1.0 - (syy - b0 * sy - b1 * sy1 - b2 * sy2)
                       / (syy - sy * sy / nd), 6) AS r2
    FROM b
    """


@register(
    "value_multiple_regression",
    _multi_regression_oracle(),
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse stochasticLinearRegression analog, but DETERMINISTIC: "
    "exact normal-equation OLS of value-in-cents on (hour-of-day, "
    "day-of-week) per event type. SGD's result depends on row order — "
    "useless for a reproducible distributed engine — so instead the "
    "3x3 Gram matrix X'X and X'y reduce as EXACT sums in ONE "
    "map-side-combined shuffle (feature products <= 529 stay BIGINT "
    "to ~1.7e16 rows; cents cross-terms and the y^2 moment accumulate "
    "decimal(38,0)/HUGEINT), and the solve is Cramer's rule with a "
    "FIXED 3x3 determinant expression shape — generated from the "
    "same term list for both engines, so the only floating-point in "
    "the whole query is an identical IEEE tree over exact integers. "
    "R^2 comes free from the same moments (SSE = y'y - b'X'y). "
    "Weekday numbering is epoch-day % 7 (engine-neutral), hour is "
    "epoch-hour % 24.",
)
def value_multiple_regression(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    x1 = F.expr("ts_us div 3600000000") % 24
    x2 = F.expr("ts_us div 86400000000") % 7
    y = F.round(F.col("value") * 100).cast("long")
    yd = y.cast("decimal(38,0)")
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x1).cast("long").alias("i1"),
        F.sum(x2).cast("long").alias("i2"),
        F.sum(x1 * x1).cast("long").alias("i11"),
        F.sum(x1 * x2).cast("long").alias("i12"),
        F.sum(x2 * x2).cast("long").alias("i22"),
        F.sum(y).cast("long").alias("iy"),
        F.sum(x1.cast("decimal(38,0)") * y).alias("iy1"),
        F.sum(x2.cast("decimal(38,0)") * y).alias("iy2"),
        F.sum(yd * y).alias("iyy"),
    )
    nd = F.col("n").cast("double")
    s1, s2 = F.col("i1").cast("double"), F.col("i2").cast("double")
    s11, s12 = F.col("i11").cast("double"), F.col("i12").cast("double")
    s22 = F.col("i22").cast("double")
    sy = F.col("iy").cast("double")
    sy1, sy2 = F.col("iy1").cast("double"), F.col("iy2").cast("double")
    syy = F.col("iyy").cast("double")
    det = _det3(nd, s1, s2, s1, s11, s12, s2, s12, s22)
    b0 = _det3(sy, s1, s2, sy1, s11, s12, sy2, s12, s22) / det
    b1 = _det3(nd, sy, s2, s1, sy1, s12, s2, sy2, s22) / det
    b2 = _det3(nd, s1, sy, s1, s11, sy1, s2, s12, sy2) / det
    r2 = F.lit(1.0) - (syy - b0 * sy - b1 * sy1 - b2 * sy2) / (
        syy - sy * sy / nd
    )
    return m.select(
        "event_type",
        "n",
        F.round(b0, 4).alias("intercept_cents"),
        F.round(b1, 6).alias("hour_coef"),
        F.round(b2, 6).alias("dow_coef"),
        F.round(r2, 6).alias("r2"),
    )


@register(
    "grouping_sets_volume",
    """
    SELECT coalesce(r_name, '(all)') AS region,
           coalesce(n_name, '(all)') AS nation,
           CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT)
             AS grouping_id,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), (n_name), ())
    """,
    tags=("A2", "rollup"),
    doc="Explicit GROUPING SETS — the general form behind the ROLLUP and "
    "CUBE entries: (region, nation), (region), (nation), and grand "
    "total in ONE pass with GROUPING() disambiguating coalesced "
    "NULLs from real values. Spark expands grouping sets into a "
    "single Expand + hash aggregate (rows x 4 before map-side "
    "combine), never four scans; the dimension joins broadcast.",
)
def grouping_sets_volume(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    j = c.join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    g = j.groupingSets(
        [["r_name", "n_name"], ["r_name"], ["n_name"], []],
        "r_name",
        "n_name",
    ).agg(
        (
            F.grouping("r_name").cast("long") * 2
            + F.grouping("n_name").cast("long")
        ).alias("grouping_id"),
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
        .cast("long")
        .alias("acctbal_cents"),
    )
    return g.select(
        F.coalesce("r_name", F.lit("(all)")).alias("region"),
        F.coalesce("n_name", F.lit("(all)")).alias("nation"),
        "grouping_id",
        "n_customers",
        "acctbal_cents",
    )


@register(
    "sequence_next_node",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      FROM events
    ),
    fc AS (
      SELECT user_id, ts_us AS t0, event_id AS e0
      FROM (
        SELECT user_id, ts_us, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS rn
        FROM e WHERE event_type = 'click'
      ) WHERE rn = 1
    ),
    nxt AS (
      SELECT e.user_id, e.event_type,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts_us, e.event_id) AS rn
      FROM e JOIN fc USING (user_id)
      WHERE e.ts_us > fc.t0
         OR (e.ts_us = fc.t0 AND e.event_id > fc.e0)
    )
    SELECT event_type AS next_event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM nxt WHERE rn = 1 GROUP BY 1
    """,
    tags=("agg", "funnel", "clickhouse-parity"),
    doc="ClickHouse sequenceNextNode(forward, head) analog: for every "
    "user, the event type that immediately follows their FIRST "
    "'click', distributed as how-many-users-went-where. No per-user "
    "window on the Spark side: the first click is a struct-min "
    "aggregate on the unique (ts_us, event_id) key, joined back "
    "(one user-keyed shuffle), and the successor is a second "
    "struct-min over the strictly-later events — both map-side-"
    "combined, so a mega-user collapses to one partial row per task "
    "instead of serializing a timeline. The oracle computes the "
    "same thing with explicit rank-1 windows.",
)
def sequence_next_node(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts_us", "event_id", "event_type"
    )
    fc = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts_us", "event_id")).alias("f0"))
    )
    after = ev.join(fc, "user_id").filter(
        (F.col("ts_us") > F.col("f0.ts_us"))
        | (
            (F.col("ts_us") == F.col("f0.ts_us"))
            & (F.col("event_id") > F.col("f0.event_id"))
        )
    )
    nxt = after.groupBy("user_id").agg(
        F.min(F.struct("ts_us", "event_id", "event_type")).alias("nx")
    )
    return nxt.groupBy(
        F.col("nx.event_type").alias("next_event_type")
    ).agg(F.count("*").cast("long").alias("n_users"))


@register(
    "window_funnel_strict_order",
    f"""
    WITH r AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rk
      FROM events
    ),
    s AS (SELECT user_id, rk, ts_us AS t1 FROM r
          WHERE event_type = 'signup'),
    pr AS (
      SELECT s.user_id, s.rk, s.t1
      FROM s JOIN r c ON c.user_id = s.user_id AND c.rk = s.rk + 1
      WHERE c.event_type = 'click'
        AND c.ts_us <= s.t1 + {_FUNNEL_WINDOW_US}
    ),
    tr AS (
      SELECT pr.user_id
      FROM pr JOIN r p ON p.user_id = pr.user_id AND p.rk = pr.rk + 2
      WHERE p.event_type = 'purchase'
        AND p.ts_us <= pr.t1 + {_FUNNEL_WINDOW_US}
    ),
    lv AS (
      SELECT user_id, max(level) AS funnel_level FROM (
        SELECT user_id, 1 AS level FROM s
        UNION ALL SELECT user_id, 2 FROM pr
        UNION ALL SELECT user_id, 3 FROM tr
      ) GROUP BY user_id
    )
    SELECT funnel_level, count(*) AS n_users FROM lv GROUP BY 1
    """,
    tags=("J1", "funnel", "clickhouse-parity"),
    doc="ClickHouse windowFunnel(24h, 'strict_order') analog, completing "
    "the mode family (default = window_funnel_levels, inclusive-tie = "
    "window_funnel_levels_inclusive): in strict_order ANY intervening "
    "event breaks the chain, so a user reaches level k iff the k steps "
    "occupy CONSECUTIVE positions in their full event sequence (all "
    "types, not just the funnel's), inside the window anchored at the "
    "chain's signup. Contiguity reduces to rank adjacency: per-user "
    "sequence ranks come from the RANGE-SLICED two-pass ranker "
    "(operators.ranking.ranked, composite (user, ts) slices — a "
    "mega-user's timeline never sorts on one task, same machinery as "
    "_funnel_chain_scan), then two equi-joins on (user_id, rank+1) / "
    "(user_id, rank+2) find adjacent signup->click and ->purchase. "
    "Rank keys are unique per user, so the join keys are uniform by "
    "construction — a mega-user spreads across hash partitions instead "
    "of hot-spotting one. Tie order at equal timestamps is pinned by "
    "the unique event_id in BOTH engines (ClickHouse declares "
    "same-timestamp order undefined; we make it deterministic).",
)
def window_funnel_strict_order(spark, sf_dir):
    from ..operators.sessions import window_funnel

    return window_funnel(
        t(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts_us", "event_id"
        ),
        window_us=_FUNNEL_WINDOW_US,
        mode="strict_order",
    )


@register(
    "window_funnel_strict_dedup",
    f"""
    WITH f AS (
      SELECT user_id, event_type, epoch_us(ts) AS tu,
             CASE event_type WHEN 'purchase' THEN -2
                             WHEN 'click' THEN -1 ELSE 0 END AS k
      FROM events WHERE event_type IN ('signup', 'click', 'purchase')
    ),
    r AS (
      SELECT user_id, event_type, tu,
             max(CASE WHEN event_type = 'signup' THEN tu END)
               OVER (PARTITION BY user_id ORDER BY tu, k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS gs
      FROM f
    ),
    dq AS (
      SELECT user_id, tu, count(*) AS nc, max(gs) AS gs
      FROM r WHERE event_type = 'click' GROUP BY user_id, tu
    ),
    q AS (SELECT * FROM dq
          WHERE gs IS NOT NULL AND tu <= gs + {_FUNNEL_WINDOW_US}),
    cs AS (SELECT user_id, min(tu) AS tstar FROM q GROUP BY user_id),
    ci AS (SELECT q.user_id, q.tu AS tstar, q.nc, q.gs
           FROM q JOIN cs ON q.user_id = cs.user_id AND q.tu = cs.tstar),
    nx AS (SELECT ci.user_id, min(d.tu) AS tnext
           FROM ci JOIN dq d
             ON d.user_id = ci.user_id AND d.tu > ci.tstar
           GROUP BY ci.user_id),
    l3 AS (SELECT DISTINCT p.user_id
           FROM f p JOIN ci ON p.user_id = ci.user_id
           LEFT JOIN nx ON nx.user_id = p.user_id
           WHERE p.event_type = 'purchase' AND p.tu > ci.tstar
             AND p.tu <= ci.gs + {_FUNNEL_WINDOW_US} AND ci.nc = 1
             AND (nx.tnext IS NULL OR p.tu <= nx.tnext)),
    lv AS (
      SELECT user_id, max(level) AS funnel_level FROM (
        SELECT DISTINCT user_id, 1 AS level FROM f
          WHERE event_type = 'signup'
        UNION ALL SELECT DISTINCT user_id, 2 FROM q
        UNION ALL SELECT user_id, 3 FROM l3
      ) GROUP BY user_id
    )
    SELECT funnel_level, count(*) AS n_users FROM lv GROUP BY 1
    """,
    tags=("J1", "funnel", "clickhouse-parity", "segmented-scan"),
    doc="ClickHouse windowFunnel(24h, 'strict_dedup') analog, the fourth "
    "and last mode (default / inclusive-tie / strict_order shipped "
    "earlier): per windowFunnel.h's fold, a repeated event matching an "
    "ALREADY-SATISFIED step >= 2 interrupts processing at the level "
    "reached (step-1 repeats merely re-anchor). For the 3-step "
    "signup -> click -> purchase chain that reduces to: c* = the FIRST "
    "click chaining off the latest signup strictly before it (the "
    "chain scan's _gS) inside the window; level 3 iff a purchase lands "
    "strictly after c* and at-or-before the NEXT click (any click "
    "after c* is a repeated step-2 event = interrupt), within the "
    "window anchored at c*'s signup. Spark side: the shared "
    "RANGE-SLICED chain scan, clicks deduped per (user, ts) — "
    "equal-ts clicks share _gS by the scan's sort invariant, and "
    ">= 2 clicks at c*'s timestamp interrupt before any later "
    "purchase — then ONE more segmented pass (fresh composite "
    "(user, ts) slices) carrying two associative running values: min "
    "qualifying-click struct (ts, click-count-at-ts, anchor) and max "
    "click ts; a purchase qualifies iff the running max click equals "
    "the running min qualifier's ts (no interrupt yet). No per-user "
    "window, no self-join on raw rows — a mega-user spreads across "
    "slices. Same-timestamp processing order pinned deterministically "
    "as purchase < click < signup in BOTH engines (ClickHouse declares "
    "it undefined).",
)
def window_funnel_strict_dedup(spark, sf_dir):
    from ..operators.sessions import window_funnel

    return window_funnel(
        t(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts_us", "event_id"
        ),
        window_us=_FUNNEL_WINDOW_US,
        mode="strict_dedup",
    )


_SPARKBAR_GLYPHS = ("·", "▁", "▂", "▃", "▄", "▅", "▆", "▇", "█")
_SPARKBAR_BUCKETS = 24


def _sparkbar_glyph_sql(idx: str) -> str:
    arr = "[" + ", ".join(f"'{g}'" for g in _SPARKBAR_GLYPHS) + "]"
    return f"{arr}[{idx} + 1]"


@register(
    "hourly_sparkbar_by_type",
    f"""
    WITH h AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    sp AS (SELECT min(h) AS lo, max(h) AS hi FROM h),
    bt AS (
      SELECT event_type,
             least({_SPARKBAR_BUCKETS - 1},
                   ((h.h - sp.lo) * {_SPARKBAR_BUCKETS})
                     // (sp.hi - sp.lo + 1)) AS b,
             CAST(sum(v) AS BIGINT) AS v
      FROM h, sp GROUP BY 1, 2
    ),
    grid AS (
      SELECT ty.event_type, g.b
      FROM (SELECT DISTINCT event_type FROM bt) ty
      CROSS JOIN (SELECT unnest(range({_SPARKBAR_BUCKETS})) AS b) g
    ),
    filled AS (
      SELECT grid.event_type, grid.b, coalesce(bt.v, 0) AS v
      FROM grid LEFT JOIN bt
        ON bt.event_type = grid.event_type AND bt.b = grid.b
    ),
    mx AS (
      SELECT event_type, max(v) AS vmax FROM filled GROUP BY 1
    )
    SELECT f.event_type,
           CAST(sum(f.v) AS BIGINT) AS n_events,
           string_agg(
             {_sparkbar_glyph_sql(
                 "(CASE WHEN f.v = 0 THEN 0 "
                 "ELSE 1 + ((f.v * 8 - 1) // mx.vmax) END)")},
             '' ORDER BY f.b) AS bar
    FROM filled f JOIN mx ON mx.event_type = f.event_type
    GROUP BY f.event_type
    """,
    tags=("agg", "clickhouse-parity"),
    doc="ClickHouse sparkbar(24) analog: per event type, the hourly "
    "activity series bucketed into 24 equal time bins over the global "
    "span and rendered as one unicode bar string (8 block glyphs + a "
    "dot for empty). Every step is INTEGER arithmetic (bucket index = "
    "(h-lo)*N div span, glyph level = 1 + (v*8-1) div vmax) so the "
    "string is bit-identical across engines — no float bucketing. "
    "Cost shape: the raw stream reduces map-side to the (type, hour) "
    "histogram; everything after (bucket fold, dense 24-cell grid via "
    "map lookup, vmax, glyph render) is ONE linear chain over type x "
    "24 cells — no dense-grid self-join, no separate vmax branch, one "
    "parquet scan in the static plan.",
)
def hourly_sparkbar_by_type(spark, sf_dir):
    N = _SPARKBAR_BUCKETS
    ev = t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.expr("ts_us div 3600000000").alias("h")
    ).agg(F.count("*").cast("long").alias("v"))
    sp = h.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    bt = (
        h.crossJoin(F.broadcast(sp))
        .groupBy(
            "event_type",
            # integer div end-to-end: double division + cast can round a
            # near-integer quotient up and shift the bucket
            F.expr(
                f"least(CAST({N - 1} AS BIGINT), "
                f"((h - lo) * {N}) div (hi - lo + 1))"
            ).alias("b"),
        )
        .agg(F.sum("v").cast("long").alias("v"))
    )
    # one linear chain from here: the per-type bucket map, dense grid,
    # vmax and glyph render all derive from ONE per-type row — no
    # dense-grid self-join, no separate vmax branch, nothing for the
    # static plan to print twice
    per = bt.groupBy("event_type").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("b", "v")))
        ).alias("_m"),
        F.sum("v").cast("long").alias("n_events"),
    )
    dense = per.select(
        "event_type",
        "n_events",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N - 1)),
                lambda b: F.coalesce(
                    F.element_at(F.col("_m"), b.cast("long")),
                    F.lit(0).cast("long"),
                ),
            )
        ).alias("b", "v"),
    )
    glyphs = F.array(*[F.lit(g) for g in _SPARKBAR_GLYPHS])
    cells = dense.withColumn(
        "vmax", F.max("v").over(Window.partitionBy("event_type"))
    ).select(
        "event_type",
        "n_events",
        "b",
        F.element_at(
            glyphs,
            (
                F.when(F.col("v") == 0, F.lit(0).cast("long")).otherwise(
                    F.lit(1) + F.expr("(v * 8 - 1) div vmax")
                )
                + 1
            ).cast("int"),
        ).alias("g"),
    )
    return (
        cells.groupBy("event_type", "n_events")
        .agg(F.array_sort(F.collect_list(F.struct("b", "g"))).alias("_a"))
        .select(
            "event_type",
            "n_events",
            F.concat_ws(
                "", F.transform(F.col("_a"), lambda s: s["g"])
            ).alias("bar"),
        )
    )


@register(
    "daily_value_array_ops",
    """
    WITH d AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day, v,
             CAST(sum(v) OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS cs,
             CAST(coalesce(v - lag(v) OVER (PARTITION BY event_type
                                            ORDER BY day), 0) AS BIGINT)
               AS df
      FROM d
    ),
    a AS (
      SELECT event_type,
             array_to_string(list(CAST(day AS VARCHAR) ORDER BY day), '|')
               AS days,
             array_to_string(list(CAST(v AS VARCHAR) ORDER BY day), '|')
               AS value_cents,
             array_to_string(list(CAST(cs AS VARCHAR) ORDER BY day), '|')
               AS cum_cents,
             array_to_string(list(CAST(df AS VARCHAR) ORDER BY day), '|')
               AS delta_cents
      FROM w GROUP BY event_type
    ),
    u AS (
      SELECT event_type,
             array_to_string(list(CAST(dow AS VARCHAR) ORDER BY dow), '|')
               AS uniq_dows
      FROM (SELECT DISTINCT event_type, day % 7 AS dow FROM d)
      GROUP BY event_type
    )
    SELECT a.*, u.uniq_dows FROM a JOIN u USING (event_type)
    """,
    tags=("A-array", "clickhouse-parity"),
    doc="ClickHouse array-combinator battery over the per-type daily "
    "value series: groupArray (the ordered series), arrayCumSum, "
    "arrayDifference (ClickHouse convention: first element 0), and "
    "groupUniqArray (distinct day-of-week residues, sorted) — "
    "serialized pipe-joined for engine-portable hashing. The "
    "collect_list is CALENDAR-BOUNDED (one element per type x day), "
    "so the array build never scales with raw rows; cumsum/difference "
    "are O(days^2)/O(days) expression folds over <=O(100) elements, "
    "deliberately array-side to exercise the combinators rather than "
    "re-windowing. All values exact integer cents — bit-identical "
    "across engines.",
)
def daily_value_array_ops(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    per = d.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("_a"),
        F.array_sort(F.collect_set(F.col("day") % 7)).alias("_dows"),
    )
    days = F.transform(F.col("_a"), lambda s: s["day"])

    def joined(arr):
        return F.array_join(F.transform(arr, lambda x: x.cast("string")), "|")

    # the values array is bound ONCE as a lambda variable (single-element
    # transform wrapper, the shingles_of pattern): HOF lambdas are
    # CodegenFallback and would otherwise re-evaluate the derived
    # transform(_a) inside every element_at/slice — the class
    # tests/test_hof_gate.py pins out of the codebase
    def body(vals):
        cum = F.transform(
            vals,
            lambda x, i: F.aggregate(
                F.slice(vals, F.lit(1), i + 1),
                F.lit(0).cast("long"),
                lambda acc, y: acc + y,
            ),
        )
        diff = F.transform(
            vals,
            lambda x, i: F.when(i == 0, F.lit(0).cast("long")).otherwise(
                x - F.element_at(vals, i)
            ),
        )
        return F.struct(
            joined(vals).alias("value_cents"),
            joined(cum).alias("cum_cents"),
            joined(diff).alias("delta_cents"),
        )

    packed = F.get(
        F.transform(
            F.array(F.transform(F.col("_a"), lambda s: s["v"])), body
        ),
        0,
    )
    return per.select(
        "event_type",
        joined(days).alias("days"),
        packed["value_cents"].alias("value_cents"),
        packed["cum_cents"].alias("cum_cents"),
        packed["delta_cents"].alias("delta_cents"),
        joined(F.col("_dows")).alias("uniq_dows"),
    )


_EQUIDEPTH_BUCKETS = 8


@register(
    "value_equidepth_histogram",
    f"""
    WITH h AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS m
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT v, m, sum(m) OVER (ORDER BY v) AS cum,
             sum(m) OVER () AS n
      FROM h
    )
    SELECT CAST(((cum - m) * {_EQUIDEPTH_BUCKETS}) // n AS BIGINT)
             AS bucket,
           CAST(min(v) AS BIGINT) AS lo_cents,
           CAST(max(v) AS BIGINT) AS hi_cents,
           CAST(sum(m) AS BIGINT) AS n_events
    FROM c GROUP BY 1
    """,
    tags=("A2", "histogram", "clickhouse-parity"),
    doc="ClickHouse adaptive histogram() analog with DETERMINISTIC "
    "semantics: exact equi-depth buckets instead of the stream-order-"
    "dependent adaptive merge (whose bin edges ClickHouse itself "
    "documents as non-deterministic — unsuitable for an oracle-checked "
    "engine). A value's bucket is floor(rank_before * B / n), all "
    "integer arithmetic over the exact (value -> count) histogram, so "
    "ties stay in one bucket and edges are reproducible under any "
    "merge order. The cumulative pass rides the range-sliced "
    "distributed prefix scan (operators.ranking.prefix_sum) over the "
    "VALUE-DOMAIN-bounded histogram — the raw stream reduces map-side "
    "first, the window input never scales with rows (the "
    "weighted_median_price machinery, generalized to full bucket "
    "output: per-bucket lo/hi edges + depth).",
)
def value_equidepth_histogram(spark, sf_dir):
    from ..operators.ranking import prefix_sum

    B = _EQUIDEPTH_BUCKETS
    ev = t(spark, sf_dir, "events")
    h = ev.groupBy(
        F.round(F.col("value") * 100).cast("long").alias("v")
    ).agg(F.count("*").cast("long").alias("m"))
    cum = prefix_sum(h, [], ["v"], "m")
    n = h.agg(F.sum("m").cast("long").alias("n"))
    return (
        cum.crossJoin(F.broadcast(n))
        .groupBy(
            F.expr(f"((_prefix - m) * {B}) div n").alias("bucket")
        )
        .agg(
            F.min("v").alias("lo_cents"),
            F.max("v").alias("hi_cents"),
            F.sum("m").cast("long").alias("n_events"),
        )
    )


_IV_LABEL_CENTS = 5000  # label = event value >= 50.00


@register(
    "categorical_information_value",
    f"""
    WITH g AS (
      SELECT (epoch_us(ts) // 3600000000 % 24) // 6 AS band,
             CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT)
                             >= {_IV_LABEL_CENTS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
             CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT)
                             >= {_IV_LABEL_CENTS}
                           THEN 0 ELSE 1 END) AS BIGINT) AS n_bad
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_good) AS BIGINT) AS gt,
             CAST(sum(n_bad) AS BIGINT) AS bt
      FROM g
    )
    SELECT band, n_good, n_bad,
           CASE WHEN n_good = 0 OR n_bad = 0 THEN NULL
                ELSE round(ln((CAST(n_good AS DOUBLE) * bt)
                              / (CAST(n_bad AS DOUBLE) * gt)), 6)
           END AS woe,
           CASE WHEN n_good = 0 OR n_bad = 0 THEN NULL
                ELSE round((CAST(n_good AS DOUBLE) / gt
                            - CAST(n_bad AS DOUBLE) / bt)
                           * ln((CAST(n_good AS DOUBLE) * bt)
                                / (CAST(n_bad AS DOUBLE) * gt)), 6)
           END AS iv_term
    FROM g, tot
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse categoricalInformationValue analog: weight of "
    "evidence ln((good_i/G)/(bad_i/B)) and the IV contribution "
    "(good_i/G - bad_i/B) * WoE per category (6-hour band; binary "
    "label = value >= 50.00) — the feature-screening statistic. "
    "Counts are exact integers from ONE map-side-combined pass; the "
    "ratio is evaluated as the IDENTICAL double expression tree in "
    "both engines (double*long products, no long*long overflow at any "
    "scale), same determinism contract as categorical_association_"
    "suite. Totals ride a broadcast 1-row aggregate.",
)
def categorical_information_value(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    lab = (F.round(F.col("value") * 100).cast("long") >= _IV_LABEL_CENTS).cast(
        "int"
    )
    g = ev.groupBy(
        F.expr("(ts_us div 3600000000 % 24) div 6").alias("band")
    ).agg(
        F.sum(lab).cast("long").alias("n_good"),
        F.sum(1 - lab).cast("long").alias("n_bad"),
    )
    tot = g.agg(
        F.sum("n_good").cast("long").alias("gt"),
        F.sum("n_bad").cast("long").alias("bt"),
    )
    ratio = (F.col("n_good").cast("double") * F.col("bt")) / (
        F.col("n_bad").cast("double") * F.col("gt")
    )
    # degenerate bands (no positives / no negatives) have undefined WoE:
    # emit NULL in BOTH engines (DuckDB ln(0) raises OutOfRange rather
    # than returning -inf, so an unguarded oracle would crash, not
    # mismatch)
    ok = (F.col("n_good") > 0) & (F.col("n_bad") > 0)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_good",
            "n_bad",
            F.when(ok, F.round(F.log(ratio), 6)).alias("woe"),
            F.when(
                ok,
                F.round(
                    (
                        F.col("n_good").cast("double") / F.col("gt")
                        - F.col("n_bad").cast("double") / F.col("bt")
                    )
                    * F.log(ratio),
                    6,
                ),
            ).alias("iv_term"),
        )
    )


@register(
    "bitmap_state_rollup",
    """
    SELECT epoch_us(ts) // 86400000000 AS day_id,
           CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
    FROM events GROUP BY 1
    """,
    tags=("A-state", "bitmap", "clickhouse-parity"),
    doc="groupBitmapState/groupBitmapMerge rollup (the bitmap MV "
    "shape): hourly packed-bitmap containers (operators/bitmaps.py, "
    "roaring-style 8192-id sub-bitmaps) OR-merged to day level without "
    "re-reading raw ids — completing the mergeable-state QUARTET with "
    "uniq_state_rollup (KMV), quantile_state_rollup (value histogram) "
    "and cms_state_rollup (count-min grid). A bitmap OR is the exact "
    "union, so the merged day popcounts EQUAL a direct "
    "count(DISTINCT) — the oracle is the direct form, making the "
    "merge==direct contract itself the correctness check (plus the "
    "pytest pin). Scale shape: raw rows reduce to distinct (hour, "
    "bucket, offset) map-side; the merge shuffles only container rows "
    "(state-bounded, ~1 KiB each, a billion-id day is ~122k "
    "independent containers) and each OR fold is one Arrow batch.",
)
def bitmap_state_rollup(spark, sf_dir):
    from ..operators.bitmaps import audience_bitmaps, merge_bitmaps

    ev = t(spark, sf_dir, "events")
    hourly = audience_bitmaps(
        ev.select(
            F.expr("ts_us div 3600000000").alias("hour_id"), "user_id"
        ),
        "hour_id",
        "user_id",
    )
    day = merge_bitmaps(hourly, F.expr("CAST(key AS BIGINT) div 24"))
    return day.groupBy(
        F.col("key").cast("long").alias("day_id")
    ).agg(F.sum("n").cast("long").alias("uniq_users"))


_TOPK_HOUR_M = 8  # hourly state width
_TOPK_DAY_K = 5  # day-level emitted top-K


@register(
    "topk_state_rollup",
    f"""
    WITH hc AS (
      SELECT epoch_us(ts) // 3600000000 AS hour_id, user_id,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    hr AS (
      SELECT hour_id, user_id, c,
             row_number() OVER (PARTITION BY hour_id
                                ORDER BY c DESC, user_id) AS rk
      FROM hc
    ),
    st AS (SELECT * FROM hr WHERE rk <= {_TOPK_HOUR_M}),
    dm AS (
      SELECT hour_id // 24 AS day_id, user_id,
             CAST(sum(c) AS BIGINT) AS est_cnt
      FROM st GROUP BY 1, 2
    ),
    dr AS (
      SELECT day_id, user_id, est_cnt,
             CAST(row_number() OVER (PARTITION BY day_id
                                     ORDER BY est_cnt DESC, user_id)
                  AS BIGINT) AS rk
      FROM dm
    )
    SELECT day_id, user_id, est_cnt, rk FROM dr WHERE rk <= {_TOPK_DAY_K}
    """,
    tags=("A-state", "topk", "clickhouse-parity"),
    doc="ClickHouse topKState/topKMerge rollup (SpaceSaving-flavored): "
    f"hourly states keep the top-{_TOPK_HOUR_M} users by count "
    "(DETERMINISTIC truncation: count desc, user asc — ClickHouse's "
    "own topK merge order is unspecified; we pin it so the oracle can "
    "mirror the algorithm bit-for-bit), day-level merge sums surviving "
    f"counts per user and emits the top-{_TOPK_DAY_K} — a lower-bound "
    "estimate whose error is bounded by the dropped per-hour tail "
    "mass, the standard mergeable heavy-hitter MV shape (exact "
    "sibling: cms_state_rollup's audited probe). BOTH ranking passes "
    "ride the range-sliced two-pass ranker on composite (key, -count) "
    "slices — an hour with 10^8 active users never sorts on one task.",
)
def topk_state_rollup(spark, sf_dir):
    from ..operators.cache import persist_in, rotating_scope
    from ..operators.ranking import composite_slice_key, ranked

    ev = t(spark, sf_dir, "events")
    scope = rotating_scope("topk_state_rollup")
    # hc NOT persisted (r12, interleaved A/B): caching it would spare
    # the first ranker's slice-quantile job its recompute of the events
    # scan + hourly shuffle (separate actions never share exchanges),
    # but the measured arm LOST pairwise (min 2.7 -> 3.6 s at sf0.1;
    # the canonical bench run with the persist showed +1.4 s) — the
    # near-data-scale cache write plus the frozen cached partitioning
    # cost more than the one narrow recompute they save.
    hc = ev.groupBy(
        F.expr("ts_us div 3600000000").alias("hour_id"), "user_id"
    ).agg(F.count("*").cast("long").alias("c"))
    r1 = ranked(
        hc.withColumn("_neg", -F.col("c")),
        ["hour_id"],
        ["_neg", "user_id"],
        slice_col=composite_slice_key("hour_id", "_neg"),
        broadcast_offsets=False,
    )
    st = r1.filter(F.col("_rank") <= _TOPK_HOUR_M)
    # persist the day-merge table (r12, guide §1.2): it is PROVABLY
    # bounded (<= hours x M rows at any scale — the hour states already
    # truncated to their top-M), and the second ranker's quantile job
    # otherwise re-executes the entire first ranking just to learn its
    # slice boundaries (measured: 2 quantile jobs, 2.0 s of 3.9 s wall)
    dm = persist_in(
        scope,
        st.groupBy(
            F.expr("hour_id div 24").alias("day_id"), "user_id"
        ).agg(F.sum("c").cast("long").alias("est_cnt")),
    )
    r2 = ranked(
        dm.withColumn("_neg", -F.col("est_cnt")),
        ["day_id"],
        ["_neg", "user_id"],
        slice_col=composite_slice_key("day_id", "_neg"),
        broadcast_offsets=False,
    )
    return (
        r2.filter(F.col("_rank") <= _TOPK_DAY_K)
        .select("day_id", "user_id", "est_cnt", F.col("_rank").alias("rk"))
    )


@register(
    "hourly_series_decomposition",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hour_id,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(hour_id) AS lo, max(hour_id) AS hi FROM c),
    grid AS (SELECT unnest(range(lo, hi + 1)) AS hour_id FROM span),
    g AS (SELECT grid.hour_id, CAST(coalesce(c.x, 0) AS BIGINT) AS x
          FROM grid LEFT JOIN c USING (hour_id)),
    d AS (
      SELECT hour_id, x,
             CAST(sum(x) OVER (ORDER BY hour_id
                               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
                  AS BIGINT) AS tsum,
             count(*) OVER (ORDER BY hour_id
                            ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
               AS cnt
      FROM g
    ),
    f AS (
      SELECT hour_id, x, tsum,
             CAST(x * 25 - tsum AS BIGINT) AS detr,
             hour_id % 24 AS hod
      FROM d WHERE cnt = 25
    ),
    se AS (
      SELECT hod, CAST(sum(detr) AS BIGINT) AS snum,
             CAST(count(*) AS BIGINT) AS n
      FROM f GROUP BY 1
    )
    SELECT f.hour_id, f.x AS n_events,
           round(tsum / 25.0, 4) AS trend,
           round(snum / (25.0 * n), 4) AS seasonal,
           round(detr / 25.0 - snum / (25.0 * n), 4) AS resid
    FROM f JOIN se USING (hod)
    """,
    tags=("temporal", "stats", "clickhouse-parity"),
    doc="ClickHouse seriesDecomposeSTL analog with DETERMINISTIC "
    "semantics (STL's loess is float-iterative and engine-specific; "
    "this is the classical additive decomposition the same monitoring "
    "use-case needs): trend = centered 25-hour moving average over the "
    "gap-filled hourly series, seasonal = per-hour-of-day mean of the "
    "detrended values, residual = the rest. The detrended value is "
    "kept SCALED BY 25 (x*25 - trend_sum) so every aggregate stays "
    "exact integer; the only doubles are the three final divisions, "
    "identical expression trees in both engines. Scale shape: the "
    "series family's contract — raw rows reduce map-side to the "
    "calendar-bounded histogram, every window/join after runs on "
    "O(hours) rows (bounded by TIME, not data volume), the seasonal "
    "table is 24 rows broadcast back.",
)
def hourly_series_decomposition(spark, sf_dir):
    s = _hourly_series(spark, sf_dir, "hourly_series_decomposition").drop(
        "lo"
    )
    w = Window.orderBy("hour_id").rowsBetween(-12, 12)
    d = s.withColumn("tsum", F.sum("x").over(w).cast("long")).withColumn(
        "_cnt", F.count("*").over(w)
    )
    f = d.filter(F.col("_cnt") == 25).select(
        "hour_id",
        "x",
        "tsum",
        (F.col("x") * 25 - F.col("tsum")).cast("long").alias("detr"),
        (F.col("hour_id") % 24).alias("hod"),
    )
    se = f.groupBy("hod").agg(
        F.sum("detr").cast("long").alias("snum"),
        F.count("*").cast("long").alias("n"),
    )
    return f.join(F.broadcast(se), "hod").select(
        "hour_id",
        F.col("x").alias("n_events"),
        F.round(F.col("tsum") / 25.0, 4).alias("trend"),
        F.round(F.col("snum") / (25.0 * F.col("n")), 4).alias("seasonal"),
        F.round(
            F.col("detr") / 25.0 - F.col("snum") / (25.0 * F.col("n")), 4
        ).alias("resid"),
    )


@register(
    "feature_corr_matrix",
    """
    WITH f AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             epoch_us(ts) // 3600000000 % 24 AS h,
             epoch_us(ts) // 86400000000 % 7 AS d
      FROM events
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS sv,
             CAST(sum(h) AS BIGINT) AS sh,
             CAST(sum(d) AS BIGINT) AS sd,
             sum(CAST(v AS HUGEINT) * v) AS svv,
             sum(CAST(h AS HUGEINT) * h) AS shh,
             sum(CAST(d AS HUGEINT) * d) AS sdd,
             sum(CAST(v AS HUGEINT) * h) AS svh,
             sum(CAST(v AS HUGEINT) * d) AS svd,
             sum(CAST(h AS HUGEINT) * d) AS shd
      FROM f
    )
    SELECT p.feat_a, p.feat_b,
           round(
             (CAST(n AS DOUBLE) * p.sab - CAST(p.sa AS DOUBLE) * p.sb)
             / sqrt((CAST(n AS DOUBLE) * p.saa
                       - CAST(p.sa AS DOUBLE) * p.sa)
                    * (CAST(n AS DOUBLE) * p.sbb
                       - CAST(p.sb AS DOUBLE) * p.sb)), 6) AS corr
    FROM m, LATERAL (
      SELECT unnest([
        {'feat_a': 'hour', 'feat_b': 'value',
         'sa': CAST(sh AS DOUBLE), 'sb': CAST(sv AS DOUBLE),
         'saa': CAST(shh AS DOUBLE), 'sbb': CAST(svv AS DOUBLE),
         'sab': CAST(svh AS DOUBLE)},
        {'feat_a': 'dow', 'feat_b': 'value',
         'sa': CAST(sd AS DOUBLE), 'sb': CAST(sv AS DOUBLE),
         'saa': CAST(sdd AS DOUBLE), 'sbb': CAST(svv AS DOUBLE),
         'sab': CAST(svd AS DOUBLE)},
        {'feat_a': 'dow', 'feat_b': 'hour',
         'sa': CAST(sd AS DOUBLE), 'sb': CAST(sh AS DOUBLE),
         'saa': CAST(sdd AS DOUBLE), 'sbb': CAST(shh AS DOUBLE),
         'sab': CAST(shd AS DOUBLE)}
      ], recursive := true)
    ) p
    """,
    tags=("agg", "stats", "clickhouse-parity"),
    doc="ClickHouse corrMatrix analog: the pairwise Pearson matrix over "
    "k derived features (value cents, hour-of-day, day-of-week) from "
    "ONE map-side-combined pass computing all k + k(k+1)/2 exact "
    "moments — the multi-feature generalization of "
    "value_hour_correlation. Squared/cross sums accumulate as "
    "decimal(38,0)/HUGEINT (the advisor-flagged long*long overflow "
    "class: cents^2 ~2.4e9/row exceeds int64 as a sum near 4e9 rows; "
    "38 digits hold it to ~4e28). The correlation closed form is "
    "evaluated as the IDENTICAL double expression both engines over "
    "those exact sums — merge-order-proof like value_moments_by_type. "
    "Output unpivots to (feat_a, feat_b, corr) rows via a constant "
    "3-element explode over the 1-row moment aggregate.",
)
def feature_corr_matrix(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    f = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.expr("ts_us div 3600000000 % 24").alias("h"),
        F.expr("ts_us div 86400000000 % 7").alias("d"),
    )
    dec = "decimal(38,0)"
    m = f.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum("h").cast("long").alias("sh"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("v").cast(dec) * F.col("v")).alias("svv"),
        F.sum(F.col("h").cast(dec) * F.col("h")).alias("shh"),
        F.sum(F.col("d").cast(dec) * F.col("d")).alias("sdd"),
        F.sum(F.col("v").cast(dec) * F.col("h")).alias("svh"),
        F.sum(F.col("v").cast(dec) * F.col("d")).alias("svd"),
        F.sum(F.col("h").cast(dec) * F.col("d")).alias("shd"),
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("feat_a"),
                F.lit(b).alias("feat_b"),
                F.col(sa).cast("double").alias("sa"),
                F.col(sb).cast("double").alias("sb"),
                F.col(saa).cast("double").alias("saa"),
                F.col(sbb).cast("double").alias("sbb"),
                F.col(sab).cast("double").alias("sab"),
            )
            for a, b, sa, sb, saa, sbb, sab in (
                ("hour", "value", "sh", "sv", "shh", "svv", "svh"),
                ("dow", "value", "sd", "sv", "sdd", "svv", "svd"),
                ("dow", "hour", "sd", "sh", "sdd", "shh", "shd"),
            )
        ]
    )
    nd = F.col("n").cast("double")
    ex = m.select("n", F.explode(pairs).alias("p")).select("n", "p.*")
    corr = (nd * F.col("sab") - F.col("sa") * F.col("sb")) / F.sqrt(
        (nd * F.col("saa") - F.col("sa") * F.col("sa"))
        * (nd * F.col("sbb") - F.col("sb") * F.col("sb"))
    )
    return ex.select(
        "feat_a", "feat_b", F.round(corr, 6).alias("corr")
    )


_SEQ_MIN_GAP_US = 3600 * 1000000  # (?t>3600): at least one hour later


@register(
    "sequence_match_min_gap",
    f"""
    WITH s AS (SELECT user_id, epoch_us(ts) AS ti FROM events
               WHERE event_type = 'signup'),
    c AS (SELECT user_id, epoch_us(ts) AS ti FROM events
          WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts) AS ti FROM events
          WHERE event_type = 'purchase'),
    qc AS (
      SELECT DISTINCT c.user_id, c.ti
      FROM c JOIN s ON s.user_id = c.user_id
       AND s.ti < c.ti AND c.ti - s.ti > {_SEQ_MIN_GAP_US}
    ),
    m AS (SELECT DISTINCT p.user_id
          FROM p JOIN qc ON qc.user_id = p.user_id AND qc.ti < p.ti)
    SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_matched,
           CAST((SELECT COUNT(DISTINCT user_id) FROM s) AS BIGINT)
             AS n_signup_users
    """,
    tags=("funnel", "sequence", "clickhouse-parity", "segmented-scan"),
    doc="ClickHouse sequenceMatch('(?1)(?t>3600)(?2)(?3)') parity — the "
    "MINIMUM-gap edge, the dual of sequence_match_pattern's (?t<3600): "
    "users whose click comes at least one hour after SOME signup, then "
    "a purchase strictly after that click (the slow-burn re-engagement "
    "shape). Where an upper-bounded edge needs the LATEST predecessor "
    "(closest = easiest to satisfy), a lower-bounded edge needs the "
    "EARLIEST: a click qualifies iff ts - (FIRST signup strictly "
    "before it) > T. Running min is the same associative extreme as "
    "running max, so the shared RANGE-SLICED chain scan emits _gSmin "
    "beside _gS (emit_min_signup flag — one more window column on the "
    "existing sort, one more carry column, zero new exchanges), and "
    "the purchase stage is the identical segmented running max over "
    "qualified-click timestamps. Skew story unchanged: a mega-user's "
    "timeline spreads across composite (user, ts) slices.",
)
def sequence_match_min_gap(spark, sf_dir):
    g = _funnel_chain_scan(spark, sf_dir, emit_min_signup=True)
    qts = F.when(
        (F.col("_k") == -1)
        & (F.col("_ts") - F.col("_gSmin") > F.lit(_SEQ_MIN_GAP_US)),
        F.col("_ts"),
    )
    return _qualified_click_purchase_match(spark, sf_dir, g, qts)


# ---------------------------------------------------------------------------
# sequenceMatch pattern compiler: arbitrary '(?N)' / '(?t<T)' / '(?t>T)' /
# '.*' strings -> a chain of segmented running-extrema passes. The two
# fixed entries above each hardcode one 3-step pattern; the compiler is
# the general form the r6 verdict asked for.
# ---------------------------------------------------------------------------

def _seq_running(df, use_min: bool):
    """One segmented running-extrema pass over the per-(event, step)
    stream: adds ``_G`` = running min/max of ``_q`` over strictly-earlier
    rows in per-user (ts, kind) order. Same window + tiny-carry + join
    shape as _qualified_click_purchase_match; after the FIRST pass the
    frame is hash-partitioned on (_sl, user_id), so every later pass's
    window and carry aggregate add no exchange."""
    agg = F.min if use_min else F.max
    comb = F.least if use_min else F.greatest
    w_loc = (
        Window.partitionBy("_sl", "user_id")
        .orderBy("_ts", "_k2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = df.groupBy("_sl", "user_id").agg(agg("_q").alias("_go"))
    w_off = (
        Window.partitionBy("user_id")
        .orderBy("_sl")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = carry.select(
        "_sl", "user_id", agg("_go").over(w_off).alias("_gi")
    )
    # ONE select computes the local window inline and combines with the
    # carry-in (r13, guide §7.3): each DataFrame op runs EAGER analysis
    # over the whole accumulated chain plan, so the former
    # withColumn(_lg) / withColumn(_G) / drop trio paid three extra
    # analysis walks per pass — on a K-pass chain that is O(K²) analyzer
    # work the fused select avoids
    return df.join(offs, ["_sl", "user_id"]).select(
        *[F.col(c) for c in df.columns],
        comb(agg("_q").over(w_loc), F.col("_gi")).alias("_G"),
    )


def _seq_running_multi(df, specs):
    """Fused :func:`_seq_running`: ONE segmented running-extrema pass
    evaluating several patterns' chains at once (r12, guide §2.4).
    ``specs`` = [(qcol, use_min)]; adds ``_G_<qcol>`` per spec. All
    window functions share the single (_sl, user_id)/(_ts, _k2) window
    spec, so Spark evaluates them in one WindowExec over one sort; the
    carry aggregate, the offsets window and the join-back run once for
    the whole group instead of once per pattern — measured on
    sequence_match_compiled: 12 window+carry+join passes -> 8 fused
    passes (6.97 s baseline, see OPTIMIZATION_r12.md)."""
    w_loc = (
        Window.partitionBy("_sl", "user_id")
        .orderBy("_ts", "_k2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = df.groupBy("_sl", "user_id").agg(
        *[
            (F.min if use_min else F.max)(q).alias(f"_go_{q}")
            for q, use_min in specs
        ]
    )
    w_off = (
        Window.partitionBy("user_id")
        .orderBy("_sl")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = carry.select(
        "_sl",
        "user_id",
        *[
            (F.min if use_min else F.max)(f"_go_{q}")
            .over(w_off)
            .alias(f"_gi_{q}")
            for q, use_min in specs
        ],
    )
    # ONE select for every spec's local window + carry combination (r13,
    # guide §7.3): the former per-spec withColumn/drop loops ran 3-4
    # eager analysis walks of the accumulated chain plan per SPEC per
    # pass; Spark still evaluates all window functions in one WindowExec
    # (shared window spec), so the physical plan is unchanged
    return df.join(offs, ["_sl", "user_id"]).select(
        *[F.col(c) for c in df.columns],
        *[
            (F.least if use_min else F.greatest)(
                (F.min if use_min else F.max)(q).over(w_loc),
                F.col(f"_gi_{q}"),
            ).alias(f"_G_{q}")
            for q, use_min in specs
        ],
    )


def _seq_edge_ok(edge, g_col):
    """The per-edge qualification predicate shared by the single and
    fused match chains ('==' edges take the join path instead)."""
    if edge is None:
        return g_col.isNotNull()
    gap = F.col("_ts") - g_col
    if edge[0] == "<":
        return g_col.isNotNull() & (gap < F.lit(edge[1]))
    if edge[0] == "<=":
        return g_col.isNotNull() & (gap <= F.lit(edge[1]))
    if edge[0] == ">=":
        return g_col.isNotNull() & (gap >= F.lit(edge[1]))
    return g_col.isNotNull() & (gap > F.lit(edge[1]))


# condition index -> event type, fixed for the registry entry (a library
# caller passes their own mapping to _sequence_match_users)
_SEQ_CONDS = ("signup", "click", "purchase", "view")


def _seq_base_stream(spark, sf_dir, all_types, events=None):
    """The PATTERN-INDEPENDENT sliced event stream the compiled family
    shares: one row per event matching any condition type, composite
    (user, ts) slice precomputed. One parquet scan + one slice-quantile
    job no matter how many patterns compile against it; the entry
    persists it (rotating CacheScope) so each pattern's passes read the
    in-memory frame instead of re-executing the scan subtree per
    branch (6 patterns re-ran it 6x before r9). ``events``: optional
    caller-supplied frame (user_id, ts_us, event_type) — the library
    dispatchers (operators/sequence.py) inject one instead of loading
    the registry table."""
    from ..operators.ranking import composite_slice_key, slice_expr

    ev = (
        (t(spark, sf_dir, "events") if events is None else events)
        .select(
            "user_id", "event_type", F.col("ts_us").cast("long").alias("_ts")
        )
        .filter(F.col("event_type").isin(*set(all_types)))
    )
    n_slices = spark.sparkContext.defaultParallelism
    return ev.withColumn(
        "_sl",
        slice_expr(ev, composite_slice_key("user_id", "_ts"), n_slices),
    )


def _seq_stream(spark, sf_dir, types: list[str], _base=None, events=None):
    """The per-(event, step) sliced stream for a step-type list: one row
    per event per matching step, kind = -step so later steps sort first
    at equal ts. Factored out of _sequence_match_users so patterns over
    the SAME type list (e.g. the compiled entry's (?t<T)/(?t>T) pair)
    share one stream object — one slice-quantile driver job instead of
    one per pattern, and identical plan subtrees for AQE's runtime
    exchange reuse when the patterns evaluate in one job. ``_base``:
    optional pre-sliced (and typically persisted) event stream from
    :func:`_seq_base_stream`; when given, the per-step rows are plain
    projections of it — no new scan, no new quantile job, and slice ids
    stay consistent across every pattern sharing the base."""
    if _base is None:
        _base = _seq_base_stream(spark, sf_dir, types, events=events)
    parts = [
        _base.filter(F.col("event_type") == types[k]).select(
            "user_id",
            "_ts",
            F.lit(-(k + 1)).alias("_k2"),
            F.lit(k + 1).alias("_step"),
            "_sl",
        )
        for k in range(len(types))
    ]
    st = parts[0]
    for p in parts[1:]:
        st = st.unionByName(p)
    return st


def _sequence_match_users(
    spark, sf_dir, pattern: str, conds=_SEQ_CONDS, _stream_cache=None,
    _base=None, events=None, scope=None,
):
    """Users whose event stream matches ``pattern`` under the family's
    pinned existence semantics: a chain e_1 < e_2 < ... < e_K strictly
    increasing in time, e_i matching condition steps[i], each
    constrained edge satisfied against the CHOSEN predecessor.

    Per-edge optimal predecessors make one forward pass exact: an
    upper-bounded edge ((?t<T)) is easiest against the LATEST reachable
    predecessor, a lower-bounded one ((?t>T)) against the EARLIEST, an
    unconstrained one against either — all associative running extrema,
    so step-k reachability is one _seq_running pass over step-(k-1)
    qualified timestamps. K-1 passes total, each a tiny carry, no
    self-joins on raw rows, composite (user, ts) slices — a mega-user
    spreads across tasks. Same-ts processing order pinned: later steps
    sort before earlier ones (kind = -step), so running values at a row
    see only strictly-earlier timestamps, and an event matching two
    adjacent repeated conditions never chains with itself.

    ``_stream_cache``: optional dict keyed by the step-type tuple;
    callers evaluating several patterns in one job (the registry entry)
    pass one dict so same-typed patterns share a stream. ``_base``:
    optional shared pre-sliced event stream (see _seq_base_stream) —
    the registry entry persists one and compiles all patterns against
    it. ``scope``: optional CacheScope; when given, the chain frame is
    persisted after each NON-FINAL pass (r12, guide §2.4/§5): pass
    k+1's carry aggregate branches off the chain BELOW any exchange, so
    without a materialization point its map stage re-executes every
    window/join of passes 1..k — O(K²) window sorts for a K-pass chain
    (measured: the 3-pass 4-step chain at 4.0 s plain vs 3.0 s
    persisted at sf0.1; re-execution grows with chain depth while the
    persist cost stays one stream-sized write per pass)."""
    from ..operators.cache import checkpoint_in

    steps, edges = _parse_seq_pattern(pattern)
    bad = [i for i in steps if i > len(conds)]
    if bad:
        raise ValueError(
            f"sequenceMatch pattern: condition index (?{bad[0]}) out of "
            f"range — {len(conds)} conditions defined"
        )
    types = [conds[i - 1] for i in steps]
    key = tuple(types)
    if _stream_cache is not None and key in _stream_cache:
        st = _stream_cache[key]
    else:
        st = _seq_stream(spark, sf_dir, types, _base=_base, events=events)
        if _stream_cache is not None:
            _stream_cache[key] = st
    cur = st.withColumn("_q", F.when(F.col("_step") == 1, F.col("_ts")))
    for k in range(2, len(steps) + 1):
        edge = edges[k - 2]
        if edge is not None and edge[0] == "==":
            # exact-offset edge: neither running extreme answers
            # "exists a qualified predecessor at EXACTLY ts - T", so
            # this edge is one distributed hash join of the step-k
            # stream against the qualified step-(k-1) timestamps
            # shifted by +T (distinct -> at most one hit per row, no
            # duplication). T == 0 can never hold on a strictly
            # increasing chain, pinned statically.
            hits = (
                cur.filter(
                    (F.col("_step") == k - 1) & F.col("_q").isNotNull()
                )
                .select(
                    F.col("user_id").alias("_u_eq"),
                    (F.col("_ts") + F.lit(edge[1])).alias("_ts_eq"),
                )
                .distinct()
            )
            cur = cur.join(
                hits,
                (F.col("user_id") == F.col("_u_eq"))
                & (F.col("_ts") == F.col("_ts_eq")),
                "left",
            )
            ok = F.col("_ts_eq").isNotNull() & F.lit(edge[1] > 0)
            cur = cur.withColumn(
                "_q", F.when((F.col("_step") == k) & ok, F.col("_ts"))
            ).drop("_u_eq", "_ts_eq")
            if scope is not None and k < len(steps):
                cur = checkpoint_in(scope, cur)
            continue
        cur = _seq_running(
            cur, use_min=edge is not None and edge[0] in (">", ">=")
        )
        if edge is None:
            ok = F.col("_G").isNotNull()
        elif edge[0] == "<":
            ok = F.col("_G").isNotNull() & (
                F.col("_ts") - F.col("_G") < F.lit(edge[1])
            )
        elif edge[0] == "<=":
            ok = F.col("_G").isNotNull() & (
                F.col("_ts") - F.col("_G") <= F.lit(edge[1])
            )
        elif edge[0] == ">=":
            ok = F.col("_G").isNotNull() & (
                F.col("_ts") - F.col("_G") >= F.lit(edge[1])
            )
        else:
            ok = F.col("_G").isNotNull() & (
                F.col("_ts") - F.col("_G") > F.lit(edge[1])
            )
        # one select (not withColumn+drop): every DataFrame op is an
        # eager analysis walk of the accumulated chain plan (guide §7.3)
        cur = cur.select(
            *[c for c in cur.columns if c not in ("_q", "_G")],
            F.when((F.col("_step") == k) & ok, F.col("_ts")).alias("_q"),
        )
        if scope is not None and k < len(steps):
            cur = checkpoint_in(scope, cur)
    return (
        cur.filter((F.col("_step") == len(steps)) & F.col("_q").isNotNull())
        .select("user_id")
        .distinct()
    )


_SEQ_COMPILED_PATTERNS = (
    "(?1)(?t<3600)(?2)(?3)",
    "(?1)(?t>3600)(?2)(?3)",
    "(?1)(?2)(?t<7200)(?3)(?t>600)(?4)",
    "(?1).*(?3)(?t<86400)(?4)",
    # r8: the inclusive operators join the compiled battery
    "(?1)(?t<=7200)(?2)(?3)",
    "(?2)(?t>=600)(?3)",
)


@register(
    "sequence_match_compiled",
    """
    WITH s AS (SELECT user_id, epoch_us(ts) AS ti FROM events
               WHERE event_type = 'signup'),
    c AS (SELECT user_id, epoch_us(ts) AS ti FROM events
          WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts) AS ti FROM events
          WHERE event_type = 'purchase'),
    v AS (SELECT user_id, epoch_us(ts) AS ti FROM events
          WHERE event_type = 'view'),
    q1c AS (SELECT DISTINCT c.user_id, c.ti FROM c JOIN s
            ON s.user_id = c.user_id AND s.ti < c.ti
           AND c.ti - s.ti < 3600000000),
    m1 AS (SELECT DISTINCT p.user_id FROM p JOIN q1c
           ON q1c.user_id = p.user_id AND q1c.ti < p.ti),
    q2c AS (SELECT DISTINCT c.user_id, c.ti FROM c JOIN s
            ON s.user_id = c.user_id AND s.ti < c.ti
           AND c.ti - s.ti > 3600000000),
    m2 AS (SELECT DISTINCT p.user_id FROM p JOIN q2c
           ON q2c.user_id = p.user_id AND q2c.ti < p.ti),
    q3c AS (SELECT DISTINCT c.user_id, c.ti FROM c JOIN s
            ON s.user_id = c.user_id AND s.ti < c.ti),
    q3p AS (SELECT DISTINCT p.user_id, p.ti FROM p JOIN q3c
            ON q3c.user_id = p.user_id AND q3c.ti < p.ti
           AND p.ti - q3c.ti < 7200000000),
    m3 AS (SELECT DISTINCT v.user_id FROM v JOIN q3p
           ON q3p.user_id = v.user_id AND q3p.ti < v.ti
          AND v.ti - q3p.ti > 600000000),
    q4p AS (SELECT DISTINCT p.user_id, p.ti FROM p JOIN s
            ON s.user_id = p.user_id AND s.ti < p.ti),
    m4 AS (SELECT DISTINCT v.user_id FROM v JOIN q4p
           ON q4p.user_id = v.user_id AND q4p.ti < v.ti
          AND v.ti - q4p.ti < 86400000000),
    q5c AS (SELECT DISTINCT c.user_id, c.ti FROM c JOIN s
            ON s.user_id = c.user_id AND s.ti < c.ti
           AND c.ti - s.ti <= 7200000000),
    m5 AS (SELECT DISTINCT p.user_id FROM p JOIN q5c
           ON q5c.user_id = p.user_id AND q5c.ti < p.ti),
    m6 AS (SELECT DISTINCT p.user_id FROM p JOIN c
           ON c.user_id = p.user_id AND c.ti < p.ti
          AND p.ti - c.ti >= 600000000)
    SELECT pattern, n_matched FROM (
      SELECT '(?1)(?t<3600)(?2)(?3)' AS pattern,
             CAST((SELECT count(*) FROM m1) AS BIGINT) AS n_matched
      UNION ALL
      SELECT '(?1)(?t>3600)(?2)(?3)',
             CAST((SELECT count(*) FROM m2) AS BIGINT)
      UNION ALL
      SELECT '(?1)(?2)(?t<7200)(?3)(?t>600)(?4)',
             CAST((SELECT count(*) FROM m3) AS BIGINT)
      UNION ALL
      SELECT '(?1).*(?3)(?t<86400)(?4)',
             CAST((SELECT count(*) FROM m4) AS BIGINT)
      UNION ALL
      SELECT '(?1)(?t<=7200)(?2)(?3)',
             CAST((SELECT count(*) FROM m5) AS BIGINT)
      UNION ALL
      SELECT '(?2)(?t>=600)(?3)',
             CAST((SELECT count(*) FROM m6) AS BIGINT)
    )
    """,
    tags=("funnel", "sequence", "clickhouse-parity", "segmented-scan"),
    doc="ClickHouse sequenceMatch PATTERN COMPILER: arbitrary "
    "'(?N)' / '(?t<T)' / '(?t>T)' / '.*' strings compile to a chain of "
    "segmented running-extrema passes (_parse_seq_pattern + "
    "_sequence_match_users) — the general form of the two fixed "
    "entries above, which pin the per-edge machinery it reuses: an "
    "upper-bounded edge takes the LATEST reachable predecessor "
    "(running max), a lower-bounded one the EARLIEST (running min), "
    "'.*' is a no-op under existence semantics. This entry drives the "
    "compiler with SIX distinct patterns, including a 4-step chain "
    "with mixed (?t<)/(?t>) edges, a '.*' separator, and the "
    "inclusive (?t<=)/(?t>=) operators (r8; '==' is an exact-offset "
    "hash join, pytest-pinned on a constructed fixture); the first two "
    "must agree with sequence_match_pattern / sequence_match_min_gap "
    "(pytest-pinned). K-1 passes for a K-step pattern, each one tiny "
    "carry on composite (user, ts) slices; after the first pass the "
    "frame stays hash-partitioned on (_sl, user_id), so later passes "
    "add no exchange. Conditions: 1=signup 2=click 3=purchase 4=view.",
)
def sequence_match_compiled(spark, sf_dir):
    from ..operators.cache import checkpoint_in, rotating_scope

    # ONE materialized pattern-independent sliced stream (r9): before,
    # each of the six patterns re-executed the scan+filter+quantile
    # subtree — the suite's most expensive row (9.2 s). All per-pattern
    # (event, step) streams are projections of this frame; r13
    # checkpoints instead of persisting so the six chains' eager
    # analyses and the action-time optimizer walk a LEAF, not the full
    # scan+slice subtree (cache.checkpoint_in: build 0.87 -> 0.61 s,
    # execute 2.99 -> 1.93 s on the deep chain alone).
    scope = rotating_scope("sequence_match_compiled")
    base = checkpoint_in(scope, _seq_base_stream(spark, sf_dir, _SEQ_CONDS))
    # r12 (guide §2.4): patterns over the SAME step-type tuple have the
    # same step sequence, so their K-1 running-extrema passes differ
    # only in which extremum each pattern takes of ITS qualified-ts
    # column — fuse each group into one chain of _seq_running_multi
    # passes (one window sort, one carry, one join per step instead of
    # per pattern-step). '==' edges keep the single-pattern join path.
    groups: dict[tuple, list[tuple[str, list, list]]] = {}
    ordered: list[str] = []
    for pat in _SEQ_COMPILED_PATTERNS:
        steps, edges = _parse_seq_pattern(pat)
        types = tuple(_SEQ_CONDS[i - 1] for i in steps)
        groups.setdefault(types, []).append((pat, steps, edges))
        ordered.append(pat)
    frames: list[DataFrame] = []
    for types, members in groups.items():
        if any(
            e is not None and e[0] == "=="
            for _, _, edges in members
            for e in edges
        ) or len(members) == 1:
            for pat, p_steps, _ in members:
                frames.append(
                    _sequence_match_users(
                        spark,
                        sf_dir,
                        pat,
                        _base=base,
                        # materialize between passes only on DEEP chains
                        # (>= 3 running passes): there the carry-branch
                        # re-execution grows quadratically; on 1-2-pass
                        # chains the re-executed work back-fills idle
                        # cores inside the same job and a persist only
                        # adds a write barrier (measured: entry 6.9 ->
                        # 7.2 s with persists on every chain, 6.9 ->
                        # 5.9 s deep-only)
                        scope=scope if len(p_steps) >= 4 else None,
                    )
                    .agg(F.count("*").cast("long").alias("n_matched"))
                    .select(F.lit(pat).alias("pattern"), "n_matched")
                )
            continue
        st = _seq_stream(spark, sf_dir, list(types), _base=base)
        k_total = len(members[0][1])
        # ONE select seeds every member's qualified-ts column; ONE
        # select per pass applies every member's edge predicate (r13,
        # guide §7.3: each DataFrame op is an eager analysis walk of
        # the whole accumulated chain plan — the former per-member
        # withColumn/drop loops multiplied that by 2 x members per pass)
        keep = st.columns
        cur = st.select(
            "*",
            *[
                F.when(F.col("_step") == 1, F.col("_ts")).alias(f"_q{i}")
                for i in range(len(members))
            ],
        )
        for k in range(2, k_total + 1):
            specs = [
                (
                    f"_q{i}",
                    members[i][2][k - 2] is not None
                    and members[i][2][k - 2][0] in (">", ">="),
                )
                for i in range(len(members))
            ]
            cur = _seq_running_multi(cur, specs)
            cur = cur.select(
                *keep,
                *[
                    F.when(
                        (F.col("_step") == k)
                        & _seq_edge_ok(
                            members[i][2][k - 2], F.col(f"_G__q{i}")
                        ),
                        F.col("_ts"),
                    ).alias(f"_q{i}")
                    for i in range(len(members))
                ],
            )
            # materialize between passes on deep chains only (see the
            # singleton branch above for the measured rationale)
            if k < k_total and k_total >= 4:
                cur = checkpoint_in(scope, cur)
        # ONE aggregation over the fused chain for ALL member counts: a
        # per-member filter-then-distinct would reference `cur` once per
        # pattern, and everything above the chain's last Exchange (the
        # final window pass + join) re-executes per reference — measured
        # 11.9 s vs 7.8 s unfused. count_distinct over the qualified-
        # flag column is the same distinct-users number in one pass.
        last = cur.filter(F.col("_step") == k_total)
        one = last.agg(
            *[
                F.count_distinct(
                    F.when(
                        F.col(f"_q{i}").isNotNull(), F.col("user_id")
                    )
                )
                .cast("long")
                .alias(f"_c{i}")
                for i in range(len(members))
            ]
        )
        stack_args = ", ".join(
            f"'{members[i][0]}', _c{i}" for i in range(len(members))
        )
        frames.append(
            one.selectExpr(
                f"stack({len(members)}, {stack_args}) "
                "as (pattern, n_matched)"
            )
        )
    out = None
    for m in frames:
        out = m if out is None else out.unionByName(m)
    return out


def _adjacent_event_stream(spark, sf_dir, conds=_SEQ_CONDS, events=None):
    """The ranked condition-event stream adjacency matching runs over:
    one row per event matching ANY declared condition (undeclared types
    are invisible, exactly ClickHouse's rule), ``_rank`` = 1-based
    per-user position under the pinned total order (ts, event_type),
    ``_sl`` = composite (user, ts) slice for the segmented passes. Rank
    is skew-safe (operators/ranking.ranked, never a whole-user sort on
    one task); ties among identical (user, ts, type) rows are
    interchangeable, so the matched-user set is order-invariant."""
    from ..operators.ranking import (
        composite_slice_key,
        ranked,
        slice_bounds,
        slice_from_bounds,
    )

    ev = (
        (t(spark, sf_dir, "events") if events is None else events)
        .select(
            "user_id",
            F.col("ts_us").cast("long").alias("_ets"),
            "event_type",
        )
        .filter(F.col("event_type").isin(*set(conds)))
    )
    # ONE quantile job over the raw filtered stream (r12, guide §1.2):
    # the ranker and the output slice column share its literals — the
    # second slice_expr here used to run a fresh quantile job whose
    # input lineage re-executed the entire ranked subtree (measured
    # 1.2 s of 6.0 s at sf0.1)
    n_slices = spark.sparkContext.defaultParallelism
    key = composite_slice_key("user_id", "_ets")
    bounds = slice_bounds(ev, key, n_slices)
    base = ranked(
        ev,
        ["user_id"],
        ["_ets", "event_type"],
        slice_col=key,
        bounds=bounds,
        # the offsets table is O(distinct users) — it GROWS with the
        # data, so broadcasting it is the super-linear trap the first
        # scale probe caught (x30 ratio 4.6); AQE picks the join
        broadcast_offsets=False,
    ).drop("_n")
    return base.withColumn("_sl", slice_from_bounds(key, bounds))


def _sequence_match_adjacent_users(
    spark, sf_dir, pattern: str, conds=_SEQ_CONDS, _base_cache=None,
    events=None,
):
    """Users matching ``pattern`` under ClickHouse-EXACT adjacency
    semantics (AggregateFunctionSequenceMatch.h): events matching no
    declared condition are invisible; an edge written with NO separator
    ('(?1)(?2)') requires the two events to be CONSECUTIVE in the
    remaining condition-matching stream; '.*' and time-constrained
    edges permit any number of intervening condition events (a time
    constraint compiles to KleeneStar + a gap check in the reference
    engine). Contrast with _sequence_match_users, which pins the
    existence reading where every edge is implicitly '.*'.

    Exact position DP, one distributed pass per edge, no backtracking:
    qualified(k) is the full SET of stream positions where a length-k
    prefix match can end, so per-edge extremal predecessor choice stays
    exact for whatever follows —
      adjacent edge   hash join on (user, rank) == (user, prev_rank+1)
                      (the window_funnel_strict_order contiguity trick;
                      rank spreads a mega-user across the hash space)
      '.*' edge       per-user MIN qualified rank (tiny agg) + filter
      (?t<|<=|>|>=)   segmented running max/min of qualified prev ts in
                      RANK order via _seq_running on composite (user,
                      ts) slices — latest prior predecessor decides an
                      upper bound, earliest a lower bound, exactly
      (?t==T)         exact-offset hash join on (user, ts + T), T>0
                      pinned statically (a strict chain can't gain 0)

    ``_base_cache``: optional single-element dict; callers evaluating
    several patterns over the same conds share one ranked stream (one
    slice-quantile job, one shared plan subtree)."""
    steps, edges, adjacent = _parse_seq_pattern(pattern, with_adjacency=True)
    bad = [i for i in steps if i > len(conds)]
    if bad:
        raise ValueError(
            f"sequenceMatch pattern: condition index (?{bad[0]}) out of "
            f"range — {len(conds)} conditions defined"
        )
    types = [conds[i - 1] for i in steps]
    key = tuple(conds)
    if _base_cache is not None and key in _base_cache:
        base = _base_cache[key]
    else:
        base = _adjacent_event_stream(spark, sf_dir, conds, events=events)
        if _base_cache is not None:
            _base_cache[key] = base
    q = base.filter(F.col("event_type") == types[0]).select(
        "_sl", "user_id", "_rank", "_ets"
    )
    for k in range(1, len(steps)):
        cand = base.filter(F.col("event_type") == types[k])
        edge = edges[k - 1]
        if adjacent[k - 1]:
            q = cand.join(
                q.select("user_id", (F.col("_rank") + 1).alias("_rank")),
                ["user_id", "_rank"],
            ).select("_sl", "user_id", "_rank", "_ets")
            continue
        if edge is None:
            prev = q.groupBy("user_id").agg(F.min("_rank").alias("_rmin"))
            q = (
                cand.join(prev, "user_id")
                .filter(F.col("_rank") > F.col("_rmin"))
                .select("_sl", "user_id", "_rank", "_ets")
            )
            continue
        if edge[0] == "==":
            hits = q.select(
                F.col("user_id").alias("_u_eq"),
                (F.col("_ets") + F.lit(edge[1])).alias("_ts_eq"),
            ).distinct()
            q = (
                cand.join(
                    hits,
                    (F.col("user_id") == F.col("_u_eq"))
                    & (F.col("_ets") == F.col("_ts_eq")),
                )
                .filter(F.lit(edge[1] > 0))
                .select("_sl", "user_id", "_rank", "_ets")
            )
            continue
        # bounded free edge: running extrema of qualified prev ts over
        # rank order. Candidates sort before markers at equal rank
        # (_k2 0 < 1), so a row never chains with itself.
        use_min = edge[0] in (">", ">=")
        markers = q.select(
            "_sl",
            "user_id",
            F.col("_rank").alias("_ts"),
            F.lit(1).alias("_k2"),
            F.col("_ets").alias("_q"),
            F.lit(None).cast("long").alias("_cets"),
            F.lit(None).cast("long").alias("_crank"),
        )
        cands = cand.select(
            "_sl",
            "user_id",
            F.col("_rank").alias("_ts"),
            F.lit(0).alias("_k2"),
            F.lit(None).cast("long").alias("_q"),
            F.col("_ets").alias("_cets"),
            F.col("_rank").alias("_crank"),
        )
        run = _seq_running(markers.unionByName(cands), use_min=use_min)
        gap = F.col("_cets") - F.col("_G")
        ok = F.col("_G").isNotNull() & (
            gap < F.lit(edge[1])
            if edge[0] == "<"
            else gap <= F.lit(edge[1])
            if edge[0] == "<="
            else gap >= F.lit(edge[1])
            if edge[0] == ">="
            else gap > F.lit(edge[1])
        )
        q = (
            run.filter((F.col("_k2") == 0) & ok)
            .select(
                "_sl",
                "user_id",
                F.col("_crank").alias("_rank"),
                F.col("_cets").alias("_ets"),
            )
        )
    return q.select("user_id").distinct()


_SEQ_ADJ_PATTERNS = (
    "(?1)(?2)",
    "(?1).*(?2)",
    "(?2)(?3)(?4)",
    "(?1)(?t<86400)(?3)(?4)",
)


@register(
    "sequence_match_adjacent",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ti, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_type
             ) AS r
      FROM events
      WHERE event_type IN ('signup', 'click', 'purchase', 'view')
    ),
    m1 AS (SELECT DISTINCT a.user_id FROM e a JOIN e b
            ON b.user_id = a.user_id AND b.r = a.r + 1
           WHERE a.event_type = 'signup' AND b.event_type = 'click'),
    m2 AS (SELECT DISTINCT a.user_id FROM e a JOIN e b
            ON b.user_id = a.user_id AND b.r > a.r
           WHERE a.event_type = 'signup' AND b.event_type = 'click'),
    m3 AS (SELECT DISTINCT a.user_id FROM e a
           JOIN e b ON b.user_id = a.user_id AND b.r = a.r + 1
           JOIN e c ON c.user_id = a.user_id AND c.r = a.r + 2
           WHERE a.event_type = 'click' AND b.event_type = 'purchase'
             AND c.event_type = 'view'),
    m4 AS (SELECT DISTINCT b.user_id FROM e a
           JOIN e b ON b.user_id = a.user_id AND b.r > a.r
                   AND b.ti - a.ti < 86400000000
           JOIN e c ON c.user_id = b.user_id AND c.r = b.r + 1
           WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
             AND c.event_type = 'view')
    SELECT pattern, n_matched FROM (
      SELECT '(?1)(?2)' AS pattern,
             CAST((SELECT count(*) FROM m1) AS BIGINT) AS n_matched
      UNION ALL
      SELECT '(?1).*(?2)', CAST((SELECT count(*) FROM m2) AS BIGINT)
      UNION ALL
      SELECT '(?2)(?3)(?4)', CAST((SELECT count(*) FROM m3) AS BIGINT)
      UNION ALL
      SELECT '(?1)(?t<86400)(?3)(?4)',
             CAST((SELECT count(*) FROM m4) AS BIGINT)
    )
    """,
    tags=("funnel", "sequence", "clickhouse-parity", "segmented-scan"),
    doc="ClickHouse-EXACT sequenceMatch adjacency semantics "
    "(AggregateFunctionSequenceMatch.h; docs example: pattern "
    "'(?1)(?2)' over rows (1,1),(2,3),(3,2) with conditions "
    "number=1,2,3 returns 0 because the declared-but-unused condition "
    "3 event sits between them, while '(?1).*(?2)' returns 1 — both "
    "pinned in tests/test_sequence_adjacent.py). Events matching no "
    "declared condition are invisible ('error' rows here); a bare "
    "edge requires CONSECUTIVE positions in the remaining stream; "
    "'.*' and time-constrained edges allow intervening events. "
    "Position DP over the skew-safe ranked stream: adjacency edges "
    "are (user, rank+1) hash joins (the window_funnel_strict_order "
    "contiguity trick), '.*' edges a per-user min-rank agg, bounded "
    "edges one segmented running-extrema pass in rank order. The four "
    "patterns share one ranked stream (one slice-quantile job). "
    "Conditions: 1=signup 2=click 3=purchase 4=view.",
)
def sequence_match_adjacent(spark, sf_dir):
    from ..operators.cache import checkpoint_in, rotating_scope

    out = None
    # materialize the shared ranked stream: every pattern's position DP
    # reads it several times (candidate filters + marker sides); r13
    # checkpoint — the DP branches' analyses/optimizer walk a leaf
    cache: dict = {
        tuple(_SEQ_CONDS): checkpoint_in(
            rotating_scope("sequence_match_adjacent"),
            _adjacent_event_stream(spark, sf_dir, _SEQ_CONDS),
        )
    }
    for pat in _SEQ_ADJ_PATTERNS:
        m = (
            _sequence_match_adjacent_users(
                spark, sf_dir, pat, _base_cache=cache
            )
            .agg(F.count("*").cast("long").alias("n_matched"))
            .select(F.lit(pat).alias("pattern"), "n_matched")
        )
        out = m if out is None else out.unionByName(m)
    return out


_SEQ_COUNT_PATTERNS = ("(?1)(?2)(?3)", "(?1)(?3)")


def _seq_count_oracle() -> str:
    """DuckDB twin of the restart automaton: one recursive CTE per
    pattern advances ONE automaton step per iteration (the LATERAL picks
    the first expected-condition event strictly after the cursor in
    (ts, event_id) order), so recursion depth is bounded by per-user
    advances, fine at oracle scale."""
    chains = []
    selects = []
    for idx, pat in enumerate(_SEQ_COUNT_PATTERNS):
        steps, _ = _parse_seq_pattern(pat)
        types = [_SEQ_CONDS[i - 1] for i in steps]
        k = len(types)
        case = " ".join(
            f"WHEN {s} THEN '{types[s]}'" for s in range(k)
        )
        chains.append(
            f"""
    st{idx} AS (
      SELECT user_id, CAST(-9223372036854775807 AS BIGINT) AS tu,
             CAST(-9223372036854775807 AS BIGINT) AS eid,
             0 AS s, 0 AS cnt
      FROM (SELECT DISTINCT user_id FROM f)
      UNION ALL
      SELECT st{idx}.user_id, nx.tu, nx.eid,
             CASE WHEN st{idx}.s + 1 = {k} THEN 0 ELSE st{idx}.s + 1 END,
             st{idx}.cnt + CASE WHEN st{idx}.s + 1 = {k} THEN 1 ELSE 0 END
      FROM st{idx}, LATERAL (
        SELECT e.tu, e.eid FROM f e
        WHERE e.user_id = st{idx}.user_id
          AND e.et = CASE st{idx}.s {case} END
          AND (e.tu > st{idx}.tu
               OR (e.tu = st{idx}.tu AND e.eid > st{idx}.eid))
        ORDER BY e.tu, e.eid LIMIT 1
      ) nx
    )"""
        )
        selects.append(
            f"""
      SELECT '{pat}' AS pattern, user_id,
             CAST(max(cnt) AS BIGINT) AS seq_count
      FROM st{idx} GROUP BY user_id HAVING max(cnt) >= 1"""
        )
    return (
        """
    WITH RECURSIVE f AS (
      SELECT user_id, epoch_us(ts) AS tu, event_id AS eid,
             event_type AS et
      FROM events
      WHERE event_type IN ('signup', 'click', 'purchase')
    ),"""
        + ",".join(chains)
        + "\n    SELECT pattern, user_id, seq_count FROM ("
        + " UNION ALL ".join(selects)
        + "\n    )"
    )


@register(
    "sequence_count_compiled",
    _seq_count_oracle(),
    tags=("funnel", "sequence", "clickhouse-parity", "arrow-kernel"),
    doc="ClickHouse sequenceCount RESTART semantics, compiled for "
    "arbitrary unconstrained patterns: per user, the number of "
    "non-overlapping greedy chains — the automaton advances on the "
    "expected condition, ignores everything else, and restarts after "
    "each completed match (countAll in "
    "AggregateFunctionSequenceMatch.h). Distinct from "
    "sequence_pair_count's parenthesis-matching maximum: for "
    "s s p p, '(?1)(?3)' restart-counts 1 where matching pairs 2 "
    "(pytest-pinned on that fixture). Implementation: the serial fold "
    "becomes associative FUNCTION COMPOSITION — per composite "
    "(user, ts) slice one Arrow batch tabulates entry-state -> "
    "(exit-state, matches) by advancing the restart DFA's whole state "
    "vector one gather per event (slice-bounded); per user the "
    "<= n_slices function rows fold in slice order (bounded state, the "
    "applyInPandas shape the brief prescribes). Oracle: one recursive "
    "CTE per pattern stepping the same automaton one advance per "
    "iteration. Tie order (ts, event_id) pinned both engines. "
    "Time-constrained edges raise (state would carry timestamps); the "
    "existence compiler covers those.",
)
def sequence_count_compiled(spark, sf_dir):
    from ..operators.cache import checkpoint_in, rotating_scope

    # ONE materialized pattern-independent sliced base for the battery
    # (r12): each pattern ran its own scan + slice-quantile job before.
    # r13: checkpointed (plan-leaf) instead of persisted — see
    # cache.checkpoint_in.
    union_types = {
        _SEQ_CONDS[i - 1]
        for pat in _SEQ_COUNT_PATTERNS
        for i in _parse_seq_pattern(pat)[0]
    }
    ev = t(spark, sf_dir, "events")
    base = checkpoint_in(
        rotating_scope("sequence_count_compiled"),
        _seq_count_sliced_base(ev, union_types),
    )
    # r12: the existence battery rides the same block-diagonal fused
    # kernel as the adjacency battery (its restart automaton IS a DFA)
    # — one kernel pass + one fold shuffle (was per-pattern x2, unioned)
    return _sequence_count_battery_fused(
        ev, _SEQ_COUNT_PATTERNS, _SEQ_CONDS, _sliced=base,
        dfa_of=_restart_dfa,
    )


_SEQ_COUNT_TIMED_PATTERNS = (
    "(?1)(?t<86400)(?2)(?3)",
    "(?2)(?t<43200)(?3)",
    # r9: lower-bound (wait-until-satisfied) edges
    "(?1)(?t>43200)(?2)",
    "(?1)(?t>3600)(?2)(?t<86400)(?3)",
    # r10: exact-offset edge (undershot waits, overshot restarts) —
    # near-certainly 0 matches on continuous-microsecond data (both
    # engines agree); the bite is pinned on constructed fixtures
    "(?1)(?t==86400)(?2)",
)


def _seq_count_timed_oracle() -> str:
    """DuckDB twin of the TIMED restart automaton: one recursive CTE per
    pattern advancing ONE AUTOMATON TOUCH per iteration — the LATERAL
    picks the first expected-condition event strictly after the cursor
    in (ts, event_id) order, and the outer CASE applies the pinned
    timed-restart rule (advance if the gap holds; on a '<' violation
    restart with re-anchor; on a '>' violation WAIT — state and carried
    timestamp unchanged, cursor past the event). Cursor strictly
    advances per touch, so the recursion is bounded by per-user
    expected-event touches."""
    chains = []
    selects = []
    for idx, pat in enumerate(_SEQ_COUNT_TIMED_PATTERNS):
        steps, edges = _parse_seq_pattern(pat)
        # the kernel's integer-microsecond inclusive reductions (one
        # rule, two engines)
        edges = [_strict_edge(e) for e in edges]
        types = [_SEQ_CONDS[i - 1] for i in steps]
        k = len(types)
        expected = " ".join(
            f"WHEN {s} THEN '{types[s]}'" for s in range(k)
        )
        # ok = advance allowed out of state s at the touched event
        ok_whens = []
        for s in range(k):
            e = edges[s - 1] if s >= 1 else None
            cond = (
                "TRUE"
                if e is None
                else f"nx.tu - tt.tp {'=' if e[0] == '==' else e[0]} {e[1]}"
            )
            ok_whens.append(f"WHEN {s} THEN {cond}")
        ok = f"CASE tt.s {' '.join(ok_whens)} END"

        def _violate_s(s):
            e = edges[s - 1] if s >= 1 else None
            if e is not None and e[0] == ">":
                return str(s)  # wait: state unchanged
            anchor_s = "1" if types[s] == types[0] else "0"
            if e is not None and e[0] == "==":
                # undershot waits, overshot restarts (r10)
                return (
                    f"CASE WHEN nx.tu - tt.tp < {e[1]} "
                    f"THEN {s} ELSE {anchor_s} END"
                )
            return anchor_s

        def _violate_tp(s):
            e = edges[s - 1] if s >= 1 else None
            if e is not None and e[0] == ">":
                return "tt.tp"  # wait: carry unchanged
            anchor_tp = "nx.tu" if types[s] == types[0] else "tt.tp"
            if e is not None and e[0] == "==":
                return (
                    f"CASE WHEN nx.tu - tt.tp < {e[1]} "
                    f"THEN tt.tp ELSE {anchor_tp} END"
                )
            return anchor_tp

        anchor = " ".join(
            f"WHEN {s} THEN {_violate_s(s)}" for s in range(k)
        )
        anchor_tp = " ".join(
            f"WHEN {s} THEN {_violate_tp(s)}" for s in range(k)
        )
        chains.append(
            f"""
    tt{idx} AS (
      SELECT user_id, CAST(-9223372036854775807 AS BIGINT) AS tu,
             CAST(-9223372036854775807 AS BIGINT) AS eid,
             0 AS s, CAST(-4611686018427387904 AS BIGINT) AS tp,
             0 AS cnt
      FROM (SELECT DISTINCT user_id FROM f)
      UNION ALL
      SELECT tt.user_id, nx.tu, nx.eid,
             CASE WHEN {ok}
                  THEN CASE WHEN tt.s + 1 = {k} THEN 0 ELSE tt.s + 1 END
                  ELSE CASE tt.s {anchor} END END,
             CASE WHEN {ok} THEN nx.tu
                  ELSE CASE tt.s {anchor_tp} END END,
             tt.cnt + CASE WHEN {ok} AND tt.s + 1 = {k}
                           THEN 1 ELSE 0 END
      FROM tt{idx} tt, LATERAL (
        SELECT e.tu, e.eid FROM f e
        WHERE e.user_id = tt.user_id
          AND e.et = CASE tt.s {expected} END
          AND (e.tu > tt.tu OR (e.tu = tt.tu AND e.eid > tt.eid))
        ORDER BY e.tu, e.eid LIMIT 1
      ) nx
    )"""
        )
        selects.append(
            f"""
      SELECT '{pat}' AS pattern, user_id,
             CAST(max(cnt) AS BIGINT) AS seq_count
      FROM tt{idx} GROUP BY user_id HAVING max(cnt) >= 1"""
        )
    return (
        """
    WITH RECURSIVE f AS (
      SELECT user_id, epoch_us(ts) AS tu, event_id AS eid,
             event_type AS et
      FROM events
      WHERE event_type IN ('signup', 'click', 'purchase')
    ),"""
        + ",".join(chains)
        + "\n    SELECT pattern, user_id, seq_count FROM ("
        + " UNION ALL ".join(selects)
        + "\n    )"
    )


@register(
    "sequence_count_timed",
    _seq_count_timed_oracle(),
    tags=("funnel", "sequence", "clickhouse-parity", "arrow-kernel"),
    doc="ClickHouse sequenceCount restart semantics with (?t<T) AND "
    "(r9) (?t>T) TIME CONSTRAINTS — the timed extension of "
    "sequence_count_compiled. Pinned greedy timed-restart rule "
    "(deviation from ClickHouse's backtracking matcher, documented in "
    "MIGRATION.md): at a state whose inbound edge is (?t<T), an "
    "expected event either advances (strict gap < T) or — since an "
    "upper bound can never be satisfied later — RESTARTS the chain at "
    "that event, re-anchoring iff its condition equals condition 1; "
    "at a (?t>T) state the rule is WAIT-UNTIL-SATISFIED: a too-early "
    "expected event is SKIPPED (waiting strictly dominates — a later "
    "candidate can only widen the gap) and the chain advances at the "
    "first event clearing the bound; at a (?t==T) state (r10) the "
    "rule composes both: an undershot expected event (gap < T) WAITS, "
    "an overshot one (gap > T) RESTARTS — the first expected event "
    "with gap >= T decides. (?t<=T)/(?t>=T) reduce exactly "
    "to (?t<T+1us)/(?t>T-1us) on integer-microsecond timestamps "
    "(boundaries pytest-pinned). Distributes because "
    "the per-slice transfer function is a STEP FUNCTION of the "
    "carried timestamp: 2 pieces at a '<' entry state (one threshold "
    "at the first expected event), one piece per candidate "
    "first-advance event at a '>' entry state (breaks ts_j - T, "
    "adjacent equal outcomes compressed), restart intervals "
    "alternating with single-point locks at a '==' entry state, "
    "everything concrete after the first advance. Per user the <= n_slices function rows fold "
    "associatively (acc = state, t_prev, count; piece = #breaks "
    "below t_prev; null exit-ts = carry). Oracle: recursive CTE "
    "stepping the same automaton one touch per iteration ('>' "
    "violation = cursor past, state+carry unchanged). Patterns "
    "chosen so both bounds BITE at this data's ~17 h median "
    "inter-event gap (pytest pins fixtures where timed < untimed "
    "and where waiting beats restarting).",
)
def sequence_count_timed(spark, sf_dir):
    # r12: the battery runs FUSED — one kernel pass + one fold shuffle
    # for all five patterns (was: one of each per pattern over a
    # persisted shared base; with a single consumer the persist itself
    # is pure overhead and is gone too)
    return _sequence_count_timed_multi(
        t(spark, sf_dir, "events"), _SEQ_COUNT_TIMED_PATTERNS, _SEQ_CONDS
    )


_SEQ_COUNT_ADJ_PATTERNS = (
    "(?1)(?2)",
    "(?2)(?2)",
    "(?1)(?2).*(?3)",
    "(?2)(?3)(?2)",
)


def _seq_count_adj_oracle() -> str:
    """DuckDB twin: one recursive CTE per pattern stepping the SAME
    counting DFA one STATE-CHANGING event per iteration — the LATERAL
    picks the next event whose type moves or emits from the current
    state (pure self-loops are skipped, so recursion depth is the
    number of state changes), and CASE tables generated from the DFA
    apply delta/emit."""
    chains = []
    selects = []
    conds = _SEQ_CONDS
    for idx, pat in enumerate(_SEQ_COUNT_ADJ_PATTERNS):
        delta, emit = _seq_count_dfa(pat, conds)
        n_states = len(delta)
        # per state: the set of types that change state or emit
        move_types = []
        for q in range(n_states):
            ts_ = [
                conds[a]
                for a in range(len(conds))
                if delta[q][a] != q or emit[q][a]
            ]
            move_types.append(ts_)
        moves = " ".join(
            f"WHEN {q} THEN e.et IN ({', '.join(repr(c) for c in move_types[q])})"
            for q in range(n_states)
        )
        nxt = " ".join(
            f"WHEN aa.s = {q} AND nx.et = '{conds[a]}' THEN {delta[q][a]}"
            for q in range(n_states)
            for a in range(len(conds))
            if delta[q][a] != q or emit[q][a]
        )
        em = " ".join(
            f"WHEN aa.s = {q} AND nx.et = '{conds[a]}' THEN 1"
            for q in range(n_states)
            for a in range(len(conds))
            if emit[q][a]
        )
        chains.append(
            f"""
    aa{idx} AS (
      SELECT user_id, CAST(-9223372036854775807 AS BIGINT) AS tu,
             CAST(-9223372036854775807 AS BIGINT) AS eid,
             0 AS s, 0 AS cnt
      FROM (SELECT DISTINCT user_id FROM f)
      UNION ALL
      SELECT aa.user_id, nx.tu, nx.eid,
             CASE {nxt} ELSE aa.s END,
             aa.cnt + CASE {em} ELSE 0 END
      FROM aa{idx} aa, LATERAL (
        SELECT e.tu, e.eid, e.et FROM f e
        WHERE e.user_id = aa.user_id
          AND (CASE aa.s {moves} END)
          AND (e.tu > aa.tu OR (e.tu = aa.tu AND e.eid > aa.eid))
        ORDER BY e.tu, e.eid LIMIT 1
      ) nx
    )"""
        )
        selects.append(
            f"""
      SELECT '{pat}' AS pattern, user_id,
             CAST(max(cnt) AS BIGINT) AS seq_count
      FROM aa{idx} GROUP BY user_id HAVING max(cnt) >= 1"""
        )
    return (
        f"""
    WITH RECURSIVE f AS (
      SELECT user_id, epoch_us(ts) AS tu, event_id AS eid,
             event_type AS et
      FROM events
      WHERE event_type IN {tuple(conds)!r}
    ),"""
        + ",".join(chains)
        + "\n    SELECT pattern, user_id, seq_count FROM ("
        + " UNION ALL ".join(selects)
        + "\n    )"
    )


@register(
    "sequence_count_adjacent",
    _seq_count_adj_oracle(),
    tags=("funnel", "sequence", "clickhouse-parity", "arrow-kernel"),
    doc="ClickHouse sequenceCount with the REAL adjacency-aware "
    "pattern semantics — the counting twin of sequence_match_adjacent "
    "(sequence_count_compiled pins the existence reading where every "
    "edge is '.*'): undeclared-condition events are invisible, a bare "
    "edge requires CONSECUTIVE positions among the rest, '.*' "
    "separates words, matches count non-overlapping with restart "
    "(countAll). Compiled to a leftmost-search counting DFA: words "
    "fall back through their own KMP failure function on mismatch "
    "(locked-in earlier words re-search only the current word), the "
    "final word's completion emits and restarts — leftmost-first word "
    "search equals the backtracking matcher's leftmost match end. "
    "Distributes by DFA-map composition: per composite (user, ts) "
    "slice one Arrow batch advances the WHOLE L-state vector one O(L) "
    "gather per event (entry_state -> exit/count maps), and the "
    "per-user fold over <= n_slices map rows is the exact HOF of the "
    "untimed automaton. '(?1).*(?2)' adjacency-counts equal "
    "sequence_count_compiled's '(?1)(?2)' (single-step words reduce "
    "to the filtered-stream automaton — pytest cross-pin); KMP "
    "fallback and non-overlap subtleties pinned on constructed "
    "fixtures. Oracle: recursive CTE stepping the same DFA one "
    "state-changing event per iteration (self-loops skipped). "
    "Conditions: 1=signup 2=click 3=purchase 4=view.",
)
def sequence_count_adjacent(spark, sf_dir):
    from ..operators.cache import checkpoint_in, rotating_scope

    # the adjacency machines all read the FULL conds-filtered stream
    # (undeclared types invisible, everything else position-relevant),
    # so one materialized sliced base serves every pattern (r13:
    # checkpointed — see cache.checkpoint_in)
    ev = t(spark, sf_dir, "events")
    base = checkpoint_in(
        rotating_scope("sequence_count_adjacent"),
        _seq_count_sliced_base(ev, _SEQ_CONDS),
    )
    # r12: the four automata stack block-diagonally into one combined
    # DFA — one kernel pass + one fold shuffle for the whole battery
    # (was: per-pattern kernel+fold x4, unioned)
    return _sequence_count_battery_fused(
        ev, _SEQ_COUNT_ADJ_PATTERNS, _SEQ_CONDS, _sliced=base
    )


_SEQ_COUNT_ADJT_PATTERNS = (
    "(?1)(?t<86400)(?2)",
    "(?2)(?t>43200)(?3)",
    "(?1)(?t<86400)(?2)(?3)",
    "(?2)(?2)(?t<86400)(?3)",
)


def _seq_count_adjt_oracle() -> str:
    """DuckDB twin of the timed-adjacency product automaton: one
    recursive CTE per pattern stepping the SAME machine one
    state-changing touch per iteration. The base CTE precomputes each
    event's occurrence-start LAG per needed depth (window over the full
    declared stream, so cross-touch starts are plain data exactly as on
    the Spark side); generated CASE tables apply delta / completion /
    gate rules, with the gate branches (lock / wait / restart) expanded
    inline per (state, symbol)."""
    sent = "CAST(-4611686018427387904 AS BIGINT)"
    chains = []
    selects = []
    conds = _SEQ_CONDS
    all_depths: set[int] = set()
    metas = []
    for pat in _SEQ_COUNT_ADJT_PATTERNS:
        m = _seq_count_dfa_meta(pat, conds, allow_timed=True)
        metas.append(m)
        all_depths.update(_adjt_lag_depths(m))
    lag_sql = "".join(
        f",\n             COALESCE(LAG(epoch_us(ts), {d}) OVER "
        f"(PARTITION BY user_id ORDER BY epoch_us(ts), event_id), "
        f"{sent}) AS lg{d}"
        for d in sorted(all_depths)
    )
    for idx, (pat, m) in enumerate(
        zip(_SEQ_COUNT_ADJT_PATTERNS, metas)
    ):
        delta, complete = m["delta"], m["complete"]
        w_start, wlen, wedge, wcont = (
            m["w_start"], m["wlen"], m["wedge"], m["wcont"],
        )
        n_words, L = m["n_words"], m["L"]
        A = len(conds)

        def _lock(j, tu="nx.tu"):
            if j == n_words - 1:
                return ("0", sent, "1")
            return (str(w_start[j + 1]), tu, "0")

        def _restart(a):
            if complete[0][a] == 0:
                return (str(w_start[1]), "nx.tu", "0")
            return (str(delta[0][a]), sent, "0")

        # per (state, symbol): is it a touch, and the outcome SQL
        move_types: list[list[str]] = []
        s_cases, tp_cases, dc_cases = [], [], []
        for q in range(L):
            touch = []
            for a in range(A):
                j = complete[q][a]
                if j < 0:
                    if delta[q][a] == q:
                        continue  # static self-loop: not a touch
                    touch.append(conds[a])
                    s_cases.append(
                        f"WHEN tt.s = {q} AND nx.et = '{conds[a]}' "
                        f"THEN {delta[q][a]}"
                    )
                    continue
                touch.append(conds[a])
                e = wedge[j]
                pre = f"WHEN tt.s = {q} AND nx.et = '{conds[a]}'"
                if e is None:
                    ls, lt, lc = _lock(j)
                    s_cases.append(f"{pre} THEN {ls}")
                    if lt != "tt.tp":
                        tp_cases.append(f"{pre} THEN {lt}")
                    if lc != "0":
                        dc_cases.append(f"{pre} THEN {lc}")
                    continue
                op, tb = e
                d = wlen[j] - 1
                start = "nx.tu" if d == 0 else f"nx.lg{d}"
                gap = f"({start} - tt.tp)"
                ls, lt, lc = _lock(j)
                rs, rt, rc = _restart(a)
                ws, wt = str(wcont[j]), "tt.tp"
                if op == "<":
                    ok = f"{gap} < {tb}"
                    s_cases.append(
                        f"{pre} THEN CASE WHEN {ok} THEN {ls} "
                        f"ELSE {rs} END"
                    )
                    tp_cases.append(
                        f"{pre} THEN CASE WHEN {ok} THEN {lt} "
                        f"ELSE {rt} END"
                    )
                    if lc != "0" or rc != "0":
                        dc_cases.append(
                            f"{pre} THEN CASE WHEN {ok} THEN {lc} "
                            f"ELSE {rc} END"
                        )
                elif op == ">":
                    ok = f"{gap} > {tb}"
                    s_cases.append(
                        f"{pre} THEN CASE WHEN {ok} THEN {ls} "
                        f"ELSE {ws} END"
                    )
                    tp_cases.append(
                        f"{pre} THEN CASE WHEN {ok} THEN {lt} "
                        f"ELSE {wt} END"
                    )
                    if lc != "0":
                        dc_cases.append(
                            f"{pre} THEN CASE WHEN {ok} THEN {lc} "
                            "ELSE 0 END"
                        )
                else:  # '=='
                    s_cases.append(
                        f"{pre} THEN CASE WHEN {gap} = {tb} THEN {ls} "
                        f"WHEN {gap} < {tb} THEN {ws} ELSE {rs} END"
                    )
                    tp_cases.append(
                        f"{pre} THEN CASE WHEN {gap} = {tb} THEN {lt} "
                        f"WHEN {gap} < {tb} THEN {wt} ELSE {rt} END"
                    )
                    if lc != "0":
                        dc_cases.append(
                            f"{pre} THEN CASE WHEN {gap} = {tb} "
                            f"THEN {lc} ELSE 0 END"
                        )
            move_types.append(touch)
        moves = " ".join(
            f"WHEN {q} THEN e.et IN "
            f"({', '.join(repr(c) for c in move_types[q])})"
            if move_types[q]
            else f"WHEN {q} THEN FALSE"
            for q in range(L)
        )
        s_sql = " ".join(s_cases) or "WHEN FALSE THEN 0"
        tp_sql = " ".join(tp_cases) or "WHEN FALSE THEN tt.tp"
        dc_sql = " ".join(dc_cases) or "WHEN FALSE THEN 0"
        chains.append(
            f"""
    pt{idx} AS (
      SELECT user_id, CAST(-9223372036854775807 AS BIGINT) AS tu,
             CAST(-9223372036854775807 AS BIGINT) AS eid,
             0 AS s, {sent} AS tp, 0 AS cnt
      FROM (SELECT DISTINCT user_id FROM f)
      UNION ALL
      SELECT tt.user_id, nx.tu, nx.eid,
             CASE {s_sql} ELSE tt.s END,
             CASE {tp_sql} ELSE tt.tp END,
             tt.cnt + CASE {dc_sql} ELSE 0 END
      FROM pt{idx} tt, LATERAL (
        SELECT e.tu, e.eid, e.et{"".join(f", e.lg{d}" for d in sorted(all_depths))}
        FROM f e
        WHERE e.user_id = tt.user_id
          AND (CASE tt.s {moves} END)
          AND (e.tu > tt.tu OR (e.tu = tt.tu AND e.eid > tt.eid))
        ORDER BY e.tu, e.eid LIMIT 1
      ) nx
    )"""
        )
        selects.append(
            f"""
      SELECT '{pat}' AS pattern, user_id,
             CAST(max(cnt) AS BIGINT) AS seq_count
      FROM pt{idx} GROUP BY user_id HAVING max(cnt) >= 1"""
        )
    return (
        f"""
    WITH RECURSIVE f AS (
      SELECT user_id, epoch_us(ts) AS tu, event_id AS eid,
             event_type AS et{lag_sql}
      FROM events
      WHERE event_type IN {tuple(conds)!r}
    ),"""
        + ",".join(chains)
        + "\n    SELECT pattern, user_id, seq_count FROM ("
        + " UNION ALL ".join(selects)
        + "\n    )"
    )


@register(
    "sequence_count_adjacent_timed",
    _seq_count_adjt_oracle(),
    tags=("funnel", "sequence", "clickhouse-parity", "arrow-kernel"),
    doc="ClickHouse sequenceCount with TIME CONSTRAINTS under the REAL "
    "adjacency semantics — the product of sequence_count_adjacent's "
    "KMP counting DFA and sequence_count_timed's wait/restart "
    "automaton (r9 verdict #1: 'sequenceCount(\\'(?1)(?t<3600)(?2)\\')' "
    "is week-one for a ported funnel dashboard; a time constraint is "
    "a separator in AggregateFunctionSequenceMatch.h, so every timed "
    "edge sits BETWEEN words). Pinned greedy product rule (deviation "
    "from ClickHouse's backtracking matcher, documented in "
    "MIGRATION.md): completing word j checks the gap from the LOCKED "
    "previous word's completion to the occurrence's FIRST event (the "
    "KMP fallback can shift an occurrence later than its first "
    "candidate, so the gate is at completion against the true start "
    "via a per-user positional LAG, never at word entry); satisfied "
    "locks, a dead '<' restarts at the completing event, a too-early "
    "'>' waits at the word's KMP continuation state. Distributes by "
    "the shared step-function algebra: per composite (user, ts) slice "
    "the transfer out of each DFA state is piecewise-constant in the "
    "carried anchor (untimed lock = 1 piece, '<' gate = 2, '>' gate = "
    "one per wait-chain completion + tail), cross-slice occurrence "
    "starts ride as LAG data, and the per-user fold is the exact "
    "(state, t_prev, count) HOF of the timed machine. Oracle: "
    "recursive CTE stepping the same product automaton one "
    "state-changing touch per iteration with the same LAG columns. "
    "Patterns chosen so the bounds BITE at this data's ~17 h median "
    "inter-event gap (pytest pins timed < untimed per pattern). "
    "Conditions: 1=signup 2=click 3=purchase 4=view.",
)
def sequence_count_adjacent_timed(spark, sf_dir):
    from ..operators.cache import checkpoint_in, rotating_scope

    # skew note: a '>'-gated word's wait-chain tabulates one concrete
    # continuation per candidate completion — O(width^2) in a user's
    # in-slice width. The kernel bounds that itself with fixed-width
    # _ADJT_BLOCK sub-slices (commit 3f85030; 4.86x -> ~1.02x on the
    # mega-user corpus), so the base keeps the default slice count.
    # r12: 4x finer slices were TRIED for the fused battery (the timed
    # multi's packing fix) and REVERTED — uniform-case A/B ~4.8 -> 13+ s
    # (4x the transfer rows per user through the piecewise HOF fold);
    # the fused battery's skew ratio 2.39 (SKEW_PROBE, clean steal) is
    # the straggler-concentration cost of serializing patterns per
    # slice task, accepted against a 3x uniform-case regression.
    ev = t(spark, sf_dir, "events")
    sliced, bounds = _seq_count_sliced_base(ev, _SEQ_CONDS, with_bounds=True)
    base = checkpoint_in(
        rotating_scope("sequence_count_adjacent_timed"), sliced
    )
    # r12: the battery runs FUSED — one ranked/lag subtree for the
    # union of occurrence-start depths, one kernel pass sharing the
    # per-block sort/coding across patterns, one (pattern, user) fold
    # shuffle (was: per-pattern kernel+fold x4, unioned)
    return _sequence_count_adjacent_timed_multi(
        ev, _SEQ_COUNT_ADJT_PATTERNS, _SEQ_CONDS,
        _sliced=base, _bounds=bounds,
    )


# r11: the greedy batteries' patterns plus the double-symbol ADJT word
# — every timed shape the greedy entries pin, re-counted under the
# ClickHouse-EXACT backtracking semantics
_SEQ_COUNT_BT_PATTERNS = _SEQ_COUNT_TIMED_PATTERNS + (
    "(?2)(?2)(?t<86400)(?3)",
)


def _seq_count_bt_oracle() -> str:
    from ..operators.sequence_backtracking import bt_oracle_sql

    return bt_oracle_sql(
        _SEQ_COUNT_BT_PATTERNS, _SEQ_CONDS, semantics="clickhouse"
    )


@register(
    "sequence_count_timed_backtracking",
    _seq_count_bt_oracle(),
    tags=("funnel", "sequence", "clickhouse-parity", "arrow-kernel"),
    doc="ClickHouse-EXACT sequenceCount with time constraints — the "
    "BACKTRACKING matcher semantics (AggregateFunctionSequenceMatch.h: "
    "LIFO back_stack DFS = the lexicographically smallest increasing "
    "assignment of steps to declared events satisfying every gap "
    "constraint; countAll restarts past the match's last event), "
    "closing the greedy lock/restart/wait deviation the timed entries "
    "pin (r10 verdict missing #1). NOT a search: the only cross-step "
    "state is (step, matched position) — a time edge looks one matched "
    "event back — so a right-to-left 'can complete from here' table "
    "turns the DFS into an O(n*k) greedy smallest-candidate-with-can "
    "chain (operators/sequence_backtracking.py, fuzz-pinned equal to a "
    "literal back_stack reference and >= the greedy automata on 270k "
    "fuzz cases — greedy never overcounts; divergence needs an "
    "upper-bound or '==' edge whose death burns later anchors). Bare "
    "edges read ClickHouse-adjacent (consecutive among declared "
    "events), time edges and '.*' allow intervening events; <=/>= "
    "reduce to strict on integer microseconds. Distribution: one "
    "shuffle on a user hash bucket, one Arrow kernel running all six "
    "patterns per user — per-user sequential is ClickHouse's own "
    "execution shape for this aggregate (its state IS the per-group "
    "event list, matched single-threaded), and the skew bound (max "
    "per-user declared-event count) is the bound ClickHouse carries. "
    "Oracle: per pattern a recursive CTE finding ONE leftmost match "
    "per iteration via chained LATERALs with nested-EXISTS 'can' "
    "proofs. Conditions: 1=signup 2=click 3=purchase 4=view.",
)
def sequence_count_timed_backtracking(spark, sf_dir):
    from ..operators.sequence_backtracking import (
        sequence_count_backtracking_battery,
    )

    return sequence_count_backtracking_battery(
        spark, sf_dir, _SEQ_COUNT_BT_PATTERNS, _SEQ_CONDS,
        semantics="clickhouse",
    )


@register(
    "stream_adjacency_count_fold",
    _seq_count_adjt_oracle(),
    tags=("funnel", "sequence", "streaming-twin", "arrow-kernel"),
    doc="The STREAMING adjacency-count twin's decision core surfaced "
    "to the driver (r10 verdict stretch #8): the exact per-event "
    "product-automaton fold applyInPandasWithState runs in "
    "streaming/adjacency_count_stream.py (advance_count: (dfa_state, "
    "t_prev, count, bounded ts ring) — the ring gives a timed gate the "
    "occurrence's TRUE start, the batch machine ships the same value "
    "as a LAG column), executed availableNow-style as ONE batch fold "
    "per user so the driver hash-verifies the state machine itself "
    "against the DuckDB product-automaton oracle — the same oracle as "
    "sequence_count_adjacent_timed, so driver-green here means the "
    "sequential streaming core and the distributed piecewise algebra "
    "agree with a third independent engine on every user. "
    "Distribution: one shuffle on a user hash bucket, one Arrow "
    "kernel folding all four ADJT patterns per user; per-user "
    "sequential is the streaming operator's own execution shape (its "
    "state is per-user by construction). Skew bound = max per-user "
    "declared-event count, the exact bound the streaming state "
    "carries. Conditions: 1=signup 2=click 3=purchase 4=view.",
)
def stream_adjacency_count_fold(spark, sf_dir):
    import pandas as pd

    from ..streaming.adjacency_count_stream import (
        _SENT as _ACS_SENT,
        advance_count,
        compile_count_product,
    )

    conds = _SEQ_CONDS
    metas = [
        (pat, compile_count_product(pat, conds))
        for pat in _SEQ_COUNT_ADJT_PATTERNS
    ]
    sym = {c: a for a, c in enumerate(conds)}
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts_us").cast("long").alias("ts_us"),
        "event_id",
        "event_type",
    ).filter(F.col("event_type").isin(*set(conds)))
    n_buckets = spark.sparkContext.defaultParallelism * 4
    st = ev.withColumn("_b", F.pmod(F.hash("user_id"), F.lit(n_buckets)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["user_id", "ts_us", "event_id"], kind="mergesort"
        )
        uid = pdf["user_id"].to_numpy()
        ets = pdf["ts_us"].to_numpy()
        etype = pdf["event_type"].to_numpy()
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        ends = np.r_[starts[1:], len(uid)]
        out: dict[str, list] = {"pattern": [], "user_id": [], "seq_count": []}
        for a, b in zip(starts, ends):
            evs = list(zip(ets[a:b].tolist(), etype[a:b].tolist()))
            for pat, meta in metas:
                stt = advance_count((0, _ACS_SENT, 0, []), evs, meta, sym)
                if stt[2] >= 1:
                    out["pattern"].append(pat)
                    out["user_id"].append(int(uid[a]))
                    out["seq_count"].append(int(stt[2]))
        return pd.DataFrame(out)

    return RK.grouped_kernel(
        st,
        ["_b"],
        kern, "pattern string, user_id long, seq_count long"
    )


@register(
    "stream_backtracking_count_fold",
    _seq_count_bt_oracle(),
    tags=("funnel", "sequence", "streaming-twin", "clickhouse-parity",
          "arrow-kernel"),
    doc="The STREAMING BACKTRACKING-count twin's decision core "
    "surfaced to the driver (r12, closing the r11 verdict's last "
    "sequence-family seam: the streaming folds were greedy-only). "
    "streaming/backtracking_stream.fold_final drives "
    "operators/sequence_backtracking.bt_count_final — a "
    "watermark-aware O(n·k) DP that counts only FINAL leftmost "
    "matches (a second right-to-left 'possible' table marks positions "
    "whose can-complete could still flip via events at/after the "
    "watermark: '<' windows reaching past it, '==' targets at/after "
    "it, a trailing 'adj' next-slot, or an uncompleted 'any'/'>' "
    "chain) and trims the buffer through each counted match "
    "(countAll consumption). The kernel replays each user's declared "
    "events through FOUR ascending watermark chunks plus a final "
    "no-more-events flush — the incremental path the stream runs, "
    "hash-verified against the same DuckDB recursive leftmost-match "
    "CTE oracle as sequence_count_timed_backtracking, so driver-green "
    "means the in-watermark incremental fold, the batch DP, and a "
    "third engine agree on every user. Incremental == batch is also "
    "fuzz-pinned across random chunkings "
    "(tests/test_sequence_backtracking.py) and end-to-end through "
    "applyInPandasWithState (tests/test_backtracking_stream.py). "
    "Distribution: one shuffle on a user hash bucket; per-user "
    "sequential is the streaming operator's own shape. Conditions: "
    "1=signup 2=click 3=purchase 4=view.",
)
def stream_backtracking_count_fold(spark, sf_dir):
    import pandas as pd

    from ..operators.sequence_backtracking import bt_count_final
    from ..streaming.backtracking_stream import compile_bt

    conds = _SEQ_CONDS
    compiled = []
    for pat in _SEQ_COUNT_BT_PATTERNS:
        tcodes, gaps, sym = compile_bt(pat, conds)
        compiled.append((pat, tcodes, gaps))
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts_us").cast("long").alias("ts_us"),
        "event_id",
        "event_type",
    ).filter(F.col("event_type").isin(*set(conds)))
    n_buckets = spark.sparkContext.defaultParallelism * 4
    st = ev.withColumn("_b", F.pmod(F.hash("user_id"), F.lit(n_buckets)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["user_id", "ts_us", "event_id"], kind="mergesort"
        )
        uid = pdf["user_id"].to_numpy()
        tsv = pdf["ts_us"].to_numpy(dtype=np.int64)
        codev = pdf["event_type"].map(sym).to_numpy(dtype=np.int64)
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        ends = np.r_[starts[1:], len(uid)]
        out: dict[str, list] = {"pattern": [], "user_id": [], "seq_count": []}
        for a, b in zip(starts, ends):
            t_ = tsv[a:b]
            c_ = codev[a:b]
            lo, hi = int(t_[0]), int(t_[-1])
            wms = [lo + (hi - lo) * (i + 1) // 4 for i in range(3)]
            for pat, tcodes, gaps in compiled:
                # the buffer of a sorted in-order replay is always a
                # contiguous suffix range, so the incremental fold is
                # bt_count_final over numpy slices — the same algebra
                # fold_final applies to the stream's (ts, eid, code)
                # tuples, without materializing them (pytest pins the
                # equivalence via _core_counts on the corpus)
                cnt, start = 0, 0
                for wm in wms:
                    cut = int(np.searchsorted(t_, wm, side="left"))
                    if cut > start:
                        c, consumed = bt_count_final(
                            c_[start:cut], t_[start:cut], tcodes, gaps, wm
                        )
                        cnt += c
                        start += consumed
                c, _ = bt_count_final(
                    c_[start:], t_[start:], tcodes, gaps, None
                )
                cnt += c
                if cnt >= 1:
                    out["pattern"].append(pat)
                    out["user_id"].append(int(uid[a]))
                    out["seq_count"].append(cnt)
        return pd.DataFrame(out)

    return RK.grouped_kernel(
        st,
        ["_b"],
        kern, "pattern string, user_id long, seq_count long"
    )


_SEQ_WITNESS_BT_PATTERNS = (
    "(?1)(?t<86400)(?2)",       # timed upper bound
    "(?2)(?2)(?t<86400)(?3)",   # bare-adjacent word + '<' edge
    "(?2)(?t>43200)(?3)",       # lower bound (wait enumeration)
    "(?1).*(?3)",               # KleeneStar edge
)


def _seq_witness_bt_oracle() -> str:
    from ..operators.sequence_backtracking import bt_witness_oracle_sql

    return bt_witness_oracle_sql(
        _SEQ_WITNESS_BT_PATTERNS, _SEQ_CONDS, semantics="clickhouse"
    )


@register(
    "sequence_match_events_backtracking",
    _seq_witness_bt_oracle(),
    tags=("funnel", "sequence", "clickhouse-parity", "arrow-kernel"),
    doc="sequenceMatchEvents under the CH-exact BACKTRACKING matcher "
    "(r12): ClickHouse's sequenceMatchEvents surfaces the rows its "
    "matcher bound, and its matcher is the back_stack DFS whose first "
    "solution is the LEXICOGRAPHICALLY SMALLEST assignment — so the "
    "witness is deterministic under full parity semantics (the "
    "engine's relaxed `sequence_match_events` entry pins a DIFFERENT "
    "deterministic choice: the greedy latest-predecessor click; both "
    "readings now ship). One Arrow pass: the declared stream shuffles "
    "once on a user hash bucket, operators/sequence_backtracking."
    "bt_first_match (the counting walk's own chain — shared code, so "
    "witness == what the counter consumed) runs all four patterns per "
    "user; output is long-form (pattern, user_id, step, ts_us, "
    "event_id), one row per bound step for users that match. Oracle: "
    "chained LATERALs with nested-EXISTS can-complete proofs finding "
    "the same leftmost assignment, UNPIVOTed. Conditions: 1=signup "
    "2=click 3=purchase 4=view.",
)
def sequence_match_events_backtracking(spark, sf_dir):
    from ..operators.sequence_backtracking import (
        sequence_match_events_backtracking_battery,
    )

    return sequence_match_events_backtracking_battery(
        spark, sf_dir, _SEQ_WITNESS_BT_PATTERNS, _SEQ_CONDS,
        semantics="clickhouse",
    )


@register(
    "score_auc",
    """
    WITH h AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS np_v,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
                  AS BIGINT) AS nn_v
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT v, np_v, nn_v, np_v + nn_v AS m_v,
             SUM(np_v + nn_v) OVER (ORDER BY v) AS cum
      FROM h
    ),
    m AS (
      SELECT CAST(SUM(np_v) AS BIGINT) AS n_pos,
             CAST(SUM(nn_v) AS BIGINT) AS n_neg,
             SUM(CAST(np_v AS HUGEINT)
                 * (2 * (cum - m_v) + m_v + 1)) AS r2
      FROM c
    )
    SELECT n_pos, n_neg,
           round(CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)
                      AS DOUBLE) / 2
                 / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc,
           round(CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)
                      AS DOUBLE)
                 / (CAST(n_pos AS DOUBLE) * n_neg) - 1, 6) AS gini
    FROM m
    """,
    tags=("agg", "stats", "clickhouse-parity", "ml-eval", "segmented-scan"),
    doc="ClickHouse arrayAUC analog, distributed: ROC AUC of the value "
    "score predicting the purchase label, via the rank identity "
    "AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos*n_neg) with MIDRANKS "
    "for ties — the exact probabilistic AUC (P(score_pos > score_neg) "
    "+ P(equal)/2), plus the ML Gini (2*AUC - 1). Same machinery as "
    "mann_whitney_u_values (AUC IS a scaled U statistic): the rank "
    "reduction is exact integer arithmetic over the VALUE HISTOGRAM — "
    "2*R_pos = sum np_v*(2*c_v + m_v + 1) accumulating as "
    "decimal(38,0)/HUGEINT — never per-row ranks, so the state is "
    "bounded by the value domain and merge order cannot matter. The "
    "cumulative walk rides the range-sliced prefix scan; only the two "
    "final divisions are doubles, identical expressions both engines. "
    "The model-quality gate a training pipeline runs on every scorer "
    "(quality classifiers, dedup scorers, DSIR weights).",
)
def score_auc(spark, sf_dir):
    from ..operators.ranking import prefix_sum

    ev = t(spark, sf_dir, "events")
    h = ev.groupBy(
        F.round(F.col("value") * 100).cast("long").alias("v")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("np_v"),
        F.sum(F.when(F.col("event_type") == "purchase", 0).otherwise(1))
        .cast("long")
        .alias("nn_v"),
    ).withColumn("m_v", F.col("np_v") + F.col("nn_v"))
    cum = prefix_sum(h, [], ["v"], "m_v")
    c_v = F.col("_prefix") - F.col("m_v")
    m = cum.agg(
        F.sum("np_v").cast("long").alias("n_pos"),
        F.sum("nn_v").cast("long").alias("n_neg"),
        F.sum(
            F.col("np_v").cast("decimal(38,0)")
            * (2 * c_v + F.col("m_v") + 1)
        ).alias("r2"),
    )
    two_u = (
        F.col("r2")
        - F.col("n_pos").cast("decimal(38,0)") * (F.col("n_pos") + 1)
    ).cast("double")
    denom = F.col("n_pos").cast("double") * F.col("n_neg")
    return m.select(
        "n_pos",
        "n_neg",
        F.round(two_u / 2 / denom, 6).alias("auc"),
        F.round(two_u / denom - 1, 6).alias("gini"),
    )


_CALIBRATION_BUCKETS = 10


@register(
    "score_calibration_curve",
    f"""
    WITH h AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS np_v,
             CAST(count(*) AS BIGINT) AS m_v
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT v, np_v, m_v,
             SUM(m_v) OVER (ORDER BY v) AS cum,
             SUM(m_v) OVER () AS n
      FROM h
    )
    SELECT CAST(((cum - m_v) * {_CALIBRATION_BUCKETS}) // n AS BIGINT)
             AS bucket,
           CAST(SUM(m_v) AS BIGINT) AS n_events,
           CAST(SUM(np_v) AS BIGINT) AS n_pos,
           round(CAST(SUM(np_v) AS DOUBLE) / SUM(m_v), 4) AS pos_rate,
           round(CAST(SUM(CAST(v AS HUGEINT) * m_v) AS DOUBLE)
                 / SUM(m_v), 2) AS mean_score_cents
    FROM c GROUP BY 1
    """,
    tags=("agg", "stats", "ml-eval", "segmented-scan"),
    doc="Reliability diagram (calibration curve) for the value score "
    "against the purchase label: exact equi-depth score deciles "
    "(the value_equidepth_histogram bucketing — integer rank "
    "arithmetic, ties stay together) with per-decile event count, "
    "positive count, empirical positive rate, and mean score. A "
    "well-calibrated scorer shows pos_rate monotone in the decile — "
    "the companion audit to score_auc (AUC measures ranking, "
    "calibration measures probability faithfulness; a pipeline "
    "gating on score thresholds needs both). Same scale shape: "
    "value-domain-bounded histogram, range-sliced prefix scan, "
    "score-weighted sums as decimal(38,0)/HUGEINT.",
)
def score_calibration_curve(spark, sf_dir):
    from ..operators.ranking import prefix_sum

    B = _CALIBRATION_BUCKETS
    ev = t(spark, sf_dir, "events")
    h = ev.groupBy(
        F.round(F.col("value") * 100).cast("long").alias("v")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("np_v"),
        F.count("*").cast("long").alias("m_v"),
    )
    cum = prefix_sum(h, [], ["v"], "m_v")
    n = h.agg(F.sum("m_v").cast("long").alias("n"))
    return (
        cum.crossJoin(F.broadcast(n))
        .groupBy(
            F.expr(f"((_prefix - m_v) * {B}) div n").alias("bucket")
        )
        .agg(
            F.sum("m_v").cast("long").alias("n_events"),
            F.sum("np_v").cast("long").alias("n_pos"),
            F.round(
                F.sum("np_v").cast("double") / F.sum("m_v"), 4
            ).alias("pos_rate"),
            F.round(
                F.sum(F.col("v").cast("decimal(38,0)") * F.col("m_v"))
                .cast("double")
                / F.sum("m_v"),
                2,
            ).alias("mean_score_cents"),
        )
    )


@register(
    "sequence_next_node_matrix",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      FROM events
    ),
    r AS (
      SELECT user_id, event_type AS t0,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY user_id) AS cnt,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    m AS (
      SELECT user_id, rn, cnt,
             (t0 = 'click' AND t1 = 'view') AS fm,
             COALESCE(t2, '(none)') AS nf,
             (t2 = 'click' AND t1 = 'view') AS bm,
             t0 AS nb
      FROM r
    ),
    pu AS (
      SELECT user_id,
        COALESCE(max(CASE WHEN rn = 1 AND fm THEN nf END), '(none)')
          AS forward_head,
        COALESCE(arg_min(nf, rn) FILTER (WHERE fm), '(none)')
          AS forward_first_match,
        COALESCE(arg_max(nf, rn) FILTER (WHERE fm), '(none)')
          AS forward_last_match,
        COALESCE(max(CASE WHEN rn = cnt - 2 AND bm THEN nb END), '(none)')
          AS backward_tail,
        COALESCE(arg_max(nb, rn) FILTER (WHERE bm), '(none)')
          AS backward_first_match,
        COALESCE(arg_min(nb, rn) FILTER (WHERE bm), '(none)')
          AS backward_last_match
      FROM m GROUP BY user_id
    ),
    stacked AS (
                SELECT 'forward_head' AS combo,
                       forward_head AS next_event_type FROM pu
      UNION ALL SELECT 'forward_first_match', forward_first_match FROM pu
      UNION ALL SELECT 'forward_last_match', forward_last_match FROM pu
      UNION ALL SELECT 'backward_tail', backward_tail FROM pu
      UNION ALL SELECT 'backward_first_match', backward_first_match FROM pu
      UNION ALL SELECT 'backward_last_match', backward_last_match FROM pu
      UNION ALL SELECT 'forward_tail', '(none)' FROM pu
      UNION ALL SELECT 'backward_head', '(none)' FROM pu
    )
    SELECT combo, next_event_type, CAST(count(*) AS BIGINT) AS n_users
    FROM stacked GROUP BY 1, 2
    """,
    tags=("agg", "funnel", "clickhouse-parity"),
    doc="ClickHouse sequenceNextNode FULL direction x base matrix "
    "(forward/backward x head/tail/first_match/last_match) for the "
    "adjacent chain click -> view, per-user flow distributions for all "
    "eight combos in ONE pass. Semantics pinned (MIGRATION.md): events "
    "ascend by (ts_us, event_id); head/tail anchor at the user's "
    "first/last event IN TIME (base_condition = TRUE); the chain must "
    "be ADJACENT (sequenceNextNode matches consecutive events, unlike "
    "sequenceMatch); forward returns the event after the chain, "
    "backward reads the chain toward the past from its anchor and "
    "returns the event before it; a user with no match contributes "
    "'(none)' — so forward_tail/backward_head, whose chains would run "
    "off the timeline's edge, are all-'(none)' by construction and "
    "emitted honestly. Scale shape: NO per-user window and NO join on "
    "the event stream — the per-user index rides operators/"
    "ranking.ranked (range-sliced, mega-user-safe) ONCE, then each row "
    "broadcasts itself to its 3 anchor positions (rn, rn-1, rn-2) via "
    "a 3-element explode and one (user_id, rn)-keyed pivot aligns "
    "(t0, t1, t2) per anchor — a uniform composite-key shuffle (a "
    "mega-user spreads across rn) replacing the naive formulation's "
    "TWO shifted self-joins, which made Spark re-execute the whole "
    "ranked subtree per branch (6 scans -> 1). Every per-user base "
    "resolution is a map-side-combinable min/max(struct(rn, next)) "
    "(rn is unique, so struct extrema ARE arg_min/arg_max). The "
    "8-way stack explodes a literal array on per-user rows only. "
    "Reference: the one-combo sequence_next_node entry pins "
    "(forward, head) against an independent rank-1 oracle.",
)
def sequence_next_node_matrix(spark, sf_dir):
    from ..operators.ranking import anchored_pivot, composite_slice_key

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts_us", "event_id", "event_type"
    )
    # adjacency without a join: anchored_pivot gives every anchor rn the
    # types at rn / rn+1 / rn+2 plus the partition count (for the
    # tail-anchor predicate) in ONE uniform (user_id, rn) pivot.
    j = anchored_pivot(
        ev,
        ["user_id"],
        ["ts_us", "event_id"],
        ["event_type"],
        n_offsets=3,
        slice_col=composite_slice_key("user_id", "ts_us"),
        broadcast_offsets=False,
    ).select(
        "user_id",
        F.col("_rank").alias("rn"),
        F.col("event_type_0").alias("event_type"),
        F.col("_n").alias("cnt"),
        F.col("event_type_1").alias("t1"),
        F.col("event_type_2").alias("t2"),
    )

    none = F.lit("(none)")
    fwd = (F.col("event_type") == "click") & (F.col("t1") == "view")
    nf = F.coalesce(F.col("t2"), none)
    bwd = (F.col("t2") == "click") & (F.col("t1") == "view")
    nb = F.col("event_type")  # anchor type, never null

    def _arg(cond, val, minimum):
        s = F.when(cond, F.struct(F.col("rn"), val.alias("v")))
        agg = F.min(s) if minimum else F.max(s)
        return F.coalesce(agg.getField("v"), none)

    pu = j.groupBy("user_id").agg(
        F.coalesce(
            F.max(F.when((F.col("rn") == 1) & fwd, nf)), none
        ).alias("forward_head"),
        _arg(fwd, nf, True).alias("forward_first_match"),
        _arg(fwd, nf, False).alias("forward_last_match"),
        F.coalesce(
            F.max(F.when((F.col("rn") == F.col("cnt") - 2) & bwd, nb)),
            none,
        ).alias("backward_tail"),
        _arg(bwd, nb, False).alias("backward_first_match"),
        _arg(bwd, nb, True).alias("backward_last_match"),
    )
    combos = F.array(
        *[
            F.struct(
                F.lit(c).alias("combo"),
                F.col(c).alias("next_event_type"),
            )
            for c in (
                "forward_head",
                "forward_first_match",
                "forward_last_match",
                "backward_tail",
                "backward_first_match",
                "backward_last_match",
            )
        ],
        F.struct(
            F.lit("forward_tail").alias("combo"),
            none.alias("next_event_type"),
        ),
        F.struct(
            F.lit("backward_head").alias("combo"),
            none.alias("next_event_type"),
        ),
    )
    return (
        pu.select(F.explode(combos).alias("x"))
        .groupBy(
            F.col("x.combo").alias("combo"),
            F.col("x.next_event_type").alias("next_event_type"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@register(
    "time_decayed_user_stats",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
    ),
    a AS (SELECT user_id, max(ts_us) AS t_anchor FROM e GROUP BY user_id),
    j AS (
      SELECT e.user_id,
             exp((e.ts_us - a.t_anchor) / 21600000000.0) AS w,
             e.value
      FROM e JOIN a USING (user_id)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(w), 6) AS decayed_count,
           round(sum(w * value), 6) AS decayed_value_sum,
           round(sum(w * value) / sum(w), 6) AS decayed_value_avg,
           round(max(w * value), 6) AS decayed_value_max
    FROM j GROUP BY user_id
    """,
    tags=("agg", "clickhouse-parity"),
    doc="ClickHouse exponentialTimeDecayedCount/Sum/Avg/Max analogs, "
    "evaluated per user at the user's LATEST event (tau = 6 h): weight "
    "w = exp((t - T)/tau), decayed count = sum(w), decayed sum/avg/max "
    "over w*value. ClickHouse exposes these as per-row window "
    "functions; the anchored-at-T evaluation is the final row of that "
    "running series and the per-user feature a training pipeline "
    "stores. Scale shape: anchor pass is a map-side-combined max per "
    "user; the join back is user-keyed (AQE reuses the exchange for "
    "the second user-keyed aggregation); every decayed aggregate is a "
    "plain combinable sum/max of per-row terms — no ordering, no "
    "window, no per-user state. Engine portability: the weight's "
    "expression tree (exact BIGINT microsecond difference, one double "
    "divide, exp) is written identically in both engines and every "
    "float aggregate rounds to 6 dp.",
)
def time_decayed_user_stats(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("user_id", "ts_us", "value")
    anchors = ev.groupBy("user_id").agg(F.max("ts_us").alias("t_anchor"))
    j = ev.join(anchors, "user_id")
    w = F.exp(
        (F.col("ts_us") - F.col("t_anchor")).cast("double")
        / F.lit(21600000000.0)
    )
    wv = w * F.col("value")
    return j.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum(w), 6).alias("decayed_count"),
        F.round(F.sum(wv), 6).alias("decayed_value_sum"),
        F.round(F.sum(wv) / F.sum(w), 6).alias("decayed_value_avg"),
        F.round(F.max(wv), 6).alias("decayed_value_max"),
    )


@register(
    "stream_time_decay_fold",
    REGISTRY["time_decayed_user_stats"].oracle,
    tags=("agg", "streaming-twin", "arrow-kernel"),
    doc="The STREAMING time-decay twin's decision core surfaced to the "
    "driver (r10 verdict stretch #8): the exact per-event telescoped "
    "re-anchoring fold applyInPandasWithState runs in "
    "streaming/decay_stream.py (O(1) state (anchor, n, dc, dvs, dvm); "
    "an event past the anchor rescales every accumulated term by ONE "
    "factor exp((A - A')/tau) and re-anchors; max survives because one "
    "positive scale preserves the argmax), executed availableNow-style "
    "as ONE batch fold per user in event-time (ts, event_id) order — "
    "so the driver hash-verifies the RE-ANCHORING ALGEBRA itself "
    "(the piece stream==batch pytest pins on one fixture) against the "
    "same DuckDB oracle as time_decayed_user_stats' stateless anchored "
    "plan. Float posture: the telescope is algebraically exact "
    "(exp(a)*exp(b) vs exp(a+b) differ only in last-bit rounding) and "
    "every emitted float rounds 6 dp, the same cross-engine contract "
    "the stateless entry has held driver-green since r3. Distribution: "
    "one shuffle on a user hash bucket, one Arrow kernel; per-user "
    "sequential is the streaming operator's own shape.",
)
def stream_time_decay_fold(spark, sf_dir):
    import pandas as pd

    tau_us = 21_600_000_000.0
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts_us").cast("long").alias("ts_us"),
        "event_id",
        F.col("value").cast("double").alias("value"),
    )
    n_buckets = spark.sparkContext.defaultParallelism * 4
    st = ev.withColumn("_b", F.pmod(F.hash("user_id"), F.lit(n_buckets)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        import numpy as np

        pdf = pdf.sort_values(
            ["user_id", "ts_us", "event_id"], kind="mergesort"
        )
        uid = pdf["user_id"].to_numpy()
        tus = pdf["ts_us"].to_numpy()
        val = pdf["value"].to_numpy()
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        ends = np.r_[starts[1:], len(uid)]
        out: dict[str, list] = {
            k: []
            for k in (
                "user_id", "n_events", "decayed_count",
                "decayed_value_sum", "decayed_value_avg",
                "decayed_value_max",
            )
        }
        for a, b in zip(starts, ends):
            # the streaming update loop, verbatim semantics
            # (decay_stream.time_decayed_user_stats_stream.update)
            anchor, n, dc, dvs, dvm = None, 0, 0.0, 0.0, None
            for t_us, v in zip(tus[a:b].tolist(), val[a:b].tolist()):
                if anchor is None:
                    anchor, n, dc, dvs, dvm = t_us, 1, 1.0, v, v
                    continue
                if t_us > anchor:
                    f = math.exp((anchor - t_us) / tau_us)
                    dc, dvs, dvm, anchor = dc * f, dvs * f, dvm * f, t_us
                    w = 1.0
                else:
                    w = math.exp((t_us - anchor) / tau_us)
                n += 1
                dc += w
                dvs += w * v
                dvm = max(dvm, w * v)
            out["user_id"].append(int(uid[a]))
            out["n_events"].append(n)
            out["decayed_count"].append(round(dc, 6))
            out["decayed_value_sum"].append(round(dvs, 6))
            out["decayed_value_avg"].append(round(dvs / dc, 6))
            out["decayed_value_max"].append(round(dvm, 6))
        return pd.DataFrame(out)

    return RK.grouped_kernel(
        st,
        ["_b"],
        kern,
        "user_id long, n_events long, decayed_count double, "
        "decayed_value_sum double, decayed_value_avg double, "
        "decayed_value_max double",
    )


@register(
    "session_window_counts",
    """
    WITH e AS (
      SELECT user_id, ts, epoch_us(ts) AS ts_us, event_id, value
      FROM events
    ),
    flag AS (
      SELECT *,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
      SELECT *,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flag
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
    tags=("T1", "streaming", "window", "sessionization"),
    doc="Native session windows (session_window(ts, 30 min) per user) — "
    "the batch-mode check of the THIRD streaming window kind next to "
    "tumbling/sliding (same code path runs under readStream with a "
    "watermark; streaming.windows.sessionized_event_counts, "
    "smoke-tested in test_streaming_windows.py). Merge boundary is "
    "CLOSED: an event exactly gap after its predecessor EXTENDS the "
    "session (oracle pins the strictly-greater-than-gap island "
    "boundary; window end = last event + gap; pytest pins the "
    "exactly-gap case). Batch shape: one (user, session) shuffle with "
    "map-side "
    "partials. The oracle derives identical sessions as "
    "gaps-and-islands over (ts_us, event_id).",
)
def session_window_counts(spark, sf_dir):
    from ..streaming.windows import sessionized_event_counts

    return sessionized_event_counts(
        t(spark, sf_dir, "events"), gap="30 minutes"
    )


def _irls_oracle(iters: int = 3) -> str:
    """Unrolled-CTE DuckDB oracle for the IRLS logistic fit: iteration
    i computes the 9 Gram/response moments under beta from bs{i-1}
    (cross-joined 1-row frame) and solves the symmetric 3x3 by the SAME
    cofactor formulas operators/logistic._solve3 runs on the driver —
    one expression tree, two engines (the k-means unrolled-CTE
    pattern)."""
    parts = [
        """
    WITH e AS (
      SELECT ((epoch_us(ts) // 3600000000) % 24) / 24.0 AS x1,
             value / 100.0 AS x2,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events
    ),
    bs0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f""",
    m{i} AS (
      SELECT sum(w) AS s00, sum(w*x1) AS s01, sum(w*x2) AS s02,
             sum(w*x1*x1) AS s11, sum(w*x1*x2) AS s12,
             sum(w*x2*x2) AS s22,
             sum(w*z) AS t0, sum(w*x1*z) AS t1, sum(w*x2*z) AS t2
      FROM (
        SELECT x1, x2, y,
               p * (1.0 - p) AS w,
               u + (y - p) / (p * (1.0 - p)) AS z
        FROM (
          SELECT x1, x2, y, u, 1.0 / (1.0 + exp(-u)) AS p
          FROM (
            SELECT e.x1, e.x2, e.y,
                   greatest(-30.0, least(30.0,
                     b.b0 + b.b1 * e.x1 + b.b2 * e.x2)) AS u
            FROM e CROSS JOIN bs{i - 1} b
          )
        )
      )
    ),
    c{i} AS (
      SELECT *,
             s11*s22 - s12*s12 AS c00, s02*s12 - s01*s22 AS c01,
             s01*s12 - s02*s11 AS c02, s00*s22 - s02*s02 AS c11,
             s02*s01 - s00*s12 AS c12, s00*s11 - s01*s01 AS c22
      FROM m{i}
    ),
    bs{i} AS (
      SELECT (c00*t0 + c01*t1 + c02*t2) / (s00*c00 + s01*c01 + s02*c02)
               AS b0,
             (c01*t0 + c11*t1 + c12*t2) / (s00*c00 + s01*c01 + s02*c02)
               AS b1,
             (c02*t0 + c12*t1 + c22*t2) / (s00*c00 + s01*c01 + s02*c02)
               AS b2
      FROM c{i}
    )""")
    parts.append(f""",
    fs AS (
      SELECT sum(-2.0 * (y * ln(p) + (1.0 - y) * ln(1.0 - p))) AS dev,
             CAST(sum(CASE WHEN u > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS npos
      FROM (
        SELECT y, u, 1.0 / (1.0 + exp(-u)) AS p
        FROM (
          SELECT e.y,
                 greatest(-30.0, least(30.0,
                   b.b0 + b.b1 * e.x1 + b.b2 * e.x2)) AS u
          FROM e CROSS JOIN bs{iters} b
        )
      )
    )
              SELECT 'intercept' AS term, round(b0, 6) AS coef FROM bs{iters}
    UNION ALL SELECT 'hour_norm', round(b1, 6) FROM bs{iters}
    UNION ALL SELECT 'value_norm', round(b2, 6) FROM bs{iters}
    UNION ALL SELECT 'deviance', round(dev, 6) FROM fs
    UNION ALL SELECT 'n_pos_pred', CAST(npos AS DOUBLE) FROM fs
    """)
    return "".join(parts)


@register(
    "logistic_regression_irls",
    _irls_oracle(),
    tags=("ml", "clickhouse-parity", "iterative"),
    doc="stochasticLogisticRegression analog (ClickHouse "
    "AggregateFunctionMLMethod): logit(P(type='purchase')) on "
    "(1, hour-of-day/24, value/100), fit by THREE deterministic IRLS "
    "(Newton) steps instead of CH's SGD — CH's state is update-order-"
    "dependent (merge order changes the fit); IRLS needs only the 9 "
    "Gram/response moments per step, every one a map-side-combinable "
    "sum over one pruned projection, so each iteration is an "
    "embarrassingly parallel scan and the only driver work is a "
    "closed-form 3x3 cofactor solve between passes (operators/"
    "logistic.py; the k-means execution contract). Output: final "
    "coefficients + residual deviance (6 dp) + count predicted "
    "positive at the 0.5 threshold. Betas are deliberately NOT "
    "quantized between iterations (cross-engine round() can itself "
    "diverge); the oracle unrolls all three iterations as CTEs with "
    "identical expression trees, and the ~1e-10 order-of-summation "
    "beta drift sits far inside the 6 dp bucket. The linear term "
    "clamps at |u| <= 30 in BOTH engines before the sigmoid (review "
    "r8): past ~38 p saturates to an exact 0/1 double, zeroing the "
    "IRLS weight (silent NULL rows in Spark, inf in DuckDB) and "
    "feeding ln(0) to the deviance — which RAISES in DuckDB.",
)
def logistic_regression_irls(spark, sf_dir):
    from ..operators.logistic import fit_result_long, irls_fit

    ev = t(spark, sf_dir, "events").select(
        (F.expr("(ts_us div 3600000000) % 24") / F.lit(24.0)).alias("x1"),
        (F.col("value") / F.lit(100.0)).alias("x2"),
        F.when(F.col("event_type") == "purchase", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    beta, dev, npos = irls_fit(ev)
    return fit_result_long(spark, beta, dev, npos)


@register(
    "user_decayed_day_checkpoints",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             epoch_us(ts) // 86400000000 AS day_id
      FROM events
    ),
    d AS (SELECT DISTINCT user_id, day_id FROM e),
    j AS (
      SELECT d.user_id, d.day_id,
             sum(e.value
                 * exp((e.ts_us - (d.day_id + 1) * 86400000000)
                       / 604800000000.0)) AS s,
             CAST(sum(CASE WHEN e.day_id = d.day_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_events_day
      FROM d JOIN e
        ON e.user_id = d.user_id AND e.day_id <= d.day_id
      GROUP BY d.user_id, d.day_id
    )
    SELECT user_id, day_id, n_events_day, round(s, 6) AS decayed_sum
    FROM j
    """,
    tags=("agg", "clickhouse-parity", "scan"),
    doc="The RUNNING half of the exponentialTimeDecayedSum story "
    "(time_decayed_user_stats is the final-row evaluation): per user, "
    "the decayed value sum evaluated at EVERY day boundary (tau = 7 d) "
    "— the per-row window-function semantics ClickHouse exposes, "
    "checkpointed on the calendar. Scale shape: the decay recurrence "
    "telescopes at day boundaries, so stage 1 is one ORDER-FREE "
    "map-side-combinable aggregate per (user, day) (each event's "
    "contribution anchors to its own day's end — no sequence scan, no "
    "window over raw rows); stage 2 assembles checkpoints on the TINY "
    "(user, day) table via a per-user sorted-array HOF whose O(days^2) "
    "inner sum is bounded by the calendar span, never the row count "
    "(the captured array is a plain post-agg column reference — the "
    "cheap class under the HOF derived-array gate). Cross-engine "
    "floats: Spark composes exp((t - D_j)/tau) * exp((D_j - D_k)/tau) "
    "where the oracle computes exp((t - D_k)/tau) directly — "
    "mathematically identical, drift ~1e-16/term, rounded 6 dp.",
)
def user_decayed_day_checkpoints(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    day = F.expr("ts_us div 86400000000")
    b = ev.groupBy(
        "user_id", day.alias("day_id")
    ).agg(
        F.sum(
            F.col("value")
            * F.exp(
                (
                    F.col("ts_us")
                    - (day + F.lit(1)) * F.lit(86400000000)
                ).cast("double")
                / F.lit(604800000000.0)
            )
        ).alias("b"),
        F.count("*").cast("long").alias("c"),
    )
    u = b.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("day_id").alias("d"),
                    F.col("b"),
                    F.col("c"),
                )
            )
        ).alias("days")
    )
    days = F.col("days")
    checkpoints = F.transform(
        days,
        lambda r, i: F.struct(
            r["d"].alias("day_id"),
            r["c"].alias("n_events_day"),
            F.round(
                F.aggregate(
                    F.slice(days, F.lit(1), i + F.lit(1)),
                    F.lit(0.0),
                    lambda acc, s: acc
                    + s["b"]
                    * F.exp(
                        (
                            (s["d"] - r["d"]) * F.lit(86400000000)
                        ).cast("double")
                        / F.lit(604800000000.0)
                    ),
                ),
                6,
            ).alias("decayed_sum"),
        ),
    )
    return u.select(
        "user_id", F.explode(checkpoints).alias("x")
    ).select(
        "user_id",
        F.col("x.day_id").alias("day_id"),
        F.col("x.n_events_day").alias("n_events_day"),
        F.col("x.decayed_sum").alias("decayed_sum"),
    )


@register(
    "sequence_match_events",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      FROM events
    ),
    p AS (
      SELECT user_id, ts_us AS tp, event_id AS ep
      FROM e WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts_us AS tc, event_id AS ec
      FROM e WHERE event_type = 'click'
    ),
    q AS (
      SELECT p.user_id, p.tp, p.ep, c.tc, c.ec,
             row_number() OVER (
               PARTITION BY p.user_id, p.tp, p.ep
               ORDER BY c.tc DESC, c.ec DESC) AS rn
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.tc <= p.tp
       AND p.tp - c.tc < 86400000000
    ),
    first_match AS (
      SELECT user_id, tp, ep, tc, ec,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY tp, ep) AS prn
      FROM q WHERE rn = 1
    )
    SELECT user_id,
           tc AS click_ts_us, ec AS click_event_id,
           tp AS purchase_ts_us, ep AS purchase_event_id
    FROM first_match WHERE prn = 1
    """,
    tags=("agg", "funnel", "clickhouse-parity"),
    doc="sequenceMatchEvents analog (ClickHouse 24.x): not just WHETHER "
    "'(?1)(?t<86400)(?2)' (click then purchase within 24 h) matches, "
    "but the WITNESS — per user, the first matching purchase and its "
    "chain click (the LATEST click at-or-before it, the same "
    "greedy-predecessor rule the compiled matcher uses; pinned "
    "deterministic on ties by event_id; CH leaves the witness choice "
    "unspecified). Scale shape: one range-sliced running-max pass "
    "(operators/ranking.running_max_sliced) carries the latest "
    "(click_ts, event_id) struct to every purchase row — query-row "
    "idiom, click kind sorts before purchase at equal ts — then the "
    "first match is a map-side-combinable min(struct) per user. No "
    "self-join on the event stream (the oracle's join formulation is "
    "DuckDB-only).",
)
def sequence_match_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return match_events_frame(ev)


def match_events_frame(ev, bound_us: int = 86400000000):
    """Frame-level first-match witness extraction (the
    sequence_match_events plan over any (user_id, ts_us, event_id,
    event_type) frame) — shared with the streaming twin's
    stream==batch equality pin (tests/test_sequence_stream.py)."""
    from ..operators.ranking import composite_slice_key, running_max_sliced

    ev = ev.filter(F.col("event_type").isin("click", "purchase"))
    stream = ev.select(
        "user_id",
        "ts_us",
        "event_id",
        F.when(F.col("event_type") == "click", F.lit(0))
        .otherwise(F.lit(1))
        .alias("kind"),
        F.when(
            F.col("event_type") == "click",
            F.struct(
                F.col("ts_us").alias("tc"),
                F.col("event_id").alias("ec"),
            ),
        ).alias("click_val"),
    )
    r = running_max_sliced(
        stream,
        ["user_id"],
        ["ts_us", "kind", "event_id"],
        "click_val",
        slice_col=composite_slice_key("user_id", "ts_us"),
        broadcast_offsets=False,
    )
    qualified = r.filter(
        (F.col("kind") == 1)
        & F.col("_rmax").isNotNull()
        & (F.col("ts_us") - F.col("_rmax.tc") < F.lit(bound_us))
    )
    first = qualified.groupBy("user_id").agg(
        F.min(
            F.struct(
                F.col("ts_us").alias("tp"),
                F.col("event_id").alias("ep"),
                F.col("_rmax.tc").alias("tc"),
                F.col("_rmax.ec").alias("ec"),
            )
        ).alias("m")
    )
    return first.select(
        "user_id",
        F.col("m.tc").alias("click_ts_us"),
        F.col("m.ec").alias("click_event_id"),
        F.col("m.tp").alias("purchase_ts_us"),
        F.col("m.ep").alias("purchase_event_id"),
    )


@register(
    "user_value_derivative_profile",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
      FROM events
    ),
    adj AS (
      SELECT user_id,
             ts_us - lag(ts_us) OVER w AS dt_us,
             value - lag(value) OVER w AS dv
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    r AS (
      SELECT user_id, dt_us, dv,
             dv / (dt_us / 1000000.0) AS rate
      FROM adj WHERE dt_us IS NOT NULL AND dt_us > 0
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_steps,
           CAST(sum(CASE WHEN dv < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neg_steps,
           round(sum(CASE WHEN rate > 0 THEN rate ELSE 0.0 END), 6)
             AS nonneg_rate_sum,
           round(max(rate), 6) AS max_rate
    FROM r GROUP BY user_id
    """,
    tags=("agg", "scan", "clickhouse-parity"),
    doc="runningDifference / nonNegativeDerivative analogs, profiled "
    "per user: over adjacent event pairs in (ts_us, event_id) order, "
    "the per-second value rate dv/dt — count of steps, count of "
    "negative differences (runningDifference sign profile), the "
    "nonNegativeDerivative sum (negative rates clamp to 0, CH "
    "semantics) and max rate, 6 dp. Same-timestamp pairs are excluded "
    "(dt = 0 has no derivative; CH's runningDifference would emit an "
    "inf rate — deviation pinned here and in MIGRATION.md). Scale "
    "shape: adjacency reuses the join-free explode+pivot idiom from "
    "sequence_next_node_matrix — each row contributes (value, ts) to "
    "anchors rn and rn-1, ONE uniform (user_id, rn) pivot rebuilds "
    "the pair, the profile is a plain combinable per-user aggregate; "
    "no per-user window over raw rows anywhere (the lag formulation "
    "is the DuckDB oracle's).",
)
def user_value_derivative_profile(spark, sf_dir):
    from ..operators.ranking import anchored_pivot, composite_slice_key

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts_us", "event_id", "value"
    )
    pairs = (
        anchored_pivot(
            ev,
            ["user_id"],
            ["ts_us", "event_id"],
            ["ts_us", "value"],
            n_offsets=2,
            slice_col=composite_slice_key("user_id", "ts_us"),
            broadcast_offsets=False,
        )
        .filter(
            F.col("ts_us_1").isNotNull()
            & (F.col("ts_us_1") - F.col("ts_us_0") > 0)
        )
        .select(
            "user_id",
            (F.col("ts_us_1") - F.col("ts_us_0")).alias("dt_us"),
            (F.col("value_1") - F.col("value_0")).alias("dv"),
        )
    )
    rate = F.col("dv") / (F.col("dt_us") / F.lit(1000000.0))
    return pairs.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_steps"),
        F.sum(F.when(F.col("dv") < 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_neg_steps"),
        F.round(
            F.sum(F.when(rate > 0, rate).otherwise(F.lit(0.0))), 6
        ).alias("nonneg_rate_sum"),
        F.round(F.max(rate), 6).alias("max_rate"),
    )


@register(
    "top_k_weighted_types_daily",
    """
    WITH g AS (
      SELECT epoch_us(ts) // 86400000000 AS day_id, event_type,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS weight_cents
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT day_id, event_type, weight_cents,
             row_number() OVER (PARTITION BY day_id
                                ORDER BY weight_cents DESC,
                                         event_type ASC) AS rnk
      FROM g
    )
    SELECT day_id, event_type, weight_cents, rnk
    FROM r WHERE rnk <= 3
    """,
    tags=("agg", "topk", "clickhouse-parity"),
    doc="topKWeighted analog: per day, the top 3 event types by exact "
    "integer value weight (cents), ties pinned by type name — CH's "
    "topKWeighted is an approximate sketch with unspecified tie "
    "order; at bounded key cardinality the exact form is both cheaper "
    "and deterministic. Scale shape: ONE map-side-combined "
    "(day, type) aggregation reduces the stream to a "
    "days x types control-plane-sized table; the ranking window runs "
    "on THAT (domain-bounded, never raw rows), so the per-day "
    "partition is at most |types| rows regardless of data scale.",
)
def top_k_weighted_types_daily(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    g = ev.groupBy(
        F.expr("ts_us div 86400000000").alias("day_id"), "event_type"
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("weight_cents")
    )
    w = Window.partitionBy("day_id").orderBy(
        F.col("weight_cents").desc(), F.col("event_type").asc()
    )
    return (
        g.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("day_id", "event_type", "weight_cents", "rnk")
    )


@register(
    "holt_linear_forecast",
    """
    WITH RECURSIVE c0 AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour_id,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT event_type, min(hour_id) AS lo, max(hour_id) AS hi
             FROM c0 GROUP BY 1 HAVING max(hour_id) > min(hour_id)),
    grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS hour_id
             FROM span),
    xs AS (SELECT g.event_type, g.hour_id,
                  CAST(coalesce(c0.n, 0) AS DOUBLE) AS xv,
                  row_number() OVER (PARTITION BY g.event_type
                                     ORDER BY g.hour_id) AS rn
           FROM grid g LEFT JOIN c0 USING (event_type, hour_id)),
    n_t AS (SELECT event_type, max(rn) AS t_max FROM xs GROUP BY 1),
    st AS (
      SELECT a.event_type, CAST(1 AS BIGINT) AS i,
             a.xv AS l, b2.xv - a.xv AS b
      FROM xs a JOIN xs b2 ON a.event_type = b2.event_type
                          AND a.rn = 1 AND b2.rn = 2
      UNION ALL
      SELECT st.event_type, st.i + 1,
             0.5 * xs.xv + 0.5 * (st.l + st.b),
             0.3 * ((0.5 * xs.xv + 0.5 * (st.l + st.b)) - st.l)
               + 0.7 * st.b
      FROM st JOIN xs ON xs.event_type = st.event_type
                     AND xs.rn = st.i + 1
    ),
    fin AS (SELECT st.event_type, st.l, st.b
            FROM st JOIN n_t USING (event_type) WHERE st.i = n_t.t_max)
    SELECT event_type, CAST(h AS INTEGER) AS h,
           round(l, 6) AS level, round(b, 6) AS trend,
           round(l + CAST(h AS DOUBLE) * b, 6) AS forecast_n_events
    FROM fin CROSS JOIN (SELECT unnest(range(1, 25)) AS h)
    """,
    tags=("timeseries", "forecast", "fold"),
    doc="Holt two-parameter linear-trend smoothing (alpha=0.5, beta=0.3) "
    "over each event type's gap-filled hourly count series, emitting "
    "the fitted terminal (level, trend) and a 24-hour-ahead forecast "
    "fan — the exponential-smoothing step up from ema_user_value "
    "(level only) toward trend-aware forecasting. Init "
    "(l1, b1) = (x1, x2 - x1), updates for t = 2..T: "
    "l_t = a*x_t + (1-a)(l+b); b_t = g*(l_t - l) + (1-g)*b. The "
    "recurrence is affine in (l, b), so the Spark side is ONE "
    "F.aggregate fold per type over the collected series — the same "
    "float expression tree, literal for literal, as the oracle's "
    "recursive CTE, so raw doubles match bit-for-bit before the 6 dp "
    "round. Scale shape: one map-side-combined (type, hour) "
    "aggregation bounds the stream to a calendar-sized table; the "
    "per-type collect_list is hours-in-span (time-bounded, never "
    "data-bounded — the gap_filled_hourly_counts contract) and the "
    "fold is one linear pass over it. Types with fewer than two grid "
    "hours are excluded on both engines.",
)
def holt_linear_forecast(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type",
        # FLOOR division to match the oracle's `//` on pre-epoch
        # (negative) timestamps too — `div` truncates toward zero, which
        # would shift the whole gap-filled grid by one bucket. Integer
        # floor-div via pmod keeps the arithmetic exact (a double
        # quotient could round across the boundary before F.floor).
        F.expr("(ts_us - pmod(ts_us, 3600000000)) div 3600000000").alias(
            "hour_id"
        ),
    ).agg(F.count("*").alias("n"))
    grid = (
        counts.groupBy("event_type")
        .agg(F.min("hour_id").alias("lo"), F.max("hour_id").alias("hi"))
        .filter(F.col("hi") > F.col("lo"))
        .select(
            "event_type", F.explode(F.sequence("lo", "hi")).alias("hour_id")
        )
    )
    xs = (
        grid.join(counts, ["event_type", "hour_id"], "left")
        .select(
            "event_type",
            "hour_id",
            F.coalesce("n", F.lit(0)).cast("double").alias("xv"),
        )
        .groupBy("event_type")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(hour_id, xv))), "
                "e -> e.xv)"
            ).alias("xs")
        )
    )
    upd = lambda acc, x: F.struct(  # noqa: E731 — the Holt update step
        (F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])).alias("l"),
        (
            F.lit(0.3)
            * ((F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])) - acc["l"])
            + F.lit(0.7) * acc["b"]
        ).alias("b"),
    )
    fin = xs.select(
        "event_type",
        F.aggregate(
            F.slice(F.col("xs"), F.lit(2), F.size("xs") - 1),
            F.struct(
                F.element_at("xs", 1).alias("l"),
                (F.element_at("xs", 2) - F.element_at("xs", 1)).alias("b"),
            ),
            upd,
        ).alias("st"),
    )
    return fin.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(24))).alias("h"),
        F.col("st.l").alias("l"),
        F.col("st.b").alias("b"),
    ).select(
        "event_type",
        F.col("h").cast("int").alias("h"),
        F.round("l", 6).alias("level"),
        F.round("b", 6).alias("trend"),
        F.round(F.col("l") + F.col("h").cast("double") * F.col("b"), 6).alias(
            "forecast_n_events"
        ),
    )


@register(
    "funnel_time_to_convert",
    """
    WITH s AS (SELECT user_id, min(epoch_us(ts)) AS s_us FROM events
               WHERE event_type = 'signup' GROUP BY 1),
    p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
          FROM events e JOIN s USING (user_id)
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.s_us
          GROUP BY 1),
    l AS (SELECT (p.p_us - s.s_us) // 1000000 AS lat
          FROM p JOIN s USING (user_id))
    SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup_users,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(CAST(count(*) AS DOUBLE)
                 / NULLIF((SELECT count(*) FROM s), 0), 6)
             AS conversion_rate,
           round(quantile_cont(lat, 0.5), 4) AS p50_sec,
           round(quantile_cont(lat, 0.9), 4) AS p90_sec,
           round(quantile_cont(lat, 0.99), 4) AS p99_sec
    FROM l
    """,
    tags=("funnel", "behavioral", "timeseries"),
    doc="Time-to-convert distribution: per user, the latency from the "
    "FIRST signup to the first purchase strictly after it, summarized "
    "as exact interpolated percentiles plus the conversion rate — the "
    "latency companion to event_funnel_conversion's reach counts "
    "(how LONG conversion takes, not just whether it happens). "
    "Latencies are exact integer seconds (epoch-us difference, "
    "truncating div). Scale shape: two type-filtered per-user "
    "aggregations and one user-keyed join (signup side is |users|, so "
    "it stays a shuffled hash join under AQE — broadcasting a "
    "data-growing side is the probe-caught trap); the percentile runs "
    "over one latency per converted user — at 100 TB swap "
    "approx_percentile with the same call shape (the "
    "value_percentiles contract).",
)
def funnel_time_to_convert(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("s_us"))
    )
    lat = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts_us") > F.col("s_us"))
        .groupBy("user_id", "s_us")
        .agg(F.min("ts_us").alias("p_us"))
        .select(
            # integer div — a double quotient could round UP across an
            # integer boundary before the cast truncates
            F.expr("(p_us - s_us) div 1000000").alias("lat")
        )
    )
    stats = lat.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.round(F.expr("percentile(lat, 0.5)"), 4).alias("p50_sec"),
        F.round(F.expr("percentile(lat, 0.9)"), 4).alias("p90_sec"),
        F.round(F.expr("percentile(lat, 0.99)"), 4).alias("p99_sec"),
    )
    nsu = s.agg(F.count("*").cast("long").alias("n_signup_users"))
    return nsu.crossJoin(stats).select(
        "n_signup_users",
        "n_converted",
        # NULLIF guard: a corpus with zero signup users yields NULL (not
        # NaN) on BOTH engines, so the entry is well-defined without the
        # funnel event types (ADVICE r9)
        F.round(
            F.col("n_converted").cast("double")
            / F.expr("NULLIF(n_signup_users, 0)"),
            6,
        ).alias("conversion_rate"),
        "p50_sec",
        "p90_sec",
        "p99_sec",
    )


# Training-data pipeline queries register themselves on import (uses the
# register/t defined above; import must stay at module bottom).
from . import dataops  # noqa: E402,F401
