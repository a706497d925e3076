"""Streaming-semantics operators T1–T7, batch forms (SURVEY.md §2.9).

The `events` table doubles as a replayable stream (TESTDATA.md); every
operator here has identical batch/streaming semantics by construction
— the batch form is T2-checked against DuckDB, the Structured
Streaming twin lives in streaming/jobs.py and is PT-tested with a
multi-batch file source.

Scale notes: all partitioning is by user_id (the stream key). In
streaming form these become stateful operators whose state is bounded
by watermarks; in batch form they're windows/aggregations whose state
is bounded by partition size. Session windows use gaps-and-islands —
two window passes over one user-partitioned sort, no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import DEC, dist_running, dsum, half_away_long, o_dsum

CAT = "events"


@register(
    "q_tumbling_window",
    oracle=f"""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n,
               {o_dsum("value", "sum_value")}
        FROM events
        GROUP BY 1, 2
    """,
    category=CAT,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: 1-hour tumbling window count/sum per event type.
    F.window() is the same operator Structured Streaming uses, so the
    batch form is literally the streaming aggregation replayed."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "q_sliding_window",
    oracle=f"""
        WITH shifted AS (
            SELECT ts, value,
                   time_bucket(INTERVAL '15 minutes', ts)
                       - unnest([0, 1, 2, 3]) * INTERVAL '15 minutes' AS wstart
            FROM events
        )
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
               COUNT(*) AS n,
               {o_dsum("value", "sum_value")}
        FROM shifted
        WHERE ts >= wstart AND ts < wstart + INTERVAL '1 hour'
        GROUP BY 1
    """,
    category=CAT,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 1-hour window sliding every 15 minutes — each event lands
    in 4 windows. The oracle states the same thing as 4 shifted
    tumbling assignments (both engines epoch-align 15-minute buckets).

    Scale: slide expansion multiplies rows by window/slide BEFORE the
    shuffle — budget shuffle volume ×4 here; prefer tumbling + merge
    at query time when the ratio gets large.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "sum_value",
        )
    )


_SESSION_CTE = """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
        SELECT *,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts ASC, event_id ASC
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM flagged
    )
"""


@register(
    "q_session_window",
    oracle=_SESSION_CTE
    + """
        SELECT user_id, session_id,
               COUNT(*) AS n_events,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS span_us
        FROM numbered
        GROUP BY user_id, session_id
    """,
    category=CAT,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: 30-minute-gap sessionization via gaps-and-islands: flag
    session starts with lag(), number sessions with a running sum,
    aggregate. Two window passes + one aggregate over a single
    user-partitioned sort — the batch-equivalent of streaming
    session_window (which streaming/jobs.py uses verbatim).

    Scale: state is one sort per user partition; skewed users are
    handled by AQE; no self-join (the naive interval-merge approach
    is quadratic per user).
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = e.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(w_run))
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span_us"),
    )


@register(
    "q_dedup_keyed",
    oracle="""
        SELECT event_id, user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts ASC, event_id ASC) = 1
    """,
    category=CAT,
)
def q_dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: deterministic keyed dedup — FIRST event per (user, type) by
    (ts, event_id). row_number, NOT dropDuplicates: dropDuplicates
    keeps an arbitrary partition-order-dependent row. Streaming twin:
    dropDuplicatesWithinWatermark on the same key."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        )
    )


@register(
    "q_late_data_watermark",
    oracle="""
        WITH replay AS (
            SELECT event_type, ts,
                   MAX(ts) OVER (ORDER BY event_id ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS max_ts_seen
            FROM events
        )
        SELECT event_type,
               COUNT(*) FILTER (WHERE ts < max_ts_seen - INTERVAL '10 minutes') AS n_late,
               COUNT(*) AS n_total
        FROM replay
        GROUP BY event_type
    """,
    category=CAT,
)
def q_late_data_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (batch replay form): which rows would a 10-minute watermark
    drop if the table were replayed in event_id (arrival) order? A row
    is late when its ts lags the running max event-time by more than
    the watermark delay. The behavioral streaming test (late rows
    actually excluded from aggregates) is PT — streaming/jobs.py."""
    e = load(spark, sf_dir, "events")
    # running event-time max over the FULL arrival order — data-sized,
    # so dist_running (common.py) instead of an unpartitioned window
    replay = dist_running(
        e, [("event_id", "asc")], maxs={"max_ts_seen": "ts"}
    )
    late = F.col("ts") < F.col("max_ts_seen") - F.expr("INTERVAL 10 MINUTES")
    return replay.groupBy("event_type").agg(
        F.count(F.when(late, 1)).alias("n_late"),
        F.count(F.lit(1)).alias("n_total"),
    )


@register(
    "q_stateful_running",
    oracle="""
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_so_far,
               CAST(SUM(CAST(value AS DECIMAL(24,6))) OVER w AS DOUBLE) AS value_so_far
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    category=CAT,
)
def q_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 (batch form): per-user running counters — the cumulative
    window twin of a streaming mapGroupsWithState counter
    (streaming/jobs.py implements it with applyInPandasWithState)."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_so_far"),
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("value_so_far"),
    )


@register(
    "q_stream_join",
    oracle=f"""
        SELECT c_mktsegment, event_type,
               COUNT(*) AS n,
               {o_dsum("value", "sum_value")}
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment, event_type
    """,
    category=CAT,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 (batch form): stream-static enrichment join — events against
    the customer dimension, aggregated by segment. In streaming the
    dim side is broadcast per micro-batch; the batch form broadcasts
    it once. Same plan shape either way."""
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
    )


@register(
    "q_event_funnel",
    oracle="""
        WITH clicks AS (
            SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
        ), conv AS (
            SELECT c.user_id, c.click_ts,
                   MIN(p.ts) AS purchase_ts
            FROM clicks c
            JOIN events p
              ON p.user_id = c.user_id
             AND p.event_type = 'purchase'
             AND p.ts > c.click_ts
             AND p.ts <= c.click_ts + INTERVAL 1 HOUR
            GROUP BY c.user_id, c.click_ts
        )
        SELECT strftime(date_trunc('day', click_ts), '%Y-%m-%d') AS day,
               COUNT(*) AS n_converted_clicks,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(round(epoch(purchase_ts - click_ts) * 1000000)
                             AS BIGINT)) AS DOUBLE) / 1000000.0
                   AS total_lag_seconds
        FROM conv
        GROUP BY 1
    """,
    category=CAT,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel / sequence-pattern analysis: click → purchase by the
    same user within 1 hour; per day, how many clicks converted, how
    many distinct users, and the summed click-to-purchase lag.

    The conversion pick is a per-(user, click) MIN over qualifying
    purchases — a range join narrowed by the user_id equality key
    (same discipline as J10/J11: never a naked time-range join).

    Scale: the join shuffles on user_id only; per-user event counts
    are bounded (~20 here, power-law capped by AQE skew split at
    worst), and the range predicate prunes inside each key group.
    Day-level aggregation is a second small shuffle.
    """
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id", "click_ts")
        .agg(F.min("p_ts").alias("purchase_ts"))
    )
    lag_us = (
        F.col("purchase_ts").cast("double") - F.col("click_ts").cast("double")
    )
    return conv.groupBy(
        F.date_format(F.date_trunc("day", "click_ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_converted_clicks"),
        F.countDistinct("user_id").alias("n_users"),
        (
            F.sum(half_away_long(lag_us, 1_000_000))
            / 1_000_000.0
        ).alias("total_lag_seconds"),
    )


ZSCORE_CUT = 3.0


@register(
    "q_zscore_outliers",
    oracle=f"""
        WITH cents AS (
            SELECT event_id, event_type, value,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
            FROM events
        ), stats AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   SUM(vc) AS s,
                   SUM(vc * vc) AS sq
            FROM cents GROUP BY event_type
        ), scored AS (
            SELECT c.event_id, c.event_type, c.value,
                   (CAST(c.vc AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
                   / sqrt((CAST(s.sq AS DOUBLE)
                           - CAST(s.s AS DOUBLE) * s.s / s.n) / (s.n - 1))
                       AS z
            FROM cents c JOIN stats s ON c.event_type = s.event_type
        )
        SELECT event_id, event_type, value, ROUND(z, 6) AS zscore
        FROM scored WHERE abs(z) > {ZSCORE_CUT}
    """,
    category=CAT,
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: per-event-type z-score outliers (|z| > 3) — the standard
    metric-stream anomaly screen. Mean and sample variance are built
    from EXACT cent-scaled integer sums (Σv, Σv²), so z and the cut
    itself are deterministic doubles — a naive float stddev differs in
    the last ulp across partition merge orders, and a boundary row
    would flip in and out of the answer.

    Scale: one map-side-combined aggregate (3 longs per type) + a
    broadcast join back — the corpus scans twice but never shuffles.
    Σv² of cent-scaled values needs |v|·100 ≤ ~3e4 per row to keep
    Σv² < 2^63 at 10^10 rows — holds here with wide margin; switch
    the accumulator to DECIMAL beyond that.
    """
    e = load(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100 + 0.5).cast("long")
    cents = e.select("event_id", "event_type", "value", vc.alias("vc"))
    stats = cents.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vc").alias("s"),
        F.sum(F.col("vc") * F.col("vc")).alias("sq"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("sq").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    z = (F.col("vc").cast("double") - mean) / F.sqrt(var)
    return (
        cents.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > ZSCORE_CUT)
        .select("event_id", "event_type", "value", F.round("z", 6).alias("zscore"))
    )


@register(
    "q_session_window_native",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ), numbered AS (
            SELECT *,
                   CAST(SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(MAX(ts) + INTERVAL 30 MINUTE,
                        '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM numbered
        GROUP BY user_id, session_id
    """,
    category=CAT,
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: sessionization through Spark's BUILT-IN session_window
    aggregate — the native operator T3's gaps-and-islands formulation
    emulates. One groupBy(session_window(ts, '30 minutes'), user_id),
    no explicit window functions at all; Catalyst plans the
    session-merge itself (UpdatingSessionsExec + MergingSessionsExec).

    Semantics note the oracle mirrors exactly — MEASURED, round 7:
    Spark's session merge is INCLUSIVE at the boundary (an event at
    exactly last + 30 min JOINS the session; a new session starts
    only when the gap is strictly greater). Probed directly: events
    at t=0 s and t=100 s under a 100 s gap form ONE session ending
    at 200 s. The oracle's island break is therefore `gap > 30 min`
    — the SAME convention as T3. This replaced a wrong half-open
    (`>=`) oracle that had been latent since round 5: the fixture
    has no exact-boundary gaps, so parity never tripped; a
    hypothesis boundary case (tests/test_property_scalar.py) found
    it. session_end is last_event + gap (the native window's `end`
    field), not last_event.

    Scale: the native operator sorts within user partitions and
    merges adjacent sessions in one pass — the same single-shuffle
    cost as T3 but with the merge loop in Tungsten-generated code
    instead of two window passes; it is also the exact operator the
    streaming twin (streaming/jobs.py session_window_stream) runs
    with state eviction, so batch and stream share semantics.
    """
    e = load(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        e.groupBy(sw, "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )


@register(
    "q_out_of_order_report",
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   epoch_us(ts) AS t_us,
                   MAX(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS seen_max_us
            FROM events
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN t_us < seen_max_us THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_out_of_order,
               CAST(COALESCE(MAX(CASE WHEN t_us < seen_max_us
                                      THEN seen_max_us - t_us END), 0)
                    AS BIGINT) AS max_regression_us,
               CAST(COUNT(DISTINCT CASE WHEN t_us < seen_max_us
                                        THEN user_id END)
                    AS BIGINT) AS affected_users
        FROM seq
    """,
    category=CAT,
)
def q_out_of_order_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: event-time disorder diagnostic — treating arrival order as
    event_id order (the generator's append sequence), count events
    whose timestamp regresses behind the per-user running maximum,
    and the worst regression. THE report that picks a streaming
    watermark delay: max_regression bounds the lateness a watermark
    must tolerate before T5-style drops begin (here the generator is
    order-preserving, so the report proves in-orderness — equally
    load-bearing as a data-quality gate).

    Scale: one user-keyed window with O(1) running-max state, then a
    global single-row rollup; the COUNT DISTINCT collapses to the
    affected-user set only.
    """
    e = load(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
    ).withColumn("seen_max_us", F.max("t_us").over(w_prev))
    late = F.col("t_us") < F.col("seen_max_us")
    return seq.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_out_of_order"),
        F.coalesce(
            F.max(F.when(late, F.col("seen_max_us") - F.col("t_us"))),
            F.lit(0),
        )
        .cast("long")
        .alias("max_regression_us"),
        F.countDistinct(F.when(late, F.col("user_id")))
        .cast("long")
        .alias("affected_users"),
    )


@register(
    "q_engagement_report",
    oracle=_SESSION_CTE + """
        , sessions AS (
            SELECT user_id, session_id,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS has_purchase
            FROM (SELECT n.user_id, n.session_id, e.event_type
                  FROM numbered n JOIN events e ON n.event_id = e.event_id)
            GROUP BY user_id, session_id
        )
        SELECT * FROM (
            SELECT 1 AS stage_idx, 'events' AS stage,
                   CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n
            UNION ALL
            SELECT 2, 'active_users',
                   CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
            UNION ALL
            SELECT 3, 'sessions',
                   CAST((SELECT COUNT(*) FROM sessions) AS BIGINT)
            UNION ALL
            SELECT 4, 'converting_sessions',
                   CAST((SELECT SUM(has_purchase) FROM sessions) AS BIGINT)
            UNION ALL
            SELECT 5, 'purchases',
                   CAST((SELECT COUNT(*) FROM events
                         WHERE event_type = 'purchase') AS BIGINT)
        )
    """,
    category=CAT,
)
def q_engagement_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11: the composed engagement run report — the events-side
    analog of q_curation_funnel's per-stage ledger: raw events →
    distinct actives → 30-min sessions → converting sessions →
    purchases, one row per stage. This is the operator a pipeline
    owner actually schedules; it composes T3's sessionization and the
    funnel semantics into one small auditable table, and its oracle
    re-derives every stage from the same session CTE.

    Scale: ONE sessionization pass (the user-keyed window sort) feeds
    the session-grain frame; every stage number is a bounded
    aggregate over either the raw scan or that frame. The report's
    cost is the sessionize pass — the other stages ride it.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    numbered = e.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    ).withColumn("session_id", F.sum("new_session").over(w_run))
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("has_purchase")
    )

    def row(idx: int, stage: str, df_agg: DataFrame) -> DataFrame:
        return df_agg.select(
            F.lit(idx).alias("stage_idx"),
            F.lit(stage).alias("stage"),
            F.col("n").cast("long").alias("n"),
        )

    report = (
        row(1, "events", e.agg(F.count(F.lit(1)).alias("n")))
        .unionByName(
            row(2, "active_users", e.agg(F.countDistinct("user_id").alias("n")))
        )
        .unionByName(
            row(3, "sessions", sessions.agg(F.count(F.lit(1)).alias("n")))
        )
        .unionByName(
            row(
                4,
                "converting_sessions",
                sessions.agg(F.sum("has_purchase").alias("n")),
            )
        )
        .unionByName(
            row(
                5,
                "purchases",
                e.filter(F.col("event_type") == "purchase").agg(
                    F.count(F.lit(1)).alias("n")
                ),
            )
        )
    )
    return report


_PATTERN = "c[ve]*p"  # click, then only views/errors, then purchase


@register(
    "q_session_pattern",
    oracle=_SESSION_CTE + """
        , strs AS (
            SELECT n.user_id, n.session_id,
                   string_agg(CASE e.event_type
                                WHEN 'click' THEN 'c' WHEN 'view' THEN 'v'
                                WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                                ELSE 'e' END, ''
                              ORDER BY e.ts, e.event_id) AS seq
            FROM numbered n JOIN events e ON n.event_id = e.event_id
            GROUP BY n.user_id, n.session_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN regexp_matches(seq, 'c[ve]*p')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_matching,
               round(CAST(SUM(CASE WHEN regexp_matches(seq, 'c[ve]*p')
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS match_frac
        FROM strs
    """,
    category=CAT,
)
def q_session_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12: MATCH_RECOGNIZE-style sequence patterns over sessions —
    each 30-min session renders as an ordered event-initial string
    ('cvvp…') and a regex states the behavioral pattern (here:
    click → only views/errors → purchase, the direct-conversion
    shape). Row-pattern matching without the MATCH_RECOGNIZE clause
    (which neither engine parses): sessionize → serialize → regex,
    the portable encoding of sequence SQL.

    Determinism: the per-session string is an ORDERED aggregation —
    Spark sorts the collected (ts, event_id, initial) structs before
    joining; DuckDB uses string_agg's ORDER BY. Ties break on the
    unique event_id in both.

    Scale: rides T3's single sessionize pass; the serialized string
    per session is bounded by session length (short here; a
    pathological never-idle user caps at the session window). The
    regex runs once per session, inside codegen.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    numbered = e.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    ).withColumn("session_id", F.sum("new_session").over(w_run))
    initial = (
        F.when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    strs = (
        numbered.select(
            "user_id",
            "session_id",
            F.struct(
                F.col("ts").alias("t"),
                F.col("event_id").alias("id"),
                initial.alias("i"),
            ).alias("ev"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.expr("transform(sort_array(collect_list(ev)), x -> x.i)"), ""
            ).alias("seq")
        )
    )
    hit = F.col("seq").rlike(_PATTERN)
    return strs.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(hit.cast("int")).cast("long").alias("n_matching"),
        F.round(
            F.sum(hit.cast("int")).cast("double") / F.count(F.lit(1)), 6
        ).alias("match_frac"),
    )
