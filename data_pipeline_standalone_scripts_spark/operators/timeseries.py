"""Time-series warehouse operators over the `events` stream table:
gap-fill with forward-fill interpolation, SCD2 interval construction,
and a hypertable-style multi-resolution rollup.

These complete the temporal family around events.py (T1–T8): where
those answer "aggregate what happened", these build the *derived
temporal tables* a warehouse keeps — dense per-key series (gap-fill),
validity-interval dimensions (SCD2), and pre-aggregated multi-grain
rollups (the continuous-aggregate pattern from the time-series DB
world, e.g. TimescaleDB continuous aggregates / Druid rollup).

Scale notes (100 TB):
- Gap-fill's spine is |keys| × |buckets| — generated ON the executors
  by `sequence()` + `explode` after a key-partitioned shuffle, never
  driver-side. The dense join is a per-key sort-merge on the same
  partitioning the forward-fill window needs, so the spine costs ONE
  exchange.
- SCD2 is two window passes over one user-partitioned sort plus a
  per-run aggregate that reuses the partitioning — the same
  gaps-and-islands shape as q_session_window, no join.
- The multi-grain rollup uses GROUPING SETS, which expands rows ×3
  BEFORE the shuffle (Expand operator) but scans the fact table ONCE;
  at scale that beats three separate scans whenever the scan dominates,
  and the per-grain partial aggregation still map-side combines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import dsum, o_dsum, o_ts_str, ts_str

CAT = "timeseries"

_SCD2_SENTINEL = "9999-12-31 23:59:59.000000"


@register(
    "q_gap_fill_daily",
    oracle=f"""
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   COUNT(*) AS n_events,
                   {o_dsum("value", "day_value")}
            FROM events GROUP BY 1, 2
        ), span AS (
            SELECT date_trunc('day', MIN(ts)) AS d0,
                   date_trunc('day', MAX(ts)) AS d1
            FROM events
        ), spine AS (
            SELECT u.user_id, g.day
            FROM (SELECT DISTINCT user_id FROM events) u
            CROSS JOIN (
                SELECT unnest(generate_series((SELECT d0 FROM span),
                                              (SELECT d1 FROM span),
                                              INTERVAL 1 DAY)) AS day
            ) g
        )
        SELECT s.user_id,
               strftime(s.day, '%Y-%m-%d') AS day,
               COALESCE(d.n_events, 0) AS n_events,
               COALESCE(LAST_VALUE(d.day_value IGNORE NULLS) OVER (
                            PARTITION BY s.user_id ORDER BY s.day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                        0.0) AS filled_value
        FROM spine s
        LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
    category=CAT,
)
def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS1: dense per-user daily series with forward-fill.

    Missing (user, day) buckets get n_events=0 and carry the last
    observed daily value forward (`last(..., ignorenulls=True)` —
    the standard LOCF interpolation); days before a user's first
    activity fill with 0.0. The date spine is computed from the
    table's own min/max day (one 1-row broadcast, no collect) and
    generated per-user on the executors via sequence()+explode.

    Scale: spine rows = |users| × |days| — linear in key count, dense
    in time. The left join and the forward-fill window both key on
    user_id, so Catalyst reuses one hash-partitioning across the
    join, the window sort, and the spine's post-explode distribution.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "day_value"))
    span = e.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    spine = (
        e.select("user_id")
        .distinct()
        .join(F.broadcast(span))
        .select(
            "user_id",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
            F.coalesce(
                F.last("day_value", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("filled_value"),
        )
    )


@register(
    "q_scd2_intervals",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(event_type) OVER w IS NULL
                             OR lag(event_type) OVER w <> event_type
                        THEN 1 ELSE 0 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ), runs AS (
            SELECT *,
                   CAST(SUM(chg) OVER (PARTITION BY user_id
                                       ORDER BY ts ASC, event_id ASC
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW)
                        AS BIGINT) AS run_id
            FROM flagged
        ), iv AS (
            SELECT user_id, run_id,
                   MIN(event_type) AS event_type,
                   MIN(ts) AS valid_from,
                   COUNT(*) AS n_events
            FROM runs GROUP BY 1, 2
        )
        SELECT user_id, run_id, event_type,
               {o_ts_str("valid_from", "valid_from")},
               COALESCE(strftime(LEAD(valid_from) OVER (
                            PARTITION BY user_id ORDER BY run_id),
                        '%Y-%m-%d %H:%M:%S.%f'),
                        '{_SCD2_SENTINEL}') AS valid_to,
               n_events
        FROM iv
    """,
    category=CAT,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS2: type-2 slowly-changing-dimension build from an event log.

    Treats each user's event_type as a tracked attribute: consecutive
    runs of the same value collapse to one row with
    [valid_from, valid_to) validity (valid_to = next run's start;
    open intervals get a 9999-12-31 sentinel — the standard SCD2
    encoding). Gaps-and-islands: change flag via lag, run id via
    cumulative sum, both over one user-partitioned sort.

    Scale: one exchange on user_id serves the two stacked windows,
    the per-run aggregate, AND the final lead() — Catalyst collapses
    them onto a single sort. No join anywhere; state per key is one
    run's worth. The streaming twin of this shape is
    q_session_window's session assembly.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    iv = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    return iv.select(
        "user_id",
        "run_id",
        "event_type",
        ts_str("valid_from", "valid_from"),
        F.coalesce(
            F.date_format(
                F.lead("valid_from").over(w2), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ),
            F.lit(_SCD2_SENTINEL),
        ).alias("valid_to"),
        "n_events",
    )


_ROLLUP_SQL = """
    WITH b AS (
        SELECT date_trunc('minute', ts) AS minute_b,
               date_trunc('hour', ts) AS hour_b,
               date_trunc('day', ts) AS day_b,
               value
        FROM {events}
    )
    SELECT CASE WHEN GROUPING(minute_b) = 0 THEN 'minute'
                WHEN GROUPING(hour_b) = 0 THEN 'hour'
                ELSE 'day' END AS grain,
           {fmt} AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
    FROM b
    GROUP BY GROUPING SETS ((minute_b), (hour_b), (day_b))
"""


@register(
    "q_rollup_multires",
    oracle=_ROLLUP_SQL.format(
        fmt="strftime(COALESCE(minute_b, hour_b, day_b), '%Y-%m-%d %H:%M:%S')",
        events="events",
    ),
    category=CAT,
)
def q_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS3: hypertable-style multi-resolution rollup — minute, hour,
    and day aggregates of the events fact in ONE scan via GROUPING
    SETS (the continuous-aggregate / OLAP-rollup pattern; grain is
    recovered from the GROUPING() bitmask).

    Scale: Expand triples rows before the shuffle but each expanded
    row partially aggregates map-side into its own grain's bucket, so
    shuffled volume ≈ Σ per-grain distinct buckets — for a month of
    data that's minutes+hours+days ≈ 45k rows regardless of fact
    size. One fact scan instead of three is the win once the scan is
    the cost (always true at 100 TB).
    """
    return spark.sql(
        _ROLLUP_SQL.format(
            fmt="date_format(COALESCE(minute_b, hour_b, day_b), "
            "'yyyy-MM-dd HH:mm:ss')",
            events="{events}",
        ),
        events=load(spark, sf_dir, "events"),
    )


@register(
    "q_rolling_corr",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('day', o_orderdate) AS day,
                   COUNT(*) AS x,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
            FROM orders GROUP BY 1
        ), win AS (
            SELECT day,
                   CAST(COUNT(*) OVER w AS BIGINT) AS k,
                   CAST(SUM(x) OVER w AS BIGINT) AS sx,
                   CAST(SUM(y) OVER w AS BIGINT) AS sy,
                   CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) OVER w AS syy,
                   CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, k,
               round(CASE WHEN (k * sxx - sx * sx) = 0
                               OR (CAST(k AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy) = 0
                          THEN NULL
                          ELSE CAST(k * sxy - sx * sy AS DOUBLE)
                               / (sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
                                  * sqrt(CAST(CAST(k AS HUGEINT) * syy
                                              - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
                     END, 6) AS corr7
        FROM win
        WHERE k >= 3
    """,
    category=CAT,
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS4: 7-day rolling Pearson correlation between daily order
    count and daily revenue.

    All six windowed moments (k, Σx, Σy, Σx², Σy², Σxy) accumulate as
    exact integers (revenue in cents), so the correlation inputs are
    bit-identical across engines and partitionings; only the final
    ratio is float (sqrt/division are IEEE-correctly-rounded, then
    r6 on both sides). The Σy² accumulator itself exceeds BIGINT at
    sf0.1 magnitudes (daily revenue ~2.3e9 cents ⇒ 7-day Σy² ~3.7e19
    > 2^63), so that sum — and everything derived from it (k·Σy²,
    Σy·Σy) — runs in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); the
    per-row y² product still fits BIGINT, so the widening happens
    before accumulation, not per multiply. Windows with fewer than 3
    days or a zero-variance side emit NULL/are dropped.

    Scale: the window runs over the DAILY aggregate (≤ one row per
    day), not the fact table — the fact scan contributes one
    map-side-combined aggregation, and the unpartitioned window sees
    only |days| rows, so the single-partition window is bounded and
    harmless at any fact size.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)")).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    win = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("k"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.expr("x * x")).over(w).alias("sxx"),
        F.sum(F.expr("cast(y as decimal(38,0)) * y")).over(w).alias("syy"),
        F.sum(F.expr("x * y")).over(w).alias("sxy"),
    )
    dx = F.expr("k * sxx - sx * sx")
    dy = F.expr(
        "cast(k as decimal(38,0)) * syy - cast(sy as decimal(38,0)) * sy"
    )
    corr = F.round(
        F.when((dx == 0) | (dy == 0), F.lit(None).cast("double")).otherwise(
            F.expr("cast(k * sxy - sx * sy as double)")
            / (
                F.sqrt(dx.cast("double"))
                * F.sqrt(dy.cast("double"))
            )
        ),
        6,
    )
    return (
        win.filter(F.col("k") >= 3)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "k",
            corr.alias("corr7"),
        )
    )


@register(
    "q_decay_score",
    oracle="""
        WITH mx AS (SELECT MAX(ts) AS t_max FROM events)
        SELECT user_id,
               COUNT(*) AS n_events,
               round(SUM(value * exp(-((epoch_us(t_max) - epoch_us(ts))
                                       / 86400000000.0))), 6) AS decay_score
        FROM events CROSS JOIN mx
        GROUP BY user_id
    """,
    category=CAT,
)
def q_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS5: exponentially time-decayed engagement score per user —
    Σ value·e^(−Δt/1 day) against the table's newest event (the
    recency-weighted feature used by ranking/recommendation
    pipelines; half-life ≈ 16.6 h).

    Float discipline: the per-term exp() is evaluated identically by
    both engines' libm to well under the r6 boundary, and the sum's
    partition-order nondeterminism is ~1e-13 absolute at these
    magnitudes, so round-6 is stable (the same argument as the stddev
    family, SURVEY §1.3 rule 2).

    Scale: one 1-row broadcast (global max ts — no collect) and one
    map-side-combined grouped sum. An incremental variant at 100 TB
    folds new days in by multiplying yesterday's score by e^(−1) —
    the decay factors by construction compose multiplicatively.
    """
    e = load(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("t_max"))
    return (
        e.join(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(
                    F.col("value")
                    * F.exp(
                        -(
                            (
                                F.unix_micros("t_max") - F.unix_micros("ts")
                            )
                            / F.lit(86400000000.0)
                        )
                    )
                ),
                6,
            ).alias("decay_score"),
        )
    )


@register(
    "q_autocorr_daily",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        ),
        lagged AS (
            SELECT lag, a.n AS x, b.n AS y
            FROM daily a
            JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l ON TRUE
            JOIN daily b ON b.day = a.day + CAST(lag AS INT)
        ),
        moms AS (
            SELECT lag, COUNT(*) AS cnt,
                   SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
                   SUM(x*x) AS sxx, SUM(y*y) AS syy
            FROM lagged GROUP BY 1
        )
        SELECT CAST(lag AS BIGINT) AS lag, cnt,
               round((CAST(cnt AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                     / (sqrt(CAST(cnt AS DOUBLE)*sxx
                             - CAST(sx AS DOUBLE)*sx)
                        * sqrt(CAST(cnt AS DOUBLE)*syy
                               - CAST(sy AS DOUBLE)*sy)), 6) AS acf
        FROM moms
    """,
    category=CAT,
)
def q_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS6: autocorrelation of the daily event-volume series at lags
    1–7 — the seasonality detector behind q_forecast_backtest's lag-7
    choice (a weekly cycle shows as an acf peak at lag 7).

    Determinism: daily counts are exact longs, so all five moment
    sums are exact integer aggregates (order-free); the Pearson
    numerator/denominator use the n·Σxy − Σx·Σy form on identical
    doubles — no Welford/streaming-variance path (engine-specific
    accumulation order) ever runs.

    Scale: the fact collapses to ~days rows in one map-side-combined
    pass; everything after (lag spine cross join, self-join on
    date_add, moment rollup) operates on the tiny daily frame. The
    acf of a 100 TB event log costs exactly one scan.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = daily.select(F.col("day").alias("day_a"), F.col("n").alias("x"))
    b = daily.select(F.col("day").alias("day_b"), F.col("n").alias("y"))
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("day_b")
            == F.expr("date_add(day_a, cast(lag as int))"),
        )
    )
    moms = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cnt_d = F.col("cnt").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    num = cnt_d * F.col("sxy") - sx_d * F.col("sy")
    den = F.sqrt(cnt_d * F.col("sxx") - sx_d * F.col("sx")) * F.sqrt(
        cnt_d * F.col("syy") - sy_d * F.col("sy")
    )
    return moms.select(
        "lag", "cnt", F.round(num / den, 6).alias("acf")
    )


# ---------------------------------------------------------------------------
# TS7–TS9: linear interpolation, CUSUM changepoint, CUSUM drawdown.
# All three work on per-key daily revenue in EXACT integer cents
# (o_totalprice is 2-decimal, so round(x*100) is rounding-free), so every
# running statistic is plain long arithmetic — order-free and bit-identical
# across engines. Worst-case magnitude: n_days * total_cents ≈
# 7e2 * 2e12 ≈ 1.6e15 at sf0.1, ~3 orders under 2^63.
# ---------------------------------------------------------------------------

_DAILY_NATION_CTE = """
    daily AS (
        SELECT n.n_name, CAST(date_trunc('day', o.o_orderdate) AS DATE) AS day,
               CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
"""

_DAILY_PRIO_CTE = """
    daily AS (
        SELECT o_orderpriority AS prio,
               CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders GROUP BY 1, 2
    )
"""


def _daily_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name", F.date_trunc("day", "o_orderdate").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )


def _daily_prio(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("day", "o_orderdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )


@register(
    "q_interpolate_linear",
    oracle=f"""
        WITH {_DAILY_NATION_CTE},
        span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
        spine AS (
            SELECT k.n_name, CAST(g.day AS DATE) AS day
            FROM (SELECT DISTINCT n_name FROM daily) k
            CROSS JOIN (
                SELECT unnest(generate_series((SELECT d0 FROM span),
                                              (SELECT d1 FROM span),
                                              INTERVAL 1 DAY)) AS day
            ) g
        ),
        j AS (
            SELECT s.n_name, s.day, d.cents,
                   LAST_VALUE(d.cents IGNORE NULLS) OVER w_prev AS prev_c,
                   LAST_VALUE(CASE WHEN d.cents IS NOT NULL THEN s.day END
                              IGNORE NULLS) OVER w_prev AS prev_d,
                   FIRST_VALUE(d.cents IGNORE NULLS) OVER w_next AS next_c,
                   FIRST_VALUE(CASE WHEN d.cents IS NOT NULL THEN s.day END
                               IGNORE NULLS) OVER w_next AS next_d
            FROM spine s LEFT JOIN daily d
              ON s.n_name = d.n_name AND s.day = d.day
            WINDOW
              w_prev AS (PARTITION BY s.n_name ORDER BY s.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              w_next AS (PARTITION BY s.n_name ORDER BY s.day
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        ),
        gaps AS (
            SELECT n_name, day,
                   (CAST(prev_c AS DOUBLE) * date_diff('day', day, next_d)
                    + CAST(next_c AS DOUBLE) * date_diff('day', prev_d, day))
                   / date_diff('day', prev_d, next_d) / 100.0 AS interp
            FROM j
            WHERE cents IS NULL AND prev_c IS NOT NULL AND next_c IS NOT NULL
        )
        SELECT j.n_name,
               COUNT(*) AS n_days,
               CAST(SUM(CASE WHEN j.cents IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_observed,
               CAST(SUM(j.cents) AS BIGINT) AS observed_cents,
               (SELECT COUNT(*) FROM gaps g WHERE g.n_name = j.n_name)
                 AS n_interpolated,
               COALESCE((SELECT {o_dsum('g.interp', 'x')[:-5]}
                         FROM gaps g WHERE g.n_name = j.n_name), 0.0)
                 AS interp_total
        FROM j
        GROUP BY j.n_name
        ORDER BY j.n_name
    """,
    category=CAT,
)
def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS7: linear interpolation of missing points in a sparse per-key
    daily series — the companion to q_gap_fill_daily's LOCF: gap days
    strictly between two observations get the length-weighted blend
    prev·(next_d−day) + next·(day−prev_d) / (next_d−prev_d).

    Determinism: observed values are exact cents (longs); each
    interpolated value is ONE double expression over exact integer
    inputs (identical IEEE result in both engines), and the per-nation
    interpolation total is accumulated with the micro-unit scaled-long
    discipline (`dsum`), so no float-sum ordering ever matters.

    Scale: the spine is |keys|×|days| rows generated executor-side;
    both fill windows and the left join share one (key)-partitioning —
    a single exchange before per-key sorted passes, same as gap-fill.
    """
    daily = _daily_nation(spark, sf_dir)
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    keys = daily.select("n_name").distinct()
    spine = keys.crossJoin(F.broadcast(span)).select(
        "n_name",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    ).select("n_name", F.col("day").cast("date").alias("day"))
    j = spine.join(daily, ["n_name", "day"], "left")
    w_prev = (
        Window.partitionBy("n_name")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("n_name")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    j = j.select(
        "n_name",
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(w_prev).alias("prev_c"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("prev_d"),
        F.first("cents", ignorenulls=True).over(w_next).alias("next_c"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("next_d"),
    )
    interp = (
        (
            F.col("prev_c").cast("double")
            * F.datediff("next_d", "day")
            + F.col("next_c").cast("double") * F.datediff("day", "prev_d")
        )
        / F.datediff("next_d", "prev_d")
        / 100.0
    )
    gap = F.col("cents").isNull() & F.col("prev_c").isNotNull() & F.col(
        "next_c"
    ).isNotNull()
    enriched = j.withColumn("interp", F.when(gap, interp))
    return (
        enriched.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.when(F.col("cents").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_observed"),
            F.sum("cents").cast("long").alias("observed_cents"),
            F.sum(F.when(F.col("interp").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_interpolated"),
            F.coalesce(dsum(F.col("interp"), "x"), F.lit(0.0)).alias(
                "interp_total"
            ),
        )
        .orderBy("n_name")
    )


_CUSUM_CTE = f"""
    WITH {_DAILY_PRIO_CTE},
    seq AS (
        SELECT prio, day, cents,
               ROW_NUMBER() OVER w AS t,
               SUM(cents) OVER (PARTITION BY prio ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS prefix,
               COUNT(*) OVER (PARTITION BY prio) AS n,
               SUM(cents) OVER (PARTITION BY prio) AS total
        FROM daily
        WINDOW w AS (PARTITION BY prio ORDER BY day)
    ),
    walk AS (
        SELECT prio, day, n, n * prefix - t * total AS dev
        FROM seq
    )
"""


def _cusum_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared scaled-integer CUSUM walk: dev_t = n·prefix_t − t·total.

    This is n·Σ_{i≤t}(x_i − mean) kept in exact longs by multiplying
    through by n instead of dividing by it — the standard trick for
    making a mean-relative running statistic integer-exact.
    """
    daily = _daily_prio(spark, sf_dir)
    w_run = (
        Window.partitionBy("prio")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("prio")
    seq = daily.select(
        "prio",
        "day",
        F.row_number().over(Window.partitionBy("prio").orderBy("day")).alias("t"),
        F.sum("cents").over(w_run).alias("prefix"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("cents").over(w_all).alias("total"),
    )
    return seq.select(
        "prio",
        "day",
        "n",
        (F.col("n") * F.col("prefix") - F.col("t") * F.col("total")).alias("dev"),
    )


@register(
    "q_cusum_changepoint",
    oracle=f"""
        {_CUSUM_CTE},
        ranked AS (
            SELECT prio, day, n, dev,
                   ROW_NUMBER() OVER (PARTITION BY prio
                                      ORDER BY abs(dev) DESC, day ASC) AS r
            FROM walk
        )
        SELECT prio, CAST(n AS BIGINT) AS n_days,
               CAST(abs(dev) AS BIGINT) AS max_abs_dev,
               strftime(day, '%Y-%m-%d') AS shift_day
        FROM ranked WHERE r = 1
        ORDER BY prio
    """,
    category=CAT,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS8: CUSUM changepoint detection on per-priority daily revenue.
    The walk dev_t = n·Σ_{i≤t}(x_i) − t·Σx (the mean-centred cumulative
    sum scaled by n to stay integer) peaks at the most likely level-
    shift point; the op reports each series' peak |dev| and its day
    (ties broken to the earliest day).

    Determinism: cents are exact longs, so the walk is pure long
    arithmetic — both engines produce bit-identical devs; argmax is
    pinned by the (|dev| DESC, day ASC) row_number.

    Scale: the fact collapses to ~|priorities|×|days| rows in one
    map-side-combined pass; all windows share one (prio)-partitioned
    sort. Headroom: n·total ≈ 7e2·2e12 ≈ 1.6e15 at sf0.1 — three
    orders under 2^63 (and the walk is per-key, so adding keys never
    grows the product).
    """
    walk = _cusum_walk(spark, sf_dir)
    ranked = walk.select(
        "prio",
        "day",
        "n",
        "dev",
        F.row_number()
        .over(
            Window.partitionBy("prio").orderBy(
                F.abs(F.col("dev")).desc(), F.col("day").asc()
            )
        )
        .alias("r"),
    )
    return (
        ranked.filter(F.col("r") == 1)
        .select(
            "prio",
            F.col("n").cast("long").alias("n_days"),
            F.abs(F.col("dev")).cast("long").alias("max_abs_dev"),
            F.date_format("day", "yyyy-MM-dd").alias("shift_day"),
        )
        .orderBy("prio")
    )


@register(
    "q_drawdown",
    oracle=f"""
        {_CUSUM_CTE},
        dd AS (
            SELECT prio, day, n,
                   MAX(dev) OVER (PARTITION BY prio ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - dev AS drawdown
            FROM walk
        ),
        ranked AS (
            SELECT prio, day, n, drawdown,
                   ROW_NUMBER() OVER (PARTITION BY prio
                                      ORDER BY drawdown DESC, day ASC) AS r
            FROM dd
        )
        SELECT prio, CAST(n AS BIGINT) AS n_days,
               CAST(drawdown AS BIGINT) AS max_drawdown,
               strftime(day, '%Y-%m-%d') AS trough_day
        FROM ranked WHERE r = 1
        ORDER BY prio
    """,
    category=CAT,
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS9: maximum drawdown of the mean-centred revenue walk — the
    deepest peak-to-trough decline (running-max minus current value),
    with the trough day. Where TS8's CUSUM flags the single largest
    |deviation|, drawdown measures the worst sustained DECLINE — the
    alerting statistic for "revenue has been sagging since day X".

    Determinism: same exact-long walk as TS8; running max and
    subtraction stay in longs; argmax pinned (drawdown DESC, day ASC).

    Scale: one extra running-max pass over the already-sorted per-key
    frame — shares the (prio) partitioning, no new exchange.
    """
    walk = _cusum_walk(spark, sf_dir)
    w_run = (
        Window.partitionBy("prio")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = walk.select(
        "prio",
        "day",
        "n",
        (F.max("dev").over(w_run) - F.col("dev")).alias("drawdown"),
    )
    ranked = dd.select(
        "prio",
        "day",
        "n",
        "drawdown",
        F.row_number()
        .over(
            Window.partitionBy("prio").orderBy(
                F.col("drawdown").desc(), F.col("day").asc()
            )
        )
        .alias("r"),
    )
    return (
        ranked.filter(F.col("r") == 1)
        .select(
            "prio",
            F.col("n").cast("long").alias("n_days"),
            F.col("drawdown").cast("long").alias("max_drawdown"),
            F.date_format("day", "yyyy-MM-dd").alias("trough_day"),
        )
        .orderBy("prio")
    )


@register(
    "q_theilsen_trend",
    oracle="""
        WITH daily AS (
            SELECT date_diff('day',
                       (SELECT MIN(date_trunc('day', o_orderdate)) FROM orders),
                       date_trunc('day', o_orderdate)) AS x,
                   COUNT(*) AS y
            FROM orders GROUP BY 1
        ),
        pairs AS (
            SELECT CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
            FROM daily a JOIN daily b ON b.x > a.x
        ),
        sl AS (SELECT median(slope) AS sen_slope,
                      COUNT(*) AS n_pairs FROM pairs),
        ic AS (
            SELECT median(d.y - s.sen_slope * d.x) AS intercept
            FROM daily d CROSS JOIN sl s
        )
        SELECT (SELECT COUNT(*) FROM daily) AS n_days,
               s.n_pairs,
               round(s.sen_slope, 6) AS sen_slope,
               round(i.intercept, 6) AS intercept
        FROM sl s CROSS JOIN ic i
    """,
    category=CAT,
)
def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS10: Theil–Sen robust trend of daily order volume — the median
    of all pairwise slopes (and the median-residual intercept), immune
    to the outlier days that wreck OLS (compare q_linreg_fit). The
    standard robust trend estimator for noisy operational series.

    Determinism: x is an exact day index, y an exact count; every
    pairwise slope is ONE double division of identical ints; both
    engines take the exact median (same (a+b)/2 interpolation on the
    same sorted doubles) — median, unlike a sum, needs no
    accumulation-order discipline.

    Scale: pairwise expansion is O(days²) of the AGGREGATED frame
    (~266k pairs for two years), independent of fact size — the fact
    collapses in one map-side-combined pass. For decade-long series,
    sample pairs deterministically (h60 on the pair key) — the
    estimator tolerates pair subsampling by design.
    """
    o = load(spark, sf_dir, "orders")
    base = o.agg(
        F.min(F.date_trunc("day", "o_orderdate")).alias("d0")
    )
    daily = (
        o.crossJoin(F.broadcast(base))
        .groupBy(
            F.datediff(F.date_trunc("day", "o_orderdate"), "d0").alias("x")
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("xb") > F.col("xa")).select(
        ((F.col("yb") - F.col("ya")).cast("double") / (F.col("xb") - F.col("xa")))
        .alias("slope")
    )
    sl = pairs.agg(
        F.median("slope").alias("sen_slope"), F.count(F.lit(1)).alias("n_pairs")
    )
    ic = (
        daily.crossJoin(F.broadcast(sl))
        .agg(
            F.median(F.col("y") - F.col("sen_slope") * F.col("x")).alias(
                "intercept"
            )
        )
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        n_days.crossJoin(sl)
        .crossJoin(ic)
        .select(
            "n_days",
            "n_pairs",
            F.round("sen_slope", 6).alias("sen_slope"),
            F.round("intercept", 6).alias("intercept"),
        )
    )


@register(
    "q_seasonal_decompose",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS y
            FROM events GROUP BY 1
        ),
        tr AS (
            SELECT day, y,
                   SUM(y) OVER w AS t7,
                   COUNT(*) OVER w AS w_n
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                         AND 3 FOLLOWING)
        ),
        det AS (
            SELECT isodow(day) - 1 AS dow,
                   7 * y - t7 AS det7
            FROM tr WHERE w_n = 7
        )
        SELECT CAST(dow AS BIGINT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               round(CAST(SUM(det7) AS DOUBLE) / 7.0 / COUNT(*), 6)
                   AS seasonal_effect
        FROM det
        GROUP BY dow
        ORDER BY dow
    """,
    category=CAT,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS11: classical seasonal decomposition (additive, weekly) of
    the daily event-volume series: trend = centered 7-day moving
    average (full windows only), seasonal effect = mean detrended
    value per weekday. The decomposition behind AN13's seasonal-naive
    forecast — TS6's acf DETECTS the weekly cycle, this op MEASURES
    each weekday's effect in events/day (Monday=0 … Sunday=6).

    Determinism: detrended values are kept ×7-scaled integers
    (7·y − Σ±3 window) — the division by 7 and the per-weekday mean
    happen once at the end over exact long sums. Weekday numbering is
    pinned to ISO Monday=0 on both engines (Spark's Sunday-based
    `dayofweek` is shifted; DuckDB uses `isodow`).

    Scale: the fact collapses to the daily frame in one pass; the MA
    window and weekday rollup run over ≤ |days| rows.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "y",
        F.sum("y").over(w).alias("t7"),
        F.count(F.lit(1)).over(w).alias("w_n"),
    )
    det = tr.filter(F.col("w_n") == 7).select(
        ((F.dayofweek("day") + 5) % 7).alias("dow"),
        (7 * F.col("y") - F.col("t7")).alias("det7"),
    )
    return (
        det.groupBy(F.col("dow").cast("long").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum("det7").cast("double") / 7.0 / F.count(F.lit(1)), 6
            ).alias("seasonal_effect"),
        )
        .orderBy("dow")
    )
