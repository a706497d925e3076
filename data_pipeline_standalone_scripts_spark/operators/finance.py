"""Market-data / metering operators over the `events` stream table:
OHLC candlestick bars, volume-weighted average price, time-weighted
average value, and interval-union coverage.

These are the standard derived tables of a tick store (kdb+/
TimescaleDB style): bars aggregate raw ticks into fixed buckets,
VWAP weights price by traded size, TWA weights a sampled level by how
long it was in force (billing/metering semantics), and coverage
merges overlapping validity intervals (uptime/SLA accounting).

Reference parity note: the reference repo's score-accumulation loop
(per-image metric dicts appended file-by-file, SURVEY.md §1.1) is the
same accumulate-per-bucket shape as bar-building; here it becomes a
single hash aggregate instead of a Python for-loop.

Cross-engine determinism:
- open/close are picked by MIN/MAX over a (ts, event_id, value)
  struct — lexicographic struct comparison with the unique event_id
  as tie-break gives ONE well-defined first/last tick per bar in both
  engines (DuckDB compares STRUCTs lexicographically too; verified).
- Every weighted sum is an exact integer sum: values scale to
  centi-units (value ≤ ~300 ⇒ ≤ 3e4), durations to whole seconds
  (≤ 2.6e6 per 30-day span), so each product ≤ 8e10 and 100 k-row
  sums stay far under 2^63. Division to double happens ONCE at the
  end — identical numerator/denominator longs ⇒ identical doubles.

Scale (100 TB):
- OHLC: single hash aggregate keyed (event_type, bar) — map-side
  combinable (min/max/count/sum partials), one shuffle whose
  cardinality is bars, not ticks. Bar keys grow with wall-time, so no
  key ever becomes hot beyond one symbol-hour's ticks; a pathological
  single-symbol burst is AQE-skew-splittable because partials merge.
- VWAP: same single-agg shape.
- TWA/coverage: per-user window over (ts, event_id) — one shuffle
  keyed by user_id, state is O(1) per row (lead/running max). User
  skew bounds the partition; a whale user would take salted two-level
  aggregation (sub-aggregate per (user, day), then merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load

CAT = "finance"


@register(
    "q_ohlc_bars",
    oracle="""
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_hour,
               struct_extract(MIN({'ts': ts, 'id': event_id, 'v': value}), 'v')
                   AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               struct_extract(MAX({'ts': ts, 'id': event_id, 'v': value}), 'v')
                   AS close,
               COUNT(*) AS n_ticks,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
                   AS turnover
        FROM events
        GROUP BY 1, 2
    """,
    category=CAT,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIN1: hourly OHLC candlesticks per event_type.

    open/close = value of the chronologically first/last tick in the
    bar (ties on ts broken by the unique event_id, encoded as a
    lexicographic struct MIN/MAX — no window pass needed); high/low =
    raw MIN/MAX (comparison only, so doubles cross the oracle
    boundary bit-exactly); turnover = exact centi-unit sum.

    Plan: ONE map-side-combinable hash aggregate — no window, no
    join; the shuffle carries one partial row per (event_type, hour).
    At 100 TB this is the canonical bar-builder: partials for
    min/max-of-struct merge associatively, so tick order and
    partitioning never matter.
    """
    e = load(spark, sf_dir, "events")
    tick = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("id"),
        F.col("value").alias("v"),
    )
    return (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "bar_hour"
            ),
        )
        .agg(
            F.min(tick).getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(tick).getField("v").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / 100.0
            ).alias("turnover"),
        )
    )


@register(
    "q_vwap_daily",
    oracle="""
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)
                        * CAST(props ->> '$.k' AS BIGINT)) AS BIGINT)
                   AS turnover_centi,
               CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS volume,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)
                        * CAST(props ->> '$.k' AS BIGINT)) AS DOUBLE)
                   / 100.0
                   / NULLIF(SUM(CAST(props ->> '$.k' AS BIGINT)), 0) AS vwap
        FROM events
        GROUP BY 1, 2
    """,
    category=CAT,
)
def q_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIN2: daily volume-weighted average price per event_type.

    value plays price, the integer `k` in the props JSON plays traded
    size. The weighted sum accumulates as exact longs (price in
    centi-units × integer size), so the final double division is the
    only float op and both engines divide the same two integers.
    NULLIF guards the all-zero-volume bucket (ANSI mode on both
    engines would otherwise error, SURVEY.md §7 hard-part 4).

    Plan: single hash aggregate after a JSON-path projection; the
    JSON parse is per-input-row but stays inside codegen
    (get_json_object), no Python boundary.
    """
    e = load(spark, sf_dir, "events")
    size = F.get_json_object("props", "$.k").cast("long")
    centi = F.round(F.col("value") * 100).cast("long")
    return (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.sum(centi * size).alias("turnover_centi"),
            F.sum(size).alias("volume"),
            (
                F.sum(centi * size).cast("double")
                / 100.0
                / F.nullif(F.sum(size), F.lit(0))
            ).alias("vwap"),
        )
    )


@register(
    "q_time_weighted_avg",
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   CAST(round(value * 100) AS BIGINT) AS centi,
                   epoch_us(ts) // 1000000 AS sec,
                   LEAD(epoch_us(ts) // 1000000)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS next_sec
            FROM events
        )
        SELECT user_id,
               CAST(SUM(next_sec - sec) AS BIGINT) AS held_seconds,
               CAST(COUNT(*) AS BIGINT) AS n_intervals,
               CAST(SUM(centi * (next_sec - sec)) AS DOUBLE) / 100.0
                   / NULLIF(SUM(next_sec - sec), 0) AS twa_value
        FROM seq
        WHERE next_sec IS NOT NULL
        GROUP BY 1
    """,
    category=CAT,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIN3: per-user time-weighted average of `value`.

    Each event's value is "in force" until the user's next event;
    the average weights each level by that holding duration (billing /
    metering semantics — the mean of the step function, not of the
    samples). The final (open-ended) interval is excluded. Weights
    are whole seconds as longs, values centi-units as longs: products
    ≤ 8e10, sums exact, one double division at the end.

    Plan: one shuffle keyed user_id feeding a sorted window (lead),
    then a hash aggregate on the SAME key — Catalyst reuses the
    window's hash-partitioning for the groupBy, so the agg is
    shuffle-free. O(1) window state per row.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.expr("unix_micros(ts) div 1000000")
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("centi"),
        sec.alias("sec"),
    ).withColumn("next_sec", F.lead("sec").over(w))
    dur = F.col("next_sec") - F.col("sec")
    return (
        seq.filter(F.col("next_sec").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(dur).alias("held_seconds"),
            F.count(F.lit(1)).alias("n_intervals"),
            (
                F.sum(F.col("centi") * dur).cast("double")
                / 100.0
                / F.nullif(F.sum(dur), F.lit(0))
            ).alias("twa_value"),
        )
    )


# Each event opens a validity interval of (10 + k mod 50) minutes —
# deterministic per-row width derived from the props JSON, giving a
# mix of short and long overlapping intervals.
_WIDTH_SEC = "(10 + (CAST(props ->> '$.k' AS BIGINT) % 50)) * 60"


# Deployment lever (VERDICT r06 #5 / r11 #8, shipped r12): a user_id-
# bucketed events layout turns this op's ONE mandatory exchange into a
# scan property — measured −39% at sf10 (BASELINE.md round-6). Set
# this conf to the name of a catalog table bucketed by user_id
# (bucketBy(N, "user_id") saveAsTable) and the op reads it instead of
# the plain parquet fixture; the window then consumes the bucket
# HashPartitioning and the plan is exchange-free
# (pytest-gated: tests/test_round12_opt.py). Default empty: the driver
# hands us plain parquet and bucket metadata lives in the session
# catalog, so the registry number stays the honest scan + exchange.
EVENTS_BUCKETED_TABLE_CONF = (
    "spark.data_pipeline_standalone_scripts.events.bucketed_table"
)


def _events_maybe_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a DataFrame — from the conf-named bucketed catalog
    table when set (the deployment layout), else the plain fixture.

    CONTRACT (ADVICE r12 #2): the conf-named table must be WRITTEN
    FROM load() OUTPUT (as the r12 gate test does), because load()
    normalizes events.ts to session-UTC TimestampType (ns→µs / NTZ→LTZ
    per fixture generation). A bucketed table built from raw fixture
    parquet would carry long/NTZ ts into `unix_micros()` and diverge
    from the oracle. Enforced loudly here rather than documented only:
    a non-TimestampType ts raises at plan-build time."""
    tbl = spark.conf.get(EVENTS_BUCKETED_TABLE_CONF, "")
    if tbl:
        from pyspark.sql import types as T

        df = spark.table(tbl)
        dt = df.schema["ts"].dataType
        if not isinstance(dt, T.TimestampType):
            raise TypeError(
                f"{EVENTS_BUCKETED_TABLE_CONF}={tbl!r}: ts is {dt}, not"
                " TIMESTAMP — the bucketed table must be written from"
                " tables.load() output (which normalizes ns/NTZ"
                " encodings), or its timestamps will diverge from the"
                " oracle"
            )
        return df
    return load(spark, sf_dir, "events")


@register(
    "q_interval_coverage",
    oracle=f"""
        WITH raw AS (
            SELECT user_id, event_id,
                   epoch_us(ts) // 1000000 AS s,
                   {_WIDTH_SEC} AS w
            FROM events
        ), iv AS (
            -- degenerate widths clamp to the zero-width point [s, s]
            -- (k % 50 is sign-following; a negative k would otherwise
            -- make e < s and the island algebra tie-order dependent)
            SELECT user_id, event_id, s, GREATEST(s, s + w) AS e
            FROM raw
        ), flagged AS (
            SELECT user_id, event_id, s, e,
                   CASE WHEN s > MAX(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_island
            FROM iv
        ), islands AS (
            SELECT user_id, s, e,
                   CAST(SUM(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS island_id
            FROM flagged
        ), merged AS (
            SELECT user_id, island_id,
                   MIN(s) AS island_start, MAX(e) AS island_end
            FROM islands GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(island_end - island_start) AS BIGINT) AS covered_seconds,
               CAST(MAX(island_end - island_start) AS BIGINT) AS longest_island
        FROM merged
        GROUP BY 1
    """,
    category=CAT,
)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIN4: per-user union length of overlapping validity intervals.

    Each event opens an interval [ts, ts + (10 + k%50) min); the
    query merges overlaps (classic sweep: an interval starts a new
    island iff its start exceeds the running max of all previous
    ends) and reports island count, total covered seconds, and the
    longest contiguous stretch — uptime/SLA accounting semantics.

    The first interval per user has a NULL running max; `s > NULL` is
    NULL → CASE gives 0, so island ids start at 0 in both engines —
    the flag convention the oracle CTE mirrors exactly. All arithmetic
    is whole-second longs.

    Plan: two window passes and two aggregates, ALL keyed by user_id
    — one shuffle total, every later stage reuses the partitioning.
    The running-max frame is O(1) state per row. At 100 TB the
    per-user interval list never materializes anywhere; a whale user
    degrades to one fat sorted partition, which is exactly the
    segment-merge shape AQE skew-split handles.

    Layout decision (VERDICT r06 #5): a user_id-bucketed events
    layout removes this op's ONE exchange and is a measured −39% at
    sf10 (BASELINE.md round-6). The registry
    row deliberately stays on the PLAIN parquet fixture: the driver
    hands us its own session over unbucketed parquet, and bucketed
    saveAsTable metadata does not survive a session restart
    (in-memory catalog) — a probe could only ever see a bucketed
    table this process itself just built, which would bench the
    rebuild, not the layout. The honest registry number is the plain
    scan + one exchange; the bucketed number is the recorded
    DEPLOYMENT lever for warehouses that own their events layout
    (SCALE.md: bucket what joins/windows unfiltered).
    """
    e = _events_maybe_bucketed(spark, sf_dir)
    sec = F.expr("unix_micros(ts) div 1000000")
    # Width parse audit (VERDICT r04 #2): this was the hot scalar.
    # Same-epoch sf1, warm medians: get_json_object 0.35 s,
    # from_json('k long') 0.25 s, fixed-width control (no parse)
    # 0.21 s — the Jackson-path evaluator re-walks the document per
    # call, while from_json parses against a fixed single-field schema
    # once per row. Null behavior is identical (malformed JSON → null
    # struct → null width).
    width = (
        F.lit(10) + F.from_json("props", "k long")["k"] % 50
    ) * 60
    iv = e.select(
        "user_id",
        "event_id",
        sec.alias("s"),
        (sec + width).alias("e"),
    )
    return interval_coverage_core(iv)


def interval_coverage_core(iv: DataFrame) -> DataFrame:
    """The sweep itself over an iv(user_id, event_id, s, e) frame —
    factored out so the hypothesis property test can drive it with
    arbitrary interval sets against a brute-force union reference
    (tests/test_property_scalar.py).

    Rewritten round 5 (VERDICT r04 #2, the worst genuine sf10 row) as
    the ONE-PASS union-length sweep: instead of materializing island
    ids and rolling up (user, island) — a 10 M-key hash aggregate at
    sf10 — every quantity folds directly off two running maxima:

    - ``contrib = max(0, e − max(prev_running_max_e, s))`` sums to the
      exact union length (the classic sweep identity: each interval
      contributes only the part past everything already covered);
    - island count = Σ island-start flags;
    - longest = max over rows of ``running_max_e − current_island_start``
      (within an island the global running max e IS the island's — a
      new island starts strictly past every previous e — and the
      island's final span is attained at its last row).

    All three are max/sum algebra, so they are TIE-ORDER INDEPENDENT:
    rows with equal s give the same totals in any order, which lets
    event_id drop out of the exchange entirely (~80 MB less shuffle
    at sf10). sf10 audit trail (same-epoch interleaved medians,
    toPandas protocol): island-rollup v1 4.31 s, array-fold variant
    (sort_array + aggregate() per user — interpreted HOF) 4.06 s,
    this one-pass form 3.83 s; outputs hash-identical at
    sf0.001/sf0.01 and property-tested. The residual vs DuckDB
    (1.17 s) is the one mandatory 10 M-row fact exchange (the props
    parse measured 0.02 s, the final agg is codegen) — the same
    shuffle-materialization floor as q3/q5, which real executor
    counts amortize.
    """
    # Clamp degenerate intervals to the zero-width point [s, s]: with
    # e < s the contrib clamp and the dropped tie-breaker would make
    # covered/longest diverge from the island-rollup semantics (and
    # become tie-order dependent). greatest() is a no-op for every
    # well-formed interval; the oracle applies the same clamp.
    slim = iv.select(
        "user_id", "s", F.greatest("e", "s").alias("e")
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max = F.max("e").over(w_prev)
    is_start = (
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
    )
    x = slim.select(
        "user_id",
        is_start.alias("is_start"),
        F.greatest(
            F.col("e")
            - F.greatest(F.coalesce(prev_max, F.col("s")), F.col("s")),
            F.lit(0),
        ).alias("contrib"),
        F.max(F.when(is_start == 1, F.col("s"))).over(w_run).alias(
            "island_start"
        ),
        F.max("e").over(w_run).alias("run_max_e"),
    )
    return x.groupBy("user_id").agg(
        F.sum("is_start").cast("long").alias("n_islands"),
        F.sum("contrib").cast("long").alias("covered_seconds"),
        F.max(F.col("run_max_e") - F.col("island_start"))
        .cast("long")
        .alias("longest_island"),
    )
