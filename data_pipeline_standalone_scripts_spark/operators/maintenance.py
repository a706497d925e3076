"""Warehouse-maintenance planning operators: compaction bin-packing
and partition-skew diagnosis. A 100 TB table is kept healthy by
exactly these two loops — coalescing small files into right-sized
ones, and finding the partitions whose size will wreck the next
shuffle — and both plans must themselves be computed distributively
(a driver that lists 50 M files into memory is the anti-pattern).

Here the per-day slices of `lineitem`/`events` stand in for the
file-manifest table a lakehouse keeps (Delta/Iceberg manifests are
exactly such a table); the plans read manifest-shaped aggregates,
never raw data, so they run at metadata scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import _range_pinned, dist_running

CAT = "maintenance"

_TARGET_ROWS = 5_000  # compaction target bin size (rows per output file)


@register(
    "q_compaction_plan",
    oracle=f"""
        WITH files AS (
            SELECT l_shipdate AS d, COUNT(*) AS n_rows
            FROM lineitem GROUP BY 1
        ), cum AS (
            SELECT d, n_rows,
                   CAST(SUM(n_rows) OVER (ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_rows
            FROM files
        )
        SELECT CAST((cum_rows - n_rows) // {_TARGET_ROWS} AS BIGINT) AS bin_id,
               COUNT(*) AS n_files,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               strftime(MIN(d), '%Y-%m-%d') AS d_min,
               strftime(MAX(d), '%Y-%m-%d') AS d_max
        FROM cum GROUP BY 1
    """,
    category=CAT,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT1: compaction bin-packing plan — treat each ship-date slice as
    one small file, pack date-adjacent slices into ~{target}-row output
    bins via cumulative-sum bucketing (bin = prefix-rows DIV target).
    Adjacency-preserving packing keeps each output file's date range
    minimal, so date predicates still prune after the rewrite — the
    property OPTIMIZE/compaction jobs must maintain.

    Scale: the pack decision is a prefix sum + integer division —
    no driver loop, no greedy state. The prefix sum runs over the
    MANIFEST (one row per file/slice) via `dist_running` (common.py:
    range shuffle + per-range running sum + broadcast offsets), so
    even a manifest too big for one partition never single-tasks.
    """
    li = load(spark, sf_dir, "lineitem")
    files = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    cum = dist_running(files, [("d", "asc")], {"cum_rows": "n_rows"}).withColumn(
        "cum_rows", F.col("cum_rows").cast("long")
    )
    return (
        cum.groupBy(
            F.expr(
                f"cast((cum_rows - n_rows) div {_TARGET_ROWS} as bigint)"
            ).alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("d_min"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("d_max"),
        )
    )


q_compaction_plan.__doc__ = q_compaction_plan.__doc__.replace(
    "{target}", f"{_TARGET_ROWS:,}"
)


@register(
    "q_partition_skew",
    oracle="""
        WITH parts AS (
            SELECT date_trunc('day', ts) AS day,
                   COUNT(*) AS n_rows,
                   CAST(SUM(len(props) + 40) AS BIGINT) AS approx_bytes
            FROM events GROUP BY 1
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, n_rows, approx_bytes,
               round(CAST(n_rows AS DOUBLE)
                     / (CAST(SUM(n_rows) OVER () AS DOUBLE)
                        / COUNT(*) OVER ()), 6) AS skew_factor,
               n_rows > 2 * (SUM(n_rows) OVER () / COUNT(*) OVER ())
                   AS is_hot
        FROM parts
    """,
    category=CAT,
)
def q_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT2: partition-skew report — per day-partition of `events`, row
    count, approximate byte weight (payload length + fixed row
    overhead), and the skew factor vs the mean partition size; `is_hot`
    marks partitions >2× the mean, the ones AQE's skew-join would
    split and a compaction/salting pass should target first.

    Scale: one map-side-combined aggregation to partition grain, then
    window stats over the |partitions|-row report frame (bounded by
    the calendar, single partition harmless). This is the health check
    you run BEFORE the big join, at metadata cost.
    """
    e = load(spark, sf_dir, "events")
    parts = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("props") + 40).cast("long").alias("approx_bytes"),
    )
    w = Window.partitionBy()
    mean_rows = (
        F.sum("n_rows").over(w).cast("double") / F.count(F.lit(1)).over(w)
    )
    return parts.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_rows",
        "approx_bytes",
        F.round(F.col("n_rows").cast("double") / mean_rows, 6).alias(
            "skew_factor"
        ),
        (
            F.col("n_rows")
            > 2 * (F.sum("n_rows").over(w) / F.count(F.lit(1)).over(w))
        ).alias("is_hot"),
    )


_DQ_TABLES = ("orders", "customer", "lineitem", "events", "documents")
_DQ_SQL = """
    SELECT 'orders.custkey_fk_valid' AS check_name,
           (SELECT COUNT(*) FROM {orders}) AS n_checked,
           (SELECT COUNT(*) FROM {orders} o
            WHERE NOT EXISTS (SELECT 1 FROM {customer} c
                              WHERE c.c_custkey = o.o_custkey))
               AS n_violations
    UNION ALL
    SELECT 'orders.orderkey_unique',
           (SELECT COUNT(*) FROM {orders}),
           (SELECT COALESCE(CAST(SUM(n - 1) AS BIGINT), 0) FROM
               (SELECT COUNT(*) AS n FROM {orders} GROUP BY o_orderkey)
            WHERE n > 1)
    UNION ALL
    SELECT 'orders.totalprice_positive',
           (SELECT COUNT(*) FROM {orders}),
           (SELECT COUNT(*) FROM {orders} WHERE o_totalprice <= 0)
    UNION ALL
    SELECT 'lineitem.quantity_in_range',
           (SELECT COUNT(*) FROM {lineitem}),
           (SELECT COUNT(*) FROM {lineitem}
            WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'lineitem.orderkey_fk_valid',
           (SELECT COUNT(*) FROM {lineitem}),
           (SELECT COUNT(*) FROM {lineitem} l
            WHERE NOT EXISTS (SELECT 1 FROM {orders} o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'events.value_not_null',
           (SELECT COUNT(*) FROM {events}),
           (SELECT COUNT(*) FROM {events} WHERE value IS NULL)
    UNION ALL
    SELECT 'documents.text_nonempty',
           (SELECT COUNT(*) FROM {documents}),
           (SELECT COUNT(*) FROM {documents}
            WHERE text IS NULL OR length(trim(text)) = 0)
"""


@register(
    "q_dq_report",
    oracle=f"""
        SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
               CAST(n_violations AS BIGINT) AS n_violations,
               n_violations = 0 AS passed
        FROM ({_DQ_SQL})
    """.format(**{t: t for t in _DQ_TABLES}),
    category=CAT,
)
def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT3: declarative data-quality report (the Deequ/
    Great-Expectations constraint-suite pattern): referential
    integrity (orders→customer, lineitem→orders), key uniqueness,
    domain ranges, null and emptiness checks — one row per check with
    checked/violation counts and a pass verdict.

    Scale: each FK check is a LEFT ANTI-shaped NOT EXISTS whose
    build side is the key column only; uniqueness is a grouped count.
    Catalyst runs the independent checks as parallel job stages over
    single-purpose column scans — adding a check adds a column scan,
    not a pass over unrelated tables. At 100 TB, FK probes ride Bloom
    filters (q_bloom_prefilter) and the uniqueness check map-side
    combines to one row per key.
    """
    return spark.sql(
        f"""
        SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
               CAST(n_violations AS BIGINT) AS n_violations,
               n_violations = 0 AS passed
        FROM ({_DQ_SQL})
        """,
        **{t: load(spark, sf_dir, t) for t in _DQ_TABLES},
    )


_PROFILE_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_totalprice", "double"),
    ("o_orderstatus", "string"),
    ("o_orderpriority", "string"),
]


def _profile_select(col: str, typ: str) -> str:
    """One profiling row for a column, as portable SQL (identical text
    for Spark and DuckDB — STRING/DOUBLE are type aliases both engines
    accept; numeric and string min/max live in separate typed columns
    so no stringified-float formatting ever crosses the boundary)."""
    if typ == "string":
        mn_num = "CAST(NULL AS DOUBLE)"
        mx_num = "CAST(NULL AS DOUBLE)"
        mn_str, mx_str = f"MIN({col})", f"MAX({col})"
    else:
        mn_num = f"round(CAST(MIN({col}) AS DOUBLE), 6)"
        mx_num = f"round(CAST(MAX({col}) AS DOUBLE), 6)"
        mn_str = "CAST(NULL AS STRING)"
        mx_str = "CAST(NULL AS STRING)"
    return f"""
        SELECT '{col}' AS column_name,
               COUNT(*) AS n_rows,
               CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
               {mn_num} AS min_num,
               {mx_num} AS max_num,
               {mn_str} AS min_str,
               {mx_str} AS max_str
        FROM {{orders}}
    """


_PROFILE_SQL = "\n    UNION ALL\n".join(
    _profile_select(c, t) for c, t in _PROFILE_COLS
)


@register(
    "q_column_profile", oracle=_PROFILE_SQL.format(orders="orders"), category=CAT
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT4: column-profiling report (the warehouse `DESCRIBE`/
    profiler): per column of `orders` — row count, null count, exact
    distinct count, and typed min/max. These are the statistics
    an optimizer's cost model, a DQ baseline, and a migration
    validator all start from. The identical SQL text runs on both
    engines (numeric min/max stay DOUBLE, string min/max stay STRING —
    separate typed columns, so no float-formatting drift can cross the
    oracle boundary).

    Scale: each column's pass is an independent scan of THAT column
    only (column pruning: n-columns × single-column scans beats one
    all-columns scan once the table is wide), and the union rows are
    computed as parallel job stages. Exact DISTINCT is the expensive
    part at 100 TB — swap approx_count_distinct per column for the
    profiling use-case, same plan shape. Spark additionally exposes
    this pattern as `df.summary()`; this op keeps it oracle-checkable.
    """
    return spark.sql(_PROFILE_SQL, orders=load(spark, sf_dir, "orders"))


@register(
    "q_zonemap_prune",
    oracle="""
        WITH zoned AS (
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS zone,
                   o_totalprice
            FROM orders
        ),
        zones AS (
            SELECT zone, COUNT(*) AS n_rows,
                   MIN(o_totalprice) AS min_price,
                   MAX(o_totalprice) AS max_price
            FROM zoned GROUP BY 1
        ),
        flagged AS (
            SELECT zone, n_rows,
                   CASE WHEN max_price >= 300000.0 AND min_price <= 360000.0
                        THEN 1 ELSE 0 END AS scanned
            FROM zones
        ),
        matches AS (
            SELECT zone, COUNT(*) AS n_match
            FROM zoned
            WHERE o_totalprice BETWEEN 300000.0 AND 360000.0
            GROUP BY 1
        )
        SELECT f.zone, CAST(f.n_rows AS BIGINT) AS n_rows,
               CAST(f.scanned AS BIGINT) AS scanned,
               CAST(COALESCE(m.n_match, 0) AS BIGINT) AS n_match,
               round(CAST(COALESCE(m.n_match, 0) AS DOUBLE)
                     / f.n_rows, 6) AS selectivity
        FROM flagged f LEFT JOIN matches m ON f.zone = m.zone
        ORDER BY f.zone
    """,
    category=CAT,
)
def q_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT5: zone-map (min/max data-skipping) effectiveness report —
    the lakehouse health check behind parquet row-group pruning.
    Zones are month-of-ingestion slices; the report computes each
    zone's min/max statistic, whether a BETWEEN predicate on price
    would have to scan it (range overlap), and the realized
    selectivity inside scanned zones. Zones with scanned=1 and
    selectivity≈0 are the argument for re-clustering on the predicate
    column (q_morton_cluster / q_compaction_plan are the fixers).

    Determinism: min/max/count are exact; the overlap flag is a pure
    comparison; selectivity is one division rounded at 6.

    Scale: both passes are map-side-combined aggregates on the zone
    key (bounded by months); real deployments read the min/max from
    file footers instead of scanning — this op IS that footer table,
    derived once, and the decision algebra is identical.
    """
    o = load(spark, sf_dir, "orders")
    zoned = o.select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "zone"
        ),
        "o_totalprice",
    )
    zones = zoned.groupBy("zone").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    flagged = zones.select(
        "zone",
        "n_rows",
        F.when(
            (F.col("max_price") >= 300000.0) & (F.col("min_price") <= 360000.0),
            1,
        )
        .otherwise(0)
        .alias("scanned"),
    )
    matches = (
        zoned.filter(F.col("o_totalprice").between(300000.0, 360000.0))
        .groupBy("zone")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    return (
        flagged.join(matches, "zone", "left")
        .select(
            "zone",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("scanned").cast("long").alias("scanned"),
            F.coalesce(F.col("n_match"), F.lit(0)).cast("long").alias("n_match"),
            F.round(
                F.coalesce(F.col("n_match"), F.lit(0)).cast("double")
                / F.col("n_rows"),
                6,
            ).alias("selectivity"),
        )
        .orderBy("zone")
    )


_IVM_CUTOFF = "1997-01-01"


@register(
    "q_incremental_join",
    oracle=f"""
        WITH j AS (
            SELECT o.o_orderpriority,
                   CAST(round(l.l_extendedprice * (1 - l.l_discount)
                              * 1000000) AS BIGINT) AS rev_micro,
                   CASE WHEN o.o_orderdate >= TIMESTAMP '{_IVM_CUTOFF}'
                          OR l.l_shipdate >= TIMESTAMP '{_IVM_CUTOFF}'
                        THEN 1 ELSE 0 END AS touches_delta
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(rev_micro) AS DOUBLE) / 1000000.0 AS revenue,
               CAST(SUM(touches_delta) AS BIGINT) AS n_delta_pairs
        FROM j
        GROUP BY o_orderpriority
    """,
    category=CAT,
)
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT6: incremental view maintenance for a JOIN view — the delta
    identity Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, applied to the
    orders⋈lineitem revenue-by-priority view with both inputs split
    at the 1997 epoch. The op computes the materialized base term
    (A_old⋈B_old) plus the three delta terms as four separate joins
    and MERGES their per-group partials; the oracle is the full
    recompute, so passing proves the decomposition is exactly
    lossless — the property incremental refresh of join views rests
    on (completes A16, which proves it for aggregates).
    The n_delta_pairs ledger column shows the delta terms genuinely
    carried rows (a degenerate split would zero it).

    Scale: at refresh time production scans ONLY the three delta
    terms — each is delta-sized on at least one side, and the delta
    scans partition-prune to the new epoch; the base term is |groups|
    materialized rows. The full recompute the oracle runs is the
    thing IVM exists to avoid. All partials are exact micro-longs, so
    the 4-way merge is order-free long addition.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.expr(
            "cast(round(l_extendedprice * (1 - l_discount) * 1000000)"
            " as bigint)"
        ).alias("rev_micro"),
    )
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")
    o_b, o_d = (
        o.filter(F.col("o_orderdate") < cutoff),
        o.filter(F.col("o_orderdate") >= cutoff),
    )
    l_b, l_d = (
        li.filter(F.col("l_shipdate") < cutoff),
        li.filter(F.col("l_shipdate") >= cutoff),
    )

    def term(os: DataFrame, ls: DataFrame, is_delta: int) -> DataFrame:
        return (
            os.join(ls, os.o_orderkey == ls.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("rev_micro").alias("rev"),
                (F.count(F.lit(1)) * is_delta).alias("nd"),
            )
        )

    merged = (
        term(o_b, l_b, 0)          # the materialized base view
        .unionByName(term(o_d, l_b, 1))  # ΔA ⋈ B_old
        .unionByName(term(o_b, l_d, 1))  # A_old ⋈ ΔB
        .unionByName(term(o_d, l_d, 1))  # ΔA ⋈ ΔB
    )
    return merged.groupBy("o_orderpriority").agg(
        F.sum("n").cast("long").alias("n_pairs"),
        (F.sum("rev").cast("double") / 1_000_000.0).alias("revenue"),
        F.sum("nd").cast("long").alias("n_delta_pairs"),
    )


_RLE_KEYS = ("l_shipdate", "l_partkey", "l_returnflag")


def _rle_runs_sql(key: str) -> str:
    return f"""
        SELECT '{key}' AS sort_key,
               CAST(1 + SUM(CASE WHEN rf <> prev_rf THEN 1 ELSE 0 END)
                    AS BIGINT) AS runs_returnflag,
               CAST(1 + SUM(CASE WHEN ls <> prev_ls THEN 1 ELSE 0 END)
                    AS BIGINT) AS runs_linestatus,
               CAST(COUNT(*) + 1 AS BIGINT) AS n_rows_p1
        FROM (
            SELECT l_returnflag AS rf, l_linestatus AS ls,
                   lag(l_returnflag) OVER w AS prev_rf,
                   lag(l_linestatus) OVER w AS prev_ls
            FROM lineitem
            WINDOW w AS (ORDER BY {key}, l_returnflag, l_linestatus,
                         l_orderkey, l_linenumber)
        ) WHERE prev_rf IS NOT NULL
    """


@register(
    "q_rle_advisor",
    oracle=" UNION ALL ".join(_rle_runs_sql(k) for k in _RLE_KEYS),
    category=CAT,
)
def q_rle_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT7: run-length (RLE) compressibility advisor — for each
    candidate sort key, how many value RUNS the low-cardinality
    columns collapse to when the table is written in that order.
    Parquet's RLE/dictionary encoding makes run count ≈ storage cost,
    so this report picks the write-side ORDER BY (the companion to
    MT5's read-side zone-map advisor and O4's Z-order key: sort to
    COMPRESS vs sort to SKIP, measured on the same table).

    Determinism: (orderkey, linenumber) is NOT unique in this data,
    so the sort ties THROUGH the measured columns themselves —
    residual tie groups then hold constant (rf, ls) and the run
    count is well-defined under any tie order. (This also models the
    real write: a secondary sort on the encoded columns is exactly
    what maximizes their RLE.)

    Scale: each candidate's run count is computed DISTRIBUTED — range
    shuffle on the sort key, per-partition lag transitions, plus one
    boundary pass over the ≤32-row partition-endpoint table (compare
    each partition's first row against its predecessor partition's
    last row via a broadcast theta-join). No single-partition sort at
    any |lineitem|; at 100 TB the same plan holds, or run it on a
    sampled fraction (run DENSITY ranks the keys just as well).
    """
    li = load(spark, sf_dir, "lineitem")
    outs = []
    for key in _RLE_KEYS:
        sort_cols = [
            key, "l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber"
        ]
        keys = [F.col(c).asc() for c in sort_cols]
        proj = li.select(
            *sort_cols,
            F.col("l_returnflag").alias("rf"),
            F.col("l_linestatus").alias("ls"),
        )
        ranged = _range_pinned(proj, keys, 32, "pid")
        w_loc = Window.partitionBy("pid").orderBy(*keys)
        lagd = ranged.select(
            "rf",
            "ls",
            F.lag("rf").over(w_loc).alias("prev_rf"),
            F.lag("ls").over(w_loc).alias("prev_ls"),
        )
        internal = lagd.agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("prev_rf").isNotNull()
                        & (F.col("rf") != F.col("prev_rf")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("i_rf"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("prev_ls").isNotNull()
                        & (F.col("ls") != F.col("prev_ls")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("i_ls"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        # partition endpoints: struct min/max over the sort columns
        # (all ascending) = each partition's first/last row
        endpoint = F.struct(*sort_cols, "rf", "ls")
        ends = ranged.groupBy("pid").agg(
            F.min(endpoint).alias("fst"), F.max(endpoint).alias("lst")
        )
        a, b = ends.alias("a"), ends.alias("b")
        bnd = (
            a.join(F.broadcast(b), F.col("b.pid") < F.col("a.pid"), "inner")
            .groupBy(F.col("a.pid"), F.col("a.fst").alias("fst"))
            .agg(F.max(F.struct(F.col("b.pid"), F.col("b.lst"))).alias("pr"))
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("fst.rf") != F.col("pr.lst.rf"), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("b_rf"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("fst.ls") != F.col("pr.lst.ls"), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("b_ls"),
            )
        )
        runs = (
            internal.crossJoin(F.broadcast(bnd)).select(
                F.lit(key).alias("sort_key"),
                (1 + F.col("i_rf") + F.col("b_rf"))
                .cast("long")
                .alias("runs_returnflag"),
                (1 + F.col("i_ls") + F.col("b_ls"))
                .cast("long")
                .alias("runs_linestatus"),
                F.col("n_rows").cast("long").alias("n_rows_p1"),
            )
        )
        outs.append(runs)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "q_assess_report",
    oracle="""
        WITH per_doc AS (
            SELECT doc_id,
                   n_chars,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
                       AS n_digits
            FROM documents
        ), long_form AS (
            SELECT 'n_chars' AS metric, CAST(n_chars AS BIGINT) AS v
            FROM per_doc
            UNION ALL
            SELECT 'n_tokens', CAST(n_tokens AS BIGINT) FROM per_doc
            UNION ALL
            SELECT 'n_digits', CAST(n_digits AS BIGINT) FROM per_doc
        ), agg AS (
            SELECT metric,
                   COUNT(*) AS n_records,
                   CAST(SUM(v) AS BIGINT) AS total,
                   MIN(v) AS min_v,
                   MAX(v) AS max_v,
                   ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_v
            FROM long_form GROUP BY metric
        )
        SELECT metric, n_records, total, min_v, max_v, mean_v,
               '{"metric":"' || metric || '","n":' || n_records
                   || ',"total":' || total || ',"min":' || min_v
                   || ',"max":' || max_v || '}' AS score_json
        FROM agg
    """,
    category=CAT,
)
def q_assess_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT8: accumulated score-file report — the reference's benchmark
    sink shape (benchmark/assess.py computes a per-image metric dict
    and appends it to a JSON score file [UNVERIFIED-PK, SURVEY.md
    §2.12]; VERDICT r07 "What's missing" #3). Per-record metrics
    (chars, whitespace tokens, digit count) pivot long via stack, the
    accumulation is one map-side-combined aggregate per metric, and
    each report row carries its serialized JSON line — built by
    portable string concatenation over INTEGER fields, so the payload
    is byte-identical cross-engine (to_json float formatting is not).

    The reference appends one dict per image to a growing file (an
    O(n) driver-side accumulation); here the accumulation is the
    shuffle+agg the engine already scales: 3 long rows per partition
    after map-side combine, a 3-row report out.

    Scale: one documents scan, codegen metric projection, stack(3) is
    scan-side; the only exchange carries (metric, partial aggregates)
    — 3 rows per map task.
    """
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[0-9]", ""))
        )
        .cast("long")
        .alias("n_digits"),
    )
    long_form = per_doc.selectExpr(
        "stack(3, 'n_chars', n_chars, 'n_tokens', n_tokens,"
        " 'n_digits', n_digits) AS (metric, v)"
    )
    agg = long_form.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("v").alias("total"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6).alias("mean_v"),
    )
    return agg.select(
        "metric",
        "n_records",
        "total",
        "min_v",
        "max_v",
        "mean_v",
        F.concat(
            F.lit('{"metric":"'),
            F.col("metric"),
            F.lit('","n":'),
            F.col("n_records"),
            F.lit(',"total":'),
            F.col("total"),
            F.lit(',"min":'),
            F.col("min_v"),
            F.lit(',"max":'),
            F.col("max_v"),
            F.lit("}"),
        ).alias("score_json"),
    )
