"""Aggregation operators A1–A13 (SURVEY.md §2.4).

Reference capability: benchmark/assess.py's per-record metric
accumulation (SURVEY.md §2.12) — a Python list-append loop there, a
partial+final hash aggregate here (map-side combine, one shuffled row
per group).

Scale notes: groupBy on low-cardinality keys (returnflag×linestatus =
6 groups) is the best case — partial aggregation reduces 100 TB to
n_partitions×6 rows before the shuffle. High-cardinality groupBys
(per-customer) shuffle real volume; AQE coalesces post-shuffle
partitions. countDistinct rewrites to expand+two-phase agg —
approx_count_distinct (HLL sketch, mergeable) is the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import davg, dist_row_number, dist_running, dsum, o_davg, o_dsum

CAT = "aggregates"


@register(
    "q_agg_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {o_dsum("l_quantity", "sum_qty")},
               {o_dsum("l_extendedprice", "sum_base_price")},
               {o_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
               {o_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
               {o_davg("l_quantity", "avg_qty")},
               {o_davg("l_extendedprice", "avg_price")},
               {o_davg("l_discount", "avg_disc")},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    category=CAT,
)
def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: TPC-H Q1 pricing summary — 6 groups, 8 aggregates.

    Scale: the canonical map-side-combine aggregate; DECIMAL
    accumulation keeps the 8 sums bit-exact under any partitioning
    (common.py rationale).

    r13 construction fold (guide §1.2, the simhash lesson applied
    board-wide): the scaled projection + 8 aggregates were built
    through ~50 Column ops whose eager per-transform analysis cost
    0.30 s per construction at sf0.1 — more than half the row's wall.
    As parsed SQL strings (D-suffixed double literals keep every
    arithmetic op double, matching the Column spelling exactly) the
    construction is 0.08 s; values and the physical operator tree are
    identical (asserted in-session; tree diffed modulo expression
    IDs). Pre-projecting the micro-unit columns once per row (r4
    measurement: 0.53 → 0.29 s vs in-agg scaling) is unchanged.
    """

    def sham(e: str) -> str:
        # SQL twin of common.half_away_long(x, 1e6): double math throughout
        v = f"(({e}) * 1000000)"
        return (
            f"CAST({v} + (CASE WHEN {v} >= 0.0D THEN 0.5D ELSE -0.5D END)"
            " AS BIGINT)"
        )

    dp = "(l_extendedprice * (1 - l_discount))"
    ch = f"({dp} * (1 + l_tax))"
    scaled = (
        load(spark, sf_dir, "lineitem")
        .filter("l_shipdate <= TIMESTAMP '1998-09-02'")
        .selectExpr(
            "l_returnflag",
            "l_linestatus",
            f"{sham('l_quantity')} AS __qty",
            f"{sham('l_extendedprice')} AS __price",
            f"{sham(dp)} AS __disc_price",
            f"{sham(ch)} AS __charge",
            f"{sham('l_discount')} AS __disc",
        )
    )
    return scaled.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("sum(__qty) / 1000000.0D AS sum_qty"),
        F.expr("sum(__price) / 1000000.0D AS sum_base_price"),
        F.expr("sum(__disc_price) / 1000000.0D AS sum_disc_price"),
        F.expr("sum(__charge) / 1000000.0D AS sum_charge"),
        F.expr("sum(__qty) / 1000000.0D / count(__qty) AS avg_qty"),
        F.expr("sum(__price) / 1000000.0D / count(__price) AS avg_price"),
        F.expr("sum(__disc) / 1000000.0D / count(__disc) AS avg_disc"),
        F.expr("count(1) AS count_order"),
    )


@register(
    "q_agg_distinct",
    oracle="""
        SELECT n_name,
               COUNT(DISTINCT c_custkey) AS n_customers,
               COUNT(DISTINCT c_mktsegment) AS n_segments
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    category=CAT,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: COUNT DISTINCT per group.

    Scale: Catalyst rewrites multi-distinct into expand + two-phase
    aggregation; for 100 TB cardinality estimation use
    approx_count_distinct (A3) — exact distinct shuffles every
    distinct value.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


@register("q_agg_approx_distinct", oracle=None, category=CAT)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: HyperLogLog distinct users per event type (rsd=0.02).

    T2w: approximate by design — pytest asserts ±5% vs exact. Scale:
    the HLL sketch is a fixed-size mergeable accumulator: map-side
    partials, constant shuffle volume, the only sane distinct at 100 TB.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_agg_having",
    oracle="""
        SELECT c_nationkey, COUNT(*) AS n_customers
        FROM customer
        GROUP BY c_nationkey
        HAVING COUNT(*) > 55
    """,
    category=CAT,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: HAVING — post-aggregation filter."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .filter(F.col("n_customers") > 55)
    )


@register(
    "q_agg_rollup",
    oracle="""
        SELECT r_name, n_name,
               COUNT(o_orderkey) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    category=CAT,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: ROLLUP(region, nation) with subtotals + grand total (null
    group keys mark subtotal rows; dims are never null in this data).

    Scale: rollup = grouping-sets expansion before the shuffle; cost
    is (#sets × input), fine for 2 levels.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("o_orderkey").alias("n_orders"),
        dsum("o_totalprice", "revenue"),
    )


@register(
    "q_agg_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    category=CAT,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: CUBE over returnflag×linestatus — all 4 grouping sets."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty")
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
        SELECT c_mktsegment, c_nationkey,
               COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE) AS sum_bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    category=CAT,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: explicit GROUPING SETS via the SQL entry point (E3 in
    SURVEY §3.2) — segment totals, nation totals, grand total."""
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey,
               COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE) AS sum_bal
        FROM {customer}
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """,
        customer=load(spark, sf_dir, "customer"),
    )


@register(
    "q_agg_conditional",
    oracle="""
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
               CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
                    AS DECIMAL(24,6))) AS DOUBLE) AS purchase_value
        FROM events
        GROUP BY user_id
    """,
    category=CAT,
)
def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: sum(CASE WHEN …) pivot-style conditional aggregation —
    single pass, one shuffle, regardless of how many conditions."""
    e = load(spark, sf_dir, "events")
    def cnt(t):
        return F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
    return e.groupBy("user_id").agg(
        cnt("click"),
        cnt("purchase"),
        cnt("error"),
        dsum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0),
            "purchase_value",
        ),
    )


@register(
    "q_agg_stats",
    oracle="""
        SELECT l_returnflag,
               ROUND(stddev_samp(l_extendedprice), 2) AS sd_price,
               ROUND(var_samp(l_quantity), 4) AS var_qty,
               ROUND(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
               ROUND(covar_samp(l_extendedprice, l_quantity), 2) AS covar_pq
        FROM lineitem
        GROUP BY l_returnflag
    """,
    category=CAT,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: statistical aggregates. These are genuinely float-path-
    dependent (merge order differs), so both sides round to a
    precision far coarser than the ~1e-9 relative drift: stddev/covar
    to 2 (magnitude 1e4–1e8), variance to 4, corr to 6 (unit scale).
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("covar_pq"),
    )


@register(
    "q_agg_percentile",
    oracle="""
        SELECT o_orderstatus,
               ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
               ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
               COUNT(*) AS n
        FROM orders
        GROUP BY o_orderstatus
    """,
    category=CAT,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: exact percentiles (linear interpolation — Spark
    `percentile` and DuckDB `quantile_cont` share the (n-1)p
    definition).

    Scale: exact percentile materializes per-group value lists;
    at 100 TB switch to approx_percentile (KLL/GK sketch, mergeable,
    bounded memory) — the exact form is for oracle-checkable tiers.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_agg_collect",
    oracle="""
        SELECT c_nationkey,
               array_to_string(list_sort(list(c_custkey)), ',') AS top_customers
        FROM (
            SELECT c_nationkey, c_custkey,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
            FROM customer
        ) WHERE rn <= 5
        GROUP BY c_nationkey
    """,
    category=CAT,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: per-nation sorted list of the 5 richest customers' keys.
    collect_list is only deterministic inside array_sort (SURVEY §2
    determinism rule); the top-5 cut is tie-broken on c_custkey.

    The list crosses the oracle boundary serialized as a ','-joined
    string (sorted numerically FIRST, then cast) — raw array columns
    are not canonicalizable by the driver's hash (oracle.py rule)."""
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("c_custkey")).cast("array<string>"), ","
            ).alias("top_customers")
        )
    )


@register(
    "q_agg_minmax_by",
    oracle="""
        WITH ranked AS (
            SELECT o_custkey, o_totalprice, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
            FROM orders
        )
        SELECT o_custkey,
               MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS best_order,
               MAX(CASE WHEN rmax = 1 THEN o_totalprice END) AS best_price,
               MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS worst_order
        FROM ranked GROUP BY o_custkey
    """,
    category=CAT,
)
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: max_by/min_by semantics, made deterministic: Spark takes
    max/min of a (price, orderkey) struct — lexicographic comparison
    gives a total order, so price ties break on orderkey, matching
    the oracle's explicit row_number formulation. Single hash
    aggregate, no window, no second shuffle."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max(F.struct("o_totalprice", "o_orderkey"))["o_orderkey"].alias("best_order"),
        F.max(F.struct("o_totalprice", "o_orderkey"))["o_totalprice"].alias("best_price"),
        F.min(F.struct("o_totalprice", "o_orderkey"))["o_orderkey"].alias("worst_order"),
    )


@register(
    "q_pivot",
    oracle="""
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'click') AS click,
               COUNT(*) FILTER (WHERE event_type = 'error') AS error,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
               COUNT(*) FILTER (WHERE event_type = 'view') AS view
        FROM events
        GROUP BY user_id
    """,
    category=CAT,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: pivot event_type → one count column per type. Explicit
    value list (no discovery scan — at 100 TB pivot value discovery
    is itself a distinct query; always pass the list)."""
    e = load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


@register("q_agg_approx_percentile", oracle=None, category=CAT)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: approx_percentile (KLL/GK-style sketch) — the 100 TB twin
    of A10's exact percentiles. Exact `percentile` materializes and
    sorts every group's values (unbounded per-group state); the
    sketch is fixed-size, mergeable across partitions, and map-side
    combinable — at scale it is the ONLY percentile that finishes.

    T2w: sketches are implementation-defined (Spark's accuracy knob
    has no DuckDB twin); tests/test_approximate_ops.py bounds the
    error against A10's exact answer instead (±1% of the value at
    accuracy=10000 on this distribution).
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
        F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000)).alias("p90_approx"),
        F.count(F.lit(1)).alias("n"),
    )


HIST_BIN_WIDTH = 25_000.0  # o_totalprice histogram bin width
HIST_N_BINS = 20


@register(
    "q_histogram",
    oracle=f"""
        SELECT LEAST(CAST(FLOOR(o_totalprice / {HIST_BIN_WIDTH}) AS BIGINT),
                     {HIST_N_BINS - 1}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 100.0 AS total_price
        FROM orders
        GROUP BY 1
    """,
    category=CAT,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: fixed-width histogram of order totals — 20 × 25k bins with
    an overflow top bin (the portable spelling of width_bucket:
    LEAST(FLOOR(x/w), n−1), identical arithmetic in both engines).
    Per-bin count plus exact cent-scaled price mass.

    Scale: single map-side-combined hash aggregate over ≤20 groups —
    the shuffle carries 20 rows per partition. The histogram every
    data-profiling pass starts with.
    """
    o = load(spark, sf_dir, "orders")
    bin_ = F.least(
        F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("long"),
        F.lit(HIST_N_BINS - 1).cast("long"),
    )
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    return (
        o.select(bin_.alias("bin"), cents.alias("cents"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("cents").cast("double") / 100.0).alias("total_price"),
        )
    )


_INCR_CUTOFF = "2001-01-01"


@register(
    "q_incremental_agg",
    oracle=f"""
        WITH merged AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(round(l_quantity * 1000000) AS BIGINT))
                        AS BIGINT) AS qty_micro,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                       * 1000000) AS BIGINT)) AS BIGINT)
                       AS rev_micro,
                   COUNT(*) AS n_rows,
                   COUNT(*) FILTER (
                       WHERE l_shipdate >= TIMESTAMP '{_INCR_CUTOFF}')
                       AS n_delta
            FROM lineitem GROUP BY 1, 2
        )
        SELECT l_returnflag, l_linestatus,
               CAST(qty_micro AS DOUBLE) / 1000000.0 AS sum_qty,
               CAST(rev_micro AS DOUBLE) / 1000000.0 AS sum_rev,
               n_rows, n_delta
        FROM merged
    """,
    category="aggregates",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: incremental aggregate maintenance — the materialized-view
    refresh pattern. The fact splits into a BASE epoch (shipdate
    before 2001) whose per-group partials are assumed already
    materialized, and a DELTA batch (2001 onward); the op aggregates
    each side separately and MERGES the partials (sums add, counts
    add) via a full-outer group union. The oracle is the full
    recompute — passing proves the merge is lossless, which is the
    property that makes incremental refresh correct at all.

    Determinism: all partials are exact micro-unit longs; merging is
    long addition — associative and order-free, the same property the
    engine's own partial_sum relies on.

    Scale: THIS is why 100 TB dashboards refresh in minutes — the
    delta scan is partition-pruned to the new epoch (shipdate
    predicate reaches the parquet scan), the base is |groups| rows
    read from the materialized store, and the merge is a tiny
    group-keyed outer join. The recompute the oracle runs is the
    thing production never does.
    """
    li = load(spark, sf_dir, "lineitem")
    cutoff = F.lit(_INCR_CUTOFF).cast("timestamp")
    qty = F.expr("cast(round(l_quantity * 1000000) as bigint)")
    rev = F.expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 1000000)"
        " as bigint)"
    )

    def partials(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(qty).cast("long").alias(f"qty_{tag}"),
            F.sum(rev).cast("long").alias(f"rev_{tag}"),
            F.count(F.lit(1)).alias(f"n_{tag}"),
        )

    base = partials(li.filter(F.col("l_shipdate") < cutoff), "b")
    delta = partials(li.filter(F.col("l_shipdate") >= cutoff), "d")
    merged = base.join(
        delta, ["l_returnflag", "l_linestatus"], "full_outer"
    )

    def z(c):  # absent side of the outer join contributes zero
        return F.coalesce(F.col(c), F.lit(0).cast("long"))

    return merged.select(
        "l_returnflag",
        "l_linestatus",
        ((z("qty_b") + z("qty_d")).cast("double") / 1000000.0).alias(
            "sum_qty"
        ),
        ((z("rev_b") + z("rev_d")).cast("double") / 1000000.0).alias(
            "sum_rev"
        ),
        (z("n_b") + z("n_d")).alias("n_rows"),
        z("n_d").alias("n_delta"),
    )


_GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM {orders}
    GROUP BY ALL
"""


@register(
    "q_group_by_all",
    oracle=_GROUP_BY_ALL_SQL.format(orders="orders"),
    category="aggregates",
)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: `GROUP BY ALL` — the modern-SQL sugar (grouping keys
    inferred as every non-aggregate select item) that Spark 4 and
    DuckDB both implement; ONE SQL text runs verbatim on both engines,
    so the oracle check covers the inference rule itself (a column
    wrongly classified as a grouping key changes the row count).

    Scale: sugar only — resolves to the identical partial/final hash
    aggregate as the explicit GROUP BY; nothing physical changes.
    """
    return spark.sql(_GROUP_BY_ALL_SQL, orders=load(spark, sf_dir, "orders"))


# Pipe-syntax query (Spark 4 / GoogleSQL "FROM ... |>"): the Spark
# side runs THIS text; the oracle states the identical semantics in
# classic SQL (DuckDB has no pipe parser), so the check covers the
# pipe operators' desugaring, not just the arithmetic.
_PIPE_SQL = """
    FROM {orders}
    |> WHERE o_orderstatus = 'F'
    |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    |> AGGREGATE COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents
       GROUP BY o_orderpriority
    |> WHERE n >= 10
"""

_PIPE_ORACLE = """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    HAVING COUNT(*) >= 10
"""


@register("q_pipe_sql", oracle=_PIPE_ORACLE, category="aggregates")
def q_pipe_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: SQL pipe syntax (`FROM t |> WHERE … |> AGGREGATE …`) —
    Spark 4's GoogleSQL-style linear query form. The pipe text
    exercises WHERE, EXTEND (computed column), AGGREGATE … GROUP BY,
    and a post-aggregation WHERE (pipe's HAVING); the oracle is the
    classic-SQL equivalent, so the desugaring itself is value-checked.

    Scale: pure parser surface — the pipe form resolves to the same
    optimized plan (pushed filter, two-phase hash aggregate) as the
    classic text; nothing physical changes.
    """
    return spark.sql(_PIPE_SQL, orders=load(spark, sf_dir, "orders"))


_MEDIAN_BINS = 1024


@register(
    "q_exact_median_twopass",
    oracle="""
        WITH c AS (
            SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem
        ), n AS (SELECT COUNT(*) AS n FROM c)
        SELECT (SELECT n FROM n) AS n,
               (SELECT cents FROM c ORDER BY cents
                LIMIT 1 OFFSET ((SELECT n FROM n) + 1) // 2 - 1)
                   AS median_cents,
               CAST((SELECT cents FROM c ORDER BY cents
                     LIMIT 1 OFFSET ((SELECT n FROM n) + 1) // 2 - 1)
                    AS DOUBLE) / 100.0 AS median
    """,
    category="aggregates",
)
def q_exact_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: EXACT global median without a global sort — the two-phase
    bin-refine algorithm that makes exact order statistics feasible
    at 100 TB. Phase 1: one scan builds a 1024-bin histogram over the
    observed cent range (map-side combined; 1024-row result). The
    target bin and the median's offset within it come from a running
    sum OVER the tiny histogram. Phase 2: a second scan keeps ONLY
    the target bin's rows (~N/1024 of the data, filter pushed to the
    scan) and row_number picks the exact offset. No driver collect —
    the 1-row bin descriptor broadcasts.

    The oracle states the definition directly (k-th order statistic,
    lower-middle for even N, k = (N+1)//2): any binning or offset
    error shifts the value and fails the hash. Values are exact
    cents, so bin edges are integer arithmetic.

    Scale: a global sort of 100 TB shuffles everything; this shuffles
    a 1024-row histogram plus one bin's rows. More refinement rounds
    (bin-of-bin) extend the same recurrence to arbitrarily tight
    bins; one round suffices at any N where N/1024 rows fit a
    partition.
    """
    li = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    return exact_median_core(li)


def exact_median_core(li: DataFrame) -> DataFrame:
    """The bin-refine recurrence over a single-column cents frame —
    factored out so the hypothesis property test can drive it with
    arbitrary integer multisets against a sorted-list reference
    (tests/test_property_scalar.py)."""
    bounds = li.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = li.join(F.broadcast(bounds)).select(
        "cents",
        "n",
        F.expr(
            f"least(cast(((cents - lo) * {_MEDIAN_BINS}) div (hi - lo + 1) as int),"
            f" {_MEDIAN_BINS - 1})"
        ).alias("bin"),
    )
    hist = binned.groupBy("bin", "n").agg(F.count(F.lit(1)).alias("bn"))
    target = (
        dist_running(
            hist, [("bin", "asc")], {"below": "bn"}, inclusive=False
        )
        .withColumn("k", F.expr("(n + 1) div 2"))
        .filter(
            (F.col("below") < F.col("k"))
            & (F.col("below") + F.col("bn") >= F.col("k"))
        )
        .select(
            F.col("bin").alias("tbin"),
            (F.col("k") - F.col("below")).alias("off"),
            F.col("n").alias("n_total"),
        )
    )
    in_bin = binned.drop("n").join(
        F.broadcast(target), F.col("bin") == F.col("tbin"), "inner"
    ).select("cents", "off", "n_total")
    # rank the ~n/BINS in-bin rows distributed (ties on cents all
    # carry the same value, so any tie order picks the same median)
    picked = dist_row_number(in_bin, [("cents", "asc")], "rn").filter(
        F.col("rn") == F.col("off")
    )
    return picked.select(
        F.col("n_total").alias("n"),
        F.col("cents").alias("median_cents"),
        (F.col("cents").cast("double") / 100.0).alias("median"),
    )


_GROUPING_ID_SQL = """
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '<all>'
                ELSE l_returnflag END AS returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN '<all>'
                ELSE l_linestatus END AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           COUNT(*) AS n
    FROM {lineitem}
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register(
    "q_grouping_id", oracle=_GROUPING_ID_SQL.format(lineitem="lineitem"), category=CAT
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20: the GROUPING()/GROUPING_ID() surface — ROLLUP subtotal
    rows DISAMBIGUATED from genuine NULL keys by the grouping flags
    (the bug every hand-rolled rollup consumer hits: a NULL group key
    is ambiguous without them). Subtotal keys render as '<all>' and
    the composite grouping id is emitted, so the oracle checks the
    flag semantics themselves. One SQL text runs verbatim on both
    engines (GROUPING() is identical in Spark and DuckDB; Spark's
    GROUPING_ID() equals the bit-packed form computed here portably).

    Scale: identical Expand + two-phase aggregate as A5's plain
    rollup; the flags are free metadata columns of the Expand.
    """
    return spark.sql(_GROUPING_ID_SQL, lineitem=load(spark, sf_dir, "lineitem"))
