"""Classic TPC-H-shaped OLAP analyses beyond the Q1/Q3/Q5 shapes the
bench headlines: market share (Q8 shape), largest-orders ranking
(Q18 shape), and shipping-delay buckets (Q12 shape, adapted to this
schema's columns). These exercise the deep snowflake join (two nation
role-playing joins), the group-HAVING-on-aggregate pattern, and
conditional bucket shares — the remaining classic OLAP idioms.

Scale notes (100 TB): every dim here (nation, region, supplier,
customer aggregates) broadcasts; the fact shuffles at most once per
op. Revenue accumulates in exact micro-units (the dsum discipline)
so shares are integer ratios rounded once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import dist_running

CAT = "olap"

_MARKET_REGION = "ASIA"
_SHARE_NATION = "NATION_3"


@register(
    "q_market_share",
    oracle=f"""
        WITH flat AS (
            SELECT year(o_orderdate) AS yr,
                   sn.n_name AS supp_nation,
                   CAST(round(l_extendedprice * (1 - l_discount) * 1000000)
                        AS BIGINT) AS rev_micro
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region r  ON cn.n_regionkey = r.r_regionkey
                          AND r.r_name = '{_MARKET_REGION}'
            JOIN supplier s ON l_suppkey = s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        )
        SELECT CAST(yr AS BIGINT) AS yr,
               CAST(SUM(CASE WHEN supp_nation = '{_SHARE_NATION}'
                             THEN rev_micro ELSE 0 END) AS BIGINT)
                   AS nation_rev_micro,
               CAST(SUM(rev_micro) AS BIGINT) AS total_rev_micro,
               round(CAST(SUM(CASE WHEN supp_nation = '{_SHARE_NATION}'
                                   THEN rev_micro ELSE 0 END) AS DOUBLE)
                     / SUM(rev_micro), 6) AS mkt_share
        FROM flat GROUP BY yr
    """,
    category=CAT,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OL1 (TPC-H Q8 shape): yearly market share of one supplier
    nation within one customer region — the two nation joins
    role-play (customer side filters the market, supplier side labels
    the competitor), and the share is a conditional sum over the same
    aggregate pass.

    Determinism: revenue accumulates as exact micro-unit BIGINTs
    (price×(1−discount) is an exact 4-decimal product on this data);
    the share is one integer ratio rounded 6.

    Scale: all five dims broadcast (region→nation prune the customer
    dim before it reaches the fact); the fact shuffles once for the
    orders join, and the year rollup map-side combines. Same economics
    as q_join_star6 with one extra role-playing broadcast.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    s = load(spark, sf_dir, "supplier")
    cn = n.alias("cn")
    sn = n.alias("sn")
    market_cust = (
        c.join(
            F.broadcast(
                cn.join(
                    F.broadcast(r.filter(F.col("r_name") == _MARKET_REGION)),
                    F.col("cn.n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("cn.n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = s.join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey")
    ).select("s_suppkey", F.col("sn.n_name").alias("supp_nation"))
    flat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(market_cust), o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("yr"),
            "supp_nation",
            F.expr(
                "cast(round(l_extendedprice * (1 - l_discount) * 1000000)"
                " as bigint)"
            ).alias("rev_micro"),
        )
    )
    nation_rev = F.sum(
        F.when(F.col("supp_nation") == _SHARE_NATION, F.col("rev_micro"))
        .otherwise(0)
    ).cast("long")
    total_rev = F.sum("rev_micro").cast("long")
    return flat.groupBy("yr").agg(
        nation_rev.alias("nation_rev_micro"),
        total_rev.alias("total_rev_micro"),
        F.round(
            nation_rev.cast("double") / total_rev,
            6,
        ).alias("mkt_share"),
    )


@register(
    "q_largest_orders",
    oracle="""
        WITH per_order AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(round(l_quantity * 1000000) AS BIGINT))
                        AS BIGINT) AS qty_micro,
                   COUNT(*) AS n_lines
            FROM lineitem GROUP BY 1
        )
        SELECT p.l_orderkey AS o_orderkey, o.o_custkey,
               CAST(p.qty_micro AS DOUBLE) / 1000000.0 AS total_qty,
               p.n_lines,
               round(o.o_totalprice, 6) AS o_totalprice
        FROM per_order p JOIN orders o ON p.l_orderkey = o.o_orderkey
        ORDER BY p.qty_micro DESC, p.l_orderkey ASC
        LIMIT 20
    """,
    category=CAT,
)
def q_largest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OL2 (TPC-H Q18 shape): the 20 largest orders by total line
    quantity, with customer and price context — the
    aggregate-then-join-then-rank idiom (group the fact first, join
    the much smaller per-order rollup to its dimension, top-k last).

    Scale: the fact collapses to per-order grain before any join —
    the join input is |orders|, not |lineitem| — and the top-20 is
    TakeOrderedAndProject on the exact integer quantity (micro-units,
    ties on order key). Q18's HAVING-style quantity floor is the same
    plan with a filter between the rollup and the join.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.expr("cast(round(l_quantity * 1000000) as bigint)"))
        .cast("long")
        .alias("qty_micro"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .orderBy(F.desc("qty_micro"), F.asc("l_orderkey"))
        .limit(20)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "o_custkey",
            (F.col("qty_micro").cast("double") / 1000000.0).alias(
                "total_qty"
            ),
            "n_lines",
            F.round("o_totalprice", 6).alias("o_totalprice"),
        )
    )


@register(
    "q_ship_delay_buckets",
    oracle="""
        WITH d AS (
            SELECT o_orderpriority,
                   CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30
                             THEN 'lt_30'
                        WHEN date_diff('day', o_orderdate, l_shipdate) < 60
                             THEN 'd30_59'
                        WHEN date_diff('day', o_orderdate, l_shipdate) < 90
                             THEN 'd60_89'
                        ELSE 'ge_90' END AS delay_bucket
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )
        SELECT o_orderpriority, delay_bucket, COUNT(*) AS n,
               round(CAST(COUNT(*) AS DOUBLE)
                     / SUM(COUNT(*)) OVER (PARTITION BY o_orderpriority), 6)
                   AS share
        FROM d GROUP BY 1, 2
    """,
    category=CAT,
)
def q_ship_delay_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OL3 (TPC-H Q12 shape, adapted — this schema has no
    commit/receipt dates): order-to-ship delay bucketed per order
    priority, with the within-priority share. The ops-dashboard
    "are high-priority orders actually shipping faster" question.

    Scale: one fact join (orders side could broadcast per-partition
    at real scale via the orderkey-sorted layout), one
    map-side-combined (priority × bucket) aggregate — ≤20 groups —
    and the share window over the 20-row result.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    delay = F.expr("datediff(l_shipdate, o_orderdate)")
    bucket = (
        F.when(delay < 30, "lt_30")
        .when(delay < 60, "d30_59")
        .when(delay < 90, "d60_89")
        .otherwise("ge_90")
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", bucket.alias("delay_bucket")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderpriority")
    return (
        d.groupBy("o_orderpriority", "delay_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "o_orderpriority",
            "delay_bucket",
            "n",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(w), 6
            ).alias("share"),
        )
    )


@register(
    "q_pareto_skyline",
    oracle="""
        WITH pts AS (
            SELECT p_partkey,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
                   p_size
            FROM part
        ),
        grp AS (
            SELECT price_c, MAX(p_size) AS gmax FROM pts GROUP BY price_c
        ),
        strict AS (
            SELECT price_c, gmax,
                   MAX(gmax) OVER (ORDER BY price_c
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS m_strict
            FROM grp
        )
        SELECT p.p_partkey, p.price_c, CAST(p.p_size AS BIGINT) AS p_size
        FROM pts p JOIN strict s ON p.price_c = s.price_c
        WHERE (s.m_strict IS NULL OR p.p_size > s.m_strict)
          AND p.p_size = s.gmax
        ORDER BY p.price_c, p.p_partkey
    """,
    category=CAT,
)
def q_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OL20: skyline (Pareto frontier) query — parts not dominated on
    (cheaper price, larger size): the classic Börzsönyi et al. 2001
    multi-criteria operator ("best tradeoffs" shortlists). A part is
    dominated if some part is ≤ price AND ≥ size with one strict.

    Plan: NOT the naive O(n²) dominance anti-join — collapse to
    per-price max sizes, one running-max pass over the sorted distinct
    prices (skyline ⟺ size strictly above every strictly-cheaper
    price's best AND equal to its own price group's best), then join
    back. O(n log n) via one window, and ties (equal price+size
    frontier twins) are all kept, matching the dominance definition.

    Scale: the window runs over DISTINCT prices (bounded by the price
    domain); the 2-D skyline at 100 TB partitions the price range,
    computes per-range skylines, and merges — same algebra per range.
    Higher dimensions need the block-nested-loop variants; this is the
    2-D fast path.
    """
    p = load(spark, sf_dir, "part")
    pts = p.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_c"),
        "p_size",
    )
    grp = pts.groupBy("price_c").agg(F.max("p_size").alias("gmax"))
    # strict-prefix running max without an unpartitioned window
    # (dist_running maxs: NULL on the global first row, exactly the
    # empty-frame SQL semantics the dominance test needs)
    strict = dist_running(
        grp, [("price_c", "asc")], maxs={"m_strict": "gmax"}, inclusive=False
    ).select("price_c", "gmax", "m_strict")
    return (
        pts.join(strict, "price_c")
        .filter(
            (F.col("m_strict").isNull() | (F.col("p_size") > F.col("m_strict")))
            & (F.col("p_size") == F.col("gmax"))
        )
        .select("p_partkey", "price_c", F.col("p_size").cast("long").alias("p_size"))
        .orderBy("price_c", "p_partkey")
    )


@register(
    "q_yoy_growth",
    oracle="""
        WITH yearly AS (
            SELECT n.n_name,
                   CAST(year(o.o_orderdate) AS BIGINT) AS yr,
                   CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        )
        SELECT n_name, yr,
               round(cents / 100.0, 6) AS revenue,
               round(CASE WHEN lag(cents) OVER w IS NULL THEN NULL
                     ELSE (cents - lag(cents) OVER w)
                          / (CAST(lag(cents) OVER w AS DOUBLE)) END, 6)
                   AS yoy_growth
        FROM yearly
        WINDOW w AS (PARTITION BY n_name ORDER BY yr)
        ORDER BY n_name, yr
    """,
    category=CAT,
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OL21: year-over-year revenue growth per nation — the reporting
    staple behind every finance dashboard (TPC-DS's YoY comparison
    shapes, e.g. Q74, reduce to this lag-over-yearly-aggregate
    pattern). First year of each series reports NULL growth.

    Determinism: yearly revenue is exact cents; growth is one double
    division of exact longs (lag over a pinned (nation, year) order).

    Scale: the fact collapses to |nations|×|years| in one map-side-
    combined pass (dims broadcast); the lag window runs on that
    bounded frame.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    yearly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("yr"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("cents").over(w)
    return yearly.select(
        "n_name",
        "yr",
        F.round(F.col("cents") / 100.0, 6).alias("revenue"),
        F.round(
            F.when(
                prev.isNotNull(),
                (F.col("cents") - prev) / prev.cast("double"),
            ),
            6,
        ).alias("yoy_growth"),
    ).orderBy("n_name", "yr")
