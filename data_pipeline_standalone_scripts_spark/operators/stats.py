"""Nonparametric statistical tests as exact-integer DataFrame plans:
Kolmogorov–Smirnov two-sample distance, Mann–Whitney U (rank-sum),
and discrete mutual information. These are the distribution-shift
detectors an ML-data platform runs between snapshots / segments /
A-B arms, complementing the parametric screens in analytics.py
(z-scores, PSI, χ²).

The determinism trick throughout: every statistic is pushed into
integer arithmetic as far as mathematically possible —
- KS:  D = max|i·m − j·n| / (n·m): the numerator is an EXACT BIGINT
  (no per-step ECDF floats at all);
- MWU: tie-averaged ranks are half-integers, so 2·rank is an exact
  long and the rank-sum runs entirely in longs;
- MI:  only the final p·ln(...) terms are doubles, each computed once
  from exact counts and accumulated with the micro-unit scaled-long
  discipline.

Scale notes (100 TB):
- All three collapse the fact table to a bounded frame first
  (distinct values of the tested statistic / contingency cells) with
  one map-side-combined aggregation; the window passes run over that
  bounded frame, not the fact.
- KS/MWU over a truly continuous 100 TB column: pre-bin to ~1e4
  quantile buckets in the collapse pass (the D and U errors are
  bounded by bin mass); the plan shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import dist_running, half_away_long

CAT = "stats"

# the two compared segments (order-value distributions by priority)
_SEG_A = "1-URGENT"
_SEG_B = "5-LOW"

_VALS_CTE = f"""
    vals AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN o_orderpriority = '{_SEG_A}' THEN 1 ELSE 0 END AS in_a,
               CASE WHEN o_orderpriority = '{_SEG_B}' THEN 1 ELSE 0 END AS in_b
        FROM orders
        WHERE o_orderpriority IN ('{_SEG_A}', '{_SEG_B}')
    ),
    grp AS (
        SELECT v, SUM(in_a) AS a_cnt, SUM(in_b) AS b_cnt
        FROM vals GROUP BY v
    ),
    tot AS (
        SELECT SUM(a_cnt) AS n, SUM(b_cnt) AS m FROM grp
    )
"""


@register(
    "q_ks_test",
    oracle=f"""
        WITH {_VALS_CTE},
        walk AS (
            SELECT SUM(a_cnt) OVER w AS i, SUM(b_cnt) OVER w AS j
            FROM grp
            WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        ),
        d AS (
            SELECT MAX(abs(i * (SELECT m FROM tot)
                           - j * (SELECT n FROM tot))) AS d_num
            FROM walk
        )
        SELECT CAST(t.n AS BIGINT) AS n, CAST(t.m AS BIGINT) AS m,
               CAST(d.d_num AS BIGINT) AS d_num,
               round(CAST(d.d_num AS DOUBLE) / (t.n * t.m), 6) AS d_stat,
               CAST(CASE WHEN CAST(d.d_num AS DOUBLE) / (t.n * t.m)
                         > 1.358 * sqrt((t.n + t.m)
                                        / (CAST(t.n AS DOUBLE) * t.m))
                    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
        FROM d, tot t
    """,
    category=CAT,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1: two-sample Kolmogorov–Smirnov distance between the URGENT
    and LOW order-value distributions — D = sup|F_A − F_B|, with the
    α=0.05 large-sample rejection flag (c(α)=1.358). The standard
    "did this segment's distribution shift?" test.

    Determinism: the ECDF walk never touches floats — at each distinct
    value the scaled gap i·m − j·n is an exact long, and only the
    final max divides (one double op, round 6).

    Scale: the fact collapses to distinct cent values in one
    map-side-combined pass; the cumulative walk runs over that bounded
    frame (window over ≤ |distinct values| rows). For continuous
    100 TB columns, pre-bin to quantile buckets in the same pass.
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(_SEG_A, _SEG_B)
    )
    vals = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.col("o_orderpriority") == _SEG_A, 1).otherwise(0).alias("in_a"),
        F.when(F.col("o_orderpriority") == _SEG_B, 1).otherwise(0).alias("in_b"),
    )
    grp = vals.groupBy("v").agg(
        F.sum("in_a").alias("a_cnt"), F.sum("in_b").alias("b_cnt")
    )
    tot = grp.agg(F.sum("a_cnt").alias("n"), F.sum("b_cnt").alias("m"))
    walk = dist_running(
        grp, [("v", "asc")], {"i": "a_cnt", "j": "b_cnt"}
    ).select("i", "j")
    d = walk.crossJoin(F.broadcast(tot)).agg(
        F.max(F.abs(F.col("i") * F.col("m") - F.col("j") * F.col("n"))).alias(
            "d_num"
        )
    )
    nm = F.col("n").cast("double") * F.col("m")
    d_stat = F.col("d_num").cast("double") / nm
    crit = 1.358 * F.sqrt((F.col("n") + F.col("m")) / nm)
    return d.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("n"),
        F.col("m").cast("long").alias("m"),
        F.col("d_num").cast("long").alias("d_num"),
        F.round(d_stat, 6).alias("d_stat"),
        F.when(d_stat > crit, 1).otherwise(0).cast("long").alias("reject_95"),
    )


@register(
    "q_mannwhitney_u",
    oracle=f"""
        WITH {_VALS_CTE},
        ranked AS (
            SELECT a_cnt, b_cnt, a_cnt + b_cnt AS c,
                   COALESCE(SUM(a_cnt + b_cnt) OVER (
                       ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS p
            FROM grp
        ),
        sums AS (
            SELECT SUM(a_cnt * (2 * p + c + 1)) AS r2a,
                   SUM(c * c * c - c) AS tie3
            FROM ranked
        )
        SELECT CAST(t.n AS BIGINT) AS n, CAST(t.m AS BIGINT) AS m,
               CAST(s.r2a - t.n * (t.n + 1) AS BIGINT) AS u2_a,
               round((CAST(s.r2a - t.n * (t.n + 1) AS DOUBLE) / 2.0
                      - CAST(t.n AS DOUBLE) * t.m / 2.0)
                     / sqrt(CAST(t.n AS DOUBLE) * t.m / 12.0
                            * ((t.n + t.m + 1)
                               - CAST(s.tie3 AS DOUBLE)
                                 / ((t.n + t.m)
                                    * CAST(t.n + t.m - 1 AS DOUBLE)))),
                     6) AS z_score
        FROM sums s, tot t
    """,
    category=CAT,
)
def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2: Mann–Whitney U (Wilcoxon rank-sum) between the same two
    segments — the nonparametric "is one distribution stochastically
    larger?" test, with the tie-corrected normal z-score.

    Determinism: tie-averaged ranks are half-integers, so DOUBLED
    ranks (2·p + c + 1 per distinct value) are exact longs; the
    doubled rank-sum and the tie term Σ(c³−c) are exact long
    aggregates, and the z-score is one double expression over them.

    Scale: same collapsed-frame shape as ST1 — one fact pass, then a
    bounded walk. Worst-case magnitude: Σ(c³) ≤ (n+m)³ only if all
    values tie; with cent-quantized prices, c is small and the sum
    stays far under 2^63 at any realistic sf.
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(_SEG_A, _SEG_B)
    )
    vals = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.col("o_orderpriority") == _SEG_A, 1).otherwise(0).alias("in_a"),
        F.when(F.col("o_orderpriority") == _SEG_B, 1).otherwise(0).alias("in_b"),
    )
    grp = vals.groupBy("v").agg(
        F.sum("in_a").alias("a_cnt"), F.sum("in_b").alias("b_cnt")
    )
    tot = grp.agg(F.sum("a_cnt").alias("n"), F.sum("b_cnt").alias("m"))
    ranked = dist_running(
        grp.withColumn("c", F.col("a_cnt") + F.col("b_cnt")),
        [("v", "asc")],
        {"p": "c"},
        inclusive=False,
    ).select("a_cnt", "b_cnt", "c", "p")
    sums = ranked.agg(
        F.sum(
            F.col("a_cnt") * (2 * F.col("p") + F.col("c") + 1)
        ).alias("r2a"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie3"),
    )
    j = sums.crossJoin(F.broadcast(tot))
    n_d = F.col("n").cast("double")
    m_d = F.col("m").cast("double")
    nm2 = F.col("n") + F.col("m")
    u2a = F.col("r2a") - F.col("n") * (F.col("n") + 1)
    mean_u = n_d * m_d / 2.0
    sigma = F.sqrt(
        n_d
        * m_d
        / 12.0
        * (
            (nm2 + 1)
            - F.col("tie3").cast("double") / (nm2 * (nm2 - 1).cast("double"))
        )
    )
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("m").cast("long").alias("m"),
        u2a.cast("long").alias("u2_a"),
        F.round((u2a.cast("double") / 2.0 - mean_u) / sigma, 6).alias(
            "z_score"
        ),
    )


@register(
    "q_mutual_info",
    oracle="""
        WITH cell AS (
            SELECT event_type AS x, CAST(hour(ts) AS BIGINT) AS y,
                   COUNT(*) AS nxy
            FROM events GROUP BY 1, 2
        ),
        mx AS (SELECT x, SUM(nxy) AS nx FROM cell GROUP BY 1),
        my AS (SELECT y, SUM(nxy) AS ny FROM cell GROUP BY 1),
        tot AS (SELECT SUM(nxy) AS nn FROM cell),
        terms AS (
            SELECT c.nxy, t.nn,
                   CAST(c.nxy AS DOUBLE) / t.nn
                     * ln(CAST(c.nxy AS DOUBLE) * t.nn
                          / (CAST(mx.nx AS DOUBLE) * my.ny)) AS mi_term,
                   -CAST(c.nxy AS DOUBLE) / t.nn
                     * ln(CAST(c.nxy AS DOUBLE) / t.nn) AS hxy_term
            FROM cell c
            JOIN mx ON c.x = mx.x
            JOIN my ON c.y = my.y
            CROSS JOIN tot t
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               round(CAST(SUM(CAST(round(mi_term * 1000000000) AS BIGINT))
                          AS DOUBLE) / 1000000000.0, 6) AS mutual_info,
               round(CAST(SUM(CAST(round(hxy_term * 1000000000) AS BIGINT))
                          AS DOUBLE) / 1000000000.0, 6) AS joint_entropy
        FROM terms
    """,
    category=CAT,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3: mutual information between event type and hour-of-day
    (I(X;Y) = Σ p·ln(p_xy/(p_x·p_y))), plus the joint entropy — the
    dependence detector for categorical pairs where χ² (AN16) only
    answers "independent or not": MI quantifies HOW MANY nats the
    hour tells you about the event mix (feature-redundancy screening
    for training pipelines).

    Determinism: all probabilities come from exact counts; each cell's
    p·ln term is one double expression, and the 120-cell sum runs in
    nano-unit scaled longs so accumulation order can't move round(6).

    Scale: one map-side-combined (type, hour) count pass over the
    fact; marginals and terms operate on the ≤ |X|·|Y| cell frame.
    """
    ev = load(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("event_type").alias("x"),
        F.hour("ts").cast("long").alias("y"),
    ).agg(F.count(F.lit(1)).alias("nxy"))
    mx = cell.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = cell.groupBy("y").agg(F.sum("nxy").alias("ny"))
    tot = cell.agg(F.sum("nxy").alias("nn"))
    t = (
        cell.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("nxy").cast("double") / F.col("nn")
    mi_term = p * F.log(
        F.col("nxy").cast("double")
        * F.col("nn")
        / (F.col("nx").cast("double") * F.col("ny"))
    )
    hxy_term = -p * F.log(F.col("nxy").cast("double") / F.col("nn"))
    nano = lambda c: half_away_long(c, 1_000_000_000)
    return t.select(
        nano(mi_term).alias("mi_n"), nano(hxy_term).alias("h_n")
    ).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("mi_n").cast("double") / 1e9, 6).alias("mutual_info"),
        F.round(F.sum("h_n").cast("double") / 1e9, 6).alias("joint_entropy"),
    )


@register(
    "q_stat_crosstab",
    oracle="""
        SELECT c_mktsegment AS "c_mktsegment_region_bucket",
               CAST(SUM(CASE WHEN c_nationkey // 5 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS "0",
               CAST(SUM(CASE WHEN c_nationkey // 5 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS "1",
               CAST(SUM(CASE WHEN c_nationkey // 5 = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS "2",
               CAST(SUM(CASE WHEN c_nationkey // 5 = 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS "3",
               CAST(SUM(CASE WHEN c_nationkey // 5 = 4 THEN 1 ELSE 0 END)
                    AS BIGINT) AS "4"
        FROM customer
        GROUP BY c_mktsegment
    """,
    category=CAT,
)
def q_stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4: the DataFrame stat-function surface — `df.stat.crosstab`
    builds the segment × region-bucket contingency table (pair counts
    pivoted wide, columns named by the second key's values). The
    oracle restates it as conditional sums with the SAME value-named
    columns, so crosstab's pairing, pivot and naming convention are
    all value-checked. Complements AN16/ST3, which consume
    contingency tables; this is the API that produces them.

    Scale: crosstab = pair-count aggregate + driver-side pivot of the
    DISTINCT second-key values — safe only when that domain is small
    (here 5 buckets); a high-cardinality second key belongs in the
    long (pair, count) form instead, which is the pre-pivot stage of
    this very plan.
    """
    c = load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.expr("c_nationkey div 5").cast("int").alias("region_bucket"),
    )
    ct = c.stat.crosstab("c_mktsegment", "region_bucket")
    # crosstab emits counts as long already; enforce column order by
    # selecting the known bucket domain explicitly
    return ct.select(
        "c_mktsegment_region_bucket", "0", "1", "2", "3", "4"
    )


@register(
    "q_weighted_median",
    oracle="""
        WITH w AS (
            SELECT l_returnflag,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                   CAST(round(l_quantity * 100) AS BIGINT) AS wt,
                   l_orderkey, l_linenumber
            FROM lineitem
        ), cum AS (
            SELECT l_returnflag, price_c, wt,
                   SUM(wt) OVER (PARTITION BY l_returnflag
                                 ORDER BY price_c, l_orderkey, l_linenumber
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS cw,
                   SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
            FROM w
        ), picked AS (
            SELECT l_returnflag, price_c, cw, tw,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY cw ASC) AS rn
            FROM cum WHERE 2 * cw >= tw
        )
        SELECT l_returnflag,
               CAST(price_c AS BIGINT) AS wmedian_cents,
               CAST(price_c AS DOUBLE) / 100.0 AS wmedian,
               CAST(tw AS BIGINT) AS total_weight
        FROM picked WHERE rn = 1
    """,
    category=CAT,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5: exact weighted median per group — the smallest price whose
    cumulative quantity-weight reaches half the group's total (the
    lower weighted median, the robust center that a plain median
    misses when rows carry different mass; the standard estimator in
    price indexes and survey statistics).

    Exactness: prices and weights are cent-scaled longs; the
    cumulative walk orders by (price, orderkey, linenumber) so ties
    are engine-identical, and the ≥-half pick is integer arithmetic
    (2·cw ≥ tw avoids any division).

    Scale: one group-keyed window sort + a rank pick — the same
    single-shuffle shape as every windowed order statistic here; for
    the global (ungrouped) case at extreme N, A19's two-pass
    bin-refine recurrence applies with weights summed per bin.
    """
    from pyspark.sql.window import Window as W

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    w_cum = (
        W.partitionBy("l_returnflag")
        .orderBy("price_c", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tot = W.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "price_c",
        F.sum("wt").over(w_cum).alias("cw"),
        F.sum("wt").over(w_tot).alias("tw"),
    ).filter(2 * F.col("cw") >= F.col("tw"))
    w_pick = W.partitionBy("l_returnflag").orderBy("cw")
    return (
        cum.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("price_c").alias("wmedian_cents"),
            (F.col("price_c").cast("double") / 100.0).alias("wmedian"),
            F.col("tw").cast("long").alias("total_weight"),
        )
    )
