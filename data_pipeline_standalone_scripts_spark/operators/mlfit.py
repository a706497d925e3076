"""Closed-form model fitting as aggregation: OLS linear regression
from exact sufficient statistics.

"Training" an OLS model is ten sums — the moment matrix XᵀX and XᵀY —
followed by O(1) arithmetic on the driver side of the plan (still
inside SQL; nothing leaves the executors but ten numbers). That makes
regression a SINGLE map-side-combinable aggregation at any data size:
the canonical example of pushing an ML fit into the engine instead of
exporting data to a modeling stack.

Determinism: all moments accumulate as exact integers (features and
target micro-scaled the way operators/common.dsum does), so both
engines feed bit-identical integers into the one float solve at the
end; the float algebra is an identical expression sequence on both
sides, then r6. The Σy²-class moments exceed BIGINT at large row
counts, so they widen to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) —
the only dialect divergence in the shared SQL template below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load
from .common import dist_running, quantize_micro

CAT = "mlfit"

# Shared Spark-SQL / DuckDB template. Integer feature space:
#   Q = 100·l_quantity, D = 100·l_discount, Y = 10000·revenue
# (quantities/discounts are 2-dp-quantized, revenue is an exact 4-dp
# product of two 2-dp values, so every round() recovers an exact
# integer). The fit runs in integer space; betas unscale at the end
# (Y = B0 + BQ·Q + BD·D  ⇒  y = B0/1e4 + (BQ/100)·q + (BD/100)·d).
# {wide} widens the three product-moments that can exceed BIGINT;
# {lineitem} is the table (its name for DuckDB, a bound frame for Spark).
_LINREG_SQL = """
    WITH pts AS (
        SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
               CAST(round(l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS y
        FROM {lineitem}
    ), m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(q) AS DOUBLE) AS sq,
               CAST(SUM(d) AS DOUBLE) AS sd,
               CAST(SUM(q * q) AS DOUBLE) AS sqq,
               CAST(SUM(d * d) AS DOUBLE) AS sdd,
               CAST(SUM(q * d) AS DOUBLE) AS sqd,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(q AS {wide}) * y) AS DOUBLE) AS sqy,
               CAST(SUM(CAST(d AS {wide}) * y) AS DOUBLE) AS sdy,
               CAST(SUM(CAST(y AS {wide}) * y) AS DOUBLE) AS syy
        FROM pts
    ), c AS (
        SELECT n,
               sqq - sq * sq / n AS cqq,
               sdd - sd * sd / n AS cdd,
               sqd - sq * sd / n AS cqd,
               sqy - sq * sy / n AS cqy,
               sdy - sd * sy / n AS cdy,
               syy - sy * sy / n AS cyy,
               sq / n AS mq, sd / n AS md, sy / n AS my
        FROM m
    ), beta AS (
        SELECT n, cyy, cqy, cdy, mq, md, my,
               (cqy * cdd - cdy * cqd) / (cqq * cdd - cqd * cqd) AS bq,
               (cdy * cqq - cqy * cqd) / (cqq * cdd - cqd * cqd) AS bd
        FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           round((my - bq * mq - bd * md) / 10000.0, 6) AS beta0,
           round(bq / 100.0, 6) AS beta_qty,
           round(bd / 100.0, 6) AS beta_disc,
           round((bq * cqy + bd * cdy) / cyy, 6) AS r2
    FROM beta
"""


@register(
    "q_linreg_fit",
    oracle=_LINREG_SQL.format(wide="HUGEINT", lineitem="lineitem"),
    category=CAT,
)
def q_linreg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML1: OLS fit of revenue ~ quantity + discount over lineitem,
    entirely as one aggregation — returns intercept, coefficients and
    R² in original units.

    The normal equations are solved in closed form from ten exact
    integer moments (centered 2×2 cofactor solve); see module
    docstring for the scaling scheme. Integer-moment domain: Σ(q·y)
    stays under 2^63 through ~sf1 magnitudes; beyond that, widen the
    remaining moments exactly like the three already widened.

    Scale: one scan, one map-side-combined partial aggregate, ten
    numbers on the wire, O(1) finish. Nothing about the fit changes
    at 100 TB — this is why sufficient-statistics training belongs in
    the engine.
    """
    return spark.sql(
        _LINREG_SQL.format(wide="DECIMAL(38,0)", lineitem="{lineitem}"),
        lineitem=load(spark, sf_dir, "lineitem"),
    )


# Same integer-moment construction, grouped: one model per key. The
# group column rides through the moment aggregation, so "train a model
# per segment" costs exactly one grouped aggregate — the million-
# micro-models pattern (per-SKU demand curves, per-tenant calibration)
# with no per-group scan or driver loop.
_LINREG_GROUP_SQL = """
    WITH pts AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_quantity * 100) AS BIGINT) AS q,
               CAST(round(l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS y
        FROM {lineitem}
    ), m AS (
        SELECT grp,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(q) AS DOUBLE) AS sq,
               CAST(SUM(d) AS DOUBLE) AS sd,
               CAST(SUM(q * q) AS DOUBLE) AS sqq,
               CAST(SUM(d * d) AS DOUBLE) AS sdd,
               CAST(SUM(q * d) AS DOUBLE) AS sqd,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(q AS {wide}) * y) AS DOUBLE) AS sqy,
               CAST(SUM(CAST(d AS {wide}) * y) AS DOUBLE) AS sdy,
               CAST(SUM(CAST(y AS {wide}) * y) AS DOUBLE) AS syy
        FROM pts GROUP BY grp
    ), c AS (
        SELECT grp, n,
               sqq - sq * sq / n AS cqq,
               sdd - sd * sd / n AS cdd,
               sqd - sq * sd / n AS cqd,
               sqy - sq * sy / n AS cqy,
               sdy - sd * sy / n AS cdy,
               syy - sy * sy / n AS cyy,
               sq / n AS mq, sd / n AS md, sy / n AS my
        FROM m
    ), beta AS (
        SELECT grp, n, cyy, cqy, cdy, mq, md, my,
               (cqy * cdd - cdy * cqd) / (cqq * cdd - cqd * cqd) AS bq,
               (cdy * cqq - cqy * cqd) / (cqq * cdd - cqd * cqd) AS bd
        FROM c
    )
    SELECT grp AS l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round((my - bq * mq - bd * md) / 10000.0, 6) AS beta0,
           round(bq / 100.0, 6) AS beta_qty,
           round(bd / 100.0, 6) AS beta_disc,
           round((bq * cqy + bd * cdy) / cyy, 6) AS r2
    FROM beta
"""


@register(
    "q_linreg_per_group",
    oracle=_LINREG_GROUP_SQL.format(wide="HUGEINT", lineitem="lineitem"),
    category=CAT,
)
def q_linreg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML2: one OLS model per return-flag segment, from the same exact
    sufficient statistics as ML1 — grouped, so training a model per
    key is a single grouped aggregate (the micro-models pattern:
    per-segment elasticities without a per-group scan or driver loop).

    Scale: identical to ML1 with the group key in the shuffle — the
    wire carries ten numbers per GROUP, and a million groups is an
    ordinary aggregation.
    """
    return spark.sql(
        _LINREG_GROUP_SQL.format(wide="DECIMAL(38,0)", lineitem="{lineitem}"),
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@register(
    "q_calibration_bins",
    oracle="""
        WITH scored AS (
            SELECT round(-8.0 + 0.6 * ln(o_totalprice), 6) AS z,
                   round(1.0 / (1.0 + exp(-(-8.0 + 0.6 * ln(o_totalprice)))),
                         6) AS p,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                     AS hit
            FROM orders
        ),
        binned AS (
            SELECT CAST(floor(z / 0.5) AS BIGINT) AS z_bin, p, hit
            FROM scored
        )
        SELECT z_bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(CAST(round(p * 1000000) AS BIGINT)) AS DOUBLE)
                     / 1000000.0 / COUNT(*), 6) AS mean_predicted,
               round(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS observed_rate,
               CAST(SUM(hit) AS BIGINT) AS n_hits
        FROM binned
        GROUP BY z_bin
        ORDER BY z_bin
    """,
    category=CAT,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML3: model-calibration table — bin a frozen logistic score
    (P[priority=URGENT] from log order value) by its logit and compare
    mean predicted probability against the observed rate per bin. The
    reliability-diagram backbone of any deployed classifier monitor:
    bins where mean_predicted and observed_rate diverge are where the
    model is miscalibrated.

    Determinism: binning happens on the ROUND(6) logit (so a 1-ulp
    libm exp/ln divergence cannot flip a bin assignment except at a
    measure-zero rounding edge), per-row probabilities are rounded
    before the micro-unit scaled-long mean, and observed rates are
    exact integer ratios.

    Scale: scan-side scoring (codegen ln/exp), one map-side-combined
    agg on ≤ ~10 logit bins. Calibration of a 100 TB scored corpus is
    exactly this one pass.
    """
    from pyspark.sql import functions as F

    o = load(spark, sf_dir, "orders")
    z_raw = F.lit(-8.0) + F.lit(0.6) * F.log(F.col("o_totalprice"))
    scored = o.select(
        F.round(z_raw, 6).alias("z"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z_raw)), 6).alias("p"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias(
            "hit"
        ),
    )
    binned = scored.select(
        F.floor(F.col("z") / 0.5).cast("long").alias("z_bin"), "p", "hit"
    )
    micro_p = (F.col("p") * 1_000_000 + F.lit(0.5)).cast("long")
    return (
        binned.groupBy("z_bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(micro_p).cast("double") / 1_000_000.0 / F.count(F.lit(1)),
                6,
            ).alias("mean_predicted"),
            F.round(
                F.sum("hit").cast("double") / F.count(F.lit(1)), 6
            ).alias("observed_rate"),
            F.sum("hit").cast("long").alias("n_hits"),
        )
        .orderBy("z_bin")
    )


# DCG position discounts round(1e9/log2(i+1)) for i=1..10 as exact
# nano-unit literals — libm never runs at query time, so both engines
# use the SAME integers and NDCG is an exact-long ratio.
_DCG_NANO = (
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
)
_IDCG10_NANO = sum(_DCG_NANO)
_NDCG_QUERIES = 5
_NDCG_K = 10


def _dcg_case(rk_col: str) -> str:
    whens = " ".join(
        f"WHEN {i + 1} THEN {c}" for i, c in enumerate(_DCG_NANO)
    )
    return f"CASE {rk_col} {whens} END"


@register(
    "q_ndcg_eval",
    oracle=f"""
        WITH ev AS (
            SELECT vec_id, label,
                   generate_subscripts(embedding, 1) AS pos,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                        AS BIGINT) AS v
            FROM embeddings
        ), qv AS (
            SELECT vec_id AS qid, label AS qlabel, pos, v
            FROM ev WHERE vec_id < {_NDCG_QUERIES}
        ), scored AS (
            SELECT q.qid, q.qlabel, e.vec_id, e.label,
                   SUM(e.v * q.v) AS dot
            FROM ev e JOIN qv q USING (pos)
            WHERE e.vec_id <> q.qid
            GROUP BY q.qid, q.qlabel, e.vec_id, e.label
        ), ranked AS (
            SELECT qid, qlabel, label,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dot DESC, vec_id ASC) AS rk
            FROM scored
            QUALIFY rk <= {_NDCG_K}
        )
        SELECT CAST(qid AS BIGINT) AS query_id,
               CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_relevant_at10,
               CAST(SUM(CASE WHEN label = qlabel
                             THEN {_dcg_case('rk')} ELSE 0 END)
                    AS BIGINT) AS dcg_nano,
               round(CAST(SUM(CASE WHEN label = qlabel
                                   THEN {_dcg_case('rk')} ELSE 0 END)
                          AS DOUBLE) / {_IDCG10_NANO}, 6) AS ndcg
        FROM ranked
        GROUP BY qid
    """,
    category=CAT,
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML4: NDCG@10 retrieval evaluation — for each of 5 query
    vectors, rank the corpus by exact integer dot product and score
    the ranking against same-label relevance with the standard
    log2-discounted cumulative gain. The metric that grades L9/X42
    style retrieval end to end.

    Exactness: the position discounts 1/log2(i+1) are PRE-ROUNDED
    nano-unit literals baked into both engines' queries, so no libm
    call happens at query time; DCG is an exact BIGINT and NDCG one
    final division. IDCG truncates at k=10 with all-relevant ideal —
    valid because every label has ≥ k corpus members at both test
    scales (50-ish per label; documented assumption).

    Scale: query vectors broadcast (5×64 longs); scoring is one
    corpus scan with map-side partial sums per (query, doc); the
    per-query window ranks |queries|×|corpus| rows — at 100 TB the
    ranking comes from the ANN path (X6/X17) instead, and this
    operator evaluates its output unchanged.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .llm import _vec_double

    e = load(spark, sf_dir, "embeddings")
    vec = e.select("vec_id", "label", quantize_micro(_vec_double()).alias("xq"))
    qv = vec.filter(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("xq").alias("qx"),
    )
    dot = F.aggregate(
        F.zip_with("xq", "qx", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda s, t: s + t,
    )
    scored = (
        vec.join(F.broadcast(qv), F.col("vec_id") != F.col("qid"))
        .select("qid", "qlabel", "vec_id", "label", dot.alias("dot"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    ranked = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _NDCG_K
    )
    gain = F.when(
        F.col("label") == F.col("qlabel"), F.expr(_dcg_case("rk"))
    ).otherwise(F.lit(0))
    rel = F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
    return ranked.groupBy(F.col("qid").cast("long").alias("query_id")).agg(
        F.sum(rel).cast("long").alias("n_relevant_at10"),
        F.sum(gain).cast("long").alias("dcg_nano"),
        F.round(
            F.sum(gain).cast("double") / float(_IDCG10_NANO), 6
        ).alias("ndcg"),
    )


@register(
    "q_auc_score",
    oracle="""
        WITH sc AS (
            SELECT doc_id,
                   CAST(lang = 'en' AS INTEGER) AS y,
                   n_chars * 1000 + doc_id % 1000 AS score
            FROM documents
        ), ranked AS (
            SELECT y,
                   rank() OVER (ORDER BY score ASC) AS rk_lo,
                   COUNT(*) OVER (PARTITION BY score) AS ties
            FROM sc
        )
        SELECT CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
               CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_neg,
               CAST(SUM(CASE WHEN y = 1
                             THEN 2 * rk_lo + ties - 1 ELSE 0 END)
                    AS BIGINT) AS rank_sum_x2,
               round((CAST(SUM(CASE WHEN y = 1
                                    THEN 2 * rk_lo + ties - 1
                                    ELSE 0 END) AS DOUBLE) / 2.0
                      - CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END)
                             AS DOUBLE)
                        * (SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) + 1)
                        / 2.0)
                     / (CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END)
                             AS DOUBLE)
                        * SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END)),
                     6) AS auc
        FROM ranked
    """,
    category=CAT,
)
def q_auc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML5: ROC AUC via the rank-sum (Mann–Whitney) identity —
    AUC = (R₁ − n₁(n₁+1)/2) / (n₁n₀) where R₁ is the positive
    class's tie-averaged rank sum. Scores a deterministic classifier
    (length-based score with a doc_id jitter term making most scores
    unique) against the lang=='en' label; the standard
    threshold-free eval for the quality models (q_quality_score_model,
    q_calibration_bins).

    Exactness: tie-averaged ranks are carried DOUBLED
    (2·rank_lo + ties − 1 — the same exact-long trick as ST2
    q_mannwhitney_u), so the rank sum is an exact BIGINT and AUC is
    one final rational expression of longs. Integer scores mean tie
    structure is engine-identical by construction.

    Scale: one global rank over the score column — the sort every
    AUC computation needs; at extreme scale the documented swap is
    binned AUC over an equi-depth histogram (trapezoidal on ~1e4
    bins), same downstream algebra.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    sc = d.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        (F.col("n_chars") * 1000 + F.col("doc_id") % 1000).alias("score"),
    )
    # collapse to distinct scores first (map-side combined), then one
    # dist_running pass gives every group its exclusive prefix count p:
    # rank_lo = p + 1, ties = group size — no global rank window, and
    # the expensive frame is |distinct scores|, not |rows|
    g = sc.groupBy("score").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("pc")
    )
    ranked = dist_running(
        g, [("score", "asc")], {"p": "c"}, inclusive=False
    )
    pos = F.sum("pc")
    neg = F.sum(F.col("c") - F.col("pc"))
    r2 = F.sum(F.col("pc") * (2 * (F.col("p") + 1) + F.col("c") - 1))
    auc = (
        r2.cast("double") / 2.0 - pos.cast("double") * (pos + 1) / 2.0
    ) / (pos.cast("double") * neg)
    return ranked.agg(
        pos.cast("long").alias("n_pos"),
        neg.cast("long").alias("n_neg"),
        r2.cast("long").alias("rank_sum_x2"),
        F.round(auc, 6).alias("auc"),
    )


@register(
    "q_pit_join",
    oracle="""
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   COUNT(*) AS n,
                   SUM(CAST(round(value * 100) AS BIGINT)) AS cents
            FROM events GROUP BY 1, 2
        ), snaps AS (
            SELECT user_id, day,
                   CAST(SUM(n) OVER w AS BIGINT) AS cum_events,
                   CAST(SUM(cents) OVER w AS BIGINT) AS cum_cents
            FROM daily
            WINDOW w AS (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), labels AS (
            SELECT event_id, user_id, date_trunc('day', ts) AS p_day
            FROM events WHERE event_type = 'purchase'
        ), joined AS (
            SELECT l.event_id, l.user_id,
                   s.day AS snap_day, s.cum_events, s.cum_cents,
                   row_number() OVER (PARTITION BY l.event_id
                                      ORDER BY s.day DESC) AS rn
            FROM labels l JOIN snaps s
              ON l.user_id = s.user_id AND s.day < l.p_day
        )
        SELECT event_id, user_id,
               strftime(snap_day, '%Y-%m-%d') AS snap_day,
               cum_events, cum_cents
        FROM joined WHERE rn = 1
        UNION ALL
        SELECT l.event_id, l.user_id, 'none', 0, 0
        FROM labels l
        WHERE NOT EXISTS (SELECT 1 FROM snaps s
                          WHERE s.user_id = l.user_id AND s.day < l.p_day)
    """,
    category=CAT,
)
def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML6: point-in-time (PIT) feature join — the leakage-safe
    feature-store lookup: each label row (purchases) joins the LATEST
    daily feature snapshot STRICTLY BEFORE its own day, never same-day
    or future state (the train-serve-skew bug this op's strictness
    prevents). Labels with no prior snapshot get the explicit cold-
    start row ('none', 0, 0) rather than silently dropping.

    Snapshots are cumulative per-user daily aggregates (exact cent
    longs); the as-of pick is a per-label MAX over qualifying
    snapshot days — J11's asof machinery specialized to the
    feature-store contract.

    Scale: daily collapses the fact to user×day grain first; the
    range join fans out label×priorDays within each user key (≤ the
    user's active-day count) and the arg-max collapses it back. At
    extreme history depth the documented swap is the sorted
    merge-asof (union label and snapshot streams, one last_value
    window — q_attribution_lasttouch's carried-row shape).
    """
    from pyspark.sql import functions as F  # noqa: F401

    e = load(spark, sf_dir, "events")
    return pit_join_core(e)


def pit_join_core(e: DataFrame) -> DataFrame:
    """The snapshot build + strict as-of pick over an events-shaped
    frame — factored out so the hypothesis property test can drive it
    with arbitrary event streams against a Python reference
    (tests/test_property_scalar.py proves strict before-ness)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    daily = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    snaps = daily.select(
        F.col("user_id").alias("s_user"),
        "day",
        F.sum("n").over(w).cast("long").alias("cum_events"),
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
    )
    labels = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.date_trunc("day", "ts").alias("p_day")
    )
    cand = labels.join(
        snaps,
        (F.col("user_id") == F.col("s_user")) & (F.col("day") < F.col("p_day")),
        "left",
    )
    pick = F.struct(
        F.col("day").alias("d"),
        F.col("cum_events").alias("e"),
        F.col("cum_cents").alias("c"),
    )
    best = F.max(pick)
    return cand.groupBy("event_id", "user_id").agg(
        F.coalesce(
            F.date_format(best.getField("d"), "yyyy-MM-dd"), F.lit("none")
        ).alias("snap_day"),
        F.coalesce(best.getField("e"), F.lit(0)).cast("long").alias("cum_events"),
        F.coalesce(best.getField("c"), F.lit(0)).cast("long").alias("cum_cents"),
    )


_NEG_K = 3
_N_ANCHORS = 50


@register(
    "q_negative_sampling",
    oracle=f"""
        WITH ev AS (
            SELECT vec_id, label,
                   generate_subscripts(embedding, 1) AS pos,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                        AS BIGINT) AS v
            FROM embeddings
        ), anchors AS (
            SELECT DISTINCT vec_id AS a_id, label AS a_label
            FROM embeddings WHERE vec_id < {_N_ANCHORS}
        ), dots AS (
            SELECT a.a_id, a.a_label, e.vec_id, e.label,
                   SUM(e.v * av.v) AS dot
            FROM anchors a
            JOIN ev av ON av.vec_id = a.a_id
            JOIN ev e ON e.pos = av.pos AND e.vec_id <> a.a_id
            GROUP BY a.a_id, a.a_label, e.vec_id, e.label
        ), positives AS (
            SELECT a_id, vec_id AS pos_id,
                   row_number() OVER (PARTITION BY a_id
                                      ORDER BY dot DESC, vec_id ASC) AS rn
            FROM dots WHERE label = a_label
            QUALIFY rn = 1
        ), negs AS (
            SELECT a.a_id, e2.vec_id AS neg_id,
                   row_number() OVER (
                       PARTITION BY a.a_id
                       ORDER BY CAST(('0x' || substr(md5(
                           CAST(a.a_id AS VARCHAR) || ':' ||
                           CAST(e2.vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
                           ASC, e2.vec_id ASC) AS rn
            FROM anchors a
            JOIN (SELECT DISTINCT vec_id, label FROM embeddings) e2
              ON e2.label <> a.a_label
        )
        SELECT p.a_id AS anchor_id, p.pos_id,
               MAX(CASE WHEN n.rn = 1 THEN n.neg_id END) AS neg1,
               MAX(CASE WHEN n.rn = 2 THEN n.neg_id END) AS neg2,
               MAX(CASE WHEN n.rn = 3 THEN n.neg_id END) AS neg3
        FROM positives p JOIN negs n ON p.a_id = n.a_id
        WHERE n.rn <= {_NEG_K}
        GROUP BY p.a_id, p.pos_id
    """,
    category=CAT,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML7: contrastive triplet mining — the input-prep step for
    embedding-model training: for each of 50 anchors, the HARDEST
    positive (highest exact-integer dot product among same-label
    vectors) and 3 pseudo-random cross-label negatives drawn by the
    portable h60 hash of (anchor, candidate) — deterministic
    "random" negatives both engines replay exactly (the repo-wide
    substitute for an RNG across the oracle boundary).

    Scale: positives ride the broadcast-anchor dot-product scan
    (L9's shape); negative sampling is a per-anchor hash rank over
    the label-complement — at 100 TB you'd pre-bucket candidates by
    hash range so each anchor touches one bucket, the standard
    sharded negative pool. Output is one row per anchor (wide
    triplet form, the trainer's input layout).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .llm import _vec_double as vec_double

    e = load(spark, sf_dir, "embeddings")
    vec = e.select(
        "vec_id", "label", quantize_micro(vec_double()).alias("xq")
    )
    anchors = vec.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("xq").alias("ax"),
    )
    dot = F.aggregate(
        F.zip_with("xq", "ax", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda s, t: s + t,
    )
    dots = (
        vec.join(F.broadcast(anchors), F.col("vec_id") != F.col("a_id"))
        .select("a_id", "a_label", "vec_id", "label", dot.alias("dot"))
    )
    w_pos = Window.partitionBy("a_id").orderBy(
        F.col("dot").desc(), F.col("vec_id").asc()
    )
    positives = (
        dots.filter(F.col("label") == F.col("a_label"))
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select("a_id", F.col("vec_id").alias("pos_id"))
    )
    hkey = F.expr(
        "cast(conv(substring(md5(concat(cast(a_id as string), ':', "
        "cast(vec_id as string))), 1, 15), 16, 10) as long)"
    )
    w_neg = Window.partitionBy("a_id").orderBy(
        hkey.asc(), F.col("vec_id").asc()
    )
    negs = (
        vec.select("vec_id", "label")
        .join(
            F.broadcast(anchors.select("a_id", "a_label")),
            F.col("label") != F.col("a_label"),
        )
        .withColumn("rn", F.row_number().over(w_neg))
        .filter(F.col("rn") <= _NEG_K)
    )
    wide = negs.groupBy("a_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("vec_id"))).alias("neg1"),
        F.max(F.when(F.col("rn") == 2, F.col("vec_id"))).alias("neg2"),
        F.max(F.when(F.col("rn") == 3, F.col("vec_id"))).alias("neg3"),
    )
    return positives.join(wide, "a_id").select(
        F.col("a_id").alias("anchor_id"), "pos_id", "neg1", "neg2", "neg3"
    )


# --- round-7 additions: threshold-sweep eval + target encoding ---------------

PR_POINTS = 20  # operating points at every 5% of the ranked corpus


@register(
    "q_pr_curve",
    oracle=f"""
        WITH sc AS (
            SELECT CAST(lang = 'en' AS INTEGER) AS y,
                   n_chars * 1000 + doc_id % 1000 AS score
            FROM documents
        ), g AS (
            SELECT score, COUNT(*) AS c, SUM(y) AS pc FROM sc GROUP BY score
        ), run AS (
            SELECT score, c,
                   SUM(c)  OVER (ORDER BY score DESC) AS cum_n,
                   SUM(pc) OVER (ORDER BY score DESC) AS cum_pos
            FROM g
        ), tot AS (
            SELECT COUNT(*) AS n, SUM(y) AS np FROM sc
        )
        SELECT CAST(p * (100 / {PR_POINTS}) AS BIGINT) AS p_pct,
               score AS threshold_score,
               CAST(cum_pos AS BIGINT) AS tp,
               CAST(cum_n - cum_pos AS BIGINT) AS fp,
               CAST(np - cum_pos AS BIGINT) AS fn,
               round(CAST(cum_pos AS DOUBLE) / cum_n, 6) AS precision,
               round(CAST(cum_pos AS DOUBLE) / np, 6) AS recall,
               CASE WHEN cum_pos = 0 THEN 0.0
                    ELSE round(2.0 * (CAST(cum_pos AS DOUBLE) / cum_n)
                                   * (CAST(cum_pos AS DOUBLE) / np)
                               / ((CAST(cum_pos AS DOUBLE) / cum_n)
                                  + (CAST(cum_pos AS DOUBLE) / np)), 6)
               END AS f1
        FROM run, tot,
             (SELECT unnest(generate_series(1, {PR_POINTS})) AS p)
        WHERE (cum_n - c) < (p * n + {PR_POINTS} - 1) // {PR_POINTS}
          AND (p * n + {PR_POINTS} - 1) // {PR_POINTS} <= cum_n
    """,
    category=CAT,
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML8: precision/recall curve at PR_POINTS (20) rank-budget
    operating points — "classify the top p% of the corpus positive" for
    p = 5%..100%, the threshold-sweep companion to ML5's threshold-free
    AUC (same deterministic length-based classifier, same lang=='en'
    label). Rank budgets, not score thresholds, because that is how
    curation actually consumes a ranking ("keep the best N tokens"),
    and because integer prefix boundaries are bit-portable where score
    quantiles are interpolation-dependent.

    Each operating point is the unique distinct-score prefix whose
    cumulative count first crosses ceil(p·N/points) — score groups are
    atomic (a threshold cannot split ties), so precision/recall come
    from exact BIGINT cumulative (count, positive) pairs; the
    divisions are the only float ops.

    Scale: distinct-score pre-aggregation (map-side combined), ONE
    dist_running pass over |distinct scores| rows (never a global
    per-row rank), then a PR_POINTS-element boundary explode on the
    already-tiny frame. Same skeleton as ML5 — at extreme scale both
    swap the distinct-score frame for an equi-depth histogram.
    """
    d = load(spark, sf_dir, "documents")
    sc = d.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        (F.col("n_chars") * 1000 + F.col("doc_id") % 1000).alias("score"),
    )
    g = sc.groupBy("score").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("pc")
    )
    run = dist_running(
        g, [("score", "desc")], {"cum_n": "c", "cum_pos": "pc"}, inclusive=True
    )
    tot = g.agg(
        F.sum("c").alias("n"), F.sum("pc").alias("np")
    )
    b = ((F.col("p") * F.col("n") + (PR_POINTS - 1)) / PR_POINTS).cast("long")
    prec = F.col("cum_pos").cast("double") / F.col("cum_n")
    rec = F.col("cum_pos").cast("double") / F.col("np")
    return (
        run.crossJoin(F.broadcast(tot))
        .withColumn("p", F.explode(F.sequence(F.lit(1), F.lit(PR_POINTS))))
        .filter(((F.col("cum_n") - F.col("c")) < b) & (b <= F.col("cum_n")))
        .select(
            (F.col("p") * (100 // PR_POINTS)).cast("long").alias("p_pct"),
            F.col("score").alias("threshold_score"),
            F.col("cum_pos").cast("long").alias("tp"),
            (F.col("cum_n") - F.col("cum_pos")).cast("long").alias("fp"),
            (F.col("np") - F.col("cum_pos")).cast("long").alias("fn"),
            F.round(prec, 6).alias("precision"),
            F.round(rec, 6).alias("recall"),
            F.when(F.col("cum_pos") == 0, F.lit(0.0))
            .otherwise(F.round(2.0 * prec * rec / (prec + rec), 6))
            .alias("f1"),
        )
    )


TE_SMOOTH = 10  # pseudo-observations pulled toward the global mean


@register(
    "q_target_encoding",
    oracle=f"""
        WITH joined AS (
            SELECT p_brand,
                   CAST(l_returnflag = 'R' AS INTEGER) AS y
            FROM lineitem JOIN part ON l_partkey = p_partkey
        ), per AS (
            SELECT p_brand, COUNT(*) AS n, SUM(y) AS pos
            FROM joined GROUP BY p_brand
        ), tot AS (
            SELECT SUM(n) AS tn, SUM(pos) AS tpos FROM per
        )
        SELECT p_brand,
               CAST(n AS BIGINT) AS n,
               CAST(pos AS BIGINT) AS n_returned,
               round((CAST(pos AS DOUBLE)
                      + {TE_SMOOTH} * (CAST(tpos AS DOUBLE) / tn))
                     / (n + {TE_SMOOTH}), 6) AS encoded
        FROM per, tot
    """,
    category=CAT,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML9: smoothed target (mean) encoding — each category's feature
    value is its target rate shrunk toward the global rate with
    TE_SMOOTH pseudo-observations: (pos + m·ȳ)/(n + m) — the standard
    high-cardinality categorical encoder for the linear/GBDT models
    the mlfit family trains (micci-barreca smoothing). Demonstrated
    on p_brand vs the lineitem return flag.

    Exactness: per-category (n, pos) and the global (tn, tpos) are
    exact BIGINTs; the shrinkage expression is the only float math and
    is spelled identically in both engines, then rounded to 6.

    Scale: broadcast part-side join (brand is a part attribute), one
    map-combinable aggregation to |categories| rows, one 1-row global
    total broadcast back — no second pass over the fact table. A
    leakage-safe train-split variant conditions the same sums on the
    q_train_test_split hash — identical plan, filtered input.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", (F.col("l_returnflag") == "R").cast("int").alias("y")
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    tot = per.agg(F.sum("n").alias("tn"), F.sum("pos").alias("tpos"))
    gmean = F.col("tpos").cast("double") / F.col("tn")
    return per.crossJoin(F.broadcast(tot)).select(
        "p_brand",
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("n_returned"),
        F.round(
            (F.col("pos").cast("double") + TE_SMOOTH * gmean)
            / (F.col("n") + TE_SMOOTH),
            6,
        ).alias("encoded"),
    )
