"""UDF / UDAF / UDTF surface D1–D5 (SURVEY.md §2.11).

Reference capability: the opaque per-record transforms of
datapipe/denoising/* (wavelet subprocess wraps, FFT low-pass) — the
one place the reference's logic genuinely can't be a built-in
expression. Here that role is played by Python/pandas UDFs, kept
deliberately to five operators: **UDFs are the slow path** — every
other operator in this engine stays inside whole-stage codegen.

Scale notes: D2–D5 are Arrow-batched (pandas UDFs / applyInPandas /
UDTF with arrow enabled): the JVM ships ColumnarBatches to forked
Python workers, ~10-100× the throughput of D1's pickled row-at-a-time
UDF (kept as the contrast case). applyInPandas groups must fit in
worker memory — partition keys here (user_id) bound group size.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..registry import register
from ..tables import load

CAT = "udfs"


@register(
    "q_python_udf",
    oracle="""
        SELECT doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS diversity
        FROM documents
    """,
    category=CAT,
)
def q_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: row-at-a-time Python UDF — token diversity (distinct/total).
    The formula is deliberately replicable in SQL so the oracle can
    check the UDF plumbing, not the math."""

    @F.udf(returnType=DoubleType())
    def diversity(text: str) -> float:
        toks = text.split(" ")
        return float(len(set(toks))) / float(len(toks))

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", diversity("text").alias("diversity"))


@register(
    "q_pandas_udf_scalar",
    oracle="""
        SELECT event_id,
               ROUND(1.0 / (1.0 + exp(-(value - 100.0) / 25.0)), 6) AS sigmoid_value
        FROM events
    """,
    category=CAT,
)
def q_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: vectorized scalar pandas UDF — sigmoid scoring. One Arrow
    batch in, one numpy-vectorized batch out; no per-row Python."""
    import numpy as np

    @F.pandas_udf("double")
    def sigmoid(v: pd.Series) -> pd.Series:
        return 1.0 / (1.0 + np.exp(-(v - 100.0) / 25.0))

    e = load(spark, sf_dir, "events")
    return e.select("event_id", F.round(sigmoid("value"), 6).alias("sigmoid_value"))


@register(
    "q_pandas_udaf",
    oracle="""
        WITH q AS (
            SELECT event_type,
                   quantile_cont(value, 0.10) AS lo,
                   quantile_cont(value, 0.90) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               ROUND(AVG(value) FILTER (WHERE value >= lo AND value <= hi), 6)
                   AS trimmed_mean
        FROM events e JOIN q ON e.event_type = q.event_type
        GROUP BY e.event_type
    """,
    category=CAT,
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: grouped-aggregate pandas UDF — 10/90-trimmed mean per event
    type. pandas' linear-interpolation quantile matches DuckDB's
    quantile_cont definition exactly, so the trim boundaries agree."""

    @F.pandas_udf("double")
    def trimmed_mean(v: pd.Series) -> float:
        lo, hi = v.quantile(0.10), v.quantile(0.90)
        return float(v[(v >= lo) & (v <= hi)].mean())

    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(trimmed_mean("value"), 6).alias("trimmed_mean")
    )


@register(
    "q_apply_in_pandas",
    oracle="""
        SELECT event_id,
               CASE WHEN cnt > 1 AND sd > 0
                    THEN ROUND((value - mu) / sd, 6) END AS zscore
        FROM (
            SELECT event_id, value,
                   AVG(value) OVER (PARTITION BY user_id) AS mu,
                   stddev_samp(value) OVER (PARTITION BY user_id) AS sd,
                   COUNT(*) OVER (PARTITION BY user_id) AS cnt
            FROM events
        )
    """,
    category=CAT,
)
def q_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: grouped-map applyInPandas — within-user z-score. Each user
    group arrives as one pandas DataFrame (ddof=1 std matching
    stddev_samp); degenerate groups (n≤1 or zero spread) emit null,
    aligned with SQL's NULL semantics rather than pandas' NaN/inf."""

    def zscore(g: pd.DataFrame) -> pd.DataFrame:
        v = g["value"]
        if len(v) > 1 and v.std(ddof=1) > 0:
            z = ((v - v.mean()) / v.std(ddof=1)).round(6)
        else:
            z = pd.Series([None] * len(v), index=v.index, dtype="float64")
        return pd.DataFrame({"event_id": g["event_id"], "zscore": z})

    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").applyInPandas(zscore, "event_id long, zscore double")


@register(
    "q_python_udtf",
    oracle="""
        SELECT doc_id, pos, token
        FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS token,
                   unnest(range(len(string_split(text, ' ')))) AS pos
            FROM documents
        )
        WHERE pos < 5
    """,
    category=CAT,
)
def q_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: Python UDTF (Spark 4) — explode each document into
    (pos, token) rows, keep the first 5 positions. The UDTF is the
    custom-operator escape hatch for one-to-many record expansion the
    built-ins can't express (here they could — F8 — which is exactly
    what makes it oracle-checkable)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class Tokenize:
        def eval(self, text: str):
            for pos, token in enumerate(text.split(" ")):
                if pos < 5:
                    yield pos, token

    d = load(spark, sf_dir, "documents")
    spark.udtf.register("tokenize_first5", Tokenize)
    return spark.sql(
        """
        SELECT doc_id, t.pos AS pos, t.token AS token
        FROM {d}, LATERAL tokenize_first5(text) t
        """,
        d=d,
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


@register(
    "q_map_in_arrow",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(round(value * value * 1000000) AS BIGINT)) AS DOUBLE)
                   / 1000000.0 AS sum_sq
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type
    """,
    category=CAT,
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: mapInArrow — the zero-copy Arrow-native worker path (no
    pandas conversion at all; pyarrow RecordBatch in, RecordBatch
    out). One step faster than mapInPandas when the kernel is already
    columnar: here the per-batch kernel squares `value` with pyarrow
    compute, and the aggregate of the squared column is value-checked
    against the oracle.

    Scale: like every Arrow-batch op — stateless per batch,
    embarrassingly parallel, batch size via
    spark.sql.execution.arrow.maxRecordsPerBatch. Use THIS (or
    mapInPandas) for custom kernels; never row-at-a-time UDFs in a
    hot path (SURVEY §3.2).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def square_batches(batches):
        for batch in batches:
            sq = pc.multiply(batch.column("value"), batch.column("value"))
            yield pa.RecordBatch.from_arrays(
                [batch.column("event_type"), sq], names=["event_type", "value_sq"]
            )

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    squared = ev.select("event_type", "value").mapInArrow(
        square_batches, schema="event_type string, value_sq double"
    )
    from .common import dsum

    return squared.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value_sq", "sum_sq"),
    )


@register(
    "q_cogroup_pandas",
    oracle="""
        WITH c AS (
            SELECT c_nationkey AS k, COUNT(*) AS n_cust,
                   CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                       AS cust_cents
            FROM customer GROUP BY 1
        ), s AS (
            SELECT s_nationkey AS k, COUNT(*) AS n_supp,
                   CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                       AS supp_cents
            FROM supplier GROUP BY 1
        )
        SELECT COALESCE(c.k, s.k) AS nationkey,
               CAST(COALESCE(n_cust, 0) AS BIGINT) AS n_cust,
               CAST(COALESCE(cust_cents, 0) AS BIGINT) AS cust_cents,
               CAST(COALESCE(n_supp, 0) AS BIGINT) AS n_supp,
               CAST(COALESCE(supp_cents, 0) AS BIGINT) AS supp_cents
        FROM c FULL OUTER JOIN s ON c.k = s.k
    """,
    category=CAT,
)
def q_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: cogrouped-map applyInPandas — the two-sided grouped Python
    surface (`groupBy(k).cogroup(other.groupBy(k)).applyInPandas`):
    for each nation key, BOTH tables' groups arrive as two pandas
    frames in one function call. Here each call emits the per-nation
    reconciliation row (counts + exact cent sums per side — one side
    possibly empty, the cogroup analog of a full outer join); the
    oracle is that outer join of two aggregates, so the cogroup
    pairing and empty-side semantics are value-checked.

    Scale: both sides shuffle once on the key, groups pair
    executor-side, each call sees one key's rows (Arrow-batched) —
    the escape hatch for per-key logic that needs BOTH sides in
    one process (custom reconciliation, per-key model scoring
    against reference data). Keep per-key group sizes bounded, same
    rule as D4.
    """
    import pandas as pd

    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k"),
        F.round(F.col("s_acctbal") * 100).cast("long").alias("cents"),
    )

    def reconcile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        key = left["k"].iloc[0] if len(left) else right["k"].iloc[0]
        return pd.DataFrame(
            {
                "nationkey": [int(key)],
                "n_cust": [len(left)],
                "cust_cents": [int(left["cents"].sum()) if len(left) else 0],
                "n_supp": [len(right)],
                "supp_cents": [int(right["cents"].sum()) if len(right) else 0],
            }
        )

    return (
        c.groupBy("k")
        .cogroup(s.groupBy("k"))
        .applyInPandas(
            reconcile,
            "nationkey long, n_cust long, cust_cents long, "
            "n_supp long, supp_cents long",
        )
    )
