"""Round-13 optimization gates: internals changed for performance must
keep results identical (pinned against the retained r12 formulations,
the simhash-fold discipline) and hold their claimed plan shapes."""

import os
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.registry import REGISTRY
from data_pipeline_standalone_scripts_spark.tables import load

engine.load_all_operators()


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _power_iteration_r12(spark, sf_dir):
    """The r12 Column formulation of q_power_iteration_pc, verbatim
    (broadcast matvec per step, whole-frame norm window) — the value
    pin for the fused single-partition kernel."""
    from data_pipeline_standalone_scripts_spark.operators.common import (
        half_away_long,
        quantize_micro,
    )
    from data_pipeline_standalone_scripts_spark.operators.llm import (
        _vec_double,
    )

    emb = load(spark, sf_dir, "embeddings")
    vec = emb.select("vec_id", quantize_micro(_vec_double()).alias("xq"))

    def partial_s(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["x"].tolist(), dtype=np.int64)
            G = X.T @ X
            d = G.shape[0]
            ij = np.indices((d, d))
            yield pd.DataFrame(
                {
                    "i": (ij[0].ravel() + 1).astype("int32"),
                    "j": (ij[1].ravel() + 1).astype("int32"),
                    "p": G.ravel(),
                }
            )

    smat = (
        vec.select(F.col("xq").alias("x"))
        .mapInPandas(partial_s, schema="i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s_ij"))
    )
    e = vec.select("vec_id", F.posexplode("xq").alias("pos0", "v")).select(
        (F.col("pos0") + 1).alias("pos"), "v"
    )
    stats = e.groupBy("pos").agg(
        F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n")
    )
    stats = stats.withColumn(
        "mu", half_away_long(F.col("sv").cast("double") / F.col("n"))
    )
    gi = stats.select(
        F.col("pos").alias("i"),
        F.col("sv").alias("s_i"),
        F.col("mu").alias("mu_i"),
        "n",
    )
    gj = stats.select(
        F.col("pos").alias("j"),
        F.col("sv").alias("s_j"),
        F.col("mu").alias("mu_j"),
    )
    centered_ij = (
        F.col("s_ij")
        - F.col("mu_j") * F.col("s_i")
        - F.col("mu_i") * F.col("s_j")
        + F.col("n") * F.col("mu_i") * F.col("mu_j")
    )
    g = (
        smat.join(F.broadcast(gi), "i")
        .join(F.broadcast(gj), "j")
        .select(
            "i",
            "j",
            half_away_long(centered_ij.cast("double") / 100000).alias("gu"),
        )
    )
    v_cur = stats.select(
        "pos",
        F.when(F.col("pos") == 1, F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("vq"),
    )
    w_all = Window.partitionBy()
    for _ in range(2):
        w = (
            g.join(F.broadcast(v_cur), g.j == v_cur.pos)
            .groupBy("i")
            .agg(F.sum(F.col("gu") * F.col("vq")).alias("w"))
            .select(F.col("i").alias("pos"), "w")
        )
        u = half_away_long(F.col("w").cast("double") / 10000000000)
        wn = w.withColumn(
            "nrm", F.sqrt(F.sum(u * u).over(w_all).cast("double"))
        )
        v_cur = wn.select(
            "pos",
            half_away_long(
                F.col("w").cast("double") / 10000000000 / F.col("nrm") * 1000000
            ).alias("vq"),
        )
    return v_cur.select(
        F.col("pos").cast("long").alias("pos"),
        (F.col("vq").cast("double") / 1000000.0).alias("loading"),
    )


def _lm_score_r12(spark, sf_dir):
    """The r12 three-broadcast formulation of q_ngram_lm_score,
    verbatim — the value pin for the windowed (g, m) model table."""
    from data_pipeline_standalone_scripts_spark.operators.textpipe import (
        BIGRAM_ADD_K,
        HIGH_PPL_NLL,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n = F.size("t")
    bg = (
        d.filter(n >= 2)
        .select(
            "doc_id",
            n.alias("n"),
            F.explode(F.sequence(F.lit(1), n - 1)).alias("p"),
            F.col("t"),
        )
        .select(
            "doc_id",
            "n",
            F.element_at("t", F.col("p")).alias("w1"),
            F.concat_ws(
                " ",
                F.element_at("t", F.col("p")),
                F.element_at("t", F.col("p") + 1),
            ).alias("g"),
        )
    )
    big = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        big.select(F.substring_index("g", " ", 1).alias("w1"), "c2")
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    v = uni.agg(F.count(F.lit(1)).alias("vv"))
    nll = -F.log(
        (F.col("c2") + float(BIGRAM_ADD_K)) / (F.col("c1") + F.col("vv"))
    )
    micros = nll * 1_000_000
    term = (
        micros + F.when(micros >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))
    ).cast("long")
    avg = F.col("msum").cast("double") / 1_000_000.0 / (F.col("n") - 1)
    nb = F.col("n") - 1
    avg6 = F.expr(
        "CAST((msum * 2 + (n - 1)) DIV ((n - 1) * 2) AS DOUBLE) / 1000000.0"
    )
    return (
        bg.join(F.broadcast(big), "g")
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", "n", term.alias("m"))
        .groupBy("doc_id", "n")
        .agg(F.sum("m").alias("msum"))
        .select(
            "doc_id",
            nb.cast("long").alias("n_bigrams"),
            avg6.alias("avg_nll"),
            (avg > HIGH_PPL_NLL).alias("high_perplexity"),
        )
    )


def _frames_equal(a, b) -> bool:
    cols = list(a.columns)
    a = a.sort_values(cols).reset_index(drop=True)
    b = b.sort_values(cols).reset_index(drop=True)[cols]
    return a.equals(b)


def test_power_iteration_fused_matches_r12_formulation(spark, sf_med):
    """The fused single-partition solver must be BIT-identical to the
    r12 broadcast-matvec Column formulation (same integers at every
    intermediate, same doubles out)."""
    new = REGISTRY["q_power_iteration_pc"].fn(spark, sf_med).toPandas()
    old = _power_iteration_r12(spark, sf_med).toPandas()
    assert _frames_equal(new, old)


def test_power_iteration_plan_is_single_pass(spark, sf_med):
    """One corpus scan, one partial-sum exchange, two MapInPandas
    (corpus kernel + d²-row solver) — the r12 shape duplicated the
    whole Gram subtree across iterations (34 Exchanges, 8 scans)."""
    plan = plan_of(REGISTRY["q_power_iteration_pc"].fn(spark, sf_med))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, plan[:1200]
    assert tree.count("Exchange") == 1, plan[:1200]
    assert tree.count("MapInPandas") == 2, plan[:1200]
    assert "BroadcastExchange" not in tree
    assert "Window" not in tree


def test_power_iteration_empty_table_degrades(spark, tmp_path):
    """Zero embeddings rows → empty (pos, loading) frame, not a
    kernel error (the r12 behavior, preserved by the early return)."""
    src = load(spark, "/root/testdata/sf0.001", "embeddings")
    empty_dir = str(tmp_path / "empty_sf")
    src.limit(0).write.parquet(f"{empty_dir}/embeddings.parquet")
    out = REGISTRY["q_power_iteration_pc"].fn(spark, empty_dir).toPandas()
    assert len(out) == 0
    assert list(out.columns) == ["pos", "loading"]


def test_power_iteration_identical_vectors_zero_loadings(spark, tmp_path):
    """Identical embeddings centre to a zero Gram matrix, so the power
    step's norm is 0: loadings come out 0.0, never INT64_MIN from a
    NaN cast."""
    src = load(spark, "/root/testdata/sf0.001", "embeddings")
    same_dir = str(tmp_path / "same_sf")
    src.limit(20).withColumn(
        "embedding", F.lit(src.first()["embedding"])
    ).write.parquet(f"{same_dir}/embeddings.parquet")
    out = REGISTRY["q_power_iteration_pc"].fn(spark, same_dir).toPandas()
    assert len(out) == 64
    assert np.isfinite(out["loading"]).all()
    assert (out["loading"] == 0.0).all()


def _winnow_r12(spark, sf_dir):
    """The r12 explode + window + distinct formulation of
    winnow_fingerprints, verbatim — the value pin for the mapInArrow
    kernel."""
    from data_pipeline_standalone_scripts_spark.operators.textpipe import (
        K_GRAM,
        WINNOW_W,
    )

    d = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") >= K_GRAM)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - (K_GRAM - 1))
        ).alias("pos"),
        F.col("text"),
    ).select(
        "doc_id",
        "pos",
        F.expr(
            f"cast(conv(hex(cast(substring(text, pos, {K_GRAM}) as binary)),"
            " 16, 10) as long)"
        ).alias("gh"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), Window.currentRow)
    )
    return (
        grams.withColumn("win_min", F.min("gh").over(w))
        .filter(F.col("gh") == F.col("win_min"))
        .select("doc_id", F.col("gh").alias("fingerprint"))
        .distinct()
    )


def test_winnow_kernel_matches_r12_formulation(spark, sf_med):
    """The mapInArrow winnow kernel must emit EXACTLY the fingerprint
    set of the explode + trailing-min window + distinct formulation
    (same injective gram integers, same window-min survivors)."""
    new = REGISTRY["q_fingerprint_winnow"].fn(spark, sf_med).toPandas()
    old = _winnow_r12(spark, sf_med).toPandas()
    assert _frames_equal(new, old)


def test_lm_score_model_matches_r12_formulation(spark, sf_med):
    """The windowed (g, m) model table must reproduce the r12
    three-broadcast formulation exactly: same (c2, c1, V) integers per
    gram ⇒ identical micro-nat terms ⇒ identical per-doc sums."""
    new = REGISTRY["q_ngram_lm_score"].fn(spark, sf_med).toPandas()
    old = _lm_score_r12(spark, sf_med).toPandas()
    assert _frames_equal(new, old)
