"""Direct Spark-first analogs of the reference's science-pipeline
capabilities (SURVEY.md §1.1/§2.12 [UNVERIFIED-PK]):

- ``q_tailcut_clean``   ← datapipe/denoising/tailcut.py (two-threshold
  image cleaning with neighbor rescue)
- ``q_array_moments``   ← datapipe/image/hillas_parameters.py (weighted
  second/third moments of the signal)
- ``q_param_sweep``     ← datapipe/optimization/bruteforce.py (grid
  search over cleaning thresholds, pick best-scoring configs)
- ``q_fft_lowpass``     ← datapipe/denoising/fft.py (spectral low-pass;
  the designated opaque numpy kernel on the pandas-UDF path)
- ``q_evolutionary_sweep`` ← optimization/differential_evolution.py +
  saes.py (iterative (μ+λ) evolution, driver-side generation loop)
- ``q_haar_denoise``    ← datapipe/denoising/wavelets_mrfilter.py /
  wavelets_mrtransform.py (multi-scale decompose → threshold →
  reconstruct, without the reference's per-image subprocess)

The reference runs these per-image in a Python for-loop; here the
per-record loop is a partitioned scan, the per-record transform is a
codegen'd expression over the array column (embeddings stand in for
pixel arrays — same shape of computation), and the sweep's
"for config in grid" becomes a broadcast crossJoin. Only the FFT and
the wavelet — genuinely inexpressible in Spark SQL — leave the JVM.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import davg, h60, half_away_long, o_davg, o_h60
from .llm import _vec_double
from .raster2d import ATROUS_KSIGMA_K

CAT = "reference_analogs"

TAIL_HI = 0.15
TAIL_LO = 0.05


@register(
    "q_tailcut_clean",
    oracle=f"""
        WITH comps AS (
            SELECT vec_id, label,
                   unnest(CAST(embedding AS DOUBLE[])) AS v,
                   unnest(range(len(embedding))) AS pos
            FROM embeddings
        ), flagged AS (
            SELECT vec_id, label, pos, v,
                   (v >= {TAIL_HI}) AS core,
                   (v >= {TAIL_LO}) AS boundary,
                   (lag(v)  OVER w >= {TAIL_HI}) AS prev_core,
                   (lead(v) OVER w >= {TAIL_HI}) AS next_core
            FROM comps
            WINDOW w AS (PARTITION BY vec_id ORDER BY pos)
        ), kept AS (
            SELECT vec_id, label, v
            FROM flagged
            WHERE core OR (boundary AND (coalesce(prev_core, FALSE)
                                         OR coalesce(next_core, FALSE)))
        )
        SELECT vec_id, label,
               COUNT(*) AS n_kept,
               ROUND(SUM(v), 6) AS kept_signal
        FROM kept
        GROUP BY vec_id, label
        HAVING COUNT(*) >= 3
    """,
    category=CAT,
)
def q_tailcut_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tailcut cleaning (reference: datapipe/denoising/tailcut.py
    [UNVERIFIED-PK]): keep a component if it passes the core threshold,
    or passes the boundary threshold AND touches a core neighbor —
    then report per-record surviving-component count and signal,
    dropping records with fewer than 3 survivors.

    The 2-D pixel neighborhood becomes a 1-D lag/lead neighborhood
    over array positions (embeddings are the stand-in payload); the
    semantics — two thresholds + neighbor rescue — are the reference's.

    Scale: posexplode ×64, window partitioned by vec_id (bounded
    groups), one aggregation. Linear; no skew (fixed-width arrays).
    """
    e = load(spark, sf_dir, "embeddings")
    comps = e.select("vec_id", "label", F.posexplode(_vec_double()).alias("pos", "v"))
    w = Window.partitionBy("vec_id").orderBy("pos")
    flagged = comps.select(
        "vec_id",
        "label",
        "v",
        (F.col("v") >= TAIL_HI).alias("core"),
        (F.col("v") >= TAIL_LO).alias("boundary"),
        F.coalesce(F.lag("v").over(w) >= TAIL_HI, F.lit(False)).alias("prev_core"),
        F.coalesce(F.lead("v").over(w) >= TAIL_HI, F.lit(False)).alias("next_core"),
    )
    kept = flagged.filter(
        F.col("core") | (F.col("boundary") & (F.col("prev_core") | F.col("next_core")))
    )
    return (
        kept.groupBy("vec_id", "label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.sum("v"), 6).alias("kept_signal"),
        )
        .filter(F.col("n_kept") >= 3)
    )


@register(
    "q_array_moments",
    oracle="""
        WITH sums AS (
            SELECT vec_id, label,
                   len(embedding) AS n,
                   list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x)) AS s1,
                   list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS s2,
                   list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> x * x * x)) AS s3
            FROM embeddings
        )
        SELECT vec_id, label,
               ROUND(s1 / n, 6) AS mean_v,
               ROUND(s2 / n - (s1 / n) * (s1 / n), 6) AS var_v,
               ROUND(s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n)
                     * (s1 / n), 6) AS third_central
        FROM sums
    """,
    category=CAT,
)
def q_array_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment features per record (reference: hillas_parameters.py's
    weighted image moments [UNVERIFIED-PK]): mean, variance, and third
    central moment of the payload array, from one pass of power sums
    (s1, s2, s3) via the ``aggregate`` higher-order fold.

    Both engines fold the 64 elements left-to-right sequentially, so
    the doubles agree bit-for-bit before the final round(6) (the same
    argument that makes L9's cosine portable).

    Scale: narrow scan, zero shuffle — the classic featurization pass.
    """
    e = load(spark, sf_dir, "embeddings")
    v = _vec_double()

    def power_sum(p: int):
        return F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + (x if p == 1 else x * x if p == 2 else x * x * x)
        )

    n = F.size("embedding").cast("double")
    s1, s2, s3 = power_sum(1), power_sum(2), power_sum(3)
    mean = s1 / n
    return e.select(
        "vec_id",
        "label",
        F.round(mean, 6).alias("mean_v"),
        F.round(s2 / n - mean * mean, 6).alias("var_v"),
        F.round(s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean, 6).alias(
            "third_central"
        ),
    )


ISO_LO = 0.05  # island membership threshold (same boundary cut as tailcut)


@register(
    "q_connected_clean",
    oracle=f"""
        WITH comps AS (
            SELECT vec_id, label,
                   unnest(CAST(embedding AS DOUBLE[])) AS v,
                   unnest(range(len(embedding))) AS pos
            FROM embeddings
        ), above AS (
            SELECT vec_id, label, pos, v,
                   pos - row_number() OVER (PARTITION BY vec_id ORDER BY pos) AS grp
            FROM comps
            WHERE v >= {ISO_LO}
        ), islands AS (
            SELECT vec_id, label, grp,
                   CAST(COUNT(*) AS BIGINT) AS island_size,
                   SUM(CAST(round(v * 1000000) AS BIGINT)) AS signal_micro,
                   MIN(pos) AS start_pos
            FROM above
            GROUP BY vec_id, label, grp
        ), ranked AS (
            SELECT *,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY signal_micro DESC, start_pos ASC) AS rk
            FROM islands
        )
        SELECT vec_id, label,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(CASE WHEN island_size = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_isolated,
               MAX(CASE WHEN rk = 1 THEN island_size END) AS kept_size,
               CAST(MAX(CASE WHEN rk = 1 THEN signal_micro END) AS DOUBLE)
                   / 1000000.0 AS kept_signal
        FROM ranked
        GROUP BY vec_id, label
    """,
    category=CAT,
)
def q_connected_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component cleaning (reference:
    datapipe/image/kill_isolated_pixels.py [UNVERIFIED-PK]): threshold
    the payload, label connected runs (1-D islands via gaps-and-islands:
    ``pos - row_number`` is constant within a run), keep only the
    island with the largest total signal, and report how many islands —
    and how many single-pixel "isolated" ones — were discarded.

    The 2-D pixel clustering (scipy.ndimage.label in the reference)
    becomes 1-D run labeling over array positions, the same reduction
    the tailcut analog uses for its neighborhood. Ranking islands on
    the exact scaled-long signal (micro-units, see common.dsum) keeps
    the winner deterministic across engines — a raw double sum could
    flip rank on ~1e-16 merge drift.

    Scale: posexplode ×64, two window passes partitioned by vec_id
    (bounded 64-element groups), two aggregations — linear, no skew,
    no driver loop. At 100 TB this is one shuffle on vec_id.
    """
    e = load(spark, sf_dir, "embeddings")
    comps = e.select("vec_id", "label", F.posexplode(_vec_double()).alias("pos", "v"))
    above = comps.filter(F.col("v") >= ISO_LO).withColumn(
        "grp",
        F.col("pos") - F.row_number().over(Window.partitionBy("vec_id").orderBy("pos")),
    )
    micros = half_away_long(F.col("v"), 1_000_000)
    islands = above.groupBy("vec_id", "label", "grp").agg(
        F.count(F.lit(1)).alias("island_size"),
        F.sum(micros).alias("signal_micro"),
        F.min("pos").alias("start_pos"),
    )
    ranked = islands.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("vec_id").orderBy(
                F.col("signal_micro").desc(), F.col("start_pos").asc()
            )
        ),
    )
    return ranked.groupBy("vec_id", "label").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.when(F.col("island_size") == 1, 1).otherwise(0)).alias("n_isolated"),
        F.max(F.when(F.col("rk") == 1, F.col("island_size"))).alias("kept_size"),
        (
            F.max(F.when(F.col("rk") == 1, F.col("signal_micro"))).cast("double")
            / 1_000_000.0
        ).alias("kept_signal"),
    )


SWEEP_HI = (0.10, 0.15, 0.20)
SWEEP_LO = (0.02, 0.05)


@register(
    "q_param_sweep",
    oracle=f"""
        WITH grid AS (
            SELECT hi, lo
            FROM (SELECT unnest([{", ".join(map(str, SWEEP_HI))}]) AS hi),
                 (SELECT unnest([{", ".join(map(str, SWEEP_LO))}]) AS lo)
        ), comps AS (
            SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v
            FROM embeddings WHERE vec_id % 10 = 0
        ), scored AS (
            SELECT g.hi, g.lo, c.vec_id,
                   COUNT(*) FILTER (WHERE c.v >= g.hi) AS n_core,
                   COUNT(*) FILTER (WHERE c.v >= g.lo AND c.v < g.hi) AS n_boundary
            FROM grid g CROSS JOIN comps c
            GROUP BY g.hi, g.lo, c.vec_id
        ), config_score AS (
            SELECT hi, lo,
                   ROUND(AVG(n_core + 0.5 * n_boundary), 6) AS mean_score,
                   COUNT(*) AS n_records
            FROM scored GROUP BY hi, lo
        )
        SELECT hi, lo, mean_score, n_records FROM config_score
        QUALIFY row_number() OVER (ORDER BY mean_score DESC, hi ASC, lo ASC) <= 3
    """,
    category=CAT,
)
def q_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force parameter sweep (reference: optimization/
    bruteforce.py [UNVERIFIED-PK]): evaluate a 3×2 (hi, lo) threshold
    grid against a deterministic 10% record sample, score each config
    by mean (core + ½·boundary) component count, return the top-3
    configs.

    The reference loops configs × images in Python; here the grid is
    a 6-row broadcast crossJoin against the exploded sample — configs
    evaluate in ONE distributed pass, and adding a 1000-point grid
    changes nothing structural.

    Scale: sample × grid rows = |sample|·64·|grid|; the shuffle
    carries (config, vec_id) partial counts, then 6 config rows.
    Deterministic sample via key-mod, never df.sample (SURVEY §2 O3).
    """
    e = load(spark, sf_dir, "embeddings")
    grid = spark.createDataFrame(
        [(hi, lo) for hi in SWEEP_HI for lo in SWEEP_LO], "hi double, lo double"
    )
    comps = (
        e.filter(F.col("vec_id") % 10 == 0)
        .select("vec_id", F.explode(_vec_double()).alias("v"))
    )
    scored = (
        comps.crossJoin(F.broadcast(grid))
        .groupBy("hi", "lo", "vec_id")
        .agg(
            F.count(F.when(F.col("v") >= F.col("hi"), 1)).alias("n_core"),
            F.count(
                F.when((F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi")), 1)
            ).alias("n_boundary"),
        )
    )
    config_score = scored.groupBy("hi", "lo").agg(
        F.round(F.avg(F.col("n_core") + 0.5 * F.col("n_boundary")), 6).alias("mean_score"),
        F.count(F.lit(1)).alias("n_records"),
    )
    w = Window.orderBy(F.col("mean_score").desc(), F.col("hi").asc(), F.col("lo").asc())
    return (
        config_score.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


FFT_CUTOFF = 8  # keep the 8 lowest frequency bins (of 33 rfft bins for n=64)


_FFT_ORACLE = f"""
    WITH x AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    dft AS (
        SELECT vec_id, k,
               SUM(v * cos(2 * pi() * k * pos / 64)) AS re,
               SUM(v * sin(2 * pi() * k * pos / 64)) AS im
        FROM x, (SELECT unnest(generate_series(0, {FFT_CUTOFF - 1})) AS k)
        GROUP BY 1, 2
    ),
    eo AS (SELECT vec_id,
                  SUM(CASE WHEN k = 0 THEN re * re + im * im
                      ELSE 2 * (re * re + im * im) END) / 64 AS e_out
           FROM dft GROUP BY 1),
    ei AS (SELECT vec_id, SUM(v * v) AS e_in FROM x GROUP BY 1)
    SELECT e.vec_id, e.label,
           round(ei.e_in, 6) AS energy_in,
           round(eo.e_out, 6) AS energy_out,
           round(eo.e_out / ei.e_in, 6) AS ratio
    FROM embeddings e JOIN ei USING (vec_id) JOIN eo USING (vec_id)
"""


@register("q_fft_lowpass", oracle=_FFT_ORACLE, category=CAT)
def q_fft_lowpass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FFT low-pass denoising (reference: datapipe/denoising/fft.py
    [UNVERIFIED-PK]): rFFT each payload array, zero every bin above
    the cutoff, inverse-transform, report per-record energy before/
    after and the retained-energy ratio.

    This is the designated OPAQUE per-record transform — a numpy
    kernel that genuinely cannot be expressed in Spark SQL — so it
    rides the Arrow-batched pandas-UDF path (SURVEY §3.2: the only
    place engine logic leaves the JVM). T2w rows-only at the driver;
    tests/test_pipeline_ext.py asserts Parseval consistency (retained
    ≤ total, ratio in (0, 1]) and determinism instead.

    Scale: stateless per row → embarrassingly parallel; batch size is
    the Arrow knob; no shuffle. The reference shells out to an
    external binary per image — here the kernel is in-process and
    vectorized across the batch.

    Full value oracle (upgraded from rows-only): the low-pass energies
    are DFT-expressible without an inverse — Parseval gives
    e_out = (|X_0|^2 + 2*sum_{0<k<cut}|X_k|^2)/N over the kept bins —
    and numpy's butterfly FFT agrees with the naive SQL DFT to ~1e-15,
    invisible under r6 rounding.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("struct<energy_in: double, energy_out: double, ratio: double>")
    def lowpass(emb: pd.Series) -> pd.DataFrame:
        mat = np.stack(emb.to_numpy())  # (batch, 64) float32 -> float64
        mat = mat.astype("float64")
        spec = np.fft.rfft(mat, axis=1)
        spec[:, FFT_CUTOFF:] = 0
        rec = np.fft.irfft(spec, n=mat.shape[1], axis=1)
        e_in = (mat * mat).sum(axis=1)
        e_out = (rec * rec).sum(axis=1)
        return pd.DataFrame(
            {
                "energy_in": np.round(e_in, 6),
                "energy_out": np.round(e_out, 6),
                "ratio": np.round(e_out / e_in, 6),
            }
        )

    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label", lowpass(F.col("embedding")).alias("fft")
    ).select(
        "vec_id",
        "label",
        F.col("fft.energy_in").alias("energy_in"),
        F.col("fft.energy_out").alias("energy_out"),
        F.col("fft.ratio").alias("ratio"),
    )


EVO_GENERATIONS = 3
EVO_POP = 8
EVO_TOP = 4  # survivors per generation


def _evo_score(comps: DataFrame, pop: DataFrame) -> DataFrame:
    """Score a population of (hi, lo) configs: mean per-record
    (core + ½·boundary) count — same objective as q_param_sweep."""
    scored = (
        comps.crossJoin(F.broadcast(pop))
        .groupBy("gen", "member", "hi", "lo", "vec_id")
        .agg(
            F.count(F.when(F.col("v") >= F.col("hi"), 1)).alias("n_core"),
            F.count(
                F.when((F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi")), 1)
            ).alias("n_boundary"),
        )
    )
    return scored.groupBy("gen", "member", "hi", "lo").agg(
        F.round(F.avg(F.col("n_core") + 0.5 * F.col("n_boundary")), 6).alias("score")
    )


def _evo_mil(col):
    """Threshold as exact integer milli-units (hi/lo are always
    multiples of 0.005, so round() is exact) — the portable hash key
    basis both engines can reproduce byte-for-byte."""
    return F.round(col * 1000).cast("bigint")


def _evo_children_cte(g: int, surv: str, name: str) -> str:
    """Generation-g population as a DuckDB CTE over the survivor CTE:
    survivors re-numbered 0..3 verbatim, plus 4 mutated children whose
    hash-derived steps replay the Spark side exactly (same h60 over the
    same 'hi|<mil>|<mil>|<gen>' keys, same clamps, same IEEE order)."""
    mil_hi = "CAST(round(hi * 1000) AS BIGINT)"
    mil_lo = "CAST(round(lo * 1000) AS BIGINT)"
    key_hi = f"'hi' || '|' || {mil_hi} || '|' || {mil_lo} || '|' || {g}"
    key_lo = f"'lo' || '|' || {mil_lo} || '|' || {mil_hi} || '|' || {g}"
    return f"""
{name} AS (
    SELECT {g} AS gen, rk - 1 AS member, hi, lo FROM {surv}
    UNION ALL
    SELECT {g} AS gen, rk + {EVO_TOP} - 1 AS member,
           greatest(0.02::DOUBLE,
                    hi + ({o_h60(key_hi)} % 5 - 2) * 0.01::DOUBLE) AS hi,
           greatest(0.005::DOUBLE,
                    lo + ({o_h60(key_lo)} % 3 - 1) * 0.005::DOUBLE) AS lo
    FROM {surv}
)"""


def _evo_score_cte(pop: str, name: str) -> str:
    """Score a population CTE against the comps sample — the exact SQL
    twin of _evo_score (COUNT FILTER per vec, then round(avg, 6))."""
    return f"""
{name} AS MATERIALIZED (
    SELECT gen, member, hi, lo,
           ROUND(AVG(n_core + 0.5 * n_boundary), 6) AS score
    FROM (
        SELECT p.gen, p.member, p.hi, p.lo, c.vec_id,
               COUNT(*) FILTER (WHERE c.v >= p.hi) AS n_core,
               COUNT(*) FILTER (WHERE c.v >= p.lo AND c.v < p.hi)
                   AS n_boundary
        FROM {pop} p CROSS JOIN comps c
        GROUP BY 1, 2, 3, 4, 5
    )
    GROUP BY 1, 2, 3, 4
)"""


def _evo_surv_cte(score: str, name: str) -> str:
    return f"""
{name} AS (
    SELECT hi, lo,
           row_number() OVER (ORDER BY score DESC, member ASC) AS rk
    FROM {score}
    QUALIFY rk <= {EVO_TOP}
)"""


_EVO_ORACLE = f"""
    WITH comps AS MATERIALIZED (
        SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings WHERE vec_id % 10 = 0
    ), pop0 AS (
        SELECT 0 AS gen, CAST(i AS INT) AS member,
               0.08::DOUBLE + 0.02::DOUBLE * i AS hi,
               0.01::DOUBLE + 0.01::DOUBLE * (i % 4) AS lo
        FROM (SELECT unnest(range({EVO_POP})) AS i)
    ),{_evo_score_cte('pop0', 's0')},{_evo_surv_cte('s0', 'surv0')},{_evo_children_cte(1, 'surv0', 'pop1')},{_evo_score_cte('pop1', 's1')},{_evo_surv_cte('s1', 'surv1')},{_evo_children_cte(2, 'surv1', 'pop2')},{_evo_score_cte('pop2', 's2')}
    SELECT CAST(gen AS BIGINT) AS gen, CAST(member AS BIGINT) AS member,
           hi, lo, score
    FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
          UNION ALL SELECT * FROM s2)
"""


@register("q_evolutionary_sweep", oracle=_EVO_ORACLE, category=CAT)
def q_evolutionary_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evolutionary threshold search (reference: optimization/
    differential_evolution.py + saes.py [UNVERIFIED-PK]): a 3-
    generation (μ+λ) evolution over (hi, lo) cleaning thresholds —
    deterministic seeded "mutations" (hash-derived perturbations, no
    RNG state), top-4 survivors re-mutated each generation, all
    generations' scored members returned (gen, member, hi, lo, score).

    Iterative algorithms on Spark: the GENERATION loop is driver-side
    control flow (3 plan builds), but each generation's population ×
    sample scoring is one distributed pass — the reference scores one
    image at a time per config. Population frames are broadcast; the
    sample never moves. No collect() — survivor selection is a window
    filter, and the loop carries only unexecuted plans.

    T2 as of round 8 (was T2w; VERDICT r07 #9): the 3-generation loop
    is deterministic, so the oracle REPLAYS it as unrolled CTEs —
    score/survivor/children per generation, the mutation hash swapped
    from Spark-only Murmur3 to the portable h60 over integer
    milli-unit keys, and every float literal forced ::DOUBLE (DuckDB
    parses bare decimals as DECIMAL, whose exact arithmetic diverges
    from Spark's double chain in the last ulp). Full row+schema+hash
    parity. tests/test_pipeline_ext.py additionally asserts monotone
    best-score improvement across generations and determinism.

    Scale: per generation, cost = |sample|·64·|pop| with (config,
    record) partial counts in the shuffle — identical to the grid
    sweep; generations multiply wall-clock, not memory.
    """
    e = load(spark, sf_dir, "embeddings")
    comps = (
        e.filter(F.col("vec_id") % 10 == 0)
        .select("vec_id", F.explode(_vec_double()).alias("v"))
    )

    # generation 0: deterministic seed population from member index
    pop = spark.range(EVO_POP).select(
        F.lit(0).alias("gen"),
        F.col("id").cast("int").alias("member"),
        (0.08 + 0.02 * F.col("id").cast("double")).alias("hi"),
        (0.01 + 0.01 * (F.col("id") % 4).cast("double")).alias("lo"),
    )
    all_scored = _evo_score(comps, pop)
    survivors_w = Window.partitionBy("gen").orderBy(
        F.col("score").desc(), F.col("member").asc()
    )
    for gen in range(1, EVO_GENERATIONS):
        parents = (
            all_scored.filter(F.col("gen") == gen - 1)
            .withColumn("rk", F.row_number().over(survivors_w))
            .filter(F.col("rk") <= EVO_TOP)
        )
        # deterministic mutation: perturb each parent ±hash-derived
        # step (one kept + one mutated child per parent), clamp to
        # valid ranges. The hash is the PORTABLE h60 over integer
        # milli-unit keys (r8, replacing Spark-only Murmur3 F.hash) —
        # that swap is what makes the unrolled-CTE oracle possible.
        mil_hi, mil_lo = _evo_mil(F.col("hi")), _evo_mil(F.col("lo"))
        key_hi = F.concat_ws("|", F.lit("hi"), mil_hi, mil_lo, F.lit(gen))
        key_lo = F.concat_ws("|", F.lit("lo"), mil_lo, mil_hi, F.lit(gen))
        children = parents.select(
            F.lit(gen).alias("gen"),
            (F.col("rk") - 1).cast("int").alias("member"),
            F.col("hi"),
            F.col("lo"),
        ).unionByName(
            parents.select(
                F.lit(gen).alias("gen"),
                (F.col("rk") + EVO_TOP - 1).cast("int").alias("member"),
                F.greatest(
                    F.lit(0.02),
                    F.col("hi")
                    + (F.pmod(h60(key_hi), F.lit(5)).cast("double") - 2) * 0.01,
                ).alias("hi"),
                F.greatest(
                    F.lit(0.005),
                    F.col("lo")
                    + (F.pmod(h60(key_lo), F.lit(3)).cast("double") - 1) * 0.005,
                ).alias("lo"),
            )
        )
        all_scored = all_scored.unionByName(_evo_score(comps, children))
    return all_scored.select(
        F.col("gen").cast("long").alias("gen"),
        F.col("member").cast("long").alias("member"),
        "hi",
        "lo",
        "score",
    )


# --- SAES / DE specific evolutionary semantics (VERDICT r09 missing #2) ----
#
# X13 q_evolutionary_sweep covers the generation-loop FAMILY generically
# ((μ+λ), hash-derived fixed-step mutation). The reference ships TWO
# concrete algorithms with distinct semantics [UNVERIFIED-PK, SURVEY
# §2.12 optimization row]:
#   saes.py                     σ-SELF-ADAPTIVE (μ,λ)-ES — each
#                               individual carries its own step size σ,
#                               mutated BEFORE the object variables,
#                               and parents do NOT survive (comma).
#   differential_evolution.py   DE/rand/1/bin — mutant = r1 + F·(r2−r3)
#                               from three distinct population members,
#                               binomial crossover with a forced j_rand
#                               dimension, greedy 1-vs-1 replacement.
# Both are modeled below with the X13 portability recipe: all state in
# integer MILLI-units (BIGINT — trivially identical cross-engine), all
# "randomness" from the portable h60 hash over the state, and the
# whole deterministic run REPLAYED by the oracle as unrolled CTEs.

SAES_POP = 8
SAES_MU = 4  # survivors (parents of the next comma-generation)
SAES_GENS = 3
_HI_MIN, _HI_MAX, _LO_MIN, _LO_GAP = 20, 400, 5, 5  # milli-unit clamps


def _mil_comps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared scoring sample: exploded components of the
    deterministic 10% embeddings slice (same as X11/X13)."""
    e = load(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", F.explode(_vec_double()).alias("v")
    )


def _mil_score(comps: DataFrame, pop: DataFrame, extra: list[str]) -> DataFrame:
    """Score a population carrying BIGINT milli-unit thresholds: mean
    per-record (core + ½·boundary) count — X11/X13's objective. The
    population broadcasts; the sample never moves; AVG over half-
    integer counts is exact in double regardless of merge order."""
    hi = F.col("hi_mil").cast("double") / 1000.0
    lo = F.col("lo_mil").cast("double") / 1000.0
    keys = ["gen", "member", "hi_mil", "lo_mil", *extra]
    scored = (
        comps.crossJoin(F.broadcast(pop))
        .groupBy(*keys, "vec_id")
        .agg(
            F.count(F.when(F.col("v") >= hi, 1)).alias("n_core"),
            F.count(
                F.when((F.col("v") >= lo) & (F.col("v") < hi), 1)
            ).alias("n_boundary"),
        )
    )
    return scored.groupBy(*keys).agg(
        F.round(F.avg(F.col("n_core") + 0.5 * F.col("n_boundary")), 6).alias(
            "score"
        )
    )


def _o_mil_score_cte(pop: str, name: str, extra: str = "") -> str:
    """DuckDB twin of _mil_score (COUNT FILTER per vec, round(avg,6))."""
    cols = f"gen, member, hi_mil, lo_mil{extra}"
    return f"""
{name} AS MATERIALIZED (
    SELECT {cols},
           ROUND(AVG(n_core + 0.5 * n_boundary), 6) AS score
    FROM (
        SELECT p.*, c.vec_id,
               COUNT(*) FILTER (WHERE c.v >= CAST(p.hi_mil AS DOUBLE)
                                             / 1000.0) AS n_core,
               COUNT(*) FILTER (WHERE c.v >= CAST(p.lo_mil AS DOUBLE)
                                             / 1000.0
                                  AND c.v < CAST(p.hi_mil AS DOUBLE)
                                             / 1000.0) AS n_boundary
        FROM {pop} p CROSS JOIN comps c
        GROUP BY ALL
    )
    GROUP BY ALL
)"""


_O_COMPS = """comps AS MATERIALIZED (
        SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings WHERE vec_id % 10 = 0
    )"""


def _saes_kids_cte(g: int, surv: str, name: str) -> str:
    """Generation-g (μ,λ) children as a CTE over the survivor CTE:
    each of the μ survivors (rk 1..μ) emits λ/μ = 2 children; σ is
    mutated FIRST (×2 or half, hash-chosen), then the object variables
    step by ±σ' — the self-adaptation order that defines SAES."""
    key = (
        lambda tag: f"'{tag}' || '|' || hi_mil || '|' || lo_mil || '|' "
        f"|| sig_mil || '|' || {g} || '|' || member"
    )
    sig2 = (
        f"CASE WHEN {o_h60(key('sg'))} % 2 = 0 THEN sig_mil * 2 "
        f"ELSE greatest(1, CAST(floor(sig_mil / 2) AS BIGINT)) END"
    )
    return f"""
{name} AS (
    SELECT gen, member,
           least({_HI_MAX}, greatest({_HI_MIN},
               hi_mil + sig2 * ({o_h60(key('sh'))} % 5 - 2))) AS hi_mil0,
           lo_mil, sig2
    FROM (
        SELECT gen, member, hi_mil, lo_mil, sig_mil, {sig2} AS sig2
        FROM (
            SELECT {g} AS gen,
                   CAST(2 * (rk - 1) + side AS BIGINT) AS member,
                   hi_mil, lo_mil, sig_mil
            FROM {surv}, (SELECT unnest([0, 1]) AS side)
        )
    )
)"""


def _saes_kids_clamp_cte(kids: str, name: str) -> str:
    """Second clamp pass: lo steps by ±σ' then clamps into
    [{LO_MIN}, hi' − {GAP}] — split into its own CTE because lo's
    clamp depends on the already-clamped hi'."""
    key = (
        f"'sl' || '|' || hi_mil0 || '|' || lo_mil || '|' || sig2 "
        f"|| '|' || gen || '|' || member"
    )
    return f"""
{name} AS (
    SELECT gen, member,
           hi_mil0 AS hi_mil,
           greatest({_LO_MIN}, least(hi_mil0 - {_LO_GAP},
               lo_mil + sig2 * ({o_h60(key)} % 3 - 1))) AS lo_mil,
           sig2 AS sig_mil
    FROM {kids}
)"""


def _o_saes_surv_cte(score: str, name: str) -> str:
    return f"""
{name} AS (
    SELECT hi_mil, lo_mil, sig_mil,
           row_number() OVER (ORDER BY score DESC, member ASC) AS rk
    FROM {score}
    QUALIFY rk <= {SAES_MU}
)"""


_SAES_ORACLE = f"""
    WITH {_O_COMPS}, pop0 AS (
        SELECT 0 AS gen, CAST(i AS BIGINT) AS member,
               CAST(80 + 20 * i AS BIGINT) AS hi_mil,
               CAST(10 + 10 * (i % 4) AS BIGINT) AS lo_mil,
               CAST(10 AS BIGINT) AS sig_mil
        FROM (SELECT unnest(range({SAES_POP})) AS i)
    ),{_o_mil_score_cte('pop0', 's0', ', sig_mil')},{_o_saes_surv_cte('s0', 'surv0')},{_saes_kids_cte(1, 'surv0', 'k1')},{_saes_kids_clamp_cte('k1', 'pop1')},{_o_mil_score_cte('pop1', 's1', ', sig_mil')},{_o_saes_surv_cte('s1', 'surv1')},{_saes_kids_cte(2, 'surv1', 'k2')},{_saes_kids_clamp_cte('k2', 'pop2')},{_o_mil_score_cte('pop2', 's2', ', sig_mil')}
    SELECT CAST(gen AS BIGINT) AS gen, member,
           CAST(hi_mil AS DOUBLE) / 1000.0 AS hi,
           CAST(lo_mil AS DOUBLE) / 1000.0 AS lo,
           CAST(sig_mil AS DOUBLE) / 1000.0 AS sigma,
           score
    FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
          UNION ALL SELECT * FROM s2)
"""


@register("q_saes_sweep", oracle=_SAES_ORACLE, category=CAT)
def q_saes_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X64: σ-self-adaptive (μ,λ) evolution strategy over cleaning
    thresholds (reference: optimization/saes.py [UNVERIFIED-PK]; the
    SA-ES scheme itself is public — Rechenberg/Schwefel, Beyer &
    Schwefel "Evolution strategies — a comprehensive introduction").
    What distinguishes it from X13's generic (μ+λ) loop, modeled here:

    - every individual CARRIES ITS OWN step size σ (sig_mil),
    - mutation adapts σ FIRST (hash-chosen ×2 or ×½ — the
      deterministic stand-in for the lognormal τ-update), then steps
      the object variables by ±σ′ — so step sizes EVOLVE: lineages
      whose σ matches the landscape outscore and propagate it,
    - COMMA selection: parents die each generation; only the λ = 8
      children of the μ = 4 survivors form the next population.

    Determinism/portability (the X13 recipe): all state is BIGINT
    milli-units, every stochastic choice is the portable h60 hash of
    the state, clamps are integer greatest/least — so the oracle
    REPLAYS the whole run as unrolled CTEs and the driver hash-checks
    every generation's every member. Output: all {SAES_GENS}
    generations' scored populations (gen, member, hi, lo, sigma,
    score).

    Scale: identical to X13 — per generation ONE distributed pass
    (|sample|·64 × 8-row broadcast population), survivor selection is
    a window over 8 rows, the generation loop carries only unexecuted
    plans; generations multiply wall-clock, never memory.
    """
    comps = _mil_comps(spark, sf_dir)
    pop = spark.range(SAES_POP).select(
        F.lit(0).alias("gen"),
        F.col("id").alias("member"),
        (80 + 20 * F.col("id")).alias("hi_mil"),
        (10 + 10 * (F.col("id") % 4)).alias("lo_mil"),
        F.lit(10).cast("long").alias("sig_mil"),
    )
    all_scored = _mil_score(comps, pop, ["sig_mil"])
    surv_w = Window.partitionBy("gen").orderBy(
        F.col("score").desc(), F.col("member").asc()
    )
    for gen in range(1, SAES_GENS):
        surv = (
            all_scored.filter(F.col("gen") == gen - 1)
            .withColumn("rk", F.row_number().over(surv_w))
            .filter(F.col("rk") <= SAES_MU)
        )
        kids = surv.crossJoin(
            spark.range(2).select(F.col("id").alias("side"))
        ).select(
            F.lit(gen).alias("gen"),
            (2 * (F.col("rk") - 1) + F.col("side")).cast("long").alias(
                "member"
            ),
            "hi_mil",
            "lo_mil",
            "sig_mil",
        )

        def key(tag: str) -> F.Column:
            return F.concat_ws(
                "|",
                F.lit(tag),
                F.col("hi_mil"),
                F.col("lo_mil"),
                F.col("sig_mil"),
                F.lit(gen),
                F.col("member"),
            )

        sig2 = F.when(
            F.pmod(h60(key("sg")), F.lit(2)) == 0, F.col("sig_mil") * 2
        ).otherwise(
            F.greatest(F.lit(1).cast("long"), F.floor(F.col("sig_mil") / 2))
        )
        kids = kids.select(
            "gen", "member", "hi_mil", "lo_mil", "sig_mil", sig2.alias("sig2")
        )
        hi2 = F.least(
            F.lit(_HI_MAX).cast("long"),
            F.greatest(
                F.lit(_HI_MIN).cast("long"),
                F.col("hi_mil")
                + F.col("sig2") * (F.pmod(h60(key("sh")), F.lit(5)) - 2),
            ),
        )
        kids = kids.select(
            "gen", "member", hi2.alias("hi_mil0"), "lo_mil", "sig2"
        )
        key_lo = F.concat_ws(
            "|",
            F.lit("sl"),
            F.col("hi_mil0"),
            F.col("lo_mil"),
            F.col("sig2"),
            F.lit(gen),
            F.col("member"),
        )
        lo2 = F.greatest(
            F.lit(_LO_MIN).cast("long"),
            F.least(
                F.col("hi_mil0") - _LO_GAP,
                F.col("lo_mil")
                + F.col("sig2") * (F.pmod(h60(key_lo), F.lit(3)) - 1),
            ),
        )
        nxt = kids.select(
            "gen",
            "member",
            F.col("hi_mil0").alias("hi_mil"),
            lo2.alias("lo_mil"),
            F.col("sig2").alias("sig_mil"),
        )
        all_scored = all_scored.unionByName(
            _mil_score(comps, nxt, ["sig_mil"])
        )
    return all_scored.select(
        F.col("gen").cast("long").alias("gen"),
        F.col("member").cast("long").alias("member"),
        (F.col("hi_mil").cast("double") / 1000.0).alias("hi"),
        (F.col("lo_mil").cast("double") / 1000.0).alias("lo"),
        (F.col("sig_mil").cast("double") / 1000.0).alias("sigma"),
        "score",
    )


DE_POP = 8
DE_GENS = 3


def _de_trial_cte(g: int, prev: str, name: str) -> str:
    """Generation-g DE/rand/1/bin trials as a CTE over the scored
    previous population: mutant = r1 + (r2 − r3) with F = 1 (integer-
    exact), binomial crossover with forced dimension j_rand =
    member % 2, then the [hi, lo] feasibility clamps."""
    key = (
        lambda dim: f"'cr{dim}' || '|' || t.hi_mil || '|' || t.lo_mil "
        f"|| '|' || {g} || '|' || t.member"
    )
    m_hi = (
        f"least({_HI_MAX}, greatest({_HI_MIN}, "
        f"r1.hi_mil + (r2.hi_mil - r3.hi_mil)))"
    )
    m_lo = "r1.lo_mil + (r2.lo_mil - r3.lo_mil)"
    t_hi = (
        f"CASE WHEN t.member % 2 = 0 OR {o_h60(key('h'))} % 2 = 0 "
        f"THEN {m_hi} ELSE t.hi_mil END"
    )
    t_lo = (
        f"CASE WHEN t.member % 2 = 1 OR {o_h60(key('l'))} % 2 = 0 "
        f"THEN {m_lo} ELSE t.lo_mil END"
    )
    return f"""
{name} AS (
    SELECT {g} AS gen, t.member,
           x.t_hi AS hi_mil,
           greatest({_LO_MIN}, least(x.t_hi - {_LO_GAP}, x.t_lo)) AS lo_mil
    FROM {prev} t
    JOIN {prev} r1 ON r1.member = (t.member + 1) % {DE_POP}
    JOIN {prev} r2 ON r2.member = (t.member + 3) % {DE_POP}
    JOIN {prev} r3 ON r3.member = (t.member + 5) % {DE_POP}
    CROSS JOIN LATERAL (SELECT {t_hi} AS t_hi, {t_lo} AS t_lo) x
)"""


def _de_select_cte(g: int, prev: str, trial_s: str, name: str) -> str:
    """Greedy 1-vs-1 replacement: the trial takes the slot iff its
    score ≥ the incumbent's (maximization; ties go to the trial, the
    standard DE convention that fights stagnation)."""
    return f"""
{name} AS (
    SELECT {g} AS gen, p.member,
           CASE WHEN ts.score >= p.score THEN ts.hi_mil
                ELSE p.hi_mil END AS hi_mil,
           CASE WHEN ts.score >= p.score THEN ts.lo_mil
                ELSE p.lo_mil END AS lo_mil,
           CASE WHEN ts.score >= p.score THEN ts.score
                ELSE p.score END AS score
    FROM {prev} p JOIN {trial_s} ts ON p.member = ts.member
)"""


_DE_ORACLE = f"""
    WITH {_O_COMPS}, pop0 AS (
        SELECT 0 AS gen, CAST(i AS BIGINT) AS member,
               CAST(80 + 20 * i AS BIGINT) AS hi_mil,
               CAST(10 + 10 * (i % 4) AS BIGINT) AS lo_mil
        FROM (SELECT unnest(range({DE_POP})) AS i)
    ),{_o_mil_score_cte('pop0', 's0')},{_de_trial_cte(1, 's0', 't1')},{_o_mil_score_cte('t1', 'st1')},{_de_select_cte(1, 's0', 'st1', 'p1')},{_de_trial_cte(2, 'p1', 't2')},{_o_mil_score_cte('t2', 'st2')},{_de_select_cte(2, 'p1', 'st2', 'p2')}
    SELECT CAST(gen AS BIGINT) AS gen, member,
           CAST(hi_mil AS DOUBLE) / 1000.0 AS hi,
           CAST(lo_mil AS DOUBLE) / 1000.0 AS lo,
           score
    FROM (SELECT gen, member, hi_mil, lo_mil, score FROM s0
          UNION ALL SELECT gen, member, hi_mil, lo_mil, score FROM p1
          UNION ALL SELECT gen, member, hi_mil, lo_mil, score FROM p2)
"""


@register("q_de_rand1bin", oracle=_DE_ORACLE, category=CAT)
def q_de_rand1bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65: DE/rand/1/bin differential evolution over cleaning
    thresholds (reference: optimization/differential_evolution.py
    [UNVERIFIED-PK]; the algorithm is public — Storn & Price 1997).
    What distinguishes it from X13's generic loop, modeled here:

    - DIFFERENTIAL mutation: for each target, the mutant is
      r1 + F·(r2 − r3) built from three DISTINCT other members
      (deterministic distinct picks (i+1, i+3, i+5) mod 8), F = 1 so
      the step stays integer-exact in milli-units — the step
      DISTRIBUTION adapts because it is the population's own spread,
    - BINOMIAL crossover: per dimension take the mutant's value when
      the h60 coin lands 0, with the forced j_rand = member % 2
      dimension always from the mutant (so no trial equals its
      target),
    - GREEDY 1-vs-1 selection: the trial replaces its target iff its
      score ≥ the incumbent's — never a population-wide rank.

    Selection needs NO extra scoring pass: the incumbent's score is
    carried from the previous generation, so each generation costs
    exactly one distributed trial-scoring pass, and the winner pick
    is an 8-row join. The oracle replays the run as unrolled CTEs
    (trials via three self-joins on the member ring, selection as a
    CASE join) — full row+schema+hash parity on every generation.

    Output: all {DE_GENS} generations' populations with scores
    (gen, member, hi, lo, score); gen g rows are the POST-selection
    population, so best-score is monotone per member by construction
    (asserted in tests/test_round10_families.py).

    Scale: the X13 story — one |sample|·64 × 8-row broadcast pass per
    generation; the member-ring joins move 8-row frames.
    """
    comps = _mil_comps(spark, sf_dir)
    pop = spark.range(DE_POP).select(
        F.lit(0).alias("gen"),
        F.col("id").alias("member"),
        (80 + 20 * F.col("id")).alias("hi_mil"),
        (10 + 10 * (F.col("id") % 4)).alias("lo_mil"),
    )
    cur = _mil_score(comps, pop, [])  # gen, member, hi_mil, lo_mil, score
    out = cur
    for gen in range(1, DE_GENS):
        t = cur.alias("t")
        r1 = cur.select(
            F.col("member").alias("m1"),
            F.col("hi_mil").alias("hi1"),
            F.col("lo_mil").alias("lo1"),
        )
        r2 = cur.select(
            F.col("member").alias("m2"),
            F.col("hi_mil").alias("hi2"),
            F.col("lo_mil").alias("lo2"),
        )
        r3 = cur.select(
            F.col("member").alias("m3"),
            F.col("hi_mil").alias("hi3"),
            F.col("lo_mil").alias("lo3"),
        )
        j = (
            t.join(F.broadcast(r1), F.pmod(F.col("t.member") + 1, F.lit(DE_POP)) == F.col("m1"))
            .join(F.broadcast(r2), F.pmod(F.col("t.member") + 3, F.lit(DE_POP)) == F.col("m2"))
            .join(F.broadcast(r3), F.pmod(F.col("t.member") + 5, F.lit(DE_POP)) == F.col("m3"))
        )

        def key(dim: str) -> F.Column:
            return F.concat_ws(
                "|",
                F.lit(f"cr{dim}"),
                F.col("t.hi_mil"),
                F.col("t.lo_mil"),
                F.lit(gen),
                F.col("t.member"),
            )

        m_hi = F.least(
            F.lit(_HI_MAX).cast("long"),
            F.greatest(
                F.lit(_HI_MIN).cast("long"),
                F.col("hi1") + (F.col("hi2") - F.col("hi3")),
            ),
        )
        m_lo = F.col("lo1") + (F.col("lo2") - F.col("lo3"))
        t_hi = F.when(
            (F.pmod(F.col("t.member"), F.lit(2)) == 0)
            | (F.pmod(h60(key("h")), F.lit(2)) == 0),
            m_hi,
        ).otherwise(F.col("t.hi_mil"))
        t_lo = F.when(
            (F.pmod(F.col("t.member"), F.lit(2)) == 1)
            | (F.pmod(h60(key("l")), F.lit(2)) == 0),
            m_lo,
        ).otherwise(F.col("t.lo_mil"))
        trials = j.select(
            F.lit(gen).alias("gen"),
            F.col("t.member").alias("member"),
            t_hi.alias("t_hi"),
            t_lo.alias("t_lo"),
        ).select(
            "gen",
            "member",
            F.col("t_hi").alias("hi_mil"),
            F.greatest(
                F.lit(_LO_MIN).cast("long"),
                F.least(F.col("t_hi") - _LO_GAP, F.col("t_lo")),
            ).alias("lo_mil"),
        )
        ts = _mil_score(comps, trials, []).select(
            F.col("member").alias("ts_member"),
            F.col("hi_mil").alias("ts_hi"),
            F.col("lo_mil").alias("ts_lo"),
            F.col("score").alias("ts_score"),
        )
        win = F.col("ts_score") >= F.col("score")
        cur = (
            cur.join(ts, F.col("member") == F.col("ts_member"))
            .select(
                F.lit(gen).alias("gen"),
                "member",
                F.when(win, F.col("ts_hi")).otherwise(F.col("hi_mil")).alias(
                    "hi_mil"
                ),
                F.when(win, F.col("ts_lo")).otherwise(F.col("lo_mil")).alias(
                    "lo_mil"
                ),
                F.when(win, F.col("ts_score")).otherwise(F.col("score")).alias(
                    "score"
                ),
            )
        )
        out = out.unionByName(cur)
    return out.select(
        F.col("gen").cast("long").alias("gen"),
        F.col("member").cast("long").alias("member"),
        (F.col("hi_mil").cast("double") / 1000.0).alias("hi"),
        (F.col("lo_mil").cast("double") / 1000.0).alias("lo"),
        "score",
    )


HAAR_LEVELS = 3
HAAR_THRESH = 0.05  # hard-threshold detail coefficients below this


def _haar_fwd_cte(n: int, prev: str, name: str) -> str:
    """One forward Haar level as a CTE: pair (2k, 2k+1) below n into
    approx k / detail n/2+k; positions ≥ n pass through untouched."""
    h = n // 2
    return f"""
{name} AS MATERIALIZED (
    SELECT vec_id, pos, v FROM {prev} WHERE pos >= {n}
    UNION ALL
    SELECT vec_id,
           CASE WHEN side = 0 THEN k ELSE {h} + k END AS pos,
           CASE WHEN side = 0 THEN (e + o) / sqrt(2)
                ELSE (e - o) / sqrt(2) END AS v
    FROM (
        SELECT vec_id, pos // 2 AS k,
               SUM(CASE WHEN pos % 2 = 0 THEN v ELSE 0 END) AS e,
               SUM(CASE WHEN pos % 2 = 1 THEN v ELSE 0 END) AS o
        FROM {prev} WHERE pos < {n} GROUP BY 1, 2
    ), (SELECT unnest([0, 1]) AS side)
)"""


def _haar_inv_cte(h: int, prev: str, name: str) -> str:
    """One inverse Haar level as a CTE: recombine approx k (< h) with
    detail h+k into positions 2k / 2k+1; positions ≥ 2h pass through."""
    return f"""
{name} AS MATERIALIZED (
    SELECT vec_id, pos, v FROM {prev} WHERE pos >= {2 * h}
    UNION ALL
    SELECT ia.vec_id,
           2 * ia.k + side AS pos,
           CASE WHEN side = 0 THEN (ia.a + id.d) / sqrt(2)
                ELSE (ia.a - id.d) / sqrt(2) END AS v
    FROM (SELECT vec_id, pos AS k, v AS a FROM {prev} WHERE pos < {h}) ia
    JOIN (SELECT vec_id, pos - {h} AS k, v AS d FROM {prev}
          WHERE pos >= {h} AND pos < {2 * h}) id
      ON ia.vec_id = id.vec_id AND ia.k = id.k,
         (SELECT unnest([0, 1]) AS side)
)"""


_HAAR_ORACLE = f"""
    WITH x AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),{_haar_fwd_cte(64, 'x', 'l1')},{_haar_fwd_cte(32, 'l1', 'l2')},{_haar_fwd_cte(16, 'l2', 'l3')},
    th AS (
        SELECT vec_id, pos,
               CASE WHEN pos >= 8 AND abs(v) < {HAAR_THRESH}
                    THEN 0.0 ELSE v END AS v,
               CASE WHEN pos >= 8 AND abs(v) < {HAAR_THRESH}
                    THEN 1 ELSE 0 END AS z
        FROM l3
    ),{_haar_inv_cte(8, 'th', 'i1')},{_haar_inv_cte(16, 'i1', 'i2')},{_haar_inv_cte(32, 'i2', 'i3')},
    ein AS (SELECT vec_id, round(SUM(v * v), 6) AS energy_in
            FROM x GROUP BY 1),
    eout AS (SELECT vec_id, round(SUM(v * v), 6) AS energy_out
             FROM i3 GROUP BY 1),
    nz AS (SELECT vec_id, CAST(SUM(z) AS BIGINT) AS n_zeroed
           FROM th GROUP BY 1)
    SELECT e.vec_id, e.label, energy_in, energy_out, n_zeroed
    FROM embeddings e
    JOIN ein USING (vec_id) JOIN eout USING (vec_id) JOIN nz USING (vec_id)
"""


@register("q_haar_denoise", oracle=_HAAR_ORACLE, category=CAT)
def q_haar_denoise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wavelet denoising (reference: datapipe/denoising/
    wavelets_mrfilter.py / wavelets_mrtransform.py [UNVERIFIED-PK],
    which shell out to Sparse2D's mr_filter per image): 3-level Haar
    DWT of the payload array, hard-threshold the detail coefficients,
    inverse transform; report energy in/out and the count of zeroed
    coefficients.

    The reference pays a subprocess + temp-FITS handshake per image;
    here the transform is ~20 lines of batched numpy on the Arrow
    pandas-UDF path — the per-record cleaning semantics (multi-scale
    decompose → threshold → reconstruct) are the same, the process
    boundary is gone. Orthonormal Haar ⇒ energy_out ≤ energy_in
    (thresholding only removes energy) — asserted in
    tests/test_pipeline_ext.py with determinism.

    Scale: stateless per row, embarrassingly parallel, no shuffle —
    identical scale story to q_fft_lowpass.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("struct<energy_in: double, energy_out: double, n_zeroed: long>")
    def haar(emb: pd.Series) -> pd.DataFrame:
        mat = np.stack(emb.to_numpy()).astype("float64")  # (batch, 64)
        coeffs = mat.copy()
        n = mat.shape[1]
        details = []
        # forward: repeated (avg, diff)/√2 split on the approximation
        for _ in range(HAAR_LEVELS):
            half = n // 2
            a = (coeffs[:, 0:n:2] + coeffs[:, 1:n:2]) / np.sqrt(2.0)
            d = (coeffs[:, 0:n:2] - coeffs[:, 1:n:2]) / np.sqrt(2.0)
            coeffs[:, :half] = a
            coeffs[:, half:n] = d
            details.append((half, n))
            n = half
        # threshold every detail band
        n_zeroed = np.zeros(mat.shape[0], dtype="int64")
        for lo, hi in details:
            band = coeffs[:, lo:hi]
            mask = np.abs(band) < HAAR_THRESH
            n_zeroed += mask.sum(axis=1).astype("int64")
            band[mask] = 0.0
            coeffs[:, lo:hi] = band
        # inverse: unwind the splits
        for lo, hi in reversed(details):
            a = coeffs[:, :lo].copy()
            d = coeffs[:, lo:hi].copy()
            rec = np.empty((mat.shape[0], hi))
            rec[:, 0:hi:2] = (a + d) / np.sqrt(2.0)
            rec[:, 1:hi:2] = (a - d) / np.sqrt(2.0)
            coeffs[:, :hi] = rec
        e_in = (mat * mat).sum(axis=1)
        e_out = (coeffs * coeffs).sum(axis=1)
        return pd.DataFrame(
            {
                "energy_in": np.round(e_in, 6),
                "energy_out": np.round(e_out, 6),
                "n_zeroed": n_zeroed,
            }
        )

    e = load(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", haar(F.col("embedding")).alias("w")).select(
        "vec_id",
        "label",
        F.col("w.energy_in").alias("energy_in"),
        F.col("w.energy_out").alias("energy_out"),
        F.col("w.n_zeroed").alias("n_zeroed"),
    )


ATROUS_LEVELS = 3
ATROUS_THRESH = 0.02  # hard-threshold detail coefficients below this
_ATROUS_N = 64


def _atrous_conv_sql(prev: str, d: int) -> str:
    """One à-trous smoothing level as a DuckDB list expression:
    B3-spline taps [1,4,6,4,1]/16 at dilation d, replicate-edge
    clamping, additions parenthesized in EXACTLY the numpy kernel's
    order so every coefficient is bit-identical cross-engine."""
    n = _ATROUS_N

    def at(off: int) -> str:
        if off == 0:
            return f"{prev}[i]"
        return f"{prev}[greatest(1, least({n}, i + ({off})))]"

    return (
        f"list_transform(range(1, {n + 1}), i -> "
        f"(((({at(-2 * d)} + 4 * {at(-d)}) + 6 * {at(0)})"
        f" + 4 * {at(d)}) + {at(2 * d)}) / 16)"
    )


_ATROUS_ORACLE = f"""
    WITH c0 AS MATERIALIZED (
        SELECT vec_id, label,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c0
        FROM embeddings
    ), c1 AS MATERIALIZED (
        SELECT vec_id, label, c0, {_atrous_conv_sql('c0', 1)} AS c1 FROM c0
    ), c2 AS MATERIALIZED (
        SELECT vec_id, label, c0, c1, {_atrous_conv_sql('c1', 2)} AS c2 FROM c1
    ), c3 AS MATERIALIZED (
        SELECT vec_id, label, c0, c1, c2,
               {_atrous_conv_sql('c2', 4)} AS c3
        FROM c2
    ), bands AS (
        SELECT vec_id, label, c0, c3,
               list_transform(range(1, {_ATROUS_N + 1}),
                              i -> c0[i] - c1[i]) AS w1,
               list_transform(range(1, {_ATROUS_N + 1}),
                              i -> c1[i] - c2[i]) AS w2,
               list_transform(range(1, {_ATROUS_N + 1}),
                              i -> c2[i] - c3[i]) AS w3
        FROM c3
    ), kept AS (
        SELECT vec_id, label, c0, c3,
               list_transform(w1, v -> CASE WHEN abs(v) < {ATROUS_THRESH}
                                            THEN 0.0 ELSE v END) AS k1,
               list_transform(w2, v -> CASE WHEN abs(v) < {ATROUS_THRESH}
                                            THEN 0.0 ELSE v END) AS k2,
               list_transform(w3, v -> CASE WHEN abs(v) < {ATROUS_THRESH}
                                            THEN 0.0 ELSE v END) AS k3,
               len(list_filter(w1, v -> abs(v) < {ATROUS_THRESH}))
                   + len(list_filter(w2, v -> abs(v) < {ATROUS_THRESH}))
                   + len(list_filter(w3, v -> abs(v) < {ATROUS_THRESH}))
                   AS n_zeroed
        FROM bands
    ), rec AS (
        SELECT vec_id, label, c0, n_zeroed,
               list_transform(range(1, {_ATROUS_N + 1}),
                              i -> ((c3[i] + k1[i]) + k2[i]) + k3[i]) AS r
        FROM kept
    )
    SELECT vec_id, label,
           round(list_sum(list_transform(c0, v -> v * v)), 6) AS energy_in,
           round(list_sum(list_transform(r, v -> v * v)), 6) AS energy_out,
           CAST(n_zeroed AS BIGINT) AS n_zeroed
    FROM rec
"""


@register("q_atrous_filter", oracle=_ATROUS_ORACLE, category=CAT)
def q_atrous_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56: multi-scale à-trous (stationary) wavelet filtering — the
    reference's FLAGSHIP cleaner (datapipe/denoising/
    wavelets_mrfilter.py shells out to Sparse2D ``mr_filter``, whose
    multiresolution support is the B3-spline à-trous transform
    [UNVERIFIED-PK, SURVEY.md §2.12]; the algorithm itself is public —
    Starck/Murtagh, "Image Processing and Data Analysis", and the
    Holschneider et al. à-trous construction). Three undecimated
    smoothing levels with the B3-spline kernel [1,4,6,4,1]/16 at
    dilations 1/2/4 (replicate-edge), detail bands w_j = c_{j-1} - c_j,
    hard-threshold, additive reconstruction c_J + Σ w'_j — the exact
    decompose→threshold→reconstruct semantics of X14's Haar analog but
    with the reference's actual multiresolution kernel (shift-invariant,
    no decimation).

    Determinism: the SQL oracle spells every convolution tap with the
    SAME parenthesization as the numpy kernel ((((a+4b)+6c)+4e)+f)/16,
    so each coefficient is a bit-identical IEEE double cross-engine;
    only the final 64-term energy sums differ in association, absorbed
    by round(,6) (the X14 pattern).

    Scale: stateless Arrow-batched pandas UDF, embarrassingly
    parallel, zero shuffles — identical scale story to q_haar_denoise;
    per-record cost is 15 dilated 64-tap passes of C-speed numpy.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("struct<energy_in: double, energy_out: double, n_zeroed: long>")
    def atrous(emb: pd.Series) -> pd.DataFrame:
        c0 = np.stack(emb.to_numpy()).astype("float64")  # (batch, 64)
        n = c0.shape[1]

        def shift(c: "np.ndarray", off: int) -> "np.ndarray":
            idx = np.clip(np.arange(n) + off, 0, n - 1)
            return c[:, idx]

        levels = [c0]
        c = c0
        for j in range(ATROUS_LEVELS):
            d = 1 << j
            c = (
                (((shift(c, -2 * d) + 4 * shift(c, -d)) + 6 * c)
                 + 4 * shift(c, d))
                + shift(c, 2 * d)
            ) / 16
            levels.append(c)
        details = [levels[j] - levels[j + 1] for j in range(ATROUS_LEVELS)]
        n_zeroed = np.zeros(c0.shape[0], dtype="int64")
        recon = levels[-1].copy()
        for w in details:
            mask = np.abs(w) < ATROUS_THRESH
            n_zeroed += mask.sum(axis=1).astype("int64")
            kept = np.where(mask, 0.0, w)
            recon = recon + kept
        e_in = (c0 * c0).sum(axis=1)
        e_out = (recon * recon).sum(axis=1)
        return pd.DataFrame(
            {
                "energy_in": np.round(e_in, 6),
                "energy_out": np.round(e_out, 6),
                "n_zeroed": n_zeroed,
            }
        )

    e = load(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", atrous(F.col("embedding")).alias("w")).select(
        "vec_id",
        "label",
        F.col("w.energy_in").alias("energy_in"),
        F.col("w.energy_out").alias("energy_out"),
        F.col("w.n_zeroed").alias("n_zeroed"),
    )


def _assess_metrics_sql(src: str, cleaner: str) -> str:
    """Per-record assess metrics from a (vec_id, mse, e_rec, e_in)
    CTE: MSE, NRMSE (RMSE normalized by the reference signal's RMS),
    and relative total-energy error — the reference's benchmark
    metric battery (benchmark/assess.py [UNVERIFIED-PK]), rounded to
    6 on both engines before the exact-decimal mean."""
    return f"""
    SELECT '{cleaner}' AS cleaner,
           round(mse, 6) AS mse,
           round(sqrt(mse) / sqrt(e_in / 64), 6) AS nrmse,
           round(abs(e_rec - e_in) / e_in, 6) AS ree
    FROM {src}"""


_ASSESS_ORACLE = f"""
    WITH x AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),{_haar_fwd_cte(64, 'x', 'l1')},{_haar_fwd_cte(32, 'l1', 'l2')},{_haar_fwd_cte(16, 'l2', 'l3')},
    th AS (
        SELECT vec_id, pos,
               CASE WHEN pos >= 8 AND abs(v) < {HAAR_THRESH}
                    THEN 0.0 ELSE v END AS v
        FROM l3
    ),{_haar_inv_cte(8, 'th', 'i1')},{_haar_inv_cte(16, 'i1', 'i2')},{_haar_inv_cte(32, 'i2', 'i3')},
    hmet AS (
        SELECT x.vec_id,
               SUM((i3.v - x.v) * (i3.v - x.v)) / 64 AS mse,
               SUM(i3.v * i3.v) AS e_rec,
               SUM(x.v * x.v) AS e_in
        FROM x JOIN i3 ON x.vec_id = i3.vec_id AND x.pos = i3.pos
        GROUP BY x.vec_id
    ),
    c0 AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c0
        FROM embeddings
    ), c1 AS MATERIALIZED (
        SELECT vec_id, c0, {_atrous_conv_sql('c0', 1)} AS c1 FROM c0
    ), c2 AS MATERIALIZED (
        SELECT vec_id, c0, c1, {_atrous_conv_sql('c1', 2)} AS c2 FROM c1
    ), c3 AS MATERIALIZED (
        SELECT vec_id, c0, c1, c2, {_atrous_conv_sql('c2', 4)} AS c3 FROM c2
    ), abands AS (
        SELECT vec_id, c0, c3,
               list_transform(range(1, {_ATROUS_N + 1}),
                              i -> c0[i] - c1[i]) AS w1,
               list_transform(range(1, {_ATROUS_N + 1}),
                              i -> c1[i] - c2[i]) AS w2,
               list_transform(range(1, {_ATROUS_N + 1}),
                              i -> c2[i] - c3[i]) AS w3
        FROM c3
    ), arec AS (
        SELECT vec_id, c0,
               list_transform(range(1, {_ATROUS_N + 1}),
                   i -> ((c3[i]
                          + CASE WHEN abs(w1[i]) < {ATROUS_THRESH}
                                 THEN 0.0 ELSE w1[i] END)
                         + CASE WHEN abs(w2[i]) < {ATROUS_THRESH}
                                THEN 0.0 ELSE w2[i] END)
                        + CASE WHEN abs(w3[i]) < {ATROUS_THRESH}
                               THEN 0.0 ELSE w3[i] END) AS r
        FROM abands
    ), amet AS (
        SELECT vec_id,
               list_sum(list_transform(range(1, {_ATROUS_N + 1}),
                   i -> (r[i] - c0[i]) * (r[i] - c0[i]))) / 64 AS mse,
               list_sum(list_transform(r, v -> v * v)) AS e_rec,
               list_sum(list_transform(c0, v -> v * v)) AS e_in
        FROM arec
    ), kmads AS (
        -- lower median of |w_j| (sorted element n/2, 1-indexed):
        -- pure selection, bit-identical cross-engine on float data
        -- (see _np_atrous_ksigma_recon's docstring)
        SELECT vec_id, c0, c3, w1, w2, w3,
               list_sort(list_transform(w1, v -> abs(v)))[{_ATROUS_N // 2}]
                   AS m1,
               list_sort(list_transform(w2, v -> abs(v)))[{_ATROUS_N // 2}]
                   AS m2,
               list_sort(list_transform(w3, v -> abs(v)))[{_ATROUS_N // 2}]
                   AS m3
        FROM abands
    ), krec AS (
        SELECT vec_id, c0,
               list_transform(range(1, {_ATROUS_N + 1}),
                   i -> ((c3[i]
                          + CASE WHEN abs(w1[i]) < {ATROUS_KSIGMA_K} * m1
                                 THEN 0.0 ELSE w1[i] END)
                         + CASE WHEN abs(w2[i]) < {ATROUS_KSIGMA_K} * m2
                                THEN 0.0 ELSE w2[i] END)
                        + CASE WHEN abs(w3[i]) < {ATROUS_KSIGMA_K} * m3
                               THEN 0.0 ELSE w3[i] END) AS r
        FROM kmads
    ), kmet AS (
        SELECT vec_id,
               list_sum(list_transform(range(1, {_ATROUS_N + 1}),
                   i -> (r[i] - c0[i]) * (r[i] - c0[i]))) / 64 AS mse,
               list_sum(list_transform(r, v -> v * v)) AS e_rec,
               list_sum(list_transform(c0, v -> v * v)) AS e_in
        FROM krec
    ), per AS (
        {_assess_metrics_sql('amet', 'atrous')}
        UNION ALL
        {_assess_metrics_sql('kmet', 'atrous_ksigma')}
        UNION ALL
        {_assess_metrics_sql('hmet', 'haar')}
    ), ameans AS (
        SELECT {o_davg('mse', 'mean_mse')},
               {o_davg('nrmse', 'mean_nrmse')},
               {o_davg('ree', 'mean_energy_err')}
        FROM per WHERE cleaner = 'atrous'
    ), kmeans AS (
        SELECT {o_davg('mse', 'mean_mse')},
               {o_davg('nrmse', 'mean_nrmse')},
               {o_davg('ree', 'mean_energy_err')}
        FROM per WHERE cleaner = 'atrous_ksigma'
    ), hmeans AS (
        SELECT {o_davg('mse', 'mean_mse')},
               {o_davg('nrmse', 'mean_nrmse')},
               {o_davg('ree', 'mean_energy_err')}
        FROM per WHERE cleaner = 'haar'
    )
    -- 3-way rank on (mean_mse, cleaner-name): strict-< against names
    -- later in lex order, <= against earlier — total, tie-stable
    SELECT 'atrous' AS cleaner, a.mean_mse, a.mean_nrmse, a.mean_energy_err,
           CAST(1 + CASE WHEN k.mean_mse < a.mean_mse THEN 1 ELSE 0 END
                  + CASE WHEN h.mean_mse < a.mean_mse THEN 1 ELSE 0 END
                AS BIGINT) AS rnk
    FROM ameans a, hmeans h, kmeans k
    UNION ALL
    SELECT 'atrous_ksigma', k.mean_mse, k.mean_nrmse, k.mean_energy_err,
           CAST(1 + CASE WHEN a.mean_mse <= k.mean_mse THEN 1 ELSE 0 END
                  + CASE WHEN h.mean_mse < k.mean_mse THEN 1 ELSE 0 END
                AS BIGINT)
    FROM ameans a, hmeans h, kmeans k
    UNION ALL
    SELECT 'haar', h.mean_mse, h.mean_nrmse, h.mean_energy_err,
           CAST(1 + CASE WHEN a.mean_mse <= h.mean_mse THEN 1 ELSE 0 END
                  + CASE WHEN k.mean_mse <= h.mean_mse THEN 1 ELSE 0 END
                AS BIGINT)
    FROM ameans a, hmeans h, kmeans k
"""


def _np_haar_recon(mat):
    """Haar decompose -> hard-threshold -> reconstruct, the exact math
    of q_haar_denoise's kernel (X14) — kept as a separate helper so
    the assess op can score the cleaner without touching the
    driver-certified X14 code path."""
    import numpy as np

    coeffs = mat.copy()
    n = mat.shape[1]
    details = []
    for _ in range(HAAR_LEVELS):
        half = n // 2
        a = (coeffs[:, 0:n:2] + coeffs[:, 1:n:2]) / np.sqrt(2.0)
        d = (coeffs[:, 0:n:2] - coeffs[:, 1:n:2]) / np.sqrt(2.0)
        coeffs[:, :half] = a
        coeffs[:, half:n] = d
        details.append((half, n))
        n = half
    for lo, hi in details:
        band = coeffs[:, lo:hi]
        band[np.abs(band) < HAAR_THRESH] = 0.0
        coeffs[:, lo:hi] = band
    for lo, hi in reversed(details):
        a = coeffs[:, :lo].copy()
        d = coeffs[:, lo:hi].copy()
        rec = np.empty((mat.shape[0], hi))
        rec[:, 0:hi:2] = (a + d) / np.sqrt(2.0)
        rec[:, 1:hi:2] = (a - d) / np.sqrt(2.0)
        coeffs[:, :hi] = rec
    return coeffs


def _np_atrous_levels(mat):
    """The 1-D B3-spline à-trous decomposition (levels list, exactly
    X56's kernel math) — THE single copy both scoreable recon helpers
    below build on, so a filter-kernel fix can never desync the
    fixed-threshold and k·MAD cleaners MT9 compares (r11 review #5;
    the oracle's shared abands CTE is already single-sourced)."""
    import numpy as np

    n = mat.shape[1]

    def shift(c, off):
        idx = np.clip(np.arange(n) + off, 0, n - 1)
        return c[:, idx]

    levels = [mat]
    c = mat
    for j in range(ATROUS_LEVELS):
        d = 1 << j
        c = (
            (((shift(c, -2 * d) + 4 * shift(c, -d)) + 6 * c)
             + 4 * shift(c, d))
            + shift(c, 2 * d)
        ) / 16
        levels.append(c)
    return levels


def _np_atrous_recon(mat):
    """À-trous decompose -> hard-threshold -> reconstruct, the exact
    math of q_atrous_filter's kernel (X56) as a scoreable helper."""
    import numpy as np

    levels = _np_atrous_levels(mat)
    recon = levels[-1].copy()
    for j in range(ATROUS_LEVELS):
        w = levels[j] - levels[j + 1]
        recon = recon + np.where(np.abs(w) < ATROUS_THRESH, 0.0, w)
    return recon


def _np_atrous_ksigma_recon(mat):
    """À-trous decompose -> k·MAD-per-scale hard-threshold ->
    reconstruct: the 1-D noise-model twin of X69's 2-D cleaner, as a
    scoreable helper for MT9. MAD here is the LOWER median of |w_j|
    (the sorted element at index n/2-1) — a pure selection statistic,
    chosen over the interpolated median because embeddings are
    arbitrary floats: an interpolated even-n median is (a+b)/2 in
    numpy but lower+(upper-lower)/2 in DuckDB's quantile_cont, which
    can differ in the last ulp and flip a threshold decision. The
    selection statistic is bit-identical cross-engine by construction
    (the same argument that picks half-away rounding elsewhere in
    this module)."""
    import numpy as np

    from .raster2d import ATROUS_KSIGMA_K

    n = mat.shape[1]
    levels = _np_atrous_levels(mat)
    recon = levels[-1].copy()
    for j in range(ATROUS_LEVELS):
        w = levels[j] - levels[j + 1]
        mad = np.sort(np.abs(w), axis=1)[:, n // 2 - 1]
        recon = recon + np.where(
            np.abs(w) < ATROUS_KSIGMA_K * mad[:, None], 0.0, w
        )
    return recon


@register("q_cleaner_assess", oracle=_ASSESS_ORACLE, category=CAT)
def q_cleaner_assess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT9: the cleaner-assessment metric battery (reference:
    benchmark/assess.py [UNVERIFIED-PK] — per-image MSE / normalized
    RMSE / relative total-energy error of a cleaned image against a
    reference image, then a cleaner-vs-cleaner ranking; VERDICT r08
    "What's missing" #2). THREE registered cleaners — X14 Haar, X56
    fixed-threshold à-trous, and (round 11, VERDICT r10 #4) the k·MAD
    noise-model à-trous (_np_atrous_ksigma_recon — X69's per-scale
    rule in 1-D) — same payloads — are each scored against
    the original signal (the fixture family has no separate ground-
    truth channel, so the original plays the reference image and the
    metrics measure cleaning distortion; stated plainly here and in
    MIGRATION.md). Output: one row per cleaner with the three mean
    metrics and the MSE rank (ties broken by cleaner name, mirrored
    exactly in the oracle) — X46 q_dedup_eval's detectors-vs-truth
    pattern applied to denoising.

    Determinism: per-record metrics are round(6) on both engines
    (same association story as X14/X56 — per-coefficient values are
    bit-identical, only the 64-term reductions differ in the last
    ulp, absorbed by the rounding), then the across-records means use
    the exact-decimal davg/o_davg discipline, so the final comparison
    and rank are bit-deterministic. The rank is computed by direct
    comparison of the two 1-row means frames — no window function
    anywhere.

    Scale: ONE scan of embeddings; both reconstructions run in the
    same Arrow-batched kernel (stateless, zero shuffles); the final
    aggregate is a 1-row reduce and a 2-row report frame. At 100 TB
    the assess pass costs exactly one read of the corpus.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf(
        "struct<h_mse: double, h_nrmse: double, h_ree: double, "
        "a_mse: double, a_nrmse: double, a_ree: double, "
        "k_mse: double, k_nrmse: double, k_ree: double>"
    )
    def assess(emb: pd.Series) -> pd.DataFrame:
        mat = np.stack(emb.to_numpy()).astype("float64")
        n = mat.shape[1]
        e_in = (mat * mat).sum(axis=1)

        def r6(a):
            # half-AWAY micro-rounding (the dsum discipline), matching
            # DuckDB round(x, 6) on these nonnegative metrics — not
            # np.round's half-to-even scaled-float, whose exact-0.5 tie
            # at the 6th decimal would desync the exact-decimal davg
            # means and flip the rank (ADVICE r09 #3).
            return np.floor(a * 1e6 + 0.5) / 1e6

        out = {}
        for tag, recon in (
            ("h", _np_haar_recon(mat)),
            ("a", _np_atrous_recon(mat)),
            ("k", _np_atrous_ksigma_recon(mat)),
        ):
            diff = recon - mat
            mse = (diff * diff).sum(axis=1) / n
            e_rec = (recon * recon).sum(axis=1)
            out[f"{tag}_mse"] = r6(mse)
            out[f"{tag}_nrmse"] = r6(np.sqrt(mse) / np.sqrt(e_in / n))
            out[f"{tag}_ree"] = r6(np.abs(e_rec - e_in) / e_in)
        return pd.DataFrame(out)

    e = load(spark, sf_dir, "embeddings")
    per = e.select(assess(F.col("embedding")).alias("m")).select("m.*")
    agg = per.agg(
        davg("h_mse", "h_mean_mse"),
        davg("h_nrmse", "h_mean_nrmse"),
        davg("h_ree", "h_mean_ree"),
        davg("a_mse", "a_mean_mse"),
        davg("a_nrmse", "a_mean_nrmse"),
        davg("a_ree", "a_mean_ree"),
        davg("k_mse", "k_mean_mse"),
        davg("k_nrmse", "k_mean_nrmse"),
        davg("k_ree", "k_mean_ree"),
    )

    # 3-way rank on (mean_mse, cleaner-name): strict-< against names
    # later in lex order ('atrous' < 'atrous_ksigma' < 'haar'), <=
    # against earlier — total and tie-stable, mirrored in the oracle.
    def beats(x: str, y: str, tie_wins: bool):
        cmp = F.col(x) <= F.col(y) if tie_wins else F.col(x) < F.col(y)
        return F.when(cmp, F.lit(1)).otherwise(F.lit(0))

    rnk_a = F.lit(1) + beats("k_mean_mse", "a_mean_mse", False) + beats(
        "h_mean_mse", "a_mean_mse", False
    )
    rnk_k = F.lit(1) + beats("a_mean_mse", "k_mean_mse", True) + beats(
        "h_mean_mse", "k_mean_mse", False
    )
    rnk_h = F.lit(1) + beats("a_mean_mse", "h_mean_mse", True) + beats(
        "k_mean_mse", "h_mean_mse", True
    )

    def row(tag: str, name: str, rnk) -> F.Column:
        return F.struct(
            F.lit(name).alias("cleaner"),
            F.col(f"{tag}_mean_mse").alias("mean_mse"),
            F.col(f"{tag}_mean_nrmse").alias("mean_nrmse"),
            F.col(f"{tag}_mean_ree").alias("mean_energy_err"),
            rnk.cast("long").alias("rnk"),
        )

    rows = agg.select(
        F.explode(
            F.array(
                row("a", "atrous", rnk_a),
                row("k", "atrous_ksigma", rnk_k),
                row("h", "haar", rnk_h),
            )
        ).alias("row")
    )
    return rows.select("row.*")
