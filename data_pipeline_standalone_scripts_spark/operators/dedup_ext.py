"""Deduplication & similarity-search extensions (driver mandate,
BASELINE.json:6): SimHash near-dup, embedding-cosine near-dup pairs,
and IVF-bucketed approximate nearest neighbors.

Together with llm.py (exact SHA dedup L4, Jaccard L7, MinHash-LSH L8,
brute-force cosine L9) this completes the dedup/similarity family:

    exact        : L4 sha256                 (content identity)
    token-set    : L7 Jaccard / L8 LSH       (set overlap)
    bit-sketch   : q_simhash_neardup         (Hamming on 60-bit sketch)
    vector       : q_cosine_neardup_pairs    (exact, all-pairs)
    vector @scale: q_ann_ivf                 (coarse-quantized probe)

SimHash hashes use the portable md5-based ``h60`` so fingerprint
VALUES cross the oracle boundary bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import (
    dist_row_number,
    h60,
    half_away_long_np,
    o_h60,
    quantize_micro,
    tracked_persist,
)
from .llm import (
    MH_A,
    MH_B,
    MH_P,
    N_BANDS,
    N_MINHASH,
    _dot,
    _norm_sq,
    _token_array_sides,
    _vec_double,
    minhash_candidates,
)

CAT = "dedup_ext"

SIMHASH_BITS = 60
SIMHASH_BANDS = 6  # 6 bands × 10 bits: lossless for Hamming ≤ 5 (pigeonhole)
BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
HAMMING_MAX = SIMHASH_BANDS - 1  # ≤5 differing bits ⇒ ≥1 untouched band


# SWAR bit-count packing: accumulator a (of 10) holds the popcounts of
# hash bits j = 6a+k (k = 0..5) in six 10-bit fields. Per token row the
# six bits spread to their fields with ONE multiply + mask per
# accumulator (bit k lands at position 10k because 2^k · 2^9k = 2^10k;
# the mask kills the cross terms), so the aggregation carries 10 long
# sums instead of 60 branchy conditional sums. Fields never carry into
# each other while per-doc distinct tokens < 1024 — guaranteed here
# (docs ≤ 512 chars ⇒ ≤ 257 space-split tokens) and asserted by the
# oracle equality; at larger doc sizes widen the fields (fewer per
# long, more accumulators).
_SWAR_FIELDS = 6  # hash bits (= 10-bit popcount fields) per accumulator
_SWAR_ACCS = SIMHASH_BITS // _SWAR_FIELDS  # 10 accumulators
_SWAR_MUL = sum(1 << (9 * k) for k in range(_SWAR_FIELDS))
_SWAR_MASK = sum(1 << (10 * k) for k in range(_SWAR_FIELDS))


def _simhash_fold_sql(prefix: str = "s") -> str:
    """The 60-bit majority fold — bit j set iff 2·popcount_j > n_tok —
    rendered as one SQL CASE sum over the SWAR accumulator columns
    ``{prefix}0..{prefix}9`` (plus ``n_tok``). One string, one parse:
    see the r12 note in simhash_fingerprints for why this beats the
    equivalent 60-step Column fold."""
    terms = [
        f"(CASE WHEN ((shiftright({prefix}{j // _SWAR_FIELDS},"
        f" {10 * (j % _SWAR_FIELDS)}) & 1023) * 2 > n_tok)"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash over the distinct token set.

    bit_j(doc) = sign( Σ_tokens (2·bit_j(h60(token)) − 1) ) — the
    classic Charikar sketch with unit weights, computed as
    2·popcount_j > n_tokens with the 60 popcounts SWAR-packed into 10
    long accumulators (see _SWAR_MUL). Bit-identical to the naive
    60-conditional-sum formulation (verified doc-by-doc at sf0.1);
    measured 2.2 s → 1.3 s for the fingerprint pass.

    Scale: the shuffle carries 11 long partials per (doc, partition) —
    map-side combined — then 1 row per doc. Linear in corpus size;
    this is the 100 TB-safe sketch pass.
    """
    # Repartition the RAW docs by doc_id before the ×|tokens| explode:
    # the exchange carries 1 row per doc instead of ~40 hashed token
    # rows, the explode+md5+pack work parallelizes across all cores
    # (the test parquet is a single row-group, so the scan alone is one
    # task), and the downstream groupBy(doc_id) reuses the partitioning
    # — no second exchange. Shuffle-before-expansion is the right order
    # at any scale. Measured 3.1 s → 1.6 s for the sketch pass at sf0.1.
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    ).withColumn("h", F.expr("cast(conv(substring(md5(token), 1, 15), 16, 10) as long)"))
    packed = tok.select(
        "doc_id",
        *[
            F.expr(
                f"((shiftright(h, {_SWAR_FIELDS * a}) & 63) * {_SWAR_MUL}) & {_SWAR_MASK}"
            ).alias(f"p{a}")
            for a in range(_SWAR_ACCS)
        ],
    )
    sums = packed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[F.sum(f"p{a}").alias(f"s{a}") for a in range(_SWAR_ACCS)],
    )
    # The 60-bit majority fold as ONE parsed SQL expression, not 60
    # nested Column ops (r12, guide §1.2 "per-task work"): the Column
    # fold built the identical CaseWhen/Add tree through ~180 py4j
    # calls and a per-term-cast analysis pass — measured 1.16 s vs
    # 0.47 s for this exact formulation at sf0.1 (ABBA, noop sink;
    # plan-construction time is inside the timed region in the bench
    # protocol, and the driver times queries the same way). A SWAR
    # six-fields-at-once comparison variant measured no better
    # (0.461 s) and is harder to audit, so the plain CASE sum ships.
    return sums.select("doc_id", F.expr(_simhash_fold_sql()).alias("simhash"))


_ORACLE_SIMHASH_CTE = f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ), hashed AS (
        SELECT doc_id, {o_h60("token")} AS h FROM tok
    ), bitsums AS (
        SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM hashed, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
        GROUP BY doc_id, j
    ), fps AS (
        SELECT doc_id,
               SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                        ELSE CAST(0 AS BIGINT) END) AS simhash
        FROM bitsums GROUP BY doc_id
    )
"""


@register(
    "q_simhash_neardup",
    oracle=_ORACLE_SIMHASH_CTE
    + f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
    category=CAT,
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming(simhash_a, simhash_b) ≤ 5.

    Candidate generation is banded — 6 bands × 10 bits; a pair at
    Hamming ≤ 5 cannot differ in all 6 bands (pigeonhole), so the
    band-bucket join is LOSSLESS at this radius and the oracle can be
    the brute-force all-pairs formulation: same answer, different
    physical plan. That asymmetry is the point — the engine runs the
    O(collisions) plan, the oracle proves it equals the O(n²) answer.

    Scale: band join shuffles (band, 10-bit key) buckets; exact
    Hamming check runs only inside colliding buckets. The 100 TB
    near-dup path for bit sketches, mirroring L8's MinHash shape.
    """
    # Materialize the sketch once: without persist, the self-join's two
    # branches each recompute the whole fingerprint pipeline (Catalyst
    # does not reuse the exchange across the differently-aliased
    # branches — measured 3.1 s vs 1.8 s at sf0.1). One row per doc
    # (16 bytes), MEMORY_AND_DISK, so this is the standard
    # compute-the-sketch-once pattern, not a bench trick; at 100 TB
    # you'd write fingerprints to a table and probe them many times.
    from pyspark import StorageLevel

    fps = tracked_persist(
        simhash_fingerprints(spark, sf_dir), StorageLevel.MEMORY_AND_DISK
    )
    # r13 (guide §1.2, the r12 fold lesson applied to the JOIN side):
    # plan CONSTRUCTION is inside the timed region, and this query's
    # banded self-join used to be built through ~80 Column ops (band
    # array, triangle columns, 5-clause join condition, the 21-op
    # lowest-band predicate, least/greatest emission) — measured
    # 0.58–0.83 s of py4j + per-op analysis per construction at sf0.1,
    # ~40% of the row's wall. Every expression below is now ONE parsed
    # SQL string; the analyzed tree is unchanged (pinned by the plan
    # gate + pair-identity test in tests/test_round13_opt.py).
    band_arr = ", ".join(
        f"shiftright(simhash, {b * BAND_BITS}) & {(1 << BAND_BITS) - 1}"
        for b in range(SIMHASH_BANDS)
    )
    bands = fps.selectExpr(
        "doc_id", "simhash", f"posexplode(array({band_arr})) AS (band, key)"
    )
    # Triangle decomposition of the bucket self-join. A near-dup-dense
    # corpus makes band buckets pathologically hot (this testdata: one
    # token profile shared by 248 docs ⇒ every band bucket containing
    # it does ≥30 k pair evaluations, and ALL of a bucket's quadratic
    # work lands on the ONE task that owns its (band, key) hash —
    # AQE's skew splitting can't help because the skew is in join
    # OUTPUT, invisible in the input shuffle sizes). Split each bucket
    # by doc-hash group g ∈ [0, G): task (i ≤ j) joins the bucket's
    # group-i docs against its group-j docs, so a bucket's work
    # spreads over G(G+1)/2 independently-hashed keys. Replication is
    # ~(G+1)/2 copies of the tiny (doc, band, key) stream — hundreds
    # of KB — traded against even distribution of the O(Σ n_k²) pair
    # work. Same shape as functions/skew.salted_join, specialized to
    # a self-join. Each pair is emitted exactly once: cross-group
    # pairs by the one (g_a, g_b) task with g_a < g_b (orientation
    # re-imposed on doc_id in the output), diagonal tasks by
    # doc_a < doc_b. Measured at bench settings (8 shuffle
    # partitions, sf0.1, 898 k result pairs): 11.1 s → ~3 s.
    G = 8
    a = (
        bands.selectExpr("*", f"pmod(hash(doc_id), {G}) AS ga")
        .selectExpr("*", f"explode(sequence(ga, {G - 1})) AS gb")
        .alias("a")
    )
    b = (
        bands.selectExpr("*", f"pmod(hash(doc_id), {G}) AS gb")
        .selectExpr("*", "explode(sequence(0, gb)) AS ga")
        .alias("b")
    )
    # Lowest-colliding-band emission: a qualifying pair collides in ≥1
    # band; emit it ONLY from the first band in which the fingerprints
    # agree (all lower bands of the xor must be non-zero). Each pair
    # then appears exactly once, so no distinct() is needed — on this
    # near-dup-dense corpus that dedup shuffle carried 2.7 M
    # hamming-passing collision rows at sf0.1 (measured), the single
    # biggest cost of the query. The predicate is pure bit arithmetic
    # inside the join's codegen stage. Removing it (r01 form:
    # post-join distinct) measured 4.9 s; this form 1.3 s at sf0.1.
    # Diagonal tasks (a.ga == b.gb) order within the group — strict <
    # also excludes self-pairs; off-diagonal tasks see each unordered
    # pair exactly once and cannot self-pair (one doc has one group).
    xs = "(a.simhash ^ b.simhash)"
    mask = (1 << BAND_BITS) - 1
    nz = [
        f"((shiftright({xs}, {j * BAND_BITS}) & {mask}) != 0)"
        for j in range(SIMHASH_BANDS)
    ]
    lowest_band = (
        "CASE "
        + " ".join(
            f"WHEN a.band = {bdx} THEN "
            + ("(" + " AND ".join(nz[:bdx]) + ")" if bdx else "TRUE")
            for bdx in range(SIMHASH_BANDS)
        )
        + " ELSE FALSE END"
    )
    return (
        a.join(
            b,
            F.expr(
                "a.band = b.band AND a.key = b.key AND a.ga = b.ga"
                " AND a.gb = b.gb"
                " AND (a.ga != b.gb OR a.doc_id < b.doc_id)"
            ),
        )
        .filter(F.expr(lowest_band))
        .selectExpr(
            "least(a.doc_id, b.doc_id) AS doc_a",
            "greatest(a.doc_id, b.doc_id) AS doc_b",
            f"CAST(bit_count({xs}) AS BIGINT) AS hamming",
        )
        .filter(f"hamming <= {HAMMING_MAX}")
    )


# ---- wide (120-bit) SimHash: the measured-saturation remedy --------
#
# SCALE.md (round 5) measured the 60-bit sketch's structural wall: 6
# lossless bands have only 2^10 buckets each, saturating at ~500 k
# docs (sf10 emitted 3.34 B pairs — 96× sf1 for 10× the corpus).
# Widening the sketch to 120 bits keeps Hamming-≤5 losslessness with
# the SAME 6-band pigeonhole but 2^20 buckets per band — no
# saturation until ~1 B docs. 120 bits = two 60-bit longs, each built
# exactly like the narrow sketch (portable md5 halves, SWAR popcount
# packing), so the oracle crosses bit-identically. The radius
# contract changes (Hamming 5 of 120 is a tighter similarity bar
# than 5 of 60), hence a VARIANT op, not a silent swap of X4.

WIDE_BITS = 120  # two 60-bit halves
WIDE_BANDS = 6  # pigeonhole: lossless for Hamming <= 5
WIDE_BAND_BITS = WIDE_BITS // WIDE_BANDS  # 20 -> 2^20 buckets per band


def o_h60_hi(expr: str) -> str:
    """DuckDB fragment: bits 60..119 of md5 (hex chars 17..31),
    matching the Spark high-half hash below."""
    return f"CAST(('0x' || substr(md5({expr}), 17, 15)) AS BIGINT)"


def simhash_wide_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh_lo, sh_hi) — 120-bit SimHash over the distinct
    token set, as two independently-sketched 60-bit halves fed by the
    two halves of each token's md5. Same SWAR popcount packing as the
    narrow sketch (simhash_fingerprints): per half, 10 long
    accumulators carry six 10-bit popcount fields each; fields cannot
    carry while per-doc distinct tokens < 1024 (docs ≤ 512 chars).
    Linear in corpus size — the 100 TB-safe sketch pass."""
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
        )
        .withColumn("m", F.md5("token"))
        .withColumn(
            "hlo", F.expr("cast(conv(substring(m, 1, 15), 16, 10) as long)")
        )
        .withColumn(
            "hhi", F.expr("cast(conv(substring(m, 17, 15), 16, 10) as long)")
        )
    )
    packed = tok.select(
        "doc_id",
        *[
            F.expr(
                f"((shiftright(hlo, {_SWAR_FIELDS * a}) & 63) * {_SWAR_MUL})"
                f" & {_SWAR_MASK}"
            ).alias(f"l{a}")
            for a in range(_SWAR_ACCS)
        ],
        *[
            F.expr(
                f"((shiftright(hhi, {_SWAR_FIELDS * a}) & 63) * {_SWAR_MUL})"
                f" & {_SWAR_MASK}"
            ).alias(f"h{a}")
            for a in range(_SWAR_ACCS)
        ],
    )
    sums = packed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[F.sum(f"l{a}").alias(f"sl{a}") for a in range(_SWAR_ACCS)],
        *[F.sum(f"h{a}").alias(f"sh{a}") for a in range(_SWAR_ACCS)],
    )

    # One parsed CASE-sum per half instead of a 60-step Column fold —
    # same r12 rationale (and measured win) as simhash_fingerprints.
    return sums.select(
        "doc_id",
        F.expr(_simhash_fold_sql("sl")).alias("sh_lo"),
        F.expr(_simhash_fold_sql("sh")).alias("sh_hi"),
    )


_ORACLE_SIMHASH_WIDE_CTE = f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ), hashed AS (
        SELECT doc_id, {o_h60("token")} AS hlo, {o_h60_hi("token")} AS hhi
        FROM tok
    ), bitsums AS (
        SELECT doc_id, j,
               SUM(CASE WHEN (hlo >> j) & 1 = 1 THEN 1 ELSE -1 END) AS slo,
               SUM(CASE WHEN (hhi >> j) & 1 = 1 THEN 1 ELSE -1 END) AS shi
        FROM hashed, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
        GROUP BY doc_id, j
    ), fps AS (
        SELECT doc_id,
               SUM(CASE WHEN slo > 0 THEN (CAST(1 AS BIGINT) << j)
                        ELSE CAST(0 AS BIGINT) END) AS sh_lo,
               SUM(CASE WHEN shi > 0 THEN (CAST(1 AS BIGINT) << j)
                        ELSE CAST(0 AS BIGINT) END) AS sh_hi
        FROM bitsums GROUP BY doc_id
    )
"""


@register(
    "q_simhash_wide",
    oracle=_ORACLE_SIMHASH_WIDE_CTE
    + f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sh_lo, b.sh_lo))
           + bit_count(xor(a.sh_hi, b.sh_hi)) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh_lo, b.sh_lo))
          + bit_count(xor(a.sh_hi, b.sh_hi)) <= {HAMMING_MAX}
    """,
    category=CAT,
)
def q_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X50: wide-sketch SimHash near-dup pairs — Hamming ≤ 5 on a
    120-bit sketch, the documented remedy for the 60-bit detector's
    measured band-space saturation (SCALE.md round 5: 2^10 buckets per
    band saturate at ~500 k docs; sf10 emitted 3.34 B pairs). Six
    20-bit bands give 2^20 buckets per band — the same pigeonhole
    losslessness at Hamming ≤ 5, with the bucket space deferring
    saturation to ~1 B docs. Same engine-runs-O(collisions) /
    oracle-proves-O(n²) asymmetry as X4.

    Plan shape is X4's, proven at sf10: persist the (tiny) fingerprint
    frame once; banded bucket join with triangle decomposition of hot
    buckets (near-dup clusters share ALL bands regardless of sketch
    width, so bucket skew is corpus-driven, not width-driven);
    lowest-band emission keeps each pair exactly once with zero dedup
    shuffle — the xor's lower bands must all be non-zero, pure bit
    arithmetic inside the join's codegen stage.

    Measured caveat (round 6, sf1→sf10): de-saturated banding cuts
    the sf10 pair stream 3.34 B → 345.7 M (9.7×, wall 1165 → 31.5 s),
    but the pair count is still ×82 for ×10 docs — shown CORPUS-REAL
    (lossless banding verified vs brute force on fixtures; the
    shared-vocabulary replicas genuinely have that many
    Hamming-≤5-similar sketch pairs). "Output-proportional" therefore
    means proportional to true sketch-level similarity mass, which
    for repetitive corpora grows faster than doc count.
    """
    from pyspark import StorageLevel

    fps = tracked_persist(
        simhash_wide_fingerprints(spark, sf_dir), StorageLevel.MEMORY_AND_DISK
    )
    mask = (1 << WIDE_BAND_BITS) - 1
    half_bands = WIDE_BANDS // 2  # 3 bands per 60-bit half

    def band_key(b: int) -> str:
        src = "sh_lo" if b < half_bands else "sh_hi"
        off = (b % half_bands) * WIDE_BAND_BITS
        return f"shiftright({src}, {off}) & {mask}"

    # One parsed SQL string per expression (the r13 construction-cost
    # fix shared with q_simhash_neardup — see the note there).
    band_arr = ", ".join(band_key(b) for b in range(WIDE_BANDS))
    bands = fps.selectExpr(
        "doc_id",
        "sh_lo",
        "sh_hi",
        f"posexplode(array({band_arr})) AS (band, key)",
    )
    G = 8
    a = (
        bands.selectExpr("*", f"pmod(hash(doc_id), {G}) AS ga")
        .selectExpr("*", f"explode(sequence(ga, {G - 1})) AS gb")
        .alias("a")
    )
    b = (
        bands.selectExpr("*", f"pmod(hash(doc_id), {G}) AS gb")
        .selectExpr("*", "explode(sequence(0, gb)) AS ga")
        .alias("b")
    )
    xlo = "(a.sh_lo ^ b.sh_lo)"
    xhi = "(a.sh_hi ^ b.sh_hi)"

    def band_differs(bdx: int) -> str:
        x = xlo if bdx < half_bands else xhi
        off = (bdx % half_bands) * WIDE_BAND_BITS
        return f"((shiftright({x}, {off}) & {mask}) != 0)"

    lowest_band = (
        "CASE "
        + " ".join(
            f"WHEN a.band = {bdx} THEN "
            + (
                "(" + " AND ".join(band_differs(j) for j in range(bdx)) + ")"
                if bdx
                else "TRUE"
            )
            for bdx in range(WIDE_BANDS)
        )
        + " ELSE FALSE END"
    )
    return (
        a.join(
            b,
            F.expr(
                "a.band = b.band AND a.key = b.key AND a.ga = b.ga"
                " AND a.gb = b.gb"
                " AND (a.ga != b.gb OR a.doc_id < b.doc_id)"
            ),
        )
        .filter(F.expr(lowest_band))
        .selectExpr(
            "least(a.doc_id, b.doc_id) AS doc_a",
            "greatest(a.doc_id, b.doc_id) AS doc_b",
            f"CAST(bit_count({xlo}) + bit_count({xhi}) AS BIGINT) AS hamming",
        )
        .filter(f"hamming <= {HAMMING_MAX}")
    )


TOPK_PAIRS = 50


@register(
    "q_cosine_neardup_pairs",
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ORDER BY cos_sim DESC, vec_a ASC, vec_b ASC
        LIMIT {TOPK_PAIRS}
    """,
    category=CAT,
)
def q_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: the 50 most-similar vector pairs
    (global top-k over all pairs, ties broken on ids). Top-k instead
    of a fixed threshold because the corpus is uniform-random unit
    vectors — no pair exceeds cosine 0.55, so any useful threshold
    returns ∅; top-k keeps the answer non-degenerate at every sf.

    Scale: this exact all-pairs form is the CORRECTNESS baseline and
    the verifier for candidates from q_ann_ivf / sign-LSH (SimHash on
    sign(v·r) hyperplane bits — same banding machinery as above). At
    100 TB: never run all-pairs; run it per candidate bucket.
    """
    e = load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), _vec_double().alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), _vec_double().alias("vb"))
    cos = _dot(F.col("va"), F.col("vb")) / (
        F.sqrt(_norm_sq(F.col("va"))) * F.sqrt(_norm_sq(F.col("vb")))
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_a").asc(), F.col("vec_b").asc())
        .limit(TOPK_PAIRS)
    )


N_CENTROIDS = 16
N_PROBE = 4
ANN_K = 10
N_QUERIES = 5


_ORACLE_ANN_IVF = f"""
    WITH vecs AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), centers AS (
        SELECT vec_id AS center_id, v AS cv FROM vecs WHERE vec_id < {N_CENTROIDS}
    ), assigned AS (
        SELECT vec_id, label, v, center_id FROM (
            SELECT x.vec_id, x.label, x.v, c.center_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY x.vec_id
                       ORDER BY ROUND(list_cosine_similarity(x.v, c.cv), 6) DESC,
                                c.center_id ASC) AS rn
            FROM vecs x CROSS JOIN centers c
        ) WHERE rn = 1
    ), queries AS (
        SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < {N_QUERIES}
    ), probes AS (
        SELECT query_id, qv, center_id FROM (
            SELECT q.query_id, q.qv, c.center_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                                c.center_id ASC) AS rn
            FROM queries q CROSS JOIN centers c
        ) WHERE rn <= {N_PROBE}
    )
    SELECT query_id, vec_id, label, center_id, cos_sim FROM (
        SELECT p.query_id, a.vec_id, a.label, a.center_id,
               ROUND(list_cosine_similarity(a.v, p.qv), 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY p.query_id
                   ORDER BY ROUND(list_cosine_similarity(a.v, p.qv), 6) DESC,
                            a.vec_id ASC) AS rn
        FROM assigned a JOIN probes p USING (center_id)
        WHERE a.vec_id <> p.query_id
    ) WHERE rn <= {ANN_K}
"""


@register("q_ann_ivf", oracle=_ORACLE_ANN_IVF, category=CAT)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors: coarse-
    quantize the corpus to 16 deterministic centers (the vectors with
    vec_id < 16), assign every vector to its nearest center by cosine,
    then answer each of 5 queries by scanning only its 4 nearest
    centers' buckets (nprobe=4) and taking cosine top-10.

    Full T2 (upgraded round 4 per VERDICT r03 #5): the probe schedule
    is deterministic (rounded cosine + center_id tie-break), so the
    oracle replicates assign → probe → bucket-restricted top-k in SQL
    CTEs; ``list_cosine_similarity`` reproduces the Spark fold
    bit-for-bit at 6 decimals (same proof as L9). The pytest check
    (test_approximate_ops) still asserts the structural guarantees:
    k rows per query, results ⊆ probed buckets, recall vs the exact
    brute-force top-10 at the measured floor, and determinism.

    Scale: THE standard 100 TB ANN layout — centroid table broadcasts
    (16 → thousands of rows at scale), assignment is one narrow pass,
    the corpus is then *repartitioned/bucketed by center_id* so each
    query touches nprobe partitions instead of all N vectors. Probe
    fan-out is a broadcast join of (query, probed center) pairs.
    """
    e = load(spark, sf_dir, "embeddings")
    centers = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("center_id"), _vec_double().alias("cv")
    )
    v = _vec_double()
    cos_vc = _dot(v, F.col("cv")) / (F.sqrt(_norm_sq(v)) * F.sqrt(_norm_sq(F.col("cv"))))
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("sim_c").desc(), F.col("center_id").asc()
    )
    assigned = (
        e.crossJoin(F.broadcast(centers))
        .select(
            "vec_id", "label", "embedding", "center_id", F.round(cos_vc, 6).alias("sim_c")
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "embedding", "center_id")
    )
    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _vec_double().alias("qv")
    )
    cos_qc = _dot(F.col("qv"), F.col("cv")) / (
        F.sqrt(_norm_sq(F.col("qv"))) * F.sqrt(_norm_sq(F.col("cv")))
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("sim_qc").desc(), F.col("center_id").asc()
    )
    probes = (
        queries.crossJoin(F.broadcast(centers))
        .select("query_id", "qv", "center_id", F.round(cos_qc, 6).alias("sim_qc"))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "qv", "center_id")
    )
    cand_v = _vec_double()
    cos_q = _dot(cand_v, F.col("qv")) / (
        F.sqrt(_norm_sq(cand_v)) * F.sqrt(_norm_sq(F.col("qv")))
    )
    w_topk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        assigned.join(F.broadcast(probes), "center_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", "label", "center_id", F.round(cos_q, 6).alias("cos_sim")
        )
        .withColumn("rn", F.row_number().over(w_topk))
        .filter(F.col("rn") <= ANN_K)
        .drop("rn")
    )


SHINGLE_K = 8
SHINGLE_THRESH = 0.6


@register(
    "q_shingle_jaccard",
    oracle=f"""
        WITH positions AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - {SHINGLE_K} + 1)) AS pos
            FROM documents
            WHERE length(text) >= {SHINGLE_K}
        ), grams AS (
            SELECT DISTINCT doc_id, substr(text, pos, {SHINGLE_K}) AS shingle
            FROM positions
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6)
                   AS shingle_jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common)
              >= {SHINGLE_THRESH}
    """,
    category=CAT,
)
def q_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram (shingle) Jaccard near-dup: pairs whose 8-char
    shingle SETS overlap ≥ 0.6. Complements L7's token-set Jaccard —
    shingles catch near-dups that tokenization misses (reorderings,
    punctuation edits) and are the classic input to MinHash.

    Scale: same posting-list self-join shape as L7 — quadratic in
    shingle document frequency, so at 100 TB this exact form runs only
    on LSH candidates (the L8/X4 banding machinery applies unchanged
    to shingle sets). Prefix filtering (AllPairs/PPJoin: posting-join
    only each doc's (1−t)·|S|+1 rarest shingles) was evaluated on the
    dense corpus: it cuts candidate pair-rows 6.2× (280 M → 45 M
    measured at sf0.1), but the per-candidate full-array verify it
    requires costs more than the map-side-combined count aggregation
    it saves on ~270-shingle documents — so the classic formulation
    stays.
    """
    d = load(spark, sf_dir, "documents").filter(F.length("text") >= SHINGLE_K)
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - (SHINGLE_K - 1)),
                    lambda i: F.col("text").substr(i, F.lit(SHINGLE_K)),
                )
            )
        ).alias("shingle"),
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = grams.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= SHINGLE_THRESH)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("shingle_jaccard"))
    )


LSH_PLANES = 12  # 12 sign bits → 4096 buckets
LSH_BANDS_V = 3  # probe on 3 bands of 4 bits


def _hyperplanes(spark: SparkSession):
    """Deterministic pseudo-random hyperplanes: component p of plane j
    is h60(f"{j}:{p}") scaled to [-1, 1]. No RNG state — every
    executor and every run derives identical planes from the hash.
    Returns a 1-row DataFrame with an array<array<double>> column."""
    from pyspark.sql import functions as F

    planes = F.transform(
        F.sequence(F.lit(0), F.lit(LSH_PLANES - 1)),
        lambda j: F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda p: (
                F.conv(
                    F.substring(
                        F.md5(F.concat(j.cast("string"), F.lit(":"), p.cast("string"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("double")
                / F.lit(float(2**60))
                * 2.0
                - 1.0
            ),
        ),
    )
    return spark.range(1).select(planes.alias("planes"))


def signlsh_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, sig) — 12-bit sign-LSH signature: bit j =
    [v · plane_j > 0]. The hyperplane tensor rides a 1-row broadcast
    crossJoin; the dot products are JVM-side folds."""
    e = load(spark, sf_dir, "embeddings")
    v = _vec_double()
    sig = F.aggregate(
        F.transform(
            F.col("planes"),
            lambda plane, j: F.when(
                _dot(v, plane) > 0, F.pow(F.lit(2.0), j)
            ).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.crossJoin(F.broadcast(_hyperplanes(spark))).select(
        "vec_id", "label", "embedding", sig.cast("long").alias("sig")
    )


_ORACLE_ANN_SIGNLSH = f"""
    WITH vecs AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), planes AS (
        SELECT j, list_transform(generate_series(0, 63), p ->
            CAST(CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':',
                                                     CAST(p AS VARCHAR))), 1, 15))
                      AS UBIGINT) AS DOUBLE) / pow(2.0, 60) * 2.0 - 1.0) AS plane
        FROM generate_series(0, {LSH_PLANES - 1}) t(j)
    ), sigs AS (
        SELECT vec_id, label, v,
               CAST(SUM(CASE WHEN list_dot_product(v, plane) > 0
                             THEN pow(2.0, j) ELSE 0.0 END) AS BIGINT) AS sig
        FROM vecs CROSS JOIN planes
        GROUP BY vec_id, label, v
    ), bands AS (
        SELECT vec_id, label, v, b.band, (sig >> (b.band * 4)) & 15 AS key
        FROM sigs CROSS JOIN (
            SELECT unnest(generate_series(0, {LSH_BANDS_V - 1})) AS band) b
    ), queries AS (
        SELECT vec_id AS query_id, v AS qv, band, key FROM bands
        WHERE vec_id < {N_QUERIES}
    ), cand AS (
        SELECT DISTINCT q.query_id, q.qv, b.vec_id, b.label, b.v
        FROM bands b JOIN queries q USING (band, key)
        WHERE b.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, label, cos_sim FROM (
        SELECT query_id, vec_id, label,
               ROUND(list_cosine_similarity(v, qv), 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND(list_cosine_similarity(v, qv), 6) DESC,
                            vec_id ASC) AS rn
        FROM cand
    ) WHERE rn <= {ANN_K}
"""


@register("q_ann_signlsh", oracle=_ORACLE_ANN_SIGNLSH, category=CAT)
def q_ann_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN: candidates = vectors sharing at least
    one 4-bit band of the 12-bit hyperplane signature with the query
    (same banding machinery as MinHash L8 / SimHash X4, applied to
    the vector modality); exact cosine top-10 within candidates for
    the same 5-query batch as q_ann_ivf.

    Sign-LSH preserves angle: P(bit differs) = θ/π, so near vectors
    collide in some band with high probability. pytest asserts band
    recall vs the exact top-10 and determinism.

    Full T2 (upgraded round 4 per VERDICT r03 #5): the hyperplane
    tensor is hash-derived (md5 hex → [-1, 1]), so the oracle rebuilds
    the identical planes with DuckDB's md5 + '0x' UBIGINT cast —
    IEEE-754 nearest rounding of the 60-bit integer matches Spark's
    conv().cast('double') — then replicates signature → banding →
    bucket-restricted exact top-k. The sign test ``dot > 0`` is the
    one knife-edge: both engines fold the 64 products in index order,
    so the doubles agree exactly (same proof as L9's cosine parity).

    Scale: signatures are one narrow pass (12 dots/vector); the
    candidate join is bucket-keyed (band, 4-bit key) — at 100 TB the
    corpus is written bucketed by signature band keys and each query
    touches 3 bucket files, never the full table.
    """
    sigs = signlsh_signatures(spark, sf_dir)
    bands = sigs.select(
        "vec_id",
        "label",
        "embedding",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftright(sig, {b * 4}) & 15")
                    for b in range(LSH_BANDS_V)
                ]
            )
        ).alias("band", "key"),
    )
    queries = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _vec_double().alias("qv"),
        "band",
        "key",
    )
    cand = (
        bands.join(F.broadcast(queries), ["band", "key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "vec_id", "label", "embedding")
        .distinct()
    )
    v = _vec_double()
    cos = _dot(v, F.col("qv")) / (F.sqrt(_norm_sq(v)) * F.sqrt(_norm_sq(F.col("qv"))))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        cand.select("query_id", "vec_id", "label", F.round(cos, 6).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANN_K)
        .drop("rn")
    )


# --- near-dup cluster resolution (connected components) ---------------------

_ORACLE_CC = """
    WITH RECURSIVE tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    ), edges AS (
        SELECT doc_a AS s, doc_b AS t FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.id
    ), labels AS (
        SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ), csize AS (
        SELECT cluster_id, COUNT(*) AS n FROM labels GROUP BY cluster_id
    )
    SELECT l.doc_id, l.cluster_id, CAST(c.n AS BIGINT) AS cluster_size,
           l.doc_id = l.cluster_id AS keep
    FROM labels l JOIN csize c USING (cluster_id)
"""


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``nodes``: one column ``doc_id``; ``edges``: ``(src, dst)``, must
    contain BOTH directions of every undirected edge. Returns
    ``(doc_id, cluster_id)`` where cluster_id = min doc_id reachable —
    the standard label-propagation CC (the dense-graph core of
    large-star/small-star; one hop of the min label per iteration, so
    iterations = eccentricity of each component's min node — 1–2 on
    near-dup clusters, which are clique-like by construction).

    Each iteration is one shuffle join (labels onto edge sources) plus
    one min-aggregate. Labels only ever decrease, so convergence (zero
    decreased labels) is exact, not heuristic.

    Lineage MUST be truncated every iteration — ``labels`` appears
    twice in each generation's plan (union branch + join branch), so
    the logical tree doubles per iteration and Catalyst re-analyzes an
    exponentially growing plan even though caching makes execution
    incremental. Measured here: iterations 1→4 took 2.6 s, 3.0 s,
    64.8 s, 44.0 s with persist() only; flat ~1 s/iteration with
    ``localCheckpoint(eager=True)``. On a real cluster use
    ``checkpoint()`` (reliable storage) instead of the
    executor-local variant — same truncation, survives executor loss.
    """
    edges = edges.localCheckpoint(eager=True)
    labels = nodes.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint(eager=True)
    while True:
        msgs = edges.join(labels, edges.src == labels.doc_id).select(
            F.col("dst").alias("doc_id"), "cluster_id"
        )
        new = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(labels.withColumnRenamed("cluster_id", "old_cid"), "doc_id")
            .filter(F.col("cluster_id") < F.col("old_cid"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    return labels


@register("q_dedup_clusters", oracle=_ORACLE_CC, category=CAT)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER resolution: pairs only say "a looks like
    b" — a dedup pipeline must resolve them into groups and keep one
    canonical document per group (near-dup relations are not
    transitive-closed, so a↔b and b↔c must land in ONE cluster even if
    a and c never paired). Edges are the MinHash-LSH-verified
    Jaccard ≥ 0.8 pairs (L8); components come from iterative min-label
    propagation (see ``connected_components``); canonical = the min
    doc_id of each cluster (keep=true). Singletons keep themselves.

    The oracle computes the same components via a recursive-CTE
    transitive closure — a formulation that is quadratic per cluster
    and exists only as the correctness twin; the propagation loop is
    the scale path (linear data per iteration, few iterations on
    clique-like near-dup graphs).

    Scale: the iterative loop is the one operator family where a
    driver-side loop is legitimate — each iteration is a full
    distributed join+agg; only the single `changed` count crosses to
    the driver. Cluster-scale runs add checkpoint() every ~5
    iterations and stop worrying: web-dedup components are shallow.
    """
    from pyspark import StorageLevel

    from .llm import q_minhash_lsh

    # Persist the verified pair list BEFORE mirroring it into directed
    # edges: Catalyst does not reuse a subplan across the two union
    # branches, so without the persist the whole LSH pipeline
    # (signatures → bands → verify) executes twice.
    pairs = tracked_persist(
        q_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"),
        StorageLevel.MEMORY_AND_DISK,
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    nodes = load(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components(nodes, edges)
    pairs.unpersist()  # labels is checkpointed — the LSH tree is done
    csize = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    return labels.join(csize, "cluster_id").select(
        "doc_id",
        "cluster_id",
        F.col("n").cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


# --- embedding compression --------------------------------------------------


@register(
    "q_embed_quantize",
    oracle="""
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
        ), s AS (
            SELECT vec_id, label, x,
                   list_max(list_transform(x, e -> abs(e))) / 127.0 AS scale
            FROM v
        )
        SELECT vec_id, label,
               ROUND(scale, 6) AS scale,
               ROUND(list_max(list_transform(x,
                     e -> abs(round(e / scale) * scale - e))), 6) AS max_abs_err,
               ROUND(list_cosine_similarity(x,
                     list_transform(x, e -> round(e / scale) * scale)), 6)
                   AS cos_recon
        FROM s
    """,
    category=CAT,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization with reconstruction
    metrics: per-vector scale = max|x|/127, code = round(x/scale),
    and the two numbers a compression rollout needs — worst-case
    absolute error and cosine(original, dequantized). This is the
    storage/ANN-memory step (4× smaller than float32) every
    embedding-heavy pipeline applies before indexing.

    Codes are exact on both engines (identical double division and
    half-away rounding of never-half values; max element lands on
    exactly ±127 by construction); only the reported scale/err/cos
    are floats, r6-rounded.

    Scale (rewritten round 4): Arrow-batched numpy kernel — the sf10
    run exposed the former JVM higher-order-function formulation as
    interpreted-per-element (every dq() lambda eval walks an
    expression tree; ~100 M evals at 200 k vectors = 9.9 s, 10.6x
    DuckDB). The kernel vectorizes ACROSS rows and loops SEQUENTIALLY
    across the 64 dimensions for every sum, so each accumulation
    rounds in exactly the fold order the JVM aggregate and DuckDB's
    list fold use — float values, and therefore the r6-rounded
    outputs, are bit-identical to the old formulation (parity pins
    it). float32→float64 casts are exact and so are the elementwise
    products (24-bit mantissas), leaving the sequential sum as the
    only rounding path — matched by construction. Still a pure
    narrow stage: no shuffle, partition-parallel at any corpus size.

    Half-away-from-zero rounding is common.half_away_long_np: quotients
    are never exact halves and the max element lands on exactly ±127.
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")

    def kern(batches: "object"):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            sc = np.abs(X).max(axis=1) / 127.0
            # all-zero embedding guard (ADVICE r04 #3): sc = 0 would
            # make Q inf/nan and trunc(...).astype(int64) undefined
            # (INT64_MIN on most platforms). Divide by 1 instead: the
            # zero vector quantizes to itself exactly (Y = 0, err = 0)
            # and its self-cosine is defined as 1.0 (exact recon). The
            # reported scale stays the true 0.0.
            zero = sc == 0.0
            safe = np.where(zero, 1.0, sc)
            Q = X / safe[:, None]
            Y = (
                half_away_long_np(Q)
                .astype(np.float64)
                * safe[:, None]
            )
            err = np.abs(Y - X).max(axis=1)
            dot = np.zeros(n)
            nx = np.zeros(n)
            ny = np.zeros(n)
            for j in range(X.shape[1]):  # sequential fold per dim
                dot = dot + X[:, j] * Y[:, j]
                nx = nx + X[:, j] * X[:, j]
                ny = ny + Y[:, j] * Y[:, j]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = dot / (np.sqrt(nx) * np.sqrt(ny))
            cos = np.where(zero, 1.0, cos)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "sc_raw": sc,
                    "err_raw": err,
                    "cos_raw": cos,
                }
            )

    raw = e.select("vec_id", "label", "embedding").mapInPandas(
        kern,
        schema="vec_id bigint, label int, sc_raw double, "
        "err_raw double, cos_raw double",
    )
    return raw.select(
        "vec_id",
        "label",
        F.round("sc_raw", 6).alias("scale"),
        F.round("err_raw", 6).alias("max_abs_err"),
        F.round("cos_raw", 6).alias("cos_recon"),
    )


@register(
    "q_fuzzy_name_match",
    oracle="""
        WITH named AS (
            SELECT p_partkey, p_name,
                   split_part(p_name, ' ', 1) AS tok1,
                   split_part(p_name, ' ', 2) AS tok2
            FROM part
        ), cand AS (
            SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                   a.p_name AS name_a, b.p_name AS name_b
            FROM named a JOIN named b
              ON a.tok1 = b.tok1 AND a.p_partkey < b.p_partkey
            UNION ALL
            SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
            FROM named a JOIN named b
              ON a.tok2 = b.tok2 AND a.tok1 <> b.tok1
                 AND a.p_partkey < b.p_partkey
        )
        SELECT key_a, key_b, name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist
        FROM cand
        WHERE levenshtein(name_a, name_b) BETWEEN 1 AND 2
    """,
    category=CAT,
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: part-name pairs within edit distance 2,
    banded by shared token so no all-pairs product ever forms.

    Blocking: a pair is a candidate iff it shares the first OR second
    token; it is emitted from the first-token block when possible and
    from the second-token block only when the first tokens differ
    (lowest-block emission, same no-distinct trick as
    q_simhash_neardup). `levenshtein()` has identical semantics in
    Spark and DuckDB, so the filtered pairs cross the oracle
    boundary exactly. Banded-candidate recall (not exhaustive
    lev ≤ 2) is the operator's documented contract — the standard
    trade of blocking-based entity resolution.

    Scale: two equi-joins on token blocks (shuffle by token), edit
    distance computed only inside blocks. Block skew is bounded by
    vocabulary shape; a hot token would take the q_simhash_neardup
    triangle treatment.
    """
    # Repartition the stream side: `part` is 1–2 parquet splits, and
    # with the dim side broadcast the whole quadratic block join would
    # otherwise run in the scan stage's 2 tasks (measured: 2-task
    # stage at sf0.1). Spreading the probe side parallelizes the
    # per-pair edit-distance work across every core.
    p = (
        load(spark, sf_dir, "part")
        .select(
            "p_partkey",
            "p_name",
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("tok1"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("tok2"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "p_partkey")
    )
    a, b = p.alias("a"), p.alias("b")
    # Length filter ahead of the edit-distance call: lev ≤ 2 implies
    # |len(a) − len(b)| ≤ 2, and the length compare is three codegen
    # ops against levenshtein's O(len²) DP table — it prunes inside
    # the join stage before the expensive predicate runs.
    len_ok = (
        F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))) <= 2
    )
    blk1 = a.join(
        b,
        (F.col("a.tok1") == F.col("b.tok1"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey"))
        & len_ok,
    )
    blk2 = a.join(
        b,
        (F.col("a.tok2") == F.col("b.tok2"))
        & (F.col("a.tok1") != F.col("b.tok1"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey"))
        & len_ok,
    )
    sel = [
        F.col("a.p_partkey").alias("key_a"),
        F.col("b.p_partkey").alias("key_b"),
        F.col("a.p_name").alias("name_a"),
        F.col("b.p_name").alias("name_b"),
    ]
    cand = blk1.select(*sel).unionAll(blk2.select(*sel))
    # Threshold-bounded edit distance: the 3-arg form runs a banded DP
    # that abandons a row as soon as distance 2 is exceeded (returns
    # −1), turning the O(len²) table into O(len·k) for the vast
    # majority of candidates that are far apart. Exact for every kept
    # row, so the thresholdless DuckDB oracle matches value-for-value.
    lev = F.expr("levenshtein(name_a, name_b, 2)")
    return cand.filter(lev >= 1).withColumn("edit_dist", lev.cast("long"))


_PR_DAMP = 0.85
_PR_ITERS = 3

# Oracle: the exact-Jaccard pair CTE (same SQL as L7/L8's oracle)
# feeding three unrolled damped-PageRank iterations. One iteration
# body, templated per level — both engines evaluate the identical
# expression tree, so only float addition order differs (~1e-16,
# absorbed by r6 on ~1-magnitude normalized ranks).
_PR_ITER_CTE = """
    , r{next} AS (
        SELECT d.doc_id,
               0.15 / (SELECT n FROM nn)
               + {damp} * COALESCE(SUM(r{cur}.r / dg.deg), 0.0) AS r
        FROM docs_all d
        LEFT JOIN edges e ON e.dst = d.doc_id
        LEFT JOIN r{cur} ON r{cur}.doc_id = e.src
        LEFT JOIN deg dg ON dg.doc_id = e.src
        GROUP BY d.doc_id
    )
"""

_ORACLE_PAGERANK = (
    """
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), docs_all AS (
        SELECT doc_id FROM documents
    ), nn AS (
        SELECT COUNT(*) AS n FROM documents
    ), deg AS (
        SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY 1
    ), r0 AS (
        SELECT doc_id, 1.0 / (SELECT n FROM nn) AS r FROM docs_all
    )
"""
    + "".join(
        _PR_ITER_CTE.format(next=i + 1, cur=i, damp=_PR_DAMP)
        for i in range(_PR_ITERS)
    )
    + f"""
    SELECT d.doc_id,
           COALESCE(dg.deg, 0) AS degree,
           ROUND(r{_PR_ITERS}.r * (SELECT n FROM nn), 6) AS rank_rel
    FROM docs_all d
    LEFT JOIN deg dg ON dg.doc_id = d.doc_id
    JOIN r{_PR_ITERS} ON r{_PR_ITERS}.doc_id = d.doc_id
    """
)


@register("q_pagerank_dups", oracle=_ORACLE_PAGERANK, category=CAT)
def q_pagerank_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the near-duplicate graph — 3 iterations of
    r ← 0.15/N + 0.85·Σ_nbrs r/deg on the verified Jaccard ≥ 0.8 pair
    edges, ranks reported relative to uniform (×N). Documents central
    to large near-dup cliques rank high — the dup-centrality signal a
    cleaning pipeline uses to pick cluster representatives (keep the
    most-connected copy) or to weight downsampling.

    Complements q_dedup_clusters: CC labels the components, PageRank
    orders the docs WITHIN them. Dangling-mass redistribution is
    deliberately omitted (isolated docs converge to 0.15/N); the
    oracle evaluates the identical recurrence, unrolled.

    Scale: per iteration one join of the edge list against the
    broadcast-sized rank vector and one dst-keyed aggregate — the
    standard message-passing shape. Ranks are |V|-sized (tiny next to
    |E|); at 100 TB the rank vector partitions by doc_id and the join
    co-partitions with a pre-shuffled edge list, iterations reusing
    that one edge partitioning. Float discipline: only addition order
    differs cross-engine (~1e-16 per sum, damped ×0.85 per hop), so
    r6 on ~1-magnitude values is exact in practice.
    """
    from .llm import q_minhash_lsh

    from pyspark import StorageLevel

    pairs = q_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = tracked_persist(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    docs = load(spark, sf_dir, "documents").select("doc_id")
    nn = docs.agg(F.count(F.lit(1)).alias("n"))
    deg = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    r = docs.join(F.broadcast(nn)).select(
        "doc_id", (F.lit(1.0) / F.col("n")).alias("r")
    )
    src_deg = deg.select(F.col("doc_id").alias("src"), "deg")
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(
                F.broadcast(r.select(F.col("doc_id").alias("src"), "r")), "src"
            )
            .join(F.broadcast(src_deg), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum(F.col("r") / F.col("deg")).alias("msg"))
        )
        r = (
            docs.join(contrib, "doc_id", "left")
            .join(F.broadcast(nn))
            .select(
                "doc_id",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(_PR_DAMP) * F.coalesce("msg", F.lit(0.0))
                ).alias("r"),
            )
        )
    return (
        docs.join(F.broadcast(deg), "doc_id", "left")
        .join(r, "doc_id")
        .join(F.broadcast(nn))
        .select(
            "doc_id",
            F.coalesce("deg", F.lit(0).cast("long")).alias("degree"),
            F.round(F.col("r") * F.col("n"), 6).alias("rank_rel"),
        )
    )


# --- exact set-similarity join with prefix filtering (PPJoin-style) --------


from .llm import _ORACLE_JACCARD_PAIRS  # noqa: E402


@register("q_ppjoin_neardup", oracle=_ORACLE_JACCARD_PAIRS, category=CAT)
def q_ppjoin_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X48: EXACT Jaccard-0.8 near-dup pairs via AllPairs/PPJoin
    prefix filtering (Bayardo et al., WWW'07 / Xiao et al., WWW'08) —
    the third point in the similarity-join design space: L7 is exact
    but all-pairs, L8 (MinHash-LSH) is sub-quadratic but
    probabilistic; this is exact AND pruned.

    Tokens sort by a global rarest-first order (document frequency
    asc, token asc); each doc indexes only its first
    |d| − ⌈0.8·|d|⌉ + 1 tokens. Losslessness: for J(A,B) ≥ t the
    smallest common token c has position ≤ |X| − ⌈t·|X|⌉ + 1 in BOTH
    sorted sets (|C| ≥ ⌈t·max(|A|,|B|)⌉ common tokens all follow c),
    so the prefix self-join cannot miss a qualifying pair — the
    verified output is IDENTICAL to L7's, which is exactly what the
    oracle checks. ⌈0.8·s⌉ is computed as the exact integer
    floor((4s+4)/5) — the float spelling ceil(0.8·s) is off by one at
    multiples of 5 (0.8·35 = 28.000000000000004).

    Scale: the join touches only prefix tokens (~20% of the token
    stream), and rarest-first ordering puts the LOW-df tokens in
    prefixes — the quadratic blowup of hot posting lists (the L7
    killer) collapses to df² over rare tokens only. Verification is
    an array_intersect over the candidate pairs, not a second token
    shuffle. The rank dictionary is |vocab| rows — broadcast; at
    100 TB vocab scale, replace with df-bucket rank (df asc, hash
    tie-break) computed in the same aggregation.

    Measured sf1 bound (round 7, VERDICT r06 #7): the fixture corpus
    has a 31-token vocabulary (50 k docs, ~23 distinct tokens each),
    so even the RAREST tokens post ~35 k docs and the prefix
    self-join's exact candidate count — computed from the prefix
    histogram as Σ n·(n−1)/2 in under 2 s — is 4,054,323,271. That
    4.05 B-pair stream, not any stage of this plan, is the >25-min sf1 wall. A
    posting-list cap was considered and REJECTED: dropping postings
    from a hot token silently drops true pairs, forfeiting the
    exactness that is this op's reason to exist next to L8. The
    deployment rule at 100 TB: run the histogram pre-flight first
    (seconds at any scale; it is the op's own first two stages) — on
    natural-vocabulary corpora prefix df is tiny and the join is
    cheap; on tiny-vocabulary/templated corpora PPJoin is the wrong
    tool and MinHash-LSH (L8) is the documented fallback. The
    natural-vocabulary half of that rule is MEASURED, not assumed:
    this exact op, run on a 55 k-doc corpus with a 50 k-type
    Zipf-ish vocabulary — candidate mass 7,488,933 (541× below the
    fixture), hottest posting 33 docs — completes the full exact join
    in 17.8 s recovering exactly the 5,000 planted Jaccard≥0.8 twins
    (SCALE.md round-7 table).
    """
    from .llm import _doc_tokens

    tok = _doc_tokens(spark, sf_dir)
    rank = dist_row_number(
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("df")),
        [("df", "asc"), ("token", "asc")],
        "rk",
    ).select("token", "rk")
    lists = (
        tok.join(F.broadcast(rank), "token")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "token"))),
                lambda t: t["token"],
            ).alias("toks")
        )
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("sz"),
        )
        .withColumn(
            "plen",
            F.col("sz")
            - F.floor((4 * F.col("sz") + 4) / 5).cast("int")
            + 1,
        )
    )
    prefix = lists.select(
        "doc_id",
        F.explode(F.slice("toks", 1, F.col("plen"))).alias("token"),
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "token")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    la = lists.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("ta"),
        F.col("sz").alias("sz_a"),
    )
    lb = lists.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("tb"),
        F.col("sz").alias("sz_b"),
    )
    n_common = F.size(F.array_intersect("ta", "tb"))
    jac = n_common.cast("double") / (
        F.col("sz_a") + F.col("sz_b") - n_common
    )
    return (
        cand.join(F.broadcast(la), "doc_a")
        .join(F.broadcast(lb), "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


K_MMR = 10  # MMR picks
MMR_CANDS = 50  # relevance-ranked candidate pool
# λ = 0.7 re-rank weights as exact integers: score = 7·rel − 3·max_sim
_MMR_REL_W = 7
_MMR_DIV_W = 3


@register(
    "q_mmr_rerank",
    oracle=f"""
        WITH RECURSIVE
        ev AS (SELECT vec_id, generate_subscripts(embedding,1) AS pos,
                CAST(round(CAST(unnest(embedding) AS DOUBLE)*1000000)
                     AS BIGINT) AS v
               FROM embeddings),
        qv AS (SELECT pos, v FROM ev WHERE vec_id = 0),
        cand AS (SELECT ev.vec_id AS id, SUM(ev.v * qv.v) AS rel
                 FROM ev JOIN qv USING (pos) WHERE ev.vec_id <> 0
                 GROUP BY ev.vec_id
                 ORDER BY rel DESC, id ASC LIMIT {MMR_CANDS}),
        cev AS (SELECT vec_id, pos, v FROM ev
                WHERE vec_id IN (SELECT id FROM cand)),
        ps AS (SELECT x.vec_id AS a, y.vec_id AS b, SUM(x.v * y.v) AS sim
               FROM cev x JOIN cev y USING (pos)
               WHERE x.vec_id <> y.vec_id
               GROUP BY x.vec_id, y.vec_id),
        sel AS (
          SELECT 1 AS step, [r.id] AS picked, r.id AS pick_id,
                 {_MMR_REL_W} * r.rel AS mmr_score
          FROM (SELECT id, rel FROM cand
                ORDER BY rel DESC, id ASC LIMIT 1) r
          UNION ALL
          SELECT s.step + 1, list_append(s.picked, w.id), w.id, w.score
          FROM sel s, LATERAL (
               SELECT c.id,
                      {_MMR_REL_W}*c.rel
                      - {_MMR_DIV_W}*(SELECT MAX(p.sim) FROM ps p
                                      WHERE p.a = c.id
                                        AND list_contains(s.picked, p.b))
                          AS score
               FROM cand c
               WHERE NOT list_contains(s.picked, c.id)
               ORDER BY score DESC, c.id ASC
               LIMIT 1) w
          WHERE s.step < {K_MMR}
        )
        SELECT CAST(step AS BIGINT) AS rank,
               CAST(pick_id AS BIGINT) AS vec_id,
               CAST(mmr_score AS BIGINT) AS mmr_score
        FROM sel
    """,
    category=CAT,
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X42: Maximal Marginal Relevance diversified re-ranking
    (Carbonell & Goldstein, SIGIR'98) — the retrieval step between
    ANN candidate generation and context assembly: from the top-50
    relevance candidates, greedily pick 10 maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked (λ=0.7).

    Fully value-checked despite being greedy-iterative: relevance and
    pairwise similarity are EXACT integer dot products over
    micro-quantized vectors, and λ is the integer weight pair (7,3) —
    so every candidate score is a BIGINT and each argmax (ties on
    vec_id) is engine-independent. The oracle replays the identical
    greedy loop as a recursive CTE carrying the picked set as a list.

    Scale: candidate generation is the brute-force top-k (L9's shape
    — ANN-bucketed at 100 TB), planned as one TakeOrderedAndProject;
    everything after operates on the candidate pool only (50 rows),
    so the greedy loop's cost is independent of corpus size. It runs
    as one single-partition kernel (mmr_greedy) inside the plan, the
    same driver-adjacent small-data step as q_power_iteration_pc's
    solver: building the query starts no Spark job.

    A vector whose relevance is NULL (a NULL embedding or element, or a
    length other than the query's) leaves the pool, as a NULL
    embedding leaves the oracle's; a NULL query embedding gives an
    empty result on both sides. Every pooled vector is then a full
    row of integers for the kernel.
    """
    e = load(spark, sf_dir, "embeddings")
    vec = e.select("vec_id", quantize_micro(_vec_double()).alias("xq"))
    qv = vec.filter(F.col("vec_id") == 0).select(F.col("xq").alias("qx"))
    rel = F.aggregate(
        F.zip_with("xq", "qx", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda s, t: s + t,
    )
    return (
        vec.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(F.col("vec_id").alias("id"), rel.alias("rel"), "xq")
        .filter(F.col("rel").isNotNull())
        .orderBy(F.col("rel").desc(), F.col("id").asc())
        .limit(MMR_CANDS)
        .coalesce(1)
        .mapInPandas(mmr_greedy, "rank long, vec_id long, mmr_score long")
    )


def mmr_greedy(batches):
    """q_mmr_rerank's greedy re-rank over the whole candidate pool
    (``id``, ``rel``, ``xq`` batches, one partition): yields ONE frame
    of (rank, vec_id, mmr_score), K_MMR rows or as many as the pool
    holds (empty for an empty pool).

    Pick 1 is the relevance argmax, scored 7·rel; each later pick is
    the free candidate maximizing 7·rel − 3·(max similarity to the
    picks so far), kept as a running max vector over rows of the exact
    int64 similarity matrix S = X·Xᵀ. Ties go to the smaller id.

    Overflow headroom (as for rel, the same long dot in the plan):
    unit-range embeddings give |x| ≤ 1e6 after micro-quantization, so
    |S| ≤ 64·1e12 = 6.4e13 and every |score| ≤ 10·6.4e13 — four
    orders of magnitude under int64 (the fixtures stay under 0.6)."""
    import numpy as np
    import pandas as pd

    pool = [pdf for pdf in batches if len(pdf)]
    picks, scores = [], []
    if pool:
        c = pd.concat(pool, ignore_index=True)
        ids = c["id"].to_numpy(np.int64)
        gain = _MMR_REL_W * c["rel"].to_numpy(np.int64)
        X = np.array(c["xq"].tolist(), dtype=np.int64)
        S = X @ X.T
        free = np.ones(len(ids), dtype=bool)
        score = gain
        for _ in range(min(K_MMR, len(ids))):
            cand = np.flatnonzero(free)
            best = cand[score[cand] == score[cand].max()]
            i = best[np.argmin(ids[best])]
            picks.append(ids[i])
            scores.append(score[i])
            free[i] = False
            msim = S[i] if len(picks) == 1 else np.maximum(msim, S[i])
            score = gain - _MMR_DIV_W * msim
    yield pd.DataFrame(
        {
            "rank": np.arange(1, len(picks) + 1, dtype=np.int64),
            "vec_id": np.array(picks, dtype=np.int64),
            "mmr_score": np.array(scores, dtype=np.int64),
        }
    )


SW_HEAD = 240  # align first N chars (head alignment)
SW_PAIRS = 200  # deterministic candidate budget
SW_MATCH, SW_MISMATCH, SW_GAP = 2, -1, -1


def smith_waterman_score(a: str, b: str) -> int:
    """Pure-Python Smith–Waterman local-alignment score (match +2,
    mismatch −1, gap −1) — the reference implementation the pytest
    property check uses; the operator runs the numpy-vectorized twin.

    Aligns the SAME alphabet as the operator: the UTF-8 byte sequence
    truncated to ``SW_HEAD`` bytes (the operator's numpy path does
    ``encode('utf-8')[:SW_HEAD]``). On multibyte text, char-level and
    byte-level scores differ, so the reference must share the byte
    alphabet or the equality property is brittle on non-ASCII corpora."""
    ab = a.encode("utf-8")[:SW_HEAD]
    bb = b.encode("utf-8")[:SW_HEAD]
    n, m = len(ab), len(bb)
    prev = [0] * (m + 1)
    best = 0
    for i in range(1, n + 1):
        cur = [0] * (m + 1)
        ai = ab[i - 1]
        for j in range(1, m + 1):
            s = prev[j - 1] + (SW_MATCH if ai == bb[j - 1] else SW_MISMATCH)
            cur[j] = max(0, s, prev[j] + SW_GAP, cur[j - 1] + SW_GAP)
            if cur[j] > best:
                best = cur[j]
        prev = cur
    return best


@register("q_local_alignment", oracle=None, category=CAT)
def q_local_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X43: Smith–Waterman local alignment over LSH candidate pairs —
    the fine-grained overlap verifier that runs AFTER MinHash/SimHash
    candidate generation when a pipeline needs the actual shared
    region (plagiarism/citation detection, license-text spotting),
    not just a similarity estimate. Genuinely inexpressible in SQL
    (per-pair dynamic programming), so this is the documented
    (b)-tier: an Arrow-batched pandas iterator with a numpy
    row-vectorized DP — exactly the boundary SURVEY §1.2 reserves
    for Python.

    Deterministic: the candidate budget is the first 200 LSH pairs in
    (doc_a, doc_b) order, texts truncate to a 240-char head, and the
    DP is integer arithmetic — T2w only because SQL can't replay the
    DP, not because the answer is approximate; the pytest check runs
    the pure-Python reference on sampled pairs and pins equality.

    Scale: cost is O(pairs × head²) and embarrassingly parallel over
    pairs; the head cap bounds per-pair work (full-text alignment at
    100 TB uses seeded banded alignment, same orchestration). Texts
    reach the pairs via two broadcast joins of the id-keyed head
    table — the fan-out ships 240-char heads, never full documents.

    SESSION REQUIREMENT at sf ≥ 1 (measured, round 6): the
    ``orderBy().limit()`` over the candidate stream materializes the
    FULL minhash collision shuffle (~100 GB at sf1 on this corpus).
    Under the default lz4 shuffle codec that run DIED on disk
    (java.io.IOException, 77 GB volume); under
    ``spark.io.compression.codec=zstd`` (level 3) the same family
    completes with a measured 32.7 GB peak — build the session with
    ``spark.io.compression.codec=zstd``,
    ``spark.io.compression.zstd.level=3`` and a ``spark.local.dir``
    on a large volume for ANY consumer of minhash_candidates at
    sf ≥ 1.
    """
    import pandas as pd

    cand = (
        minhash_candidates(spark, sf_dir)
        .orderBy("doc_a", "doc_b")
        .limit(SW_PAIRS)
    )
    heads = load(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, SW_HEAD).alias("head")
    )
    ha = heads.select(F.col("doc_id").alias("doc_a"), F.col("head").alias("ta"))
    hb = heads.select(F.col("doc_id").alias("doc_b"), F.col("head").alias("tb"))
    pairs = cand.join(F.broadcast(ha), "doc_a").join(F.broadcast(hb), "doc_b")

    def align(batches):
        import numpy as np

        for pdf in batches:
            scores = []
            for ta, tb in zip(pdf["ta"], pdf["tb"]):
                a = np.frombuffer(ta.encode("utf-8")[:SW_HEAD], dtype=np.uint8)
                b = np.frombuffer(tb.encode("utf-8")[:SW_HEAD], dtype=np.uint8)
                m = len(b)
                prev = np.zeros(m + 1, dtype=np.int64)
                best = 0
                for i in range(len(a)):
                    sub = np.where(b == a[i], SW_MATCH, SW_MISMATCH)
                    diag = prev[:-1] + sub
                    cur = np.maximum(diag, prev[1:] + SW_GAP)
                    np.maximum(cur, 0, out=cur)
                    # left-gap dependency is a running max along j
                    run = np.maximum.accumulate(
                        cur - np.arange(m) * SW_GAP
                    ) + np.arange(m) * SW_GAP
                    cur = np.maximum(cur, run)
                    best = max(best, int(cur.max()))
                    prev = np.concatenate(([0], cur))
                scores.append(best)
            out = pdf[["doc_a", "doc_b"]].copy()
            out["sw_score"] = pd.Series(scores, index=pdf.index, dtype="int64")
            out["align_frac"] = out["sw_score"] / (2.0 * SW_HEAD)
            yield out

    return pairs.mapInPandas(
        align, "doc_a long, doc_b long, sw_score long, align_frac double"
    )


_MH_SIG_COLS = ", ".join(
    f"MIN(({_A} * x + {_B}) % {MH_P}) AS s{i}"
    for i, (_A, _B) in enumerate(zip(MH_A, MH_B))
)
# Band-match predicate derived from llm.py's banding constants so the
# oracle's candidate set cannot silently drift from the engine's if
# N_MINHASH / N_BANDS ever change (ADVICE r06).
_MH_ROWS_PER_BAND = N_MINHASH // N_BANDS
_MH_BAND_MATCH = " OR ".join(
    "("
    + " AND ".join(
        f"a.s{b * _MH_ROWS_PER_BAND + r} = b.s{b * _MH_ROWS_PER_BAND + r}"
        for r in range(_MH_ROWS_PER_BAND)
    )
    + ")"
    for b in range(N_BANDS)
)

_ORACLE_DEDUP_EVAL = f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), truth AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    ), hashed AS (
        SELECT doc_id, {o_h60("token")} AS h FROM tok
    ), bitsums AS (
        SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM hashed, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
        GROUP BY doc_id, j
    ), fps AS (
        SELECT doc_id,
               SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                        ELSE CAST(0 AS BIGINT) END) AS simhash
        FROM bitsums GROUP BY doc_id
    ), pred_sim AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    ), mh_hashed AS (
        -- the engine's portable Carter–Wegman family (llm.py
        -- minhash_candidates): x = 31-bit reduction of the 60-bit
        -- md5 token hash; per-i (A_i·x + B_i) mod 2^31−1 literals
        SELECT doc_id, {o_h60("token")} % {MH_P} AS x
        FROM tok
    ), mh_sig AS (
        SELECT doc_id, {_MH_SIG_COLS} FROM mh_hashed GROUP BY doc_id
    ), mh_cand AS (
        -- banded candidates recomputed from structure (round 6: this
        -- row was previously hardcoded to the truth set, which was
        -- only sound while banding recall = 1 on the given corpus)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mh_sig a JOIN mh_sig b ON a.doc_id < b.doc_id
        WHERE {_MH_BAND_MATCH}
    ), pred_mh AS (
        -- verified detector output = candidates that pass the exact
        -- Jaccard >= 0.8 check, i.e. candidates ∩ truth
        SELECT c.doc_a, c.doc_b FROM mh_cand c
        JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    ), counts AS (
        SELECT 'simhash_h5' AS sketch,
               (SELECT COUNT(*) FROM pred_sim) AS n_pred,
               (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM pred_sim p
                JOIN truth t ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b) AS tp
        UNION ALL
        SELECT 'minhash_lsh_verified',
               (SELECT COUNT(*) FROM pred_mh),
               (SELECT COUNT(*) FROM truth),
               (SELECT COUNT(*) FROM pred_mh)
    )
    SELECT sketch,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(tp AS BIGINT) AS tp,
           CAST(n_pred - tp AS BIGINT) AS fp,
           CAST(n_truth - tp AS BIGINT) AS fn,
           round(CAST(tp AS DOUBLE) / NULLIF(n_pred, 0), 6) AS precision,
           round(CAST(tp AS DOUBLE) / NULLIF(n_truth, 0), 6) AS recall
    FROM counts
"""


@register("q_dedup_eval", oracle=_ORACLE_DEDUP_EVAL, category=CAT)
def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46: dedup-quality evaluation — precision/recall of BOTH
    production near-dup detectors against exact token-set Jaccard
    ≥ 0.8 ground truth, one report row per sketch. This is the
    measurement a pipeline runs BEFORE trusting a sketch at scale:
    each detector targets its own similarity notion, so the confusion
    counts (not an assumption) rank them for the corpus at hand.

    - ``simhash_h5``: the raw SimHash Hamming ≤ 5 detector, evaluated
      as-is (it ships pairs without verification).
    - ``minhash_lsh_verified``: the MinHash-LSH detector at its
      production shape — banded candidates → exact Jaccard verify —
      so its precision is 1.0 by construction and its recall equals
      the banding's candidate recall. Round 6: the detector's hash
      family — 32 independent Carter–Wegman draws ((A_i·x + B_i) mod
      2^31−1, literals in llm.py; the correlated h1 + i·h2 slope
      family was tried and REJECTED, recall 0.82) — is
      SQL-replicable, so
      the oracle recomputes signatures, banding, and the candidate
      set from structure — this row is now corpus-independent (it was
      previously hardcoded to the truth set, sound only while banding
      recall = 1 on the given corpus; VERDICT r05 #7). The candidate
      stage's own precision is a COST metric, measured in
      q_minhash_lsh's docstring, not a quality one.

    Composition, not new machinery: predictions come from the two
    registered detectors, truth from q_jaccard_neardup's exact
    intersection counts; the confusion matrix is one left join +
    per-sketch aggregation. Exact integer counts; ratios round once.

    Measured on this corpus (round 4, sf0.001/sf0.01): simhash
    precision 0.946 / recall 0.297, minhash precision 1.0 / recall
    1.0 — the ranking the curation funnel cites (VERDICT r03 #6):
    SimHash's Hamming ≤ 5 radius is strongly precision-biased against
    Jaccard ≥ 0.8 truth because SimHash approximates COSINE of the
    token indicator vectors, not Jaccard; a pipeline that needs
    recall routes through MinHash-LSH (banding tuned to the Jaccard
    threshold) and uses SimHash as the cheap precision-side
    confirmer. The oracle's minhash row is computed from structure
    (signatures → banding → candidates ∩ truth in SQL CTEs), so the
    check holds on ANY corpus — including one where banding recall
    drops below 1 — and pytest additionally pins candidates ⊇ truth
    on the fixtures.

    Scale: the exact-truth side is the all-pairs verifier — corpus-wide
    it is quadratic in hot-token document frequency, so at 100 TB this
    evaluation runs on a uniform document SAMPLE (the standard
    estimator protocol for dedup quality), while the prediction side
    is the production-scale banded join either way.
    """
    from .llm import q_jaccard_neardup, q_minhash_lsh

    truth = q_jaccard_neardup(spark, sf_dir).select("doc_a", "doc_b")
    preds = q_simhash_neardup(spark, sf_dir).select(
        F.lit("simhash_h5").alias("sketch"), "doc_a", "doc_b"
    ).unionByName(
        q_minhash_lsh(spark, sf_dir).select(
            F.lit("minhash_lsh_verified").alias("sketch"), "doc_a", "doc_b"
        )
    )
    stats = preds.join(
        truth.withColumn("is_tp", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).groupBy("sketch").agg(
        F.count(F.lit(1)).alias("n_pred"),
        F.sum(F.coalesce("is_tp", F.lit(0))).alias("tp"),
    )
    # Two-row sketch spine (ADVICE r04 #2): a detector that emits zero
    # pairs on some corpus must still produce its report row
    # (n_pred = tp = 0, recall 0) — groupBy alone would drop it and
    # desync from the oracle's fixed two-row output.
    spine = spark.createDataFrame(
        [("simhash_h5",), ("minhash_lsh_verified",)], "sketch string"
    )
    stats = spine.join(stats, "sketch", "left").select(
        "sketch",
        F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
        F.coalesce("tp", F.lit(0)).alias("tp"),
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return stats.crossJoin(F.broadcast(n_truth)).select(
        "sketch",
        F.col("n_pred").cast("long"),
        F.col("n_truth").cast("long"),
        F.col("tp").cast("long"),
        (F.col("n_pred") - F.col("tp")).cast("long").alias("fp"),
        (F.col("n_truth") - F.col("tp")).cast("long").alias("fn"),
        F.round(
            F.col("tp").cast("double") / F.nullif(F.col("n_pred"), F.lit(0)),
            6,
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double") / F.nullif(F.col("n_truth"), F.lit(0)),
            6,
        ).alias("recall"),
    )


_ORACLE_RADIUS_SWEEP = f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), truth AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    ), hashed AS (
        SELECT doc_id, {o_h60("token")} AS h FROM tok
    ), bitsums AS (
        SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM hashed, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
        GROUP BY doc_id, j
    ), fps AS (
        SELECT doc_id,
               SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                        ELSE CAST(0 AS BIGINT) END) AS simhash
        FROM bitsums GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    ), ham_stats AS (
        SELECT hamming,
               COUNT(*) AS n_pairs,
               SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS n_tp
        FROM pairs p
        LEFT JOIN truth t ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
        GROUP BY hamming
    ), radii AS (
        SELECT unnest(generate_series(0, {HAMMING_MAX})) AS radius
    ), cum AS (
        SELECT r.radius,
               COALESCE(SUM(h.n_pairs), 0) AS n_pred,
               COALESCE(SUM(h.n_tp), 0) AS tp
        FROM radii r LEFT JOIN ham_stats h ON h.hamming <= r.radius
        GROUP BY r.radius
    )
    SELECT CAST(radius AS BIGINT) AS radius,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST(tp AS BIGINT) AS tp,
           CAST(n_pred - tp AS BIGINT) AS fp,
           CAST((SELECT COUNT(*) FROM truth) - tp AS BIGINT) AS fn,
           round(CAST(tp AS DOUBLE) / NULLIF(n_pred, 0), 6) AS precision,
           round(CAST(tp AS DOUBLE) / NULLIF((SELECT COUNT(*) FROM truth), 0), 6)
               AS recall
    FROM cum
"""


@register("q_dedup_radius_sweep", oracle=_ORACLE_RADIUS_SWEEP, category=CAT)
def q_dedup_radius_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X49 (round 4): the SimHash OPERATING CURVE — precision/recall
    vs exact Jaccard ≥ 0.8 truth at every Hamming radius 0..5, one
    row per radius. X46 reports the shipped radius's single point;
    this op is how that radius gets CHOSEN: sweep the curve once,
    read off the knee. (On this corpus: precision degrades only
    1.0 → 0.946 across the whole band-covered range while recall
    climbs 0.013 → 0.297 — confirming the radius-5 choice maxes
    recall at negligible precision cost, and that MORE recall
    requires the MinHash path, not a wider SimHash radius.)

    Free at production cost: the banded candidate join already emits
    each surviving pair's exact Hamming distance, so the sweep is ONE
    ≤6-row histogram aggregate over the existing pair stream + a
    broadcast cumulative join against the radius spine — no new
    corpus pass, no per-radius re-run. The oracle replicates
    fingerprints → all-pairs Hamming → cumulative confusion in SQL.

    Scale: identical to q_simhash_neardup (the pair stream dominates;
    everything after is ≤6 rows) + the truth join, which at 100 TB
    runs on a document sample exactly as X46 documents.
    """
    from .llm import q_jaccard_neardup

    pred = q_simhash_neardup(spark, sf_dir)
    truth = q_jaccard_neardup(spark, sf_dir).select("doc_a", "doc_b")
    ham_stats = (
        pred.join(truth.withColumn("is_tp", F.lit(1)), ["doc_a", "doc_b"], "left")
        .groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.coalesce("is_tp", F.lit(0))).alias("n_tp"),
        )
    )
    radii = spark.range(HAMMING_MAX + 1).select(F.col("id").alias("radius"))
    cum = (
        radii.alias("r")
        .join(
            F.broadcast(ham_stats.alias("h")),
            F.col("h.hamming") <= F.col("r.radius"),
            "left",
        )
        .groupBy("radius")
        .agg(
            F.coalesce(F.sum("n_pairs"), F.lit(0)).alias("n_pred"),
            F.coalesce(F.sum("n_tp"), F.lit(0)).alias("tp"),
        )
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return cum.crossJoin(F.broadcast(n_truth)).select(
        F.col("radius").cast("long"),
        F.col("n_pred").cast("long"),
        F.col("n_truth").cast("long"),
        F.col("tp").cast("long"),
        (F.col("n_pred") - F.col("tp")).cast("long").alias("fp"),
        (F.col("n_truth") - F.col("tp")).cast("long").alias("fn"),
        F.round(
            F.col("tp").cast("double") / F.nullif(F.col("n_pred"), F.lit(0)), 6
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double") / F.nullif(F.col("n_truth"), F.lit(0)),
            6,
        ).alias("recall"),
    )


# --- round-7 additions: substring-window dedup + containment ----------------

SUBSTR_K = 12  # tokens per window (Lee et al. use 50 BPE tokens; the
#                fixture's ≤257-token docs get a proportionate window)


def _window_hashes(spark: SparkSession, sf_dir: str, generator) -> DataFrame:
    """doc_id plus ``generator`` (an aliased explode or posexplode)
    over the array of ``h60`` hashes of each document's SUBSTR_K-token
    windows, in token order — the stream X51 and X53 elect window
    owners over. The ×(|doc|−K+1) explode happens AFTER a doc_id
    repartition, so the wide rows never cross an exchange (the
    winnowing lesson, textpipe.py:243). The generator is applied to
    the hash expression itself: exploding a projected array column
    instead lets Catalyst infer a non-empty filter on it below the
    repartition, hashing every window twice."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    return (
        d.filter(F.size("t") >= SUBSTR_K)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            generator(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (SUBSTR_K - 1)),
                    lambda p: h60(
                        F.concat_ws(" ", F.slice(F.col("t"), p, SUBSTR_K))
                    ),
                )
            ),
        )
    )


@register(
    "q_substring_dedup",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), wins AS (
            SELECT doc_id,
                   {o_h60(f"array_to_string(t[pos:pos+{SUBSTR_K - 1}], ' ')")}
                       AS wh
            FROM (
                SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - {SUBSTR_K - 1}))
                           AS pos
                FROM toks WHERE len(t) >= {SUBSTR_K}
            )
        ), wdoc AS (
            SELECT wh, doc_id, COUNT(*) AS occ FROM wins GROUP BY 1, 2
        ), owned AS (
            SELECT wh, doc_id, occ,
                   MIN(doc_id) OVER (PARTITION BY wh) AS owner
            FROM wdoc
        )
        SELECT doc_id,
               CAST(SUM(occ) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN owner < doc_id THEN occ ELSE 0 END)
                    AS BIGINT) AS n_dup_windows,
               round(CAST(SUM(CASE WHEN owner < doc_id THEN occ ELSE 0 END)
                          AS DOUBLE) / SUM(occ), 6) AS dup_ratio
        FROM owned GROUP BY doc_id
    """,
    category=CAT,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X51: cross-document substring-duplication report — the
    Spark-first re-expression of exact-substring training-data dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"). Every K-token window is hashed; a window is a
    DUPLICATE if the same window text occurs in any LOWER-doc_id
    document (first occurrence owns it). Per doc: total windows,
    duplicated windows, duplication ratio — the signal a pipeline
    thresholds to drop or trim boilerplate-heavy documents. Doc-level
    near-dup (L7/L8/X4) misses partial overlap (a quoted paragraph,
    a shared header); this catches exactly that.

    Not a suffix array: the reference algorithm builds one (fine on a
    single node, hostile to shuffle). Min-owner over rolling window
    hashes gives the same duplicated-span detection with three
    map-combinable exchanges, each on thin (hash, doc, count) rows:
    (1) per-(window, doc) occurrence counts — the map-side combine
    collapses within-doc repeats BEFORE the shuffle; (2) a
    window-keyed MIN to elect the owner; (3) the per-doc rollup.
    The window stream is _window_hashes (explode after a doc_id
    repartition).

    Windows are hashed with the portable ``h60`` (md5-based) so the
    values cross the oracle boundary; a production deployment would
    swap xxhash64 for md5 (same plan, cheaper hash).

    Measured (round 7, sf10, same-session): 12.6 s vs DuckDB 3.6 s
    (~3.5x — the JVM-vs-vectorized string-hash CPU class, same family
    as wordcount/boilerplate; ~100 M window md5s dominate).
    Alternatives measured and rejected: repartitioning the exploded
    stream by wh so the (wh,doc) agg and the owner window share one
    exchange ran 7% SLOWER (13.6 vs 12.6 median, interleaved ABBA —
    the explicit exchange moves the same 100 M rows but forfeits
    AQE's coalescing of the agg exchange); a Python-side Arrow kernel
    loses outright because per-window hashing needs 100 M hashlib
    calls (the C-Counter trick that saved wordcount does not apply —
    hashing, not counting, is the hot loop here).
    """
    wdoc = (
        _window_hashes(spark, sf_dir, lambda a: F.explode(a).alias("wh"))
        .groupBy("wh", "doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    owned = wdoc.withColumn(
        "owner", F.min("doc_id").over(Window.partitionBy("wh"))
    )
    dup_occ = F.sum(F.when(F.col("owner") < F.col("doc_id"), F.col("occ")).otherwise(F.lit(0)))
    return owned.groupBy("doc_id").agg(
        F.sum("occ").cast("long").alias("n_windows"),
        dup_occ.cast("long").alias("n_dup_windows"),
        F.round(dup_occ.cast("double") / F.sum("occ"), 6).alias("dup_ratio"),
    )


CONTAIN_THRESH = 0.9

_ORACLE_CONTAINMENT = f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
    ), mh_hashed AS (
        SELECT doc_id, {o_h60("token")} % {MH_P} AS x FROM tok
    ), mh_sig AS (
        SELECT doc_id, {_MH_SIG_COLS} FROM mh_hashed GROUP BY doc_id
    ), mh_cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mh_sig a JOIN mh_sig b ON a.doc_id < b.doc_id
        WHERE {_MH_BAND_MATCH}
    ), inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM mh_cand c
        JOIN tok a ON a.doc_id = c.doc_a
        JOIN tok b ON b.doc_id = c.doc_b AND b.token = a.token
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(n_common AS DOUBLE) / LEAST(sa.sz, sb.sz), 6)
               AS containment,
           CASE WHEN sa.sz <= sb.sz THEN i.doc_a ELSE i.doc_b END AS inner_doc
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(n_common AS DOUBLE) / LEAST(sa.sz, sb.sz) >= {CONTAIN_THRESH}
"""


@register("q_minhash_containment", oracle=_ORACLE_CONTAINMENT, category=CAT)
def q_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X52: near-SUBSET detection — exact token-set containment
    |A∩B| / min(|A|,|B|) ≥ 0.9 evaluated on the MinHash-LSH candidate
    stream. Jaccard misses asymmetric duplication (a document embedded
    inside a much longer one has high containment but low Jaccard);
    containment is the standard complement (Broder's original
    resemblance/containment pair). ``inner_doc`` names the smaller
    (contained) side — the one a dedup pass would drop or trim.

    Scale: identical orchestration to L8 — linear signature pass,
    banded candidates, exact verify via codegen array_intersect on
    hashed token arrays; never an all-pairs join. The verify join
    takes L8's size guard (llm._token_array_sides): broadcast only
    while the documents table is known to be ≤ 512 MB on disk; above
    that, or at unknown size, the hint is dropped and AQE picks the
    strategy.
    Caveat (documented, shared with L8): banding targets Jaccard, so
    a tiny-doc-inside-huge-doc pair can have containment 1.0 yet low
    Jaccard and be missed by the candidate stage; a production
    containment pass over asymmetric sizes uses the prefix/posting
    route (X48) or per-size-band LSH instead. On this corpus the
    pytest invariant pins candidates ⊇ the containment-qualifying
    pairs the oracle reports.

    SESSION REQUIREMENT at sf ≥ 1 (measured, round 7): this op
    consumes ``minhash_candidates`` verbatim, so it inherits the
    ~100 GB lz4 shuffle appetite measured for that stream — a default
    session DIED on disk at sf1 (SPILL_OUT_OF_MEMORY / No space
    left). Use the zstd session recipe in q_local_alignment's
    docstring (SCALE.md determinism ledger).
    """
    cand = minhash_candidates(spark, sf_dir)
    aa, bb = _token_array_sides(spark, sf_dir)
    n_common = F.size(F.array_intersect("ta", "tb"))
    cont = n_common.cast("double") / F.least(F.size("ta"), F.size("tb"))
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .filter(cont >= CONTAIN_THRESH)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 6).alias("containment"),
            F.when(F.size("ta") <= F.size("tb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("inner_doc"),
        )
    )


@register(
    "q_dup_span_trim",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), wins AS (
            SELECT doc_id, pos,
                   {o_h60(f"array_to_string(t[pos:pos+{SUBSTR_K - 1}], ' ')")}
                       AS wh
            FROM (
                SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - {SUBSTR_K - 1}))
                           AS pos
                FROM toks WHERE len(t) >= {SUBSTR_K}
            )
        ), owned AS (
            SELECT doc_id, pos,
                   MIN(doc_id) OVER (PARTITION BY wh) AS owner
            FROM wins
        ), dups AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                  ORDER BY pos)
                             > {SUBSTR_K - 1}
                             OR lag(pos) OVER (PARTITION BY doc_id
                                               ORDER BY pos) IS NULL
                        THEN 1 ELSE 0 END AS brk
            FROM owned WHERE owner < doc_id
        ), islands AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
            FROM dups
        )
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + {SUBSTR_K - 1} AS BIGINT) AS span_end,
               CAST(MAX(pos) + {SUBSTR_K - 1} - MIN(pos) + 1 AS BIGINT)
                   AS span_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_windows
        FROM islands GROUP BY doc_id, isl
    """,
    category=CAT,
)
def q_dup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53: maximal duplicated SPANS per document — the actual "trim"
    output of exact-substring dedup (Lee et al. 2022 drop the
    duplicated span, not the document). X51 elects a min-doc_id owner
    per K-token window; here each non-owning window marks its K-token
    interval [pos, pos+K-1] and overlapping/adjacent intervals merge
    into maximal spans by the classic gaps-and-islands sweep: equal
    window length means a new island starts exactly when the gap
    between consecutive duplicated positions exceeds K-1. Output is
    one row per (doc, span): token-coordinate start/end, span width,
    contributing window count — directly consumable by a trimming
    pass (slice the token array outside the spans).

    All integer arithmetic end to end — positions, gaps and island
    ids are exact in both engines; no float column exists.

    Scale: the owner election is X51's window-hash MIN (one thin
    keyed exchange); the island sweep is two doc_id-partitioned
    window passes over only the DUPLICATED positions (lag + running
    sum — bounded by dup density, not corpus size). Same
    shuffle-before-expansion discipline: the window stream is
    X51's _window_hashes.
    """
    wins = (
        _window_hashes(
            spark, sf_dir, lambda a: F.posexplode(a).alias("pos0", "wh")
        ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "wh")
    )
    owned = wins.withColumn(
        "owner", F.min("doc_id").over(Window.partitionBy("wh"))
    )
    dup = owned.filter(F.col("owner") < F.col("doc_id")).select(
        "doc_id", "pos"
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w_doc).isNull()
        | ((F.col("pos") - F.lag("pos").over(w_doc)) > (SUBSTR_K - 1)),
        1,
    ).otherwise(0)
    islands = dup.withColumn("brk", brk).withColumn(
        "isl",
        F.sum("brk").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return islands.groupBy("doc_id", "isl").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (SUBSTR_K - 1)).cast("long").alias("span_end"),
        (F.max("pos") + (SUBSTR_K - 1) - F.min("pos") + 1)
        .cast("long")
        .alias("span_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
    ).drop("isl")
