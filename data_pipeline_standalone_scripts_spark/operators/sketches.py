"""Deterministic probabilistic-sketch operators: Bloom-filter
pre-filtering and count-min-sketch frequency estimation.

Together with HLL (A3 approx_distinct), the mergeable quantile sketch
(A14), MinHash (L8) and SimHash (X4), these complete the sketch
toolbox a 100 TB pipeline leans on. Unlike A3/A14 (engine-native,
T2w rows-only), BOTH ops here build the sketch from the portable
``h60`` hash, so the full sketch CONTENTS — including hash collisions
and false positives — are bit-identical in DuckDB and the queries are
fully T2 value-checked: the oracle replays the identical construction
and must reproduce every collision.

Scale notes:
- The Bloom build side is a ≤2048-row bitmap table (64 KB) broadcast
  to every executor; the probe is k broadcast-hash lookups fused into
  the fact scan stage — ZERO shuffle of the fact table. This is the
  materialized form of the runtime-filter pattern (Spark's own
  `spark.sql.optimizer.runtime.bloomFilter` does this plan-side);
  spelling it out makes the mechanism graded and portable.
- The CMS build is one map-side-combinable agg over (row, counter)
  keys — d×w counters total regardless of stream size — and the
  estimate pass is a broadcast join of that tiny table. Linear scan,
  constant state: the classic heavy-hitter sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import h60, o_h60, tracked_persist

CAT = "sketches"

# Bloom: m = 2^16 bits packed 32-per-word (mask stays positive in a
# BIGINT on both engines — bit 63 two's-complement edge avoided),
# k = 4 salted h60 hashes.
_BLOOM_M = 1 << 16
_BLOOM_K = 4

# CMS: d = 3 hash rows × w = 16 counters — deliberately undersized so
# the ~40-token vocabulary actually collides and the oracle must
# reproduce the exact overestimates.
_CMS_D = 3
_CMS_W = 16


def _bloom_h_spark(key, i: int):
    return h60(F.concat(F.lit(f"bloom{i}:"), key.cast("string"))) % _BLOOM_M


def _bloom_h_duck(key: str, i: int) -> str:
    salted = f"'bloom{i}:' || CAST({key} AS VARCHAR)"
    return f"({o_h60(salted)}) % {_BLOOM_M}"


@register(
    "q_bloom_prefilter",
    oracle=f"""
        WITH dim AS (
            SELECT DISTINCT s_suppkey
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ), hashed AS (
            SELECT {_bloom_h_duck('s_suppkey', 0)} AS h FROM dim
            UNION ALL SELECT {_bloom_h_duck('s_suppkey', 1)} FROM dim
            UNION ALL SELECT {_bloom_h_duck('s_suppkey', 2)} FROM dim
            UNION ALL SELECT {_bloom_h_duck('s_suppkey', 3)} FROM dim
        ), words AS (
            SELECT h // 32 AS w,
                   bit_or(CAST(1 AS BIGINT) << (h % 32)) AS bits
            FROM hashed GROUP BY 1
        ), probe AS (
            SELECT l_returnflag, l_suppkey,
                   {_bloom_h_duck('l_suppkey', 0)} AS h0,
                   {_bloom_h_duck('l_suppkey', 1)} AS h1,
                   {_bloom_h_duck('l_suppkey', 2)} AS h2,
                   {_bloom_h_duck('l_suppkey', 3)} AS h3
            FROM lineitem
        ), passed AS (
            SELECT p.l_returnflag, p.l_suppkey
            FROM probe p
            LEFT JOIN words w0 ON w0.w = p.h0 // 32
            LEFT JOIN words w1 ON w1.w = p.h1 // 32
            LEFT JOIN words w2 ON w2.w = p.h2 // 32
            LEFT JOIN words w3 ON w3.w = p.h3 // 32
            WHERE (COALESCE(w0.bits, 0) >> (p.h0 % 32)) & 1 = 1
              AND (COALESCE(w1.bits, 0) >> (p.h1 % 32)) & 1 = 1
              AND (COALESCE(w2.bits, 0) >> (p.h2 % 32)) & 1 = 1
              AND (COALESCE(w3.bits, 0) >> (p.h3 % 32)) & 1 = 1
        )
        SELECT l_returnflag,
               COUNT(*) AS n_pass,
               COUNT(*) FILTER (WHERE d.s_suppkey IS NOT NULL) AS n_member,
               COUNT(*) FILTER (WHERE d.s_suppkey IS NULL) AS n_false_pos
        FROM passed
        LEFT JOIN dim d ON passed.l_suppkey = d.s_suppkey
        GROUP BY l_returnflag
    """,
    category=CAT,
)
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK1: Bloom-filter pre-filter of the fact table against a
    dim-side key set (suppliers in EUROPE), with exact false-positive
    accounting.

    The 2^16-bit filter is built from the dim side as a ≤2048-row
    (word, bits) bitmap, broadcast, and probed with k=4 salted h60
    hashes — four broadcast-hash lookups in the fact scan stage, no
    fact shuffle. The result reports, per returnflag, how many rows
    the filter passed, how many are true members (verified by the
    exact broadcast semi-check), and how many are false positives —
    the sketch's contract made visible and value-checked, collisions
    included.

    Scale: this is the runtime-filter/DPP pattern — ship an O(m)-bit
    summary of a selective dim to the fact scan so non-matching rows
    die before the join shuffle. At 100 TB the bitmap broadcast is
    KBs; the avoided shuffle is TBs.
    """
    from pyspark import StorageLevel

    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    # Persisted: the k hash rows, and the exact membership check at the
    # end, all consume this join — without the persist each branch
    # re-executes the 3-table join + distinct (no cross-branch plan
    # reuse; the r02 review's finding).
    dim = (
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg.filter(F.col("r_name") == "EUROPE"), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey")
        .distinct()
    )
    dim = tracked_persist(dim, StorageLevel.MEMORY_AND_DISK)
    hashed = dim.select(
        F.explode(
            F.array(
                *[
                    _bloom_h_spark(F.col("s_suppkey"), i)
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("h")
    )
    words = hashed.groupBy(F.expr("h div 32").alias("w")).agg(
        F.bit_or(
            F.expr("shiftleft(cast(1 as bigint), cast(h % 32 as int))")
        ).alias("bits")
    )
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_suppkey")
    probe = li.select(
        "l_returnflag",
        "l_suppkey",
        *[
            _bloom_h_spark(F.col("l_suppkey"), i).alias(f"h{i}")
            for i in range(_BLOOM_K)
        ],
    )
    passed = probe
    for i in range(_BLOOM_K):
        wi = words.select(
            F.col("w").alias(f"w{i}_idx"), F.col("bits").alias(f"bits{i}")
        )
        passed = passed.join(
            F.broadcast(wi),
            F.expr(f"h{i} div 32") == F.col(f"w{i}_idx"),
            "left",
        ).filter(
            F.expr(
                f"(shiftright(coalesce(bits{i}, cast(0 as bigint)), "
                f"cast(h{i} % 32 as int)) & 1) = 1"
            )
        )
    member = dim.select(F.col("s_suppkey").alias("m_suppkey"))
    return (
        passed.join(F.broadcast(member), passed.l_suppkey == member.m_suppkey, "left")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_pass"),
            F.count("m_suppkey").alias("n_member"),
            F.sum(F.when(F.col("m_suppkey").isNull(), 1).otherwise(0)).alias(
                "n_false_pos"
            ),
        )
    )


def _cms_h_duck(i: int) -> str:
    salted = f"'cms{i}:' || token"
    return f"({o_h60(salted)}) % {_CMS_W}"


@register(
    "q_cms_frequency",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ), exact AS (
            SELECT token, COUNT(*) AS exact_n FROM tok GROUP BY 1
        ), keyh AS (
            SELECT token, exact_n, 0 AS i, {_cms_h_duck(0)} AS c FROM exact
            UNION ALL SELECT token, exact_n, 1, {_cms_h_duck(1)} FROM exact
            UNION ALL SELECT token, exact_n, 2, {_cms_h_duck(2)} FROM exact
        ), counters AS (
            SELECT i, c, CAST(SUM(exact_n) AS BIGINT) AS cnt
            FROM keyh GROUP BY 1, 2
        )
        SELECT kh.token,
               MIN(kh.exact_n) AS exact_n,
               MIN(ct.cnt) AS cms_est,
               MIN(ct.cnt) - MIN(kh.exact_n) AS overcount
        FROM keyh kh
        JOIN counters ct ON ct.i = kh.i AND ct.c = kh.c
        GROUP BY kh.token
    """,
    category=CAT,
)
def q_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK2: count-min-sketch token frequencies vs exact counts.

    d=3 rows × w=16 counters — deliberately narrower than the
    vocabulary so counters genuinely collide; est(token) =
    min_i counters[i][h_i(token)] ≥ exact, and the oracle rebuilds
    the identical sketch, so every overcount must match to the row.

    Scale: ONE fact scan — the exact token-frequency table (built in
    one map-side-combined agg) is vocabulary-sized, and the sketch is
    derived FROM it (per-occurrence increments grouped by token sum
    to the same counters), so the d-way hash expansion and the
    estimate join both run over the tiny frequency table, not the
    token stream. Catalyst does not reuse sub-plans across union
    branches, so deriving everything from one small intermediate —
    instead of re-exploding the corpus per hash row — is the
    difference between 1 scan and 2·d+2 scans (the r02 review's
    finding; same lesson as q_simhash_neardup's persisted sketch).
    """
    from pyspark import StorageLevel

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    # Vocabulary-sized; persisted because the counters branch and the
    # estimate branch both consume it (no cross-branch plan reuse).
    exact = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    exact = tracked_persist(exact, StorageLevel.MEMORY_AND_DISK)
    keyh = exact.select(
        "token",
        "exact_n",
        F.posexplode(
            F.array(
                *[
                    (h60(F.concat(F.lit(f"cms{i}:"), F.col("token"))) % _CMS_W)
                    for i in range(_CMS_D)
                ]
            )
        ).alias("i", "c"),
    )
    counters = keyh.groupBy("i", "c").agg(F.sum("exact_n").alias("cnt"))
    return (
        keyh.join(F.broadcast(counters), ["i", "c"])
        .groupBy("token")
        .agg(
            F.min("exact_n").alias("exact_n"),
            F.min("cnt").alias("cms_est"),
            (F.min("cnt") - F.min("exact_n")).alias("overcount"),
        )
        .select("token", "exact_n", "cms_est", "overcount")
    )


_KMV_K = 128


@register(
    "q_kmv_distinct",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT l_returnflag AS flag,
                   {o_h60("CAST(l_partkey AS VARCHAR)")} AS hv
            FROM lineitem
        ),
        ranked AS (
            SELECT flag, hv,
                   ROW_NUMBER() OVER (PARTITION BY flag ORDER BY hv) AS r
            FROM h
        ),
        kth AS (
            SELECT flag,
                   MAX(CASE WHEN r = {_KMV_K} THEN hv END) AS h_k,
                   COUNT(*) AS n_hashes
            FROM ranked WHERE r <= {_KMV_K}
            GROUP BY flag
        ),
        exact AS (
            SELECT l_returnflag AS flag,
                   COUNT(DISTINCT l_partkey) AS exact_distinct
            FROM lineitem GROUP BY 1
        )
        SELECT e.flag, e.exact_distinct,
               CAST(CASE WHEN k.n_hashes < {_KMV_K} THEN e.exact_distinct
                    ELSE CAST(round(({_KMV_K} - 1) * pow(2.0, 60) / k.h_k)
                              AS BIGINT) END AS BIGINT) AS kmv_estimate,
               round(abs(CAST(CASE WHEN k.n_hashes < {_KMV_K}
                                   THEN e.exact_distinct
                              ELSE CAST(round(({_KMV_K} - 1) * pow(2.0, 60)
                                             / k.h_k) AS BIGINT) END AS DOUBLE)
                         / e.exact_distinct - 1.0), 6) AS rel_error
        FROM exact e JOIN kth k ON e.flag = k.flag
        ORDER BY e.flag
    """,
    category=CAT,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK3: KMV (k-minimum-values) distinct-count sketch — keep the
    k smallest of a uniform 60-bit hash over the key set; the kth
    minimum h_k estimates the distinct count as (k−1)·2^60/h_k
    (Bar-Yossef et al. 2002). Unlike HLL (q_agg_approx_distinct,
    rows-only), KMV over a FIXED hash is fully deterministic, so this
    sketch gets the complete value-hash oracle — estimate and realized
    relative error per group.

    Determinism: h60 is md5-derived and engine-portable; the kth
    minimum is an exact rank over exact longs; the estimate is one
    double expression over identical inputs. Groups with fewer than k
    distinct keys fall back to the exact count (the sketch is exact
    below k by construction).

    Scale: the DISTINCT (flag, hash) pass map-side combines; the
    per-group rank touches only distinct hashes. At 100 TB you'd keep
    a bounded k-heap per partition instead of ranking all distinct
    hashes (approx_count_distinct does exactly that internally); the
    formulation here is the same algebra with the rank spelled out,
    and the estimate quality (rel_error column) is what the judge of
    any sketch swap would check first.
    """
    li = load(spark, sf_dir, "lineitem")
    h = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            h60(F.col("l_partkey").cast("string")).alias("hv"),
        )
        .distinct()
    )
    from pyspark.sql.window import Window

    ranked = h.select(
        "flag",
        "hv",
        F.row_number().over(Window.partitionBy("flag").orderBy("hv")).alias("r"),
    )
    kth = (
        ranked.filter(F.col("r") <= _KMV_K)
        .groupBy("flag")
        .agg(
            F.max(F.when(F.col("r") == _KMV_K, F.col("hv"))).alias("h_k"),
            F.count(F.lit(1)).alias("n_hashes"),
        )
    )
    exact = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_hashes") < _KMV_K, F.col("exact_distinct")
    ).otherwise(
        F.round((_KMV_K - 1) * F.pow(F.lit(2.0), 60) / F.col("h_k")).cast("long")
    )
    return (
        exact.join(kth, "flag")
        .withColumn("kmv_estimate", est.cast("long"))
        .select(
            "flag",
            "exact_distinct",
            "kmv_estimate",
            F.round(
                F.abs(
                    F.col("kmv_estimate").cast("double")
                    / F.col("exact_distinct")
                    - 1.0
                ),
                6,
            ).alias("rel_error"),
        )
        .orderBy("flag")
    )


_MG_K = 50  # Misra–Gries counter budget per partition
_MG_TOP = 50  # emitted candidates (= k; see guarantee below)


@register("q_heavy_hitters_mg", oracle=None, category=CAT)
def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK4: distributed Misra–Gries heavy hitters over the token
    stream — the deterministic frequent-items sketch that completes
    the family (Bloom SK-, CMS, KMV, HLL): each partition keeps at
    most k=50 decrementing counters (classic MG), partition summaries
    merge by summing per-token lower bounds, and the top k merged
    candidates emit.

    Guarantee (pytest-pinned): per-partition MG undercounts a token
    by at most n_p/k, so the merged bound satisfies
    freq − N/k ≤ merged ≤ freq. Emitting the top k=50 merged
    candidates then PROVABLY retains every token with freq > 2N/k:
    such a token's merged bound exceeds N/k, which outranks every
    token with freq ≤ N/k, and fewer than k tokens can exceed N/k.

    T2w BY ARGUMENT (full evaluation r11, VERDICT r10 #8): MG's
    counter state is an order-dependent fold over the token arrival
    sequence — not a function of each partition's multiset — so no
    order-insensitive SQL can re-derive the bounds. Pinning the order
    would take a sortWithinPartitions in the hot path (a 100 TB
    per-partition sort purely for testability), and even then the
    X13 unrolled-CTE replay doesn't scale from 24 scalar steps to
    ~1e5 steps × a 50-entry map of state per partition. The invariant
    suite asserts the portable contract instead: superset guarantee
    and both bound inequalities vs exact counts
    (tests/test_approximate_ops.py); SURVEY §2 SK4 carries the full
    argument.

    Scale: THE point of MG — the shuffle carries ≤ k rows per
    partition (the summaries), never the |vocabulary| rows an exact
    count shuffles. At 100 TB that's the difference between a
    kilobyte per task and a vocabulary-sized exchange; the exact
    top-k over the merged candidates runs on ≤ k×partitions rows.
    """
    import pandas as pd

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok in pdf["tok"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < _MG_K:
                    counters[tok] = 1
                else:
                    dead = [t for t in counters if counters[t] == 1]
                    for t in dead:
                        del counters[t]
                    for t in counters:
                        counters[t] -= 1
        if counters:
            yield pd.DataFrame(
                {"tok": list(counters), "lower": list(counters.values())}
            )

    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    summaries = toks.mapInPandas(mg_partition, "tok string, lower long")
    merged = summaries.groupBy("tok").agg(F.sum("lower").alias("merged_lower"))
    return (
        merged.orderBy(F.col("merged_lower").desc(), F.col("tok").asc())
        .limit(_MG_TOP)
        .select("tok", "merged_lower")
    )


# --- round-7 addition: KMV set algebra -----------------------------------

KMV_SET_K = 64
_H60_MAX_F = float(1 << 60)  # exact in double (2^60)


@register(
    "q_kmv_set_ops",
    oracle=f"""
        WITH vals AS (
            SELECT DISTINCT
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   {o_h60("CAST(user_id AS VARCHAR)")} AS v
            FROM events
        ), pairs AS (
            SELECT a.day AS day_a, b.day AS day_b
            FROM (SELECT DISTINCT day FROM vals) a
            JOIN (SELECT DISTINCT day FROM vals) b ON a.day < b.day
        ), sk AS (
            SELECT day, v FROM (
                SELECT day, v,
                       row_number() OVER (PARTITION BY day ORDER BY v) AS rn
                FROM vals
            ) WHERE rn <= {KMV_SET_K}
        ), tagged AS (
            SELECT p.day_a, p.day_b, s.v, 1 AS ia, 0 AS ib
            FROM pairs p JOIN sk s ON s.day = p.day_a
            UNION ALL
            SELECT p.day_a, p.day_b, s.v, 0, 1
            FROM pairs p JOIN sk s ON s.day = p.day_b
        ), mem AS (
            SELECT day_a, day_b, v, MAX(ia) AS ia, MAX(ib) AS ib
            FROM tagged GROUP BY 1, 2, 3
        ), mk AS (
            SELECT * FROM (
                SELECT day_a, day_b, v, ia, ib,
                       row_number() OVER (PARTITION BY day_a, day_b
                                          ORDER BY v) AS rn
                FROM mem
            ) WHERE rn <= {KMV_SET_K}
        ), agg AS (
            SELECT day_a, day_b,
                   COUNT(*) AS k_used,
                   MAX(v) AS tau,
                   SUM(ia * ib) AS inter_k
            FROM mk GROUP BY 1, 2
        ), sizes AS (
            SELECT day, COUNT(*) AS sz FROM vals GROUP BY day
        ), inter AS (
            SELECT a.day AS day_a, b.day AS day_b, COUNT(*) AS ni
            FROM vals a JOIN vals b ON a.v = b.v AND a.day < b.day
            GROUP BY 1, 2
        )
        SELECT g.day_a, g.day_b,
               CAST(k_used AS BIGINT) AS k_used,
               round(CASE WHEN k_used < {KMV_SET_K}
                          THEN CAST(k_used AS DOUBLE)
                          ELSE ({KMV_SET_K} - 1.0)
                               * ({_H60_MAX_F!r} / CAST(tau AS DOUBLE))
                     END, 6) AS kmv_union_est,
               round(CAST(inter_k AS DOUBLE) / k_used, 6) AS kmv_jaccard,
               CAST(sa.sz + sb.sz - COALESCE(i.ni, 0) AS BIGINT)
                   AS exact_union,
               round(CAST(COALESCE(i.ni, 0) AS DOUBLE)
                     / (sa.sz + sb.sz - COALESCE(i.ni, 0)), 6)
                   AS exact_jaccard
        FROM agg g
        JOIN sizes sa ON sa.day = g.day_a
        JOIN sizes sb ON sb.day = g.day_b
        LEFT JOIN inter i ON i.day_a = g.day_a AND i.day_b = g.day_b
    """,
    category=CAT,
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SK5: KMV sketch SET ALGEBRA — pairwise union cardinality and
    Jaccard between daily active-user sets, estimated from k-minimum-
    value sketches and reported next to the exact answers (the
    accuracy audit a pipeline runs before trusting the sketch at
    scale). Completes SK3's single-set KMV with the operations that
    make KMV useful: merged sketches ARE the union's sketch (the k
    smallest of A∪B are all present in sketch(A) ∪ sketch(B)), and the
    fraction of the merged sketch present in both sides estimates
    Jaccard (Beyer et al., SIGMOD'07).

    Estimator: with the merged sketch saturated, Û = (k−1)·2^60/τ_k
    (hash values are h60's uniform 60-bit integers); unsaturated means
    the sketches were exhaustive, so the merged set IS the exact
    union (the estimator path and the exact path are both exercised:
    daily sets saturate k=64 at sf0.01+, not at sf0.001). All
    branching is on exact integers; the two divisions are the only
    float ops, spelled identically in both engines.

    Scale: sketches are |days|×k rows built by one partitioned top-k
    window over the distinct (day, hash) pass — the fact table is
    touched once; every pairwise combination happens in sketch space
    (45 pairs × 128 rows here; |keys|²k at worst), which is the entire
    point of KMV. The exact_* columns are the test-scale audit and go
    quadratic in |keys| — production keeps only the sketch columns.
    """
    e = load(spark, sf_dir, "events")
    vals = e.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        h60(F.col("user_id").cast("string")).alias("v"),
    ).distinct()
    vals = tracked_persist(vals)
    w = Window.partitionBy("day").orderBy("v")
    sk = (
        vals.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_SET_K)
        .drop("rn")
    )
    days = vals.select("day").distinct()
    pairs = (
        days.alias("a")
        .join(days.alias("b"), F.col("a.day") < F.col("b.day"))
        .select(F.col("a.day").alias("day_a"), F.col("b.day").alias("day_b"))
    )
    both = (
        pairs.join(
            sk.select(F.col("day").alias("day_a"), "v"), "day_a"
        ).select("day_a", "day_b", "v", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
    ).unionByName(
        pairs.join(
            sk.select(F.col("day").alias("day_b"), "v"), "day_b"
        ).select("day_a", "day_b", "v", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    )
    mem = both.groupBy("day_a", "day_b", "v").agg(
        F.max("ia").alias("ia"), F.max("ib").alias("ib")
    )
    wp = Window.partitionBy("day_a", "day_b").orderBy("v")
    mk = (
        mem.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= KMV_SET_K)
    )
    agg = mk.groupBy("day_a", "day_b").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max("v").alias("tau"),
        F.sum(F.col("ia") * F.col("ib")).alias("inter_k"),
    )
    sizes = vals.groupBy("day").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        vals.alias("x")
        .join(
            vals.alias("y"),
            (F.col("x.v") == F.col("y.v"))
            & (F.col("x.day") < F.col("y.day")),
        )
        .groupBy(
            F.col("x.day").alias("day_a"), F.col("y.day").alias("day_b")
        )
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    est = F.when(
        F.col("k_used") < KMV_SET_K, F.col("k_used").cast("double")
    ).otherwise(
        (KMV_SET_K - 1.0) * (F.lit(_H60_MAX_F) / F.col("tau").cast("double"))
    )
    ni = F.coalesce(F.col("ni"), F.lit(0))
    ex_union = F.col("sa.sz") + F.col("sb.sz") - ni
    return (
        agg.join(
            F.broadcast(sizes.alias("sa")),
            F.col("sa.day") == F.col("day_a"),
        )
        .join(
            F.broadcast(sizes.alias("sb")),
            F.col("sb.day") == F.col("day_b"),
        )
        .join(F.broadcast(inter), ["day_a", "day_b"], "left")
        .select(
            "day_a",
            "day_b",
            F.col("k_used").cast("long").alias("k_used"),
            F.round(est, 6).alias("kmv_union_est"),
            F.round(
                F.col("inter_k").cast("double") / F.col("k_used"), 6
            ).alias("kmv_jaccard"),
            ex_union.cast("long").alias("exact_union"),
            F.round(ni.cast("double") / ex_union, 6).alias("exact_jaccard"),
        )
    )
