"""Corpus-curation operators for training-data pipelines: boilerplate
n-gram mining, incremental (cross-snapshot) dedup, and lexical
diversity profiling. These extend the cleaning family in
`llm.py`/`textpipe.py` with the BETWEEN-snapshot and ACROSS-corpus
analyses a crawl pipeline runs each refresh: what text is template
boilerplate, which newly-crawled docs are already in the corpus, and
which docs are degenerate repetition.

Scale notes (100 TB):
- Boilerplate mining shuffles (shingle → partial count) pairs with
  map-side combine; the top-k is TakeOrderedAndProject. The shingle
  stream is ~|tokens| rows but never materializes raw text past the
  hash-sized shingle strings.
- Incremental dedup is the anti-join pattern: hash both sides in
  their scans, LEFT ANTI on the 32-byte digest. The existing-corpus
  side reduces to DISTINCT hashes — at 100 TB that digest set is
  ~3 orders of magnitude smaller than the corpus and partitions
  evenly (sha256 keys can't skew); a Bloom build over it
  (q_bloom_prefilter) turns the anti-join into a scan-side filter.
- TTR profiling is explode → two stacked per-doc aggregations that
  share one doc_id partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load, table_path
from .common import (
    dist_row_number,
    h60,
    half_away_long,
    o_h60,
    scan_splits_hint,
    table_bytes,
    topk_with_rank,
    tracked_persist,
)

CAT = "corpus"

_NG = 5  # boilerplate shingle width (words)


@register(
    "q_boilerplate_ngrams",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), grams AS (
            SELECT doc_id, array_to_string(toks[i+1:i+{_NG}], ' ') AS gram
            FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - {_NG}))
                             AS i) g
            WHERE len(toks) >= {_NG}
        ), c AS (
            SELECT gram, COUNT(*) AS n_occurrences,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM grams GROUP BY 1
        )
        SELECT gram, n_occurrences, n_docs
        FROM c
        ORDER BY n_occurrences DESC, gram ASC
        LIMIT 20
    """,
    category=CAT,
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: boilerplate mining — the corpus's most repeated 5-word
    shingles with occurrence and document counts. High-frequency ×
    high-document-spread shingles are template/boilerplate candidates
    (cookie banners, nav text) that C4-style cleaners strip before
    training; this op produces that strip list from the data itself.

    Round 6 (VERDICT r05 #2): the shingle+count hot loop moves into an
    Arrow-batched ``mapInPandas`` partial-count kernel — the move that
    closed quantize (10.6×→1.7×) and kmeans. Per batch, a
    ``collections.Counter`` (C-speed) tallies occurrences AND
    batch-distinct doc counts per gram; only the (gram, occ, docs)
    partials reach the exchange, so the shuffle carries batch-deduped
    grams instead of the raw ×|tokens| explode AND the expensive
    per-shingle concat leaves JVM codegen (where it was the measured
    bottleneck, not the plan). ``n_docs`` partial-sums correctly
    because a document is exactly one input row, hence lives wholly in
    one Arrow batch: per-gram batch-distinct doc counts partition the
    true distinct count across batches. Measured sf1 (same-epoch
    interleaved, toPandas protocol): JVM explode 2.05 s → kernel
    1.37 s; sf10 bench-protocol numbers in BASELINE.md. Earlier JVM
    reformulations stay measured-worse: Expand-free control within 3%,
    top-20-then-resolve two-pass 3.60 s (second explode dominates),
    round-4 hash-gram 5.2 s, two-level dedup agg 2.4 s. Round 12
    (VERDICT r11 #7) ABBA'd a mapInArrow pyarrow-compute twin
    (binary_join_element_wise 5-grams + Acero group_bys): wash at
    sf0.1, −7% at sf1, but +76% at sf10 (5.88 vs 10.36 s median-of-7,
    interleaved) — Acero group_by over millions of materialized gram
    strings per batch loses to the C-speed Counter, so the Counter
    kernel stays (q_explode/q_bm25_rank DID move to arrow, where it
    wins at every tier).

    Scale: the kernel is embarrassingly parallel per batch; partials
    aggregate with map-side combine on the gram key; top-20 is
    TakeOrderedAndProject — no global sort. At 100 TB, hash grams to
    64-bit inside the same kernel and resolve the winning strings in a
    second tiny pass.
    """
    # Repartition RAW docs before the kernel: the scan yields few
    # uneven splits (1 at sf0.1, 10 at sf1) and the kernel is pure
    # per-doc CPU — the hash spread removes stragglers (the simhash
    # lesson, dedup_ext.py:67). Measured on the kernel at sf1:
    # 1.37 s with vs 1.62 s without.
    d = load(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    def shingle_partials(batches):
        from collections import Counter

        import pandas as pd

        # per-BATCH accumulation, deliberately: a partition-wide
        # Counter (one emission per task) was measured WORSE at sf10 —
        # 14.6/18.4 s across two bench invocations vs 7.9 s per-batch —
        # the 780 k-entry end-of-task dict kills the pipelining between
        # kernel CPU and shuffle write and bulks one giant Arrow batch;
        # 5-grams barely dedup across docs, so the shuffle saving is
        # tiny while vocabulary-sized ops (q_explode) lose nothing
        for pdf in batches:
            occ: Counter = Counter()
            nd: Counter = Counter()
            for text in pdf["text"].tolist():
                if text is None:  # JVM split/explode drops null rows
                    continue
                toks = text.split(" ")
                n = len(toks) - _NG + 1
                if n <= 0:
                    continue
                c = Counter(
                    [" ".join(toks[i:i + _NG]) for i in range(n)]
                )
                occ.update(c)
                nd.update(c.keys())
            if occ:
                grams = list(occ.keys())
                yield pd.DataFrame(
                    {
                        "gram": grams,
                        "occ": [occ[g] for g in grams],
                        "docs": [nd[g] for g in grams],
                    }
                )

    partials = d.mapInPandas(
        shingle_partials, "gram string, occ long, docs long"
    )
    return (
        partials.groupBy("gram")
        .agg(
            F.sum("occ").alias("n_occurrences"),
            F.sum("docs").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(20)
    )


@register(
    "q_incremental_dedup",
    oracle="""
        WITH x AS (
            SELECT doc_id, lang, source, sha256(text) AS h,
                   CAST(substr(source, 4) AS INT) >= 10 AS is_new
            FROM documents
        ), existing AS (
            SELECT DISTINCT h FROM x WHERE NOT is_new
        ), novel AS (
            SELECT n.doc_id, n.lang, n.source, n.h
            FROM x n LEFT JOIN existing e ON n.h = e.h
            WHERE n.is_new AND e.h IS NULL
        )
        SELECT h AS text_hash, MIN(doc_id) AS doc_id,
               MIN(lang) AS lang, MIN(source) AS source,
               COUNT(*) AS n_batch_copies
        FROM novel GROUP BY h
    """,
    category=CAT,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: cross-snapshot incremental dedup — the new crawl batch
    (sources src10+) is admitted only where its SHA-256 is absent from
    the existing corpus (src0–src9), then deduped within itself
    (keep min doc_id). This is the per-refresh ingestion gate of an
    accumulating training corpus: never re-admit what a previous
    snapshot already contributed.

    Determinism: the lang/source MINs are true functional dependencies
    of the kept doc (grouped on the full content hash, reported for
    the min-doc representative's group).

    Scale: both sides hash IN THE SCAN; the anti-join runs on 32-byte
    digests that cannot skew. The existing side is DISTINCT digests —
    at 100 TB keep that digest set as its own bucketed table so each
    refresh joins without re-hashing history; Bloom-prefilter
    (q_bloom_prefilter) removes ~99% of probes before the shuffle.
    """
    d = load(spark, sf_dir, "documents")
    x = d.select(
        "doc_id",
        "lang",
        "source",
        F.sha2("text", 256).alias("h"),
        (F.substring("source", 4, 10).cast("int") >= 10).alias("is_new"),
    )
    existing = x.filter(~F.col("is_new")).select("h").distinct()
    novel = (
        x.filter(F.col("is_new"))
        .join(existing, "h", "left_anti")
    )
    return novel.groupBy(F.col("h").alias("text_hash")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
        F.min("source").alias("source"),
        F.count(F.lit(1)).alias("n_batch_copies"),
    )


@register(
    "q_ttr_lexical",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), cnt AS (
            SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
        ), per AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   COUNT(*) AS n_types,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_hapax
            FROM cnt GROUP BY 1
        )
        SELECT doc_id, n_tokens, n_types,
               round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
               round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_ratio
        FROM per
        ORDER BY ttr DESC, doc_id ASC
        LIMIT 20
    """,
    category=CAT,
)
def q_ttr_lexical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: lexical-diversity profile — type-token ratio and hapax
    (once-occurring types) fraction per document; the top-20 most
    diverse docs. Low TTR flags degenerate repetition (the same
    signal q_repetition_filter thresholds, here as a ranked profile);
    hapax fraction separates genuinely rich vocabulary from short
    texts whose TTR is inflated.

    Scale: explode → (doc, token) counts → per-doc rollup; both
    aggregations share one doc_id-keyed shuffle (Catalyst reuses the
    partitioning). Top-20 via TakeOrderedAndProject.
    """
    d = load(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    return (
        per.select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens"), 6
            ).alias("ttr"),
            F.round(
                F.col("n_hapax").cast("double") / F.col("n_types"), 6
            ).alias("hapax_ratio"),
        )
        .orderBy(F.desc("ttr"), F.asc("doc_id"))
        .limit(20)
    )


_WS_SALT = "ws1:"
_WS_K = 100
_H60_RANGE = float(1 << 60)


@register(
    "q_weighted_sample",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, lang, source, n_chars,
                   ln(({o_h60(f"'{_WS_SALT}' || CAST(doc_id AS VARCHAR)")}
                       + 1) / {_H60_RANGE!r}) / n_chars AS k
            FROM documents WHERE n_chars > 0
        )
        SELECT doc_id, lang, source, n_chars
        FROM keyed ORDER BY k DESC, doc_id ASC LIMIT {_WS_K}
    """,
    category=CAT,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: deterministic weighted sampling without replacement —
    Efraimidis–Spirakis A-Res: each doc gets key ln(u)/w with u a
    salted-hash uniform in (0,1] and weight w = n_chars; the top-K
    keys ARE a without-replacement sample with inclusion probability
    ∝ weight. The training-mixture primitive for "sample tokens, not
    documents" (long docs proportionally more likely), reproducible
    across engines and reruns because u comes from h60, not an RNG.

    Determinism: u is an exact 60-bit hash fraction; ln and the
    division are the same IEEE dag on both engines; the top-K ties on
    doc_id. (ln(u)/w is order-isomorphic to the textbook u^(1/w) —
    monotone exp — but avoids pow's cross-libm wobble.)

    Scale: keys are computed in the scan; top-K is
    TakeOrderedAndProject (per-partition heaps merged at the driver,
    no global sort). K-per-stratum variants just add the stratum to a
    rank window. Weights can be any positive column — quality scores,
    dedup-cluster sizes, token counts.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        h60(F.concat(F.lit(_WS_SALT), F.col("doc_id").cast("string"))) + 1
    ) / F.lit(_H60_RANGE)
    keyed = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        (F.log(u) / F.col("n_chars")).alias("k"),
    )
    return (
        keyed.orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(_WS_K)
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "q_ngram_novelty",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   CAST(substr(source, 4) AS INT) >= 10 AS is_new
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, is_new,
                   array_to_string(toks[i+1:i+{_NG}], ' ') AS gram
            FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - {_NG}))
                             AS i) g
            WHERE len(toks) >= {_NG}
        ), seen AS (
            SELECT DISTINCT gram FROM grams WHERE NOT is_new
        ), scored AS (
            SELECT g.doc_id,
                   COUNT(*) AS n_grams,
                   CAST(SUM(CASE WHEN s.gram IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel
            FROM grams g LEFT JOIN seen s ON g.gram = s.gram
            WHERE g.is_new
            GROUP BY 1
        )
        SELECT doc_id, n_grams, n_novel,
               round(CAST(n_novel AS DOUBLE) / n_grams, 6) AS novelty
        FROM scored
        ORDER BY novelty ASC, doc_id ASC
        LIMIT 20
    """,
    category=CAT,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: n-gram novelty of the new crawl batch vs the existing
    corpus — per new doc, the fraction of its distinct 5-gram shingles
    never seen in the corpus; the 20 LEAST novel docs are surfaced
    (low novelty = likely near-duplicate or benchmark/corpus
    contamination that exact-hash dedup missed). This is the
    doc-grain complement of q_contamination_check's set-level overlap
    and C2's exact-hash gate.

    Scale: distinct grams per doc collapse repetition before the join;
    the membership test against the seen-gram set is a gram-keyed LEFT
    join whose NULL side counts novelty — at 100 TB hash grams to
    64-bit, keep `seen` as a bucketed table reused across refreshes,
    and Bloom-prefilter probes exactly as in C2. Top-20 is
    TakeOrderedAndProject.
    """
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        (F.substring("source", 4, 10).cast("int") >= 10).alias("is_new"),
    ).filter(F.size("toks") >= _NG)
    grams = t.select(
        "doc_id",
        "is_new",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(toks) - {_NG}),"
                f" i -> concat_ws(' ', slice(toks, i + 1, {_NG})))"
            )
        ).alias("gram"),
    ).distinct()
    seen = grams.filter(~F.col("is_new")).select("gram").distinct()
    marked = (
        grams.filter(F.col("is_new"))
        .join(seen.withColumn("seen", F.lit(1)), "gram", "left")
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
        .orderBy(F.asc("novelty"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "q_prefix_dedup",
    oracle="""
        SELECT md5(substr(text, 1, 80)) AS prefix_hash,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT source) AS n_sources,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
        HAVING COUNT(*) > 1
    """,
    category=CAT,
)
def q_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: prefix dedup — collapse documents sharing the same leading
    80 characters (the C4/CommonCrawl-style step that catches
    truncation variants and boilerplate-headed pages exact-hash dedup
    misses, without the cost of MinHash). Reports each colliding
    prefix group with its keeper (min doc_id), copy count, and how
    many distinct sources fed it — multi-source prefix groups are the
    mirrored-content signal.

    Scale: same economics as exact dedup (llm.py q_dedup_exact) — the
    prefix hashes in the scan, the shuffle carries only (16-byte hash,
    id, source, chars), and groups cannot skew beyond true duplicate
    multiplicity. A 100 TB run chains this AFTER exact dedup so each
    surviving text hashes once for both passes in the same scan.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            F.md5(F.substring("text", 1, 80)).alias("prefix_hash"),
            "doc_id",
            "source",
            "n_chars",
        )
        .groupBy("prefix_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "q_curation_funnel",
    oracle="""
        WITH base AS MATERIALIZED (
            SELECT doc_id, lang, text, n_chars,
                   len(string_split(text, ' ')) AS n_words,
                   CAST(length(replace(text, ' ', '')) AS DOUBLE)
                       / len(string_split(text, ' ')) AS awl,
                   CAST(len(list_distinct(string_split(text, ' ')))
                        AS DOUBLE)
                       / len(string_split(text, ' ')) AS ttr
            FROM documents
        ),
        s1 AS MATERIALIZED (
            SELECT * FROM base
            WHERE n_chars BETWEEN 150 AND 450 AND n_words >= 25
              AND awl BETWEEN 3.0 AND 9.0 AND ttr >= 0.3
        ),
        s2 AS MATERIALIZED (
            SELECT * FROM s1
            QUALIFY row_number() OVER (PARTITION BY sha256(text)
                                       ORDER BY doc_id ASC) = 1
        ),
        s3 AS MATERIALIZED (
            SELECT * FROM s2
            QUALIFY row_number() OVER (
                PARTITION BY md5(substr(text, 1, 80))
                ORDER BY doc_id ASC) = 1
        ),
        s4 AS (SELECT * FROM s3 WHERE lang = 'en'),
        summary AS (
            SELECT 's0_ingest' AS stage, COUNT(*) AS n_docs,
                   CAST(SUM(n_words) AS BIGINT) AS n_tokens FROM base
            UNION ALL
            SELECT 's1_quality', COUNT(*),
                   CAST(SUM(n_words) AS BIGINT) FROM s1
            UNION ALL
            SELECT 's2_exact_dedup', COUNT(*),
                   CAST(SUM(n_words) AS BIGINT) FROM s2
            UNION ALL
            SELECT 's3_prefix_dedup', COUNT(*),
                   CAST(SUM(n_words) AS BIGINT) FROM s3
            UNION ALL
            SELECT 's4_lang_en', COUNT(*),
                   CAST(SUM(n_words) AS BIGINT) FROM s4
        )
        SELECT stage, n_docs, n_tokens,
               round(CAST(n_docs AS DOUBLE)
                     / MAX(CASE WHEN stage = 's0_ingest' THEN n_docs END)
                       OVER (), 6) AS docs_retained
        FROM summary
    """,
    category=CAT,
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: the end-to-end curation funnel — the composed pipeline a
    training-data run actually executes, as ONE query: ingest →
    Gopher-style quality gate (L2's exact thresholds) → exact dedup
    (L4, keep-min per SHA-256) → prefix dedup (C6, 80-char head) →
    language selection; reporting docs/tokens surviving each stage
    and the retention ratio. The per-stage numbers are the run report
    every corpus refresh publishes.

    Everything upstream is reused semantics, so this also pins the
    COMPOSITION: a regression in any stage's filter moves a funnel
    row even if that stage's own operator test is somehow skipped.

    Scale: ONE pass — the stages become per-doc survival FLAGS
    (quality bool; dedup keeps via MIN-over-digest-partition windows
    restricted to upstream survivors, so no stage rescans or rejoins)
    and the whole funnel is two digest windows plus a single 1-row
    aggregate unpivoted to stage rows. The 5-branch union formulation
    measured 1.18 s at sf0.1 (each branch recomputing its prefix of
    the chain); this shape is one scan. At 100 TB the same flags
    write once as a survivor-bitmap table and every stage count comes
    from one aggregation of it.

    r13 construction fold (guide §1.2, the simhash lesson): the flag
    chain + 10-term aggregate + 5-struct unpivot were built through
    ~80 Column ops costing ~0.35 s of eager per-transform analysis per
    construction at sf0.1 (>half the row's wall). Each expression is
    now one parsed SQL string; physical tree and values unchanged
    (diffed modulo expression IDs; output pinned vs the Column form).
    """
    d = load(spark, sf_dir, "documents")

    base = d.selectExpr(
        "doc_id",
        "lang",
        "n_chars",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_words",
        "(n_chars BETWEEN 150 AND 450)"
        " AND (size(split(text, ' ')) >= 25)"
        " AND (CAST(length(replace(text, ' ', '')) AS DOUBLE)"
        "      / size(split(text, ' ')) BETWEEN 3.0D AND 9.0D)"
        " AND (CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)"
        "      / size(split(text, ' ')) >= 0.3D) AS q",
        "sha2(text, 256) AS h_full",
        "md5(substring(text, 1, 80)) AS h_pref",
    )
    flagged = base.selectExpr(
        "lang",
        "n_words",
        "q",
        "q AND (doc_id = min(CASE WHEN q THEN doc_id END)"
        " OVER (PARTITION BY h_full)) AS k2",
        "doc_id",
        "h_pref",
    )
    flagged = flagged.selectExpr(
        "lang",
        "n_words",
        "q",
        "k2",
        "k2 AND (doc_id = min(CASE WHEN k2 THEN doc_id END)"
        " OVER (PARTITION BY h_pref)) AS k3",
    )
    flagged = flagged.selectExpr("*", "k3 AND (lang = 'en') AS k4")

    def cnt(flag: str) -> str:
        return f"CAST(sum(CASE WHEN {flag} THEN 1 ELSE 0 END) AS BIGINT)"

    def tok(flag: str) -> str:
        return (
            f"CAST(sum(CASE WHEN {flag} THEN n_words ELSE 0 END) AS BIGINT)"
        )

    one = flagged.agg(
        F.expr("count(1) AS n0"),
        F.expr("CAST(sum(n_words) AS BIGINT) AS t0"),
        F.expr(f"{cnt('q')} AS n1"),
        F.expr(f"{tok('q')} AS t1"),
        F.expr(f"{cnt('k2')} AS n2"),
        F.expr(f"{tok('k2')} AS t2"),
        F.expr(f"{cnt('k3')} AS n3"),
        F.expr(f"{tok('k3')} AS t3"),
        F.expr(f"{cnt('k4')} AS n4"),
        F.expr(f"{tok('k4')} AS t4"),
    )
    names = [
        "s0_ingest",
        "s1_quality",
        "s2_exact_dedup",
        "s3_prefix_dedup",
        "s4_lang_en",
    ]
    stages = ", ".join(
        f"struct('{name}' AS stage, n{i} AS n_docs, t{i} AS n_tokens)"
        for i, name in enumerate(names)
    )
    return one.selectExpr("n0", f"explode(array({stages})) AS s").selectExpr(
        "s.stage AS stage",
        "s.n_docs AS n_docs",
        "s.n_tokens AS n_tokens",
        "round(CAST(s.n_docs AS DOUBLE) / n0, 6) AS docs_retained",
    )


@register(
    "q_token_pmi",
    oracle="""
        WITH dt AS MATERIALIZED (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        df AS (SELECT tok, COUNT(*) AS c FROM dt GROUP BY 1),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dt),
        pairs AS (
            SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS c_ab
            FROM dt a JOIN dt b
              ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2
            HAVING COUNT(*) >= 5
        )
        SELECT tok_a, tok_b, c_ab, fa.c AS c_a, fb.c AS c_b,
               round(ln(CAST(n_docs AS DOUBLE) * c_ab
                        / (CAST(fa.c AS DOUBLE) * fb.c)), 6) AS pmi
        FROM pairs
        JOIN df fa ON fa.tok = tok_a
        JOIN df fb ON fb.tok = tok_b
        CROSS JOIN n
        ORDER BY pmi DESC, tok_a ASC, tok_b ASC
        LIMIT 20
    """,
    category=CAT,
)
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: top-20 token pairs by document-level pointwise mutual
    information — PMI = ln(N·c_ab / (c_a·c_b)) over distinct-token
    document sets, the classic collocation/distributional statistic a
    corpus report includes (and a boilerplate detector: high-PMI
    pairs that span many sources are template fragments).

    Determinism: all counts are exact longs; each PMI is one ln() of
    an identically-derived double (no accumulation), and the top-20
    tie-breaks on the token pair.

    Scale: the pair expansion is bounded per doc by its DISTINCT
    token count (quadratic in per-doc vocabulary, linear in corpus) —
    the same economics as q_copurchase_recs' basket expansion; pair
    counts partial-aggregate before the shuffle, and the HAVING floor
    keeps the long tail out of the top-k exchange.
    """
    d = load(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    df = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = dt.agg(F.countDistinct("doc_id").alias("n_docs"))
    a = dt.select(F.col("doc_id"), F.col("tok").alias("tok_a"))
    b = dt.select(F.col("doc_id"), F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    fa = df.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    fb = df.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log(
            F.col("n_docs").cast("double")
            * F.col("c_ab")
            / (F.col("c_a").cast("double") * F.col("c_b"))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(fa), "tok_a")
        .join(F.broadcast(fb), "tok_b")
        .join(F.broadcast(n))
        .select("tok_a", "tok_b", "c_ab", "c_a", "c_b", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(20)
    )


@register(
    "q_zipf_slope",
    oracle="""
        WITH tf AS (
            SELECT tok, COUNT(*) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY 1
        ),
        ranked AS (
            SELECT freq,
                   row_number() OVER (ORDER BY freq DESC, tok ASC) AS rk
            FROM tf
        ),
        terms AS (
            SELECT CAST(round(ln(rk) * 1000000) AS BIGINT) AS x,
                   CAST(round(ln(freq) * 1000000) AS BIGINT) AS y
            FROM ranked
        ),
        moms AS (
            SELECT COUNT(*) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(CAST(round(CAST(x AS DOUBLE) * y / 1000000)
                            AS BIGINT)) AS sxy,
                   SUM(CAST(round(CAST(x AS DOUBLE) * x / 1000000)
                            AS BIGINT)) AS sxx
            FROM terms
        )
        SELECT n AS n_types,
               round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy
                      / 1000000.0)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx / 1000000.0), 6)
                   AS zipf_slope,
               round((CAST(sy AS DOUBLE) / n
                      - ((CAST(n AS DOUBLE) * sxy
                          - CAST(sx AS DOUBLE) * sy / 1000000.0)
                         / (CAST(n AS DOUBLE) * sxx
                            - CAST(sx AS DOUBLE) * sx / 1000000.0))
                        * CAST(sx AS DOUBLE) / n) / 1000000.0, 6)
                   AS zipf_intercept
        FROM moms
    """,
    category=CAT,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: Zipf's-law slope of the corpus token-frequency
    distribution — OLS of ln(freq) on ln(rank). Natural corpora run
    ≈ −1; a slope drifting toward 0 (too uniform) or −2 (too peaked)
    is the distribution-level signal of synthetic or boilerplate
    text, so corpus refreshes track it like a vital sign.

    Determinism: ln(rank)/ln(freq) are identical doubles from exact
    integers; each is micro-quantized BEFORE the regression sums, so
    Σx, Σy, Σxy, Σxx are exact longs (order-free) and the closed-form
    slope divides identical doubles — the same exact-moment recipe as
    q_linreg_fit, extended through a log transform.

    Scale: one token-count aggregation (map-side combined), then the
    global rank via `dist_row_number` (common.py: range shuffle +
    per-partition row_number + broadcast offsets) — no single-partition
    sort even at web-scale |vocab| (VERDICT r02 residual nit) — and a
    1-row moment reduce.
    """
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = dist_row_number(
        tf, [("freq", "desc"), ("tok", "asc")], "rk"
    ).select("freq", "rk")

    terms = ranked.select(
        half_away_long(F.log(F.col("rk").cast("double")), 1_000_000).alias("x"),
        half_away_long(F.log(F.col("freq").cast("double")), 1_000_000).alias("y"),
    )

    def requant(prod):
        return half_away_long(prod.cast("double") / 1_000_000)

    moms = terms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(requant(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(requant(F.col("x") * F.col("x"))).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    slope = (n_d * F.col("sxy") - sx_d * F.col("sy") / 1_000_000.0) / (
        n_d * F.col("sxx") - sx_d * F.col("sx") / 1_000_000.0
    )
    intercept = (
        sy_d / F.col("n") - slope * sx_d / F.col("n")
    ) / 1_000_000.0
    return moms.select(
        F.col("n").alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


# q_bpe_merge's single-task tail (coalesce(1) over the bigram table)
# holds only while the bigram vocabulary fits one task; past this row
# cap the coalesce is dropped and the tail's tiny groupBys shuffle —
# the documented at-scale fallback made real (VERDICT r09 #5).
_BPE_COALESCE_MAX_ROWS = 5_000_000
# The row-count probe itself costs one cache-local job (~0.3 s on the
# sf0.1 bench row — measured against the r10 quiet-epoch table), so it
# only runs when the CORPUS is big enough that the bigram table could
# plausibly approach the cap: below this many corpus bytes the
# vocabulary²-bound keeps the bigram table several orders under the
# cap and the coalesce is taken with ZERO extra jobs. Unknown layout
# (table_bytes = 0, non-local URI) runs the probe — the precise,
# scale-safe path whose one extra job is noise at that scale.
_BPE_COUNT_PROBE_MIN_BYTES = 1_000_000_000


@register(
    "q_bpe_merge",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), stream AS (
            SELECT doc_id,
                   unnest(toks) AS tok,
                   unnest(generate_series(1, len(toks))) AS pos
            FROM t
        ), paired AS (
            SELECT doc_id, pos, tok,
                   LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM stream
        ), top_pair AS (
            SELECT tok AS w1, nxt AS w2
            FROM paired
            WHERE nxt IS NOT NULL AND tok <> nxt
            GROUP BY tok, nxt
            ORDER BY COUNT(*) DESC, tok ASC, nxt ASC
            LIMIT 1
        ), flagged AS (
            SELECT doc_id, pos, tok, nxt,
                   CASE WHEN tok = (SELECT w1 FROM top_pair)
                         AND nxt = (SELECT w2 FROM top_pair)
                        THEN 1 ELSE 0 END AS hit
            FROM paired
        ), merged AS (
            SELECT CASE WHEN hit = 1
                        THEN tok || ' ' || nxt
                        ELSE tok END AS out_tok,
                   COALESCE(LAG(hit) OVER (PARTITION BY doc_id ORDER BY pos),
                            0) AS prev_hit
            FROM flagged
        )
        SELECT out_tok AS token, cnt, rk AS rank
        FROM (
            SELECT out_tok,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(row_number() OVER (ORDER BY COUNT(*) DESC,
                                           out_tok ASC) AS BIGINT) AS rk
            FROM merged
            WHERE prev_hit = 0
            GROUP BY out_tok
        )
        WHERE rk <= 30
    """,
    category=CAT,
)
def q_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: one byte-pair-encoding merge step at word granularity —
    the inner loop of BPE/WordPiece vocabulary induction, run
    corpus-wide as relational algebra instead of a single-node
    counter loop.

    Step 1 counts all adjacent token pairs (lead over a per-doc
    position window) and picks the most frequent pair with w1 ≠ w2
    (ties break lexicographically). Step 2 re-emits every token
    stream with that pair fused ('w1 w2' becomes one symbol;
    a position is dropped when its PREDECESSOR was fused) and
    returns the new top-30 symbol frequencies. The w1 ≠ w2
    constraint makes greedy fusion unambiguous: overlapping hits
    would require w1 = w2, so independent per-position merging is
    exactly the sequential left-to-right result.

    Scale (rewritten round 4, VERDICT r03 #3): token ORDER lives in
    per-doc ARRAYS, not in window sorts — ``split`` already yields the
    ordered token array, so pair extraction and greedy fusion are
    array transforms (zero WindowExec, zero per-doc sort). The split
    arrays are persisted once (tracked ledger) and feed BOTH the pair
    count and the fusion pass: job 1 = scan + split + cache + pair
    explode + count + top-1, job 2 = cache read + fuse transform +
    explode + count + top-30. The former shape re-exploded and
    re-window-sorted the corpus in each of its two jobs (947 ms at
    sf0.1); this one tokenizes once and sorts never. The 1-row top
    pair broadcasts; full BPE training iterates this operator — each
    merge is one more cached pass, which is how distributed tokenizer
    training actually counts pairs. The final top-30 stays
    TakeOrderedAndProject-shaped.
    """
    # Repartition ONLY when the scan collapses to a single partition:
    # the shuffle moves the raw text, so it pays off only as a
    # parallelism crutch. Measured: sf0.1 (1 scan task) 1.23 s →
    # 1.00 s with the repartition; sf1 (2+ scan tasks) 1.65 s →
    # ~1.1 s WITHOUT it (the text exchange cost 0.7 s to parallelize
    # a 0.44 s job). On a real cluster the scan always has enough
    # splits and this branch never fires. The layout probe
    # (scan_splits_hint) returns 0 for non-local URIs — treated as
    # single-split, taking the crutch rather than failing before the
    # job runs (ADVICE r04 #4).
    d = load(spark, sf_dir, "documents")
    if scan_splits_hint(spark, sf_dir, "documents") <= 1:
        d = d.repartition(8, "doc_id")
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    return _bpe_merge_arrays(toks, corpus_bytes=table_bytes(sf_dir, "documents"))


def bpe_merge_core(stream: DataFrame) -> DataFrame:
    """One BPE merge step over a (doc_id, pos, tok) stream — the
    property-test surface (tests/test_property_scalar.py proves the
    w1≠w2 greedy-fusion claim against a sequential Python reference).
    Rebuilds the per-doc ordered arrays (one groupBy shuffle, sort
    inside the array — no window) and delegates to the array core
    that q_bpe_merge uses directly."""
    toks = stream.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda s: s["tok"],
        ).alias("toks")
    )
    # property-test inputs are tiny by construction: take the zero-job
    # known-small path (corpus_bytes=1) instead of paying the cached
    # count probe once per hypothesis example
    return _bpe_merge_arrays(toks, corpus_bytes=1)


def _bpe_merge_arrays(
    toks: DataFrame, corpus_bytes: int | None = None
) -> DataFrame:
    """One BPE merge step over (doc_id, toks: array<string>).

    ``corpus_bytes``: on-disk size of the source corpus when known —
    the zero-job short-circuit for the coalesce guard below (None/0 =
    unknown layout → run the precise cached-count probe instead).

    The post-merge symbol counts are computed ARITHMETICALLY, never by
    re-walking the corpus. With the w1 ≠ w2 constraint, hits cannot
    overlap (an overlap at i, i+1 needs toks[i+1] = w2 = w1), so every
    occurrence of the adjacent pair (w1, w2) fuses, each fusion emits
    exactly one 'w1 w2' symbol and consumes exactly one w1 and one w2,
    and nothing else changes:

        cnt'(w1 w2) = pc (+ pre-existing count of a literal 'w1 w2'
                          token, if the stream contains one)
        cnt'(w1)    = cnt(w1) - pc
        cnt'(w2)    = cnt(w2) - pc
        cnt'(t)     = cnt(t)          for every other t

    where pc is the winning pair's corpus-wide adjacency count — a
    number pass 1 already produced. (Proof obligations: a hit position
    is never itself dropped — that needs toks[i] = w2 = w1 — and a
    w1/w2 occurrence inside a hit is counted once on each side. The
    hypothesis property test pins this against the sequential
    reference, including the space-containing-token collision case.)

    Both count families come from ONE pass: each token is zipped with
    its successor (NULL for a doc's last token — ``arrays_zip`` pads
    the shorter slice), so every token appears exactly once as ``w1``
    in the exploded stream. The (w1, w2) bigram aggregate is persisted
    (vocabulary²-bounded — the exact table distributed BPE trainers
    materialize per merge round; tiny next to the corpus) and serves
    BOTH the top-pair argmax AND the token counts (Σ over w2). One
    heavy explode+hashagg job, two vocabulary-sized follow-ups — no
    WindowExec, no per-element interpreted lambdas, and the pre-scan
    repartition is paid once instead of once per job (measured at
    sf0.1: window shape 0.84 s, transform-lambda fusion 1.39 s,
    two-pass arithmetic 1.26 s, this single-pass shape ~0.55 s)."""
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.col("toks").alias("w1"),
                F.slice(
                    F.col("toks"), 2, F.greatest(F.size("toks") - 1, F.lit(0))
                ).alias("w2"),
            )
        ).alias("p")
    )
    bigrams = tracked_persist(
        pairs.groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")).agg(
            F.count(F.lit(1)).alias("pc")
        )
    )
    # The 1-row winner is collected ON the materializing action: this
    # single job computes the bigram aggregate, pins it in the cache,
    # and returns the argmax — leaving exactly one more job (the
    # cache-fed arithmetic + top-30). Driving the winner through
    # broadcast-join subqueries instead was measured at 1.24-1.39 s:
    # each broadcast build launched its own job and the two builds
    # raced to compute the cache ("Block already exists" churn). A
    # 1-row collect is control-plane traffic, the same bounded pattern
    # as kmeans' ≤k-row init collect. Empty result (no adjacent pair
    # anywhere with w1 ≠ w2, e.g. all-single-token docs) degrades to
    # plain token counts — the hypothesis-found edge.
    row = (
        bigrams.filter(F.col("w2").isNotNull() & (F.col("w1") != F.col("w2")))
        .orderBy(F.col("pc").desc(), "w1", "w2")
        .limit(1)
        .collect()
    )
    # coalesce(1): the bigram table is vocabulary²-bounded, and a
    # single-partition child satisfies every ClusteredDistribution —
    # the whole tail (token sum, adjustment, union, re-agg, top-30)
    # plans as ONE narrow task with ZERO exchanges. Without it each
    # tiny groupBy paid a shuffle fanned over spark.sql.shuffle
    # .partitions near-empty tasks (measured 0.65-0.85 s of pure
    # stage floors at sf1 with 32-80 shuffle partitions). At a scale
    # where the bigram vocabulary itself outgrows one task the
    # coalesce is DROPPED (size guard below, VERDICT r09 #5) — the
    # exchanges it avoids are then real work. Two-level guard: when
    # the corpus is known-small the coalesce is taken with ZERO extra
    # jobs (the bigram table is vocabulary²-bounded, orders under the
    # cap); only a big-or-unknown corpus pays the precise row-count
    # probe, read off the just-materialized cache (the argmax action
    # above pinned it) — one cache-local job, noise at that scale.
    if corpus_bytes is not None and 0 < corpus_bytes < _BPE_COUNT_PROBE_MIN_BYTES:
        small = bigrams.coalesce(1)
    elif bigrams.count() > _BPE_COALESCE_MAX_ROWS:
        small = bigrams
    else:
        small = bigrams.coalesce(1)
    tokc = small.groupBy(F.col("w1").alias("out_tok")).agg(
        F.sum("pc").alias("cnt")
    )
    if not row:
        counts = tokc
    else:
        w1, w2, pc = row[0].w1, row[0].w2, row[0].pc
        adjusted = tokc.select(
            "out_tok",
            (
                F.col("cnt")
                - F.when(
                    F.col("out_tok").isin(w1, w2), F.lit(pc)
                ).otherwise(F.lit(0))
            ).alias("cnt"),
        )
        fused = toks.sparkSession.range(1).select(
            F.lit(f"{w1} {w2}").alias("out_tok"),
            F.lit(pc).cast("long").alias("cnt"),
        )
        counts = (
            adjusted.unionByName(fused)
            .groupBy("out_tok")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
        )
    # Top-30 via TakeOrderedAndProject + window-free rank (broadcast
    # predecessor-count join over the ≤30-row frame) — the global
    # symbol rank never touches |vocab| and the plan carries zero
    # unpartitioned windows (VERDICT r02 residual nit).
    return topk_with_rank(
        counts, [("cnt", "desc"), ("out_tok", "asc")], 30, "rank"
    ).select(
        F.col("out_tok").alias("token"),
        "cnt",
        F.col("rank").cast("long").alias("rank"),
    )


_LINE_DEDUP_MIN_DOCS = 10  # a line present in >= this many docs is boilerplate


@register(
    "q_line_dedup",
    oracle=f"""
        WITH lines AS (
            SELECT doc_id,
                   unnest(string_split(text, '. ')) AS line
            FROM documents
        ), freq AS (
            SELECT line, COUNT(DISTINCT doc_id) AS n_docs
            FROM lines GROUP BY line
        ), flagged AS (
            SELECT l.doc_id, l.line,
                   CASE WHEN f.n_docs >= {_LINE_DEDUP_MIN_DOCS}
                        THEN 1 ELSE 0 END AS is_boiler
            FROM lines l JOIN freq f ON l.line = f.line
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(is_boiler) AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN is_boiler = 0 THEN length(line)
                             ELSE 0 END) AS BIGINT) AS chars_kept,
               round(CAST(SUM(CASE WHEN is_boiler = 0 THEN length(line)
                                   ELSE 0 END) AS DOUBLE)
                     / NULLIF(SUM(length(line)), 0), 6) AS kept_frac
        FROM flagged
        GROUP BY doc_id
    """,
    category=CAT,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: cross-corpus line-level deduplication — the C4/RefinedWeb
    cleaning step that REMOVES individual lines appearing in many
    documents (nav bars, licenses, disclaimers) while keeping the
    document: sentences here stand in for lines, a line occurring in
    ≥10 distinct docs is boilerplate, and the per-doc ledger reports
    lines kept/dropped and the retained-character fraction. This is
    the APPLICATION step for C1's mined strip-list (q_boilerplate_
    ngrams finds candidates; this removes and accounts).

    Scale: explode → distinct-doc line frequencies (map-side combined
    on the line hash) → one join back keyed by line → per-doc rollup.
    The frequency table is |distinct lines| — far smaller than the
    corpus; at 100 TB it broadcasts if it fits or co-keys on the line
    hash, and the >=k filter can prune it BEFORE the join (only
    boilerplate lines need to flow — kept lines are the default).
    """
    d = load(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id", F.explode(F.split("text", "\\. ")).alias("line")
    )
    freq = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    flagged = lines.join(freq, "line").select(
        "doc_id",
        F.length("line").alias("n_chars"),
        F.when(F.col("n_docs") >= _LINE_DEDUP_MIN_DOCS, 1)
        .otherwise(0)
        .alias("is_boiler"),
    )
    kept_chars = F.sum(
        F.when(F.col("is_boiler") == 0, F.col("n_chars")).otherwise(0)
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("is_boiler").cast("long").alias("n_dropped"),
        kept_chars.cast("long").alias("chars_kept"),
        F.round(
            kept_chars.cast("double") / F.nullif(F.sum("n_chars"), F.lit(0)), 6
        ).alias("kept_frac"),
    )


# --- round-7 addition: normalization-aware duplicate groups ------------------

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
)
_CANON_SQL = f"array_to_string(list_sort(list_distinct(string_split({_NORM_SQL}, ' '))), ' ')"


@register(
    "q_normalized_dedup",
    oracle=f"""
        WITH norm AS (
            SELECT doc_id,
                   {o_h60(_CANON_SQL)} AS canon_hash,
                   md5(text) AS raw_hash
            FROM documents
        )
        SELECT canon_hash,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants,
               MIN(doc_id) AS rep_doc
        FROM norm
        GROUP BY canon_hash
        HAVING COUNT(*) >= 2
    """,
    category=CAT,
)
def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: duplicate groups under the CANONICAL TOKEN-SET fingerprint
    — casefold, strip non-alphanumerics, collapse whitespace, then
    hash the SORTED DISTINCT token set. This is the Jaccard = 1.0
    dedup rung between L4's exact-byte identity and L7/L8's
    approximate near-dup: reorderings, repetitions, case variants and
    punctuation re-encodings all collapse, and it runs in ONE linear
    aggregation pass — no pairwise candidate machinery. A pipeline
    runs this cheap rung first so the expensive LSH pass only sees
    content that set-identity could not already collapse.

    ``n_raw_variants`` counts how many distinct RAW byte-forms each
    group collapsed (groups with > 1 are catches beyond L4);
    ``rep_doc`` (min doc_id) is the canonical keeper, matching the
    keep-first convention of the other dedup ops.

    Scale: normalize + set-canonicalize + hash in codegen, one
    map-combinable aggregation keyed by the 60-bit canonical hash;
    the shuffle carries (hash, digest, doc_id) rows, never text.
    The HAVING >= 2 filter bounds output by true duplication.
    Regex note: Java and RE2 agree on this pattern class; the 'g'
    flag is DuckDB-only (Spark's regexp_replace is global already);
    token sort order is binary in both engines on [a-z0-9] tokens.
    """
    d = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(norm, " "))))
    return (
        d.select(
            "doc_id",
            h60(canon).alias("canon_hash"),
            F.md5("text").alias("raw_hash"),
        )
        .groupBy("canon_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("raw_hash").cast("long").alias("n_raw_variants"),
            F.min("doc_id").alias("rep_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
