"""Scalar-function operators F1–F10 (SURVEY.md §2.8).

Reference capability: the per-image metadata munging and metric
arithmetic scattered through datapipe (hillas_parameters.py moments,
assess.py metric formulas) — generalized to the full string / date /
math / array / JSON scalar surface. Everything here is a built-in
`pyspark.sql.functions` expression: JVM-side, codegen-fused, never a
Python UDF (those live in operators/udfs.py, D1–D5, deliberately).

Cross-engine gotchas handled (verified against DuckDB 1.0.0):
- year()/month()/… return INT in Spark, BIGINT in DuckDB → cast long.
- ceil(double) is BIGINT in Spark, DOUBLE in DuckDB → cast double.
- dayofweek: Spark 1=Sunday…7, DuckDB 0=Sunday…6 → Spark minus 1.
- CAST(double AS INT) truncates in Spark, rounds in DuckDB → never
  cast float→int directly; go through floor().
- datediff(end, start) in Spark ≡ date_diff('day', start, end) DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load

CAT = "scalar_functions"


@register(
    "q_str_funcs",
    oracle="""
        SELECT p_partkey,
               upper(p_name) AS name_upper,
               lower(p_brand) AS brand_lower,
               substring(p_name, 1, 5) AS name_prefix,
               length(p_name) AS name_len,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
               replace(p_name, ' ', '_') AS name_snake,
               concat_ws('|', p_type, p_brand) AS type_brand,
               trim('  ' || p_type || ' ') AS type_trim
        FROM part
    """,
    category=CAT,
)
def q_str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: the core string surface — case, substring, length, pad,
    replace, concat, trim."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.concat_ws("|", "p_type", "p_brand").alias("type_brand"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("type_trim"),
    )


@register(
    "q_str_regex",
    oracle="""
        SELECT p_partkey,
               CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS BIGINT) AS brand_num,
               regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_devoweled,
               string_split(p_name, ' ')[1] AS first_word,
               regexp_matches(p_name, '^(cold|large)') AS starts_cold_large
        FROM part
    """,
    category=CAT,
)
def q_str_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: regexp_extract (capture group), global regexp_replace,
    split + subscript. Spark regexp_replace is global by default;
    DuckDB needs the 'g' flag."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("long").alias("brand_num"),
        F.regexp_replace("p_type", "[AEIOU]", "_").alias("type_devoweled"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.col("p_name").rlike("^(cold|large)").alias("starts_cold_large"),
    )


@register(
    "q_date_funcs",
    oracle="""
        SELECT o_orderkey,
               year(o_orderdate) AS y,
               month(o_orderdate) AS m,
               day(o_orderdate) AS d,
               strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
               date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch_start,
               strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
               strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
               dayofweek(o_orderdate) AS dow
        FROM orders WHERE o_orderkey % 7 = 0
    """,
    category=CAT,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: extraction, truncation, diff/add, last_day, day-of-week —
    with the Spark↔DuckDB convention shims from the module docstring."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.date_format(F.date_add("o_orderdate", 30), "yyyy-MM-dd").alias("plus_30d"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
    )


@register(
    "q_math_funcs",
    oracle="""
        SELECT o_orderkey,
               round(o_totalprice, 1) AS price_r1,
               abs(o_totalprice - 150000) AS dist_150k,
               CAST(ceil(o_totalprice) AS DOUBLE) AS price_ceil,
               CAST(floor(o_totalprice) AS DOUBLE) AS price_floor,
               round(sqrt(o_totalprice), 6) AS price_sqrt,
               round(ln(o_totalprice), 6) AS price_ln,
               round(log10(o_totalprice), 6) AS price_log10,
               round(pow(o_totalprice, 0.25), 6) AS price_pow,
               CAST(sign(o_totalprice - 150000) AS DOUBLE) AS above_150k,
               greatest(o_totalprice, 100000.0) AS at_least_100k,
               least(o_totalprice, 200000.0) AS at_most_200k
        FROM orders WHERE o_orderkey % 5 = 0
    """,
    category=CAT,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: math surface. Transcendentals (ln/log10/pow/sqrt) rounded
    to 6 — libm implementations may differ in the last ulp; everything
    else is exact IEEE and compared raw."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.round(tp, 1).alias("price_r1"),
        F.abs(tp - 150000).alias("dist_150k"),
        F.ceil(tp).cast("double").alias("price_ceil"),
        F.floor(tp).cast("double").alias("price_floor"),
        F.round(F.sqrt(tp), 6).alias("price_sqrt"),
        F.round(F.log(tp), 6).alias("price_ln"),
        F.round(F.log10(tp), 6).alias("price_log10"),
        F.round(F.pow(tp, 0.25), 6).alias("price_pow"),
        F.signum(tp - 150000).cast("double").alias("above_150k"),
        F.greatest(tp, F.lit(100000.0)).alias("at_least_100k"),
        F.least(tp, F.lit(200000.0)).alias("at_most_200k"),
    )


@register(
    "q_null_funcs",
    oracle="""
        SELECT o_orderkey,
               NULLIF(o_orderstatus, 'P') AS status_np,
               COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_filled,
               (CASE WHEN NULLIF(o_orderstatus, 'P') IS NOT NULL
                     THEN 'known' ELSE 'unknown' END) AS nvl2_style,
               IFNULL(NULLIF(o_orderpriority, '4-NOT SPECIFIED'), 'none') AS prio_or_none
        FROM orders
    """,
    category=CAT,
)
def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: null handling — NULLIF to synthesize nulls (data is
    null-free), COALESCE / IFNULL / NVL2-style CASE to fold them."""
    o = load(spark, sf_dir, "orders")
    status_np = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.select(
        "o_orderkey",
        status_np.alias("status_np"),
        F.coalesce(status_np, F.lit("PENDING")).alias("status_filled"),
        F.when(status_np.isNotNull(), "known").otherwise("unknown").alias("nvl2_style"),
        F.ifnull(
            F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")), F.lit("none")
        ).alias("prio_or_none"),
    )


@register(
    "q_array_funcs",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_unique,
               list_aggregate(string_split(text, ' '), 'max') AS max_token,
               array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
               list_contains(string_split(text, ' '), 'table') AS has_table,
               list_sort(list_distinct(string_split(text, ' ')))[1] AS min_token
        FROM documents
    """,
    category=CAT,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: array surface over whitespace tokenization (FIXTURES.md:
    split-on-space is a correct tokenizer for this corpus)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.array_max(toks).alias("max_token"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_contains(toks, "table").alias("has_table"),
        F.array_sort(F.array_distinct(toks)).getItem(0).alias("min_token"),
    )


@register(
    "q_array_hof",
    oracle="""
        SELECT vec_id,
               round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), 6)
                   AS norm_sq,
               round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 6)
                   AS l1_norm,
               round(list_max(CAST(embedding AS DOUBLE[])), 6) AS max_component,
               len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS n_positive
        FROM embeddings
    """,
    category=CAT,
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: higher-order functions over the 64-dim embedding column —
    transform/aggregate (fold) for norms, filter for sign counts.
    All JVM-side: a 100 TB embedding table never touches Python here.
    Sums fold left-to-right in both engines; round(6) guards the
    float32→double path."""
    e = load(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.round(
            F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x), 6
        ).alias("norm_sq"),
        F.round(
            F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + F.abs(x)), 6
        ).alias("l1_norm"),
        F.round(F.array_max(vec), 6).alias("max_component"),
        F.size(F.filter(vec, lambda x: x > 0)).cast("long").alias("n_positive"),
    )


@register(
    "q_explode",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS token,
                   unnest(range(len(string_split(text, ' ')))) AS pos
            FROM documents
        )
        SELECT token,
               COUNT(*) AS n,
               COUNT(DISTINCT doc_id) AS n_docs,
               MIN(pos) AS min_pos
        FROM toks
        GROUP BY token
        ORDER BY n DESC, token ASC
        LIMIT 20
    """,
    category=CAT,
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: posexplode word count — top-20 tokens with doc frequency
    and earliest position.

    Round 6 (VERDICT r05 #2), re-kerneled round 12 (VERDICT r11 #7):
    tokenize+count runs in a ``mapInArrow`` pyarrow-compute kernel
    emitting per-batch (token, n, batch_distinct_docs,
    batch_min_pos) partials; the grouped agg then SUMs the doc
    partials — exact because each document is one input row, so its
    batch membership is exclusive — and MINs the position. The shuffle
    carries per-batch vocabulary, far below the raw ×|tokens| explode,
    and the token loop leaves JVM codegen where the posexplode+Expand
    form burned its time (countDistinct doubles rows via Expand).
    Measured sf10 (in-session medians): JVM posexplode 4.82 s → kernel
    1.43 s; bench-protocol numbers in BASELINE.md. No repartition: the
    kernel is one narrow pass and the multi-file scan's native splits
    already spread it (repartitioning raw text measured WORSE at both
    sf1 and sf10 — 1.00 vs 0.63 s, the bpe lesson).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")

    def token_partials(batches):
        # r12 (VERDICT r11 #7, guide §4.2): the Counter kernel's
        # min-pos pass was a pure-Python enumerate over every token;
        # this form is pyarrow-compute end to end — split_pattern →
        # list_flatten (+parent indices), per-batch Acero group_bys
        # for (occ, min_pos) and batch-distinct docs — and skips the
        # pandas materialization entirely (mapInArrow). Same per-batch
        # partial semantics: a doc is one row, so batch-distinct doc
        # counts still partition the true count. Null text → null
        # list → contributes nothing, like the Counter kernel
        # (tests/test_guards.py pins it). ABBA vs the Counter kernel
        # (toPandas protocol, interleaved): sf0.1 0.464→0.448 s,
        # sf1 1.23→1.13 s, sf10 1.55→1.40 s — wins at every tier.
        # The sibling q_boilerplate_ngrams kernel stays on Counter:
        # its arrow twin measured +76% at sf10 (Acero group_by over
        # millions of materialized 5-gram strings per batch loses to
        # the C-speed Counter).
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            split = pc.split_pattern(batch.column(1), " ")
            flat = pc.list_flatten(split)
            if len(flat) == 0:
                continue
            parent = pc.list_parent_indices(split)
            # slice-proof position math (ADVICE r12 #4): list_flatten
            # and list_parent_indices are offset-relative to the
            # array's first element, while split.offsets is the raw
            # buffer view — subtract offsets[0] so a sliced input
            # (split.offset > 0, zero-copy views) can never silently
            # shift positions. Today's mapInArrow batches are unsliced
            # (offsets[0] == 0) and the subtraction is a no-op.
            offsets = np.asarray(split.offsets).astype(np.int64)
            offsets = offsets - offsets[0]
            pos = np.arange(len(flat), dtype=np.int64) - offsets[
                np.asarray(parent)
            ]
            t = pa.table(
                {"token": flat, "parent": parent, "pos": pa.array(pos)}
            )
            per_tok = t.group_by("token").aggregate(
                [("pos", "min"), ("token", "count")]
            )
            pairs = t.group_by(["token", "parent"]).aggregate([])
            per_doc = pairs.group_by("token").aggregate([("parent", "count")])
            out = per_tok.join(per_doc, "token")
            yield pa.record_batch(
                [
                    out["token"].combine_chunks(),
                    out["token_count"].cast(pa.int64()).combine_chunks(),
                    out["parent_count"].cast(pa.int64()).combine_chunks(),
                    out["pos_min"].cast(pa.int64()).combine_chunks(),
                ],
                names=["token", "n", "docs", "min_pos"],
            )

    partials = d.mapInArrow(
        token_partials, "token string, n long, docs long, min_pos long"
    )
    return (
        partials.groupBy("token")
        .agg(
            F.sum("n").alias("n"),
            F.sum("docs").alias("n_docs"),
            F.min("min_pos").cast("long").alias("min_pos"),
        )
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


@register(
    "q_json_extract",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
        FROM events
        GROUP BY event_type
    """,
    category=CAT,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: JSON path extraction from events.props ('{"k": 87}') +
    integer aggregation. get_json_object evaluates in the JVM without
    materializing a parsed tree per row; for repeated multi-field
    access at scale, from_json(schema) once into a struct column wins."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


@register(
    "q_cast_types",
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderkey AS VARCHAR) AS key_str,
               CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor_int,
               CAST(CAST(o_orderkey AS DOUBLE) AS BIGINT) AS key_via_double,
               TRY_CAST(o_orderstatus AS BIGINT) AS status_as_int,
               CAST(epoch(o_orderdate) AS BIGINT) AS date_epoch_s,
               strftime(to_timestamp(epoch(o_orderdate)), '%Y-%m-%d') AS date_roundtrip
        FROM orders WHERE o_orderkey % 11 = 0
    """,
    category=CAT,
)
def q_cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: explicit cast round-trips under ANSI mode. float→int goes
    through floor() (Spark truncates, DuckDB rounds — direct casts
    are a portability trap); TRY_CAST of a non-numeric yields null in
    both engines instead of an ANSI error."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    epoch_s = F.unix_timestamp("o_orderdate")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("long").alias("key_roundtrip"),
        F.floor("o_totalprice").cast("long").alias("price_floor_int"),
        F.col("o_orderkey").cast("double").cast("long").alias("key_via_double"),
        F.expr("TRY_CAST(o_orderstatus AS BIGINT)").alias("status_as_int"),
        epoch_s.alias("date_epoch_s"),
        F.date_format(F.timestamp_seconds(epoch_s), "yyyy-MM-dd").alias("date_roundtrip"),
    )


@register(
    "q_map_funcs",
    oracle="""
        WITH base AS (
            SELECT event_id,
                   CAST(props ->> '$.k' AS BIGINT) AS k_val,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS val_cents,
                   user_id % 7 AS uid_mod
            FROM events WHERE event_id < 2000
        )
        SELECT event_id,
               3 AS n_keys,
               k_val,
               'k,uid_mod,val_cents' AS keys_sorted,
               k_val * 2 AS k_doubled,
               (CASE WHEN k_val % 2 = 0 THEN 1 ELSE 0 END
                + CASE WHEN val_cents % 2 = 0 THEN 1 ELSE 0 END
                + CASE WHEN uid_mod % 2 = 0 THEN 1 ELSE 0 END
                + 1) AS n_even
        FROM base
    """,
    category=CAT,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: map-typed column surface — construct a map from event
    fields (map_from_arrays), then exercise the access/transform
    algebra: size, element_at, sorted map_keys, transform_values,
    map_concat + map_filter. Map values never cross the oracle
    boundary as maps (unhashable in the driver's canonicalizer, same
    rule as arrays/structs) — every output is a scalar projection,
    which the oracle recomputes directly from the source fields, so
    the check proves values survive the map algebra unchanged.

    Scale: narrow per-row expressions, zero shuffle; maps are struct
    storage in Tungsten — no boxing. At 100 TB the same pattern backs
    feature-bag columns (sparse features as map<string,double>).
    """
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k_val = F.get_json_object("props", "$.k").cast("long")
    val_cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    uid_mod = F.col("user_id") % 7
    m = F.map_from_arrays(
        F.array(F.lit("k"), F.lit("val_cents"), F.lit("uid_mod")),
        F.array(k_val, val_cents, uid_mod),
    )
    m2 = F.map_concat(m, F.create_map(F.lit("extra"), F.lit(0).cast("long")))
    evens = F.map_filter(m2, lambda k, v: v % 2 == 0)
    return e.select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.element_at(m, "k").alias("k_val"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(F.transform_values(m, lambda k, v: v * 2), "k").alias(
            "k_doubled"
        ),
        F.size(evens).alias("n_even"),
    )


@register(
    "q_variant_json",
    oracle="""
        WITH x AS (
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        SELECT event_type,
               COUNT(*) AS n,
               CAST(COUNT(k) AS BIGINT) AS n_k,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k
        FROM x GROUP BY 1
    """,
    category=CAT,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: semi-structured access through Spark 4's VARIANT type —
    `parse_json` decodes the props payload ONCE into the binary
    variant encoding, `variant_get` then does typed path access
    without re-parsing (the Snowflake/Delta semi-structured column
    model; F9 is the same extraction through per-access
    `get_json_object` string re-parsing). Oracle: DuckDB's native
    `json_extract` on the same path.

    Scale: variant decode happens in the scan projection — one parse
    per row however many paths are extracted, vs one parse PER PATH
    for get_json_object; for wide telemetry payloads that multiple is
    the scan cost. Aggregation is an ordinary map-side-combined
    hash agg on the extracted typed columns.
    """
    e = load(spark, sf_dir, "events")
    k = F.expr("cast(variant_get(parse_json(props), '$.k') as bigint)")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").cast("long").alias("n_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.countDistinct("k").cast("long").alias("n_distinct_k"),
        )
    )


@register(
    "q_sql_udf",
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                   * 1000000) AS BIGINT)) AS BIGINT)
                   AS disc_micro,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 1000000) AS BIGINT))
                   AS BIGINT) AS charge_micro
        FROM lineitem GROUP BY 1
    """,
    category=CAT,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: SQL-defined scalar functions (Spark 4 `CREATE FUNCTION …
    RETURN expr`) — business logic named ONCE in the catalog and
    reused across queries, instead of copy-pasted expressions. The
    oracle inlines the same arithmetic (DuckDB's equivalent surface
    is CREATE MACRO), so the check proves the UDF body resolves to
    exactly the inline expression.

    Scale: SQL UDFs inline at plan time — Catalyst substitutes the
    body and the whole pipeline stays in codegen, unlike a Python UDF
    (no serialization boundary, no black box to the optimizer —
    pushdown THROUGH the function still works).
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE,"
        " d DOUBLE) RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charge(p DOUBLE,"
        " d DOUBLE, t DOUBLE) RETURNS DOUBLE"
        " RETURN p * (1 - d) * (1 + t)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(round(disc_price(l_extendedprice,
                                              l_discount)
                                   * 1000000) AS BIGINT)) AS BIGINT)
                   AS disc_micro,
               CAST(SUM(CAST(round(charge(l_extendedprice, l_discount,
                                          l_tax) * 1000000) AS BIGINT))
                   AS BIGINT) AS charge_micro
        FROM {lineitem} GROUP BY 1
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@register(
    "q_try_arithmetic",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN (o_custkey % 100) = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_div_null,
               CAST(SUM(CAST(round(COALESCE(
                       o_totalprice / nullif(CAST(o_custkey % 100 AS DOUBLE),
                                             0.0),
                       0.0) * 100) AS BIGINT)) AS BIGINT) AS safe_div_cents,
               CAST(SUM(CASE WHEN TRY_CAST(
                       CASE WHEN (o_orderkey % 7) = 0
                            THEN 'x' || CAST(o_orderkey AS VARCHAR)
                            ELSE CAST(o_orderkey AS VARCHAR) END
                       AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cast_null,
               CAST(SUM(COALESCE(TRY_CAST(
                       CASE WHEN (o_orderkey % 7) = 0
                            THEN 'x' || CAST(o_orderkey AS VARCHAR)
                            ELSE CAST(o_orderkey AS VARCHAR) END
                       AS BIGINT), 0)) AS BIGINT) AS cast_sum
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    category=CAT,
)
def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: error-safe arithmetic under ANSI mode — Spark 4 runs with
    `spark.sql.ansi.enabled=true` by default, where ÷0 and bad casts
    THROW instead of returning NULL. The engine-correct guards are
    `try_divide` / `try_cast` (null-on-error), demonstrated against a
    synthesized workload where 1-in-100 divisors are zero and 1-in-7
    strings are unparseable. DuckDB throws on ÷0 and bad CAST too, so
    its oracle spells the same semantics with `nullif` and `TRY_CAST`.

    Parity traps this pins: NULL-propagation through aggregates
    (SUM skips NULLs on both engines), and the count of error rows
    per class — if either engine silently coerced instead of nulling,
    the n_*_null columns would diverge.

    Scale: pure scan-side expressions inside codegen + one small-key
    agg. try_* functions cost one branch over their unsafe twins —
    the 100 TB advice is to use them everywhere user data can be
    malformed, which is everywhere.
    """
    o = load(spark, sf_dir, "orders")
    div = F.try_divide(
        F.col("o_totalprice"), (F.col("o_custkey") % 100).cast("double")
    )
    bad_str = F.when(
        (F.col("o_orderkey") % 7) == 0,
        F.concat(F.lit("x"), F.col("o_orderkey").cast("string")),
    ).otherwise(F.col("o_orderkey").cast("string"))
    cast = bad_str.try_cast("bigint")
    return (
        o.select(
            "o_orderpriority",
            div.alias("d"),
            F.when(F.col("o_custkey") % 100 == 0, 1).otherwise(0).alias(
                "div_null"
            ),
            cast.alias("c"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("div_null").cast("long").alias("n_div_null"),
            F.sum(
                F.round(F.coalesce(F.col("d"), F.lit(0.0)) * 100).cast("long")
            )
            .cast("long")
            .alias("safe_div_cents"),
            F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_cast_null"),
            F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias(
                "cast_sum"
            ),
        )
        .orderBy("o_orderpriority")
    )


# SQL scripting (Spark 4 BEGIN…END): a doubling search for the price
# threshold that isolates at most MAX_TAIL orders. The WHILE loop's
# fixpoint has a closed form the classic-SQL oracle states directly, so
# the scripting surface (DECLARE, SET from scalar subqueries, WHILE) is
# value-checked, not just smoke-tested.
_SCRIPT_START = 1000
_SCRIPT_MAX_TAIL = 100

_SCRIPTING_SQL = f"""
BEGIN
  DECLARE threshold BIGINT DEFAULT {_SCRIPT_START};
  DECLARE tail_n BIGINT DEFAULT 0;
  SET tail_n = (SELECT COUNT(*) FROM {{orders}} WHERE o_totalprice > threshold);
  WHILE tail_n > {_SCRIPT_MAX_TAIL} DO
    SET threshold = threshold * 2;
    SET tail_n = (SELECT COUNT(*) FROM {{orders}} WHERE o_totalprice > threshold);
  END WHILE;
  SELECT threshold, tail_n;
END
"""


@register(
    "q_sql_scripting",
    oracle=f"""
        WITH cand AS (
            SELECT {_SCRIPT_START} * (1 << m.m) AS threshold
            FROM (SELECT unnest(range(0, 40)) AS m) m
        ), scored AS (
            SELECT c.threshold,
                   (SELECT COUNT(*) FROM orders
                    WHERE o_totalprice > c.threshold) AS tail_n
            FROM cand c
        )
        SELECT CAST(threshold AS BIGINT) AS threshold,
               CAST(tail_n AS BIGINT) AS tail_n
        FROM scored
        WHERE tail_n <= {_SCRIPT_MAX_TAIL}
        ORDER BY threshold ASC
        LIMIT 1
    """,
    category=CAT,
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: SQL scripting (Spark 4 `BEGIN…END` procedural blocks) —
    DECLARE'd variables, SET from correlated scalar subqueries, and a
    WHILE loop doubling a price threshold until at most 100 orders
    exceed it. The oracle computes the loop's fixpoint in closed form
    (first power-of-two multiple whose tail count fits), so control
    flow, variable scoping, and loop termination are all
    value-checked against classic SQL.

    Scale: each loop iteration is one pushed-down count scan — the
    doubling search runs O(log range) scans total, each a
    footer-metadata-light aggregate; procedural state (two BIGINTs)
    lives on the driver, never the data path.
    """
    return spark.sql(_SCRIPTING_SQL, orders=load(spark, sf_dir, "orders"))


@register(
    "q_collation_group",
    oracle="""
        WITH variants AS (
            SELECT p_partkey, p_name AS w FROM part
            UNION ALL
            SELECT p_partkey, upper(p_name) FROM part
            UNION ALL
            SELECT p_partkey,
                   upper(substr(p_name, 1, 1)) || substr(p_name, 2)
            FROM part
        )
        SELECT min(w) AS canonical,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS n_spellings
        FROM variants
        GROUP BY w COLLATE NOCASE
    """,
    category=CAT,
)
def q_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: collation-aware grouping (Spark 4 collation engine,
    `collate(w, 'UTF8_LCASE')`) — three deterministic case variants
    of every part name must collapse into ONE group under the
    case-insensitive collation, with the binary-minimum spelling as
    the deterministic representative (never the collation engine's
    arbitrary group key). DuckDB's `COLLATE NOCASE` states the same
    semantics; the inputs are ASCII so the two engines' folding
    tables agree (non-ASCII folding differences are exactly why the
    representative is projected, not the key).

    Scale: collation comparison happens inside the hash aggregate's
    key normalization — same two-phase combine as any groupBy; no
    extra pass.
    """
    p = load(spark, sf_dir, "part")
    variants = (
        p.select(F.col("p_name").alias("w"))
        .unionByName(p.select(F.upper("p_name").alias("w")))
        .unionByName(
            p.select(
                F.concat(
                    F.upper(F.substring("p_name", 1, 1)),
                    F.expr("substr(p_name, 2)"),
                ).alias("w")
            )
        )
    )
    return (
        variants.groupBy(F.expr("collate(w, 'UTF8_LCASE')").alias("k"))
        .agg(
            F.min(F.expr("collate(w, 'UTF8_BINARY')")).alias("canonical"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(F.expr("collate(w, 'UTF8_BINARY')")).alias(
                "n_spellings"
            ),
        )
        .drop("k")
    )


# event_type -> bit position for the presence bitmask
_TYPE_BITS = "CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2 " \
             "WHEN 'view' THEN 4 WHEN 'error' THEN 8 WHEN 'purchase' THEN 16 " \
             "ELSE 0 END"


@register(
    "q_bitmask_rollup",
    oracle=f"""
        WITH m AS (
            SELECT user_id,
                   CAST(bit_or({_TYPE_BITS}) AS BIGINT) AS type_mask,
                   CAST(bit_xor({_TYPE_BITS}) AS BIGINT) AS xor_mask,
                   bool_and(value >= 0) AS all_nonneg,
                   bool_or(event_type = 'error') AS any_error
            FROM events GROUP BY user_id
        )
        SELECT user_id, type_mask,
               CAST(bit_count(type_mask) AS BIGINT) AS n_types,
               xor_mask, all_nonneg, any_error
        FROM m
    """,
    category=CAT,
)
def q_bitmask_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17: bitwise + boolean aggregate surface — per-user presence
    bitmask via `bit_or` (one bit per event type), `bit_count` as the
    distinct-type cardinality (a COUNT DISTINCT for free when the
    domain is enumerable), `bit_xor` parity, and the `bool_and`/
    `bool_or` predicates every data-quality rollup uses. The
    bitmask-instead-of-distinct trick is THE cheap set-membership
    encoding for small domains: O(1) state per group vs a dedup
    hash table.

    Scale: all four are map-side-combinable single-value accumulators
    — the cheapest aggregate class there is; the bitmask trick
    specifically replaces an expand+distinct two-phase plan with a
    plain OR fold.
    """
    return spark.sql(f"""
        SELECT user_id,
               type_mask,
               CAST(bit_count(type_mask) AS BIGINT) AS n_types,
               xor_mask, all_nonneg, any_error
        FROM (
            SELECT user_id,
                   CAST(bit_or({_TYPE_BITS}) AS BIGINT) AS type_mask,
                   CAST(bit_xor({_TYPE_BITS}) AS BIGINT) AS xor_mask,
                   bool_and(value >= 0) AS all_nonneg,
                   bool_or(event_type = 'error') AS any_error
            FROM {{events}} GROUP BY user_id
        )
    """, events=load(spark, sf_dir, "events"))
