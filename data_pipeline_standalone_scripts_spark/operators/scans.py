"""Scan / source / sink operators S1–S4 (SURVEY.md §2.1).

Reference capability: datapipe/io/images.py directory iteration +
benchmark JSON score dumps (SURVEY.md §2.12) — here: columnar parquet
scans with pruning/pushdown, and parquet/CSV/JSON sinks.

Scale notes: S1's .select reaches the scan as ReadSchema (column
pruning) — at 100 TB that's the difference between reading 3 columns
and reading 16. Sinks write partitioned directories; one file per
task, no driver funnel.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load
from .common import dsum, o_dsum, on_release, tracked_persist, ts_str

CAT = "scans"


@functools.cache
def _scratch_root() -> str:
    # one root per process, removed when the interpreter exits: the
    # backstop for builds whose caller never releases them
    # (as session._ship_package)
    root = tempfile.mkdtemp(prefix="spark-graft-scans-")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _scratch_dir(name: str) -> str:
    """A fresh, empty directory for one build's sink: two builds of
    the same query never share (or delete) each other's files. The
    frame built over it reads it lazily, so it is removed at the
    building thread's next release_persists(), with the persists."""
    out = tempfile.mkdtemp(prefix=name, dir=_scratch_root())
    on_release(functools.partial(shutil.rmtree, out, ignore_errors=True))
    return out


@register(
    "q_scan_project",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               strftime(l_shipdate, '%Y-%m-%d') AS shipdate
        FROM lineitem
        WHERE l_linenumber <= 2
    """,
    category=CAT,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: projection subset — column pruning reaches the parquet scan
    (explain shows ReadSchema with exactly these 4 columns and
    PushedFilters for the linenumber predicate)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("shipdate"),
    )


@register(
    "q_scan_count",
    oracle="""
        SELECT 'region' AS table_name, COUNT(*) AS n FROM region
        UNION ALL SELECT 'nation', COUNT(*) FROM nation
        UNION ALL SELECT 'customer', COUNT(*) FROM customer
        UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        UNION ALL SELECT 'part', COUNT(*) FROM part
        UNION ALL SELECT 'orders', COUNT(*) FROM orders
        UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        UNION ALL SELECT 'events', COUNT(*) FROM events
        UNION ALL SELECT 'documents', COUNT(*) FROM documents
        UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    """,
    category=CAT,
)
def q_scan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: dataset census — per-table counts via union. Count over
    parquet uses footer row-group metadata, no data read."""
    from ..tables import TABLES

    dfs = [
        load(spark, sf_dir, t)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(t).alias("table_name"), "n")
        for t in TABLES
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


@register(
    "q_sink_roundtrip",
    oracle=f"""
        SELECT l_returnflag,
               COUNT(*) AS total_rows,
               {o_dsum("l_quantity", "total_qty")}
        FROM lineitem
        GROUP BY l_returnflag
    """,
    category=CAT,
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: write a derived table to parquet, read it back, aggregate.
    The written directory is partitioned by the group key — the
    100 TB sink pattern (`partitionBy` → partition pruning for
    downstream readers).

    Full T2: a lossless round-trip means the re-read aggregate must
    equal the same aggregate computed straight from the source, so
    the oracle IS that source-side aggregate — any drop, duplication
    or type mangling through write→read fails the value hash. (The
    re-summed per-status dsum values are exact micro-unit multiples
    whose total stays far under 2^53, so the two-level sum is
    order-free and equals the one-level oracle sum exactly.)"""
    out_dir = _scratch_dir("sink_roundtrip.parquet")
    li = load(spark, sf_dir, "lineitem")
    derived = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n")
    )
    derived.write.mode("overwrite").partitionBy("l_returnflag").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    return back.groupBy("l_returnflag").agg(
        F.sum("n").alias("total_rows"), F.sum("sum_qty").alias("total_qty")
    )


@register(
    "q_csv_json_io",
    oracle="""
        SELECT fmt, COUNT(*) AS n,
               CAST(SUM(n_nationkey) AS BIGINT) AS key_checksum
        FROM (
            SELECT 'csv' AS fmt, n_nationkey FROM nation
            UNION ALL
            SELECT 'json' AS fmt, n_nationkey FROM nation
        )
        GROUP BY fmt
    """,
    category=CAT,
)
def q_csv_json_io(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: CSV + JSON-lines sink/source round-trip with an explicit
    read schema (never inferSchema in an engine path — schema comes
    from the catalog, inference is a full extra scan at 100 TB).

    Full T2: the oracle states what a lossless text round-trip must
    reproduce — per-format row count and integer-key checksum straight
    from the source table — so truncated writes, misparsed headers, or
    type coercion through either text format fail the value hash."""
    csv_dir = _scratch_dir("io_nation.csv")
    json_dir = _scratch_dir("io_nation.json")
    nation = load(spark, sf_dir, "nation")
    nation.write.mode("overwrite").option("header", True).csv(csv_dir)
    nation.write.mode("overwrite").json(json_dir)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    csv_back = spark.read.schema(schema).option("header", True).csv(csv_dir)
    json_back = spark.read.schema(schema).json(json_dir)
    return (
        csv_back.select(F.lit("csv").alias("fmt"), "n_nationkey", "n_name")
        .unionByName(json_back.select(F.lit("json").alias("fmt"), "n_nationkey", "n_name"))
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_nationkey").alias("key_checksum"),
        )
    )


@register(
    "q_partitioned_prune",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
                   / 1000000.0 AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) = DATE '2024-01-03'
        GROUP BY event_type
    """,
    category=CAT,
)
def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: date-partitioned sink + partition-pruned re-read.

    Writes events partitioned by event_date (the 100 TB layout SURVEY
    §4 prescribes for the events table), then re-reads ONE day — the
    filter resolves against directory names (explain: PartitionFilters,
    one partition scanned), not data. The oracle recomputes the same
    day's aggregate from the raw table, so pruning correctness is
    value-checked, not just plan-checked (test_scale_plans asserts the
    plan shape too).

    Scale: this is the canonical time-series layout — ingest appends
    one partition per day; every dashboard query prunes to its window;
    compaction and retention operate per-directory.
    """
    out_dir = _scratch_dir("events_by_date.parquet")
    ev = load(spark, sf_dir, "events")
    ev.withColumn("event_date", F.to_date("ts")).write.mode("overwrite").partitionBy(
        "event_date"
    ).parquet(out_dir)
    back = spark.read.parquet(out_dir)
    return (
        back.filter(F.col("event_date") == F.lit("2024-01-03").cast("date"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
    )


@register(
    "q_orc_io",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS DOUBLE)
                   / 1000000.0 AS sum_price
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY o_orderstatus
    """,
    category=CAT,
)
def q_orc_io(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: ORC sink/source round-trip. Writes the filtered slice to
    ORC (Spark's second first-class columnar format — same pushdown /
    pruning machinery as parquet), reads it back, aggregates. The
    oracle computes the identical aggregate straight from the source
    table, so ORC round-trip fidelity (types, values, nulls) is
    value-checked.

    Scale: format choice is orthogonal to every plan in this engine —
    both formats give vectorized scans, predicate pushdown, and
    per-column encodings; parquet stays the default (ecosystem), ORC
    exists for interop."""
    out_dir = _scratch_dir("orders_urgent.orc")
    o = load(spark, sf_dir, "orders")
    o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).write.mode(
        "overwrite"
    ).orc(out_dir)
    back = spark.read.orc(out_dir)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price")
    )


@register(
    "q_xml_io",
    oracle="""
        SELECT r_regionkey, COUNT(*) AS n_nations,
               CAST(SUM(n_nationkey) AS BIGINT) AS key_checksum
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1
    """,
    category=CAT,
)
def q_xml_io(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: XML sink/source round-trip through Spark 4's NATIVE xml
    format (spark-xml folded into core in 4.0) — write the joined
    nation⋈region dim as row-tagged XML, read it back with an explicit
    rowTag, aggregate. Lossless round-trip ⇒ the oracle is the same
    aggregate straight from the source tables.

    Scale: XML is an ingest/interchange edge format, not a lake
    format — the pattern at scale is exactly this op: parse once
    (schema inference off, explicit rowTag), land to parquet, never
    re-read the XML. The XML reader is splittable by row tag, so even
    the one-time parse parallelizes.
    """
    out_dir = _scratch_dir("xml_io.xml")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select("n_nationkey", "n_name", "r_regionkey", "r_name")
    joined.write.format("xml").option("rootTag", "dims").option(
        "rowTag", "dim"
    ).mode("overwrite").save(out_dir)
    back = (
        spark.read.format("xml")
        .option("rowTag", "dim")
        .schema("n_nationkey long, n_name string, r_regionkey long, r_name string")
        .load(out_dir)
    )
    return back.groupBy("r_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_nationkey").cast("long").alias("key_checksum"),
    )


@register(
    "q_binaryfile_scan",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_files,
               CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
               MIN(md5(text)) AS min_md5
        FROM documents WHERE doc_id < 100
        GROUP BY 1
    """,
    category=CAT,
)
def q_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: `binaryFile` source — land each document's UTF-8 bytes as
    its own file, scan the directory back as (path, length, content)
    rows, recover the doc identity from the file name, and value-check
    content integrity per language via byte length + MD5 against the
    source table. This is the raw-asset ingestion path for multimodal
    corpora (images/audio land exactly like this before decode).

    The writer side is a tiny foreachPartition file dump — executor-
    side, no driver loop; 100 files keeps the demo honest without
    stressing the small-file antipattern this op exists to feed into
    compaction (MT1).

    Scale: binaryFile scans parallelize per file and prune columns
    (length/path without content when content is unused). The
    documented production shape: binaryFile → (id, bytes) parquet with
    MT1-sized files, then all downstream reads are columnar.
    """
    out_dir = _scratch_dir("binaryfile_scan.dir")
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)

    def dump(rows):
        for row in rows:
            path = os.path.join(out_dir, f"{row.doc_id:06d}.txt")
            with open(path, "wb") as f:
                f.write(row.text.encode("utf-8"))

    d.select("doc_id", "text").foreachPartition(dump)
    files = (
        spark.read.format("binaryFile")
        .load(out_dir)
        .select(
            F.regexp_extract(
                F.col("path"), r"(\d{6})\.txt$", 1
            ).cast("long").alias("doc_id"),
            "length",
            F.md5("content").alias("content_md5"),
        )
    )
    meta = d.select("doc_id", "lang")
    return (
        files.join(meta, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").cast("long").alias("total_bytes"),
            F.min("content_md5").alias("min_md5"),
        )
    )


@register(
    "q_text_io",
    oracle="""
        SELECT COUNT(*) AS n_lines,
               CAST(SUM(n_chars + 11) AS BIGINT) AS total_chars,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_en
        FROM documents
    """,
    category=CAT,
)
def q_text_io(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: `text` sink/source round-trip — one document per line with
    a parse-able 11-char header (`lang` padded to 10 + one tab), the
    log-file/raw-corpus interchange format every ingestion pipeline
    eventually meets. Writes via the text sink, re-reads as raw
    lines, re-parses the header, and proves losslessness against the
    source table: line count, total character mass (n_chars + the 11
    header chars per line), and the per-language count surviving the
    parse.

    The newline-delimited format forbids newlines in the payload —
    true for this corpus; a real corpus escapes them first (the
    documented contract of the format, not of this operator).

    Scale: text read/write is splittable by line like CSV; the header
    parse is a codegen substring, and the checksum aggregate map-side
    combines. No schema inference anywhere — the line IS the schema.
    """
    out_dir = _scratch_dir("io_documents.text")
    d = load(spark, sf_dir, "documents")
    line = F.concat(
        F.rpad("lang", 10, " "), F.lit("\t"), F.col("text")
    )
    d.select(line.alias("value")).write.mode("overwrite").text(out_dir)
    back = spark.read.text(out_dir)
    parsed = back.select(
        F.trim(F.substring("value", 1, 10)).alias("lang"),
        F.length("value").alias("line_len"),
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("line_len").cast("long").alias("total_chars"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_en"),
    )


@register(
    "q_schema_evolution",
    oracle="""
        WITH merged AS (
            SELECT n_nationkey, n_name, n_regionkey, NULL AS n_name_upper
            FROM nation
            UNION ALL BY NAME
            SELECT n_nationkey, n_name, upper(n_name) AS n_name_upper
            FROM nation
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(n_regionkey) AS BIGINT) AS with_regionkey,
               CAST(COUNT(n_name_upper) AS BIGINT) AS with_upper,
               CAST(SUM(n_nationkey) AS BIGINT) AS key_checksum
        FROM merged
    """,
    category=CAT,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: schema-evolution read — two parquet batches written with
    DIFFERENT schemas (v1 has n_regionkey, v2 instead adds
    n_name_upper) land in one directory; `mergeSchema=true` reconciles
    them into the union schema with NULLs where a batch lacks a column.
    This is the append-only data-lake evolution path (new columns
    appear over time, old files stay valid).

    The oracle states the contract as UNION ALL BY NAME over the same
    two projections — row counts per column presence and an integer
    checksum must survive the write→merge→read trip.

    Scale: mergeSchema reconciles FOOTERS, not data (a driver-side
    schema union over file metadata); the scan itself stays columnar
    and pruned. Fleet-wide practice at 100 TB is a catalog-owned
    schema (the merge result pinned once), not per-query inference —
    which is exactly what the explicit union schema here mimics.
    """
    out_dir = _scratch_dir("schema_evolution.parquet")
    n = load(spark, sf_dir, "nation")
    v1 = n.select("n_nationkey", "n_name", "n_regionkey")
    v2 = n.select(
        "n_nationkey", "n_name", F.upper("n_name").alias("n_name_upper")
    )
    v1.write.mode("overwrite").parquet(out_dir)
    v2.write.mode("append").parquet(out_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(out_dir)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_regionkey").cast("long").alias("with_regionkey"),
        F.count("n_name_upper").cast("long").alias("with_upper"),
        F.sum("n_nationkey").cast("long").alias("key_checksum"),
    )


@register(
    "q_dynamic_overwrite",
    oracle="""
        WITH final AS (
            SELECT o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                     AS revised
            FROM orders
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN revised = 1 THEN cents * 2 ELSE cents END)
                    AS BIGINT) AS total_cents,
               CAST(MAX(revised) AS BIGINT) AS was_revised
        FROM final
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    category=CAT,
)
def q_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: dynamic partition overwrite — the idempotent-backfill sink
    pattern. Write orders partitioned by priority; then rewrite ONLY
    the 1-URGENT partition (with doubled amounts to make the change
    observable) in `partitionOverwriteMode=dynamic`, which replaces
    exactly the partitions present in the incoming frame and leaves
    the other four untouched. A static overwrite here would wipe the
    whole table — the failure mode this mode exists to prevent.

    The oracle states the expected post-backfill table: URGENT rows
    doubled and flagged revised, everything else byte-identical to the
    source. Any leakage (extra partitions dropped, double-append
    instead of replace) breaks row counts or the cents checksum.

    Scale: partition overwrite is a metadata swap per touched
    partition; the rewrite job's shuffle is sized by the BACKFILLED
    slice, not the table. This is the nightly-restatement idiom for
    petabyte fact tables.
    """
    out_dir = _scratch_dir("dynamic_overwrite.parquet")
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.lit(0).alias("revised"),
    )
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out_dir)
    urgent_fix = (
        base.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderpriority",
            (F.col("cents") * 2).alias("cents"),
            F.lit(1).alias("revised"),
        )
    )
    urgent_fix.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("o_orderpriority").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.max("revised").cast("long").alias("was_revised"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_csv_corrupt_records",
    oracle="""
        SELECT 'corrupt' AS status,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
        FROM orders WHERE o_orderkey % 37 = 0
        UNION ALL
        SELECT 'good' AS status,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
        FROM orders WHERE o_orderkey % 37 <> 0
    """,
    category=CAT,
)
def q_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: malformed-input accounting through PERMISSIVE CSV parsing
    — the ingest-robustness surface every production loader needs.
    A CSV export of `orders` is deterministically vandalized (every
    o_orderkey divisible by 37 gets a non-numeric totalprice field);
    the read-back uses an explicit schema plus a corrupt-record
    column, and the query reports row counts and key checksums per
    parse status. The oracle derives the same ledger arithmetically
    from the vandalism rule — so the CSV writer, the PERMISSIVE
    parser, and the corrupt-row capture are all value-checked.

    Corrupt rows keep their raw line in `_corrupt_record`; their key
    is recovered from the raw text (split on the delimiter), proving
    quarantined rows stay re-processable — the badRecordsPath
    contract. Scale: both passes are narrow scans; PERMISSIVE parse
    state is per-row, so a corrupted shard never fails a 100 TB load.
    """
    out_dir = _scratch_dir("corrupt_csv")
    o = load(spark, sf_dir, "orders")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.when(
            F.col("o_orderkey") % 37 == 0,
            F.concat(F.lit("BAD_"), F.col("o_totalprice").cast("string")),
        ).otherwise(F.col("o_totalprice").cast("string")),
        F.col("o_orderpriority"),
    )
    o.select(line.alias("value")).write.mode("overwrite").text(out_dir)
    schema = (
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderpriority string, _corrupt_record string"
    )
    # The documented _corrupt_record gotcha: CSV column pruning parses
    # only referenced columns, so a query touching just the corrupt
    # column sees a clean pruned parse and NULLs everywhere. Caching
    # is the idiom Spark's docs prescribe — the materialization parses
    # the full schema once (tracked_persist's default level is the one
    # cache() uses). Belt-and-braces, status also keys off the
    # vandalized field being unparseable (NULL), which this
    # construction guarantees iff the row was corrupted.
    back = tracked_persist(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out_dir)
    )
    status = F.when(
        F.col("_corrupt_record").isNotNull() | F.col("o_totalprice").isNull(),
        "corrupt",
    ).otherwise("good")
    key = F.coalesce(
        F.col("o_orderkey"),
        F.split(F.col("_corrupt_record"), ",").getItem(0).cast("long"),
    )
    return (
        back.select(status.alias("status"), key.alias("k"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("key_checksum"),
        )
    )


class _SyntheticSeriesSource:
    """Spark 4 Python DataSource (S13): a deterministic synthetic
    series generator registered as a first-class `spark.read.format`
    source — the custom-connector surface (pyspark.sql.datasource),
    new in Spark 4. Each of N_PARTS partitions yields ROWS_PER rows
    (gid, part, v) by pure arithmetic, so the oracle recomputes the
    scan's aggregate from the generation rule alone — proving the
    reader's partition planning and row emission are lossless.

    Defined lazily inside a factory because pyspark.sql.datasource
    classes must be importable in the Python worker; the module-level
    factory keeps the operator import-cheap."""

    N_PARTS = 8
    ROWS_PER = 10_000


def _register_synthetic_source(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n_parts = _SyntheticSeriesSource.N_PARTS
    rows_per = _SyntheticSeriesSource.ROWS_PER

    class SyntheticReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(n_parts)]

        def read(self, partition):
            p = partition.value
            base = p * rows_per
            for i in range(rows_per):
                gid = base + i
                # deterministic value: a quadratic residue walk
                yield (gid, p, (gid * gid) % 997)

    class SyntheticSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_series"

        def schema(self):
            return "gid long, part int, v long"

        def reader(self, schema):
            return SyntheticReader()

    spark.dataSource.register(SyntheticSource)


@register(
    "q_python_datasource",
    oracle=f"""
        WITH g AS (
            SELECT gid,
                   CAST(gid // {_SyntheticSeriesSource.ROWS_PER} AS INTEGER)
                       AS part,
                   (gid * gid) % 997 AS v
            FROM (SELECT unnest(range(0,
                    {_SyntheticSeriesSource.N_PARTS
                     * _SyntheticSeriesSource.ROWS_PER})) AS gid)
        )
        SELECT part,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS v_sum,
               CAST(SUM(gid) AS BIGINT) AS gid_checksum
        FROM g GROUP BY part
    """,
    category=CAT,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: scan through a REGISTERED Spark 4 Python DataSource
    (`spark.dataSource.register` + `spark.read.format(...)`) — the
    custom-connector API every bespoke feed (internal service,
    proprietary format) plugs into. The source plans 8 partitions of
    10 k deterministic rows; the per-partition aggregate is checked
    against the generation rule recomputed in SQL, so partition
    planning, worker-side row emission, and Arrow transfer are all
    value-verified.

    Scale: partitions() is the parallelism contract — a real
    connector returns one InputPartition per shard/file/split and
    each executor pulls only its split (here: arithmetic, no I/O).
    Python-source rows cross into the JVM via Arrow batches — the
    same boundary cost profile as mapInPandas (D4/D6).
    """
    _register_synthetic_source(spark)
    df = spark.read.format("synthetic_series").load()
    return df.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("v_sum"),
        F.sum("gid").alias("gid_checksum"),
    )
