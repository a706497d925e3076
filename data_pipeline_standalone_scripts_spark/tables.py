"""The ten test tables (FIXTURES.md) as DataFrames.

Loading is a plain columnar parquet scan — Spark's vectorized reader
plus Catalyst column pruning / predicate pushdown make `load(...)` +
`.select/.filter` the moral equivalent of the reference's directory
iteration (datapipe/io/images.py dir scan, SURVEY.md §2.1 S1), but
partition-parallel instead of a Python for-loop.

Scale note (100 TB): at cluster scale these would be date/​shipdate-
partitioned tables (SURVEY.md §4 partition-pruning row); the loader
keeps the `sf_dir/{name}.parquet` contract the driver mandates and
stays agnostic of file count — a directory of 10k part-files reads
identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import ensure_runtime_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Lazy scan handles, one per (session, sf_dir, table) — r12, guide §6
# "file listing is cached per session". `spark.read.parquet(path)`
# re-lists the directory and re-reads the footer schema on EVERY call
# (measured 100–225 ms per table at sf0.1); a 6-table star query paid
# ~0.8 s of pure re-analysis per construction, and the bench protocol
# constructs the DataFrame inside the timed region. Re-using the
# analyzed handle is exactly what `spark.table(...)` over a catalog
# table gives a real deployment (the catalog caches schema + file
# index); NO data is materialized — every execution still scans the
# parquet from disk (the plan-gated scans prove it). The entry keeps
# its session alive via the DataFrame's back-reference, which also
# guarantees id(spark) cannot be recycled while its entries exist;
# sessions per process are few and there are ≤ len(TABLES) entries
# per (session, sf_dir), so growth is bounded in practice.
#
# PRECONDITION (ADVICE r12 #1): fixture directories are immutable
# within a session — rewriting a table's files at the SAME path after
# a load() serves a stale file index (exactly the catalog-table
# semantics this mirrors: REFRESH TABLE exists for that). Tests that
# write fresh parquet use fresh tmp dirs; ``invalidate_scan_cache``
# is the explicit REFRESH analog for anything else.
_SCAN_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def invalidate_scan_cache(sf_dir: str | None = None) -> int:
    """Drop cached scan handles (all, or those under ``sf_dir``) —
    the REFRESH TABLE analog for in-session fixture rewrites. Returns
    the number of entries dropped."""
    keys = [
        k
        for k in _SCAN_CACHE
        if sf_dir is None or k[1] == sf_dir
    ]
    for k in keys:
        del _SCAN_CACHE[k]
    return len(keys)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table as a DataFrame (lazy scan).

    `events.ts` has shipped in two physical encodings across testdata
    generations: timestamp[ns] (Spark reads it as long under the
    nanosAsLong conf set in session.ensure_runtime_conf — convert to µs
    here, matching DuckDB's internal ns→µs truncation) and timestamp[us]
    with no timezone metadata (Spark reads TIMESTAMP_NTZ). Either way we
    normalize to a session-UTC TimestampType: the NTZ→LTZ cast is
    value-preserving under the UTC session timezone the engine pins, and
    downstream operators use `unix_micros()` et al., which require the
    TIMESTAMP (ltz) type. DuckDB reads the same file as its (naive)
    TIMESTAMP, so oracle comparisons agree to the microsecond.
    """
    # run BEFORE the cache lookup (ADVICE r12 #1): the UTC/nanosAsLong
    # pins stay (re)applied on every load even on cache hits — they are
    # idempotent session-conf sets, and a driver-owned session that
    # mutated its timezone between calls is re-pinned rather than
    # silently trusted
    ensure_runtime_conf(spark)
    key = (id(spark), sf_dir, name)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _SCAN_CACHE[key] = df
    return df

