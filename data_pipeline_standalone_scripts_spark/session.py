"""SparkSession factory + per-session conf hardening.

The driver owns the SparkSession it passes into ``entry``/``queries()``;
we therefore split configuration in two tiers:

- build-time conf (master, memory, AQE) — only applied when *we* create
  the session (tests, tools, perfbench);
- runtime conf (session timezone, ANSI) — safe to (re)apply on any
  session, which ``ensure_runtime_conf`` does idempotently. Correctness
  of timestamp queries vs the UTC-naive DuckDB oracle depends on the
  UTC pin (SURVEY.md §1.3.5).

Scale note (100 TB): nothing in this module assumes local mode; the
factory is only a convenience for single-node testing. On a real
cluster the session arrives from spark-submit with executor topology
already set, and only ``ensure_runtime_conf`` applies.

Python-task floor: before each task a reused PySpark worker calls
``importlib.invalidate_caches()``, and on CPython 3.11 that re-reads the
central directory of every zip on its path (16 importers over
``pyspark.zip``'s 1,328 entries and py4j's zip). On a 4-vCPU VM a
no-op ``mapInPandas`` over the 2,000-row sf0.1 ``embeddings`` table took
0.24 s (median of 15) against 0.10 s for a JVM ``count``, the same in a
plain PySpark session. ``get_spark`` therefore starts workers from
``_pydaemon/graft_daemon.py``, which re-reads an archive only when it
changed: the same task then takes 0.08 s. A session built elsewhere
gets this by setting ``spark.python.daemon.module`` and
``spark.executorEnv.PYTHONPATH`` as ``get_spark`` does.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_PKG_SHIPPED: set[int] = set()
# holds only graft_daemon.py: on the workers' path it must not expose
# the checkout's engine, which workers import from the shipped zip
_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pydaemon")


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS regardless of the
    driver process's cwd.

    Cloudpickle serializes module-level functions (the multimodal
    byte-parsers referenced from mapInPandas) BY REFERENCE — the worker
    re-imports the module. That works when the driver happens to run
    from the repo root (workers inherit cwd → '' on sys.path) and
    fails with ModuleNotFoundError from anywhere else, which is
    exactly how an external harness runs us. Shipping a zip via
    ``addPyFile`` is the standard mechanism (the local twin of
    ``spark-submit --py-files``) and is what a real cluster deployment
    does with the wheel.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _PKG_SHIPPED:
        return
    import atexit
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    # executors fetch the zip lazily (local mode: on their first task),
    # so it must outlive every session of this process — remove it only
    # when the interpreter exits
    atexit.register(_remove_quietly, zip_path)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, arc)
    sc.addPyFile(zip_path)
    _PKG_SHIPPED.add(key)


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Idempotent, runtime-settable conf required for oracle parity."""
    _ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # AQE is default-on in Spark 4.x; assert rather than trust.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # events.parquet stores timestamp[ns], which the vectorized parquet
    # reader rejects (PARQUET_TYPE_ILLEGAL). Read nanos as long and let
    # tables.load convert ns → µs explicitly — the same truncation
    # DuckDB applies internally (its TIMESTAMP is µs), so the two
    # engines see identical values (verified to the microsecond).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # spark.sql.files.maxPartitionBytes deliberately stays at the
    # 128 MB default: Spark's split sizing is already adaptive —
    # maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    # (totalBytes + nFiles·openCost)/defaultParallelism)) — so small
    # tables split toward ~4 MB on local[32] without help, and forcing
    # it lower only fragments the big-fact scans (sf10 lineitem would
    # go 32 → 230 tasks for pure wave overhead).
    return spark


def get_spark(app_name: str = "dpss-spark") -> SparkSession:
    """Local-mode session for tests and tools. local[N] = one JVM, N
    task threads (N from ``SPARK_GRAFT_CPUS``, default all cores);
    `spark.driver.memory` (``SPARK_DRIVER_MEMORY``) is the only memory
    knob that matters in local mode."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "graft_daemon")
        .config("spark.executorEnv.PYTHONPATH", _DAEMON_DIR)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_conf(spark)
