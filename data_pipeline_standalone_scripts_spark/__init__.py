"""PySpark-native analytics engine with the query & data-processing
capabilities of ``jdhp-sap/data-pipeline-standalone-scripts``.

Architecture (SURVEY.md §1.2/§3.2): declarative DataFrame/SQL plans,
Catalyst/Tungsten execution, Arrow-batched pandas UDFs only where
built-ins can't express the semantics. Nothing here is a translation
of the reference's per-record Python loops — the per-file loop becomes
a partitioned parquet scan, per-image transforms become narrow stages,
score accumulation becomes shuffle+agg (SURVEY.md §3.1).

Public surface:
- ``registry.REGISTRY`` — every query from SURVEY.md §2, with oracle SQL.
- ``registry.run()`` — build, execute once and release one query.
- ``session.get_spark()`` — tuned local SparkSession factory.
- ``tables.load`` — the ten test tables.
"""

__version__ = "0.1.0"

from . import registry  # noqa: F401
from .registry import REGISTRY  # noqa: F401



def load_all_operators() -> None:
    """Import every operator module so their @register calls populate
    REGISTRY. Deferred (not at package import) to keep import cheap."""
    from .operators import (  # noqa: F401
        aggregates,
        analytics,
        clustering,
        corpus,
        dedup_ext,
        events,
        filters,
        finance,
        geo,
        graph,
        joins,
        llm,
        maintenance,
        mlfit,
        multimodal,
        olap,
        olap_tpch,
        ordering,
        raster2d,
        reconcile,
        reference_analogs,
        scans,
        setops,
        sketches,
        stats,
        textclean,
        textpipe,
        timeseries,
        udfs,
        windows,
    )
    from .functions import scalar  # noqa: F401
