"""Local replica of the driver's t2 gate over every registered query
(SURVEY.md §5.2.2), at sf0.001 for speed. tools/check_parity.py runs
the same comparison at sf0.01 pre-commit."""

import pytest

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.oracle import check_query
from data_pipeline_standalone_scripts_spark.registry import REGISTRY
from data_pipeline_standalone_scripts_spark.tables import TABLES

engine.load_all_operators()


def _assert_parity(name, spark, sf_dir):
    spark.catalog.clearCache()  # the cache assertion measures this query only
    rep = check_query(name, spark, sf_dir)
    assert rep.ok, str(rep)
    # every operator-held cache went through the persist ledger
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left a cached plan behind"
    )
    # SQL-form queries bind their tables per call: no temp view named
    # after a fixture table is left in the caller's catalog (checked
    # absolutely — replacing an existing view keeps the name set equal)
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    leaked = views & {*TABLES, "_udtf_docs"}
    assert not leaked, f"{name} left temp views {sorted(leaked)}"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_parity(name, spark, sf_small):
    _assert_parity(name, spark, sf_small)


# Every caller of the range-rank primitive (common._range_pinned, via
# dist_running / dist_row_number / dist_ntile or directly) and of the
# integer Lloyd kernel (clustering._lloyd). At sf0.001 the 32 range
# partitions mostly hold zero or one row, so the per-partition running
# aggregates and prefix offsets are only really exercised at sf0.01.
CONSOLIDATED_CALLERS = [
    "q_pareto_skyline",
    "q_late_data_watermark",
    "q_zipf_slope",
    "q_gini_revenue",
    "q_rfm_segmentation",
    "q_auc_score",
    "q_pr_curve",
    "q_ppjoin_neardup",
    "q_compaction_plan",
    "q_rle_advisor",
    "q_ks_test",
    "q_mannwhitney_u",
    "q_exact_median_twopass",
    "q_win_ntile_pct",
    "q_kmeans_embed",
    "q_semantic_dedup",
]


@pytest.mark.parametrize("name", CONSOLIDATED_CALLERS)
def test_consolidated_callers_parity_sf_med(name, spark, sf_med):
    _assert_parity(name, spark, sf_med)


def test_registry_contract():
    """Every T2 query has an oracle; T2w never do."""
    for name, q in REGISTRY.items():
        if q.check == "T2":
            assert q.oracle, f"{name} declared T2 without oracle SQL"
        else:
            assert q.oracle is None, f"{name} declared {q.check} but has an oracle"


def test_entry_contract(spark):
    """Driver smoke: entry() returns rows with a stable schema."""
    import __spark_entry__ as se

    df = se.entry(spark)
    assert df.schema.simpleString() == "struct<n_name:string,revenue:double>"
    assert len(df.collect()) > 0
    qs, osql = se.queries(), se.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 80


def test_no_canonicalizer_hazard_types(spark, sf_small):
    """r01 post-mortem gate: the DRIVER's canonicalizer (pandas
    sort_values) crashes on array/map/struct cells and its value-hash
    diverges on raw timestamps (Arrow tz mismatch). No registered
    query may emit any of those — serialize to string/JSON first
    (operators/common.ts_str, array_join/to_json)."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    import data_pipeline_standalone_scripts_spark as engine

    engine.load_all_operators()
    from data_pipeline_standalone_scripts_spark.registry import REGISTRY

    offenders = []
    for name, q in REGISTRY.items():
        for f in q.fn(spark, sf_small).schema.fields:
            if isinstance(
                f.dataType,
                (ArrayType, MapType, StructType, TimestampType, TimestampNTZType),
            ):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, offenders
