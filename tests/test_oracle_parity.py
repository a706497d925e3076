"""Local replica of the driver's t2 gate over every registered query
(SURVEY.md §5.2.2), at sf0.001 for speed. tools/check_parity.py runs
the same comparison at sf0.01 pre-commit."""

import pytest

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.oracle import check_query
from data_pipeline_standalone_scripts_spark.registry import REGISTRY

engine.load_all_operators()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_parity(name, spark, sf_small):
    spark.catalog.clearCache()  # the cache assertion measures this query only
    rep = check_query(name, spark, sf_small)
    assert rep.ok, str(rep)
    # every operator-held cache went through the persist ledger
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left a cached plan behind"
    )


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
