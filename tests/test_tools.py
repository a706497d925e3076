"""The kept command-line tools, run in-process on the test session."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.oracle import run_oracle
from data_pipeline_standalone_scripts_spark.registry import REGISTRY
from tools import check_parity, run_query

engine.load_all_operators()


def test_run_query_lists_every_registered_query(monkeypatch, capsys):
    monkeypatch.setattr(sys, "argv", ["run_query", "--list"])
    assert run_query.main() == 0
    listed = [line.split()[0] for line in capsys.readouterr().out.splitlines()]
    assert listed == sorted(REGISTRY)


def test_check_parity_passes_on_one_query(spark, sf_small, monkeypatch):
    monkeypatch.setattr(
        sys, "argv", ["check_parity", "q_agg_pricing_summary", "--sf", sf_small]
    )
    assert check_parity.main() == 0


def test_run_query_parquet_sink(spark, sf_small, tmp_path, monkeypatch):
    """The file sink writes the oracle's rows and leaves nothing cached."""
    out = str(tmp_path / "out")
    monkeypatch.setattr(
        sys,
        "argv",
        ["run_query", "q_agg_pricing_summary", "--sf", sf_small,
         "--format", "parquet", "--out", out],
    )
    assert run_query.main() == 0
    want = len(run_oracle(REGISTRY["q_agg_pricing_summary"].oracle, sf_small))
    assert spark.read.parquet(out).count() == want
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
