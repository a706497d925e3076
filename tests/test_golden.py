"""Golden-output regression gate (SURVEY.md §5.2.7): every registered
query's sf0.001 result must hash to the committed snapshot. Catches
unintended semantic drift during refactors; regenerate intentionally
with `python -m tools.make_golden` when an operator's contract
changes."""

import json
import os

import pytest

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.registry import REGISTRY, run

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "hashes.json")

engine.load_all_operators()
with open(GOLDEN) as f:
    _G = json.load(f)


def test_golden_covers_registry():
    """A new operator must ship its golden hash in the same commit."""
    missing = sorted(set(REGISTRY) - set(_G["hashes"]))
    assert not missing, f"run tools.make_golden; missing: {missing}"


@pytest.mark.parametrize("name", sorted(_G["hashes"]))
def test_golden_stable(name, spark):
    if name not in REGISTRY:
        pytest.skip("query removed from registry; regenerate goldens")
    from tools.make_golden import canonical_hash

    pdf = run(name, spark, _G["sf_dir"])
    want = _G["hashes"][name]
    assert len(pdf) == want["rows"], f"{name}: row count {len(pdf)} != {want['rows']}"
    assert canonical_hash(pdf) == want["sha256"], f"{name}: content drifted"
