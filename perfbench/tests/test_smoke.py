"""Self-test of the benchmark: one smoke run per workload on sf0.001.

Run from the checkout root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each workload runs twice (untraced, traced) with ``--smoke``: sf0.001
inputs, no warm-up, one measured pass (two when traced).
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    return last


def test_spec_matches_code():
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics(workload):
    p = _bench(workload, 0)
    last = _result(p)
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert {k: v["unit"] for k, v in last["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in last["metrics"].values())
    # metrics outside the result line are printed by name, with a unit
    # or the reason they are omitted
    lines = p.stdout.splitlines()
    for name, unit in {**run.END_TO_END, **run.REPORTED_ONLY}.items():
        line = next(ln for ln in lines if ln.split()[:1] == [name])
        assert line.endswith(f" {unit}") or "omitted:" in line, line
    assert any(ln.split()[:2] == ["failed_frac", "0"] for ln in lines)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run(workload):
    last = _result(_bench(workload, 1))
    assert last["failed"] == 0
    assert {k: v["unit"] for k, v in last["metrics"].items()} == run.PER_LAYER
    with open(os.path.join(BENCH, ".work", "reports",
                           f"{workload}-seed7-trace1-smoke.json")) as f:
        spans = json.load(f)["spans"]
    ids = {s["id"] for s in spans}
    assert spans and {"setup", "pass", "query", "registry.construct"} <= {s["name"] for s in spans}
    for s in spans:
        assert s["parent"] is None or s["parent"] in ids, s
        assert s["end"] >= s["start"], s
        assert s["self_s"] >= -1e-9, s


def _bump(pdf):
    """A copy with one numeric cell changed."""
    bad = pdf.copy()
    bad.loc[0, bad.select_dtypes("number").columns[0]] += 1
    return bad


def test_checker_rejects_wrong_output(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from workloads import Checker

    work = os.path.join(BENCH, ".work")
    q = "q_agg_pricing_summary"
    frames = Checker(work, ROOT, "interactive_sf0.1", True)
    with open(frames.ref[q], "rb") as f:
        ref = pickle.load(f)
    bad = _bump(ref)
    # first execution: compare_frames; later ones: canonical-row hash
    assert frames.check_frame(q, pickle.dumps(bad)) is not None
    assert frames.check_frame(q, pickle.dumps(ref)) is None
    assert frames.check_frame(q, pickle.dumps(bad)) is not None

    sinks = Checker(work, ROOT, "etl_sf1", True)
    good = pq.read_table(sinks.ref[q]).to_pandas()
    for name, pdf in (("good", good), ("bad", _bump(good))):
        os.makedirs(tmp_path / name)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       tmp_path / name / "part-0.parquet")
    assert sinks.check_sink(q, str(tmp_path / "good")) is None
    assert sinks.check_sink(q, str(tmp_path / "bad")) is not None


def test_fails_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _bench(next(iter(WORKLOADS)), 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
