"""Generate tests/golden/hashes.json — one canonical content hash per
registered query at sf0.001 (SURVEY.md §5.2.7).

The hash is sha256 over the oracle-canonicalized rows (columns sorted
by name, rows sorted by full-row key, numpy scalars → python, floats
via repr) — the same canonical form the parity harness compares, so a
golden mismatch means user-visible output changed, not an incidental
partition-order wobble.

Regenerate intentionally after a semantic change:
    python -m tools.make_golden
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "golden", "hashes.json")


def canonical_hash(pdf) -> str:
    from data_pipeline_standalone_scripts_spark.oracle import _canon

    payload = repr(_canon(pdf)).encode()
    return hashlib.sha256(payload).hexdigest()


def main() -> None:
    import data_pipeline_standalone_scripts_spark as engine
    from data_pipeline_standalone_scripts_spark.registry import REGISTRY, run
    from data_pipeline_standalone_scripts_spark.session import get_spark

    engine.load_all_operators()
    spark = get_spark("golden")
    hashes: dict[str, dict] = {}
    for name in sorted(REGISTRY):
        pdf = run(name, spark, SF_DIR)
        hashes[name] = {"rows": len(pdf), "sha256": canonical_hash(pdf)}
        print(f"{name}: rows={len(pdf)}")
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump({"sf_dir": SF_DIR, "hashes": hashes}, f, indent=1, sort_keys=True)
    print(f"wrote {OUT} ({len(hashes)} queries)")


if __name__ == "__main__":
    main()
