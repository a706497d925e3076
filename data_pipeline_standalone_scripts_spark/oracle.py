"""Local replica of the driver's t2 DuckDB-oracle check (SURVEY.md §5.2.2).

The driver, per __spark_entry__.py's contract, compares for each query:
row-count + schema + order-insensitive value-hash with columns sorted
by name. We replicate that strictly here so parity failures are
debugged locally, not at judging time. The comparison is EXACT on
canonicalized cells (floats compared bit-for-bit after both engines'
own rounding discipline), with a tolerance-diagnostic mode that
reports max float deltas when exactness fails.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from .tables import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir.rstrip('/')}/{t}.parquet"
        # sf1/sf10 fixtures store big tables as DIRECTORIES of part
        # files (the realistic multi-file layout both engines scan in
        # parallel); glob them for DuckDB. Single-file tiers unchanged.
        src = (
            f"read_parquet('{path}/*.parquet')"
            if os.path.isdir(path)
            else f"'{path}'"
        )
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")
    return con


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb_connect(sf_dir)
    try:
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _cell_key(v) -> str:
    """Stable sort key for one cell (handles None/NaN/lists/structs)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\x00null"
    if isinstance(v, float):
        return f"f{v!r}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell_key(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell_key(x)}" for k, x in sorted(v.items())) + "}"
    return f"{type(v).__name__}:{v}"


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    """Columns sorted by name, rows sorted by full-row key."""
    pdf = pdf[sorted(pdf.columns)]
    rows = []
    for row in pdf.itertuples(index=False, name=None):
        rows.append(
            tuple(
                None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else (tuple(v) if isinstance(v, (list,)) else v)
                for v in (_to_py(x) for x in row)
            )
        )
    rows.sort(key=lambda r: tuple(_cell_key(v) for v in r))
    return rows


def _to_py(v):
    """numpy/pandas scalar -> plain python; timestamps -> iso string."""
    import numpy as np

    if isinstance(v, (pd.Timestamp,)):
        return v.isoformat()
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, np.ndarray):
        return tuple(_to_py(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_to_py(x) for x in v)
    return v


@dataclass
class ParityReport:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    issues: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        tag = "PASS" if self.ok else "FAIL"
        s = f"[{tag}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for i in self.issues[:12]:
            s += f"\n    - {i}"
        return s


def _reject_unhashable_cols(engine: str, pdf: pd.DataFrame, issues: list[str]) -> None:
    """The DRIVER's canonicalizer (pandas sort_values → factorize) crashes
    on list/dict cells ('unhashable type'). Our local replica used to
    tolerate them via tuple conversion, which masked two driver failures
    in round 1 (q_agg_collect, q_centroid_per_label).
    Reject them outright so local green implies driver green — queries
    must serialize arrays/structs to strings before the oracle boundary."""
    import numpy as np

    for c in pdf.columns:
        for v in pdf[c]:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            if isinstance(v, (list, tuple, dict, np.ndarray)):
                issues.append(
                    f"{engine} column {c!r} is array/struct-typed — the driver's "
                    "canonicalizer cannot hash it; serialize to string in the query"
                )
            break


def _reject_kind_mismatch(
    spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, issues: list[str]
) -> None:
    """Integer-vs-float dtype mismatches break the DRIVER's value hash
    (r01: DuckDB SUM→HUGEINT→float64 150000.0 vs Spark int64 150000),
    but slip through python's cross-type equality (150000 == 150000.0)
    that our canonical tuples compare with. Flag per-column dtype KINDS
    that disagree between int-family and float. Width differences
    (int8 vs int64) are fine — r01's driver hashed q_simhash_neardup's
    TINYINT-vs-int64 hamming green."""
    fam = {"i": "int", "u": "int", "b": "bool", "f": "float"}
    for c in spark_pdf.columns:
        sk = fam.get(spark_pdf[c].dtype.kind, spark_pdf[c].dtype.kind)
        ok_ = fam.get(oracle_pdf[c].dtype.kind, oracle_pdf[c].dtype.kind)
        if {sk, ok_} == {"int", "float"}:
            issues.append(
                f"column {c!r} dtype kind mismatch: spark={spark_pdf[c].dtype} "
                f"oracle={oracle_pdf[c].dtype} — int-vs-float breaks the "
                "driver's value hash (CAST the DuckDB side, r01 bug class)"
            )


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> ParityReport:
    issues: list[str] = []
    scols, ocols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if scols != ocols:
        issues.append(f"column mismatch: spark={scols} oracle={ocols}")
        return ParityReport(name, False, len(spark_pdf), len(oracle_pdf), issues)
    _reject_unhashable_cols("spark", spark_pdf, issues)
    _reject_unhashable_cols("oracle", oracle_pdf, issues)
    _reject_kind_mismatch(spark_pdf, oracle_pdf, issues)
    if issues:
        return ParityReport(name, False, len(spark_pdf), len(oracle_pdf), issues)
    if len(spark_pdf) != len(oracle_pdf):
        issues.append("row count mismatch")
    srows, orows = _canon(spark_pdf), _canon(oracle_pdf)
    if not issues and srows != orows:
        # find first differing row + float diagnostics
        n_bad = 0
        max_delta = 0.0
        for i, (a, b) in enumerate(zip(srows, orows)):
            if a != b:
                n_bad += 1
                if n_bad <= 3:
                    issues.append(f"row {i}: spark={a!r} oracle={b!r}")
                for x, y in zip(a, b):
                    if isinstance(x, float) and isinstance(y, float):
                        if not (math.isnan(x) and math.isnan(y)):
                            max_delta = max(max_delta, abs(x - y))
        issues.append(f"{n_bad} differing rows (of {len(srows)}); max float delta={max_delta:.3g}")
    ok = not issues
    return ParityReport(name, ok, len(spark_pdf), len(oracle_pdf), issues)


def check_query(name: str, spark, sf_dir: str) -> ParityReport:
    """Run one registered query on both engines and compare."""
    from .registry import REGISTRY, run

    q = REGISTRY[name]
    spark_pdf = run(name, spark, sf_dir)
    if q.oracle is None:
        ok = len(spark_pdf) >= 0
        return ParityReport(name, ok, len(spark_pdf), -1, [f"rows-only check ({q.check})"])
    oracle_pdf = run_oracle(q.oracle, sf_dir)
    return compare_frames(name, spark_pdf, oracle_pdf)
