"""Workload mixes, their input data and their DuckDB reference results.

Each workload is a fixed mix of registry queries run by one client in a
closed loop: a query starts only after the previous one has finished.
The seed permutes the order of every pass; the inputs themselves are
generated once per checkout from a fixed data seed.

A ``Checker`` builds the inputs, runs the oracle and checks outputs in
a child process (``CheckerProcess``), started before the engine is
imported, so that this work adds neither imports, CPU nor memory to the
process tree being measured.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import redirect_stdout
from dataclasses import dataclass

DATA_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # "0.1" or "1"; every workload uses "0.001" in smoke runs
    sink: bool  # write parquet instead of collecting with toPandas
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        # Interactive use at sf0.1, results collected with toPandas: an
        # analyst's short JVM-side queries, where fixed cost per query
        # (construction, tables.load, scheduling, collect) dominates,
        # and LLM-data curation queries whose time goes to Arrow-batched
        # Python-worker kernels or to Spark jobs run while constructing.
        Workload(
            "interactive_sf0.1",
            "0.1",
            False,
            (
                "q_agg_pricing_summary",
                "q_join_star6",
                "q_win_topk_group",
                "q_cosine_topk",
                "q_warc_extract",
                "q_bm25_rank",
                "q_kmeans_embed",
            ),
        ),
        # Batch ETL at sf1 (10x volume): scan, aggregate and window, each
        # result written as parquet. JVM execution dominates and
        # construction is a small share, so a construction-only change
        # should show no change here.
        Workload(
            "etl_sf1",
            "1",
            True,
            (
                "q_scan_project",
                "q_agg_pricing_summary",
                "q_win_topk_group",
            ),
        ),
    )
}


def _digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _build_once(final: str, build) -> float:
    """Build ``final`` via ``build(tmp_dir)`` unless it exists; return seconds."""
    if os.path.isdir(final):
        return 0.0
    t0 = time.perf_counter()
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, final)
    return time.perf_counter() - t0


def data_dir(work: str, root: str, sf: str) -> tuple[str, float]:
    """Directory holding the tables at ``sf``, built on first use.

    sf0.1 and sf0.001 come from ``datagen``; sf1 is ten re-keyed
    replicas of sf0.1, made by ``tools/make_sf1.py``'s replication code.
    Directory names carry a digest of the generating code, so a changed
    generator never reuses stale tables. Returns (dir, build seconds).
    """
    here = os.path.dirname(os.path.abspath(__file__))
    gen = os.path.join(here, "datagen.py")
    if sf != "1":
        import datagen

        final = os.path.join(work, "data", f"sf{sf}-{_digest(gen)}")
        secs = _build_once(final, lambda d: datagen.write_dataset(d, float(sf), DATA_SEED))
        return final, secs
    base, secs = data_dir(work, root, "0.1")
    make_sf1_py = os.path.join(root, "tools", "make_sf1.py")
    final = os.path.join(work, "data", f"sf1-{_digest(gen, make_sf1_py)}")
    if root not in sys.path:
        sys.path.insert(0, root)
    from tools import make_sf1

    def build(tmp: str) -> None:
        make_sf1.SRC, make_sf1.DST = base, tmp
        with redirect_stdout(sys.stderr):
            make_sf1.main()

    return final, secs + _build_once(final, build)


class Checker:
    """Builds the inputs, keeps the oracle's results and checks outputs.

    Lives in its own process (see ``CheckerProcess``) for the whole run,
    so that neither DuckDB nor the canonical rows add CPU or memory to
    the process tree being measured.
    """

    def __init__(self, work: str, root: str, workload: str, smoke: bool) -> None:
        if root not in sys.path:
            sys.path.insert(0, root)
        from data_pipeline_standalone_scripts_spark import load_all_operators
        from data_pipeline_standalone_scripts_spark.registry import REGISTRY

        self.w = WORKLOADS[workload]
        self.sf_dir, self.data_build_s = data_dir(work, root, "0.001" if smoke else self.w.sf)
        load_all_operators()
        t0 = time.perf_counter()
        # Some oracles take tens of seconds (pixel-grain SQL), so results
        # are kept per data directory and oracle SQL text.
        cache = os.path.join(work, "oracle", os.path.basename(self.sf_dir))
        os.makedirs(cache, exist_ok=True)
        self.ref: dict[str, str] = {}
        for q in self.w.queries:
            sql = REGISTRY[q].oracle
            tag = hashlib.sha256(sql.encode()).hexdigest()[:12]
            path = os.path.join(cache, f"{q}-{tag}.{'parquet' if self.w.sink else 'pkl'}")
            if not os.path.isfile(path):
                self._materialize(sql, path)
            self.ref[q] = path
        self.oracle_s = time.perf_counter() - t0
        self.expected: dict[str, tuple] = {}

    def _materialize(self, sql: str, path: str) -> None:
        from data_pipeline_standalone_scripts_spark import oracle

        tmp = f"{path}.tmp"
        if self.w.sink:
            con = oracle.duckdb_connect(self.sf_dir)
            try:
                con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
            finally:
                con.close()
        else:
            with open(tmp, "wb") as f:
                pickle.dump(oracle.run_oracle(sql, self.sf_dir), f)
        os.replace(tmp, path)

    def check_frame(self, q: str, blob: bytes) -> str | None:
        """A collected frame against the oracle, canonicalized as
        ``oracle.py`` does. The first execution of each query gets the
        full ``compare_frames`` report; later ones compare the column
        names and the hash of the canonical rows. Returns None or why
        the check failed."""
        from data_pipeline_standalone_scripts_spark import oracle

        pdf = pickle.loads(blob)  # pickled by this benchmark's driver
        if q not in self.expected:
            with open(self.ref[q], "rb") as f:
                ref = pickle.load(f)  # written by _materialize
            self.expected[q] = (sorted(ref.columns), hash(tuple(oracle._canon(ref))))
            report = oracle.compare_frames(q, pdf, ref)
            return None if report.ok else str(report)
        cols, digest = self.expected[q]
        if sorted(pdf.columns) != cols or hash(tuple(oracle._canon(pdf))) != digest:
            return f"{q}: output differs from the oracle"
        return None

    def check_sink(self, q: str, sink: str) -> str | None:
        """Parquet written by the engine against the oracle's result.

        Both sides reduce to (column names, row count, sum of row hashes)
        computed by DuckDB over columns in name order, each cast to its
        type family (integer, float, text) so that width differences do
        not count, as they do not in ``oracle.py``. Millions of rows rule
        out row-by-row Python here. Returns None or why the check failed.
        """
        if q not in self.expected:
            self.expected[q] = self._sink_digest(f"read_parquet('{self.ref[q]}')")
        got = self._sink_digest(f"read_parquet('{sink}/*.parquet')")
        if got != self.expected[q]:
            return f"{q}: (columns, rows, row-hash sum) {got} != oracle {self.expected[q]}"
        return None

    @staticmethod
    def _sink_digest(source: str) -> tuple:
        import duckdb

        con = duckdb.connect()
        try:
            desc = con.execute(f"DESCRIBE SELECT * FROM {source}").fetchall()
            types = {row[0]: row[1] for row in desc}
            cols = sorted(types)
            exprs = ", ".join(f'CAST("{c}" AS {_family(types[c])})' for c in cols)
            n, digest = con.execute(
                f"SELECT count(*), sum(hash({exprs})::HUGEINT) FROM {source}"
            ).fetchone()
        finally:
            con.close()
        return cols, n, digest


def _family(duck_type: str) -> str:
    t = duck_type.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "HUGEINT"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "DOUBLE"
    return "VARCHAR"


class CheckerProcess:
    """A ``Checker`` in a child process. Calls travel as pickles over the
    child's stdin and stdout; both ends are this module, so every pickle
    read was written by it."""

    def __init__(self, work: str, root: str, workload: str, smoke: bool) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        try:
            self.info = self.call("start", work, root, workload, smoke)
        except BaseException:
            self.close()
            raise

    def call(self, method: str, *args):
        """``Checker.<method>(*args)`` in the child; "start" builds it."""
        pickle.dump((method, args), self.proc.stdin)
        self.proc.stdin.flush()
        ok, value = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(f"checker {method} failed:\n{value}")
        return value

    def close(self) -> None:
        """End the child (end of its input) and wait for it."""
        self.proc.stdin.close()
        self.proc.wait(timeout=120)
        self.proc.stdout.close()


def _serve() -> None:
    # Replies get a private copy of stdout; fd 1 itself now goes to stderr,
    # so nothing else printed here (DuckDB's progress bar writes to fd 1
    # from C++) can corrupt them.
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    inp = sys.stdin.buffer
    checker = None
    while True:
        try:
            method, args = pickle.load(inp)
        except EOFError:
            return
        try:
            if method == "start":
                checker = Checker(*args)
                value = {
                    "sf_dir": checker.sf_dir,
                    "data_build_s": checker.data_build_s,
                    "oracle_s": checker.oracle_s,
                }
            else:
                value = getattr(checker, method)(*args)
            reply = (True, value)
        except Exception:
            reply = (False, traceback.format_exc())
        pickle.dump(reply, out)
        out.flush()


if __name__ == "__main__":
    _serve()
