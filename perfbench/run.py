"""Benchmark for the spark-graft engine: one workload per invocation.

    python3 perfbench/run.py --workload interactive_sf0.1 --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The engine is used as users get it:
``session.get_spark()`` defaults on ``local[SPARK_GRAFT_CPUS]`` (at most
the cores this process may use), one client, closed loop. A run:

1. builds the workload's input tables if the checkout lacks them and
   loads each query's DuckDB oracle result, in a separate process;
2. sets the engine up and times it (``setup_s``);
3. runs two unmeasured warm-up passes over the mix (JIT, file listing);
4. runs measured passes, each in a seed-permuted order, until their
   timed total reaches ``--seconds`` (see STEAL_LIMIT);
5. checks every execution's output against the oracle, outside the
   timed region.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries per-layer metrics taken from spans and
counters recorded around each call into the engine, and measured
passes alternate untraced/traced so the trace reports its own overhead.
A full report (conditions, per-query figures, spans) is written under
``perfbench/.work/reports/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import procstat
from spans import Tracer, self_times

ENGINE = "data_pipeline_standalone_scripts_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
WARMUP_PASSES = 2
# A measured pass during which the hypervisor took more than this share
# of the machine's CPU time (steal) is disturbed: it is reported but left
# out of the medians while undisturbed passes can replace it, up to
# MEASURE_CAP x --seconds of measured time.
STEAL_LIMIT = 0.05
MEASURE_CAP = 1.5
_OFF = Tracer(False)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
}
# Printed with the end-to-end metrics but not in the result line: CPU
# time and peak memory vary by more than the comparison bound between
# runs of one commit on a 4-core virtual machine (JIT and GC threads,
# the JVM's adaptive heap under a 24g cap), so they are per-layer
# figures (cpu.total_s, mem.peak_rss_mb); a percentile needs ten samples
# beyond it; failures are the result line's own attempted/failed fields.
REPORTED_ONLY = {
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "query_p90_s": "s",
    "failed_frac": "ratio",
}

CATEGORIES = ("aggregates", "joins", "windows", "llm", "clustering",
              "multimodal", "scans")
PER_LAYER = {
    "engine.import_s": "s",
    "engine.load_operators_s": "s",
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    **{f"operators.{c}.execute_s": "s" for c in CATEGORIES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "tables.load_cold_s": "s",
    "tables.load_cached_s": "s",
    "tables.scan_mb_per_s": "MB/s",
    "common.persists": "count",
    "common.release_s": "s",
    "cpu.total_s": "s",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "cpu.util": "ratio",
    "mem.peak_rss_mb": "MB",
    "mem.driver_peak_mb": "MB",
    "mem.jvm_peak_mb": "MB",
    "mem.pyworker_peak_mb": "MB",
    "deliver.rows": "count",
    "deliver.mb": "MB",
    "sink.mb": "MB",
    "trace.overhead_s": "s",
}


def _args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke",
        action="store_true",
        help="self-test: sf0.001 inputs, no warm-up pass",
    )
    return p.parse_args(argv)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _meminfo_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest(root: str) -> str:
    """Digest of the engine's Python sources: the build identity when
    the checkout is not a git repository."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, ENGINE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), root).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _isolate_temp_dirs(work: str) -> None:
    """Point every temp and spill location of Python, PySpark and the
    JVM inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    # the engine leaves a zip of itself in the temp dir of every process
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    opt = f"-Djava.io.tmpdir={tmp}"
    prior = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if opt not in prior:
        os.environ["JAVA_TOOL_OPTIONS"] = f"{prior} {opt}".strip()


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class Run:
    """One benchmark run: engine set-up, passes, checks and metrics."""

    def __init__(self, workload: str, work: str, checker, sf_dir: str, tracer: Tracer) -> None:
        from workloads import WORKLOADS

        self.w = WORKLOADS[workload]
        self.work = work
        self.checker = checker  # a workloads.CheckerProcess
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []
        self.setup: dict[str, float] = {}
        self.ncpu = procstat.ncpu()

    # -- set-up --------------------------------------------------------

    def set_up(self, tracer: Tracer) -> None:
        """Import, load operators, create the session, run a first job."""
        tr = "setup"
        t0 = time.perf_counter()
        with tracer.span("setup", tr):
            with tracer.span("engine.import", tr):
                t = time.perf_counter()
                import data_pipeline_standalone_scripts_spark as engine
                self.setup["engine.import_s"] = time.perf_counter() - t
            with tracer.span("engine.load_all_operators", tr):
                t = time.perf_counter()
                engine.load_all_operators()
                self.setup["engine.load_operators_s"] = time.perf_counter() - t
            from data_pipeline_standalone_scripts_spark import session

            with tracer.span("session.get_spark", tr):
                t = time.perf_counter()
                self.spark = session.get_spark()
                self.setup["session.get_spark_s"] = time.perf_counter() - t
            with tracer.span("session.first_job", tr):
                t = time.perf_counter()
                self.spark.range(1).count()
                self.setup["session.first_job_s"] = time.perf_counter() - t
        self.setup["setup_s"] = time.perf_counter() - t0

    # -- one query -----------------------------------------------------

    def _execute(self, q: str, trace_id: str, traced: bool) -> dict:
        from data_pipeline_standalone_scripts_spark.operators.common import release_persists
        from data_pipeline_standalone_scripts_spark.registry import REGISTRY

        spec = REGISTRY[q]
        sc = self.spark.sparkContext
        tr = self.tracer if traced else _OFF
        rec: dict = {"query": q, "trace": trace_id, "error": None, "pdf": None}
        try:
            with tr.span("query", trace_id, query=q):
                t0 = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"{trace_id}/construct", q)
                with tr.span("registry.construct", trace_id):
                    df = spec.fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"{trace_id}/execute", q)
                with tr.span(f"operators.{spec.category}.execute", trace_id):
                    if self.w.sink:
                        df.write.mode("overwrite").parquet(self._sink(q))
                    else:
                        rec["pdf"] = df.toPandas()
                t2 = time.perf_counter()
            rec.update(construct_s=t1 - t0, execute_s=t2 - t1, latency_s=t2 - t0)
        except Exception as e:  # a failing query is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            with tr.span("common.release_persists", trace_id):
                t = time.perf_counter()
                self.spark.catalog.clearCache()
                rec["persists"] = release_persists()
                rec["release_s"] = time.perf_counter() - t
        return rec

    def _sink(self, q: str) -> str:
        return os.path.join(self.work, "sink", self.w.name, q)

    # -- passes --------------------------------------------------------

    def run_pass(self, index: int, order: list[str], traced: bool, warmup: bool) -> dict:
        tid = f"pass-{index}"
        tr = self.tracer if traced else _OFF
        cpu0 = procstat.cpu_seconds()
        steal0 = procstat.steal_seconds()
        t0 = time.perf_counter()
        with tr.span("pass", tid):
            recs = [self._execute(q, f"{tid}/{q}", traced) for q in order]
        wall = time.perf_counter() - t0
        steal = procstat.steal_seconds() - steal0
        cpu1 = procstat.cpu_seconds()
        p = {
            "index": index,
            "traced": traced,
            "warmup": warmup,
            "pass_s": wall,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1},
            "steal_s": steal,
            "disturbed": steal > STEAL_LIMIT * wall * self.ncpu,
            "queries": [],
        }
        for rec in recs:  # outside the timed region
            p["queries"].append(self._check(rec))
        if traced:
            self._count_jobs(p)
        self.passes.append(p)
        return p

    def _check(self, rec: dict) -> dict:
        """Compare one execution's output with the oracle's result."""
        import pickle

        q = rec["query"]
        self.attempted += 1
        out = {k: v for k, v in rec.items() if k != "pdf"}
        if rec["error"] is None:
            if self.w.sink:
                out["sink_mb"] = _dir_mb(self._sink(q))
                out["error"] = self.checker.call("check_sink", q, self._sink(q))
            else:
                pdf = rec["pdf"]
                out["deliver_rows"] = len(pdf)
                out["deliver_mb"] = float(pdf.memory_usage(deep=True).sum()) / 1e6
                out["error"] = self.checker.call("check_frame", q, pickle.dumps(pdf))
        if out["error"] is not None:
            self.failed += 1
            self.failures.append(f"{rec['trace']}: {out['error']}")
        return out

    def _count_jobs(self, p: dict) -> None:
        st = self.spark.sparkContext.statusTracker()
        for qr in p["queries"]:
            for phase in ("construct", "execute"):
                jobs = st.getJobIdsForGroup(f"{qr['trace']}/{phase}")
                stages = tasks = failed = 0
                for j in jobs:
                    info = st.getJobInfo(j)
                    for sid in info.stageIds if info else ():
                        s = st.getStageInfo(sid)
                        if s and s.numCompletedTasks:
                            stages += 1
                            tasks += s.numCompletedTasks
                            failed += s.numFailedTasks
                qr[f"{phase}_jobs"] = len(jobs)
                qr[f"{phase}_stages"] = stages
                qr[f"{phase}_tasks"] = tasks
                qr[f"{phase}_failed_tasks"] = failed

    def probe_tables(self) -> dict:
        """Traced runs only: time ``tables.load`` cold and cached for each
        table, then a full no-op scan of each loaded table."""
        from data_pipeline_standalone_scripts_spark import tables

        tr, tid = self.tracer, "tables"
        cold = cached = scan = mb = 0.0
        with tr.span("tables", tid):
            for name in tables.TABLES:
                for kind in ("cold", "cached"):
                    with tr.span(f"tables.load.{kind}", tid, table=name):
                        t = time.perf_counter()
                        df = tables.load(self.spark, self.sf_dir, name)
                        dt = time.perf_counter() - t
                    if kind == "cold":
                        cold += dt
                    else:
                        cached += dt
                with tr.span("tables.scan", tid, table=name):
                    t = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    scan += time.perf_counter() - t
                path = tables.table_path(self.sf_dir, name)
                mb += _dir_mb(path) if os.path.isdir(path) else os.path.getsize(path) / 1e6
        return {
            "tables.load_cold_s": cold,
            "tables.load_cached_s": cached,
            "tables.scan_mb_per_s": mb / scan if scan else 0.0,
        }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(run: Run, measured: list[dict]) -> dict[str, float]:
    lat = sorted(q["latency_s"] for p in measured for q in p["queries"] if q["error"] is None)
    m = {
        "setup_s": run.setup["setup_s"],
        "pass_s": _median([p["pass_s"] for p in measured]),
        "query_p50_s": _median(lat),
        "cpu_s": _median([sum(p["cpu"].values()) for p in measured]),
    }
    m["peak_rss_mb"] = sum(procstat.peak_rss_mb().values())
    # the p90 needs at least ten samples beyond it
    m["query_p90_s"] = lat[int(0.9 * len(lat))] if len(lat) >= 100 else None
    m["failed_frac"] = run.failed / run.attempted if run.attempted else 1.0
    m["_latency_samples"] = len(lat)
    return m


def per_layer(run: Run, traced: list[dict], untraced: list[dict], probe: dict) -> dict[str, float]:
    def per_pass(f) -> float:
        return _median([f(p) for p in traced])

    def qsum(p: dict, key: str, cat: str | None = None) -> float:
        return sum(
            q.get(key, 0.0)
            for q in p["queries"]
            if cat is None or run.category[q["query"]] == cat
        )

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m = {k: run.setup[k] for k in ("engine.import_s", "engine.load_operators_s",
                                   "session.get_spark_s", "session.first_job_s")}
    m["registry.construct_s"] = per_pass(lambda p: qsum(p, "construct_s"))
    m["registry.construct_jobs"] = per_pass(lambda p: qsum(p, "construct_jobs"))
    for c in CATEGORIES:
        m[f"operators.{c}.execute_s"] = per_pass(lambda p, c=c: qsum(p, "execute_s", c))
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = per_pass(
            lambda p, k=k: qsum(p, f"construct_{k}") + qsum(p, f"execute_{k}")
        )
    m.update(probe)
    m["common.persists"] = per_pass(lambda p: qsum(p, "persists"))
    m["common.release_s"] = per_pass(lambda p: qsum(p, "release_s"))
    m["cpu.total_s"] = per_pass(lambda p: sum(p["cpu"].values()))
    for role in procstat.ROLES:
        m[f"cpu.{role}_s"] = per_pass(lambda p, r=role: p["cpu"][r])
    m["cpu.util"] = per_pass(lambda p: sum(p["cpu"].values()) / (p["pass_s"] * cores))
    rss = procstat.peak_rss_mb()
    m["mem.peak_rss_mb"] = sum(rss.values())
    for role in procstat.ROLES:
        m[f"mem.{role}_peak_mb"] = rss[role]
    m["deliver.rows"] = per_pass(lambda p: qsum(p, "deliver_rows"))
    m["deliver.mb"] = per_pass(lambda p: qsum(p, "deliver_mb"))
    m["sink.mb"] = per_pass(lambda p: qsum(p, "sink_mb"))
    m["trace.overhead_s"] = _median([p["pass_s"] for p in traced]) - _median(
        [p["pass_s"] for p in untraced]
    )
    return m


def main(argv: list[str]) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"error: run from a checkout root holding {ENGINE}/", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    _isolate_temp_dirs(work)
    if root not in sys.path:
        sys.path.insert(0, root)
    ncores = len(os.sched_getaffinity(0))
    asked = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = min(int(asked), ncores) if asked.isdigit() and int(asked) > 0 else ncores
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    conditions = {
        "git_commit": _git_commit(root),
        "engine_source_digest": _source_digest(root),
        "nproc": ncores,
        "spark_graft_cpus": cpus,
        "mem_total_mb": _meminfo_mb(),
        "loadavg_start": _loadavg(),
        "outside_busy_cores_start": procstat.busy_cores(),
    }
    conditions["outside_load"] = conditions["outside_busy_cores_start"] > 0.5

    from workloads import CheckerProcess

    checker = CheckerProcess(work, root, args.workload, args.smoke)
    try:
        return _measure(args, root, work, conditions, checker, checker.info)
    finally:
        checker.close()


def _measure(args, root, work, conditions, checker, info) -> int:
    from importlib.metadata import version

    run = Run(args.workload, work, checker, info["sf_dir"], Tracer(bool(args.trace)))
    steal0 = procstat.steal_seconds()
    run.set_up(run.tracer)
    try:
        from data_pipeline_standalone_scripts_spark.registry import REGISTRY

        conditions.update(
            driver_memory=run.spark.conf.get("spark.driver.memory", None),
            **{pkg: version(pkg) for pkg in ("pyspark", "duckdb", "pyarrow")},
            data_dir=os.path.relpath(run.sf_dir, root),
            data_build_s=info["data_build_s"],
            oracle_s=info["oracle_s"],
        )
        run.category = {q: REGISTRY[q].category for q in run.w.queries}
        probe = run.probe_tables() if args.trace else {}

        rng = random.Random(args.seed)
        mix = list(run.w.queries)

        def order() -> list[str]:
            rng.shuffle(mix)
            return list(mix)

        # The first pass runs 2-4x slower than steady state (class loading,
        # code generation, JIT) and the second still compiles, so two
        # passes warm up before any is measured.
        index = 0
        for _ in range(0 if args.smoke else WARMUP_PASSES):
            run.run_pass(index, order(), traced=False, warmup=True)
            index += 1
        measured: list[dict] = []
        min_passes = 2 if args.trace else 1

        def usable() -> list[dict]:
            # traced runs keep every pass: per-layer figures carry no bound
            return measured if args.trace else [p for p in measured if not p["disturbed"]]

        def timed(ps: list[dict]) -> float:  # output checks run between passes
            return sum(p["pass_s"] for p in ps)

        while len(usable()) < min_passes or timed(usable()) < args.seconds:
            if len(measured) >= min_passes and timed(measured) >= MEASURE_CAP * args.seconds:
                break
            # traced runs alternate untraced and traced passes
            traced = bool(args.trace) and len(measured) % 2 == 1
            measured.append(run.run_pass(index, order(), traced=traced, warmup=False))
            index += 1
        kept = usable() or measured
        measure_s = timed(measured)
        conditions["disturbed_passes"] = sum(p["disturbed"] for p in measured)

        untraced = [p for p in kept if not p["traced"]]
        traced = [p for p in kept if p["traced"]]
        e2e = end_to_end(run, untraced)
        layers = per_layer(run, traced, untraced, probe) if args.trace else {}
    finally:
        _stop(run.spark)
    conditions["loadavg_end"] = _loadavg()
    conditions["steal_s"] = procstat.steal_seconds() - steal0

    _write_report(work, args, conditions, run, e2e, layers, measure_s)
    _print_summary(args, conditions, run, e2e, layers)
    units = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it: closing its
    stdin is how PySpark's gateway server is told to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _write_report(work, args, conditions, run, e2e, layers, measure_s) -> None:
    spans = run.tracer.spans
    st = self_times(spans) if spans else {}
    for s in spans:
        s["self_s"] = st[s["id"]]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "measure_s": measure_s,
        "conditions": conditions,
        "setup": run.setup,
        "end_to_end": e2e,
        "per_layer": layers,
        "passes": run.passes,
        "failures": run.failures,
        "spans": spans,
    }
    out = os.path.join(work, "reports")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(report, f, indent=1, default=str)


def _print_summary(args, conditions, run, e2e, layers) -> None:
    print(f"workload {args.workload}  seed {args.seed}  passes "
          f"{sum(1 for p in run.passes if not p['warmup'])} measured")
    for k in ("git_commit", "engine_source_digest", "nproc", "spark_graft_cpus",
              "mem_total_mb", "driver_memory", "loadavg_start", "loadavg_end",
              "outside_busy_cores_start", "outside_load", "steal_s", "disturbed_passes",
              "pyspark", "duckdb",
              "pyarrow", "data_build_s", "oracle_s"):
        print(f"  {k:26} {conditions.get(k)}")
    for k, u in {**END_TO_END, **REPORTED_ONLY}.items():
        v = e2e.get(k)
        if v is None:
            print(f"  {k:26} omitted: {e2e['_latency_samples']} latency samples, "
                  "fewer than the 100 a p90 needs")
        else:
            print(f"  {k:26} {v:.6g} {u}")
    for k, v in layers.items():
        print(f"  {k:26} {v:.6g} {PER_LAYER[k]}")
    for f in run.failures:
        print(f"  FAILED {f}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
