"""Degenerate-input guards added per ADVICE r04 (#1 q_cosine_topk
missing query vector, #2 q_dedup_eval zero-pair detector spine,
#3 q_embed_quantize all-zero embedding).

Each test builds a tiny synthetic sf_dir under tmp_path so the guard
path actually executes — the shipped fixtures never hit these edges.

The session-state guards at the end check that building a query
leaves the caller's session as it found it: no temp views, no
session-conf writes, no files in the checkout, no directory shared
between two builds, no release reaching another thread's build, and
no Spark job started except by the queries EAGER_BUILDS names.
"""

import os
import re
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.oracle import (
    check_query,
    compare_frames,
    run_oracle,
)
from data_pipeline_standalone_scripts_spark.operators import common
from data_pipeline_standalone_scripts_spark.registry import REGISTRY, run

engine.load_all_operators()


def _write_embeddings(spark, tmp_path, rows):
    sf_dir = str(tmp_path)
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    return sf_dir


def _write_documents(spark, tmp_path, rows):
    sf_dir = str(tmp_path)
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    return sf_dir


def test_cosine_topk_missing_query_vector(spark, tmp_path):
    """No vec_id=0 row: degrade to an empty frame with the output
    schema instead of IndexError at plan-build time (ADVICE r04 #1)."""
    sf_dir = _write_embeddings(
        spark, tmp_path, [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)]
    )
    out = REGISTRY["q_cosine_topk"].fn(spark, sf_dir)
    assert out.columns == ["vec_id", "label", "cos_sim"]
    assert out.count() == 0


def test_embed_quantize_all_zero_vector(spark, tmp_path):
    """An all-zero embedding must quantize to itself (scale 0, zero
    error, cosine 1.0) — not overflow into INT64_MIN garbage
    (ADVICE r04 #3)."""
    sf_dir = _write_embeddings(
        spark, tmp_path,
        [(0, [0.0, 0.0, 0.0], 0), (1, [3.0, -4.0, 0.0], 1)],
    )
    rows = {
        r["vec_id"]: r
        for r in REGISTRY["q_embed_quantize"].fn(spark, sf_dir).collect()
    }
    z = rows[0]
    assert z["scale"] == 0.0
    assert z["max_abs_err"] == 0.0
    assert z["cos_recon"] == 1.0
    nz = rows[1]  # nonzero row unaffected by the guard
    assert nz["scale"] == pytest.approx(4.0 / 127.0, abs=1e-6)
    assert nz["cos_recon"] > 0.999


def test_dedup_eval_zero_pair_detectors_keep_rows(spark, tmp_path):
    """A corpus with no near-duplicates: both detectors emit zero
    pairs, yet the report must still contain both sketch rows
    (n_pred = tp = 0) to match the oracle's fixed two-row shape
    (ADVICE r04 #2)."""
    sf_dir = _write_documents(
        spark, tmp_path,
        [
            (1, "alpha beta gamma delta epsilon", "en", "web", 30),
            (2, "one two three four five six", "en", "web", 27),
            (3, "red orange yellow green blue", "en", "web", 28),
        ],
    )
    out = REGISTRY["q_dedup_eval"].fn(spark, sf_dir).collect()
    by_sketch = {r["sketch"]: r for r in out}
    assert set(by_sketch) == {"simhash_h5", "minhash_lsh_verified"}
    for r in out:
        assert r["n_pred"] == 0
        assert r["tp"] == 0
        assert r["n_truth"] == 0


def test_kernel_ops_tolerate_null_text(spark, tmp_path):
    """ADVICE r06 #3: the Arrow partial-count kernels (q_explode,
    q_boilerplate_ngrams, q_bm25_rank) must skip NULL text rows like
    the JVM split/posexplode plans they replaced did, not raise
    AttributeError in the Python worker. bm25's corpus stats count
    the null doc (oracle: COUNT(*) over documents) but give it no
    tokens and no dl contribution."""
    sf_dir = _write_documents(
        spark, tmp_path,
        [
            (1, "alpha beta alpha", "en", "web", 16),
            (2, None, "en", "web", 0),
            (3, "beta beta gamma", "en", "web", 15),
        ],
    )
    wc = {
        r["token"]: (r["n"], r["n_docs"])
        for r in REGISTRY["q_explode"].fn(spark, sf_dir).collect()
    }
    assert wc == {"alpha": (2, 1), "beta": (3, 2), "gamma": (1, 1)}

    # 5-gram shingles need >=5 tokens; 3-token docs + the null doc
    # must yield an empty frame, not a worker crash
    assert REGISTRY["q_boilerplate_ngrams"].fn(spark, sf_dir).count() == 0

    # bm25: no crash, and scores stay finite with the null doc counted
    # in n_docs (exercised via the build-time stats collect)
    bm = REGISTRY["q_bm25_rank"].fn(spark, sf_dir).collect()
    assert all(r["bm25"] is not None for r in bm)


def test_winnow_non_ascii_names_doc_id(spark, tmp_path):
    """Winnowing packs 8 ASCII bytes into one long: a non-ASCII
    document must fail with an error naming its doc_id, not a bare
    UnicodeEncodeError from the Python worker."""
    sf_dir = _write_documents(
        spark, tmp_path,
        [
            (1, "plain ascii text here", "en", "web", 21),
            (987654321, "un café au lait", "fr", "web", 15),
        ],
    )
    with pytest.raises(Exception, match="987654321"):
        REGISTRY["q_fingerprint_winnow"].fn(spark, sf_dir).collect()


def test_winnow_null_doc_id_names_column(spark, tmp_path):
    """A NULL doc_id must fail with a ValueError naming the doc_id
    column, not a raw TypeError from np.full in the Python worker."""
    sf_dir = _write_documents(
        spark, tmp_path,
        [
            (1, "plain ascii text here", "en", "web", 21),
            (None, "another plain document", "en", "web", 22),
        ],
    )
    with pytest.raises(Exception, match="NULL doc_id"):
        REGISTRY["q_fingerprint_winnow"].fn(spark, sf_dir).collect()


# --- session state ----------------------------------------------------------

PKG = os.path.dirname(os.path.abspath(engine.__file__))
CHECKOUT = os.path.dirname(PKG)
# the only session confs the query path reads: deployment settings
# (finance.EVENTS_BUCKETED_TABLE_CONF, textclean.DP_SEED_CONF)
DEPLOYMENT_CONF_KEYS = {"EVENTS_BUCKETED_TABLE_CONF", "DP_SEED_CONF"}


def _sources(*subs):
    """(path relative to the package, text) of every module under
    the package subdirectories ``subs``."""
    for sub in subs:
        for root, _dirs, files in os.walk(os.path.join(PKG, sub)):
            for fname in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(root, fname)
                with open(path) as f:
                    yield os.path.relpath(path, PKG), f.read()


def test_query_path_writes_no_session_state():
    """Source guard over operators/ and functions/: no temp view is
    registered, no session conf is set or unset, and conf reads are
    limited to the two deployment keys. Over operators/, functions/
    and sources/: nothing is broadcast through the SparkContext (a
    broadcast leaves a file in the driver's temp directory that no
    release removes; a fill-once table is a functools.cache'd
    function that workers call)."""
    offenders = []
    for rel, src in _sources("operators", "functions"):
        for token in ("TempView(", "register_views", "conf.set(", "conf.unset("):
            if token in src:
                offenders.append((rel, token))
        for key in re.findall(r"conf\.get\(\s*([^,)\s]+)", src):
            if key not in DEPLOYMENT_CONF_KEYS:
                offenders.append((rel, f"conf.get({key})"))
    for rel, src in _sources("operators", "functions", "sources"):
        if "sparkContext.broadcast(" in src:
            offenders.append((rel, "sparkContext.broadcast("))
    assert not offenders, offenders


MODULE_CONTAINER = re.compile(
    r"^[A-Za-z_]\w*(\s*:[^=\n]+)?\s*=\s*(\[\]|\{\}|set\(\))", re.M
)


def test_query_path_holds_no_module_state():
    """Source guard over operators/, functions/ and sources/: no
    module-level mutable container (``= []``, ``= {}``, ``= set()``),
    so no query's result depends on what ran before it in the process
    or in another thread. What a build leaves goes to the calling
    thread's ledger (common.on_release); a fill-once table is a
    functools.cache'd function. The one deliberate process-wide cache
    on the query path is ``tables._SCAN_CACHE``, outside these
    directories: it holds immutable scan handles."""
    offenders = [
        (rel, m.group(0))
        for rel, src in _sources("operators", "functions", "sources")
        for m in MODULE_CONTAINER.finditer(src)
    ]
    assert not offenders, offenders


# every scans operator that writes a sink and reads it back while built
SCANS_IO = [
    "q_sink_roundtrip",
    "q_csv_json_io",
    "q_partitioned_prune",
    "q_orc_io",
    "q_xml_io",
    "q_binaryfile_scan",
    "q_text_io",
    "q_schema_evolution",
    "q_dynamic_overwrite",
    "q_csv_corrupt_records",
]


def _checkout_paths() -> set[str]:
    out = set()
    for root, dirs, files in os.walk(CHECKOUT):
        dirs[:] = [d for d in dirs if d not in (".git", "__pycache__", ".hypothesis")]
        out.update(os.path.join(root, n) for n in dirs + files)
    return out


@pytest.mark.parametrize("name", SCANS_IO)
def test_scans_io_builds_are_self_contained(name, spark, sf_small, monkeypatch):
    """Build twice, then collect the FIRST frame: the second build must
    not have replaced the files the first one reads. The two builds
    write to different directories, none of them in the checkout, and
    releasing the builds removes them."""
    from data_pipeline_standalone_scripts_spark.operators import scans

    real = scans._scratch_dir
    written: list[list[str]] = []

    def recording(label):
        d = real(label)
        written[-1].append(os.path.abspath(d))
        return d

    monkeypatch.setattr(scans, "_scratch_dir", recording)
    before = _checkout_paths()
    q = REGISTRY[name]
    try:
        frames = []
        for _ in range(2):
            written.append([])
            frames.append(q.fn(spark, sf_small))
        rep = compare_frames(name, frames[0].toPandas(), run_oracle(q.oracle, sf_small))
    finally:
        common.release_persists()
    assert rep.ok, str(rep)
    first, second = written
    assert first and second and not set(first) & set(second), written
    assert not [d for d in first + second if d.startswith(CHECKOUT + os.sep)]
    assert _checkout_paths() == before
    assert not [d for d in first + second if os.path.exists(d)]


def _driver_temp_files(spark) -> set[str]:
    root = spark.sparkContext._temp_dir
    return {os.path.join(r, f) for r, _dirs, files in os.walk(root) for f in files}


def test_hex_builds_leave_no_driver_temp_files(spark, sf_small):
    """Build each hex-camera op twice, then run it through
    registry.run: no file is added under the driver's temp directory
    (where a SparkContext broadcast of the geometry tables would
    leave one pickle per build)."""
    before = _driver_temp_files(spark)
    for name in ("q_tailcut_hex", "q_connected_hex", "q_hillas_hex", "q_pipeline_hex"):
        for _ in range(2):
            REGISTRY[name].fn(spark, sf_small)
        assert len(run(name, spark, sf_small)) > 400, name
    assert _driver_temp_files(spark) - before == set()


# The queries whose build starts Spark jobs, each with the reason it
# stays eager. Every other registered query builds only a plan.
EAGER_BUILDS = {
    **dict.fromkeys(
        SCANS_IO, "writes its fixture and reads it back: the sink is what it tests"
    ),
    "q_stat_crosstab": "DataFrame.stat.crosstab is eager by API",
    "q_sql_scripting": "a SQL script executes inside spark.sql",
    "q_dedup_clusters": "its fixpoint test needs an action per round",
    "q_shortest_path_bf": "a lazy unroll doubles the plan per hop and ran slower",
    "q_bpe_merge": "its lazy argmax measured 1.24-1.39 s vs ~0.55 s at sf0.1",
    "q_cosine_topk": "benchmarked; a lazy one-row broadcast join was no faster",
    "q_bm25_rank": "benchmarked; collects its corpus statistics on the driver",
    "q_kmeans_embed": "benchmarked; clustering._lloyd runs Lloyd on the driver",
    "q_semantic_dedup": "runs q_kmeans_embed's driver-side clustering._lloyd",
}


def test_building_a_query_starts_no_spark_job(spark, sf_small):
    """Build every registered query once inside its own job group and
    count the jobs the group started: zero, except for the queries in
    EAGER_BUILDS, which must each still start one (a stale entry
    fails, so the list only shrinks). Every table's scan handle is
    warmed first, because a cold tables.load runs one schema-inference
    job."""
    from data_pipeline_standalone_scripts_spark.tables import TABLES, load

    for table in TABLES:
        load(spark, sf_small, table)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    for name in sorted(REGISTRY):
        group = f"test-build-jobs/{name}"
        sc.setJobGroup(group, name)
        try:
            REGISTRY[name].fn(spark, sf_small)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
            common.release_persists()
        jobs[name] = len(tracker.getJobIdsForGroup(group))
    eager = {name for name, n in jobs.items() if n}
    assert not eager - set(EAGER_BUILDS), {
        n: jobs[n] for n in sorted(eager - set(EAGER_BUILDS))
    }
    assert not set(EAGER_BUILDS) - eager, sorted(set(EAGER_BUILDS) - eager)


# Disjoint SQL-form, fixture-writing and persisting queries, one thread
# each, over different scale factors of the same table names. Each
# thread has range-rank callers (dist_running / dist_ntile, whose
# persist is correctness) and another tracked_persist query. The
# queries differ per thread, and so do the scale factors, because the
# CacheManager keys entries by plan: two live builds of one identical
# plan would share one entry.
SMALL_THREAD, MED_THREAD = (
    [
        "q_group_by_all",
        "q_grouping_id",
        "q_dq_report",
        "q_linreg_fit",
        "q_corr_subquery",
        "q_sql_scripting",
        "q_python_udtf",
        "q_sink_roundtrip",
        "q_dynamic_overwrite",
        "q_orc_io",
        "q_text_io",
        "q_win_ntile_pct",
        "q_gini_revenue",
        "q_bloom_prefilter",
    ],
    [
        "q_pipe_sql",
        "q_column_profile",
        "q_join_lateral",
        "q_bitmask_rollup",
        "q_rollup_multires",
        "q_agg_grouping_sets",
        "q_linreg_per_group",
        "q_sql_udf",
        "q_csv_json_io",
        "q_schema_evolution",
        "q_xml_io",
        "q_partitioned_prune",
        "q_binaryfile_scan",
        "q_late_data_watermark",
        "q_pareto_skyline",
        "q_csv_corrupt_records",
    ],
)


def test_two_threads_one_session_match_oracle(spark, sf_small, sf_med):
    """One session, two threads, each running its own queries through
    registry.run (check_query): every result matches the oracle."""

    def check_all(sf_dir, names):
        return [check_query(n, spark, sf_dir) for n in names]

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(check_all, sf_small, SMALL_THREAD),
            pool.submit(check_all, sf_med, MED_THREAD),
        ]
        reports = [rep for fut in futures for rep in fut.result()]
    bad = [str(rep) for rep in reports if not rep.ok]
    assert not bad, bad


def test_other_threads_run_leaves_a_built_frame_alone(spark, sf_small, sf_med):
    """Thread A builds a range-rank query and waits; thread B runs
    another query through registry.run to completion (which releases
    B's ledger); then A acts on its frame. A's range-rank pin must
    still be in place, so A's result matches the oracle."""
    name = "q_late_data_watermark"
    built, b_done = threading.Event(), threading.Event()

    def thread_a():
        try:
            df = REGISTRY[name].fn(spark, sf_med)
            built.set()
            assert b_done.wait(600)
            return df.toPandas()
        finally:
            built.set()
            common.release_persists()

    def thread_b():
        try:
            assert built.wait(600)
            run("q_agg_pricing_summary", spark, sf_small)
        finally:
            b_done.set()

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_a, fut_b = pool.submit(thread_a), pool.submit(thread_b)
        fut_b.result()
        got = fut_a.result()
    rep = compare_frames(name, got, run_oracle(REGISTRY[name].oracle, sf_med))
    assert rep.ok, str(rep)


def test_release_ledger_is_per_thread():
    """More threads than cores register release callbacks under a short
    switch interval, then each releases: every release runs exactly
    its own thread's callbacks, newest first, and counts them."""
    n_threads, n_callbacks = 8, 200
    start = threading.Barrier(n_threads)
    ran: dict[int, list] = {i: [] for i in range(n_threads)}

    def worker(i):
        start.wait(60)
        for k in range(n_callbacks):
            common.on_release(
                lambda k=k: ran[i].append((k, threading.get_ident()))
            )
        return threading.get_ident(), common.release_persists()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            results = [f.result(timeout=60) for f in
                       [pool.submit(worker, i) for i in range(n_threads)]]
    finally:
        sys.setswitchinterval(old)
    for i, (ident, n) in enumerate(results):
        assert n == n_callbacks
        assert ran[i] == [(k, ident) for k in reversed(range(n_callbacks))]
