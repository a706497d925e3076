"""Degenerate-input guards added per ADVICE r04 (#1 q_cosine_topk
missing query vector, #2 q_dedup_eval zero-pair detector spine,
#3 q_embed_quantize all-zero embedding).

Each test builds a tiny synthetic sf_dir under tmp_path so the guard
path actually executes — the shipped fixtures never hit these edges.
"""

import os

import pytest

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.registry import REGISTRY

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
