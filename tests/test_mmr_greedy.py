"""Property tests for q_mmr_rerank's greedy kernel
(operators/dedup_ext.py: mmr_greedy), checked against a brute-force
Python replay of the oracle's recursive CTE: pick 1 is the relevance
argmax, each later pick maximizes 7·rel − 3·(max similarity to the
picks so far), ties go to the smaller id, and the loop stops after
K_MMR picks or when the pool runs out.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.operators.dedup_ext import (
    K_MMR,
    _MMR_DIV_W,
    _MMR_REL_W,
    mmr_greedy,
)
from data_pipeline_standalone_scripts_spark.oracle import compare_frames
from data_pipeline_standalone_scripts_spark.registry import REGISTRY

engine.load_all_operators()

COLS = ["rank", "vec_id", "mmr_score"]


def _brute_mmr(ids, rels, vecs):
    """(rank, vec_id, mmr_score) rows of the greedy re-rank, one
    candidate scan per pick with Python-int dot products."""
    rel = dict(zip(ids, rels))
    vec = dict(zip(ids, vecs))

    def sim(a, b):
        return sum(x * y for x, y in zip(vec[a], vec[b]))

    picked, out = [], []
    while len(picked) < min(K_MMR, len(ids)):
        scored = [
            (
                _MMR_REL_W * rel[c]
                - (_MMR_DIV_W * max(sim(c, p) for p in picked) if picked else 0),
                c,
            )
            for c in ids
            if c not in picked
        ]
        score, c = min(scored, key=lambda t: (-t[0], t[1]))
        picked.append(c)
        out.append((len(picked), c, score))
    return out


def _run_kernel(ids, rels, vecs, split):
    pdf = pd.DataFrame(
        {"id": np.array(ids, np.int64), "rel": np.array(rels, np.int64), "xq": vecs}
    )
    frames = list(mmr_greedy(iter([pdf.iloc[:split], pdf.iloc[split:]])))
    assert len(frames) == 1
    got = frames[0]
    assert list(got.columns) == COLS
    assert all(got[c].dtype == np.int64 for c in COLS)
    return [tuple(int(v) for v in row) for row in got.itertuples(index=False)]


@st.composite
def pools(draw):
    """(ids, rels, vecs, split): 0–14 candidates with distinct ids in
    random order, relevances and vector entries from small ranges (so
    scores tie often), and a split of the pool into two batches."""
    n = draw(st.integers(0, 14))
    d = draw(st.integers(1, 5))
    ids = draw(st.lists(st.integers(0, 60), min_size=n, max_size=n, unique=True))
    rels = draw(st.lists(st.integers(-4, 4), min_size=n, max_size=n))
    vecs = [
        draw(st.lists(st.integers(-3, 3), min_size=d, max_size=d)) for _ in range(n)
    ]
    return ids, rels, vecs, draw(st.integers(0, n))


# equal relevances and vectors (every score ties: picks follow id
# order), a pool smaller than K_MMR, a single candidate, an empty pool
EDGE_CASES = [
    ([9, 3, 7, 1, 12, 5, 0, 8, 2, 11, 4, 6], [2] * 12, [[1, 1]] * 12, 5),
    ([4, 2, 6], [1, 1, 3], [[1, 0], [0, 1], [1, 1]], 1),
    ([42], [5], [[2, -1, 3]], 0),
    ([], [], [], 0),
]


def _with_examples(fn):
    for case in EDGE_CASES:
        fn = example(pool=case)(fn)
    return fn


@given(pool=pools())
@_with_examples
@settings(max_examples=200, deadline=None)
def test_mmr_greedy_matches_brute_force(pool):
    ids, rels, vecs, split = pool
    got = _run_kernel(ids, rels, vecs, split)
    assert got == _brute_mmr(ids, rels, vecs)
    assert len(got) == min(K_MMR, len(ids))
    if len(set(rels)) == 1 and len(set(map(tuple, vecs))) == 1:
        assert [vec_id for _, vec_id, _ in got] == sorted(ids)[:K_MMR]


def test_mmr_rerank_small_pools_match_oracle(spark, tmp_path):
    """q_mmr_rerank over tiny embeddings tables matches its oracle:
    three candidates (two of them tied) plus a NULL embedding, which
    leaves the pool, give the brute force's three picks; the query
    vector alone, or a NULL query embedding, give an empty frame."""
    q = [0.5, -0.25, 0.125]
    cands = {3: [0.5, 0.0, 0.25], 1: [0.25, -0.5, 0.0], 2: [0.5, 0.0, 0.25]}

    def micro(v):
        return [int(round(x * 1_000_000)) for x in v]

    def run(rows, sub):
        sf_dir = os.path.join(str(tmp_path), sub)
        path = os.path.join(sf_dir, "embeddings.parquet")
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        ).coalesce(1).write.parquet(path)
        query = REGISTRY["q_mmr_rerank"]
        got = query.fn(spark, sf_dir).toPandas()
        con = duckdb.connect()  # the oracle reads the embeddings table only
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
        rep = compare_frames(query.name, got, con.execute(query.oracle).fetchdf())
        con.close()
        assert rep.ok, str(rep)
        assert list(got.columns) == COLS
        return [tuple(r) for r in got.sort_values("rank").itertuples(index=False)]

    others = [(i, v, 0) for i, v in cands.items()] + [(4, None, 0)]
    ids = sorted(cands)
    assert run([(0, q, 0)] + others, "three") == _brute_mmr(
        ids,
        [sum(a * b for a, b in zip(micro(cands[i]), micro(q))) for i in ids],
        [micro(cands[i]) for i in ids],
    )
    assert run([(0, q, 0)], "alone") == []
    assert run([(0, None, 0)] + others, "null_query") == []
