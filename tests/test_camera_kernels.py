"""Property tests for the camera cleaning kernels every raster op runs
(operators/raster2d.py): tailcut_masks and connected_components,
each one function for the square grid and the hex cameras, checked
against brute-force replays that find neighbors from pixel
COORDINATES (not from the adjacency tables the kernels read) — a
per-pixel neighbor scan for the tailcut rescue and a BFS flood fill
for the islands — on random small cameras and thresholds.
"""

from __future__ import annotations

from collections import deque

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.operators.raster2d import (
    CC2D_T,
    connected_components,
    tailcut_masks,
)
from data_pipeline_standalone_scripts_spark.registry import REGISTRY
from data_pipeline_standalone_scripts_spark.sources.multimodal import (
    hex_geometry,
    rect_geometry,
)

engine.load_all_operators()

_SETTINGS = dict(max_examples=150, deadline=None)

SQUARE8 = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dx, dy) != (0, 0)]
SQUARE4 = [(1, 0), (-1, 0), (0, 1), (0, -1)]
HEX6 = [(1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]


def _camera(kind: str, a: int, b: int):
    """(tail_nb, conn_nb, coords, key, tail_steps, conn_steps): the
    kernels' tables plus the coordinates the brute force walks."""
    if kind == "square":
        tail_nb, conn_nb, xs, ys, key = rect_geometry(a, b)
        coords = list(zip(xs.tolist(), ys.tolist()))
        return tail_nb, conn_nb, coords, key, SQUARE8, SQUARE4
    pts, nb = hex_geometry(a)
    key = np.array([(r + a) * 4096 + (q + a) for q, r in pts], np.int64)
    return nb, nb, pts, key, HEX6, HEX6


@st.composite
def images(draw):
    """(kind, a, b, values, t1, t2): a 1–9 × 1–9 square grid or a
    ring-0..4 hex camera, pixel values 0..15, thresholds 0..16."""
    kind = draw(st.sampled_from(["square", "hex"]))
    if kind == "square":
        a, b = draw(st.integers(1, 9)), draw(st.integers(1, 9))
        npix = a * b
    else:
        a, b = draw(st.integers(0, 4)), 0
        npix = 3 * a * (a + 1) + 1
    values = draw(st.lists(st.integers(0, 15), min_size=npix, max_size=npix))
    return kind, a, b, values, draw(st.integers(0, 16)), draw(st.integers(0, 16))


def _brute_tailcut(v, coords, steps, hi, lo):
    at = {c: i for i, c in enumerate(coords)}
    core = [x >= hi for x in v]
    rescued = []
    for i, (c1, c2) in enumerate(coords):
        touches = any(
            core[at[(c1 + d1, c2 + d2)]]
            for d1, d2 in steps
            if (c1 + d1, c2 + d2) in at
        )
        rescued.append(v[i] >= lo and not core[i] and touches)
    return core, rescued


def _brute_islands(v, coords, steps, thresh, key):
    at = {c: i for i, c in enumerate(coords)}
    seen, islands = set(), []
    for start in range(len(v)):
        if v[start] < thresh or start in seen:
            continue
        seen.add(start)
        todo, members = deque([start]), []
        while todo:
            i = todo.popleft()
            members.append(i)
            c1, c2 = coords[i]
            for d1, d2 in steps:
                j = at.get((c1 + d1, c2 + d2))
                if j is not None and v[j] >= thresh and j not in seen:
                    seen.add(j)
                    todo.append(j)
        islands.append(
            (len(members), sum(v[i] for i in members), min(key[i] for i in members))
        )
    if not islands:
        return None
    islands.sort(key=lambda s: (-s[1], s[2]))
    return (
        len(islands),
        sum(1 for s in islands if s[0] == 1),
        sum(s[0] for s in islands),
        islands[0][0],
        islands[0][1],
    )


# single pixel, 1×N strips, everything above, nothing above
EDGE_CASES = [
    ("square", 1, 1, [7], 5, 3),
    ("hex", 0, 0, [7], 5, 3),
    ("square", 1, 9, [9, 0, 9, 9, 0, 0, 9, 4, 9], 8, 3),
    ("square", 9, 1, [9, 4, 9, 9, 0, 3, 9, 4, 9], 8, 3),
    ("square", 3, 3, [5] * 9, 0, 0),
    ("hex", 2, 0, [5] * 19, 0, 0),
    ("square", 4, 2, [1] * 8, 9, 9),
    ("hex", 1, 0, [1] * 7, 9, 9),
]


def _with_examples(fn):
    for case in EDGE_CASES:
        fn = example(img=case)(fn)
    return fn


@given(img=images())
@_with_examples
@settings(**_SETTINGS)
def test_tailcut_masks_match_neighbor_scan(img):
    kind, a, b, values, hi, lo = img
    tail_nb, _, coords, _, steps, _ = _camera(kind, a, b)
    v = np.array(values, np.int64)
    core, rescued = tailcut_masks(v, tail_nb, hi, lo)
    want_core, want_rescued = _brute_tailcut(values, coords, steps, hi, lo)
    assert core.tolist() == want_core
    assert rescued.tolist() == want_rescued


@given(img=images())
@_with_examples
@settings(**_SETTINGS)
def test_connected_components_match_flood_fill(img):
    kind, a, b, values, thresh, _ = img
    _, conn_nb, coords, key, _, steps = _camera(kind, a, b)
    v = np.array(values, np.int64)
    got = connected_components(v, conn_nb, thresh, key)
    assert got == _brute_islands(values, coords, steps, thresh, key.tolist())
    if max(values) < thresh:
        assert got is None


def test_images_without_islands_emit_no_row(spark, sf_small):
    """q_connected_2d reports exactly the FITS images with a pixel at
    or above CC2D_T (pixel (x, y) of doc d is (3x + 17y + 11d) mod
    4096 on a (32 + n_chars % 32) × (24 + d % 24) grid)."""
    from data_pipeline_standalone_scripts_spark.tables import load

    docs = load(spark, sf_small, "documents").select("doc_id", "n_chars").collect()
    want = set()
    for d in docs:
        w, h = 32 + d.n_chars % 32, 24 + d.doc_id % 24
        v = (
            3 * np.arange(w)[None, :] + 17 * np.arange(h)[:, None] + 11 * d.doc_id
        ) % 4096
        if v.max() >= CC2D_T:
            want.add(d.doc_id)
    got = {r.media_id for r in REGISTRY["q_connected_2d"].fn(spark, sf_small).collect()}
    assert 0 < len(got) < len(docs)
    assert got == want
