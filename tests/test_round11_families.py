"""Invariant tests for the round-11 additions — the hexagonal
camera-geometry family (X68 tailcut, X70 island keep, X71 Hillas,
X72 the fused pipeline; VERDICT r10 #3), the k·MAD noise-model
à-trous cleaner (X69, VERDICT r10 #4) and its MT9 ranking extension —
structural and semantic properties parity alone doesn't state
(SURVEY.md §5.2).
"""

import numpy as np
import pytest

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.registry import REGISTRY
from data_pipeline_standalone_scripts_spark.operators.raster2d import (
    ATROUS2D_LEVELS,
    ATROUS_KSIGMA_K,
    TAIL2D_HI,
    TAIL2D_LO,
    _b3_smooth2d,
)
from data_pipeline_standalone_scripts_spark.sources.multimodal import (
    HEXCAM_MAGIC,
    hex_geometry,
    hex_geometry_tables,
    hexcam_parse,
    rect_geometry,
)

engine.load_all_operators()

SF = "/root/testdata/sf0.001"


# --- hex geometry (X68) ------------------------------------------------------


@pytest.mark.parametrize("R", [1, 3, 10, 15])
def test_hex_geometry_invariants(R):
    """Ring-R axial camera: 3R(R+1)+1 pixels; adjacency is symmetric;
    interior pixels have exactly 6 neighbors; corner pixels 3."""
    pts, nb = hex_geometry(R)
    npix = 3 * R * (R + 1) + 1
    assert len(pts) == npix and nb.shape == (npix, 6)
    assert len(set(pts)) == npix
    for q, r in pts:
        assert abs(q) <= R and abs(r) <= R and abs(q + r) <= R
    # symmetry: j in nb[i] <=> i in nb[j]
    for i in range(npix):
        for j in nb[i]:
            if j >= 0:
                assert i in nb[j]
    degs = (nb >= 0).sum(axis=1)
    index = {p: i for i, p in enumerate(pts)}
    assert degs[index[(0, 0)]] == 6  # center is interior
    assert degs[index[(R, 0)]] == 3  # the six camera corners have 3
    assert degs.min() == 3 and degs.max() == 6
    # boundary (ring R) pixels have <6, interior have exactly 6
    for (q, r), d in zip(pts, degs):
        ring = max(abs(q), abs(r), abs(q + r))
        assert (d == 6) == (ring < R)


def test_hexcam_payload_roundtrip(spark, sf_small):
    from data_pipeline_standalone_scripts_spark.sources.multimodal import (
        hexcam_table,
    )

    rows = hexcam_table(spark, sf_small).orderBy("media_id").limit(4).collect()
    for row in rows:
        p = bytes(row.payload)
        assert p[:4] == HEXCAM_MAGIC
        R, v = hexcam_parse(p)
        assert R == 10 + row.media_id % 6
        pts, _ = hex_geometry(R)
        assert len(v) == len(pts)
        qr = np.array(pts)
        # literal 101/211 on purpose: an INDEPENDENT pin of HEX_MQ/HEX_MR
        # (sources/multimodal.py) — a constant change must consciously
        # touch this test, because the four hex oracles depend on it
        expect = (
            101 * (qr[:, 0] + R) + 211 * (qr[:, 1] + R) + 11 * int(row.media_id)
        ) % 4096
        assert np.array_equal(v, expect)


def _brute_rect_table(w, h, steps):
    """(w*h, len(steps)) neighbor table of a row-major w×h grid by
    explicit loops, -1 off the grid."""
    nb = np.full((w * h, len(steps)), -1, np.int32)
    for k, (dy, dx) in enumerate(steps):
        for y in range(h):
            for x in range(w):
                yy, xx = y + dy, x + dx
                if 0 <= yy < h and 0 <= xx < w:
                    nb[y * w + x, k] = yy * w + xx
    return nb


def _same_neighbors(got, want):
    """Equal neighbor SETS per pixel (column order is free)."""
    return got.shape == want.shape and np.array_equal(
        np.sort(got, axis=1), np.sort(want, axis=1)
    )


# the FITS rasters of docs (5, 17), (42, 3), (123, 30), plus strips
RECT_SIZES = [(49, 29), (35, 42), (62, 27), (1, 1), (1, 7), (7, 1), (2, 2)]


def test_rect_geometry_tailcut_table_matches_brute_force():
    """The square grid's tailcut table is the 8-neighborhood X58's
    rule names, and its coordinates and tie-break key are row-major
    (pixel y*w + x, key y*64 + x — the oracles' first_px)."""
    steps8 = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dy, dx) != (0, 0)]
    for w, h in RECT_SIZES:
        tail_nb, _, xs, ys, key = rect_geometry(w, h)
        assert _same_neighbors(tail_nb, _brute_rect_table(w, h, steps8)), (w, h)
        assert np.array_equal(ys * w + xs, np.arange(w * h)), (w, h)
        assert np.array_equal(key, ys * 64 + xs), (w, h)
        assert not tail_nb.flags.writeable and not key.flags.writeable


def test_rect_geometry_connectivity_table_matches_brute_force():
    """The square grid's island table is the 4-neighborhood X59's
    labelling joins over."""
    steps4 = [(1, 0), (-1, 0), (0, 1), (0, -1)]
    for w, h in RECT_SIZES:
        _, conn_nb, _, _, _ = rect_geometry(w, h)
        assert _same_neighbors(conn_nb, _brute_rect_table(w, h, steps4)), (w, h)


def test_hex_geometry_tables_wrap_hex_geometry():
    """Each hex camera's geometry is hex_geometry's 6-neighbor table
    for both rules, its axial coordinates and the (r, q) key."""
    for R, (tail_nb, conn_nb, qs, rs, key) in hex_geometry_tables().items():
        pts, nb = hex_geometry(R)
        assert np.array_equal(tail_nb, nb) and np.array_equal(conn_nb, nb)
        assert list(zip(qs.tolist(), rs.tolist())) == pts
        assert np.array_equal(key, (rs + R) * 4096 + (qs + R))


def test_tailcut_hex_fixture_not_degenerate(spark, sf_small):
    """Every camera must wrap the 4096 modulus (the HEX_MQ/HEX_MR
    sizing note): core pixels AND sub-threshold pixels exist in every
    image, so both thresholds and the rescue rule are exercised."""
    rows = REGISTRY["q_tailcut_hex"].fn(spark, sf_small).collect()
    assert len(rows) == 500
    for r in rows:
        R = 10 + r.media_id % 6
        assert r.n_pix == 3 * R * (R + 1) + 1
        assert 0 < r.n_core < r.n_pix
        assert r.n_kept == r.n_core + r.n_rescued
        assert r.kept_mean == pytest.approx(r.kept_sum / r.n_kept, abs=1e-6)
    assert sum(r.n_rescued for r in rows) > 0


def test_connected_hex_sanity(spark, sf_small):
    rows = REGISTRY["q_connected_hex"].fn(spark, sf_small).collect()
    assert len(rows) > 400  # nearly every camera has pixels >= CC2D_T
    for r in rows[:50]:
        R = 10 + r.media_id % 6
        npix = 3 * R * (R + 1) + 1
        assert 0 < r.n_above <= npix
        assert 1 <= r.kept_size <= r.n_above
        assert r.n_isolated <= r.n_islands
        assert r.kept_sum >= r.kept_size * 3584  # every member >= threshold


def test_hillas_hex_matches_naive_cartesian(spark, sf_small):
    """X71's axial-moment + change-of-basis path must equal a naive
    replay that places every kept pixel at its CARTESIAN camera
    position first and loops scalar moments — a different computation
    order (per-pixel floats vs integer sums then one linear map)."""
    import math

    got = {
        r.media_id: r
        for r in REGISTRY["q_hillas_hex"].fn(spark, sf_small).collect()
    }
    assert len(got) > 400
    checked = 0
    for mid in sorted(got):
        if checked >= 5:
            break
        R = 10 + mid % 6
        pts, nb = hex_geometry(R)
        qr = np.array(pts)
        v = (101 * (qr[:, 0] + R) + 211 * (qr[:, 1] + R) + 11 * mid) % 4096
        core = v >= TAIL2D_HI
        nbc = np.zeros(len(v), bool)
        for k in range(6):
            idx = nb[:, k]
            val = idx >= 0
            nbc[val] |= core[idx[val]]
        kept = core | ((v >= TAIL2D_LO) & ~core & nbc)
        xs = qr[:, 0] + qr[:, 1] / 2.0
        ys = (math.sqrt(3) / 2) * qr[:, 1]
        w = np.where(kept, v, 0).astype(float)
        s0 = w.sum()
        cx, cy = (xs * w).sum() / s0, (ys * w).sum() / s0
        vxx = (xs * xs * w).sum() / s0 - cx * cx
        vyy = (ys * ys * w).sum() / s0 - cy * cy
        vxy = (xs * ys * w).sum() / s0 - cx * cy
        d = math.sqrt((vxx - vyy) ** 2 + 4 * vxy * vxy)
        r_ = got[mid]
        assert r_.n_kept == int(kept.sum()) and r_.size == int(w.sum())
        assert r_.cog_x == pytest.approx(cx, abs=1e-6)
        assert r_.cog_y == pytest.approx(cy, abs=1e-6)
        assert r_.length == pytest.approx(
            math.sqrt((vxx + vyy + d) / 2), abs=1e-6
        )
        assert r_.width == pytest.approx(
            math.sqrt(max((vxx + vyy - d) / 2, 0.0)), abs=1e-6
        )
        assert r_.psi == pytest.approx(
            math.atan2(2 * vxy, vxx - vyy) / 2, abs=1e-6
        )
        checked += 1
    assert checked == 5


def test_pipeline_hex_consistent_with_stages(spark, sf_small):
    """X72 fuses the hex chain; its per-stage fields must equal the
    standalone stage ops exactly — clean counts from X68, the full
    ellipse from X71 — and its score_json must parse back to its own
    integer fields (the X63 stage-consistency contract on hex)."""
    import json as _json

    fused = {
        r.media_id: r
        for r in REGISTRY["q_pipeline_hex"].fn(spark, sf_small).collect()
    }
    tail = {
        r.media_id: r
        for r in REGISTRY["q_tailcut_hex"].fn(spark, sf_small).collect()
    }
    hill = {
        r.media_id: r
        for r in REGISTRY["q_hillas_hex"].fn(spark, sf_small).collect()
    }
    assert set(fused) == set(hill)  # same <3-kept drop rule
    assert len(fused) > 400
    for mid, f in fused.items():
        t = tail[mid]
        assert (f.n_core, f.n_rescued, f.n_kept) == (
            t.n_core, t.n_rescued, t.n_kept
        )
        hx = hill[mid]
        assert (f.size, f.cog_x, f.cog_y, f.length, f.width, f.psi) == (
            hx.size, hx.cog_x, hx.cog_y, hx.length, hx.width, hx.psi
        )
        doc = _json.loads(f.score_json)
        assert doc["media_id"] == mid and doc["n_kept"] == f.n_kept
        assert doc["size"] == f.size
        assert 0 <= doc["energy_ppm"] <= 1_000_000


# --- k·MAD noise-model à-trous (X69) ----------------------------------------


def _raster(doc_id: int, n_chars: int) -> np.ndarray:
    w = 32 + n_chars % 32
    h = 24 + doc_id % 24
    return (
        3 * np.arange(w, dtype=np.int64)[None, :]
        + 17 * np.arange(h, dtype=np.int64)[:, None]
        + 11 * doc_id
    ).astype(np.float64) % 4096


def _naive_ksigma(v: np.ndarray):
    """Independent replay of X69: levels, bands, per-scale k·MAD
    threshold, reconstruction — different code path (no helper
    reuse beyond the smoother)."""
    levels = [v]
    c = v
    for j in range(ATROUS2D_LEVELS):
        c = _b3_smooth2d(c, 1 << j)
        levels.append(c)
    r = levels[-1]
    mads, n_zeroed = [], 0
    for j in range(ATROUS2D_LEVELS):
        w = levels[j] - levels[j + 1]
        mad = float(np.median(np.abs(w)))
        mads.append(mad)
        mask = np.abs(w) < ATROUS_KSIGMA_K * mad
        n_zeroed += int(mask.sum())
        r = r + np.where(mask, 0.0, w)
    return mads, n_zeroed, r


def test_atrous_ksigma_matches_naive_replay(spark, sf_small):
    from data_pipeline_standalone_scripts_spark.tables import load

    nchars = {
        r.doc_id: r.n_chars
        for r in load(spark, sf_small, "documents")
        .select("doc_id", "n_chars")
        .limit(2000)
        .collect()
    }
    got = {
        r.media_id: r
        for r in REGISTRY["q_atrous_ksigma"].fn(spark, sf_small).collect()
    }
    checked = 0
    for mid in sorted(got):
        if checked >= 5:
            break
        v = _raster(mid, nchars[mid])
        mads, n_zeroed, r = _naive_ksigma(v)
        row = got[mid]
        assert [row.mad1, row.mad2, row.mad3] == mads
        assert row.n_zeroed == n_zeroed
        assert row.n_pixels == v.size
        assert row.energy_in == int((v.astype(np.int64) ** 2).sum())
        eout = int(np.floor(r * r * 1e6 + 0.5).astype(np.int64).sum())
        assert row.energy_out == eout / 1e6
        checked += 1
    assert checked == 5


def test_atrous_ksigma_mads_are_dyadic(spark, sf_small):
    """The exactness contract: every MAD is a dyadic rational with
    denominator dividing 2^25 (median of |w_j| values whose
    denominators divide 2^24, possibly averaged over two) — the
    reason the threshold decisions are bit-identical cross-engine."""
    rows = REGISTRY["q_atrous_ksigma"].fn(spark, sf_small).limit(50).collect()
    assert rows
    for r in rows:
        for m in (r.mad1, r.mad2, r.mad3):
            scaled = m * (1 << 25)
            assert scaled == int(scaled), m


def test_atrous_ksigma_adapts_per_scale(spark, sf_small):
    """The noise model must actually differ from the fixed threshold:
    on this corpus the per-scale MADs vary across images and scales,
    and the zeroed counts differ from X60's fixed-8.0 run for at
    least some images (if they never differed, the 'noise model'
    would be the constant in disguise)."""
    ks = {
        r.media_id: r
        for r in REGISTRY["q_atrous_ksigma"].fn(spark, sf_small).collect()
    }
    fixed = {
        r.media_id: r for r in REGISTRY["q_atrous_2d"].fn(spark, sf_small).collect()
    }
    assert set(ks) == set(fixed)
    mads = {(round(r.mad1, 6), round(r.mad2, 6), round(r.mad3, 6))
            for r in ks.values()}
    assert len(mads) > 10  # data-adaptive, not a constant
    assert any(
        ks[m].n_zeroed != fixed[m].n_zeroed for m in ks
    )


def test_cleaner_assess_ranks_three(spark, sf_small):
    rows = {r.cleaner: r for r in REGISTRY["q_cleaner_assess"].fn(spark, sf_small).collect()}
    assert set(rows) == {"atrous", "atrous_ksigma", "haar"}
    by_rank = sorted(rows.values(), key=lambda r: r.rnk)
    assert [r.rnk for r in by_rank] == [1, 2, 3]
    # rank follows (mean_mse, cleaner-name) order
    keys = [(r.mean_mse, r.cleaner) for r in by_rank]
    assert keys == sorted(keys)
