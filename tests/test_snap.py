"""snap_to_segments (map-matching primitive) vs brute force.

The operator's candidate generation (segment supercover × point
neighbor ring) must be EXACT: for every point whose brute-force
nearest in-radius segment exists, the grid join must surface that
same segment with the same clamped-projection distance.
"""

import math

import numpy as np
import pandas as pd
import pytest

from xutil_spark.kernels.tiles import cell_encode, segment_cells

K = 111194.92664455873  # π/180 × 6371000 — must match the operator


def _snap_np(plon, plat, ax, ay, bx, by):
    """Vectorized reference: clamped projection in the local plane at
    the point's latitude.  points (n,), segments (m,) → (n, m)."""
    kx = K * np.cos(np.radians(plat))[:, None]
    axm = (ax[None, :] - plon[:, None]) * kx
    aym = (ay[None, :] - plat[:, None]) * K
    bxm = (bx[None, :] - plon[:, None]) * kx
    bym = (by[None, :] - plat[:, None]) * K
    ux, uy = bxm - axm, bym - aym
    len2 = ux * ux + uy * uy
    with np.errstate(invalid="ignore", divide="ignore"):
        t = np.clip(-(axm * ux + aym * uy) / len2, 0.0, 1.0)
    t = np.where(len2 == 0.0, 0.0, t)
    qx, qy = axm + t * ux, aym + t * uy
    return np.sqrt(qx * qx + qy * qy), t


def test_segment_cells_supercover_property():
    """Dense sampling along the segment never leaves the cover; the
    cover is within a few corner tiles of the sampled set."""
    rng = np.random.default_rng(11)
    for _ in range(200):
        a = rng.uniform([-170, -70], [170, 70])
        b = np.clip(a + rng.uniform(-25, 25, 2), [-179.9, -84], [179.9, 84])
        z = int(rng.integers(3, 14))
        cover = set(segment_cells(a[0], a[1], b[0], b[1], z).tolist())
        t = np.linspace(0, 1, 4001)
        samp = set(np.unique(cell_encode(
            a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1]), z)).tolist())
        assert samp <= cover
        # structural tightness: a monotone staircase enters a new cell
        # only by crossing an x- or y-boundary
        n = 2.0 ** z
        tx = abs((b[0] - a[0]) / 360.0 * n)

        def _my(lat):
            lr = math.radians(lat)
            return (1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr))
                    / math.pi) / 2.0 * n

        ty = abs(_my(b[1]) - _my(a[1]))
        assert len(cover) <= tx + ty + 3


def test_segment_cells_degenerate_point():
    c = segment_cells(10.0, 20.0, 10.0, 20.0, 9)
    assert c.shape == (1,) and c[0] == cell_encode(10.0, 20.0, 9)


@pytest.mark.parametrize("radius,lat_lo,lat_hi,seed", [
    pytest.param(120000.0, 5.0, 55.0, 711, id="120000.0"),
    pytest.param(65000.0, 5.0, 55.0, 910, id="65000.0"),
    # the zoom and ring must follow the segments' latitude
    pytest.param(30000.0, 80.0, 84.5, 107, id="30000.0-polar"),
])
def test_snap_matches_brute_force(spark, monkeypatch, radius, lat_lo,
                                  lat_hi, seed):
    from xutil_spark.operators import spatial_join as SJ

    monkeypatch.setattr(SJ, "_SNAP_NP_MAX_SEGS", 0)  # the cell cascade

    rng = np.random.default_rng(seed)
    n_pts, n_segs = 600, 40
    lo, hi = [60, lat_lo], [120, lat_hi]
    plon = rng.uniform(60, 120, n_pts)
    plat = rng.uniform(lat_lo, lat_hi, n_pts)
    sa = rng.uniform(lo, hi, (n_segs, 2))
    sb = np.clip(sa + rng.uniform(-8, 8, (n_segs, 2)), lo, hi)

    pts = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(n_pts), "lon": plon, "lat": plat}))
    segs = spark.createDataFrame(pd.DataFrame(
        {"seg_id": np.arange(n_segs), "ax": sa[:, 0], "ay": sa[:, 1],
         "bx": sb[:, 0], "by": sb[:, 1]}))

    got = {r["pid"]: r for r in SJ.snap_to_segments(
        pts, segs, radius_m=radius).collect()}

    dist, t = _snap_np(plon, plat, sa[:, 0], sa[:, 1], sb[:, 0], sb[:, 1])
    matched = 0
    for i in range(n_pts):
        order = sorted(range(n_segs), key=lambda j: (round(dist[i, j], 3), j))
        j = order[0]
        if dist[i, j] > radius:
            assert i not in got, f"point {i} matched beyond radius"
            continue
        matched += 1
        r = got.get(i)
        assert r is not None, f"point {i} missing (grid dropped true nearest)"
        assert r["seg_id"] == j, (i, r["seg_id"], j)
        assert r["dist_m"] == pytest.approx(round(dist[i, j], 3), abs=1e-9)
        assert r["t"] == pytest.approx(t[i, j], abs=1e-6)
    # the property must actually exercise both arms
    assert matched >= 30 and matched <= n_pts - 50
    assert len(got) == matched


def test_snap_escalation_agrees_with_single_pass(spark, monkeypatch):
    """The fine passes (z14 down, an unbounded budget — guarantee
    ~1.2 km·cosφ at z14, so plenty of points straggle to the coarse
    branch) must emit exactly the single-pass rows (a zero budget): the
    escalation is a pure execution strategy, invisible in the
    results."""
    from xutil_spark.operators import spatial_join as SJ

    monkeypatch.setattr(SJ, "_SNAP_NP_MAX_SEGS", 0)  # the cell cascade

    rng = np.random.default_rng(404)
    n_pts, n_segs = 500, 30
    plon = rng.uniform(60, 120, n_pts)
    plat = rng.uniform(5, 55, n_pts)
    sa = rng.uniform([60, 5], [120, 55], (n_segs, 2))
    sb = np.clip(sa + rng.uniform(-8, 8, (n_segs, 2)), [60, 5], [120, 55])
    pts = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(n_pts), "lon": plon, "lat": plat}))
    segs = spark.createDataFrame(pd.DataFrame(
        {"seg_id": np.arange(n_segs), "ax": sa[:, 0], "ay": sa[:, 1],
         "bx": sb[:, 0], "by": sb[:, 1]}))

    monkeypatch.setattr(SJ, "_SNAP_FINE_BUDGET_ROWS", 0)
    single = {r["pid"]: r for r in SJ.snap_to_segments(
        pts, segs, radius_m=65000.0).collect()}
    monkeypatch.setattr(SJ, "_SNAP_FINE_BUDGET_ROWS", 10 ** 9)
    esc = {r["pid"]: r for r in SJ.snap_to_segments(
        pts, segs, radius_m=65000.0).collect()}
    assert set(esc) == set(single)
    for pid, r in esc.items():
        s = single[pid]
        assert (r["seg_id"], r["dist_m"], r["t"]) == \
            (s["seg_id"], s["dist_m"], s["t"]), pid
    # sparse roads at z14: the coarse straggler branch must be live
    dist, _ = _snap_np(plon, plat, sa[:, 0], sa[:, 1], sb[:, 0], sb[:, 1])
    assert (dist.min(axis=1) > 2400.0).sum() > 50


def test_pick_snap_fine_zoom_budget(spark, monkeypatch):
    from xutil_spark.operators import spatial_join as SJ

    segs = spark.createDataFrame(pd.DataFrame({
        "seg_id": [0, 1], "ax": [0.0, 10.0], "ay": [0.0, 10.0],
        "bx": [9.0, 19.0], "by": [0.0, 10.0],
    }))
    # Σ(|Δlon|+|Δlat|) = 18 + 2 segments → rows(z) ≈ 18·2^z/360 + 2
    monkeypatch.setattr(SJ, "_SNAP_FINE_BUDGET_ROWS", 10 ** 9)
    assert SJ.pick_snap_fine_zoom(segs, 8) == 14
    # budget 100 → need 18·2^z/360 + 2 ≤ 100 → 2^z ≤ 1960 → z = 10
    monkeypatch.setattr(SJ, "_SNAP_FINE_BUDGET_ROWS", 100)
    assert SJ.pick_snap_fine_zoom(segs, 8) == 10
    # nothing finer than coarse fits → coarse (caller disables escalation)
    monkeypatch.setattr(SJ, "_SNAP_FINE_BUDGET_ROWS", 1)
    assert SJ.pick_snap_fine_zoom(segs, 8) == 8


def test_snap_tie_break_is_deterministic(spark, monkeypatch):
    """Two segments at the exact same rounded distance → smaller seg_id
    wins (mirrors the oracle's ORDER BY dist, seg_id) on both paths."""
    from xutil_spark.operators import spatial_join as SJ

    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [0], "lon": [10.0], "lat": [20.0]}))
    # two vertical segments symmetric about the point
    segs = spark.createDataFrame(pd.DataFrame({
        "seg_id": [7, 3],
        "ax": [10.2, 9.8], "ay": [19.0, 19.0],
        "bx": [10.2, 9.8], "by": [21.0, 21.0],
    }))
    for gate in (0, SJ._SNAP_NP_MAX_SEGS):  # the cell cascade, numpy
        monkeypatch.setattr(SJ, "_SNAP_NP_MAX_SEGS", gate)
        out = SJ.snap_to_segments(pts, segs, radius_m=80000.0).collect()
        assert len(out) == 1 and out[0]["seg_id"] == 3, gate
        assert out[0]["t"] == pytest.approx(0.5, abs=1e-6), gate


def test_snap_np_equals_cascade(spark, monkeypatch):
    """The broadcast-numpy brute path (the pick for a dim-scale
    network) must emit row-for-row what the cascade emits — same
    winners, same rounded distances/positions — including
    inner-radius drops."""
    from xutil_spark.operators import spatial_join as SJ

    rng = np.random.default_rng(2024)
    n_pts, n_segs = 700, 35
    plon = rng.uniform(60, 120, n_pts)
    plat = rng.uniform(5, 55, n_pts)
    sa = rng.uniform([60, 5], [120, 55], (n_segs, 2))
    sb = np.clip(sa + rng.uniform(-8, 8, (n_segs, 2)), [60, 5], [120, 55])
    pts = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(n_pts), "lon": plon, "lat": plat}))
    segs = spark.createDataFrame(pd.DataFrame(
        {"seg_id": np.arange(n_segs), "ax": sa[:, 0], "ay": sa[:, 1],
         "bx": sb[:, 0], "by": sb[:, 1]}))

    kw = dict(radius_m=65000.0)
    with monkeypatch.context() as m:
        m.setattr(SJ, "_SNAP_NP_MAX_SEGS", 0)  # the cell cascade
        casc = {r["pid"]: r for r in SJ.snap_to_segments(
            pts, segs, **kw).collect()}
    # a 35-row dim routes to the np path
    fast = {r["pid"]: r for r in SJ.snap_to_segments(
        pts, segs, **kw).collect()}
    assert set(fast) == set(casc)
    assert 30 <= len(fast) < n_pts  # both arms (matched + dropped) live
    for pid, r in fast.items():
        s = casc[pid]
        assert (r["seg_id"], r["dist_m"], r["t"],
                r["snap_lon"], r["snap_lat"]) == \
            (s["seg_id"], s["dist_m"], s["t"],
             s["snap_lon"], s["snap_lat"]), pid
