"""HMM map matching: Viterbi behavior + scalar-replay parity."""

import numpy as np
import pandas as pd
import pytest

from xutil_spark.operators.mapmatch import candidate_segments, hmm_map_match

# Two parallel horizontal "roads" ~2.2 km apart at lat 0; a track runs
# along the midline, wobbling so individual points alternate between
# slightly-closer-to-north and slightly-closer-to-south.
_SEGS = pd.DataFrame({
    "seg_id": [1, 2],
    "ax": [0.00, 0.00], "ay": [0.010, -0.010],
    "bx": [0.10, 0.10], "by": [0.010, -0.010],
})
# wobble ±0.001° (~111 m) — greedy nearest flips road every point
_PTS = pd.DataFrame({
    "track_id": [7] * 6,
    "pid": list(range(6)),
    "ts": [1000 + 10 * i for i in range(6)],
    "lon": [0.01 * (i + 1) for i in range(6)],
    "lat": [0.001 if i % 2 == 0 else -0.001 for i in range(6)],
})


def _match(spark, pts, segs, **kw):
    args = dict(radius_m=5_000.0, sigma_m=2_000.0, beta_m=50.0, k=2,
                track="track_id", point_id="pid", ts="ts")
    args.update(kw)
    return hmm_map_match(
        spark.createDataFrame(pts), spark.createDataFrame(segs), **args
    ).toPandas().sort_values("point_id").reset_index(drop=True)


def test_viterbi_does_not_zigzag(spark):
    out = _match(spark, _PTS, _SEGS)
    assert len(out) == 6
    # greedy nearest would alternate 1,2,1,2,... — the HMM must commit
    # to ONE road for the whole track (tiny beta punishes the ~2.2 km
    # cross-road hop that the raw GPS displacement doesn't support)
    assert out["seg_id"].nunique() == 1
    # and the committed road is the first point's nearest (tie-level
    # emissions, transitions dominate)
    assert out["seg_id"].iloc[0] == 1


def test_greedy_baseline_would_zigzag(spark):
    cand = candidate_segments(
        spark.createDataFrame(_PTS), spark.createDataFrame(_SEGS),
        radius_m=5_000.0, k=1, point_id="pid",
    ).toPandas().sort_values("pid")
    assert cand["seg_id"].tolist() == [1, 2, 1, 2, 1, 2]


def test_gap_bridging_drops_uncovered_points(spark):
    pts = _PTS.copy()
    pts.loc[2, "lat"] = 30.0  # point 2 is nowhere near any segment
    out = _match(spark, pts, _SEGS)
    assert sorted(out["point_id"]) == [0, 1, 3, 4, 5]
    assert out["seg_id"].nunique() == 1  # chain bridges the gap


def test_matches_scalar_replay(spark):
    from xutil_spark.entry_queries19 import _scalar_hmm

    out = _match(spark, _PTS, _SEGS, sigma_m=1_000.0, beta_m=500.0, k=2)
    tracks = {7: [(r.ts, r.pid, r.lon, r.lat) for r in _PTS.itertuples()]}
    segs = [(r.seg_id, r.ax, r.ay, r.bx, r.by) for r in _SEGS.itertuples()]
    want = _scalar_hmm(tracks, segs, radius_m=5_000.0, sigma_m=1_000.0,
                       beta_m=500.0, k=2)
    got = [(int(r.track_id), int(r.point_id), int(r.seg_id), r.dist_m,
            r.t, r.snap_lon, r.snap_lat) for r in out.itertuples()]
    assert got == want


def test_candidates_ranked_and_capped(spark):
    cand = candidate_segments(
        spark.createDataFrame(_PTS), spark.createDataFrame(_SEGS),
        radius_m=5_000.0, k=2, point_id="pid",
    ).toPandas()
    per = cand.groupby("pid")
    for pid, g in per:
        g = g.sort_values("rank")
        assert g["rank"].tolist() == list(range(1, len(g) + 1))
        assert g["dist_m"].is_monotonic_increasing
        assert len(g) <= 2


def test_single_point_track(spark):
    pts = _PTS.iloc[:1]
    out = _match(spark, pts, _SEGS)
    assert len(out) == 1 and out["seg_id"].iloc[0] == 1


def test_candidates_np_matches_cells_path(spark):
    """Broadcast-numpy candidates are the cell path's bit-for-bit —
    values, ranks, and row set — on a multi-track point cloud against
    a spread-out segment table (incl. radius drops and degenerate
    zero-length segments)."""
    from xutil_spark.operators.spatial_join import _snap_candidates_np

    segs = pd.DataFrame({
        "seg_id": [1, 2, 3, 4, 5],
        "ax": [0.00, 0.00, 0.05, -0.04, 0.02],
        "ay": [0.010, -0.010, 0.030, 0.000, 0.002],
        "bx": [0.10, 0.10, 0.05, -0.04, 0.02],
        "by": [0.010, -0.010, -0.030, 0.040, 0.002],  # 5 is zero-length
    })
    pts = pd.DataFrame({
        "pid": list(range(40)),
        "lon": [0.004 * i - 0.05 for i in range(40)],
        "lat": [0.002 * ((i * 7) % 11) - 0.01 for i in range(40)],
    })
    a = candidate_segments(
        spark.createDataFrame(pts), spark.createDataFrame(segs),
        radius_m=4_000.0, k=3, point_id="pid").toPandas()
    b = _snap_candidates_np(
        spark.createDataFrame(pts), spark.createDataFrame(segs), segs,
        4_000.0, 3, "pid", "seg_id", "lon", "lat").toPandas()
    cols = ["pid", "rank", "seg_id", "dist_m", "t", "snap_lon", "snap_lat"]
    a = a[cols].sort_values(["pid", "rank"]).reset_index(drop=True)
    b = b[cols].sort_values(["pid", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_candidates_cells_path_exact_near_the_pole(spark):
    """At 82–84.5°N the cell path's ring must still cover the radius:
    its candidates equal the exhaustive numpy scorer's, ranks and
    values included."""
    from xutil_spark.operators.spatial_join import _snap_candidates_np

    rng = np.random.default_rng(84)
    n_pts, n_segs = 3000, 25
    lo, hi = [10.0, 82.0], [40.0, 84.5]
    sa = rng.uniform(lo, hi, (n_segs, 2))
    sb = np.clip(sa + rng.uniform(-3, 3, (n_segs, 2)), lo, hi)
    segs = pd.DataFrame({
        "seg_id": np.arange(n_segs), "ax": sa[:, 0], "ay": sa[:, 1],
        "bx": sb[:, 0], "by": sb[:, 1]})
    pts = pd.DataFrame({
        "pid": np.arange(n_pts),
        "lon": rng.uniform(10.0, 40.0, n_pts),
        "lat": rng.uniform(82.0, 84.5, n_pts)})
    a = candidate_segments(
        spark.createDataFrame(pts), spark.createDataFrame(segs),
        radius_m=30_000.0, k=3, point_id="pid").toPandas()
    b = _snap_candidates_np(
        spark.createDataFrame(pts), spark.createDataFrame(segs), segs,
        30_000.0, 3, "pid", "seg_id", "lon", "lat").toPandas()
    cols = ["pid", "rank", "seg_id", "dist_m", "t", "snap_lon", "snap_lat"]
    a = a[cols].sort_values(["pid", "rank"]).reset_index(drop=True)
    b = b[cols].sort_values(["pid", "rank"]).reset_index(drop=True)
    assert b["pid"].nunique() > 1000  # the shape actually matches
    pd.testing.assert_frame_equal(a, b)


def test_hmm_strategies_agree(spark, monkeypatch):
    from xutil_spark.operators import mapmatch

    out_np = _match(spark, _PTS, _SEGS)
    monkeypatch.setattr(mapmatch, "_HMM_NP_MAX_SEGS", 0)  # the cell path
    out_cells = _match(spark, _PTS, _SEGS)
    pd.testing.assert_frame_equal(out_np, out_cells)


def test_candidate_segments_shuffle_join_path_matches_broadcast(
        spark, monkeypatch):
    """The shuffle join (the route of a network over _BCAST_MAX_SEGS
    segments) must produce the identical candidate set."""
    from xutil_spark.operators import spatial_join as SJ

    segs = pd.DataFrame({
        "seg_id": [1, 2, 3],
        "ax": [0.00, 0.00, 0.05],
        "ay": [0.010, -0.010, 0.030],
        "bx": [0.10, 0.10, 0.05],
        "by": [0.010, -0.010, -0.030],
    })
    pts = pd.DataFrame({
        "pid": list(range(25)),
        "lon": [0.004 * i - 0.03 for i in range(25)],
        "lat": [0.002 * ((i * 5) % 7) - 0.006 for i in range(25)],
    })
    kw = dict(radius_m=4_000.0, k=2, point_id="pid")
    cols = ["pid", "rank", "seg_id", "dist_m", "t", "snap_lon", "snap_lat"]
    a = candidate_segments(
        spark.createDataFrame(pts), spark.createDataFrame(segs),
        **kw).toPandas()
    monkeypatch.setattr(SJ, "_BCAST_MAX_SEGS", 0)
    b = candidate_segments(
        spark.createDataFrame(pts), spark.createDataFrame(segs),
        **kw).toPandas()
    a = a[cols].sort_values(["pid", "rank"]).reset_index(drop=True)
    b = b[cols].sort_values(["pid", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
