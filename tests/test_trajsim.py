"""Trajectory-similarity (Hausdorff) join, bigram LM scores and color
entropy — engine vs independent scalar replays."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from xutil_spark.operators.spatial_join import _pick_ring_zoom
from xutil_spark.operators.trajsim import (
    hausdorff_join,
    scalar_hausdorff,
)


def _tracks_df(spark, tracks):
    rows = [
        Row(user_id=t, lon=float(lo), lat=float(la))
        for t, pts in tracks.items()
        for lo, la in pts
    ]
    return spark.createDataFrame(rows)


def test_hausdorff_identical_tracks_zero(spark):
    pts = [(10.0, 20.0), (11.0, 21.0), (12.0, 19.5)]
    df = _tracks_df(spark, {1: pts, 2: pts})
    out = hausdorff_join(df, tau_m=1000.0, track="user_id").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.track_a, r.track_b) == (1, 2)
    assert r.h_ab_m == 0.0 and r.h_ba_m == 0.0 and r.hausdorff_m == 0.0


def test_hausdorff_matches_scalar_replay(spark):
    # deterministic pseudo-random tracks over a ~200 km box
    tracks = {}
    for t in range(6):
        pts = []
        for i in range(12):
            h = (t * 1000003 + i * 2654435761) % 1048576
            pts.append((100.0 + h / 1048576.0 * 2.0,
                        30.0 + (h * 7 % 1048576) / 1048576.0 * 1.5))
        tracks[t] = pts
    tau = 120_000.0
    df = _tracks_df(spark, tracks)
    got = {
        (r.track_a, r.track_b): (r.h_ab_m, r.h_ba_m, r.hausdorff_m)
        for r in hausdorff_join(df, tau_m=tau, track="user_id").collect()
    }
    want = {}
    ids = sorted(tracks)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h_ab, h_ba, h = scalar_hausdorff(tracks[a], tracks[b])
            if h <= tau:
                want[(a, b)] = (h_ab, h_ba, h)
    assert got == want  # bit-exact: min/max-only kernel


def test_hausdorff_pair_across_cell_boundary(spark):
    # two single-point tracks ~1.1 km apart straddling a z15 cell edge;
    # the derived fine zoom with ring-1 coverage must still pair them
    a, b = (99.9999, 40.0), (100.0001, 40.013)
    df = _tracks_df(spark, {7: [a], 8: [b]})
    out = hausdorff_join(df, tau_m=2000.0, track="user_id").collect()
    assert len(out) == 1
    _, _, h = scalar_hausdorff([a], [b])
    assert out[0].hausdorff_m == h


def test_hausdorff_polar_matches_scalar_replay(spark):
    """400 tracks at 83–85°N, τ = 20 km: the cell block is sized from
    the points' own latitude, so no pair within τ is lost."""
    import numpy as np

    rng = np.random.default_rng(85)
    tracks = {}
    for t in range(400):
        n = 1 + t % 3
        c = rng.uniform([10.0, 83.0], [32.0, 85.0])
        pts = c + rng.normal(0.0, [0.05, 0.01], (n, 2))
        tracks[t] = [(float(lo), float(la)) for lo, la in pts]
    tau = 20_000.0
    got = {
        (r.track_a, r.track_b): (r.h_ab_m, r.h_ba_m, r.hausdorff_m)
        for r in hausdorff_join(_tracks_df(spark, tracks), tau_m=tau,
                                track="user_id").collect()
    }
    want = {}
    for a in range(400):
        for b in range(a + 1, 400):
            h_ab, h_ba, h = scalar_hausdorff(tracks[a], tracks[b])
            if h <= tau:
                want[(a, b)] = (h_ab, h_ba, h)
    assert len(want) > 300  # the shape actually pairs tracks
    assert got == want


def test_hausdorff_tau_filters(spark):
    df = _tracks_df(spark, {1: [(10.0, 20.0)], 2: [(10.0, 20.5)]})
    far = hausdorff_join(df, tau_m=10_000.0, track="user_id").collect()
    assert far == []  # ~55.6 km apart
    near = hausdorff_join(df, tau_m=60_000.0, track="user_id").collect()
    assert len(near) == 1


def test_pick_hausdorff_zoom_monotone():
    z_small = _pick_ring_zoom(500.0, 1, 60.0)
    z_large = _pick_ring_zoom(500_000.0, 1, 60.0)
    assert z_small > z_large
    from xutil_spark.operators.spatial_join import _ring_guarantee_m
    assert _ring_guarantee_m(z_small, 1) >= 500.0
    assert _ring_guarantee_m(z_small + 1, 1) < 500.0


# ------------------------------------------------------- bigram LM


def test_bigram_lm_scores_hand_computed(spark):
    from xutil_spark.operators.textops import bigram_lm_scores

    docs = spark.createDataFrame([
        Row(doc_id=0, text="a b a b"),
        Row(doc_id=1, text="a b c"),
        Row(doc_id=2, text="x"),  # single token: no bigrams, drops out
    ])
    out = {r.doc_id: (r.n_bigrams, r.avg_ll)
           for r in bigram_lm_scores(docs).collect()}
    # corpus: tokens a=3 b=3 c=1 x=1, V=4
    # bigrams: (a,b)=3, (b,a)=1, (b,c)=1
    from decimal import ROUND_HALF_UP, Decimal

    def lp(c12, c1):
        # Spark ROUND(double) is HALF_UP on the shortest decimal repr
        return int(Decimal(repr(math.log((c12 + 1) / (c1 + 4)) * 1e6))
                   .quantize(Decimal("1"), ROUND_HALF_UP))

    def avg(s, n):
        return float((Decimal(s) / Decimal(n) / Decimal(1000000))
                     .quantize(Decimal("1e-6"), ROUND_HALF_UP))

    ab, ba, bc = lp(3, 3), lp(1, 3), lp(1, 3)
    assert out == {0: (3, avg(2 * ab + ba, 3)), 1: (2, avg(ab + bc, 2))}
    assert 2 not in out


# ---------------------------------------------------- color entropy


def test_color_entropy_matches_scalar(spark):
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.patches import color_entropy

    out = {r.image_id: (r.n_bins, r.n_px, r.entropy_bits)
           for r in color_entropy(images_table(spark, 12), 4).collect()}
    w_cyc, h_cyc = (16, 32, 64), (16, 24, 48)
    B = 4
    for i in range(12):
        w, h = w_cyc[i % 3], h_cyc[i % 3]
        hist: dict = {}
        for y in range(h):
            gb = (y * 255 // (h - 1)) * B // 256
            for x in range(w):
                rb = (x * 255 // (w - 1)) * B // 256
                bb = (((x * 31 + y * 17 + i) % 256) * B) // 256
                k = rb * B * B + gb * B + bb
                hist[k] = hist.get(k, 0) + 1
        n = w * h
        s = 0.0
        for k in sorted(hist):
            s += hist[k] * math.log2(hist[k])
        want = round(math.log2(n) - s / n, 9)
        assert out[f"img{i:012d}"] == (len(hist), n, want)


def test_color_entropy_bounds(spark):
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.patches import color_entropy

    for r in color_entropy(images_table(spark, 6), 4).collect():
        assert 0.0 <= r.entropy_bits <= 6.0  # log2(64) bins max


def test_color_entropy_rejects_bad_bins(spark):
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.patches import color_entropy

    with pytest.raises(ValueError):
        color_entropy(images_table(spark, 1), 3)


# ---------------------------------------------------------- Fréchet


def _seq_df(spark, tracks):
    rows = [
        Row(user_id=t, ts=i, lon=float(lo), lat=float(la))
        for t, pts in tracks.items()
        for i, (lo, la) in enumerate(pts)
    ]
    return spark.createDataFrame(rows)


def test_frechet_matches_scalar_replay(spark):
    from xutil_spark.operators.trajsim import frechet_join, scalar_frechet

    tracks = {}
    for t in range(5):
        pts = []
        for i in range(10):
            h = (t * 9176 + i * 2654435761) % 1048576
            pts.append((100.0 + h / 1048576.0 * 2.0,
                        30.0 + (h * 13 % 1048576) / 1048576.0 * 1.5))
        tracks[t] = pts
    tau = 200_000.0
    got = {
        (r.track_a, r.track_b): r.frechet_m
        for r in frechet_join(_seq_df(spark, tracks), tau_m=tau,
                              track="user_id", ts="ts").collect()
    }
    ids = sorted(tracks)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            f = scalar_frechet(tracks[a], tracks[b])
            if f <= tau:
                want[(a, b)] = f
    assert want and got == want


def test_frechet_order_sensitive_hausdorff_is_not(spark):
    from xutil_spark.operators.trajsim import (
        frechet_join,
        hausdorff_join,
        scalar_frechet,
    )

    # same road, opposite directions: Hausdorff 0, Fréchet = road length
    road = [(100.0 + 0.01 * i, 30.0) for i in range(8)]
    tracks = {1: road, 2: road[::-1]}
    df = _seq_df(spark, tracks)
    h = hausdorff_join(df, tau_m=100_000.0, track="user_id").collect()
    assert len(h) == 1 and h[0].hausdorff_m == 0.0
    f = frechet_join(df, tau_m=100_000.0, track="user_id", ts="ts").collect()
    assert len(f) == 1
    assert f[0].frechet_m == scalar_frechet(road, road[::-1])
    assert f[0].frechet_m > 6000.0  # ~7 km of road


def test_frechet_planetary_tau_all_pairs_fallback(spark):
    from xutil_spark.operators.trajsim import frechet_join, scalar_frechet

    # tau forces zoom <= 1 -> the all-pairs candidate fallback
    tracks = {1: [(0.0, 0.0), (10.0, 0.0)],
              2: [(170.0, 0.0), (-170.0, 0.0)]}
    out = frechet_join(_seq_df(spark, tracks), tau_m=4.0e6,
                       track="user_id", ts="ts").collect()
    want = scalar_frechet(tracks[1], tracks[2])
    if want <= 4.0e6:
        assert len(out) == 1 and out[0].frechet_m == want
    else:
        assert out == []


# ------------------------------------------------- co-route clusters


def test_co_route_clusters_hausdorff(spark):
    from xutil_spark.operators.trajsim import co_route_clusters

    base = [(100.0 + 0.01 * i, 30.0) for i in range(6)]
    shift = [(lo, la + 0.001) for lo, la in base]      # ~111 m away
    far = [(110.0 + 0.01 * i, 40.0) for i in range(6)]
    tracks = {1: base, 2: shift, 3: base[::-1], 4: far}
    df = _seq_df(spark, tracks)
    out = {r.id: r.cluster_id
           for r in co_route_clusters(df, tau_m=1000.0,
                                      track="user_id").collect()}
    # Hausdorff ignores direction: 1, 2, 3 cluster; 4 is a singleton
    assert out == {1: 1, 2: 1, 3: 1, 4: 4}


def test_co_route_clusters_frechet_direction_matters(spark):
    from xutil_spark.operators.trajsim import co_route_clusters

    base = [(100.0 + 0.01 * i, 30.0) for i in range(6)]
    shift = [(lo, la + 0.001) for lo, la in base]
    tracks = {1: base, 2: shift, 3: base[::-1]}
    df = _seq_df(spark, tracks)
    out = {r.id: r.cluster_id
           for r in co_route_clusters(df, tau_m=1000.0, metric="frechet",
                                      track="user_id", ts="ts").collect()}
    # same direction clusters; the reversed track does not
    assert out == {1: 1, 2: 1, 3: 3}


def test_co_route_clusters_bad_metric(spark):
    import pytest as _pt

    from xutil_spark.operators.trajsim import co_route_clusters

    with _pt.raises(ValueError):
        co_route_clusters(_seq_df(spark, {1: [(0.0, 0.0)]}), 10.0,
                          metric="dtw")


# --------------------------------------------------------------- DTW


def test_dtw_matches_scalar_replay(spark):
    from xutil_spark.operators.trajsim import dtw_join, scalar_dtw

    tracks = {}
    for t in range(5):
        pts = []
        for i in range(9):
            h = (t * 33757 + i * 2654435761) % 1048576
            pts.append((100.0 + h / 1048576.0 * 1.0,
                        30.0 + (h * 11 % 1048576) / 1048576.0 * 0.8))
        tracks[t] = pts
    tau = 60_000.0
    got = {
        (r.track_a, r.track_b): (r.dtw_mm_total, r.dtw_norm_m)
        for r in dtw_join(_seq_df(spark, tracks), tau_norm_m=tau,
                          track="user_id", ts="ts").collect()
    }
    ids = sorted(tracks)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            total, norm = scalar_dtw(tracks[a], tracks[b])
            if norm <= tau:
                want[(a, b)] = (total, norm)
    assert want and got == want


def test_dtw_tolerates_pace_frechet_style_warping(spark):
    from xutil_spark.operators.trajsim import dtw_join, scalar_dtw

    # same route, one track dwells (repeats points): DTW warps cheaply
    route = [(100.0 + 0.01 * i, 30.0) for i in range(6)]
    slow = [p for p in route for _ in (0, 1)]  # every point twice
    tracks = {1: route, 2: slow}
    out = dtw_join(_seq_df(spark, tracks), tau_norm_m=1000.0,
                   track="user_id", ts="ts").collect()
    assert len(out) == 1
    total, norm = scalar_dtw(route, slow)
    assert (out[0].dtw_mm_total, out[0].dtw_norm_m) == (total, norm)
    assert total == 0  # repeats warp onto the same points at zero cost


def test_dtw_identical_zero(spark):
    from xutil_spark.operators.trajsim import dtw_join

    pts = [(10.0, 20.0), (10.5, 20.2), (11.0, 20.4)]
    out = dtw_join(_seq_df(spark, {1: pts, 2: pts}), tau_norm_m=100.0,
                   track="user_id", ts="ts").collect()
    assert len(out) == 1
    assert out[0].dtw_mm_total == 0 and out[0].dtw_norm_m == 0.0
