"""Spatial-join operators vs brute-force numpy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xutil_spark.data import synth
from xutil_spark.functions import native
from xutil_spark.kernels import distance as K_dist
from xutil_spark.kernels import geometry as K_geom
from xutil_spark.kernels import tiles as K_tiles
from xutil_spark.operators import spatial_join as SJ


@pytest.fixture(scope="module")
def points_df(spark):
    return synth.with_location(
        synth.images_table(spark, 400, with_bytes=False)
    ).select("image_id", "lon", "lat").cache()


@pytest.fixture(scope="module")
def points_pd(points_df):
    return points_df.toPandas().sort_values("image_id").reset_index(drop=True)


def test_point_in_tile_join_matches_kernel(spark, points_df, points_pd):
    tiles_df = synth.tiles_table(spark, zoom=10)
    got = SJ.point_in_tile_join(points_df, tiles_df, zoom=10).toPandas()
    # full bbox coverage → every point matches exactly one tile
    assert len(got) == len(points_pd)
    exp_cell = K_tiles.cell_encode(
        points_pd["lon"].to_numpy(), points_pd["lat"].to_numpy(), 10
    )
    got = got.sort_values("image_id").reset_index(drop=True)
    np.testing.assert_array_equal(got["cell"].to_numpy(np.int64), exp_cell)
    # tile_id string corresponds to the decoded cell
    x, y, z = K_tiles.cell_decode(exp_cell)
    exp_tid = [f"z10x{int(a)}y{int(b)}" for a, b in zip(x, y)]
    assert list(got["tile_id"]) == exp_tid


def test_point_in_tile_join_sparse_anti(spark, points_df, points_pd):
    """Sparse tile dim (every 3rd tile) → only matching points survive;
    left join marks the rest null (no-match path)."""
    sparse = synth.tiles_table(spark, zoom=10, sample_stride=3)
    inner = SJ.point_in_tile_join(points_df, sparse, zoom=10, how="inner")
    left = SJ.point_in_tile_join(points_df, sparse, zoom=10, how="left")
    n_inner = inner.count()
    assert 0 < n_inner < len(points_pd)
    assert left.count() == len(points_pd)
    assert left.filter(F.col("tile_id").isNull()).count() == len(points_pd) - n_inner


def test_point_in_polygon_join_vs_oracle(spark):
    # skewed points: 30% land inside the metro polygons → real hits
    pts = synth.with_location(
        synth.images_table(spark, 600, skew=True, with_bytes=False)
    ).select("image_id", "lon", "lat").cache()
    pts_pd = pts.toPandas()
    polys = synth.irregular_tiles_table(spark, zoom=12)
    got = (
        SJ.point_in_polygon_join(pts, polys, zoom=12)
        .select("image_id", "poly_id")
        .toPandas()
    )
    got_set = set(map(tuple, got.to_numpy()))
    exp_set = set()
    for r in polys.collect():
        g = K_geom.from_wkt(r["wkt"])
        inside = K_geom.point_in_geo(
            pts_pd["lon"].to_numpy(), pts_pd["lat"].to_numpy(), g
        )
        for pid in pts_pd.loc[inside, "image_id"]:
            exp_set.add((pid, r["poly_id"]))
    assert got_set == exp_set
    assert len(exp_set) > 50  # fixture actually exercises hits


def _brute_knn(points_pd, refs_pd, k):
    exp = {}
    for _, p in points_pd.iterrows():
        d = K_dist.point_dist_haversine(
            p["lon"], p["lat"], refs_pd["lon"].to_numpy(), refs_pd["lat"].to_numpy()
        )
        order = sorted(zip(np.round(d, 3), refs_pd["ref_id"]))[:k]
        exp[p["image_id"]] = [r for _, r in order]
    return exp


def test_knn_join_vs_brute_force(spark, points_df, points_pd):
    refs = synth.ref_points_table(spark, 250).cache()
    refs_pd = refs.toPandas()
    got = SJ._knn_join_grid(points_df, refs, k=3, zoom=8).toPandas()
    exp = _brute_knn(points_pd, refs_pd, 3)
    assert set(got["image_id"]) == set(exp.keys())
    for pid, grp in got.groupby("image_id"):
        ordered = list(grp.sort_values("rank")["ref_id"])
        assert ordered == exp[pid], pid


def test_knn_join_np_matches_brute_force(spark, points_df, points_pd):
    """The shuffle-free numpy path (knn_join's pick for dim-sized
    refs) agrees with brute force, including the tie order."""
    refs = synth.ref_points_table(spark, 250).cache()
    refs_pd = refs.toPandas()
    got = SJ.knn_join(points_df, refs, k=3).toPandas()  # ≤ gate → np
    exp = _brute_knn(points_pd, refs_pd, 3)
    assert set(got["image_id"]) == set(exp.keys())
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_knn_join_np_grid_index_vs_brute_force(spark):
    """Many refs (≥16k) trigger the in-worker numpy grid index (zoom>0,
    searchsorted block gather + straggler brute fallback); skewed points
    exercise hot cells.  Must equal brute force exactly, ties included."""
    pts = synth.with_location(
        synth.images_table(spark, 500, skew=True, with_bytes=False)
    ).select("image_id", "lon", "lat").cache()
    pts_pd = pts.toPandas()
    refs = synth.ref_points_table(spark, 3000).cache()
    refs_pd = refs.toPandas()
    got = SJ.knn_join(pts, refs, k=4).toPandas()
    exp = _brute_knn(pts_pd, refs_pd, 4)
    assert set(got["image_id"]) == set(exp.keys())
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_knn_join_np_sparse_refs_stragglers(spark, points_df, points_pd):
    """Few refs vs spread points → most points fail the ring guarantee
    and take the brute-force straggler path; still exact."""
    refs = synth.ref_points_table(spark, 60).cache()
    refs_pd = refs.toPandas()
    got = SJ.knn_join(points_df, refs, k=2).toPandas()
    exp = _brute_knn(points_pd, refs_pd, 2)
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_knn_join_np_k_exceeds_refs(spark, points_df, points_pd):
    """k larger than the refs table → every ref returned, ranks 1..n."""
    refs = synth.ref_points_table(spark, 4).cache()
    got = SJ.knn_join(points_df, refs, k=9).toPandas()
    assert len(got) == len(points_pd) * 4
    assert set(got["rank"]) == {1, 2, 3, 4}


def test_knn_join_sparse_refs_escalates_rings(spark, points_df, points_pd):
    """Only 12 refs nationwide → ring-1 at z8 is usually empty; the
    escalation loop must still find the true k nearest for every point."""
    refs = synth.ref_points_table(spark, 12).cache()
    refs_pd = refs.toPandas()
    got = SJ._knn_join_grid(points_df, refs, k=2, zoom=8).toPandas()
    exp = _brute_knn(points_pd, refs_pd, 2)
    assert set(got["image_id"]) == set(exp.keys())
    mism = 0
    for pid, grp in got.groupby("image_id"):
        if list(grp.sort_values("rank")["ref_id"]) != exp[pid]:
            mism += 1
    assert mism == 0


def test_point_in_polygon_join_matches_brute_force(spark):
    """The (point, polygon) set equals an all-pairs ray-cast — over
    holes, multipolygons, null/empty wkt, points on cell edges, the
    antimeridian, poleward of the tile limit and null coordinates — and
    the polygons' other columns pass through unchanged."""
    from pyspark.sql import types as T

    zoom = 6
    w, s, e, n = (float(v) for v in K_tiles.cell_bounds(
        K_tiles.cell_pack(53, 24, zoom)))
    poly_rows = [
        (1, "square with hole", 7,
         "POLYGON((100 20, 120 20, 120 40, 100 40, 100 20),"
         " (105 25, 115 25, 115 35, 105 35, 105 25))"),
        (2, None, None,
         "MULTIPOLYGON(((-10 -10, 10 -10, 10 10, -10 10, -10 -10)),"
         " ((170 50, 180 50, 180 60, 170 60, 170 50)))"),
        (3, "cell", 9,
         f"POLYGON(({w} {s}, {e} {s}, {e} {n}, {w} {n}, {w} {s}))"),
        (4, "north polar", 11,
         "POLYGON((-180 80, 180 80, 180 89.9, -180 89.9, -180 80))"),
        (5, "south polar", 12,
         "POLYGON((-180 -90, 180 -90, 180 -80, -180 -80, -180 -90))"),
        (6, "null wkt", 1, None),
        (7, "empty wkt", 2, ""),
    ]
    polys = spark.createDataFrame(poly_rows, T.StructType([
        T.StructField("poly_id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("rank", T.LongType()),
        T.StructField("wkt", T.StringType()),
    ]))
    rng = np.random.default_rng(21)
    lon = list(rng.uniform(-180.0, 180.0, 3000)) + list(rng.uniform(95.0, 125.0, 1000))
    lat = list(rng.uniform(-90.0, 89.9, 3000)) + list(rng.uniform(15.0, 45.0, 1000))
    # the test cell's edges and corners, the cell edges inside polygon 1,
    # the antimeridian, poleward of the tile limit, null coordinates
    edge = [(w, s), (e, n), (w, n), (e, s), ((w + e) / 2, s), (w, (s + n) / 2)]
    edge += [(-180.0 + 360.0 / 2 ** zoom * x, 22.0) for x in range(50, 54)]
    edge += [(180.0, 55.0), (-180.0, 55.0), (180.0, 0.0), (-180.0, 0.0)]
    edge += [(0.0, 85.06), (20.0, 86.0), (-20.0, 89.0), (0.0, 0.0)]
    edge += [(0.0, -85.06), (40.0, -87.0), (-60.0, -89.5), (10.0, -90.0)]
    edge += [(None, 10.0), (5.0, None), (None, None)]
    pts_pd = pd.DataFrame({"image_id": range(len(lon) + len(edge)),
                           "lon": lon + [p[0] for p in edge],
                           "lat": lat + [p[1] for p in edge]})
    edge_id = dict(zip(edge, range(len(lon), len(lon) + len(edge))))

    out = SJ.point_in_polygon_join(spark.createDataFrame(pts_pd), polys, zoom=zoom)
    assert out.columns == ["image_id", "lon", "lat", "poly_id", "name",
                           "rank", "wkt"]
    got = set(map(tuple, out.drop("lon", "lat", "wkt").toPandas()
                  .astype(object).where(lambda d: d.notna(), None)
                  .to_numpy()))

    exp = set()
    valid = pts_pd.dropna()
    for pid, name, rank, wkt in poly_rows:
        if wkt:
            inside = K_geom.point_in_geo(valid["lon"], valid["lat"],
                                         K_geom.from_wkt(wkt))
            exp.update((i, pid, name, rank) for i in valid["image_id"][inside])
    assert got == exp
    assert {r[1] for r in got} == {1, 2, 3, 4, 5}
    pairs = {r[:2] for r in got}
    for pt in [(20.0, 86.0), (-20.0, 89.0)]:
        assert (edge_id[pt], 4) in pairs, pt
    for pt in [(40.0, -87.0), (-60.0, -89.5), (10.0, -90.0)]:
        assert (edge_id[pt], 5) in pairs, pt


def _globe_points(spark, n, seed, id_col, lon_spread=360.0):
    """Deterministic globe-spanning points (forces tiny zooms)."""
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        id_col: [f"g{seed}_{i}" for i in range(n)],
        "lon": rng.uniform(-lon_spread / 2, lon_spread / 2, n).round(6),
        "lat": rng.uniform(-60.0, 60.0, n).round(6),
    })
    return spark.createDataFrame(pdf), pdf


def test_knn_join_grid_zoom1_no_wrap_duplicates(spark):
    """zoom=1 (n_axis=2): the pmod x-wrap must not duplicate candidate
    pairs — each ref appears at most once per point, ranks are the true
    top-k (regression: _explode_neighbors wrap collision)."""
    pts, pts_pd = _globe_points(spark, 80, 7, "image_id")
    refs, refs_pd = _globe_points(spark, 30, 11, "ref_id")
    got = SJ._knn_join_grid(pts, refs, k=3, zoom=1).toPandas()
    dup = got.groupby(["image_id", "ref_id"]).size()
    assert (dup == 1).all(), dup[dup > 1]
    exp = _brute_knn(pts_pd, refs_pd, 3)
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_knn_join_np_globe_spanning_refs(spark):
    """Globe-spanning refs drive knn_searcher's zoom pick into the tiny-
    zoom regime — must never pick zoom=1 (3×3 x-wrap collision) and must
    equal brute force (regression: knn_searcher wrap duplicates)."""
    pts, pts_pd = _globe_points(spark, 120, 3, "image_id")
    refs, refs_pd = _globe_points(spark, 60, 5, "ref_id")
    got = SJ.knn_join(pts, refs, k=4).toPandas()
    dup = got.groupby(["image_id", "ref_id"]).size()
    assert (dup == 1).all()
    exp = _brute_knn(pts_pd, refs_pd, 4)
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def _brute_pairs(pts_pd, refs_pd, radius):
    """(point, ref) pairs within ``radius`` by brute-force haversine."""
    rlon = refs_pd["lon"].to_numpy()
    rlat = refs_pd["lat"].to_numpy()
    rid = refs_pd["ref_id"].to_numpy()
    out = set()
    for p, lo, la in zip(pts_pd["image_id"], pts_pd["lon"], pts_pd["lat"]):
        d = K_dist.point_dist_haversine(lo, la, rlon, rlat)
        out.update((p, r) for r in rid[d <= radius])
    return out


def test_distance_join_low_zoom_wrap_no_duplicates(spark):
    """A ~2,000 km radius derives a zoom ≤ 2, whose ring spans more
    than the whole x-axis: the dx clamp must emit each cell once → no
    duplicate (point, ref) rows."""
    pts, pts_pd = _globe_points(spark, 60, 13, "image_id", lon_spread=120.0)
    refs, refs_pd = _globe_points(spark, 40, 17, "ref_id", lon_spread=120.0)
    radius = 2_000_000.0
    zoom, ring, _ = SJ._zoom_ring(refs, ["lat"], radius, radius,
                                  SJ._RANGE_RING)
    assert zoom <= 2 and 2 * ring + 1 >= 2 ** zoom
    got = SJ.distance_join(pts, refs, radius_m=radius).toPandas()
    assert got.duplicated(["image_id", "ref_id"]).sum() == 0
    exp_set = _brute_pairs(pts_pd, refs_pd, radius)
    assert set(zip(got["image_id"], got["ref_id"])) == exp_set
    assert len(exp_set) > 0


def test_distance_join_vs_brute_force(spark, points_df, points_pd):
    refs = synth.ref_points_table(spark, 150).cache()
    refs_pd = refs.toPandas()
    radius = 75000.0
    got = SJ.distance_join(points_df, refs, radius_m=radius).toPandas()
    exp_set = _brute_pairs(points_pd, refs_pd, radius)
    assert set(zip(got["image_id"], got["ref_id"])) == exp_set
    assert len(exp_set) > 0


def _box_points(spark, n, seed, id_col, lon_range, lat_range):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        id_col: [f"{id_col[0]}{i}" for i in range(n)],
        "lon": rng.uniform(*lon_range, n),
        "lat": rng.uniform(*lat_range, n),
    })
    return spark.createDataFrame(pdf), pdf


@pytest.mark.parametrize("radius", [5_000.0, 50_000.0, 500_000.0])
def test_distance_join_radius_vs_brute_force(spark, radius):
    """Exact at any radius: the zoom and ring derive from it.  The box
    is sized to the radius so every case has thousands of pairs."""
    half = 4.0 * radius / SJ._M_PER_DEG_HAV
    lons = (10.0 - 1.4 * half, 10.0 + 1.4 * half)
    lats = (40.0 - half, 40.0 + half)
    pts, pts_pd = _box_points(spark, 1500, 3, "image_id", lons, lats)
    refs, refs_pd = _box_points(spark, 200, 4, "ref_id", lons, lats)
    got = SJ.distance_join(pts, refs, radius_m=radius).toPandas()
    exp_set = _brute_pairs(pts_pd, refs_pd, radius)
    assert set(zip(got["image_id"], got["ref_id"])) == exp_set
    assert len(exp_set) > 1000


@pytest.mark.parametrize("radius", [20_000.0, 50_000.0])
def test_distance_join_polar_exact(spark, radius):
    """Regression: a fixed zoom sized its ring for |lat| ≤ 60° and
    silently dropped pairs near the poles (1,494 of the 5,744 pairs at
    20 km and 10,393 of the 34,239 at 50 km here).  The zoom now derives from the
    refs' latitude, so the pair set equals brute force."""
    pts, pts_pd = _box_points(spark, 3000, 5, "image_id", (10.0, 30.0), (77.0, 83.0))
    refs, refs_pd = _box_points(spark, 400, 6, "ref_id", (10.0, 30.0), (77.0, 83.0))
    got = SJ.distance_join(pts, refs, radius_m=radius).toPandas()
    exp_set = _brute_pairs(pts_pd, refs_pd, radius)
    assert set(zip(got["image_id"], got["ref_id"])) == exp_set
    assert len(exp_set) > 1000


def test_distance_join_beyond_tile_limit_exact(spark):
    """Points and refs poleward of the Web-Mercator limit (85.0511°) at
    both poles, on the poles themselves, and refs on the antimeridian
    at lon 180, still pair exactly."""
    rng = np.random.default_rng(7)
    poles = [(0.0, 90.0), (0.0, -90.0), (77.0, -90.0), (-150.0, -89.99)]
    pts_pd = pd.DataFrame({
        "image_id": [f"i{i}" for i in range(800 + len(poles))],
        "lon": np.r_[rng.uniform(-180.0, 180.0, 800), [p[0] for p in poles]],
        "lat": np.r_[rng.uniform(84.0, 89.9, 400), rng.uniform(-89.9, -84.0, 400),
                     [p[1] for p in poles]],
    })
    pts = spark.createDataFrame(pts_pd)
    refs_pd = pd.DataFrame({
        "ref_id": [f"r{i}" for i in range(112)],
        "lon": np.r_[np.full(10, 180.0), rng.uniform(-180.0, 180.0, 100), [-120.0, 30.0]],
        "lat": np.r_[np.linspace(84.5, 89.5, 10), rng.uniform(84.0, 89.9, 50),
                     rng.uniform(-89.9, -84.0, 50), [-90.0, 90.0]],
    })
    refs = spark.createDataFrame(refs_pd)
    radius = 100_000.0
    got = SJ.distance_join(pts, refs, radius_m=radius).toPandas()
    exp_set = _brute_pairs(pts_pd, refs_pd, radius)
    assert set(zip(got["image_id"], got["ref_id"])) == exp_set
    assert len(exp_set) > 100
    # the poles pair with each other's neighbours, south as well as north
    assert {("i801", "r110"), ("i802", "r110"), ("i800", "r111")} <= exp_set


def test_salted_join_equals_plain_join(spark):
    pts = SJ.with_cell(
        synth.with_location(synth.images_table(spark, 3000, skew=True, with_bytes=False)),
        zoom=10,
    ).select("image_id", "cell")
    tiles_df = synth.tiles_table(spark, zoom=10)
    plain = pts.join(tiles_df, "cell", "inner").select("image_id", "tile_id")
    s_pts, s_dim, hot = SJ.salt_hot_cells(pts, tiles_df, salt=4, hot_threshold=100)
    salted = s_pts.join(
        s_dim.select("cell", "_salt", "tile_id"), on=["cell", "_salt"], how="inner"
    ).select("image_id", "tile_id")
    a = set(map(tuple, plain.toPandas().to_numpy()))
    b = set(map(tuple, salted.toPandas().to_numpy()))
    assert a == b
    assert hot.count() >= 3  # the 3 urban cells are detected as hot


def test_fused_pipeline_matches_composed(spark):
    """fused_image_tile_knn ≡ decode_stats → with_location →
    point_in_tile_join → cell → knn_join, row for row."""
    import pandas as pd
    from pyspark.sql import functions as F

    from xutil_spark.functions import native
    from xutil_spark.operators.fused import fused_image_tile_knn
    from xutil_spark.raster.images import decode_stats

    images = synth.images_table(spark, 3000, skew=True).cache()
    tiles = synth.tiles_table(spark, zoom=10).cache()
    refs = synth.ref_points_table(spark, 300).cache()

    composed = SJ.knn_join(
        SJ.point_in_tile_join(
            synth.with_location(decode_stats(images)), tiles, zoom=10
        )
        .withColumn("cell", native.cell("lon", "lat", 15))
        .select("image_id", "lon", "lat", "cell", "tile_id", "mean_r"),
        refs, k=3,
    ).select("image_id", "rank", "tile_id", "ref_id", "cell", "dist_m", "mean_r")

    fused = fused_image_tile_knn(images, tiles, refs, k=3).select(
        "image_id", "rank", "tile_id", "ref_id", "cell", "dist_m", "mean_r"
    )

    a = composed.toPandas().sort_values(["image_id", "rank"]).reset_index(drop=True)
    b = fused.toPandas().sort_values(["image_id", "rank"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_ring_guarantee_expr_polar_points_never_exceed_true_distance(spark):
    """Regression: the linear span·cos(φ_far) bound with φ_far capped at
    85° INFLATED above the true unsearched-region distance for points
    poleward of the cap (φ=89°, zoom 6: 54.5 km claimed vs 21.8 km
    actual) — a resolved-with-wrong-neighbors hazard.  The cross-track
    form must lower-bound the haversine distance to every ref ≥ 2 tile
    spans away in longitude, at any latitude."""
    import math

    zoom, ring = 6, 1
    span = 360.0 / (2 ** zoom)
    lats = [0.0, 30.0, 60.0, 84.9, 85.5, 89.0, -89.0]
    df = spark.createDataFrame(pd.DataFrame({"lat": lats}))
    got = (
        df.select(SJ._ring_guarantee_expr(F.col("lat"), zoom, ring)
                  .alias("g"), "lat")
        .toPandas().set_index("lat")["g"]
    )
    for lat in lats:
        # nearest possibly-unsearched ref: one full span over in lon
        # (point on its cell's left boundary), same latitude
        d_true = K_dist.point_dist_haversine(
            np.array([0.0]), np.array([lat]),
            np.array([span]), np.array([lat]))[0]
        assert got[lat] <= d_true + 1e-6, (lat, got[lat], d_true)
        # and sanity: positive and within the meridian cross-track cap
        cap = 6371000.0 * math.asin(
            math.cos(math.radians(abs(lat)))
            * math.sin(math.radians(min(ring * span, 90.0))))
        assert 0.0 < got[lat] <= cap + 1e-6


def test_ring_guarantee_m_wide_span_stays_below_true_minimum():
    """Regression: at zoom 3, ring 3 (ring span 135°) the linear form
    claimed 3.75e6 m while the true minimum distance from a 60°-lat
    point to the unsearched region (over the pole) is 3.34e6 m.  And a
    ring that covers every cell leaves nothing unsearched → inf."""
    g = SJ._ring_guarantee_m(3, 3, max_abs_lat=60.0)
    d_pole = K_dist.point_dist_haversine(
        np.array([0.0]), np.array([60.0]),
        np.array([0.0]), np.array([90.0]))[0]
    assert 0.0 < g <= d_pole
    assert SJ._ring_guarantee_m(1, 1) == float("inf")


def test_knn_searcher_polar_wide_grid_matches_brute(spark):
    """Grid-index kNN over refs reaching ±89° latitude and a wide
    longitude span: the ring-1 guarantee must stay a true lower bound
    (arcsin cross-track), so results equal brute force exactly."""
    rng = np.random.default_rng(42)
    n_refs, n_pts, k = 900, 250, 3
    refs_pd = pd.DataFrame({
        "ref_id": [f"r{i}" for i in range(n_refs)],
        "lon": rng.uniform(-88.0, 88.0, n_refs).round(6),
        "lat": rng.uniform(-89.0, 89.0, n_refs).round(6),
    })
    pts_pd = pd.DataFrame({
        "image_id": [f"p{i}" for i in range(n_pts)],
        "lon": rng.uniform(-88.0, 88.0, n_pts).round(6),
        "lat": rng.uniform(-89.0, 89.0, n_pts).round(6),
    })
    refs = spark.createDataFrame(refs_pd)
    pts = spark.createDataFrame(pts_pd)
    got = SJ.knn_join(pts, refs, k=k).toPandas()
    exp = _brute_knn(pts_pd, refs_pd, k)
    assert set(got["image_id"]) == set(exp.keys())
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


@pytest.mark.parametrize("op", ["knn_join", "snap_to_segments", "hmm_map_match",
                                "point_in_polygon_join", "distance_join",
                                "encounter_join", "hausdorff_join",
                                "candidate_segments"])
def test_plan_build_runs_one_spark_job(spark, op):
    """Building each operator against a dim-sized side launches ONE
    Spark job: the gate probe and the dim collect are the same
    ``limit(gate + 1).toPandas()`` (a count probe plus a collect cost
    three); PiP's one job collects its polygons.  The ring-cover joins'
    one job is ``_zoom_ring``'s top-1 |lat| (with the row count that
    decides ``candidate_segments``' broadcast observed on the way)."""
    from xutil_spark.operators.encounters import encounter_join
    from xutil_spark.operators.mapmatch import candidate_segments, hmm_map_match
    from xutil_spark.operators.trajsim import hausdorff_join

    pts = spark.range(0, 200, 1, 4).select(
        F.col("id").alias("pid"), (F.col("id") % 10).alias("track_id"),
        F.col("id").alias("ts"),
        (F.lit(100.0) + F.col("id") * 0.05).alias("lon"),
        (F.lit(30.0) + (F.col("id") % 7) * 0.1).alias("lat"))
    segs = spark.range(0, 40, 1, 4).select(
        F.col("id").alias("seg_id"),
        (F.lit(100.0) + F.col("id") * 0.25).alias("ax"),
        F.lit(30.0).alias("ay"),
        (F.lit(100.2) + F.col("id") * 0.25).alias("bx"),
        F.lit(30.5).alias("by"))
    refs = synth.ref_points_table(spark, 2000)
    build = {
        "knn_join": lambda: SJ.knn_join(pts, refs, k=3, point_id="pid"),
        "snap_to_segments": lambda: SJ.snap_to_segments(
            pts, segs, radius_m=50_000.0),
        "hmm_map_match": lambda: hmm_map_match(pts, segs, radius_m=50_000.0),
        "point_in_polygon_join": lambda: SJ.point_in_polygon_join(
            pts, synth.irregular_tiles_table(spark), zoom=8),
        "distance_join": lambda: SJ.distance_join(
            pts, refs, radius_m=50_000.0, point_id="pid"),
        "encounter_join": lambda: encounter_join(
            pts, radius_m=50_000.0, window_s=600, entity="track_id",
            event_id="pid"),
        "hausdorff_join": lambda: hausdorff_join(
            pts, tau_m=50_000.0, track="track_id"),
        "candidate_segments": lambda: candidate_segments(
            pts, segs, radius_m=50_000.0),
    }[op]
    sc = spark.sparkContext
    group = f"plan-build-{op}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


# ---------------------------------------------------------------------------
# knn_searcher property test: brute force and the previous kernel
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


def _ref_knn_searcher(rlon, rlat, k: int):
    """The previous ``knn_searcher``: per-unique-cell ``searchsorted``
    block ranges and one global ``lexsort`` over the pair list.  Kept
    as the reference the offset-table/argpartition kernel must equal
    bit for bit, row order included."""
    import math

    n_refs = len(rlon)
    kk = min(k, n_refs)
    rad = math.pi / 180.0
    two_r = 2.0 * 6371000.0
    rcos = np.cos(np.asarray(rlat, dtype=np.float64) * rad)
    use_grid = n_refs >= 16 * kk
    if use_grid:
        lon0, lat0 = float(rlon.min()), float(rlat.min())
        dlon_span = max(float(rlon.max()) - lon0, 1e-9)
        dlat_span = max(float(rlat.max()) - lat0, 1e-9)
        use_grid = dlon_span <= 180.0
    if use_grid:
        target_cells = n_refs / max(SJ._KNN_CELL_TARGET_K * kk, 8.0)
        nx = max(1, int(round(math.sqrt(target_cells * dlon_span / dlat_span))))
        ny = max(1, int(round(target_cells / nx)))
        span_x, span_y = dlon_span / nx, dlat_span / ny
        rcx = np.clip(((rlon - lon0) / span_x).astype(np.int64), 0, nx - 1)
        rcy = np.clip(((rlat - lat0) / span_y).astype(np.int64), 0, ny - 1)
        rcell = rcx * ny + rcy
        rorder = np.argsort(rcell, kind="stable")
        rcell_s = rcell[rorder]

    def hav(pi, ri, plon, plat, pcos):
        dlat = (rlat[ri] - plat[pi]) * rad
        dlon = (rlon[ri] - plon[pi]) * rad
        a = (np.sin(dlat / 2) * np.sin(dlat / 2)
             + np.sin(dlon / 2) * np.sin(dlon / 2) * pcos[pi] * rcos[ri])
        return two_r * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))

    def topk_grid(plon, plat, pcos):
        b = len(plon)
        px = np.clip(((plon - lon0) / span_x).astype(np.int64), 0, nx - 1)
        py = np.clip(((plat - lat0) / span_y).astype(np.int64), 0, ny - 1)
        ucell, uinv = np.unique(px * ny + py, return_inverse=True)
        un = len(ucell)
        ux, uy = ucell // ny, ucell % ny
        los = np.empty((un, 9), dtype=np.int64)
        his = np.empty((un, 9), dtype=np.int64)
        col = 0
        for dx in (-1, 0, 1):
            mx = ux + dx
            okx = (mx >= 0) & (mx < nx)
            for dy in (-1, 0, 1):
                my = uy + dy
                ncell = np.where(okx & (my >= 0) & (my < ny), mx * ny + my, -1)
                los[:, col] = np.searchsorted(rcell_s, ncell, side="left")
                his[:, col] = np.searchsorted(rcell_s, ncell, side="right")
                col += 1
        lens = (his - los).ravel()
        blk_cnt = lens.reshape(un, 9).sum(axis=1)
        tot = int(lens.sum())
        if tot == 0:
            return None, np.ones(b, dtype=bool)
        seg0 = np.concatenate(([0], np.cumsum(lens)))[:-1]
        rflat = np.repeat(los.ravel(), lens) + (np.arange(tot) - np.repeat(seg0, lens))
        ucum = np.concatenate(([0], np.cumsum(blk_cnt)))
        porder = np.argsort(uinv, kind="stable")
        b_per_pt = blk_cnt[uinv[porder]]
        n_pairs = int(b_per_pt.sum())
        pair_pt = np.repeat(porder, b_per_pt)
        pcum = np.concatenate(([0], np.cumsum(b_per_pt)))[:-1]
        pair_off = np.arange(n_pairs) - np.repeat(pcum, b_per_pt)
        pair_ref = rorder[rflat[np.repeat(ucum[uinv[porder]], b_per_pt) + pair_off]]
        d = hav(pair_pt, pair_ref, plon, plat, pcos)
        key = np.rint(np.round(d, 3) * 1000.0).astype(np.int64) * n_refs + pair_ref
        o = np.lexsort((key, pair_pt))
        spt, sref, sd = pair_pt[o], pair_ref[o], d[o]
        first = np.empty(n_pairs, dtype=bool)
        first[0] = True
        first[1:] = spt[1:] != spt[:-1]
        seg_id = np.cumsum(first) - 1
        seg_start = np.flatnonzero(first)
        pos = np.arange(n_pairs) - seg_start[seg_id]
        cnt = np.zeros(b, dtype=np.int64)
        cnt[spt[seg_start]] = np.diff(np.concatenate((seg_start, [n_pairs])))
        kth_d = np.full(b, np.inf)
        at_k = pos == (kk - 1)
        kth_d[spt[at_k]] = sd[at_k]
        gx = SJ._R_HAV * np.arcsin(np.cos(plat * rad) * math.sin(min(span_x, 90.0) * rad))
        resolved = (cnt >= kk) & (kth_d <= np.minimum(gx, SJ._M_PER_DEG_HAV * span_y))
        take = (pos < kk) & resolved[spt]
        return (spt[take], sref[take], sd[take]), ~resolved

    def brute(plon, plat, pcos):
        dlat = (rlat[None, :] - plat[:, None]) * rad
        dlon = (rlon[None, :] - plon[:, None]) * rad
        a = (np.sin(dlat / 2) * np.sin(dlat / 2)
             + np.sin(dlon / 2) * np.sin(dlon / 2) * pcos[:, None] * rcos[None, :])
        d = two_r * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))
        key = (np.rint(np.round(d, 3) * 1000.0).astype(np.int64) * n_refs
               + np.arange(n_refs, dtype=np.int64)[None, :])
        sel = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        order = np.argsort(np.take_along_axis(key, sel, axis=1), axis=1, kind="stable")
        idx = np.take_along_axis(sel, order, axis=1)
        rows = np.repeat(np.arange(len(plon)), kk)
        return rows, idx.ravel(), d[rows, idx.ravel()]

    def chunk(plon, plat):
        pcos = np.cos(plat * rad)
        ranks = np.arange(1, kk + 1)
        if not use_grid:
            rows, ridx, d = brute(plon, plat, pcos)
            return rows, ridx, d, np.tile(ranks, len(plon))
        parts = []
        grid_out, straggler = topk_grid(plon, plat, pcos)
        if grid_out is not None and len(grid_out[0]):
            gp, gr, gd = grid_out
            parts.append((gp, gr, gd, np.tile(ranks, len(gp) // kk)))
        sidx = np.flatnonzero(straggler)
        if len(sidx):
            rows, ridx, d = brute(plon[sidx], plat[sidx], pcos[sidx])
            parts.append((sidx[rows], ridx, d, np.tile(ranks, len(sidx))))
        return tuple(np.concatenate(cols) for cols in zip(*parts))

    def search(plon, plat):
        parts = []
        for s in range(0, len(plon), 1024):
            rows, ridx, d, rank = chunk(plon[s:s + 1024], plat[s:s + 1024])
            parts.append((rows + s, ridx, d, rank))
        return tuple(np.concatenate(cols) for cols in zip(*parts))

    return search


def _fitted_edges(rlon, rlat, k):
    """The lon and lat cell edges of the grid ``knn_searcher`` fits."""
    kk = min(k, len(rlon))
    lon0, lat0 = float(rlon.min()), float(rlat.min())
    sx = max(float(rlon.max()) - lon0, 1e-9)
    sy = max(float(rlat.max()) - lat0, 1e-9)
    cells = len(rlon) / max(SJ._KNN_CELL_TARGET_K * kk, 8.0)
    nx = max(1, int(round(np.sqrt(cells * sx / sy))))
    ny = max(1, int(round(cells / nx)))
    return lon0 + np.arange(nx + 1) * (sx / nx), lat0 + np.arange(ny + 1) * (sy / ny)


@st.composite
def _knn_cases(draw):
    k = draw(st.integers(1, 8))
    n = draw(st.one_of(st.sampled_from([16 * k - 1, 16 * k, 16 * k + 1]),
                       st.integers(1, 600)))
    seed = draw(st.integers(0, 2**32 - 1))
    wide = draw(st.booleans())  # > 180° of longitude: the brute path
    rng = np.random.default_rng(seed)
    w = 340.0 if wide else draw(st.sampled_from([0.01, 1.0, 20.0]))
    rlon = np.round(rng.uniform(-w / 2, w / 2, n), 3)
    rlat = np.round(rng.uniform(-40.0, 60.0, n) * min(w, 100.0) / 100.0, 3)
    if draw(st.booleans()):  # a tight cluster: skewed candidate counts per point
        hot = rng.integers(0, n, n // 2)
        rlon[hot] = np.round(rlon[0] + rng.normal(0.0, w * 1e-3, len(hot)), 6)
        rlat[hot] = np.round(rlat[0] + rng.normal(0.0, w * 1e-3, len(hot)), 6)
    dup, to = rng.integers(0, n, (2, n // 4))  # duplicated refs: equal-distance ties
    rlon[to], rlat[to] = rlon[dup], rlat[dup]
    ex, ey = _fitted_edges(rlon, rlat, k)
    plon = np.concatenate([
        rng.uniform(rlon.min() - 1, rlon.max() + 1, 200),
        np.repeat(ex, len(ey)), rlon.min() + np.zeros(3), rlon.max() + np.zeros(3),
        rlon[:20], rlon[0] + np.zeros(20)])
    plat = np.concatenate([
        rng.uniform(rlat.min() - 1, rlat.max() + 1, 200),
        np.tile(ey, len(ex)), np.array([rlat.min(), rlat.max(), 0.0]),
        np.array([rlat.min(), rlat.max(), 0.0]), rlat[:20], rlat[0] + np.zeros(20)])
    return rlon, rlat, plon, plat, k


@settings(max_examples=150, deadline=None)
@given(_knn_cases())
def test_knn_searcher_matches_brute_and_previous_kernel(case):
    """Exact top-k ordered by (mm-rounded distance, ref index) for
    duplicated refs, points on fitted-cell and bbox edges, ref counts
    around the 16·k grid threshold and antimeridian-wide refs; and
    bit-identical to the previous kernel, row order included."""
    rlon, rlat, plon, plat, k = case
    got = SJ.knn_searcher(rlon, rlat, k)(plon, plat)
    old = _ref_knn_searcher(rlon, rlat, k)(plon, plat)
    for g, o in zip(got, old):
        assert g.dtype == o.dtype
        np.testing.assert_array_equal(g, o)
    rows, ridx, d, rank = got
    kk = min(k, len(rlon))
    o = np.lexsort((rank, rows))
    rows, ridx, d, rank = rows[o], ridx[o], d[o], rank[o]
    np.testing.assert_array_equal(rows, np.repeat(np.arange(len(plon)), kk))
    np.testing.assert_array_equal(rank, np.tile(np.arange(1, kk + 1), len(plon)))
    for p in range(len(plon)):
        bd = K_dist.point_dist_haversine(plon[p], plat[p], rlon, rlat)
        want = np.lexsort((np.arange(len(rlon)), np.round(bd, 3)))[:kk]
        np.testing.assert_array_equal(ridx[p * kk:(p + 1) * kk], want)
        np.testing.assert_allclose(d[p * kk:(p + 1) * kk], bd[want], rtol=1e-12, atol=1e-6)


# ---------------------------------------------------------------------------
# the dim probe, column collisions, and the numpy range and PiP kernels
# ---------------------------------------------------------------------------


def test_collect_dim_is_one_single_stage_job(spark):
    """The probe-and-collect of a cached dim runs as one job of one
    stage (a bare ``limit`` under Arrow ``toPandas`` plans a shuffle to
    one partition first: two stages); cached or not, it is one job,
    keeps its row bound, and returns ``None`` only above the gate."""
    sc = spark.sparkContext

    def collect(dim, max_rows, group):
        sc.setJobGroup(group, group)
        try:
            return SJ._collect_dim(dim, max_rows)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    uncached = synth.ref_points_table(spark, 2000)
    dim = synth.ref_points_table(spark, 2000).cache()
    dim.count()
    pdf = collect(dim, 2000, "collect-dim")
    jobs = sc.statusTracker().getJobIdsForGroup("collect-dim")
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1
    assert len(pdf) == 2000 and list(pdf.columns) == dim.columns
    want = sorted(r.ref_id for r in dim.select("ref_id").collect())
    assert sorted(pdf["ref_id"]) == want
    assert sorted(collect(uncached, 2000, "collect-uncached")["ref_id"]) == want
    assert len(sc.statusTracker().getJobIdsForGroup("collect-uncached")) == 1
    for d in (dim, uncached):
        assert SJ._collect_dim(d, 1999) is None
        assert SJ._collect_dim(d, 0) is None
    assert len(SJ._collect_dim(dim.limit(0), 0)) == 0
    dim.unpersist()


@pytest.mark.parametrize("path", ["numpy", "join"])
def test_colliding_column_names_raise_at_plan_time(spark, monkeypatch, path):
    """A ref or polygon column named like a point column (case aside)
    is one ``ValueError`` naming it, before any Spark job, on every
    path — not a worker failure, an ambiguous reference or a duplicated
    output column."""
    if path == "join":
        monkeypatch.setattr(SJ, "_KNN_NP_MAX_REFS", 0)
    pts = spark.createDataFrame(pd.DataFrame(
        {"image_id": ["a"], "lon": [116.3], "lat": [39.9], "caption": ["x"]}))
    refs = spark.createDataFrame(pd.DataFrame(
        {"ref_id": [1], "lon": [116.3], "lat": [39.9], "Caption": ["y"]}))
    with pytest.raises(ValueError, match="'Caption'"):
        SJ.knn_join(pts, refs, k=1)
    with pytest.raises(ValueError, match="'Caption'"):
        SJ.distance_join(pts, refs, 1000.0)
    with pytest.raises(ValueError, match="'image_id'"):
        SJ.distance_join(pts, refs.withColumnRenamed("ref_id", "image_id"), 1000.0,
                         ref_id="image_id")
    with pytest.raises(ValueError, match="'dist_m'"):
        SJ.knn_join(pts.withColumn("dist_m", F.lit(0.0)), refs.drop("Caption"), k=1)
    polys = spark.createDataFrame(pd.DataFrame(
        {"poly_id": [1], "caption": ["z"],
         "wkt": ["POLYGON((116 39,117 39,117 41,116 41,116 39))"]}))
    with pytest.raises(ValueError, match="'caption'"):
        SJ.point_in_polygon_join(pts, polys, zoom=8)
    # distinct names still join, the refs' payload carried through
    got = SJ.distance_join(pts, refs.withColumnRenamed("Caption", "label"), 1000.0)
    assert got.columns == ["image_id", "lon", "lat", "caption", "ref_id", "label", "dist_m"]
    assert [tuple(r) for r in got.select("caption", "label", "dist_m").collect()] == [
        ("x", "y", 0.0)]


def _hav_reference(plon, plat, rlon, rlat):
    """Haversine (meters) of every point to every ref, (points, refs),
    in ``native.haversine_m``'s float64 operation order."""
    rad = np.pi / 180.0
    plon, plat = np.asarray(plon)[:, None], np.asarray(plat)[:, None]
    rlon, rlat = np.asarray(rlon)[None, :], np.asarray(rlat)[None, :]
    dlat = (rlat - plat) * rad
    dlon = (rlon - plon) * rad
    a = (np.sin(dlat / 2) * np.sin(dlat / 2)
         + np.sin(dlon / 2) * np.sin(dlon / 2) * np.cos(plat * rad) * np.cos(rlat * rad))
    return 2.0 * 6371000.0 * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))


@st.composite
def _range_cases(draw):
    n = draw(st.one_of(st.sampled_from([15, 16, 17]), st.integers(1, 600)))
    radius = draw(st.sampled_from([0.0, 1.0, 50_000.0, 2.1e7]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    shape = draw(st.sampled_from(["box", "polar", "antimeridian", "east_edge", "wide"]))
    if shape == "box":
        w = draw(st.sampled_from([0.01, 1.0, 20.0]))
        rlon = rng.uniform(100.0, 100.0 + w, n)
        rlat = rng.uniform(30.0, 30.0 + w / 2, n)
    elif shape == "polar":  # past the tile limit, up to the poles
        rlon = rng.uniform(-60.0, 60.0, n)
        rlat = rng.choice([-1.0, 1.0], n) * rng.uniform(84.0, 90.0, n)
        rlat[: n // 10] = np.sign(rlat[: n // 10]) * 90.0
    elif shape == "antimeridian":  # both sides of ±180, under 180° wide
        rlon = np.where(rng.random(n) < 0.5, rng.uniform(175.0, 180.0, n),
                        rng.uniform(-180.0, -175.0, n))
        rlat = rng.uniform(-10.0, 10.0, n)
    elif shape == "east_edge":  # up to lon 180, points across it
        rlon = 180.0 - rng.uniform(0.0, draw(st.sampled_from([0.5, 5.0])), n)
        rlat = rng.uniform(-10.0, 10.0, n)
    else:  # over 180° of longitude: the brute path
        rlon = rng.uniform(-170.0, 170.0, n)
        rlat = rng.uniform(-60.0, 60.0, n)
    dup, to = rng.integers(0, n, (2, n // 4))  # duplicated refs
    rlon[to], rlat[to] = rlon[dup], rlat[dup]
    if n > 2 and draw(st.booleans()):  # null / NaN ref coordinates
        rlon[0], rlat[1] = np.nan, np.nan
    m = 300
    plon = np.concatenate([
        rng.uniform(np.nanmin(rlon) - 2, np.nanmax(rlon) + 2, m),
        rng.uniform(-180.0, 180.0, 50), rlon[:20],
        rlon[:20] + rng.normal(0.0, 1e-5, len(rlon[:20])),
        [180.0, -180.0, 0.0, 0.0, 179.9999, np.nan, 10.0, np.nan]])
    plat = np.concatenate([
        rng.uniform(np.nanmin(rlat) - 2, np.nanmax(rlat) + 2, m),
        rng.uniform(-90.0, 90.0, 50), rlat[:20],
        rlat[:20] + rng.normal(0.0, 1e-5, len(rlat[:20])),
        [0.0, 0.0, 90.0, -90.0, 85.0512, 5.0, np.nan, np.nan]])
    if shape == "east_edge":  # wrap past 180 to the far side of the antimeridian
        plon = np.where(plon > 180.0, plon - 360.0, plon)
    return rlon, rlat, np.clip(plon, -180, 180), np.clip(plat, -90, 90), radius


@settings(max_examples=150, deadline=None)
@given(_range_cases())
def test_range_searcher_matches_brute_force(case):
    """Every (point, ref) pair within the radius and nothing else, with
    ``dist_m`` bit-equal to an all-pairs haversine: refs around the
    grid threshold, radii 0, 1 m, 50 km and over half the
    circumference, points and refs past the tile limit and at the
    poles, refs across the antimeridian and over 180° wide, duplicated
    refs, NaN coordinates."""
    rlon, rlat, plon, plat, radius = case
    rows, ridx, d = SJ.range_searcher(rlon, rlat, radius)(plon, plat)
    with np.errstate(invalid="ignore"):
        bd = _hav_reference(plon, plat, rlon, rlat)
        want = np.argwhere(bd <= radius)
    got = np.stack([rows, ridx], axis=1)
    assert len(set(map(tuple, got))) == len(got)
    o = np.lexsort((ridx, rows))
    np.testing.assert_array_equal(got[o], want)
    np.testing.assert_array_equal(d[o], bd[want[:, 0], want[:, 1]])


@pytest.mark.parametrize("radius", [50_000.0, 300_000.0])
def test_range_searcher_across_the_antimeridian(radius):
    """Refs up to lon 180 pair with points just past it (lon −180…):
    a point takes its cell unwrapped toward the refs."""
    rng = np.random.default_rng(1)
    rlon, rlat = 180.0 - rng.uniform(0.0, 5.0, 300), rng.uniform(-10.0, 10.0, 300)
    plon, plat = rng.uniform(178.0, 182.0, 400), rng.uniform(-10.0, 10.0, 400)
    plon = np.where(plon > 180.0, plon - 360.0, plon)
    rows, ridx, d = SJ.range_searcher(rlon, rlat, radius)(plon, plat)
    bd = _hav_reference(plon, plat, rlon, rlat)
    want = np.argwhere(bd <= radius)
    assert (plon[want[:, 0]] < 0).sum() > 10
    o = np.lexsort((ridx, rows))
    np.testing.assert_array_equal(np.stack([rows, ridx], axis=1)[o], want)
    np.testing.assert_array_equal(d[o], bd[want[:, 0], want[:, 1]])


_POLY_SHAPES = ["star", "star_hole", "multi", "null", "empty"]


@st.composite
def _pip_cases(draw):
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    zoom = draw(st.integers(1, 12))
    cx0, cy0 = rng.uniform(-170.0, 170.0), rng.uniform(-80.0, 80.0)
    size = draw(st.sampled_from([0.01, 0.5, 5.0]))

    def ring(cx, cy, r, k):
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
        rr = r * rng.uniform(0.4, 1.0, k)
        xs = np.clip(cx + rr * np.cos(ang), -179.9, 179.9)
        ys = np.clip(cy + rr * np.sin(ang), -89.9, 89.9)
        pts = [f"{x!r} {y!r}" for x, y in zip(xs, ys)]
        return "(" + ", ".join(pts + pts[:1]) + ")"

    wkts = []
    for _ in range(draw(st.integers(1, 8))):
        # overlapping polygons around one centre
        cx, cy = cx0 + rng.normal(0, size / 2), cy0 + rng.normal(0, size / 2)
        kind = draw(st.sampled_from(_POLY_SHAPES))
        if kind == "star":
            wkts.append(f"POLYGON({ring(cx, cy, size, int(rng.integers(3, 12)))})")
        elif kind == "star_hole":
            wkts.append(f"POLYGON({ring(cx, cy, size, 8)}, {ring(cx, cy, size / 4, 6)})")
        elif kind == "multi":
            wkts.append(f"MULTIPOLYGON(({ring(cx, cy, size, 6)}),"
                        f" ({ring(cx + 3 * size, cy, size, 5)}))")
        else:
            wkts.append(None if kind == "null" else "")
    m = 400
    plon = np.r_[rng.uniform(cx0 - 3 * size, cx0 + 5 * size, m), [180.0, -180.0, np.nan, 0.0]]
    plat = np.r_[rng.uniform(cy0 - 3 * size, cy0 + 3 * size, m), [0.0, 90.0, 0.0, np.nan]]
    return wkts, zoom, plon, plat


@settings(max_examples=100, deadline=None)
@given(_pip_cases())
def test_pip_matcher_matches_brute_force(case):
    """The cover lookup never drops a hit: the (point, polygon) set
    equals a ray cast of every point against every polygon, over
    holes, multipolygons, overlapping polygons, null and empty WKT,
    NaN coordinates and zooms 1–12."""
    wkts, zoom, plon, plat = case
    cells, poly = SJ._pip_cover(wkts, zoom)
    assert (np.diff(cells) >= 0).all()
    rows, pi = SJ.pip_matcher(cells, poly, wkts, zoom)(plon, plat)
    got = set(zip(rows.tolist(), pi.tolist()))
    assert len(got) == len(rows)
    ok = np.flatnonzero(np.isfinite(plon) & np.isfinite(plat))
    want = set()
    for j, w in enumerate(wkts):
        if w:
            inside = K_geom.point_in_geo(plon[ok], plat[ok], K_geom.from_wkt(w))
            want.update((int(i), j) for i in ok[inside])
    assert got == want


def test_np_grid_cell_matches_jvm_grid_cell(spark):
    """``_np_grid_cell`` is ``_grid_cell``: x wraps (lon 180 is lon
    −180), poleward rows clamp, at zooms 0–12."""
    rng = np.random.default_rng(5)
    lon = np.r_[rng.uniform(-180.0, 180.0, 500), [180.0, -180.0, 0.0, 10.0, -10.0]]
    lat = np.r_[rng.uniform(-90.0, 90.0, 500), [0.0, 0.0, 90.0, -90.0, 85.0511]]
    df = spark.createDataFrame(pd.DataFrame({"i": range(len(lon)), "lon": lon, "lat": lat}))
    for zoom in (0, 1, 5, 12):
        got = (df.select("i", SJ._grid_cell(F.col("lon"), F.col("lat"), zoom).alias("c"))
               .toPandas().sort_values("i")["c"].to_numpy(np.int64))
        np.testing.assert_array_equal(SJ._np_grid_cell(lon, lat, zoom), got)


@pytest.mark.parametrize("case", ["china_50km", "globe_2000km", "polar_100km"])
def test_distance_join_numpy_path_matches_join_path(spark, monkeypatch, case):
    """Either side of the refs gate, the same rows: equal (point, ref)
    sets and columns, ``dist_m`` within 1e-9 relative (Java's and
    glibc's trig may round apart in the last ulp).  The globe case
    derives zoom ≤ 2 above the gate (the explode's dx clamp)."""
    rng = np.random.default_rng(11)
    if case == "china_50km":
        radius, n = 50_000.0, 300
        lon, lat = rng.uniform(73.5, 134.5, 3000), rng.uniform(18.2, 53.5, 3000)
    elif case == "globe_2000km":
        radius, n = 2_000_000.0, 40
        lon, lat = rng.uniform(-60.0, 60.0, 600), rng.uniform(-60.0, 60.0, 600)
    else:
        radius, n = 100_000.0, 200
        lon, lat = rng.uniform(-180.0, 180.0, 2000), rng.uniform(80.0, 90.0, 2000)
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"p{i}" for i in range(len(lon) - n)],
        "lon": lon[n:], "lat": lat[n:]}))
    refs = spark.createDataFrame(pd.DataFrame({
        "ref_id": [f"r{i}" for i in range(n)], "lon": lon[:n], "lat": lat[:n],
        "category": [f"c{i % 7}" for i in range(n)]}))

    def run(gate):
        monkeypatch.setattr(SJ, "_KNN_NP_MAX_REFS", gate)
        out = SJ.distance_join(pts, refs, radius)
        return out.columns, out.toPandas().sort_values(["image_id", "ref_id"]).reset_index(drop=True)

    cols_np, got = run(n)
    cols_jvm, want = run(n - 1)
    assert cols_np == cols_jvm == ["image_id", "lon", "lat", "ref_id", "category", "dist_m"]
    assert len(want) > 100
    pd.testing.assert_frame_equal(got.drop(columns="dist_m"), want.drop(columns="dist_m"))
    np.testing.assert_allclose(got["dist_m"], want["dist_m"], rtol=1e-9, atol=0)
