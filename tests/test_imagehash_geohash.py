"""Image dHash + geohash: engine-vs-scalar parity, published vectors,
banded-join exactness."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xutil_spark.entry_queries6 import _dhash_py, _geohash_py


# ------------------------------------------------------------ geohash


def test_geohash_published_vectors():
    """Public reference vectors (geohash.org / Wikipedia examples)."""
    assert _geohash_py(10.40744, 57.64911, 11) == "u4pruydqqvj"
    assert _geohash_py(-5.6, 42.6, 5) == "ezs42"
    assert _geohash_py(112.5584, 37.8324, 9) == "ww8p1r4t8"


def test_geohash_spark_matches_scalar(spark):
    """The Morton-spread Column expression reproduces the scalar
    bisection-loop encode on a grid including edge coordinates."""
    from xutil_spark.functions.geohash import geohash

    lons = [-180.0, -5.6, 0.0, 10.40744, 112.5584, 179.99999, 180.0]
    lats = [-90.0, -42.0, 0.0, 42.6, 57.64911, 89.99999, 90.0]
    rows = [(lo, la) for lo in lons for la in lats]
    sdf = spark.createDataFrame(pd.DataFrame(rows, columns=["lon", "lat"]))
    for p in (1, 5, 7, 12):
        got = {
            (r["lon"], r["lat"]): r["gh"]
            for r in sdf.select("lon", "lat",
                                geohash("lon", "lat", p).alias("gh")).collect()
        }
        for lo, la in rows:
            assert got[(lo, la)] == _geohash_py(lo, la, p), (lo, la, p)


def test_geohash_prefix_identity(spark):
    """geohash(p) is a prefix of geohash(p') for p < p' — the rollup
    identity the contract query leans on."""
    from xutil_spark.functions.geohash import geohash

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "lon": rng.uniform(-180, 180, 200),
        "lat": rng.uniform(-90, 90, 200),
    })
    sdf = spark.createDataFrame(pdf)
    out = sdf.select(
        geohash("lon", "lat", 12).alias("g12"),
        geohash("lon", "lat", 7).alias("g7"),
        geohash("lon", "lat", 3).alias("g3"),
    ).collect()
    for r in out:
        assert r["g12"].startswith(r["g7"])
        assert r["g7"].startswith(r["g3"])


# ------------------------------------------------------------ dHash


def test_dhash_engine_matches_scalar(spark):
    """Vectorized decode→gray→resample→bits == scalar formula path,
    across all three size cycles and both codecs (raw + PNG)."""
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.images import dhash

    got = {r["image_id"]: r["dhash"]
           for r in dhash(images_table(spark, 48)).collect()}
    assert len(got) == 48
    for i in range(48):
        assert got[f"img{i:012d}"] == _dhash_py(i), i


def test_hamming_banded_join_is_exact(spark):
    """Banded bucket join reproduces the brute-force hamming≤t pair set
    (pigeonhole exactness for t ≤ bands−1)."""
    from xutil_spark.operators.dedup import hamming_near_dup_pairs

    rng = np.random.default_rng(11)
    base = rng.integers(-2**62, 2**62, 40, dtype=np.int64)
    # plant near-dups: flip 1-3 bits of some fingerprints
    fps = list(base)
    for k in range(12):
        v = int(base[k]) & (2**64 - 1)
        for b in rng.integers(0, 64, (k % 3) + 1):
            v ^= 1 << int(b)
        fps.append(np.int64(v - (1 << 64) if v >= (1 << 63) else v))
    pdf = pd.DataFrame({"fid": [f"f{j:03d}" for j in range(len(fps))],
                        "fp": np.array(fps, dtype=np.int64)})
    sdf = spark.createDataFrame(pdf)
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in hamming_near_dup_pairs(sdf, "fp", "fid",
                                        max_hamming=3, bands=4).collect()
    }
    expect = {}
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            h = bin((int(fps[i]) ^ int(fps[j])) & (2**64 - 1)).count("1")
            if h <= 3:
                expect[(f"f{i:03d}", f"f{j:03d}")] = h
    assert got == expect


def test_hamming_banded_join_rejects_loose_bands():
    with pytest.raises(ValueError):
        from xutil_spark.operators.dedup import hamming_near_dup_pairs

        hamming_near_dup_pairs(None, "fp", "fid", max_hamming=4, bands=4)


# --------------------------------------------------------- trajectories


def test_polyline_published_vector():
    """The example from the public encoded-polyline spec."""
    from xutil_spark.entry_queries6 import _polyline_py

    pts = [(38.5, -120.2), (40.7, -120.95), (43.252, -126.453)]
    assert _polyline_py(pts) == "_p~iF~ps|U_ulLnnqC_mqNvxq`@"


def test_polyline_engine_matches_scalar(spark):
    from xutil_spark.entry_queries6 import _polyline_py
    from xutil_spark.operators.trajectory import polyline_encode

    rng = np.random.default_rng(3)
    n = 400
    pdf = pd.DataFrame({
        "traj_id": np.arange(n, dtype=np.int64) % 7,
        "seq": np.arange(n, dtype=np.int64),
        "lon": rng.uniform(-180, 180, n),
        "lat": rng.uniform(-85, 85, n),
    })
    sdf = spark.createDataFrame(pdf)
    got = {r["traj_id"]: (r["n_points"], r["polyline"])
           for r in polyline_encode(sdf).collect()}
    for t in range(7):
        sub = pdf[pdf.traj_id == t].sort_values("seq")
        expect = _polyline_py(list(zip(sub.lat, sub.lon)))
        assert got[t] == (len(sub), expect), t


def test_douglas_peucker_engine_matches_scalar(spark):
    """Keep-set parity engine-vs-scalar, plus the DP invariants
    (endpoints kept; surviving deviation bound respected on a
    straight-line track)."""
    from xutil_spark.entry_queries6 import _dp_py
    from xutil_spark.operators.trajectory import douglas_peucker

    rng = np.random.default_rng(5)
    n = 300
    pdf = pd.DataFrame({
        "traj_id": np.arange(n, dtype=np.int64) % 5,
        "seq": np.arange(n, dtype=np.int64),
        "lon": rng.uniform(100, 110, n),
        "lat": rng.uniform(30, 40, n),
    })
    sdf = spark.createDataFrame(pdf)
    got = douglas_peucker(sdf, tol_deg=1.5).toPandas()
    for t in range(5):
        sub = pdf[pdf.traj_id == t].sort_values("seq")
        keep = _dp_py(sub.lat.tolist(), sub.lon.tolist(), 1.5)
        expect = set(sub.seq.to_numpy()[np.array(keep)])
        assert set(got[got.traj_id == t].seq) == expect, t

    # a perfectly straight track simplifies to its endpoints
    line = pd.DataFrame({
        "traj_id": np.zeros(50, dtype=np.int64),
        "seq": np.arange(50, dtype=np.int64),
        "lon": np.linspace(100, 101, 50),
        "lat": np.linspace(30, 32, 50),
    })
    out = douglas_peucker(spark.createDataFrame(line), tol_deg=0.001).toPandas()
    assert set(out.seq) == {0, 49}


def _geohash_decode_py(gh: str):
    """Scalar decode: independent bit-walk (vs the engine's Morton
    compaction masks)."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    bits = []
    for ch in gh:
        d = b32.index(ch)
        bits.extend((d >> k) & 1 for k in range(4, -1, -1))
    xb = bits[0::2]
    yb = bits[1::2]
    xq = sum(b << (len(xb) - 1 - i) for i, b in enumerate(xb))
    yq = sum(b << (len(yb) - 1 - i) for i, b in enumerate(yb))
    lon_span = 360.0 / (1 << len(xb))
    lat_span = 180.0 / (1 << len(yb))
    return ((xq + 0.5) * lon_span - 180.0, (yq + 0.5) * lat_span - 90.0,
            lon_span / 2.0, lat_span / 2.0)


def test_geohash_decode_engine_matches_scalar(spark):
    """Each stage MATERIALIZES before the next: composing
    decode(encode(...)) in one projection inlines the encode tree into
    every decode term (see the geohash_decode docstring) — real
    pipelines have a shuffle or sink between them."""
    from xutil_spark.functions.geohash import geohash, geohash_decode

    rng = np.random.default_rng(17)
    pdf = pd.DataFrame({
        "lon": rng.uniform(-180, 180, 150),
        "lat": rng.uniform(-90, 90, 150),
    })
    sdf = spark.createDataFrame(pdf)
    for p in (5, 12):
        enc = sdf.select(
            "lon", "lat", geohash("lon", "lat", p).alias("gh")
        ).toPandas()
        dec = geohash_decode("gh", p)
        out = spark.createDataFrame(enc).select(
            "lon", "lat", "gh",
            dec["lon"].alias("clon"), dec["lat"].alias("clat"),
            dec["lon_err"].alias("elon"), dec["lat_err"].alias("elat"),
        ).toPandas()
        for r in out.itertuples(index=False):
            slon, slat, selon, selat = _geohash_decode_py(r.gh)
            assert (r.clon, r.clat) == (slon, slat), r.gh
            assert (r.elon, r.elat) == (selon, selat)
            # the original point lies inside the decoded cell
            assert abs(r.lon - r.clon) <= r.elon * (1 + 1e-12)
            assert abs(r.lat - r.clat) <= r.elat * (1 + 1e-12)
        # the centers re-encode to the same hashes (stage 3, again
        # from materialized inputs)
        re = spark.createDataFrame(out).select(
            "gh", geohash("clon", "clat", p).alias("gh2")
        ).collect()
        for r in re:
            assert r["gh2"] == r["gh"]


def test_geohash_decode_published_vector(spark):
    """ezs42 decodes to the Wikipedia example cell (42.60498…,
    -5.60302… ± the precision-5 half-cell)."""
    from xutil_spark.functions.geohash import geohash_decode

    sdf = spark.createDataFrame(pd.DataFrame({"gh": ["ezs42"]}))
    dec = geohash_decode("gh", 5)
    r = sdf.select(dec["lon"].alias("lon"), dec["lat"].alias("lat")).first()
    assert abs(r["lon"] - -5.60302734375) < 1e-12
    assert abs(r["lat"] - 42.60498046875) < 1e-12


# ------------------------------------------------------------ sketches


def test_heavy_hitters_exact_mode(spark):
    """capacity >= distinct keys -> bounds collapse to exact counts."""
    from xutil_spark.operators.sketches import heavy_hitters

    rng = np.random.default_rng(29)
    keys = rng.integers(0, 40, 5000)
    sdf = spark.createDataFrame(pd.DataFrame({"k": keys}))
    got = heavy_hitters(sdf, "k", k=10, capacity=1000).collect()
    truth = pd.Series(keys).value_counts()
    expect = sorted(
        ((int(c), int(k)) for k, c in truth.items()),
        key=lambda t: (-t[0], t[1])
    )[:10]
    assert [(r["count_ub"], r["key"]) for r in got] == expect
    for r in got:
        assert r["count_lb"] == r["count_ub"]


def test_heavy_hitters_approximate_bounds(spark):
    """Tiny capacity: reported bounds must bracket the true counts and
    the dominant key must survive eviction pressure."""
    from xutil_spark.operators.sketches import heavy_hitters

    rng = np.random.default_rng(31)
    # zipf-ish: key 0 dominates, long tail of rare keys
    keys = np.concatenate([
        np.zeros(3000, dtype=np.int64),
        np.full(800, 1, dtype=np.int64),
        rng.integers(2, 500, 1200),
    ])
    rng.shuffle(keys)
    sdf = spark.createDataFrame(pd.DataFrame({"k": keys})).repartition(4)
    got = heavy_hitters(sdf, "k", k=5, capacity=8).collect()
    truth = pd.Series(keys).value_counts().to_dict()
    assert got[0]["key"] == 0  # the dominant key is found
    for r in got:
        true = truth.get(r["key"], 0)
        assert r["count_lb"] <= true <= r["count_ub"], (r, true)


# ------------------------------------------------- grid-density clusters


def test_grid_density_clusters(spark):
    """Three planted blobs + sparse noise: dense cells label into one
    component per blob; isolated dense cells label themselves."""
    from xutil_spark.functions import native
    from xutil_spark.operators.clustering import grid_density_clusters

    rng = np.random.default_rng(37)
    blobs = []
    for cx, cy, n in ((116.40, 39.90, 600), (121.47, 31.23, 500),
                      (113.26, 23.13, 400)):
        blobs.append(pd.DataFrame({
            "lon": rng.normal(cx, 0.25, n),
            "lat": rng.normal(cy, 0.20, n),
        }))
    noise = pd.DataFrame({
        "lon": rng.uniform(75, 130, 800),
        "lat": rng.uniform(20, 50, 800),
    })
    pdf = pd.concat(blobs + [noise], ignore_index=True)
    pdf["pid"] = np.arange(len(pdf), dtype=np.int64)
    sdf = spark.createDataFrame(pdf)
    out = grid_density_clusters(sdf, zoom=10, min_count=8).toPandas()

    # scalar reference: counts -> dense -> BFS over 8-neighborhood
    def cell_xy(c):
        return (c % (1 << 58)) // (1 << 29), c % (1 << 29)

    cnt = (
        sdf.select(native.cell("lon", "lat", 10).alias("c"))
        .groupBy("c").count().withColumnRenamed("count", "n").toPandas()
    )
    dense = {int(r.c): int(r.n) for r in cnt.itertuples() if r.n >= 8}
    labels = {}
    for start in sorted(dense):
        if start in labels:
            continue
        comp, stack = [], [start]
        seen = {start}
        while stack:
            c = stack.pop()
            comp.append(c)
            x, y = cell_xy(c)
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nb = c + dx * (1 << 29) + dy
                    if nb in dense and nb not in seen:
                        seen.add(nb)
                        stack.append(nb)
        root = min(comp)
        for c in comp:
            labels[c] = root
    got = {int(r.cell): (int(r.cluster_id), int(r.n_points))
           for r in out.itertuples()}
    assert got == {c: (labels[c], dense[c]) for c in dense}
    # sanity: at least 3 multi-cell clusters (the blobs)
    from collections import Counter
    sizes = Counter(v for v, _ in got.values())
    assert sum(1 for s in sizes.values() if s >= 3) >= 3


def test_grid_density_clusters_deep_zoom(spark):
    """zoom=26 packs x·2^29+y beyond the 53-bit double mantissa: the
    cell-x decode must be integer bit arithmetic or neighbor ids
    silently corrupt.  Two points one cell apart in x at zoom 26 must
    merge into one 2-cell cluster."""
    from xutil_spark.operators.clustering import grid_density_clusters

    step = 360.0 / (1 << 26)  # one zoom-26 cell in lon
    pdf = pd.DataFrame({
        "lon": [116.400000, 116.400000 + step],
        "lat": [39.900000, 39.900000],
    })
    out = grid_density_clusters(
        spark.createDataFrame(pdf), zoom=26, min_count=1
    ).toPandas()
    assert len(out) == 2
    assert out["cluster_id"].nunique() == 1
    assert out["cluster_id"].iloc[0] == out["cell"].min()


# ----------------------------------------------------------- pHash (DCT)


def _phash_scalar(px):
    """Pure-Python pHash reference: scalar loops end to end (own basis
    via math.cos, two-pass scalar DCT, list-sort median) — independent
    of the engine's batched-matmul path."""
    import math

    h, w = px.shape[:2]
    gray = [
        [
            (299 * int(px[y][x][0]) + 587 * int(px[y][x][1])
             + 114 * int(px[y][x][2])) // 1000
            for x in range(w)
        ]
        for y in range(h)
    ]
    G = [[gray[y * h // 32][x * w // 32] for x in range(32)] for y in range(32)]

    def rnd(v):
        return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))

    C = [
        [rnd(math.cos(math.pi * (2 * m + 1) * k / 64) * 16384) for m in range(32)]
        for k in range(32)
    ]
    T1 = [
        [sum(C[u][n] * G[n][m] for n in range(32)) for m in range(32)]
        for u in range(8)
    ]
    D = [
        [sum(T1[u][m] * C[v][m] for m in range(32)) for v in range(8)]
        for u in range(8)
    ]
    vals = [D[u][v] for u in range(8) for v in range(8)]
    med = sorted(vals[1:])[31]
    fp = 0
    for j in range(1, 64):
        if vals[j] > med:
            fp |= 1 << j
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def test_phash_spark_matches_scalar(spark):
    """Batched-matmul engine pHash == scalar reference on the synthetic
    corpus (all three size classes, both codecs)."""
    from xutil_spark.data.synth import images_table, pixels_for
    from xutil_spark.raster.images import phash_dct

    got = {
        r["image_id"]: r["phash64"]
        for r in phash_dct(images_table(spark, 12)).collect()
    }
    assert len(got) == 12
    for i in range(12):
        assert got[f"img{i:012d}"] == _phash_scalar(pixels_for(i)), i


def test_phash_perceptual_invariance():
    """pHash is DC-blind: a global brightness shift moves the hash only
    a few bits (clipping at 255 perturbs some AC terms), while a
    different scene lands far away — the separation property the
    near-dup join relies on."""
    from xutil_spark.data.synth import pixels_for

    base = pixels_for(0)
    brighter = np.clip(base.astype(np.int64) + 40, 0, 255).astype(np.uint8)
    h0 = _phash_scalar(base)
    hb = _phash_scalar(brighter)
    # clipping saturates the gradient so a few AC bits flip; the
    # distance must still sit far below the different-scene distance
    assert bin((h0 ^ hb) & ((1 << 64) - 1)).count("1") <= 8

    other = pixels_for(7)[:, ::-1]  # different scene, mirrored
    ho = _phash_scalar(other)
    assert bin((h0 ^ ho) & ((1 << 64) - 1)).count("1") >= 20
