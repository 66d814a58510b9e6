"""Deterministic synthetic tables (seed=42 semantics, FIXTURES.md).

The ``images`` fact table has EXACTLY the BASELINE.json input_hint shape:
``(image_id string, bytes binary, w int, h int, fmt string, caption
string, phash long)``.  Generation is distributed — ``spark.range(n)``
→ ``mapInPandas`` with per-row deterministic content keyed by the row
index — so the generator itself scales to arbitrary row counts (the
10^12-scale story: generation is embarrassingly parallel, no driver
materialization).

Capture locations are NOT stored: they derive from ``phash`` via the
FIXTURES.md rule (see ``functions.native.lon_from_phash``), keeping the
driver schema exactly 7 columns.

``skew`` mode concentrates ~30% of points into 3 hot zoom-15 cells
(dense-urban skew) to exercise the salted spatial join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xutil_spark.kernels import codec as K_codec
from xutil_spark.kernels import geometry as K_geom
from xutil_spark.kernels import tiles as K_tiles

IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("caption", T.StringType(), False),
    T.StructField("phash", T.LongType(), False),
])

_WS = ["tile", "spark", "join", "cell", "raster", "vector", "shard", "skew"]
_W_CYCLE = [16, 32, 64]
_H_CYCLE = [16, 24, 48]
_FMT_CYCLE = ["raw", "png"]

# three "urban" hot cells (zoom-15 tiles around Chinese metros) for skew mode
_HOT = [(121.4737, 31.2304), (116.4074, 39.9042), (113.2644, 23.1291)]


def splitmix64(i: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix (public splitmix64 constants)."""
    z = (np.asarray(i, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return (z ^ (z >> np.uint64(31))).astype(np.int64)


def _pixels(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic w×h RGB gradient + hash-noise pattern keyed by i."""
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
    g = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
    b = ((xx * 31 + yy * 17 + i) % 256).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


def caption_for(i: int) -> str:
    return f"caption {i} " + " ".join(
        _WS[(i + k) % len(_WS)] for k in range(3)
    )


def pixels_for(i: int) -> np.ndarray:
    return _pixels(i, _W_CYCLE[i % 3], _H_CYCLE[i % 3])


def phash_for(i, skew: bool = False) -> np.ndarray:
    """phash = splitmix64(i); in skew mode 30% of rows get a phash whose
    low 40 bits re-derive to a location inside one of 3 hot cells."""
    i = np.asarray(i, dtype=np.int64)
    ph = splitmix64(i)
    if not skew:
        return ph
    hot_mask = (i % 10) < 3  # 30% of rows
    hot_idx = (i % 3).astype(np.int64)
    # jitter inside the middle 40% of each hot z15 tile so quantization
    # to the 20-bit phash grid can't push points across the tile edge
    hot_cells = np.array([
        int(K_tiles.cell_encode(p[0], p[1], 15)) for p in _HOT
    ], dtype=np.int64)
    w, s, e, n = K_tiles.cell_bounds(hot_cells[hot_idx])
    jit_x = (splitmix64(i * 7 + 1) & 0xFFFF).astype(np.float64) / 65536.0
    jit_y = (splitmix64(i * 13 + 5) & 0xFFFF).astype(np.float64) / 65536.0
    lon = w + (0.3 + 0.4 * jit_x) * (e - w)
    lat = s + (0.3 + 0.4 * jit_y) * (n - s)
    lo_bits = np.clip(((lon - 73.5) / 61.0) * 1048576.0, 0, 1048575).astype(np.int64)
    hi_bits = np.clip(((lat - 18.2) / 35.3) * 1048576.0, 0, 1048575).astype(np.int64)
    hot_ph = (ph & ~np.int64(0xFFFFFFFFFF)) | (hi_bits << 20) | lo_bits
    return np.where(hot_mask, hot_ph, ph)


def images_table(
    spark: SparkSession,
    n: int,
    skew: bool = False,
    partitions: int | None = None,
    with_bytes: bool = True,
) -> DataFrame:
    """Distributed deterministic images table (input_hint schema)."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)
    base = spark.range(0, n, 1, parts)
    sk = bool(skew)
    wb = bool(with_bytes)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            idx = b["id"].to_numpy(np.int64)
            ph = phash_for(idx, skew=sk)
            rows = {
                "image_id": [f"img{int(i):012d}" for i in idx],
                "w": [_W_CYCLE[int(i) % 3] for i in idx],
                "h": [_H_CYCLE[int(i) % 3] for i in idx],
                "fmt": [_FMT_CYCLE[int(i) % 2] for i in idx],
                "caption": [caption_for(int(i)) for i in idx],
                "phash": ph,
            }
            if wb:
                rows["bytes"] = [
                    K_codec.encode_image(pixels_for(int(i)), _FMT_CYCLE[int(i) % 2])
                    for i in idx
                ]
            else:
                rows["bytes"] = [b""] * len(idx)
            df = pd.DataFrame(rows)
            yield df[["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]]

    return base.mapInPandas(gen, schema=IMAGES_SCHEMA)


TILES_SCHEMA = T.StructType([
    T.StructField("tile_id", T.StringType(), False),
    T.StructField("zoom", T.IntegerType(), False),
    T.StructField("cell", T.LongType(), False),
    T.StructField("wkt", T.StringType(), False),
])


def tiles_table(
    spark: SparkSession,
    zoom: int = 10,
    bbox: tuple[float, float, float, float] = (73.5, 18.2, 134.5, 53.5),
    margin_tiles: int = 2,
    sample_stride: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """Tile polygon dimension table covering ``bbox`` at ``zoom``.

    Generated DISTRIBUTED (spark.range over the x×y grid → mapInPandas
    for WKT via Tile2Wgs, gis.go:269-275) so city-scale z15 dims and
    continent-scale z10 dims both build without driver materialization.
    ``sample_stride > 1`` keeps every stride-th tile per axis (sparse
    coverage → exercises the no-match/anti-join path).
    """
    x1, y1 = K_tiles.wgs2tile(np.float64(bbox[0]), np.float64(bbox[3]), zoom)
    x2, y2 = K_tiles.wgs2tile(np.float64(bbox[2]), np.float64(bbox[1]), zoom)
    x_lo, y_lo = int(x1) - margin_tiles, int(y1) - margin_tiles
    xs = np.arange(x_lo, int(x2) + margin_tiles + 1, sample_stride)
    ys = np.arange(y_lo, int(y2) + margin_tiles + 1, sample_stride)
    nx, ny = len(xs), len(ys)
    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)
    base = spark.range(0, nx * ny, 1, min(parts, max(nx * ny // 10000, 1) or 1))
    stride, z = int(sample_stride), int(zoom)
    xlo, ylo, nyv = int(xs[0]), int(ys[0]), ny

    def gen(batches):
        for b in batches:
            idx = b["id"].to_numpy(np.int64)
            gx = xlo + (idx // nyv) * stride
            gy = ylo + (idx % nyv) * stride
            cells = K_tiles.cell_pack(gx, gy, z)
            lat_n, lng_w = K_tiles.tile2wgs(gx, gy, z)
            lat_s, lng_e = K_tiles.tile2wgs(gx + 1, gy + 1, z)
            yield pd.DataFrame({
                "tile_id": [f"z{z}x{int(x)}y{int(y)}" for x, y in zip(gx, gy)],
                "zoom": np.full(len(gx), z, dtype=np.int32),
                "cell": cells,
                "wkt": [
                    f"POLYGON(({w} {s}, {e} {s}, {e} {n}, {w} {n}, {w} {s}))"
                    for w, s, e, n in zip(lng_w, lat_s, lng_e, lat_n)
                ],
            })

    return base.mapInPandas(gen, schema=TILES_SCHEMA)


REF_POINTS_SCHEMA = T.StructType([
    T.StructField("ref_id", T.StringType(), False),
    T.StructField("lon", T.DoubleType(), False),
    T.StructField("lat", T.DoubleType(), False),
    T.StructField("category", T.StringType(), False),
])

_CATS = ["food", "retail", "transit", "park", "school", "office", "hotel", "clinic"]


def _halton(i: np.ndarray, base: int) -> np.ndarray:
    """Deterministic low-discrepancy sequence (standard Halton)."""
    i = np.asarray(i, dtype=np.int64) + 1
    f = np.ones(len(i), dtype=np.float64)
    r = np.zeros(len(i), dtype=np.float64)
    work = i.copy()
    while np.any(work > 0):
        f = f / base
        r = r + f * (work % base)
        work = work // base
    return r


def ref_points_table(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """kNN reference points: halton sequence over the China bbox."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)
    base = spark.range(0, n, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            idx = b["id"].to_numpy(np.int64)
            yield pd.DataFrame({
                "ref_id": [f"poi{int(j):08d}" for j in idx],
                "lon": 73.5 + _halton(idx, 2) * 61.0,
                "lat": 18.2 + _halton(idx, 3) * 35.3,
                "category": [_CATS[int(j) % len(_CATS)] for j in idx],
            })

    return base.mapInPandas(gen, schema=REF_POINTS_SCHEMA)


def irregular_tiles_table(spark: SparkSession, zoom: int = 12) -> DataFrame:
    """Non-rectangular polygon dim table (hexagon-ish + one with a hole,
    modeled on the README corpus README.md:27) for ray-cast PiP joins."""
    centers = [(121.47, 31.23), (116.40, 39.90), (113.26, 23.13),
               (104.07, 30.67), (108.94, 34.34), (114.06, 22.54)]
    rows = []
    for k, (cx, cy) in enumerate(centers):
        r = 0.08 + 0.02 * (k % 3)
        ang = np.linspace(0, 2 * np.pi, 7)[:-1]
        ring = [(cx + r * np.cos(a), cy + 0.8 * r * np.sin(a)) for a in ang]
        ring.append(ring[0])
        outer = ", ".join(f"{x:.6f} {y:.6f}" for x, y in ring)
        if k == 0:
            hr = r * 0.35
            hole_ring = [(cx + hr * np.cos(a), cy + 0.8 * hr * np.sin(a)) for a in ang]
            hole_ring.append(hole_ring[0])
            hole = ", ".join(f"{x:.6f} {y:.6f}" for x, y in hole_ring)
            wkt = f"POLYGON(({outer}),({hole}))"
        else:
            wkt = f"POLYGON(({outer}))"
        rows.append((f"poly{k}", zoom, wkt))
    pdf = pd.DataFrame(rows, columns=["poly_id", "zoom", "wkt"])
    return spark.createDataFrame(pdf)


def with_location(images: DataFrame) -> DataFrame:
    """Attach the derived capture location (lon, lat) columns — native
    JVM expressions over phash, no UDF (functions.native)."""
    from xutil_spark.functions import native

    return images.withColumn("lon", native.lon_from_phash("phash")).withColumn(
        "lat", native.lat_from_phash("phash")
    )


def region_rows() -> list:
    """Full-cardinality synthetic admin-region dim (~3.2k rows)
    mirroring the GB/T 2260 / ChinaAddr.json SHAPE the reference ships
    (idcard.go:40-53): 31 real province code points, per-province
    city codes ``PPcc00``, per-city district codes ``PPccdd``; names
    are synthetic ASCII (the reference data file is not copied — what
    matters for the engine is 3-level prefix-join parity at real
    cardinality, not the Chinese name strings)."""
    prov_codes = [11, 12, 13, 14, 15, 21, 22, 23, 31, 32, 33, 34, 35,
                  36, 37, 41, 42, 43, 44, 45, 46, 50, 51, 52, 53, 54,
                  61, 62, 63, 64, 65]
    rows = []
    for p in prov_codes:
        rows.append((f"{p}0000", f"Province{p}"))
        n_cities = 4 + p % 6
        for c in range(1, n_cities + 1):
            rows.append((f"{p}{c:02d}00", f"P{p} City{c}"))
            n_dist = 10 + (p * 7 + c) % 11
            for d in range(1, n_dist + 1):
                rows.append((f"{p}{c:02d}{d:02d}", f"P{p} C{c} District{d}"))
    return rows
