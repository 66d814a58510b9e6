"""Seeded benchmark inputs, written as parquet and described by their
measured properties.

Rows come from the engine's own generators in ``xutil_spark.data.synth``
(``phash_for``, ``pixels_for``, ``caption_for`` and the codec the
``images_table`` generator uses). The seed shifts the row key, so each
seed gives other pixels, prints and locations with the same mix:
half PNG, 30% of locations in three hot z15 cells, and a block of
byte-identical rows (the duplicate-print clique).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from perfbench.host import source_digest
from xutil_spark.data import synth
from xutil_spark.kernels import codec as K_codec
from xutil_spark.kernels import tiles as K_tiles
from xutil_spark.plans.layout import cluster_spatially

POINTS_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("caption", T.StringType(), False),
    T.StructField("phash", T.LongType(), False),
])

IMAGES_ARROW = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()),
])
assert IMAGES_ARROW.names == synth.IMAGES_SCHEMA.names

# the three hot z15 cells of synth's skew mode
HOT_CELLS = np.array([int(K_tiles.cell_encode(lon, lat, 15)) for lon, lat in synth._HOT])


# inputs kept on disk for later runs in the same checkout
CACHE_KEEP = 6


def cached(root: str, key: str, write) -> tuple[str, float]:
    """Path of input ``key`` under ``root``, calling ``write(path)`` to
    build it when absent; also the seconds the build took (0 when the
    input was already on disk). The oldest inputs beyond ``CACHE_KEEP``
    are deleted."""
    path = os.path.join(root, key)
    if os.path.isdir(path):
        os.utime(path)
        return path, 0.0
    tmp = f"{path}.tmp{os.getpid()}"
    t = time.perf_counter()
    write(tmp)
    os.rename(tmp, path)  # a killed run leaves no half-written input
    took = time.perf_counter() - t
    done = sorted((e for e in os.scandir(root) if e.is_dir() and ".tmp" not in e.name),
                  key=lambda e: e.stat().st_mtime)
    for e in done[:-CACHE_KEEP]:
        shutil.rmtree(e.path, ignore_errors=True)
    return path, took


def code_digest(root: str) -> str:
    """Digest of the engine and of this generator: a cached input is
    reused only by the code that wrote it."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(source_digest(root).encode() + fh.read()).hexdigest()[:12]


def key_base(seed: int) -> int:
    """First row key of a seed: a multiple of 30, so that the generator's
    key cycles (format mod 2, size and hot cell mod 3, hot rows mod 10)
    start in the same phase for every seed and the clique rows have the
    same format, size and location class. Keys stay far below 2**62, so
    the generator's int64 arithmetic never wraps."""
    return 30 * 10_000_019 * (int(seed) % 1_000_003)


def write_images(path: str, n: int, clique: int, seed: int, files: int) -> None:
    """``n`` images in the ``synth.IMAGES_SCHEMA`` shape, skewed
    locations, and ``clique`` byte-identical copies of the seed's first
    row (unique ids), as ``files`` parquet files of consecutive rows.
    Written with pyarrow; ``pixels_for`` repeats its images across keys,
    so each distinct image is encoded once."""
    key = key_base(seed) + np.where(np.arange(n) < clique, 0, np.arange(n))
    encoded: dict[tuple, bytes] = {}

    def blob(k: int) -> bytes:
        px, fmt = synth.pixels_for(k), synth._FMT_CYCLE[k % 2]
        memo = (fmt, px.shape, px.tobytes())
        if memo not in encoded:
            encoded[memo] = K_codec.encode_image(px, fmt)
        return encoded[memo]

    keys = key.tolist()
    table = pa.table({
        "image_id": [f"img{i:012d}" for i in range(n)],
        "bytes": [blob(k) for k in keys],
        "w": [synth._W_CYCLE[k % 3] for k in keys],
        "h": [synth._H_CYCLE[k % 3] for k in keys],
        "fmt": [synth._FMT_CYCLE[k % 2] for k in keys],
        "caption": [synth.caption_for(k) for k in keys],
        "phash": synth.phash_for(key, skew=True),
    }, schema=IMAGES_ARROW)
    os.makedirs(path)
    cuts = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def write_points(spark: SparkSession, path: str, n: int, seed: int,
                 files: int) -> None:
    """``n`` points (image_id, caption, phash-derived lon/lat), written
    through ``cluster_spatially`` so each file is a compact region."""
    key = key_base(seed) + np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame({
        "image_id": [f"pt{i:012d}" for i in range(n)],
        "caption": [synth.caption_for(int(k)) for k in key],
        "phash": synth.phash_for(key, skew=True),
    })
    pts = synth.with_location(spark.createDataFrame(pdf, schema=POINTS_SCHEMA)).drop("phash")
    cluster_spatially(pts, num_files=files).write.mode("overwrite").parquet(path)


def lonlat_from_phash(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The FIXTURES.md location rule, as ``native.lon/lat_from_phash``."""
    phash = np.asarray(phash, dtype=np.int64)
    lon = 73.5 + (phash & 0xFFFFF).astype(np.float64) / 1048576.0 * 61.0
    lat = 18.2 + ((phash >> 20) & 0xFFFFF).astype(np.float64) / 1048576.0 * 35.3
    return lon, lat


def hot_share(lon: np.ndarray, lat: np.ndarray) -> float:
    cells = K_tiles.cell_encode(lon, lat, 15)
    return float(np.isin(cells, HOT_CELLS).mean())


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def warm_page_cache(path: str) -> int:
    """Read every file under ``path`` once, so the timed scans find the
    input in the page cache."""
    n = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                while chunk := fh.read(1 << 20):
                    n += len(chunk)
    return n


def dhash_pixels(px: np.ndarray) -> int:
    """Reference dHash of one decoded image: the integer gray, 9×8
    nearest-neighbour resample and bit order ``raster.images.dhash``
    documents."""
    h, w = px.shape[:2]
    g = (px.astype(np.int64) @ np.array([299, 587, 114])) // 1000
    G = g[np.arange(8) * h // 8][:, np.arange(9) * w // 9]
    bits = (G[:, :-1] > G[:, 1:]).reshape(-1)
    return int(np.sum(np.left_shift(np.int64(1), np.arange(64, dtype=np.int64))[bits]))


class ImageFacts:
    """Driver-side facts about an images parquet, read with pyarrow:
    per-row ids, formats and locations, and per distinct blob its
    reference dHash. The checks and the input properties use these."""

    def __init__(self, path: str):
        t = pq.read_table(path, columns=["image_id", "bytes", "w", "h", "fmt", "phash"])
        self.rows = t.num_rows
        self.ids = np.asarray(t.column("image_id").to_pylist(), dtype=object)
        self.fmt = np.asarray(t.column("fmt").to_pylist(), dtype=object)
        self.phash = t.column("phash").to_numpy()
        self.lon, self.lat = lonlat_from_phash(self.phash)
        blobs = t.column("bytes").to_pylist()
        digests = [hashlib.blake2b(b, digest_size=16).digest() for b in blobs]
        first: dict[bytes, int] = {}
        blob_of = np.empty(self.rows, dtype=np.int64)
        for i, dg in enumerate(digests):
            blob_of[i] = first.setdefault(dg, len(first))
        w = t.column("w").to_numpy()
        h = t.column("h").to_numpy()
        firsts = np.full(len(first), -1, dtype=np.int64)
        for i in range(self.rows - 1, -1, -1):
            firsts[blob_of[i]] = i
        self.blob_print = np.array([
            dhash_pixels(K_codec.decode_image(blobs[i], int(w[i]), int(h[i]), self.fmt[i]))
            for i in firsts
        ], dtype=np.int64)
        self.print_of = self.blob_print[blob_of]
        self.largest_clique = int(np.bincount(blob_of).max())

    def properties(self, path: str) -> dict:
        return {
            "rows": self.rows,
            "bytes": dir_bytes(path),
            "png_share": float(np.mean(self.fmt == "png")),
            "hot_cell_share": hot_share(self.lon, self.lat),
            "clique_share": self.largest_clique / self.rows,
            "distinct_prints": int(len(np.unique(self.print_of))),
        }


class PointFacts:
    """Driver-side copy of a points parquet (ids and locations)."""

    def __init__(self, path: str):
        t = pq.read_table(path, columns=["image_id", "lon", "lat"])
        self.rows = t.num_rows
        self.ids = np.asarray(t.column("image_id").to_pylist(), dtype=object)
        self.lon = t.column("lon").to_numpy()
        self.lat = t.column("lat").to_numpy()

    def properties(self, path: str) -> dict:
        return {
            "rows": self.rows,
            "bytes": dir_bytes(path),
            "png_share": 0.0,
            "hot_cell_share": hot_share(self.lon, self.lat),
            "clique_share": 0.0,
            "distinct_prints": 0,
        }
