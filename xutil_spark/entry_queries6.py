"""Round-3 batch 2: computed-VALUES oracles for the image / AV
multimodal queries (previously rows-only).

The synthetic media tables (`data.synth`, `data.synth_av`) are
deterministic functions of the row id, so every decoded-pixel /
acoustic feature has a closed-form expected value.  Each oracle here
REGENERATES the media content with an independently coded scalar
pure-Python implementation (plain-int splitmix64, math.* trig, nested
pixel loops — none of the engine's numpy / codec code), computes the
expected features, and emits them as a VALUES table.  That closes the
loop end-to-end through Spark: a bug anywhere in the engine path
(PNG/raw encode → parquet-free mapInPandas decode → vectorized
feature math) surfaces as a driver hash mismatch.

Reduction order note (documented deliberately): CONTENT generation in
these oracles is fully independent scalar code; the final mean / rms
reductions for audio and video run through the same numpy reduction
calls the engine uses (`np.mean` pairwise summation) over the
scalar-built arrays.  Sharing the reduction algorithm removes the
~1e-11 pairwise-vs-sequential summation jitter that could flip a
6-dp rounding at the driver's hash compare, while keeping every
GENERATED byte and every feature FORMULA independently derived.  The
integer-exact oracles (image stats / resize md5) are pure scalar all
the way down.

Reference scope: these queries are engine additions beyond xvill/xutil
(the reference has no media decode; its closest surface is the byte
codecs in zip.go / crypto.go) — they implement the BASELINE.json
input_hint multimodal contract.
"""

from __future__ import annotations

import hashlib
import math

from xutil_spark.entry_queries import (
    _PTS_SQL, _await_stream, _cell_sql, _points, _read, _utc,
    q_images_decode_stats, q_knn_images_refs,
)
from xutil_spark.entry_queries3 import q_image_resize
from xutil_spark.entry_queries4 import q_audio_features, q_video_frames

_M64 = (1 << 64) - 1

# independent literal copies of the generator's parameter cycles
# (data/synth.py:44-46, synth_av.py) — a drift in either side is a
# driver mismatch, which is the point
_W_CYC = (16, 32, 64)
_H_CYC = (16, 24, 48)
_FMT_CYC = ("raw", "png")
_CAP_WORDS = ("tile", "spark", "join", "cell", "raster", "vector", "shard", "skew")


def _sm64(i: int) -> int:
    """Scalar splitmix64 (public constants), signed-int64 result —
    plain Python ints, independent of the numpy vector version."""
    z = (i + 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    z = z ^ (z >> 31)
    return z - (1 << 64) if z >= (1 << 63) else z


def _caption(i: int) -> str:
    return f"caption {i} " + " ".join(
        _CAP_WORDS[(i + k) % len(_CAP_WORDS)] for k in range(3)
    )


def _fmt_f(x: float) -> str:
    """Full-precision DOUBLE literal for DuckDB.  repr() round-trips the
    IEEE double, and the exponent suffix forces DuckDB to parse it as
    DOUBLE directly — a bare decimal literal parses as DECIMAL first,
    and DECIMAL→DOUBLE double-rounds the last bit (measured: literal
    125.08282947540283 arrives as …285)."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s) else s + "e0"


# ------------------------------------------------------- image stats


def o_images_decode_stats() -> str:
    """Golden VALUES for decode_stats over images_table(n=2000).

    Channel means are integer-exact: every pixel is an integer, channel
    sums stay far below 2^53, so numpy's mean and Python's exact-int
    sum/count agree bitwise — the oracle needs no float tolerance.
    Per-channel sums are cached on the generator's short parameter
    cycles (r/g depend only on i%3, b on (i%3, i%256))."""
    sum_rg: dict[int, tuple[int, int]] = {}
    sum_b: dict[tuple[int, int], int] = {}
    rows = []
    for i in range(2000):
        c = i % 3
        w, h = _W_CYC[c], _H_CYC[c]
        if c not in sum_rg:
            sum_rg[c] = (
                h * sum(x * 255 // (w - 1) for x in range(w)),
                w * sum(y * 255 // (h - 1) for y in range(h)),
            )
        kb = (c, i % 256)
        if kb not in sum_b:
            sum_b[kb] = sum(
                (x * 31 + y * 17 + i) % 256
                for y in range(h) for x in range(w)
            )
        sr, sg = sum_rg[c]
        sb = sum_b[kb]
        n = w * h
        rows.append(
            f"('img{i:012d}',{w},{h},'{_FMT_CYC[i % 2]}','{_caption(i)}',"
            f"{_sm64(i)},{round(sr / n, 6)},{round(sg / n, 6)},"
            f"{round(sb / n, 6)},{sr + sg + sb})"
        )
    vals = ",".join(rows)
    return f"""
SELECT image_id, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h, fmt,
       caption, CAST(phash AS BIGINT) AS phash,
       CAST(mean_r AS DOUBLE) AS mean_r, CAST(mean_g AS DOUBLE) AS mean_g,
       CAST(mean_b AS DOUBLE) AS mean_b, CAST(px_sum AS BIGINT) AS px_sum
FROM (VALUES {vals})
  AS s(image_id, w, h, fmt, caption, phash, mean_r, mean_g, mean_b, px_sum)
"""


# ------------------------------------------------------- image resize


def o_image_resize() -> str:
    """Golden VALUES for decode → 8×8 nearest-neighbor resize →
    raw re-encode → md5.  Pure scalar: the sampled source pixels come
    straight from the generator's gradient formula, the digest from
    hashlib — bit-exact, no float involved."""
    rows = []
    digest_cache: dict[tuple[int, int], str] = {}
    for i in range(2000):
        c = i % 3
        w, h = _W_CYC[c], _H_CYC[c]
        kd = (c, i % 256)  # pixel bytes depend on i only via i%256 (b channel)
        if kd not in digest_cache:
            buf = bytearray()
            for y in (yy * h // 8 for yy in range(8)):
                for x in (xx * w // 8 for xx in range(8)):
                    buf.append(x * 255 // (w - 1))
                    buf.append(y * 255 // (h - 1))
                    buf.append((x * 31 + y * 17 + i) % 256)
            digest_cache[kd] = hashlib.md5(bytes(buf)).hexdigest()
        rows.append(
            f"('img{i:012d}',8,8,'raw','{digest_cache[kd]}','{_caption(i)}')"
        )
    vals = ",".join(rows)
    return f"""
SELECT image_id, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h, fmt,
       px_md5, caption
FROM (VALUES {vals}) AS s(image_id, w, h, fmt, px_md5, caption)
"""


# ---------------------------------------------------------- audio


def o_audio_features() -> str:
    """Golden VALUES for audio_features over audio_table(n=1000).

    PCM regeneration is scalar: math.sin carrier + plain-int splitmix
    noise, truncation to int16 via int() (toward zero, as astype).
    The rms/zcr reductions then run through np.mean over the
    scalar-built arrays (see module docstring)."""
    import numpy as np

    n_s, sr = 4000, 8000
    rows = []
    two_pi = 2.0 * math.pi
    for i in range(1000):
        freq = 55.0 * (1 + (i % 32))
        base_seed = i * 1_000_003
        mono = np.empty(n_s, dtype=np.float64)
        for j in range(n_s):
            base = 0.5 * math.sin(two_pi * freq * (j / 8000.0))
            noise = ((_sm64(j + base_seed)) / 2**63 - 1.0) * 0.05
            v = base + noise
            if v < -0.999:
                v = -0.999
            elif v > 0.999:
                v = 0.999
            mono[j] = int(v * 32768.0) / 32768.0
        zc = float(np.mean((mono[1:] < 0.0) != (mono[:-1] < 0.0)))
        rms = float(np.sqrt(np.mean(mono * mono)))
        peak = float(np.max(np.abs(mono)))
        rows.append(
            f"('clip{i:06d}','synthetic clip {i}',{round(n_s / sr, 6)},"
            f"{round(rms, 6)},{round(peak, 6)},{round(zc, 6)})"
        )
    vals = ",".join(rows)
    return f"""
SELECT clip_id, caption, CAST(duration_sec AS DOUBLE) AS duration_sec,
       CAST(rms AS DOUBLE) AS rms, CAST(peak AS DOUBLE) AS peak,
       CAST(zero_cross_rate AS DOUBLE) AS zero_cross_rate
FROM (VALUES {vals})
  AS s(clip_id, caption, duration_sec, rms, peak, zero_cross_rate)
"""


# ---------------------------------------------------------- video


def o_video_frames() -> str:
    """Golden VALUES for frame_sample(every_n=10) over
    video_table(n=200): frames 0/10/20, mean luminance per frame.
    Pixels regenerate scalar from the moving-gradient formula; the
    (h,w,3) @ coeff luminance + mean mirror the engine's reduction
    shape over the scalar-built array."""
    import numpy as np

    w, h, n_frames, fps = 32, 24, 30, 10.0
    coeff = np.array([0.299, 0.587, 0.114])
    rows = []
    for i in range(200):
        for f in range(0, n_frames, 10):
            px = np.empty((h, w, 3), dtype=np.float64)
            for y in range(h):
                for x in range(w):
                    px[y, x, 0] = (x * 3 + f * 7 + i) % 256
                    px[y, x, 1] = (y * 5 + f * 11 + i * 3) % 256
                    px[y, x, 2] = (x + y + f * 13 + i * 5) % 256
            lum = float((px @ coeff).mean())
            rows.append(
                f"('vid{i:06d}','synthetic video {i}',{f},"
                f"{round(f / fps, 6)},{round(lum, 6)})"
            )
    vals = ",".join(rows)
    return f"""
SELECT video_id, caption, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(ts_sec AS DOUBLE) AS ts_sec, CAST(mean_lum AS DOUBLE) AS mean_lum
FROM (VALUES {vals}) AS s(video_id, caption, frame_idx, ts_sec, mean_lum)
"""


# ------------------------------------------------- kNN on image locations


def o_knn_images_refs() -> str:
    """Oracle for the north-rule flagship: kNN(k=3) of 5000 image
    capture locations (derived from phash per FIXTURES.md §1) against
    500 halton reference points.  Locations materialize as VALUES from
    the scalar splitmix64 / halton reimplementations; the kNN itself is
    pure SQL (cross join + QUALIFY) with the same haversine and
    (round(dist,3), ref_id) tie order as o_knn_k3."""
    pts = []
    for i in range(5000):
        ph = _sm64(i)
        lon = 73.5 + ((ph & 0xFFFFF) / 1048576.0) * 61.0
        lat = 18.2 + (((ph >> 20) & 0xFFFFF) / 1048576.0) * 35.3
        pts.append(f"('img{i:012d}',{_fmt_f(lon)},{_fmt_f(lat)})")

    def halton(i: int, base: int) -> float:
        f, r, k = 1.0, 0.0, i + 1
        while k > 0:
            f = f / base
            r = r + f * (k % base)
            k = k // base
        return r

    refs = []
    for j in range(500):
        lon = 73.5 + halton(j, 2) * 61.0
        lat = 18.2 + halton(j, 3) * 35.3
        refs.append(f"('poi{j:08d}',{_fmt_f(lon)},{_fmt_f(lat)})")

    hav = (
        "2.0 * 6371000.0 * atan2("
        " sqrt(sin((r.lat - p.lat) * pi() / 360.0) * sin((r.lat - p.lat) * pi() / 360.0)"
        "  + sin((r.lon - p.lon) * pi() / 360.0) * sin((r.lon - p.lon) * pi() / 360.0)"
        "    * cos(p.lat * pi() / 180.0) * cos(r.lat * pi() / 180.0)),"
        " sqrt(1.0 - (sin((r.lat - p.lat) * pi() / 360.0) * sin((r.lat - p.lat) * pi() / 360.0)"
        "  + sin((r.lon - p.lon) * pi() / 360.0) * sin((r.lon - p.lon) * pi() / 360.0)"
        "    * cos(p.lat * pi() / 180.0) * cos(r.lat * pi() / 180.0))))"
    )
    return f"""
WITH pts AS (SELECT * FROM (VALUES {",".join(pts)}) AS t(image_id, lon, lat)),
     refs AS (SELECT * FROM (VALUES {",".join(refs)}) AS t(ref_id, lon, lat))
SELECT image_id, ref_id,
       ROW_NUMBER() OVER (PARTITION BY image_id
                          ORDER BY ROUND({hav}, 3), ref_id) AS rank,
       ROUND({hav}, 3) AS dist_m
FROM pts p CROSS JOIN refs r
QUALIFY rank <= 3
"""


# ------------------------------------------------- image dHash near-dup


def _dhash_py(i: int) -> int:
    """Scalar dHash of synthetic image ``i`` straight from the generator
    formula — no decode, no numpy: integer gray of the 9×8 sampled
    grid, row-major difference bits."""
    c = i % 3
    w, h = _W_CYC[c], _H_CYC[c]
    yi = [yy * h // 8 for yy in range(8)]
    xi = [xx * w // 9 for xx in range(9)]
    fp = 0
    for by, y in enumerate(yi):
        g_row = []
        for x in xi:
            r = x * 255 // (w - 1)
            g = y * 255 // (h - 1)
            b = (x * 31 + y * 17 + i) % 256
            g_row.append((299 * r + 587 * g + 114 * b) // 1000)
        for bx in range(8):
            if g_row[bx] > g_row[bx + 1]:
                fp |= 1 << (by * 8 + bx)
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def q_image_dhash_pairs(spark, sf_dir):
    """Perceptual image near-dup: decode → 64-bit dHash → banded
    hamming self-join (exact for t ≤ bands−1) — the image side of the
    SimHash text pipeline, over the input_hint images table."""
    from pyspark.sql import functions as F

    from xutil_spark.data.synth import images_table
    from xutil_spark.operators.dedup import hamming_near_dup_pairs
    from xutil_spark.raster.images import dhash

    fp = dhash(images_table(spark, 2000)).localCheckpoint()
    return hamming_near_dup_pairs(fp, "dhash", "image_id",
                                  max_hamming=3, bands=4)


def o_image_dhash_pairs() -> str:
    """Ground-truth pairs: ALL (a, b) with hamming ≤ 3 over the scalar
    fingerprints (full O(n²) xor/bit_count in DuckDB — the banded join
    must reproduce it exactly by the pigeonhole argument)."""
    fps = {}
    for i in range(2000):
        kd = (i % 3, i % 256)
        if kd not in fps:
            fps[kd] = _dhash_py(i)
    rows = ",".join(
        f"('img{i:012d}',{fps[(i % 3, i % 256)]})" for i in range(2000)
    )
    return f"""
WITH fp AS (SELECT * FROM (VALUES {rows}) AS t(image_id, dhash))
SELECT a.image_id AS a, b.image_id AS b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.image_id < b.image_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
"""


# ---------------------------------------------------------- geohash


def _geohash_py(lon: float, lat: float, precision: int) -> str:
    """Scalar geohash: shared quantization arithmetic (see
    functions/geohash._quant — float identical on both sides), then an
    independent MSB-first interleave loop + base32 digits (vs the
    engine's Morton magic-mask spread)."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    xq = min(max(int(math.floor(((lon - -180.0) / 360.0) * float(1 << 30))), 0),
             (1 << 30) - 1)
    yq = min(max(int(math.floor(((lat - -90.0) / 180.0) * float(1 << 30))), 0),
             (1 << 30) - 1)
    code = 0
    for k in range(29, -1, -1):
        code = (code << 1) | ((xq >> k) & 1)
        code = (code << 1) | ((yq >> k) & 1)
    code >>= 60 - 5 * precision
    return "".join(
        b32[(code >> (5 * (precision - 1 - i))) & 31] for i in range(precision)
    )


def q_geohash_cells(spark, sf_dir):
    """Sampled points → geohash-7 (≈150 m cell) JVM-side, geohash-4
    derived as a string PREFIX (the truncation identity — rollups are
    substrings, never re-encodes)."""
    from pyspark.sql import functions as F

    from xutil_spark.functions.geohash import geohash

    _utc(spark)
    pts = (
        _points(spark, sf_dir)
        .filter(F.col("pid") % 89 == 0)
        .select("pid", "lon", "lat")
        .distinct()  # lineitem carries exact duplicate rows at every SF
    )
    return pts.select(
        "pid",
        geohash("lon", "lat", 7).alias("gh7"),
        F.substring(geohash("lon", "lat", 7), 1, 4).alias("gh4"),
    )


def o_geohash_cells() -> str:
    """Golden VALUES: scalar geohash at precisions 7 AND 4 directly —
    the direct 4-digit encode cross-checks the engine's prefix
    truncation against a fresh quantization."""
    import duckdb as _dd

    pts_sql = """
SELECT l_orderkey * 10 + l_linenumber AS pid,
       73.5 + ((l_orderkey * 2654435761 + l_linenumber * 40503) % 1048576) / 1048576.0 * 61.0 AS lon,
       18.2 + ((l_orderkey * 1597334677 + l_linenumber * 69697) % 1048576) / 1048576.0 * 35.3 AS lat
FROM read_parquet('/root/testdata/sf0.01/lineitem.parquet')
"""
    rows = _dd.sql(
        f"SELECT DISTINCT pid, lon, lat FROM ({pts_sql}) "
        "WHERE pid % 89 = 0 ORDER BY pid"
    ).fetchall()
    vals = ",".join(
        f"({p},'{_geohash_py(lo, la, 7)}','{_geohash_py(lo, la, 4)}')"
        for p, lo, la in rows
    )
    return f"""
SELECT CAST(pid AS BIGINT) AS pid, gh7, gh4
FROM (VALUES {vals}) AS s(pid, gh7, gh4)
"""


# -------------------------------------------------------- trajectories


_PTS_SQL_01 = """
SELECT l_orderkey * 10 + l_linenumber AS pid,
       73.5 + ((l_orderkey * 2654435761 + l_linenumber * 40503) % 1048576) / 1048576.0 * 61.0 AS lon,
       18.2 + ((l_orderkey * 1597334677 + l_linenumber * 69697) % 1048576) / 1048576.0 * 35.3 AS lat
FROM read_parquet('/root/testdata/sf0.01/lineitem.parquet')
"""


def _traj_rows():
    """The sf0.01 trajectory corpus: sampled points grouped into 97
    tracks, ordered by pid within each track (same derivation as the
    Spark side, computed via DuckDB)."""
    import duckdb as _dd

    return _dd.sql(
        f"SELECT DISTINCT pid, lon, lat FROM ({_PTS_SQL_01}) "
        "WHERE pid % 7 = 0 ORDER BY pid"
    ).fetchall()


def _polyline_py(pts, precision: int = 5) -> str:
    """Scalar encoded-polyline (public Google spec) — per-value loops,
    independent of the engine's vectorized diff/zigzag path."""
    scale = 10.0 ** precision
    out = []
    plat = plon = 0
    for lat, lon in pts:
        ilat = int(math.floor(lat * scale + 0.5)) if lat >= 0 else int(
            math.ceil(lat * scale - 0.5))
        ilon = int(math.floor(lon * scale + 0.5)) if lon >= 0 else int(
            math.ceil(lon * scale - 0.5))
        for d in (ilat - plat, ilon - plon):
            v = (d << 1) ^ (d >> 63) if d >= 0 else ~(d << 1)
            while v >= 0x20:
                out.append(chr((0x20 | (v & 0x1F)) + 63))
                v >>= 5
            out.append(chr(v + 63))
        plat, plon = ilat, ilon
    return "".join(out)


def _dp_py(lat, lon, tol: float):
    """Scalar recursive Douglas-Peucker keep-mask, first-max tie rule —
    same float expression per point as the engine, scalar control
    flow."""
    n = len(lat)
    keep = [False] * n
    keep[0] = keep[n - 1] = True

    def rec(i, j):
        if j - i < 2:
            return
        x0, y0, x1, y1 = lon[i], lat[i], lon[j], lat[j]
        dx, dy = x1 - x0, y1 - y0
        seg2 = dx * dx + dy * dy
        best, bi = -1.0, -1
        for k in range(i + 1, j):
            if seg2 == 0.0:
                d2 = (lon[k] - x0) ** 2 + (lat[k] - y0) ** 2
            else:
                cross = (lon[k] - x0) * dy - (lat[k] - y0) * dx
                d2 = cross * cross / seg2
            if d2 > best:
                best, bi = d2, k
        if best > tol * tol:
            keep[bi] = True
            rec(i, bi)
            rec(bi, j)

    import sys as _sys
    old = _sys.getrecursionlimit()
    _sys.setrecursionlimit(max(old, 10000))
    try:
        rec(0, n - 1)
    finally:
        _sys.setrecursionlimit(old)
    return keep


def q_traj_polyline(spark, sf_dir):
    """Per-track Google encoded polyline: one shuffle on the track key,
    vectorized delta/zigzag encode per group."""
    from pyspark.sql import functions as F

    from xutil_spark.operators.trajectory import polyline_encode

    _utc(spark)
    pts = (
        _points(spark, sf_dir)
        .filter(F.col("pid") % 7 == 0)
        .select("pid", "lon", "lat")
        .distinct()
        .withColumn("traj_id", F.col("pid") % 97)
    )
    return polyline_encode(pts, traj_col="traj_id", order_col="pid")


def o_traj_polyline() -> str:
    rows = _traj_rows()
    tracks: dict[int, list] = {}
    for p, lo, la in rows:
        tracks.setdefault(int(p) % 97, []).append((la, lo))
    vals = ",".join(
        f"({t},{len(pts)},'{_polyline_py(pts)}')"
        for t, pts in sorted(tracks.items())
    )
    return f"""
SELECT CAST(traj_id AS BIGINT) AS traj_id,
       CAST(n_points AS INTEGER) AS n_points, polyline
FROM (VALUES {vals}) AS s(traj_id, n_points, polyline)
"""


def q_traj_simplify(spark, sf_dir):
    """Per-track Douglas-Peucker at 2° tolerance (the synthetic tracks
    are hash-jagged, so DP prunes aggressively)."""
    from pyspark.sql import functions as F

    from xutil_spark.operators.trajectory import douglas_peucker

    _utc(spark)
    pts = (
        _points(spark, sf_dir)
        .filter(F.col("pid") % 7 == 0)
        .select("pid", "lon", "lat")
        .distinct()
        .withColumn("traj_id", F.col("pid") % 97)
    )
    out = douglas_peucker(pts, tol_deg=2.0, traj_col="traj_id",
                          order_col="pid")
    return out.select("traj_id", F.col("seq").alias("pid"), "lon", "lat")


def o_traj_simplify() -> str:
    rows = _traj_rows()
    tracks: dict[int, list] = {}
    for p, lo, la in rows:
        tracks.setdefault(int(p) % 97, []).append((int(p), la, lo))
    parts = []
    for t, pts in sorted(tracks.items()):
        lat = [x[1] for x in pts]
        lon = [x[2] for x in pts]
        keep = ([True] * len(pts) if len(pts) <= 2
                else _dp_py(lat, lon, 2.0))
        for (p, la, lo), k in zip(pts, keep):
            if k:
                parts.append(f"({t},{p},{_fmt_f(lo)},{_fmt_f(la)})")
    vals = ",".join(parts)
    return f"""
SELECT CAST(traj_id AS BIGINT) AS traj_id, CAST(pid AS BIGINT) AS pid,
       CAST(lon AS DOUBLE) AS lon, CAST(lat AS DOUBLE) AS lat
FROM (VALUES {vals}) AS s(traj_id, pid, lon, lat)
"""


# ------------------------------------------------- streaming geofence


def q_streaming_geofence(spark, sf_dir):
    """Stateful streaming geofence transitions: events replayed as a
    file stream, per-event location derived from event_id (FIXTURES
    hash formula), fence assigned by a codegen'd literal-rectangle CASE
    chain, then applyInPandasWithState emits enter/exit rows on every
    per-user fence change.  Oracle: the equivalent batch lag() query."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from xutil_spark.operators.geofence import fence_assign
    from xutil_spark.streaming.stateful import streaming_geofence

    _utc(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    work = tempfile.mkdtemp(prefix="xutil_stream_fence_")
    src = f"{work}/src"
    os.makedirs(src)
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    stream = spark.readStream.schema(schema).parquet(src)
    lon = (F.lit(73.5)
           + ((F.col("event_id") * 2654435761) % 1048576).cast("double")
           / 1048576 * 61.0)
    lat = (F.lit(18.2)
           + ((F.col("event_id") * 1597334677) % 1048576).cast("double")
           / 1048576 * 35.3)
    located = stream.select(
        "user_id", "event_id", "ts", fence_assign(lon, lat).alias("fence")
    )
    out = streaming_geofence(located)
    sink, chk = f"{work}/sink", f"{work}/chk"
    q = (
        out.writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", chk)
        .outputMode("append").trigger(availableNow=True).start()
    )

    _await_stream(q, work)
    res = (
        spark.read.parquet(sink)
        .select(
            "user_id", "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "kind", "fence_id",
        )
        .localCheckpoint()
    )
    shutil.rmtree(work, ignore_errors=True)
    return res


def o_streaming_geofence() -> str:
    from xutil_spark.operators.geofence import fences_sql

    return f"""
WITH ev AS (
  SELECT user_id, event_id, ts,
         73.5 + ((event_id * 2654435761) % 1048576) / 1048576.0 * 61.0 AS lon,
         18.2 + ((event_id * 1597334677) % 1048576) / 1048576.0 * 35.3 AS lat
  FROM events
),
asn AS (
  SELECT ev.user_id, ev.event_id, ev.ts,
         COALESCE((SELECT MIN(fences.fid) FROM {fences_sql()}
                   WHERE ev.lon >= fences.w AND ev.lon < fences.e
                     AND ev.lat >= fences.s AND ev.lat < fences.n), -1) AS fence
  FROM ev
),
tr AS (
  SELECT *, lag(fence, 1, -1) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS prev
  FROM asn
)
SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       'exit' AS kind, prev AS fence_id
FROM tr WHERE prev <> fence AND prev <> -1
UNION ALL
SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       'enter' AS kind, fence AS fence_id
FROM tr WHERE prev <> fence AND fence <> -1
"""


# -------------------------------------------------- image dedup e2e


def q_image_dedup(spark, sf_dir):
    """End-to-end perceptual image DEDUP: dHash → fingerprint-collapsed
    banded hamming graph → connected components at DISTINCT-print
    cardinality → keep one image per cluster (min id) plus every
    unpaired image — the image twin of the text dup_clusters pipeline,
    over the input_hint images table.  Identical-print cliques never
    materialize as row pairs (dedup.dedup_by_fingerprint)."""
    from xutil_spark.data.synth import images_table
    from xutil_spark.operators.dedup import dedup_by_fingerprint
    from xutil_spark.raster.images import dhash

    img = images_table(spark, 2000, with_bytes=True)
    fp = dhash(img).localCheckpoint()
    survivors = dedup_by_fingerprint(fp, "dhash", id_col="image_id",
                                     max_hamming=3, bands=4)
    return survivors.select("image_id")


def o_image_dedup() -> str:
    """Recursive-CTE replay: same scalar-dHash pair set, reachability
    min-label per node, survivors = non-losers (min reachable ≥ self)
    ∪ unpaired images."""
    fps = {}
    for i in range(2000):
        kd = (i % 3, i % 256)
        if kd not in fps:
            fps[kd] = _dhash_py(i)
    rows = ",".join(
        f"('img{i:012d}',{fps[(i % 3, i % 256)]})" for i in range(2000)
    )
    return f"""
WITH RECURSIVE fp AS (SELECT * FROM (VALUES {rows}) AS t(image_id, dhash)),
pairs AS (
  SELECT a.image_id AS a, b.image_id AS b
  FROM fp a JOIN fp b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
reach(src, node) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
),
losers AS (
  SELECT src AS image_id FROM reach GROUP BY src HAVING MIN(node) < src
)
SELECT image_id FROM fp
WHERE image_id NOT IN (SELECT image_id FROM losers)
"""


# -------------------------------------------------- sketches


def q_heavy_hitters_users(spark, sf_dir):
    """Space-saving heavy hitters over events.user_id in EXACT mode
    (capacity ≥ distinct keys per partition → no evictions → bounds
    collapse to true counts; same verification trick as IVF at full
    probe).  The approximate regime's bounds are pinned in pytest."""
    from xutil_spark.operators.sketches import heavy_hitters

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    out = heavy_hitters(ev, "user_id", k=20, capacity=65536)
    return out.select(
        out["key"].alias("user_id"), "count_lb", "count_ub"
    )


def o_heavy_hitters_users() -> str:
    return """
SELECT user_id, COUNT(*) AS count_lb, COUNT(*) AS count_ub
FROM events GROUP BY user_id
ORDER BY count_ub DESC, user_id ASC LIMIT 20
"""


# ------------------------------------------- grid-density clustering


def q_grid_clusters(spark, sf_dir):
    """Cell-grid density clustering at z10: points → per-cell counts →
    dense cells (≥8) → 8-neighborhood adjacency → connected components.
    Everything after the first aggregation runs at CELL cardinality —
    the scale reduction that makes density clustering feasible at
    10^12 points."""
    from xutil_spark.operators.clustering import grid_density_clusters

    _utc(spark)
    pts = _points(spark, sf_dir).select("pid", "lon", "lat")
    return grid_density_clusters(pts, zoom=10, min_count=8)


def o_grid_clusters() -> str:
    cell = _cell_sql("lon", "lat", 10)
    return f"""
WITH RECURSIVE pts AS ({_PTS_SQL}),
cells AS (SELECT {cell} AS cell, COUNT(*) AS n_points FROM pts GROUP BY 1),
dense AS (SELECT * FROM cells WHERE n_points >= 8),
pairs AS (
  SELECT a.cell AS a, b.cell AS b
  FROM dense a JOIN dense b ON a.cell < b.cell
   AND abs(((a.cell % 288230376151711744) // 536870912)
         - ((b.cell % 288230376151711744) // 536870912)) <= 1
   AND abs((a.cell % 536870912) - (b.cell % 536870912)) <= 1
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
reach(src, node) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT src, MIN(node) AS cluster_id FROM reach GROUP BY src)
SELECT d.cell, COALESCE(c.cluster_id, d.cell) AS cluster_id,
       CAST(d.n_points AS BIGINT) AS n_points
FROM dense d LEFT JOIN comp c ON d.cell = c.src
"""


CONTRACT = {
    "image_dhash_pairs": (q_image_dhash_pairs, o_image_dhash_pairs),
    "geohash_cells": (q_geohash_cells, o_geohash_cells),
    "traj_polyline": (q_traj_polyline, o_traj_polyline),
    "traj_simplify": (q_traj_simplify, o_traj_simplify),
    "streaming_geofence": (q_streaming_geofence, o_streaming_geofence),
    "image_dedup": (q_image_dedup, o_image_dedup),
    "heavy_hitters_users": (q_heavy_hitters_users, o_heavy_hitters_users),
    "grid_clusters": (q_grid_clusters, o_grid_clusters),
    "images_decode_stats": (q_images_decode_stats, o_images_decode_stats),
    "image_resize": (q_image_resize, o_image_resize),
    "audio_features": (q_audio_features, o_audio_features),
    "video_frames": (q_video_frames, o_video_frames),
    "knn_images_refs": (q_knn_images_refs, o_knn_images_refs),
}
