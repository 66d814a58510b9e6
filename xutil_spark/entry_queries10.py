"""Contract queries, round-4 third batch: the map-matching snap join
(operators/spatial_join.py ``snap_to_segments``) — point → nearest road
segment, the engine's trajectory/road primitive.

Same conventions as entry_queries*.py: q_* takes (spark, sf_dir) and
returns a DataFrame; o_* returns ANSI SQL DuckDB runs on the same
inputs.

The synthetic "road network": supplier refs chained into polylines of 8
vertices (consecutive s_suppkey within the same (ref_id-1) div 8
group), one segment per consecutive pair — both sides derive it from
the same supplier-hash coordinates, so the geometry is identical by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import (
    _PTS_SQL, _REFS_SQL, _cell_sql, _points, _refs, _utc,
)

_SNAP_RADIUS_M = 50000.0
# π/180 × 6371000 — MUST equal spatial_join._M_PER_DEG (pinned in tests)
_K = "111194.92664455873"

_SEGS_SQL = f"""
SELECT a.ref_id AS seg_id, a.lon AS ax, a.lat AS ay, b.lon AS bx, b.lat AS by2
FROM ({_REFS_SQL}) a JOIN ({_REFS_SQL}) b
  ON b.ref_id = a.ref_id + 1 AND (a.ref_id - 1) // 8 = (b.ref_id - 1) // 8
"""


def _segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = _refs(spark, sf_dir)
    a = refs.select(F.col("ref_id").alias("aid"),
                    F.col("lon").alias("ax"), F.col("lat").alias("ay"))
    b = refs.select(F.col("ref_id").alias("bid"),
                    F.col("lon").alias("bx"), F.col("lat").alias("by2"))
    return (
        a.join(b, (F.col("bid") == F.col("aid") + 1)
               & (F.expr("(aid - 1) div 8") == F.expr("(bid - 1) div 8")))
        .select(F.col("aid").alias("seg_id"), "ax", "ay", "bx", "by2")
    )


def q_snap_nearest_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching: every derived point snapped to its nearest chained
    supplier segment within 50 km (inner — unmatched points drop).
    Engine: ``snap_to_segments`` — this dim-sized network takes the
    numpy scorer, larger ones the supercover cell-join cascade, same
    closed-form clamped projection on both; oracle: that projection
    over the exhaustive point × segment cross join."""
    _utc(spark)
    from xutil_spark.operators.spatial_join import snap_to_segments

    # lineitem carries exact duplicate rows → per DISTINCT point.
    # Pre-spread to defaultParallelism: the snap kernel's partition
    # probe on a shuffle-fed input would otherwise force AQE to run
    # the dedup stage once extra just to count partitions.
    par = spark.sparkContext.defaultParallelism
    pts = (_points(spark, sf_dir).select("pid", "lon", "lat")
           .repartition(par, "pid").dropDuplicates(["pid"]))
    segs = _segments(spark, sf_dir)
    out = snap_to_segments(
        pts, segs, radius_m=_SNAP_RADIUS_M,
        point_id="pid", seg_id="seg_id", by="by2", spread_input=False,
    )
    return out.select("pid", "seg_id", "dist_m", "t", "snap_lon", "snap_lat")


def o_snap_nearest_segment() -> str:
    return f"""
WITH pts AS (SELECT DISTINCT pid, lon, lat FROM ({_PTS_SQL})),
segs AS ({_SEGS_SQL}),
m AS (
  SELECT p.pid, s.seg_id, p.lon, p.lat,
         {_K} * cos(radians(p.lat)) AS kx,
         (s.ax - p.lon) * ({_K} * cos(radians(p.lat))) AS axm,
         (s.ay - p.lat) * {_K} AS aym,
         (s.bx - p.lon) * ({_K} * cos(radians(p.lat))) AS bxm,
         (s.by2 - p.lat) * {_K} AS bym
  FROM pts p CROSS JOIN segs s
),
u AS (
  SELECT *, bxm - axm AS ux, bym - aym AS uy,
         (bxm - axm) * (bxm - axm) + (bym - aym) * (bym - aym) AS len2
  FROM m
),
tv AS (
  SELECT *, CASE WHEN len2 = 0 THEN 0.0 ELSE
         LEAST(1.0, GREATEST(0.0, -(axm * ux + aym * uy) / len2)) END AS t
  FROM u
),
q AS (SELECT *, axm + t * ux AS qx, aym + t * uy AS qy FROM tv),
d AS (
  SELECT pid, seg_id, lon, lat, t,
         sqrt(qx * qx + qy * qy) AS dist,
         lon + qx / kx AS slon, lat + qy / {_K} AS slat
  FROM q
)
SELECT pid, seg_id, ROUND(dist, 3) AS dist_m, ROUND(t, 6) AS t,
       ROUND(slon, 6) AS snap_lon, ROUND(slat, 6) AS snap_lat
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY pid ORDER BY ROUND(dist, 3), seg_id) AS rn
  FROM d WHERE dist <= {_SNAP_RADIUS_M}
)
WHERE rn = 1
"""


# ===================================================== raster tile pyramid

_PYR_N = 1200
_PYR_ZOOM = 11
_PYR_TO = 9
_PYR_DEG = 16


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster tile pyramid (raster/pyramid.py): render the base-level
    mosaics of the synthetic image table at z11 (tile_mosaic), then
    build the z10 and z9 ancestor levels by 2x2 assembly + exact
    integer box downsample; emit per-tile integer channel sums over
    ALL levels (platform-exact -- no float hashing surface).  Oracle =
    independent scalar re-derivation: pure-Python splitmix64 locations,
    scalar slippy-tile pixel placement, and a from-scratch pyramid
    replay feeding a VALUES table."""
    import pandas as pd
    from pyspark.sql import types as T

    from xutil_spark.data.synth import images_table, with_location
    from xutil_spark.kernels import codec as K_codec
    from xutil_spark.raster.images import tile_mosaic
    from xutil_spark.raster.pyramid import tile_pyramid

    _utc(spark)
    img = with_location(images_table(spark, _PYR_N))
    mos = tile_mosaic(img, zoom=_PYR_ZOOM, deg=_PYR_DEG, out_fmt="raw")
    pyr = tile_pyramid(mos, _PYR_ZOOM, _PYR_TO, deg=_PYR_DEG, out_fmt="raw")

    schema = T.StructType([
        T.StructField("cell", T.LongType(), False),
        T.StructField("zoom", T.IntegerType(), False),
        T.StructField("n_images", T.LongType(), False),
        T.StructField("sum_r", T.LongType(), False),
        T.StructField("sum_g", T.LongType(), False),
        T.StructField("sum_b", T.LongType(), False),
    ])

    def sums(batches):
        import numpy as np

        for b in batches:
            rows = {k: [] for k in
                    ("cell", "zoom", "n_images", "sum_r", "sum_g", "sum_b")}
            for r in b.itertuples(index=False):
                px = K_codec.decode_image(
                    bytes(r.bytes), int(r.deg), int(r.deg), r.fmt
                ).astype(np.int64)
                rows["cell"].append(int(r.cell))
                rows["zoom"].append(int(r.zoom))
                rows["n_images"].append(int(r.n_images))
                s = px.sum(axis=(0, 1))
                rows["sum_r"].append(int(s[0]))
                rows["sum_g"].append(int(s[1]))
                rows["sum_b"].append(int(s[2]))
            yield pd.DataFrame(rows)

    return pyr.mapInPandas(sums, schema=schema)


def o_tile_pyramid() -> str:
    """Scalar replay: splitmix64 -> (lon, lat) -> z11 tile + in-tile
    pixel (scalar floor math, independent of kernels.tiles) -> mean
    color splat (last-write-wins in image order) -> two integer
    box-downsample levels -> channel sums per (cell, zoom)."""
    import math

    from xutil_spark.entry_queries6 import _H_CYC, _W_CYC, _sm64

    deg, z = _PYR_DEG, _PYR_ZOOM

    def tile(lon, lat, zz):
        n = 2.0 ** zz
        x = math.floor((lon + 180.0) / 360.0 * n)
        lr = lat * math.pi / 180.0
        y = math.floor(
            (1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr)) / math.pi)
            / 2.0 * n)
        return int(x), int(y)

    # mean color per image index (sums in closed form; float division
    # then truncation mirrors numpy mean().astype(uint8) exactly --
    # integer sums < 2^53 are exact in float64)
    def mean_color(i):
        c = i % 3
        w, h = _W_CYC[c], _H_CYC[c]
        n = w * h
        sr = h * sum(x * 255 // (w - 1) for x in range(w))
        sg = w * sum(y * 255 // (h - 1) for y in range(h))
        sb = sum((x * 31 + y * 17 + i) % 256
                 for y in range(h) for x in range(w))
        return int(sr / n), int(sg / n), int(sb / n)

    # base-level canvases: dict (x, y) -> deg x deg x 3 nested lists
    canvases: dict = {}
    counts: dict = {}
    for i in range(_PYR_N):
        ph = _sm64(i) & ((1 << 64) - 1)
        lon = 73.5 + (ph & 0xFFFFF) / 1048576.0 * 61.0
        lat = 18.2 + ((ph >> 20) & 0xFFFFF) / 1048576.0 * 35.3
        x, y = tile(lon, lat, z)
        x4, y4 = tile(lon, lat, z + 4)  # deg = 16 = 2^4
        px, py = (x4 - x * deg) % deg, (y4 - y * deg) % deg
        key = (x, y)
        if key not in canvases:
            canvases[key] = [[(0, 0, 0)] * deg for _ in range(deg)]
            counts[key] = 0
        canvases[key][py][px] = mean_color(i)
        counts[key] += 1

    def downsample(parent_quads):
        out = [[(0, 0, 0)] * deg for _ in range(deg)]
        for oy in range(deg):
            for ox in range(deg):
                acc = [0, 0, 0]
                for dy in (0, 1):
                    for dx in (0, 1):
                        yy, xx = 2 * oy + dy, 2 * ox + dx
                        q = parent_quads[yy // deg][xx // deg]
                        v = (0, 0, 0) if q is None else q[yy % deg][xx % deg]
                        for ch in range(3):
                            acc[ch] += v[ch]
                out[oy][ox] = tuple(a // 4 for a in acc)
        return out

    rows = []

    def emit(zz, levels, lvl_counts):
        for (x, y), cv in levels.items():
            cell = (zz << 58) | (x << 29) | y
            s = [0, 0, 0]
            for row in cv:
                for p in row:
                    for ch in range(3):
                        s[ch] += p[ch]
            rows.append(f"({cell},{zz},{lvl_counts[(x, y)]},"
                        f"{s[0]},{s[1]},{s[2]})")

    emit(z, canvases, counts)
    cur, cur_counts = canvases, counts
    for zz in range(z, _PYR_TO, -1):
        nxt: dict = {}
        nxt_counts: dict = {}
        for (x, y) in cur:
            nxt.setdefault((x // 2, y // 2), None)
        for (x, y) in list(nxt):
            quads = [[None, None], [None, None]]
            cnt = 0
            for dy in (0, 1):
                for dx in (0, 1):
                    child = cur.get((2 * x + dx, 2 * y + dy))
                    quads[dy][dx] = child
                    cnt += cur_counts.get((2 * x + dx, 2 * y + dy), 0)
            nxt[(x, y)] = downsample(quads)
            nxt_counts[(x, y)] = cnt
        emit(zz - 1, nxt, nxt_counts)
        cur, cur_counts = nxt, nxt_counts

    vals = ",".join(rows)
    return f"""
SELECT CAST(cell AS BIGINT) AS cell, CAST(zoom AS INTEGER) AS zoom,
       CAST(n_images AS BIGINT) AS n_images, CAST(sum_r AS BIGINT) AS sum_r,
       CAST(sum_g AS BIGINT) AS sum_g, CAST(sum_b AS BIGINT) AS sum_b
FROM (VALUES {vals}) AS v(cell, zoom, n_images, sum_r, sum_g, sum_b)
"""


# ========================================================= KDE heatmap

_KDE_ZOOM = 10
_KDE_RADIUS = 2
_KDE_SIGMA = 1.0


def q_kde_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian KDE density surface over z10 cell counts
    (operators/heatmap.py): integer kernel weights -> the smoothed
    density is an exact integer sum, convolved at CELL cardinality
    (the fact table is touched by one count shuffle only)."""
    _utc(spark)
    from xutil_spark.operators.heatmap import cell_counts, kde_smooth

    pts = _points(spark, sf_dir)
    counts = cell_counts(pts, _KDE_ZOOM)
    return kde_smooth(counts, _KDE_ZOOM,
                      radius=_KDE_RADIUS, sigma=_KDE_SIGMA)


def o_kde_heatmap() -> str:
    from xutil_spark.entry_queries import _PTS_SQL as pts_sql
    from xutil_spark.operators.heatmap import gaussian_kernel_int

    kern = gaussian_kernel_int(_KDE_RADIUS, _KDE_SIGMA)
    vals = ",".join(f"({dx},{dy},{w})" for dx, dy, w in kern)
    cell = _cell_sql("lon", "lat", _KDE_ZOOM)
    n = 2 ** _KDE_ZOOM
    zb, xb = 288230376151711744, 536870912
    return f"""
WITH pts AS ({pts_sql}),
counts AS (SELECT {cell} AS cell, COUNT(*) AS cnt FROM pts GROUP BY 1),
kern(dx, dy, w) AS (VALUES {vals}),
xy AS (
  SELECT (cell % {zb}) // {xb} AS x, cell % {xb} AS y, cnt FROM counts
),
contrib AS (
  SELECT {_KDE_ZOOM} * {zb}
         + ((x + dx + {n}) % {n}) * {xb} + (y + dy) AS cell,
         cnt * w AS m
  FROM xy CROSS JOIN kern
  WHERE y + dy >= 0 AND y + dy < {n}
)
SELECT cell, CAST(SUM(m) AS BIGINT) AS density FROM contrib GROUP BY 1
"""


CONTRACT = {
    "snap_nearest_segment": (q_snap_nearest_segment, o_snap_nearest_segment),
    "tile_pyramid_sums": (q_tile_pyramid, o_tile_pyramid),
    "kde_heatmap": (q_kde_heatmap, o_kde_heatmap),
}
