"""Contract queries, round-4 eighth batch: terrain analytics
(operators/terrain.py) — Horn slope/aspect/hillshade over the z7
cell-count surface of the derived lineitem points, and global Moran's
I / Geary's C spatial autocorrelation over the z6 surface of the
derived event points.

Same conventions as entry_queries*.py: q_* takes (spark, sf_dir) and
returns a DataFrame; o_* returns ANSI SQL DuckDB runs on the same
inputs.

Oracle parity notes:
- Horn gradients gx/gy are exact integers (weighted neighbor sums with
  edge replication via the Σw = 0 identity); slope/aspect/hillshade
  are single float trees over (gx, gy) transcribed verbatim —
  ROUND(…,6)+0.0 normalizes −0.0, aspect NULL on flats.
- Autocorrelation: every aggregate (W, T, cross, D, U, Σx, Σx²) is an
  exact integer on both sides; the I/z/C formulas are fixed float
  trees.  DuckDB SUM(BIGINT) returns HUGEINT — cast back to BIGINT
  before the float math so both engines start from int64.
- The fan's (dx, dy) explode offset is the TARGET-relative-to-SOURCE
  direction; Horn weights need the source's position relative to the
  target, so the SQL gather weights by (−dx, −dy) — mirroring the
  sign flip in operators/terrain.py _neighbor_fan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from xutil_spark.entry_queries import _PTS_SQL, _points, _read, _tile_sql, _utc
from xutil_spark.entry_queries3 import _EV_LAT, _EV_LON
from xutil_spark.operators.terrain import _SUN_UP_8

_HORN_ZOOM = 7
_AC_ZOOM = 6
_ZB, _XB = 288230376151711744, 536870912

_RING8 = ",".join(f"({dx},{dy})" for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                  if (dx, dy) != (0, 0))


def q_terrain_horn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn slope/aspect/hillshade at z7 (operators/terrain.py): the
    cell-count surface treated as elevation; gradients are exact
    integer neighbor sums (missing neighbors replicate the center),
    the trig a fixed tree over (gx, gy).  One count shuffle, one
    8-way explode + groupBy at cell cardinality, one join back."""
    _utc(spark)
    from xutil_spark.operators.heatmap import cell_counts
    from xutil_spark.operators.terrain import horn_surface

    counts = cell_counts(_points(spark, sf_dir), _HORN_ZOOM)
    return horn_surface(counts, _HORN_ZOOM)


def o_terrain_horn() -> str:
    z, n = _HORN_ZOOM, 2 ** _HORN_ZOOM
    sun = repr(_SUN_UP_8)
    tx, ty = _tile_sql("lon", "lat", z)
    return f"""
WITH pts AS ({_PTS_SQL}),
cells AS (
  SELECT {tx} AS x, {ty} AS y, COUNT(*) AS c
  FROM pts GROUP BY 1, 2
),
ring(dx, dy) AS (VALUES {_RING8}),
fan AS (
  SELECT (x + dx + {n}) % {n} AS tx, y + dy AS ty, dx, dy, c
  FROM cells CROSS JOIN ring
  WHERE y + dy >= 0 AND y + dy < {n}
),
gather AS (
  SELECT tx, ty,
         CAST(SUM((-dx) * (2 - abs(dy)) * c) AS BIGINT) AS sxz,
         CAST(SUM((-dy) * (2 - abs(dx)) * c) AS BIGINT) AS syz,
         CAST(SUM((-dx) * (2 - abs(dy))) AS BIGINT) AS swx,
         CAST(SUM((-dy) * (2 - abs(dx))) AS BIGINT) AS swy
  FROM fan GROUP BY 1, 2
),
j AS (
  SELECT c.x, c.y, c.c,
         g.sxz - g.swx * c.c AS gx, g.syz - g.swy * c.c AS gy
  FROM cells c JOIN gather g ON g.tx = c.x AND g.ty = c.y
),
calc AS (
  SELECT *,
         CAST(gx * gx + gy * gy AS DOUBLE) AS g2,
         degrees(atan2(CAST(-gx AS DOUBLE), CAST(gy AS DOUBLE))) AS araw
  FROM j
)
SELECT {z} * {_ZB} + x * {_XB} + y AS cell, c AS v, gx, gy,
       ROUND(degrees(atan(sqrt(g2) / 8.0)), 6) + 0.0 AS slope_deg,
       CASE WHEN gx = 0 AND gy = 0 THEN NULL
            ELSE ROUND(CASE WHEN araw < 0 THEN araw + 360.0
                            ELSE araw END, 6) + 0.0 END AS aspect_deg,
       CAST(ROUND(GREATEST(0.0, 255.0 *
              ((CAST(gx AS DOUBLE) / 2.0 + CAST(gy AS DOUBLE) / 2.0 + {sun})
               / sqrt(g2 + 64.0))), 0) AS BIGINT) AS hillshade
FROM calc
"""


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I + Geary's C at z6 (operators/terrain.py) over
    the event-point cell counts with binary queen weights — one row:
    (n_cells, w_pairs, morans_i, z_i, gearys_c).  All inputs to the
    float formulas are exact integer aggregates; the final reduce is
    map-side combined (one row to the driver)."""
    _utc(spark)
    from pyspark.sql import functions as F

    from xutil_spark.operators.heatmap import cell_counts
    from xutil_spark.operators.terrain import spatial_autocorr

    ev = _read(spark, sf_dir, "events").select(
        (F.lit(73.5) + (F.col("event_id") * 2654435761 % 1048576)
         .cast("double") / 1048576.0 * 61.0).alias("lon"),
        (F.lit(18.2) + (F.col("event_id") * 1597334677 % 1048576)
         .cast("double") / 1048576.0 * 35.3).alias("lat"),
    )
    return spatial_autocorr(cell_counts(ev, _AC_ZOOM), _AC_ZOOM)


def o_morans_i() -> str:
    z, n = _AC_ZOOM, 2 ** _AC_ZOOM
    tx, ty = _tile_sql("lon", "lat", z)
    return f"""
WITH ev AS (
  SELECT {_EV_LON} AS lon, {_EV_LAT} AS lat FROM events
),
cells AS (
  SELECT {tx} AS x, {ty} AS y, COUNT(*) AS c
  FROM ev GROUP BY 1, 2
),
ring(dx, dy) AS (VALUES {_RING8}),
fan AS (
  SELECT (x + dx + {n}) % {n} AS tx, y + dy AS ty, c
  FROM cells CROSS JOIN ring
  WHERE y + dy >= 0 AND y + dy < {n}
),
per_cell AS (
  SELECT tx, ty, COUNT(*) AS wn,
         CAST(SUM(c) AS BIGINT) AS nsum,
         CAST(SUM(c * c) AS BIGINT) AS nsq
  FROM fan GROUP BY 1, 2
),
j AS (
  SELECT c.c AS x, COALESCE(p.wn, 0) AS wn,
         COALESCE(p.nsum, 0) AS nsum, COALESCE(p.nsq, 0) AS nsq
  FROM cells c LEFT JOIN per_cell p ON p.tx = c.x AND p.ty = c.y
),
g AS (
  SELECT COUNT(*) AS n_cells,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(wn) AS BIGINT) AS w_pairs,
         CAST(SUM(x * wn) AS BIGINT) AS t,
         CAST(SUM(x * nsum) AS BIGINT) AS crs,
         CAST(SUM(wn * x * x - 2 * x * nsum + nsq) AS BIGINT) AS d,
         CAST(SUM(wn * wn) AS BIGINT) AS u
  FROM j
),
calc AS (
  SELECT *,
         CAST(n_cells AS DOUBLE) AS nd, CAST(w_pairs AS DOUBLE) AS wd,
         CAST(sx AS DOUBLE) / CAST(n_cells AS DOUBLE) AS xbar,
         CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / CAST(n_cells AS DOUBLE) AS den
  FROM g
),
calc2 AS (
  SELECT *,
         CAST(crs AS DOUBLE) - 2.0 * xbar * CAST(t AS DOUBLE)
           + xbar * xbar * wd AS num,
         -1.0 / (nd - 1.0) AS e_i
  FROM calc
),
calc3 AS (
  SELECT *,
         ((nd * nd * (2.0 * wd) - nd * (4.0 * CAST(u AS DOUBLE))
           + 3.0 * wd * wd) / (wd * wd * (nd * nd - 1.0)))
           - e_i * e_i AS var_i
  FROM calc2
)
SELECT n_cells, w_pairs,
       CASE WHEN w_pairs > 0 AND den > 0.0 THEN
         ROUND((nd / wd) * num / den, 6) + 0.0 END AS morans_i,
       CASE WHEN w_pairs > 0 AND den > 0.0 AND var_i > 0.0 THEN
         ROUND(((nd / wd) * num / den - e_i) / sqrt(var_i), 6) + 0.0
       END AS z_i,
       CASE WHEN w_pairs > 0 AND den > 0.0 THEN
         ROUND((nd - 1.0) * CAST(d AS DOUBLE) / (2.0 * wd * den), 6) + 0.0
       END AS gearys_c
FROM calc3
"""


_RING9 = ",".join(f"({dx},{dy})" for dy in (-1, 0, 1) for dx in (-1, 0, 1))


def _ev_sql_cells(z: int) -> str:
    tx, ty = _tile_sql("lon", "lat", z)
    n = 2 ** z
    return f"""
ev AS (
  SELECT {_EV_LON} AS lon, {_EV_LAT} AS lat FROM events
),
cells AS (
  SELECT {tx} AS x, {ty} AS y, COUNT(*) AS c
  FROM ev GROUP BY 1, 2
)"""


def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anselin LISA at z6 (operators/terrain.py local_moran): per-cell
    local Moran statistic + HH/LL/HL/LH quadrant over the event-point
    counts; integer lag sums, one broadcast global row, fixed float
    tree — same fan shape as gi_star."""
    _utc(spark)
    from pyspark.sql import functions as F

    from xutil_spark.operators.heatmap import cell_counts
    from xutil_spark.operators.terrain import local_moran

    ev = _read(spark, sf_dir, "events").select(
        (F.lit(73.5) + (F.col("event_id") * 2654435761 % 1048576)
         .cast("double") / 1048576.0 * 61.0).alias("lon"),
        (F.lit(18.2) + (F.col("event_id") * 1597334677 % 1048576)
         .cast("double") / 1048576.0 * 35.3).alias("lat"),
    )
    return local_moran(cell_counts(ev, _AC_ZOOM), _AC_ZOOM)


def o_local_moran() -> str:
    z, n = _AC_ZOOM, 2 ** _AC_ZOOM
    return f"""
WITH {_ev_sql_cells(z)},
ring(dx, dy) AS (VALUES {_RING8}),
fan AS (
  SELECT (x + dx + {n}) % {n} AS tx, y + dy AS ty, c
  FROM cells CROSS JOIN ring
  WHERE y + dy >= 0 AND y + dy < {n}
),
per_cell AS (
  SELECT tx, ty, COUNT(*) AS wn, CAST(SUM(c) AS BIGINT) AS nsum
  FROM fan GROUP BY 1, 2
),
j AS (
  SELECT c.x, c.y, c.c AS v, COALESCE(p.wn, 0) AS wn,
         COALESCE(p.nsum, 0) AS nsum
  FROM cells c LEFT JOIN per_cell p ON p.tx = c.x AND p.ty = c.y
),
g AS (
  SELECT COUNT(*) AS gn, CAST(SUM(c) AS BIGINT) AS sx,
         CAST(SUM(c * c) AS BIGINT) AS sxx
  FROM cells
),
calc AS (
  SELECT j.*,
         CAST(sx AS DOUBLE) / CAST(gn AS DOUBLE) AS xbar,
         (CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / CAST(gn AS DOUBLE)) / CAST(gn AS DOUBLE) AS m2
  FROM j CROSS JOIN g
),
calc2 AS (
  SELECT *,
         CAST(v AS DOUBLE) - xbar AS dev,
         CAST(nsum AS DOUBLE) - CAST(wn AS DOUBLE) * xbar AS lagdev,
         CASE WHEN wn > 0 THEN CAST(nsum AS DOUBLE) / CAST(wn AS DOUBLE)
         END AS lagmean
  FROM calc
)
SELECT {z} * {_ZB} + x * {_XB} + y AS cell, v, wn, nsum,
       CASE WHEN wn > 0 AND m2 > 0.0 THEN
         ROUND(dev / m2 * lagdev, 6) + 0.0 END AS local_i,
       CASE WHEN wn > 0 AND m2 > 0.0 AND dev <> 0.0
                 AND lagmean <> xbar THEN
         (CASE WHEN dev > 0.0 THEN 'H' ELSE 'L' END)
           || (CASE WHEN lagmean > xbar THEN 'H' ELSE 'L' END)
       END AS quadrant
FROM calc2
"""


_FOCAL_ZOOM = 7


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal neighborhood statistics at z7 (operators/terrain.py
    focal_stats): per occupied cell the sum/count/min/max/range/mean
    of the lineitem-point counts over the 3×3 window (self included)
    — all-integer except the one mean division; the kde fan shape."""
    _utc(spark)
    from xutil_spark.operators.heatmap import cell_counts
    from xutil_spark.operators.terrain import focal_stats

    counts = cell_counts(_points(spark, sf_dir), _FOCAL_ZOOM)
    return focal_stats(counts, _FOCAL_ZOOM, radius=1)


def o_focal_stats() -> str:
    z, n = _FOCAL_ZOOM, 2 ** _FOCAL_ZOOM
    tx, ty = _tile_sql("lon", "lat", z)
    return f"""
WITH pts AS ({_PTS_SQL}),
cells AS (
  SELECT {tx} AS x, {ty} AS y, COUNT(*) AS c
  FROM pts GROUP BY 1, 2
),
ring(dx, dy) AS (VALUES {_RING9}),
fan AS (
  SELECT (x + dx + {n}) % {n} AS tx, y + dy AS ty, c
  FROM cells CROSS JOIN ring
  WHERE y + dy >= 0 AND y + dy < {n}
),
gather AS (
  SELECT tx, ty, COUNT(*) AS fcnt, CAST(SUM(c) AS BIGINT) AS fsum,
         MIN(c) AS fmin, MAX(c) AS fmax
  FROM fan GROUP BY 1, 2
)
SELECT {z} * {_ZB} + c.x * {_XB} + c.y AS cell, c.c AS v,
       g.fcnt, g.fsum, g.fmin, g.fmax, g.fmax - g.fmin AS frange,
       ROUND(CAST(g.fsum AS DOUBLE) / CAST(g.fcnt AS DOUBLE), 6) + 0.0
         AS fmean
FROM cells c JOIN gather g ON g.tx = c.x AND g.ty = c.y
"""


_FAN16 = ",".join(f"({i},{j},{wx * wy})"
                  for j, wy in ((-1, 1), (0, 3), (1, 3), (2, 1))
                  for i, wx in ((-1, 1), (0, 3), (1, 3), (2, 1)))


def q_bilinear_up(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear z6→z7 upsample (operators/interpolate.py
    bilinear_upsample) of the event-point cell counts: (9,3,3,1)/16
    separable weights, sparse-normalized over present parents,
    children kept only under occupied parents — integer weight/value
    sums, one division.  16-way fan + groupBy at cell cardinality."""
    _utc(spark)
    from pyspark.sql import functions as F

    from xutil_spark.operators.heatmap import cell_counts
    from xutil_spark.operators.interpolate import bilinear_upsample

    ev = _read(spark, sf_dir, "events").select(
        (F.lit(73.5) + (F.col("event_id") * 2654435761 % 1048576)
         .cast("double") / 1048576.0 * 61.0).alias("lon"),
        (F.lit(18.2) + (F.col("event_id") * 1597334677 % 1048576)
         .cast("double") / 1048576.0 * 35.3).alias("lat"),
    )
    return bilinear_upsample(cell_counts(ev, _AC_ZOOM), _AC_ZOOM)


def o_bilinear_up() -> str:
    z, n = _AC_ZOOM, 2 ** _AC_ZOOM
    nc = 2 * n
    zc = z + 1
    return f"""
WITH {_ev_sql_cells(z)},
fan(i, j, w) AS (VALUES {_FAN16}),
contrib AS (
  SELECT (2 * x + i + {nc}) % {nc} AS cx, 2 * y + j AS cy,
         CAST(SUM(w * c) AS BIGINT) AS vwsum,
         CAST(SUM(w) AS BIGINT) AS wsum
  FROM cells CROSS JOIN fan
  WHERE 2 * y + j >= 0 AND 2 * y + j < {nc}
  GROUP BY 1, 2
)
SELECT {zc} * {_ZB} + ct.cx * {_XB} + ct.cy AS cell,
       ct.wsum, ct.vwsum,
       ROUND(CAST(ct.vwsum AS DOUBLE) / CAST(ct.wsum AS DOUBLE), 6) + 0.0
         AS est
FROM contrib ct
JOIN cells p ON p.x = ct.cx // 2 AND p.y = ct.cy // 2
"""


CONTRACT = {
    "terrain_horn_z7": (q_terrain_horn, o_terrain_horn),
    "morans_i_z6": (q_morans_i, o_morans_i),
    "local_moran_z6": (q_local_moran, o_local_moran),
    "focal_stats_z7": (q_focal_stats, o_focal_stats),
    "bilinear_up_z6": (q_bilinear_up, o_bilinear_up),
}
