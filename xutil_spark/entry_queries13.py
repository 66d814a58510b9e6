"""Contract queries, round-4 sixth batch: marching-squares contour
extraction (operators/contours.py) — raster→vector isolines over the
z7 cell-count surface of the derived lineitem points.

Same conventions as entry_queries*.py: q_* takes (spark, sf_dir) and
returns a DataFrame; o_* returns ANSI SQL DuckDB runs on the same
inputs.

Oracle parity: corner values and the case index are exact integers;
each endpoint is ONE linear interpolation t = (T−v₁)/(v₂−v₁) and each
lon/lat ONE inverse-Mercator chain — both float expression trees are
transcribed verbatim (same op order, pi-constants inlined at full
double precision), so the compare carries no accumulation-order risk.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from xutil_spark.entry_queries import (
    _PTS_SQL, _cell_sql, _points, _read, _tile_sql, _utc,
)
from xutil_spark.operators.contours import _CASE_SEGMENTS

_CT_ZOOM = 7
_CT_T = 200.0


def q_contour_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares isolines at threshold 200 over z7 cell counts
    (operators/contours.py): 2×2 corner pivot + 16-case when-chain,
    everything past the one count shuffle at occupied-cell
    cardinality; endpoints in lattice units AND inverse-Mercator
    lon/lat (cell-center node convention)."""
    _utc(spark)
    from xutil_spark.operators.contours import contour_segments
    from xutil_spark.operators.heatmap import cell_counts

    counts = cell_counts(_points(spark, sf_dir), _CT_ZOOM)
    return contour_segments(counts, _CT_ZOOM, _CT_T)


def o_contour_segments() -> str:
    cell = _cell_sql("lon", "lat", _CT_ZOOM)
    n = 2 ** _CT_ZOOM
    zb, xb = 288230376151711744, 536870912
    t = _CT_T
    segvals = ",".join(
        f"({c},{i + 1},{ea},{eb})"
        for c, segs in _CASE_SEGMENTS.items()
        for i, (ea, eb) in enumerate(segs)
    )
    # endpoint local-offset expressions per edge id (0=top 1=right
    # 2=bottom 3=left) — the same single-division trees as the engine
    fx = (f"CASE {{e}} WHEN 0 THEN ({t} - CAST(tl AS DOUBLE))"
          f" / (CAST(tr AS DOUBLE) - CAST(tl AS DOUBLE))"
          f" WHEN 1 THEN 1.0"
          f" WHEN 2 THEN ({t} - CAST(bl AS DOUBLE))"
          f" / (CAST(br AS DOUBLE) - CAST(bl AS DOUBLE))"
          f" ELSE 0.0 END")
    fy = (f"CASE {{e}} WHEN 0 THEN 0.0"
          f" WHEN 1 THEN ({t} - CAST(tr AS DOUBLE))"
          f" / (CAST(br AS DOUBLE) - CAST(tr AS DOUBLE))"
          f" WHEN 2 THEN 1.0"
          f" ELSE ({t} - CAST(tl AS DOUBLE))"
          f" / (CAST(bl AS DOUBLE) - CAST(tl AS DOUBLE)) END")
    pi = repr(math.pi)
    two_pi = repr(2.0 * math.pi)
    deg = repr(180.0 / math.pi)
    lon = "(({x}) + 0.5) / {n} * 360.0 - 180.0"
    nv = f"{pi} - {two_pi} * (({{y}}) + 0.5) / {{n}}"
    lat = (f"{deg} * atan(0.5 * (exp({nv}) - exp(-({nv}))))")
    x1 = "CAST(bx AS DOUBLE) + " + fx.format(e="ea")
    y1 = "CAST(by AS DOUBLE) + " + fy.format(e="ea")
    x2 = "CAST(bx AS DOUBLE) + " + fx.format(e="eb")
    y2 = "CAST(by AS DOUBLE) + " + fy.format(e="eb")
    return f"""
WITH pts AS ({_PTS_SQL}),
counts AS (SELECT {cell} AS cell, COUNT(*) AS c FROM pts GROUP BY 1),
xy AS (
  SELECT (cell % {zb}) // {xb} AS x, cell % {xb} AS y, c FROM counts
),
corner(dx, dy, tag) AS (VALUES (0,0,0),(-1,0,1),(0,-1,2),(-1,-1,3)),
blk AS (
  SELECT (x + dx + {n}) % {n} AS bx, y + dy AS by, tag, c
  FROM xy CROSS JOIN corner
  WHERE y + dy >= 0 AND y + dy < {n} - 1
),
piv AS (
  SELECT bx, by,
         COALESCE(MAX(CASE WHEN tag = 0 THEN c END), 0) AS tl,
         COALESCE(MAX(CASE WHEN tag = 1 THEN c END), 0) AS tr,
         COALESCE(MAX(CASE WHEN tag = 2 THEN c END), 0) AS bl,
         COALESCE(MAX(CASE WHEN tag = 3 THEN c END), 0) AS br
  FROM blk GROUP BY 1, 2
),
cased AS (
  SELECT *,
         (CASE WHEN tl >= {t} THEN 8 ELSE 0 END
          + CASE WHEN tr >= {t} THEN 4 ELSE 0 END
          + CASE WHEN br >= {t} THEN 2 ELSE 0 END
          + CASE WHEN bl >= {t} THEN 1 ELSE 0 END) AS case_id
  FROM piv
),
segtab(case_id, seg, ea, eb) AS (VALUES {segvals}),
segs AS (
  SELECT c.bx, c.by, c.case_id, s.seg, s.ea, s.eb,
         c.tl, c.tr, c.bl, c.br
  FROM cased c JOIN segtab s USING (case_id)
  WHERE c.case_id > 0 AND c.case_id < 15
),
pts2 AS (
  SELECT bx, by, case_id, seg,
         {x1} AS x1d, {y1} AS y1d, {x2} AS x2d, {y2} AS y2d
  FROM segs
)
SELECT bx, by, case_id, seg,
       ROUND(x1d, 6) AS x1, ROUND(y1d, 6) AS y1,
       ROUND(x2d, 6) AS x2, ROUND(y2d, 6) AS y2,
       ROUND({lon.format(x='x1d', n=n)}, 8) AS lon1,
       ROUND({lat.format(y='y1d', n=n)}, 8) AS lat1,
       ROUND({lon.format(x='x2d', n=n)}, 8) AS lon2,
       ROUND({lat.format(y='y2d', n=n)}, 8) AS lat2
FROM pts2
"""


# ===================================================== IDW interpolation

_IDW_ZOOM = 6
_IDW_RADIUS = 1
_IDW_SCALE = 10 ** 12


def q_idw_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point Shepard IDW (operators/interpolate.py): event values
    gridded onto z6 cell centers with integer weights
    floor(1e12/(1+d²)) and decimal(38,0) sums — bit-reproducible under
    any aggregation order; one ring explode + one map-side-combined
    shuffle, no joins, no Python."""
    _utc(spark)
    from pyspark.sql import functions as F

    from xutil_spark.operators.interpolate import idw_surface

    ev = _read(spark, sf_dir, "events").select(
        (F.lit(73.5) + (F.col("event_id") * 2654435761 % 1048576)
         .cast("double") / 1048576.0 * 61.0).alias("lon"),
        (F.lit(18.2) + (F.col("event_id") * 1597334677 % 1048576)
         .cast("double") / 1048576.0 * 35.3).alias("lat"),
        "value",
    )
    return idw_surface(ev, _IDW_ZOOM, radius=_IDW_RADIUS,
                       power=2, scale=_IDW_SCALE)


def o_idw_surface() -> str:
    from xutil_spark.entry_queries3 import _EV_LAT, _EV_LON

    z, n = _IDW_ZOOM, 2 ** _IDW_ZOOM
    zb, xb = 288230376151711744, 536870912
    r = _IDW_RADIUS
    ring = ",".join(f"({dx},{dy})"
                    for dy in range(-r, r + 1) for dx in range(-r, r + 1))
    tx, ty = _tile_sql("lon", "lat", z)
    rad = repr(math.pi / 180.0)
    pi = repr(math.pi)
    two_pi = repr(2.0 * math.pi)
    deg = repr(180.0 / math.pi)
    # cell-center projection + haversine — the engine's exact trees
    clon = f"(CAST(tx AS DOUBLE) + 0.5) / {n} * 360.0 - 180.0"
    nv = f"{pi} - {two_pi} * (CAST(ty AS DOUBLE) + 0.5) / {n}"
    clat = f"{deg} * atan(0.5 * (exp({nv}) - exp(-({nv}))))"
    dlat = f"(clat - lat) * {rad}"
    dlon = f"(clon - lon) * {rad}"
    a = (f"sin({dlat} / 2.0) * sin({dlat} / 2.0)"
         f" + sin({dlon} / 2.0) * sin({dlon} / 2.0)"
         f" * cos(lat * {rad}) * cos(clat * {rad})")
    d = f"12742000.0 * atan2(sqrt(av), sqrt(1.0 - av))"
    return f"""
WITH ev AS (
  SELECT {_EV_LON} AS lon, {_EV_LAT} AS lat,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS v
  FROM events
),
cells AS (SELECT lon, lat, v, {tx} AS x, {ty} AS y FROM ev),
ring(dx, dy) AS (VALUES {ring}),
fan AS (
  SELECT lon, lat, v, (x + dx + {n}) % {n} AS tx, y + dy AS ty
  FROM cells CROSS JOIN ring
  WHERE y + dy >= 0 AND y + dy < {n}
),
proj AS (SELECT *, {clon} AS clon, {clat} AS clat FROM fan),
hav AS (SELECT *, {a} AS av FROM proj),
wt AS (
  SELECT tx, ty, v,
         CAST(floor({float(_IDW_SCALE)} / (1.0 + ({d}) * ({d})))
              AS BIGINT) AS w
  FROM hav
),
agg AS (
  SELECT {z} * {zb} + tx * {xb} + ty AS cell,
         COUNT(*) AS n_obs,
         SUM(w) AS sw, SUM(w * v) AS swv
  FROM wt GROUP BY 1
)
SELECT cell, n_obs,
       CASE WHEN sw > 0 THEN
         ROUND(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0, 6) + 0.0
       END AS est
FROM agg
"""


CONTRACT = {
    "contour_segments_z7": (q_contour_segments, o_contour_segments),
    "idw_surface_z6": (q_idw_surface, o_idw_surface),
}
