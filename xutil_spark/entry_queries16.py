"""Contract queries, round-4 ninth batch: tile addressing + navigation
+ spatial-interaction analytics — quadkey strings
(functions/quadkey.py), Hilbert curve layout keys (kernels/hilbert.py),
rhumb-line navigation (functions/rhumb.py), the gravity model over OD
flows (operators/flows.py gravity_flows) and per-cell Clark–Evans
nearest-neighbor statistics (operators/pointstats.py).

Same conventions as every entry_queries*.py: q_* takes (spark, sf_dir)
and returns a DataFrame; o_* returns ANSI SQL DuckDB runs on the same
parquet inputs.

Oracle parity notes:
- quadkey: the oracle re-derives tile x/y from lon/lat and builds the
  digit string with the transcribed bit expression, while the PARENT
  key comes from substring() on the oracle side but from a bit-shifted
  re-encode on the Spark side — the ancestor-prefix property itself is
  under test.
- hilbert: the oracle replays the rotate-reflect walk as one chained
  CTE per bit level (kernels/hilbert.py xy2d_sql) — exact integer
  state, zero float.
- rhumb: one fixed float64 tree (ln/tan/atan2) mirrored verbatim with
  repr'd constants; the Δψ→0 (due-east) branch and the anti-meridian
  wrap are explicit CASEs on both sides.
- gravity / nn: every cross-row reduction is over exact integers
  (marginals, quantized gravity weights, micro-degree NN distances);
  the float trees (expectation, Clark–Evans index) are per-row.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import _HAV_SQL, _cell_sql, _tile_sql, _utc
from xutil_spark.entry_queries3 import _EV_LAT, _EV_LON
from xutil_spark.entry_queries12 import _located_events
from xutil_spark.functions import native

_QK_ZOOM = 9
_HIL_ZOOM = 8
_NN_ZOOM = 8
_GRAV_ZOOM = 5
_GRAV_QSCALE = 1e6

_RAD = math.pi / 180.0
_Q4 = math.pi / 4.0
_TWO_PI = 2.0 * math.pi


# ==================================================== quadkey


def q_quadkey_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-z9-cell quadkey addressing (functions/quadkey.py): the
    packed cell, its quadkey string, the PARENT quadkey re-encoded
    from bit-shifted tile coords (the oracle derives it by substring —
    the ancestor-prefix property is the cross-check), and the tile
    x/y decoded BACK from the string.  Pure unrolled bit arithmetic,
    whole-stage codegen, zero Python."""
    _utc(spark)
    from xutil_spark.functions.quadkey import (
        quadkey_from_cell,
        quadkey_from_xy,
        quadkey_to_xy,
    )

    ev = _located_events(spark, sf_dir)
    cells = (
        ev.groupBy(
            native.cell(F.col("lon"), F.col("lat"), _QK_ZOOM).alias("cell")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    qk = cells.select(
        "cell", "n_events",
        quadkey_from_cell(F.col("cell"), _QK_ZOOM).alias("qk"),
        quadkey_from_xy(
            F.shiftright(native.cell_x(F.col("cell")), 1),
            F.shiftright(native.cell_y(F.col("cell")), 1),
            _QK_ZOOM - 1,
        ).alias("parent_qk"),
    )
    dx, dy = quadkey_to_xy(F.col("qk"), _QK_ZOOM)
    return qk.select(
        "cell", "qk", "parent_qk", dx.alias("x"), dy.alias("y"), "n_events"
    )


def o_quadkey_cells() -> str:
    from xutil_spark.functions.quadkey import quadkey_sql

    cell = _cell_sql("lon", "lat", _QK_ZOOM)
    x, y = _tile_sql("lon", "lat", _QK_ZOOM)
    return f"""
WITH ev AS (
  SELECT {_EV_LON} AS lon, {_EV_LAT} AS lat FROM events
),
located AS (
  SELECT {cell} AS cell, {x} AS x, {y} AS y FROM ev
),
cells AS (
  SELECT cell, MIN(x) AS x, MIN(y) AS y, COUNT(*) AS n_events
  FROM located GROUP BY 1
)
SELECT cell,
       {quadkey_sql('x', 'y', _QK_ZOOM)} AS qk,
       substr({quadkey_sql('x', 'y', _QK_ZOOM)}, 1, {_QK_ZOOM - 1})
         AS parent_qk,
       x, y, n_events
FROM cells
"""


# ==================================================== hilbert


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert d-index per occupied z8 cell (kernels/hilbert.py via the
    vectorized pandas_udf): the layout sort key with no seam jumps —
    range-partitioning file layout by hd gives every scan window a
    compact spatial blob.  One count shuffle at fact scale, then the
    Arrow-batched bit walk at occupied-cell cardinality."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    ev = _located_events(spark, sf_dir)
    cells = (
        ev.groupBy(
            native.cell(F.col("lon"), F.col("lat"), _HIL_ZOOM).alias("cell")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return cells.select(
        "cell",
        native.cell_x(F.col("cell")).alias("x"),
        native.cell_y(F.col("cell")).alias("y"),
        geo_udfs.hilbert_xy2d(
            native.cell_x(F.col("cell")), native.cell_y(F.col("cell")),
            F.lit(_HIL_ZOOM).cast("long"),
        ).alias("hd"),
        "n_events",
    )


def o_hilbert_layout() -> str:
    from xutil_spark.kernels.hilbert import xy2d_sql

    cell = _cell_sql("lon", "lat", _HIL_ZOOM)
    ctes, last = xy2d_sql("x", "y", _HIL_ZOOM, "cells")
    return f"""
WITH ev AS (
  SELECT {_EV_LON} AS lon, {_EV_LAT} AS lat FROM events
),
located AS (SELECT {cell} AS cell FROM ev),
counted AS (SELECT cell, COUNT(*) AS n_events FROM located GROUP BY 1),
cells AS (
  SELECT cell, ((cell >> 29) & 536870911) AS x, (cell & 536870911) AS y,
         n_events
  FROM counted
),
{ctes}
SELECT cell, x, y, hd, n_events FROM {last}
"""


# ====================================================== rhumb


_ORIGIN_LON = 121.47
_ORIGIN_LAT = 31.23


def q_rhumb_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rhumb-line navigation (functions/rhumb.py) per event: constant
    compass course + loxodrome distance from the fixed origin to the
    event point, then the destination reached from the event point on
    an event-derived course/distance — the Δψ→0 due-east branch and
    the anti-meridian wrap are exercised by construction (bearing
    cycles through all 360°).  Zero Python, one projection."""
    _utc(spark)
    from xutil_spark.functions.rhumb import (
        rhumb_bearing_deg,
        rhumb_destination,
        rhumb_distance_m,
    )

    ev = _located_events(spark, sf_dir)
    brg_in = (F.col("event_id") * 37 % 360).cast("double")
    dist_in = ((F.col("event_id") % 400 + 100) * 1000).cast("double")
    dlon, dlat = rhumb_destination(F.col("lon"), F.col("lat"), brg_in, dist_in)
    olon, olat = F.lit(_ORIGIN_LON), F.lit(_ORIGIN_LAT)
    return ev.select(
        "event_id",
        (F.round(rhumb_bearing_deg(olon, olat, F.col("lon"), F.col("lat")), 6)
         + F.lit(0.0)).alias("brg_deg"),
        (F.round(rhumb_distance_m(olon, olat, F.col("lon"), F.col("lat"))
                 / F.lit(1000.0), 3) + F.lit(0.0)).alias("dist_km"),
        brg_in.alias("course_deg"),
        (F.round(dlon, 6) + F.lit(0.0)).alias("dest_lon"),
        (F.round(dlat, 6) + F.lit(0.0)).alias("dest_lat"),
    )


def o_rhumb_nav() -> str:
    rad, q4, pi_r, two_pi = repr(_RAD), repr(_Q4), repr(math.pi), repr(_TWO_PI)

    def dpsi(lat1, lat2):
        return (f"ln(tan({q4} + ({lat2} * {rad}) / 2.0)"
                f" / tan({q4} + ({lat1} * {rad}) / 2.0))")

    def dlon_wrap(lon1, lon2):
        return (f"(CASE WHEN (({lon2}) - ({lon1})) * {rad} > {pi_r}"
                f" THEN (({lon2}) - ({lon1})) * {rad} - {two_pi}"
                f" WHEN (({lon2}) - ({lon1})) * {rad} < -{pi_r}"
                f" THEN (({lon2}) - ({lon1})) * {rad} + {two_pi}"
                f" ELSE (({lon2}) - ({lon1})) * {rad} END)")

    o_lon, o_lat = repr(_ORIGIN_LON), repr(_ORIGIN_LAT)
    dp = dpsi(o_lat, "lat")
    dl = dlon_wrap(o_lon, "lon")
    brg_raw = f"degrees(atan2({dl}, {dp}))"
    q_fwd = (f"(CASE WHEN abs({dp}) > 1e-12"
             f" THEN ((lat - {o_lat}) * {rad}) / ({dp})"
             f" ELSE cos({o_lat} * {rad}) END)")
    dist = (f"sqrt(((lat - {o_lat}) * {rad}) * ((lat - {o_lat}) * {rad})"
            f" + {q_fwd} * {q_fwd} * {dl} * {dl}) * 6371000.0")
    return f"""
WITH ev AS (
  SELECT event_id, {_EV_LON} AS lon, {_EV_LAT} AS lat FROM events
),
course AS (
  SELECT *,
         CAST(event_id * 37 % 360 AS DOUBLE) AS course_deg,
         CAST((event_id % 400 + 100) * 1000 AS DOUBLE) AS dist_in
  FROM ev
),
dest1 AS (
  SELECT *,
         lat * {rad} AS rlat1,
         course_deg * {rad} AS theta,
         dist_in / 6371000.0 AS delta
  FROM course
),
dest2 AS (
  SELECT *, rlat1 + delta * cos(theta) AS rlat2 FROM dest1
),
dest3 AS (
  SELECT *,
         ln(tan({q4} + rlat2 / 2.0) / tan({q4} + rlat1 / 2.0)) AS dps
  FROM dest2
),
dest4 AS (
  SELECT *,
         CASE WHEN abs(dps) > 1e-12 THEN (rlat2 - rlat1) / dps
              ELSE cos(rlat1) END AS qf
  FROM dest3
),
dest5 AS (
  SELECT *, lon + degrees(delta * sin(theta) / qf) AS lon2_raw
  FROM dest4
)
SELECT event_id,
       ROUND(CASE WHEN {brg_raw} < 0.0 THEN {brg_raw} + 360.0
                  ELSE {brg_raw} END, 6) + 0.0 AS brg_deg,
       ROUND({dist} / 1000.0, 3) + 0.0 AS dist_km,
       course_deg,
       ROUND(((lon2_raw + 180.0) % 360.0 + 360.0) % 360.0 - 180.0, 6) + 0.0
         AS dest_lon,
       ROUND(degrees(rlat2), 6) + 0.0 AS dest_lat
FROM dest5
"""


# ==================================================== gravity


def q_gravity_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity-model scoring of the z5 OD flow matrix
    (operators/flows.py gravity_flows over od_flows): observed flow vs
    T·(O·D/d²)/Σ expectation per directed cell pair, centers decoded
    arithmetically from the packed ids.  One window + two
    map-side-combined aggs + broadcast marginals — fact-scale work
    ends at the od count."""
    _utc(spark)
    from xutil_spark.operators.flows import gravity_flows, od_flows

    ev = _located_events(spark, sf_dir)
    fl = od_flows(ev, _GRAV_ZOOM, entity="user_id", ts="ts",
                  tiebreak="event_id", self_loops=False, min_count=1)
    return gravity_flows(fl, _GRAV_ZOOM, q_scale=_GRAV_QSCALE)


def o_gravity_flows() -> str:
    cell = _cell_sql("lon", "lat", _GRAV_ZOOM)
    n_axis = float(2 ** _GRAV_ZOOM)
    two_pi = repr(_TWO_PI)

    def center(cell_col):
        x = f"((({cell_col}) >> 29) & 536870911)"
        y = f"(({cell_col}) & 536870911)"
        lon = f"((CAST({x} AS DOUBLE) + 0.5) / {n_axis} * 360.0 - 180.0)"
        m = f"(pi() - {two_pi} * (CAST({y} AS DOUBLE) + 0.5) / {n_axis})"
        lat = f"degrees(atan(0.5 * (exp({m}) - exp(-{m}))))"
        return lon, lat

    flon, flat = center("from_cell")
    tlon, tlat = center("to_cell")
    hav = _HAV_SQL.format(lon1=flon, lat1=flat, lon2=tlon, lat2=tlat)
    qs = repr(_GRAV_QSCALE)
    return f"""
WITH ev AS (
  SELECT event_id, user_id, ts, {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events
),
located AS (
  SELECT event_id, user_id, ts, {cell} AS cell FROM ev
),
moved AS (
  SELECT user_id, cell AS to_cell,
         lag(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_cell
  FROM located
),
fl AS (
  SELECT from_cell, to_cell, COUNT(*) AS n_moves
  FROM moved
  WHERE from_cell IS NOT NULL AND from_cell <> to_cell
  GROUP BY 1, 2
),
om AS (SELECT from_cell, CAST(SUM(n_moves) AS BIGINT) AS out_o
       FROM fl GROUP BY 1),
im AS (SELECT to_cell, CAST(SUM(n_moves) AS BIGINT) AS in_d
       FROM fl GROUP BY 1),
j AS (
  SELECT fl.from_cell, fl.to_cell, fl.n_moves, om.out_o, im.in_d
  FROM fl JOIN om USING (from_cell) JOIN im USING (to_cell)
),
dj AS (SELECT *, {hav} / 1000.0 AS d_km FROM j),
gq AS (
  SELECT *,
         CAST(ROUND(CAST(out_o AS DOUBLE) * CAST(in_d AS DOUBLE)
                    / (d_km * d_km) * {qs}, 0) AS BIGINT) AS g
  FROM dj
),
tot AS (SELECT SUM(n_moves) AS t, SUM(g) AS sg FROM gq),
fin AS (
  SELECT gq.*,
         CASE WHEN tot.sg > 0
              THEN CAST(tot.t AS DOUBLE) * CAST(gq.g AS DOUBLE)
                   / CAST(tot.sg AS DOUBLE) END AS expected_raw
  FROM gq CROSS JOIN tot
)
SELECT from_cell, to_cell, n_moves, out_o, in_d,
       ROUND(d_km, 3) + 0.0 AS dist_km,
       ROUND(expected_raw, 6) + 0.0 AS expected,
       ROUND(CASE WHEN expected_raw > 0.0
                  THEN CAST(n_moves AS DOUBLE) / expected_raw END, 6) + 0.0
         AS ratio
FROM fin
"""


# ================================================== clark-evans


def q_nn_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-z8-cell Clark–Evans nearest-neighbor index
    (operators/pointstats.py nn_stats_cells) over event points:
    within-cell NN mean vs the CSR expectation — clustered / random /
    dispersed per cell.  One shuffle on cell, per-cell self-join
    bounded by the zoom choice."""
    _utc(spark)
    from xutil_spark.operators.pointstats import nn_stats_cells

    ev = _located_events(spark, sf_dir)
    return nn_stats_cells(ev, _NN_ZOOM, id_col="event_id")


def o_nn_index() -> str:
    from xutil_spark.operators.pointstats import CE_SE_CONST

    cell = _cell_sql("lon", "lat", _NN_ZOOM)
    n_axis = float(2 ** _NN_ZOOM)
    dlon_u = repr(1e6 * 360.0 / n_axis)
    two_pi = repr(_TWO_PI)

    def row_lat(yv):
        m = f"(pi() - {two_pi} * ({yv}) / {n_axis})"
        return f"degrees(atan(0.5 * (exp({m}) - exp(-{m}))))"

    y0 = "CAST((cell & 536870911) AS DOUBLE)"
    area = (f"({dlon_u} * (({row_lat(y0)} - {row_lat(f'({y0} + 1.0)')})"
            f" * 1000000.0))")
    ce_const = repr(CE_SE_CONST)
    return f"""
WITH ev AS (
  SELECT event_id, {_EV_LON} AS lon, {_EV_LAT} AS lat FROM events
),
pts AS (
  SELECT event_id, {cell} AS cell,
         CAST(ROUND(lon * 1000000.0, 0) AS BIGINT) AS ux,
         CAST(ROUND(lat * 1000000.0, 0) AS BIGINT) AS uy
  FROM ev
),
pp AS (
  SELECT a.cell, a.event_id,
         MIN((a.ux - b.ux) * (a.ux - b.ux)
             + (a.uy - b.uy) * (a.uy - b.uy)) AS d2min
  FROM pts a JOIN pts b
    ON a.cell = b.cell AND a.event_id <> b.event_id
  GROUP BY 1, 2
),
np AS (
  SELECT cell, CAST(ROUND(sqrt(CAST(d2min AS DOUBLE)), 0) AS BIGINT) AS nn_u
  FROM pp
),
pc AS (SELECT cell, COUNT(*) AS n, SUM(nn_u) AS snn FROM np GROUP BY 1),
calc AS (
  SELECT *,
         CAST(snn AS DOUBLE) / CAST(n AS DOUBLE) AS mean_nn,
         {area} AS area,
         0.5 * sqrt({area} / CAST(n AS DOUBLE)) AS r_exp
  FROM pc
)
SELECT cell, n,
       ROUND(mean_nn, 6) + 0.0 AS mean_nn_u,
       ROUND(r_exp, 6) + 0.0 AS r_expected_u,
       ROUND(mean_nn / r_exp, 6) + 0.0 AS ce_index,
       ROUND((mean_nn - r_exp) / ({ce_const} * sqrt(area) / CAST(n AS DOUBLE)),
             6) + 0.0 AS z_ce
FROM calc
"""


CONTRACT = {
    "quadkey_cells_z9": (q_quadkey_cells, o_quadkey_cells),
    "hilbert_layout_z8": (q_hilbert_layout, o_hilbert_layout),
    "rhumb_nav": (q_rhumb_nav, o_rhumb_nav),
    "gravity_flows_z5": (q_gravity_flows, o_gravity_flows),
    "nn_index_z8": (q_nn_index, o_nn_index),
}
