"""Contract queries, round-4 fifth batch: mobility analytics — the
origin-destination flow matrix (operators/flows.py) and Mann-Kendall
emerging-hotspot trend scores (operators/hotspot.py) over the events
table's deterministic locations.

Same conventions as entry_queries*.py: q_* takes (spark, sf_dir) and
returns a DataFrame; o_* returns ANSI SQL DuckDB runs on the same
inputs.

Oracle parity notes:
- OD flows are pure integer aggregates over a lag window — the oracle
  transcribes the identical window (PARTITION BY user ORDER BY ts,
  event_id) and cell encode.
- Mann-Kendall: bin index, counts, S and 18·VarS are exact integers on
  both sides (integer floor-div binning over floor(epoch) seconds);
  the z-score is one fixed float64 expression tree mirrored verbatim,
  ROUND(…,6)+0.0 normalizing −0.0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import _cell_sql, _read, _utc
from xutil_spark.entry_queries3 import _EV_LAT, _EV_LON

_OD_ZOOM = 5
_MK_ZOOM = 6
_MK_BINS = 10


def _located_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + the deterministic event_id-derived location (the same
    derivation as the streaming contract queries / _EV_LON/_EV_LAT)."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        (F.lit(73.5) + (F.col("event_id") * 2654435761 % 1048576).cast("double")
         / 1048576.0 * 61.0).alias("lon"),
        (F.lit(18.2) + (F.col("event_id") * 1597334677 % 1048576).cast("double")
         / 1048576.0 * 35.3).alias("lat"),
    )


def q_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OD flow matrix at z5 (operators/flows.py): each user's events in
    (ts, event_id) order, every consecutive cell transition counted per
    directed (from_cell, to_cell) pair with distinct-mover counts;
    stationary (same-cell) pairs drop.  One window shuffle on user, one
    map-side-combined count shuffle at pair cardinality."""
    _utc(spark)
    from xutil_spark.operators.flows import od_flows

    ev = _located_events(spark, sf_dir)
    out = od_flows(ev, _OD_ZOOM, entity="user_id", ts="ts",
                   tiebreak="event_id", self_loops=False, min_count=1)
    return out.select("from_cell", "to_cell", "n_moves", "n_entities")


def o_od_flows() -> str:
    # lon/lat materialize in their own CTE: _EV_LON/_EV_LAT are additive
    # expressions — inlining them into the tile formula unparenthesized
    # would change operator precedence
    cell = _cell_sql("lon", "lat", _OD_ZOOM)
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
)
SELECT from_cell, to_cell, COUNT(*) AS n_moves,
       COUNT(DISTINCT user_id) AS n_entities
FROM moved
WHERE from_cell IS NOT NULL AND from_cell <> to_cell
GROUP BY 1, 2
"""


def q_emerging_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall emerging-hotspot trend per z6 cell
    (operators/hotspot.py mann_kendall_cells): events binned into 10
    equal epoch-second bins over the global time frame, per-cell MK S
    with the Kendall tie correction, z = (S∓1)/√VarS.  One fact-side
    (cell, bin) count shuffle; everything after at occupied-cell
    cardinality."""
    _utc(spark)
    from xutil_spark.operators.hotspot import mann_kendall_cells

    ev = _located_events(spark, sf_dir)
    return mann_kendall_cells(ev, _MK_ZOOM, n_bins=_MK_BINS)


def o_emerging_cells() -> str:
    cell = _cell_sql("lon", "lat", _MK_ZOOM)
    n = _MK_BINS
    bins = ",".join(f"({i})" for i in range(n))
    return f"""
WITH ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e,
         {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events
),
frame AS (SELECT MIN(e) AS tmin, MAX(e) - MIN(e) + 1 AS width FROM ev),
binned AS (
  SELECT {cell} AS cell,
         CAST(((e - tmin) * {n}) // width AS INTEGER) AS bin
  FROM ev CROSS JOIN frame
),
bincnt AS (SELECT cell, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
cells AS (SELECT DISTINCT cell FROM bincnt),
bins(bin) AS (VALUES {bins}),
dense AS (
  SELECT cells.cell, bins.bin, COALESCE(bincnt.c, 0) AS c
  FROM cells CROSS JOIN bins
  LEFT JOIN bincnt ON bincnt.cell = cells.cell AND bincnt.bin = bins.bin
),
s AS (
  SELECT a.cell,
         CAST(SUM(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
                       ELSE 0 END) AS BIGINT) AS s
  FROM dense a JOIN dense b ON a.cell = b.cell AND b.bin > a.bin
  GROUP BY 1
),
ties AS (
  SELECT cell,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum,
         CAST(SUM(c * t) AS BIGINT) AS cnt
  FROM (SELECT cell, c, COUNT(*) AS t FROM dense GROUP BY 1, 2)
  GROUP BY 1
),
j AS (
  SELECT s.cell, ties.cnt, s.s,
         {n * (n - 1) * (2 * n + 5)} - ties.tsum AS var18
  FROM s JOIN ties ON s.cell = ties.cell
)
SELECT cell, cnt, s, var18,
       CASE
         WHEN var18 <= 0 THEN NULL
         WHEN s > 0 THEN
           ROUND((s - 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) + 0.0
         WHEN s < 0 THEN
           ROUND((s + 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) + 0.0
         ELSE 0.0
       END AS z
FROM j
"""


# ===================================================== track resampling

_RS_DT = 14400  # 4-hour grid


def q_track_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-regular track resampling (operators/trajectory.py
    resample_tracks): each user's event trail interpolated onto a
    4-hour grid anchored at the track's first fix — lag/lead window +
    sequence explode + one mirrored interpolation tree, zero Python.
    Timestamps truncate to epoch seconds up front so the window order
    (ts, event_id) is identical on both sides."""
    _utc(spark)
    from xutil_spark.operators.trajectory import resample_tracks

    ev = _located_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.unix_timestamp(F.col("ts"))))
    out = resample_tracks(ev, _RS_DT, traj_col="user_id",
                          tiebreak="event_id")
    return out.select("user_id", "k", "t_epoch", "lon", "lat")


def o_track_resample() -> str:
    dt = _RS_DT
    return f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
         {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events
),
w AS (
  SELECT user_id, e, lon, lat,
         MIN(e) OVER (PARTITION BY user_id) AS t0,
         LEAD(e) OVER (PARTITION BY user_id ORDER BY e, event_id) AS e2,
         LEAD(lon) OVER (PARTITION BY user_id ORDER BY e, event_id) AS lon2,
         LEAD(lat) OVER (PARTITION BY user_id ORDER BY e, event_id) AS lat2
  FROM ev
),
b AS (
  SELECT *, (e - t0 + {dt} - 1) // {dt} AS klo,
         CASE WHEN e2 IS NOT NULL THEN
                CASE WHEN e2 > e THEN (e2 - t0 - 1) // {dt}
                     ELSE (e - t0 + {dt} - 1) // {dt} - 1 END
              WHEN (e - t0) % {dt} = 0 THEN (e - t0 + {dt} - 1) // {dt}
              ELSE (e - t0 + {dt} - 1) // {dt} - 1 END AS khi
  FROM w
),
f AS (
  SELECT *, UNNEST(generate_series(klo, khi)) AS k
  FROM b WHERE khi >= klo
),
calc AS (
  SELECT user_id, k, t0 + k * {dt} AS t_epoch,
         CASE WHEN e2 IS NOT NULL AND e2 > e
              THEN CAST(t0 + k * {dt} - e AS DOUBLE)
                   / CAST(e2 - e AS DOUBLE)
              ELSE 0.0 END AS frac,
         lon, lat,
         COALESCE(lon2, lon) AS l2, COALESCE(lat2, lat) AS a2
  FROM f
)
SELECT user_id, k, t_epoch,
       ROUND(lon + (l2 - lon) * frac, 6) + 0.0 AS lon,
       ROUND(lat + (a2 - lat) * frac, 6) + 0.0 AS lat
FROM calc
"""


# ===================================================== speed profile


def q_track_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user movement profile (operators/trajectory.py
    track_speed_stats): segment haversines rounded to integer
    millimeters + integer-second durations so every per-track sum is
    exact under any aggregation order; one window shuffle + one
    map-side-combined groupBy, zero Python."""
    _utc(spark)
    from xutil_spark.operators.trajectory import track_speed_stats

    ev = _located_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.unix_timestamp(F.col("ts"))))
    return track_speed_stats(ev, traj_col="user_id", tiebreak="event_id")


def o_track_speed() -> str:
    import math

    rad = repr(math.pi / 180.0)
    # native.haversine_m's exact expression tree (functions/native.py)
    a = (f"sin((lat - plat) * {rad} / 2.0) * sin((lat - plat) * {rad} / 2.0)"
         f" + sin((lon - plon) * {rad} / 2.0)"
         f" * sin((lon - plon) * {rad} / 2.0)"
         f" * cos(plat * {rad}) * cos(lat * {rad})")
    hav = f"12742000.0 * atan2(sqrt(av), sqrt(1.0 - av))"
    return f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
         {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events
),
w AS (
  SELECT user_id, e, lon, lat,
         LAG(e) OVER (PARTITION BY user_id ORDER BY e, event_id) AS pe,
         LAG(lon) OVER (PARTITION BY user_id ORDER BY e, event_id) AS plon,
         LAG(lat) OVER (PARTITION BY user_id ORDER BY e, event_id) AS plat
  FROM ev
),
h AS (SELECT *, {a} AS av FROM w),
seg AS (
  SELECT user_id, pe,
         CASE WHEN pe IS NOT NULL THEN
           CAST(ROUND(({hav}) * 1000.0, 0) AS BIGINT) END AS dmm,
         CASE WHEN pe IS NOT NULL THEN e - pe END AS dt
  FROM h
),
sp AS (
  SELECT *, CASE WHEN pe IS NOT NULL AND dt > 0 THEN
         (CAST(dmm AS DOUBLE) / 1000.0) / CAST(dt AS DOUBLE) END AS spd
  FROM seg
),
agg AS (
  SELECT user_id, COUNT(*) AS n_fixes, COUNT(dmm) AS n_segs,
         CAST(SUM(dmm) AS BIGINT) AS summ,
         CAST(SUM(CASE WHEN spd IS NOT NULL THEN dmm END) AS BIGINT)
           AS mvmm,
         CAST(SUM(CASE WHEN spd IS NOT NULL THEN dt END) AS BIGINT) AS mvs,
         MAX(spd) AS maxsp
  FROM sp GROUP BY 1
)
SELECT user_id, n_fixes, n_segs,
       ROUND(CAST(COALESCE(summ, 0) AS DOUBLE) / 1000.0, 3) AS dist_m,
       ROUND(maxsp, 6) + 0.0 AS max_speed_mps,
       CASE WHEN mvs > 0 THEN
         ROUND((CAST(mvmm AS DOUBLE) / 1000.0) / CAST(mvs AS DOUBLE), 6)
         + 0.0
       END AS avg_speed_mps
FROM agg
"""


# ===================================================== trips & stays

_TRIP_GAP_S = 43200


def q_trip_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trail -> trip table (operators/trajectory.py segment_trips):
    each user's events split into trips at time gaps > 12 h; trip ids
    from a running break-flag sum on the unique (ts, event_id) order,
    within-trip distances as exact integer-millimeter sums."""
    _utc(spark)
    from xutil_spark.operators.trajectory import segment_trips

    ev = _located_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.unix_timestamp(F.col("ts"))))
    return segment_trips(ev, traj_col="user_id", max_gap_s=_TRIP_GAP_S,
                         tiebreak="event_id")


def o_trip_segments() -> str:
    import math

    rad = repr(math.pi / 180.0)
    a = (f"sin((lat - plat) * {rad} / 2.0) * sin((lat - plat) * {rad} / 2.0)"
         f" + sin((lon - plon) * {rad} / 2.0)"
         f" * sin((lon - plon) * {rad} / 2.0)"
         f" * cos(plat * {rad}) * cos(lat * {rad})")
    hav = "12742000.0 * atan2(sqrt(av), sqrt(1.0 - av))"
    return f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
         {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events
),
w AS (
  SELECT user_id, event_id, e, lon, lat,
         LAG(e) OVER (PARTITION BY user_id ORDER BY e, event_id) AS pe,
         LAG(lon) OVER (PARTITION BY user_id ORDER BY e, event_id) AS plon,
         LAG(lat) OVER (PARTITION BY user_id ORDER BY e, event_id) AS plat
  FROM ev
),
f AS (
  SELECT *, CASE WHEN pe IS NULL OR e - pe > {_TRIP_GAP_S}
                 THEN 1 ELSE 0 END AS brk
  FROM w
),
r AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY e, event_id
                           ROWS UNBOUNDED PRECEDING) AS grp
  FROM f
),
h AS (SELECT *, {a} AS av FROM r),
seg AS (
  SELECT user_id, CAST(grp AS BIGINT) AS trip_id, e,
         CASE WHEN brk = 0 THEN
           CAST(ROUND(({hav}) * 1000.0, 0) AS BIGINT) END AS dmm
  FROM h
),
agg AS (
  SELECT user_id, trip_id, COUNT(*) AS n_fixes,
         MIN(e) AS start_epoch, MAX(e) AS end_epoch,
         CAST(SUM(dmm) AS BIGINT) AS summ
  FROM seg GROUP BY 1, 2
)
SELECT user_id, trip_id, n_fixes, start_epoch, end_epoch,
       end_epoch - start_epoch AS duration_s,
       ROUND(CAST(COALESCE(summ, 0) AS DOUBLE) / 1000.0, 3) AS dist_m
FROM agg
"""


_STAY_JUMP_M = 200.0
_STAY_MIN_S = 900

# home-anchored location: each user dwells around a hash-derived home
# point with ~50 m jitter; every 5th event is an excursion up to ~1 deg
# away, breaking the stay run.  Mirrored verbatim in the oracle.
_ST_HLON = "73.5 + CAST(user_id * 2654435761 % 1048576 AS DOUBLE) / 1048576.0 * 61.0"
_ST_HLAT = "18.2 + CAST(user_id * 1597334677 % 1048576 AS DOUBLE) / 1048576.0 * 35.3"
_ST_JLON = "(CAST(event_id * 2246822519 % 1000 AS DOUBLE) / 1000.0 - 0.5)"
_ST_JLAT = "(CAST(event_id * 3266489917 % 1000 AS DOUBLE) / 1000.0 - 0.5)"


def _home_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    u, eid = F.col("user_id"), F.col("event_id")
    hlon = (F.lit(73.5) + (u * 2654435761 % 1048576).cast("double")
            / 1048576.0 * 61.0)
    hlat = (F.lit(18.2) + (u * 1597334677 % 1048576).cast("double")
            / 1048576.0 * 35.3)
    jlon = (eid * 2246822519 % 1000).cast("double") / 1000.0 - 0.5
    jlat = (eid * 3266489917 % 1000).cast("double") / 1000.0 - 0.5
    exc = (eid % 5) == 0
    scale_lon = F.when(exc, F.lit(2.0)).otherwise(F.lit(0.001))
    scale_lat = F.when(exc, F.lit(2.0)).otherwise(F.lit(0.001))
    return ev.select(
        "event_id", "user_id",
        F.timestamp_seconds(
            F.unix_timestamp(F.col("ts").cast("timestamp"))).alias("ts"),
        (hlon + jlon * scale_lon).alias("lon"),
        (hlat + jlat * scale_lat).alias("lat"),
    )


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point extraction (operators/trajectory.py detect_stays):
    maximal runs of consecutive fixes with step distance <= 200 m and
    dwell >= 15 min over a home-anchored location derivation (every
    5th event is an excursion); integer-mm break compare + integer
    micro-degree centroid sums keep both sides exact."""
    _utc(spark)
    from xutil_spark.operators.trajectory import detect_stays

    return detect_stays(_home_events(spark, sf_dir), traj_col="user_id",
                        stay_jump_m=_STAY_JUMP_M, min_stay_s=_STAY_MIN_S,
                        tiebreak="event_id")


def o_stay_points() -> str:
    import math

    rad = repr(math.pi / 180.0)
    a = (f"sin((lat - plat) * {rad} / 2.0) * sin((lat - plat) * {rad} / 2.0)"
         f" + sin((lon - plon) * {rad} / 2.0)"
         f" * sin((lon - plon) * {rad} / 2.0)"
         f" * cos(plat * {rad}) * cos(lat * {rad})")
    hav = "12742000.0 * atan2(sqrt(av), sqrt(1.0 - av))"
    jump_mm = int(round(_STAY_JUMP_M * 1000.0))
    return f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
         ({_ST_HLON}) + {_ST_JLON}
           * (CASE WHEN event_id % 5 = 0 THEN 2.0 ELSE 0.001 END) AS lon,
         ({_ST_HLAT}) + {_ST_JLAT}
           * (CASE WHEN event_id % 5 = 0 THEN 2.0 ELSE 0.001 END) AS lat
  FROM events
),
w AS (
  SELECT user_id, event_id, e, lon, lat,
         LAG(e) OVER (PARTITION BY user_id ORDER BY e, event_id) AS pe,
         LAG(lon) OVER (PARTITION BY user_id ORDER BY e, event_id) AS plon,
         LAG(lat) OVER (PARTITION BY user_id ORDER BY e, event_id) AS plat
  FROM ev
),
h AS (SELECT *, {a} AS av FROM w),
f AS (
  SELECT *, CASE WHEN pe IS NULL OR
                 CAST(ROUND(({hav}) * 1000.0, 0) AS BIGINT) > {jump_mm}
                 THEN 1 ELSE 0 END AS brk
  FROM h
),
r AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY e, event_id
                           ROWS UNBOUNDED PRECEDING) AS grp
  FROM f
),
agg AS (
  SELECT user_id, CAST(grp AS BIGINT) AS stay_id, COUNT(*) AS n_fixes,
         MIN(e) AS start_epoch, MAX(e) AS end_epoch,
         CAST(SUM(CAST(ROUND(lon * 1000000.0, 0) AS BIGINT)) AS BIGINT)
           AS slon,
         CAST(SUM(CAST(ROUND(lat * 1000000.0, 0) AS BIGINT)) AS BIGINT)
           AS slat
  FROM r GROUP BY 1, 2
)
SELECT user_id, stay_id, n_fixes, start_epoch, end_epoch,
       end_epoch - start_epoch AS dwell_s,
       CAST(CASE WHEN slon >= 0 THEN (2 * slon + n_fixes) // (2 * n_fixes)
                 ELSE -((2 * (-slon) + n_fixes) // (2 * n_fixes)) END
            AS DOUBLE) / 1000000.0 AS ctr_lon,
       CAST(CASE WHEN slat >= 0 THEN (2 * slat + n_fixes) // (2 * n_fixes)
                 ELSE -((2 * (-slat) + n_fixes) // (2 * n_fixes)) END
            AS DOUBLE) / 1000000.0 AS ctr_lat
FROM agg
WHERE end_epoch - start_epoch >= {_STAY_MIN_S}
"""


# ===================================================== bearings


def q_track_bearings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user directional profile (operators/trajectory.py
    track_bearing_stats): circular-mean heading / resultant length
    from 1e-8-integer sin/cos sums, turning totals as pure integer
    micro-degree arithmetic, straightness from integer-mm distances —
    exact under any aggregation order; one window shuffle + one
    map-side-combined groupBy, zero Python."""
    _utc(spark)
    from xutil_spark.operators.trajectory import track_bearing_stats

    ev = _located_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.unix_timestamp(F.col("ts"))))
    return track_bearing_stats(ev, traj_col="user_id", tiebreak="event_id")


def o_track_bearings() -> str:
    import math

    rad = repr(math.pi / 180.0)
    a = (f"sin((lat - plat) * {rad} / 2.0) * sin((lat - plat) * {rad} / 2.0)"
         f" + sin((lon - plon) * {rad} / 2.0)"
         f" * sin((lon - plon) * {rad} / 2.0)"
         f" * cos(plat * {rad}) * cos(lat * {rad})")
    hav = "12742000.0 * atan2(sqrt(av), sqrt(1.0 - av))"
    na = (f"sin((llat - flat) * {rad} / 2.0) * sin((llat - flat) * {rad} / 2.0)"
          f" + sin((llon - flon) * {rad} / 2.0)"
          f" * sin((llon - flon) * {rad} / 2.0)"
          f" * cos(flat * {rad}) * cos(llat * {rad})")
    nhav = "12742000.0 * atan2(sqrt(nav), sqrt(1.0 - nav))"
    return f"""
WITH ev AS (
  SELECT user_id, event_id, ts, {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events
),
w AS (
  SELECT user_id, event_id, ts, lon, lat,
         LAG(lon) OVER win AS plon, LAG(lat) OVER win AS plat,
         ROW_NUMBER() OVER win AS rn
  FROM ev
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seg AS (
  SELECT *,
         CASE WHEN plon IS NOT NULL AND (plon <> lon OR plat <> lat)
              THEN sin((lon - plon) * {rad}) * cos(lat * {rad}) END AS yy,
         CASE WHEN plon IS NOT NULL AND (plon <> lon OR plat <> lat)
              THEN cos(plat * {rad}) * sin(lat * {rad})
                   - sin(plat * {rad}) * cos(lat * {rad})
                     * cos((lon - plon) * {rad}) END AS xx,
         CASE WHEN plon IS NOT NULL THEN {a} END AS av
  FROM w
),
br AS (
  SELECT *,
         CASE WHEN yy IS NOT NULL THEN
           CAST(ROUND((CASE WHEN degrees(atan2(yy, xx)) < 0.0
                            THEN degrees(atan2(yy, xx)) + 360.0
                            ELSE degrees(atan2(yy, xx)) END) * 1000000.0, 0)
                AS BIGINT) % 360000000 END AS bu,
         CASE WHEN yy IS NOT NULL THEN
           CAST(ROUND(yy / sqrt(xx * xx + yy * yy) * 100000000.0, 0)
                AS BIGINT) END AS si,
         CASE WHEN yy IS NOT NULL THEN
           CAST(ROUND(xx / sqrt(xx * xx + yy * yy) * 100000000.0, 0)
                AS BIGINT) END AS ci,
         CASE WHEN plon IS NOT NULL THEN
           CAST(ROUND(({hav}) * 1000.0, 0) AS BIGINT) END AS dmm
  FROM seg
),
tn AS (
  SELECT *,
         LAST_VALUE(bu IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pbu
  FROM br
),
tr AS (
  SELECT *, CASE WHEN bu IS NOT NULL AND pbu IS NOT NULL THEN
              (bu - pbu + 540000000) % 360000000 - 180000000 END AS turn
  FROM tn
),
agg AS (
  SELECT user_id, COUNT(*) AS n_fixes, COUNT(bu) AS n_segs,
         CAST(SUM(si) AS BIGINT) AS s, CAST(SUM(ci) AS BIGINT) AS c,
         COUNT(turn) AS n_turns,
         CAST(SUM(abs(turn)) AS BIGINT) AS tsum,
         CAST(SUM(dmm) AS BIGINT) AS pathmm,
         MAX(CASE WHEN rn = 1 THEN lon END) AS flon,
         MAX(CASE WHEN rn = 1 THEN lat END) AS flat,
         ARG_MAX(lon, rn) AS llon, ARG_MAX(lat, rn) AS llat
  FROM tr GROUP BY 1
),
calc AS (
  SELECT *,
         degrees(atan2(CAST(s AS DOUBLE), CAST(c AS DOUBLE))) AS mh,
         {na} AS nav
  FROM agg
)
SELECT user_id, n_fixes, n_segs,
       CASE WHEN n_segs > 0 AND (s <> 0 OR c <> 0) THEN
         ROUND(CASE WHEN mh < 0.0 THEN mh + 360.0 ELSE mh END, 6) + 0.0
       END AS mean_heading_deg,
       CASE WHEN n_segs > 0 THEN
         ROUND(sqrt(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    + CAST(c AS DOUBLE) * CAST(c AS DOUBLE))
               / (100000000.0 * CAST(n_segs AS DOUBLE)), 6) + 0.0
       END AS resultant_r,
       n_turns,
       ROUND(CAST(COALESCE(tsum, 0) AS DOUBLE) / 1000000.0, 6)
         AS sum_abs_turn_deg,
       CASE WHEN COALESCE(pathmm, 0) > 0 THEN
         ROUND(CAST(CAST(ROUND(({nhav}) * 1000.0, 0) AS BIGINT) AS DOUBLE)
               / CAST(pathmm AS DOUBLE), 6) + 0.0
       END AS straightness
FROM calc
"""


# ===================================================== ellipse


def q_dev_ellipse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user standard deviational ellipse (operators/flows.py
    deviational_ellipse): mean center / rotation / axis sigmas from
    five exact integer micro-degree moment sums — one map-side-
    combined groupBy, no window, no join, zero Python."""
    _utc(spark)
    from xutil_spark.operators.flows import deviational_ellipse

    return deviational_ellipse(_located_events(spark, sf_dir),
                               group="user_id")


def o_dev_ellipse() -> str:
    import math

    pi = repr(math.pi)
    half_pi = repr(math.pi / 2.0)
    scale = repr(math.sqrt(2.0) / 1e6)
    return f"""
WITH ev AS (
  SELECT user_id,
         CAST(ROUND(({_EV_LON}) * 1000000.0, 0) AS BIGINT) AS ux,
         CAST(ROUND(({_EV_LAT}) * 1000000.0, 0) AS BIGINT) AS uy
  FROM events
),
agg AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(SUM(ux) AS BIGINT) AS sx, CAST(SUM(uy) AS BIGINT) AS sy,
         CAST(SUM(ux * ux) AS BIGINT) AS sxx,
         CAST(SUM(uy * uy) AS BIGINT) AS syy,
         CAST(SUM(ux * uy) AS BIGINT) AS sxy
  FROM ev GROUP BY 1
),
cm AS (
  SELECT *,
         CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS cxx,
         CAST(syy AS DOUBLE) - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
           / CAST(n AS DOUBLE) AS cyy,
         CAST(sxy AS DOUBLE) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / CAST(n AS DOUBLE) AS cxy
  FROM agg
),
th AS (
  SELECT *,
         CASE WHEN cxy <> 0.0 THEN
           atan(((cxx - cyy) + sqrt((cxx - cyy) * (cxx - cyy)
                                    + 4.0 * cxy * cxy)) / (2.0 * cxy))
         WHEN cxx >= cyy THEN 0.0 ELSE {half_pi} END AS traw
  FROM cm
),
th2 AS (
  SELECT *, CASE WHEN traw < 0.0 THEN traw + {pi} ELSE traw END AS theta
  FROM th
),
rot AS (
  SELECT *,
         (cos(theta) * cos(theta) * cxx
          - 2.0 * cos(theta) * sin(theta) * cxy
          + sin(theta) * sin(theta) * cyy) / CAST(n AS DOUBLE) AS sx2,
         (sin(theta) * sin(theta) * cxx
          + 2.0 * cos(theta) * sin(theta) * cxy
          + cos(theta) * cos(theta) * cyy) / CAST(n AS DOUBLE) AS sy2
  FROM th2
)
SELECT user_id, n,
       CAST(CASE WHEN sx >= 0 THEN (2 * sx + n) // (2 * n)
                 ELSE -((2 * (-sx) + n) // (2 * n)) END AS DOUBLE)
         / 1000000.0 AS ctr_lon,
       CAST(CASE WHEN sy >= 0 THEN (2 * sy + n) // (2 * n)
                 ELSE -((2 * (-sy) + n) // (2 * n)) END AS DOUBLE)
         / 1000000.0 AS ctr_lat,
       ROUND(degrees(theta), 6) + 0.0 AS angle_deg,
       ROUND({scale} * sqrt(GREATEST(sx2, 0.0)), 6) + 0.0 AS sigma_x,
       ROUND({scale} * sqrt(GREATEST(sy2, 0.0)), 6) + 0.0 AS sigma_y
FROM rot
"""


CONTRACT = {
    "od_flows_z5": (q_od_flows, o_od_flows),
    "emerging_cells_mk": (q_emerging_cells, o_emerging_cells),
    "track_resample_4h": (q_track_resample, o_track_resample),
    "track_speed_stats": (q_track_speed, o_track_speed),
    "trip_segments": (q_trip_segments, o_trip_segments),
    "stay_points": (q_stay_points, o_stay_points),
    "track_bearing_stats": (q_track_bearings, o_track_bearings),
    "dev_ellipse_users": (q_dev_ellipse, o_dev_ellipse),
}
