"""Contract queries, round-4 tenth batch: the spatiotemporal encounter
join (operators/encounters.py) — entity pairs co-located within
``radius_m`` meters and ``window_s`` seconds, the proximity/contact
primitive over event trails — and D8 flow routing + watershed labeling
(operators/hydrology.py) over the z8 event-count surface.

Same conventions as every entry_queries*.py: q_* takes (spark, sf_dir)
and returns a DataFrame; o_* returns ANSI SQL DuckDB runs on the same
parquet inputs.

Oracle parity notes: the oracle joins on the SAME floor-epoch time
buckets (an equi-join DuckDB can hash — the naive cross join is 10⁸
pairs at sf0.01) expanded over the {−1,0,+1} offsets, then applies the
identical exact filters: integer |Δepoch| ≤ W and the transcribed
haversine ≤ R.  Counts are exact integers; MIN(dist) is selection (no
accumulation), rounded to mm on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from xutil_spark.entry_queries import _HAV_SQL, _simhash_py, _tile_sql, _utc
from xutil_spark.entry_queries3 import _EV_LAT, _EV_LON
from xutil_spark.entry_queries12 import _located_events

_ENC_RADIUS_M = 100_000.0
_ENC_WINDOW_S = 21_600


def q_encounters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Who met whom: user pairs with ≥1 event pair within 100 km and
    6 h, with encounter counts and the closest approach.  Engine:
    bucketed (cell, time-bucket) self equi-join, ring-1 cover at the
    zoom derived from the radius and the events' max |lat| (z6 for
    100 km here), exact JVM-native haversine refine — zero Python, no
    cross join."""
    _utc(spark)
    from xutil_spark.operators.encounters import encounter_join

    ev = _located_events(spark, sf_dir)
    return encounter_join(
        ev, radius_m=_ENC_RADIUS_M, window_s=_ENC_WINDOW_S,
        entity="user_id", event_id="event_id", ts="ts",
    )


def o_encounters() -> str:
    hav = _HAV_SQL.format(lon1="l.lon", lat1="l.lat",
                          lon2="r.lon", lat2="r.lat")
    w = _ENC_WINDOW_S
    return f"""
WITH ev AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events
),
e AS (
  SELECT *, CAST(floor(ep / {w}.0) AS BIGINT) AS bkt FROM ev
),
cand AS (
  SELECT l.user_id AS ua, r.user_id AS ub, {hav} AS d
  FROM e l
  CROSS JOIN (VALUES (-1), (0), (1)) s(o)
  JOIN e r ON r.bkt = l.bkt + s.o
          AND l.user_id < r.user_id
          AND abs(l.ep - r.ep) <= {w}
  WHERE {hav} <= {_ENC_RADIUS_M}
)
SELECT ua AS entity_a, ub AS entity_b,
       COUNT(*) AS n_encounters, ROUND(MIN(d), 3) AS min_dist_m
FROM cand
GROUP BY 1, 2
"""


# ===================================================== D8 flow / watershed

_FLOW_ZOOM = 8


def q_flow_watershed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow routing over the z8 event-count surface
    (operators/hydrology.py): per occupied cell its steepest-descent
    direction (integer-exact 2·d²-vs-d² comparison, compass-priority
    ties), successor, terminal sink cell and hop count.  Engine:
    8-dir explode + one equi-join for direction choice, then pointer
    doubling (fixed ⌈log₂(max v+1)⌉+1 round budget, dim-scale gate to
    one vectorized pandas pass).  Oracle: the same integer scoring in
    SQL + a recursive-CTE walk to the sink."""
    _utc(spark)
    from pyspark.sql import functions as F

    from xutil_spark.operators.hydrology import watershed
    from xutil_spark.operators.spatial_join import with_cell

    ev = _located_events(spark, sf_dir)
    counts = (with_cell(ev, _FLOW_ZOOM, "lon", "lat")
              .groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")))
    return watershed(counts, _FLOW_ZOOM, value="cnt")


def o_flow_watershed() -> str:
    z = _FLOW_ZOOM
    n = 2 ** z
    xs, ys = _tile_sql("lon", "lat", z)
    dirs = ",".join(f"({d},{dx},{dy},{e})" for d, dx, dy, e in [
        (0, 0, -1, 1), (1, 1, -1, 0), (2, 1, 0, 1), (3, 1, 1, 0),
        (4, 0, 1, 1), (5, -1, 1, 0), (6, -1, 0, 1), (7, -1, -1, 0)])
    return f"""
WITH RECURSIVE ev AS (
  SELECT {_EV_LON} AS lon, {_EV_LAT} AS lat FROM events
),
t AS (SELECT {xs} AS x, {ys} AS y FROM ev),
cells AS (
  SELECT x, y, ({z} * 288230376151711744 + x * 536870912 + y) AS cell,
         COUNT(*) AS v
  FROM t GROUP BY 1, 2
),
dirs(d, dx, dy, e) AS (VALUES {dirs}),
cand AS (
  SELECT c.cell, c.v, s.d, s.e,
         ((c.x + s.dx + {n}) % {n}) AS nx2, c.y + s.dy AS ny,
         COALESCE(nb.v, 0) AS nv
  FROM cells c
  CROSS JOIN dirs s
  LEFT JOIN cells nb ON nb.x = ((c.x + s.dx + {n}) % {n})
                    AND nb.y = c.y + s.dy
  WHERE c.y + s.dy >= 0 AND c.y + s.dy < {n}
),
scored AS (
  SELECT cell, v, d,
         ({z} * 288230376151711744 + nx2 * 536870912 + ny) AS succ,
         (v - nv) * (v - nv) * (1 + e) AS key
  FROM cand WHERE v - nv > 0
),
best AS (
  SELECT cell, d AS dir, succ FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cell ORDER BY key DESC, d ASC) AS rn
    FROM scored) WHERE rn = 1
),
flows AS (
  SELECT c.cell, c.v, b.dir, b.succ
  FROM cells c LEFT JOIN best b USING (cell)
),
walk(cell, cur, n_steps) AS (
  SELECT cell, cell, 0 FROM flows
  UNION ALL
  SELECT w.cell, f.succ, w.n_steps + 1
  FROM walk w JOIN flows f ON f.cell = w.cur
  WHERE f.succ IS NOT NULL
)
SELECT fl.cell, fl.v, fl.dir, fin.sink_cell, fin.n_steps
FROM flows fl JOIN (
  SELECT cell, cur AS sink_cell, n_steps FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cell ORDER BY n_steps DESC) AS rn
    FROM walk) WHERE rn = 1
) fin USING (cell)
"""


# ===================================================== cross-modal dedup

_XM_IMG_T = 3     # image dHash hamming (banded-join exact bound)
_XM_TXT_T = 10    # caption SimHash hamming filter


def q_crossmodal_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal near-dup pairs over the input_hint images table:
    candidate pairs from the EXACT banded image-dHash self-join
    (pigeonhole, t ≤ bands−1), refined by caption SimHash hamming ≤
    10 — the training-data dedup rule "same picture AND same caption",
    composing the image and text fingerprint stacks.  Both fingerprint
    tables are dim-wide joins back onto the pair set (AQE broadcasts
    them); the scale path is the image-band bucket join."""
    from pyspark.sql import functions as F

    from xutil_spark.data.synth import images_table
    from xutil_spark.operators.dedup import hamming_near_dup_pairs, simhash
    from xutil_spark.raster.images import dhash

    img = images_table(spark, 2000).localCheckpoint()
    fp = dhash(img)
    sh = simhash(img.select("image_id", "caption"),
                 text_col="caption", id_col="image_id")
    fpj = fp.join(sh, "image_id").localCheckpoint()
    pairs = hamming_near_dup_pairs(fpj, "dhash", "image_id",
                                   max_hamming=_XM_IMG_T, bands=4)
    sa = fpj.select(F.col("image_id").alias("a"), F.col("simhash").alias("_sa"))
    sb = fpj.select(F.col("image_id").alias("b"), F.col("simhash").alias("_sb"))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .withColumn(
            "caption_hamming",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int"))
        .filter(F.col("caption_hamming") <= _XM_TXT_T)
        .select("a", "b", F.col("hamming").alias("img_hamming"),
                "caption_hamming")
    )


def o_crossmodal_dups() -> str:
    """Ground truth: full O(n²) sweep in DuckDB over INDEPENDENT scalar
    re-derivations of both fingerprints (entry_queries6._dhash_py from
    the generator formula; entry_queries._simhash_py pinned to Spark
    xxhash64 by tests/test_registry.py)."""
    from xutil_spark.data.synth import caption_for
    from xutil_spark.entry_queries6 import _dhash_py

    dh, sh = {}, {}
    for i in range(2000):
        kd = (i % 3, i % 256)
        if kd not in dh:
            dh[kd] = _dhash_py(i)
        sh[i] = _simhash_py(caption_for(i))
    rows = ",".join(
        f"('img{i:012d}',{dh[(i % 3, i % 256)]},{sh[i]})" for i in range(2000)
    )
    return f"""
WITH fp AS (SELECT * FROM (VALUES {rows}) AS t(image_id, dhash, simhash))
SELECT a.image_id AS a, b.image_id AS b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS img_hamming,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
         AS caption_hamming
FROM fp a JOIN fp b ON a.image_id < b.image_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= {_XM_IMG_T}
  AND bit_count(xor(a.simhash, b.simhash)) <= {_XM_TXT_T}
"""


# ===================================================== space-time clustering

_ST_ZOOM = 7
_ST_WINDOW_S = 21_600
_ST_MIN = 3


def q_st_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatiotemporal grid clustering (operators/clustering.py
    st_grid_clusters): events voxelized to (z7 cell, 6 h bucket),
    dense voxels (≥3 events) connected over the 26-neighborhood,
    components labeled by min voxel id — bursts / moving hotspots.
    Everything past one count shuffle runs at dense-voxel cardinality."""
    _utc(spark)
    from xutil_spark.operators.clustering import st_grid_clusters

    ev = _located_events(spark, sf_dir)
    return st_grid_clusters(ev, zoom=_ST_ZOOM, window_s=_ST_WINDOW_S,
                            min_count=_ST_MIN)


def o_st_clusters() -> str:
    z, w, m = _ST_ZOOM, _ST_WINDOW_S, _ST_MIN
    n = 2 ** z
    xs, ys = _tile_sql("lon", "lat", z)
    return f"""
WITH RECURSIVE ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events
),
t AS (
  SELECT {xs} AS x, {ys} AS y,
         CAST(floor(ep / {w}.0) AS BIGINT) AS bkt
  FROM ev
),
vox AS (SELECT x, y, bkt, COUNT(*) AS n_points FROM t GROUP BY 1, 2, 3),
dense AS (
  SELECT x, y, bkt, n_points,
         (x * {n} + y) * 1048576 + bkt AS vid,
         ({z} * 288230376151711744 + x * 536870912 + y) AS cell
  FROM vox WHERE n_points >= {m}
),
pairs AS (
  SELECT a.vid AS a, b.vid AS b
  FROM dense a JOIN dense b ON a.vid < b.vid
   AND abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1
   AND abs(a.bkt - b.bkt) <= 1
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
SELECT d.cell, d.bkt, COALESCE(c.cluster_id, d.vid) AS cluster_id,
       CAST(d.n_points AS BIGINT) AS n_points
FROM dense d LEFT JOIN comp c ON d.vid = c.src
"""


CONTRACT = {
    "encounters_z6": (q_encounters, o_encounters),
    "flow_watershed_z8": (q_flow_watershed, o_flow_watershed),
    "crossmodal_dups": (q_crossmodal_dups, o_crossmodal_dups),
    "st_clusters_z7": (q_st_clusters, o_st_clusters),
}
