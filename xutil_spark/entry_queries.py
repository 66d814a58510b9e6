"""Contract queries: each ``CONTRACT[name]`` pairs a callable
``q_*(spark, sf_dir) -> DataFrame`` with ``o_*() -> str``, the
equivalent DuckDB SQL over the same parquet tables (pre-registered
views).  ``xutil_spark.contract`` merges the tables of every
``entry_queries*`` module.

Design rules for oracle parity (tests/test_contract.py hash-compares
values):

* every computed column is aliased IDENTICALLY on both sides;
* float outputs are rounded (6 dp scores / 3 dp meters) on both sides;
* point coordinates derive from table keys via *integer* arithmetic that
  is bit-identical across engines (no RNG, no wall clock);
* session TZ pinned to UTC inside each callable (timestamps in parquet
  are naive; DuckDB reads them as-is).

The spatial queries re-derive deterministic lon/lat from lineitem /
supplier keys (China bbox, FIXTURES.md §1) so the spatial engine can be
oracle-checked on the driver's TPC-H-ish tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xutil_spark.functions import native

# ---------------------------------------------------------------- helpers

# shared derivation constants (documented in oracle SQL strings too)
_H1_MUL, _H1_LIN = 2654435761, 40503
_H2_MUL, _H2_LIN = 1597334677, 69697
_MASK20 = 1048576  # 2^20

# SQL fragments (ANSI, valid in DuckDB and Spark SQL alike)
_PTS_SQL = f"""
SELECT l_orderkey * 10 + l_linenumber AS pid,
       73.5 + ((l_orderkey * {_H1_MUL} + l_linenumber * {_H1_LIN}) % {_MASK20}) / {_MASK20}.0 * 61.0 AS lon,
       18.2 + ((l_orderkey * {_H2_MUL} + l_linenumber * {_H2_LIN}) % {_MASK20}) / {_MASK20}.0 * 35.3 AS lat,
       l_quantity, l_extendedprice
FROM lineitem
"""

_REFS_SQL = f"""
SELECT s_suppkey AS ref_id,
       73.5 + ((s_suppkey * {_H1_MUL}) % {_MASK20}) / {_MASK20}.0 * 61.0 AS lon,
       18.2 + ((s_suppkey * {_H2_MUL}) % {_MASK20}) / {_MASK20}.0 * 35.3 AS lat
FROM supplier
"""


def _tile_sql(lon: str, lat: str, z: int) -> tuple[str, str]:
    n = float(2 ** z)
    x = f"CAST(floor(({lon} + 180.0) / 360.0 * {n}) AS BIGINT)"
    y = (
        f"CAST(floor((1.0 - ln(tan({lat} * pi() / 180.0) + 1.0 /"
        f" cos({lat} * pi() / 180.0)) / pi()) / 2.0 * {n}) AS BIGINT)"
    )
    return x, y


def _cell_sql(lon: str, lat: str, z: int) -> str:
    x, y = _tile_sql(lon, lat, z)
    return f"({z} * 288230376151711744 + {x} * 536870912 + {y})"


_HAV_SQL = (
    "2.0 * 6371000.0 * atan2("
    " sqrt(sin(({lat2} - {lat1}) * pi() / 360.0) * sin(({lat2} - {lat1}) * pi() / 360.0)"
    "  + sin(({lon2} - {lon1}) * pi() / 360.0) * sin(({lon2} - {lon1}) * pi() / 360.0)"
    "    * cos({lat1} * pi() / 180.0) * cos({lat2} * pi() / 180.0)),"
    " sqrt(1.0 - (sin(({lat2} - {lat1}) * pi() / 360.0) * sin(({lat2} - {lat1}) * pi() / 360.0)"
    "  + sin(({lon2} - {lon1}) * pi() / 360.0) * sin(({lon2} - {lon1}) * pi() / 360.0)"
    "    * cos({lat1} * pi() / 180.0) * cos({lat2} * pi() / 180.0))))"
)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _await_stream(q, work: str | None = None, timeout: int = 300) -> None:
    """awaitTermination with the timeout actually CHECKED: on expiry the
    sink holds a partial result (a baffling hash mismatch downstream)
    and the query would keep running while its checkpoint/sink dirs get
    cleaned up — stop it and fail loudly instead."""
    if not q.awaitTermination(timeout):
        q.stop()
        if work:
            import shutil

            shutil.rmtree(work, ignore_errors=True)
        raise TimeoutError(
            f"streaming query did not finish within {timeout}s"
        )


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived deterministic points from lineitem (Spark side mirrors
    _PTS_SQL bit-for-bit: integer ops then one double expression)."""
    li = _read(spark, sf_dir, "lineitem")
    h1 = (li.l_orderkey * _H1_MUL + li.l_linenumber.cast("long") * _H1_LIN) % _MASK20
    h2 = (li.l_orderkey * _H2_MUL + li.l_linenumber.cast("long") * _H2_LIN) % _MASK20
    return li.select(
        (li.l_orderkey * 10 + li.l_linenumber).alias("pid"),
        (F.lit(73.5) + h1.cast("double") / _MASK20 * 61.0).alias("lon"),
        (F.lit(18.2) + h2.cast("double") / _MASK20 * 35.3).alias("lat"),
        "l_quantity", "l_extendedprice",
    )


def _refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _read(spark, sf_dir, "supplier")
    h1 = (s.s_suppkey * _H1_MUL) % _MASK20
    h2 = (s.s_suppkey * _H2_MUL) % _MASK20
    return s.select(
        F.col("s_suppkey").alias("ref_id"),
        (F.lit(73.5) + h1.cast("double") / _MASK20 * 61.0).alias("lon"),
        (F.lit(18.2) + h2.cast("double") / _MASK20 * 35.3).alias("lat"),
    )


# ================================================================= spatial


def q_tile_assign_z15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: cell-encode every point at z15 (native JVM expr), count
    + stats per cell — the core tile-assignment aggregation."""
    _utc(spark)
    pts = _points(spark, sf_dir)
    return (
        pts.withColumn("cell", native.cell("lon", "lat", 15))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.sum("l_quantity"), 3).alias("sum_qty"),
        )
    )


def o_tile_assign_z15() -> str:
    cell = _cell_sql("lon", "lat", 15)
    return f"""
WITH pts AS ({_PTS_SQL})
SELECT {cell} AS cell, COUNT(*) AS n_points, ROUND(SUM(l_quantity), 3) AS sum_qty
FROM pts GROUP BY 1
"""


def q_tile_rollup_z10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadtree rollup: z15 cells → z10 ancestors by pure bit arithmetic
    (no re-encode), then aggregate — the hierarchical-index property."""
    _utc(spark)
    pts = _points(spark, sf_dir)
    return (
        pts.withColumn("cell15", native.cell("lon", "lat", 15))
        .withColumn("cell10", native.cell_parent(F.col("cell15"), 15, 10))
        .groupBy("cell10")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def o_tile_rollup_z10() -> str:
    cell15 = _cell_sql("lon", "lat", 15)
    return f"""
WITH pts AS ({_PTS_SQL}),
c15 AS (SELECT {cell15} AS cell15 FROM pts)
SELECT 10 * 288230376151711744
       + ((cell15 % 288230376151711744) // 536870912 // 32) * 536870912
       + ((cell15 % 536870912) // 32) AS cell10,
       COUNT(*) AS n_points
FROM c15 GROUP BY 1
"""


def q_tile_pixel_z12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TileImage (gis.go:277-283): tile + in-tile pixel position at z12
    with 256px tiles — the raster↔vector bridge, via the Arrow UDF."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir).filter(F.col("pid") % 13 == 1)
    tp = geo_udfs.tile_pixel(F.col("lon"), F.col("lat"), F.lit(12), F.lit(256))
    return pts.select(
        "pid",
        tp.getField("tx").alias("tx"),
        tp.getField("ty").alias("ty"),
        tp.getField("px").alias("px"),
        tp.getField("py").alias("py"),
    )


def o_tile_pixel_z12() -> str:
    x12, y12 = _tile_sql("lon", "lat", 12)
    x20, y20 = _tile_sql("lon", "lat", 20)  # z12 + log2(256) = 20
    return f"""
WITH pts AS ({_PTS_SQL})
SELECT pid, {x12} AS tx, {y12} AS ty,
       {x20} - {x12} * 256 AS px, {y20} - {y12} * 256 AS py
FROM pts WHERE pid % 13 = 1
"""


def q_knn_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN (k=3) of derived points vs supplier refs via
    ``knn_join`` (numpy grid index: the refs are dim-sized) — oracle is
    brute force."""
    _utc(spark)
    from xutil_spark.operators.spatial_join import knn_join

    # lineitem carries exact duplicate rows → dedupe pids so "per point"
    # means per distinct point on both sides (dup rows have equal coords)
    pts = _points(spark, sf_dir).select("pid", "lon", "lat").dropDuplicates(["pid"])
    refs = _refs(spark, sf_dir)
    out = knn_join(pts, refs, k=3, point_id="pid", ref_id="ref_id")
    return out.select(
        "pid", "ref_id", "rank", F.round("dist_m", 3).alias("dist_m")
    )


def o_knn_k3() -> str:
    hav = _HAV_SQL.format(lon1="p.lon", lat1="p.lat", lon2="r.lon", lat2="r.lat")
    return f"""
WITH pts AS (SELECT DISTINCT pid, lon, lat FROM ({_PTS_SQL})), refs AS ({_REFS_SQL})
SELECT pid, ref_id,
       ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ROUND({hav}, 3), ref_id) AS rank,
       ROUND({hav}, 3) AS dist_m
FROM pts p CROSS JOIN refs r
QUALIFY rank <= 3
"""


def q_range_count_50km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-threshold join: refs within 50 km per point, counted."""
    _utc(spark)
    from xutil_spark.operators.spatial_join import distance_join

    pts = _points(spark, sf_dir).select("pid", "lon", "lat")
    refs = _refs(spark, sf_dir)
    d = distance_join(pts, refs, radius_m=50000.0,
                      point_id="pid", ref_id="ref_id")
    return d.groupBy("pid").agg(F.count(F.lit(1)).alias("n_within"))


def o_range_count_50km() -> str:
    hav = _HAV_SQL.format(lon1="p.lon", lat1="p.lat", lon2="r.lon", lat2="r.lat")
    return f"""
WITH pts AS ({_PTS_SQL}), refs AS ({_REFS_SQL})
SELECT pid, COUNT(*) AS n_within
FROM pts p CROSS JOIN refs r
WHERE {hav} <= 50000.0
GROUP BY pid
"""


# city z12 tiles used by the PiP query — bounds materialized as literals
# on BOTH sides (computed once from tile2wgs; pinned in tests)
_PIP_TILES = [
    # (poly_id, west, south, east, north) — z8 tile bounds of 3 metros,
    # computed once via kernels.tiles.cell_bounds (pinned in tests);
    # z8 so the sparse derived points actually land inside (~150 hits/sf0.01)
    ("shanghai", 120.9375, 30.751277776257798, 122.34375, 31.952162238024954),
    ("beijing", 115.3125, 38.82259097617712, 116.71875, 39.909736234537185),
    ("guangzhou", 112.5, 21.943045533438177, 113.90625, 23.24134610238613),
]


def q_pip_city_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join against 3 city z12 tile rectangles using the
    REAL filter-refine ray-cast operator; the oracle is the equivalent
    half-open bbox predicate (rectangles ⇒ identical semantics)."""
    _utc(spark)
    import pandas as pd

    from xutil_spark.operators.spatial_join import point_in_polygon_join

    polys = spark.createDataFrame(pd.DataFrame({
        "poly_id": [t[0] for t in _PIP_TILES],
        "wkt": [
            f"POLYGON(({w} {s}, {e} {s}, {e} {n}, {w} {n}, {w} {s}))"
            for _, w, s, e, n in _PIP_TILES
        ],
    }))
    pts = _points(spark, sf_dir).select("pid", "lon", "lat")
    j = point_in_polygon_join(pts, polys, zoom=8, poly_id="poly_id")
    return j.select("pid", "poly_id")


def o_pip_city_tiles() -> str:
    cases = " UNION ALL ".join(
        f"SELECT '{p}' AS poly_id, {w} AS w, {s} AS s, {e} AS e, {n} AS n"
        for p, w, s, e, n in _PIP_TILES
    )
    return f"""
WITH pts AS ({_PTS_SQL}), tiles AS ({cases})
SELECT pid, poly_id
FROM pts p JOIN tiles t
  ON p.lon >= t.w AND p.lon < t.e AND p.lat >= t.s AND p.lat < t.n
"""


def q_wgs2gcj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GCJ-02 obfuscation of every point (Arrow pandas UDF over the
    numpy kernel, gis.go:70-104), 8-dp outputs — oracle transcribes the
    polynomial in SQL."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir)
    g = geo_udfs.wgs2gcj(F.col("lon"), F.col("lat"))
    return pts.select(
        "pid",
        g.getField("lon").alias("glon"),
        g.getField("lat").alias("glat"),
    )


def o_wgs2gcj() -> str:
    # line-for-line SQL transcription of gis.go:70-104 (x=lon-105, y=lat-35)
    tlon = (
        "300.0 + x + 2.0*y + 0.1*x*x + 0.1*x*y + 0.1*sqrt(abs(x))"
        " + (20.0*sin(6.0*x*pi()) + 20.0*sin(2.0*x*pi())) * 2.0/3.0"
        " + (20.0*sin(x*pi()) + 40.0*sin(x/3.0*pi())) * 2.0/3.0"
        " + (150.0*sin(x/12.0*pi()) + 300.0*sin(x/30.0*pi())) * 2.0/3.0"
    )
    tlat = (
        "-100.0 + 2.0*x + 3.0*y + 0.2*y*y + 0.1*x*y + 0.2*sqrt(abs(x))"
        " + (20.0*sin(6.0*x*pi()) + 20.0*sin(2.0*x*pi())) * 2.0/3.0"
        " + (20.0*sin(y*pi()) + 40.0*sin(y/3.0*pi())) * 2.0/3.0"
        " + (160.0*sin(y/12.0*pi()) + 320.0*sin(y*pi()/30.0)) * 2.0/3.0"
    )
    return f"""
WITH pts AS ({_PTS_SQL}),
xy AS (SELECT pid, lon, lat, lon - 105.0 AS x, lat - 35.0 AS y FROM pts),
t AS (SELECT pid, lon, lat, ({tlon}) AS dlon0, ({tlat}) AS dlat0,
             lat / 180.0 * pi() AS radlat FROM xy),
m AS (SELECT pid, lon, lat, dlon0, dlat0, radlat,
             1.0 - 0.00669342162296594323 * sin(radlat) * sin(radlat) AS magic
      FROM t)
SELECT pid,
  ROUND(lon + (dlon0 * 180.0) / (6378245.0 / sqrt(magic) * cos(radlat) * pi()), 8) AS glon,
  ROUND(lat + (dlat0 * 180.0) / ((6378245.0 * (1.0 - 0.00669342162296594323))
        / (magic * sqrt(magic)) * pi()), 8) AS glat
FROM m
"""


# =============================================================== relational


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary incl. population stddev
    (math.go:50-52 semantics → stddev_pop)."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 3).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 3).alias("revenue"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.stddev_pop("l_quantity"), 6).alias("stddev_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def o_pricing_summary() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 3) AS sum_qty,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 3) AS revenue,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(STDDEV_POP(l_quantity), 6) AS stddev_qty,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top3_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k (§2.9): 3 highest-value orders per customer."""
    _utc(spark)
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


def o_top3_orders_per_cust() -> str:
    return """
SELECT o_custkey, o_orderkey, o_totalprice,
       ROW_NUMBER() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rank
FROM orders
QUALIFY rank <= 3
"""


def q_events_weekly_sunday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sunday-start week truncation (time.go:23-24 quirk) + aggregates."""
    _utc(spark)
    from xutil_spark.operators.relational import time_trunc

    ev = _read(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "week", F.date_format(time_trunc("ts", "week"), "yyyy-MM-dd")
        )
        .groupBy("week", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
    )


def o_events_weekly_sunday() -> str:
    # DuckDB dayofweek: Sunday=0 — subtract it for the Sunday-start week
    return """
SELECT strftime(CAST(ts AS DATE) - INTERVAL (dayofweek(ts)) DAY, '%Y-%m-%d') AS week,
       event_type, COUNT(*) AS n_events, ROUND(SUM(value), 3) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_set_minus_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringsMinus semantics (strings.go:47-60): users with errors who
    never signed up — left_anti join."""
    _utc(spark)
    from xutil_spark.operators.relational import strings_minus

    ev = _read(spark, sf_dir, "events")
    a = ev.filter((F.col("event_type") == "error") & (F.col("value") >= 150)) \
        .select("user_id").distinct()
    b = ev.filter((F.col("event_type") == "error") & (F.col("value") >= 195)) \
        .select("user_id").distinct()
    return strings_minus(a, b, "user_id")


def o_set_minus_users() -> str:
    return """
SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value >= 150
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value >= 195
"""


def q_ip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ip2long/Long2ip (net.go:5-20) over synthesized dotted IPs."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events").select("event_id")
    ip = F.concat_ws(
        ".",
        (F.col("event_id") % 223 + 1).cast("string"),
        (F.col("event_id") * 7 % 256).cast("string"),
        (F.col("event_id") * 13 % 256).cast("string"),
        (F.col("event_id") % 256).cast("string"),
    )
    df = ev.withColumn("ip", ip)
    return df.select(
        "event_id", "ip",
        native.ip2long("ip").alias("ip_long"),
        native.long2ip(native.ip2long("ip")).alias("ip_rt"),
    )


def o_ip_roundtrip() -> str:
    return """
WITH ips AS (
  SELECT event_id,
         (event_id % 223 + 1) || '.' || (event_id * 7 % 256) || '.' ||
         (event_id * 13 % 256) || '.' || (event_id % 256) AS ip
  FROM events
)
SELECT event_id, ip,
       (event_id % 223 + 1) * 16777216 + (event_id * 7 % 256) * 65536 +
       (event_id * 13 % 256) * 256 + (event_id % 256) AS ip_long,
       ip AS ip_rt
FROM ips
"""


def q_time_parse_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeParse multi-format ladder (time.go:84-125): format each event
    ts into one of 6 shapes (by event_id), parse back, compare."""
    _utc(spark)
    from xutil_spark.operators.relational import time_parse

    ev = _read(spark, sf_dir, "events")
    sec = F.date_trunc("second", F.col("ts"))
    shaped = ev.select(
        "event_id",
        F.when(F.col("event_id") % 6 == 0, F.date_format(sec, "yyyy-MM-dd HH:mm:ss"))
        .when(F.col("event_id") % 6 == 1, F.date_format(sec, "yyyy-MM-dd'T'HH:mm:ss"))
        .when(F.col("event_id") % 6 == 2, F.date_format(sec, "yyyy-MM-dd HH:mm"))
        .when(F.col("event_id") % 6 == 3, F.date_format(sec, "yyyyMMddHHmmss"))
        .when(F.col("event_id") % 6 == 4, F.date_format(sec, "yyyyMMdd.HHmm"))
        .otherwise(F.date_format(sec, "yyyyMMdd")).alias("shaped"),
    )
    return shaped.select("event_id", "shaped", time_parse("shaped").alias("parsed"))


def o_time_parse_ladder() -> str:
    return """
WITH shaped AS (
  SELECT event_id,
    CASE event_id % 6
      WHEN 0 THEN strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S')
      WHEN 1 THEN strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S')
      WHEN 2 THEN strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M')
      WHEN 3 THEN strftime(date_trunc('second', ts), '%Y%m%d%H%M%S')
      WHEN 4 THEN strftime(date_trunc('second', ts), '%Y%m%d.%H%M')
      ELSE strftime(date_trunc('second', ts), '%Y%m%d')
    END AS shaped
  FROM events
)
SELECT event_id, shaped,
  CASE event_id % 6
    WHEN 0 THEN strptime(shaped, '%Y-%m-%d %H:%M:%S')
    WHEN 1 THEN strptime(shaped, '%Y-%m-%dT%H:%M:%S')
    WHEN 2 THEN strptime(shaped, '%Y-%m-%d %H:%M')
    WHEN 3 THEN strptime(shaped, '%Y%m%d%H%M%S')
    WHEN 4 THEN strptime(shaped, '%Y%m%d.%H%M')
    ELSE strptime(shaped, '%Y%m%d')
  END AS parsed
FROM shaped
"""


# ============================================================ dedup / text


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest (hash-groupBy)."""
    _utc(spark)
    from xutil_spark.operators.dedup import exact_dedup

    docs = _read(spark, sf_dir, "documents")
    return exact_dedup(docs).withColumnRenamed("_digest", "digest")


def o_dedup_exact() -> str:
    return """
SELECT md5(text) AS digest, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded min-hash signatures over char-8-shingles (the LSH stage):
    8 bands × 2 rows, each min-hash an 8-hex-char md5 chunk (hex order
    = 32-bit integer order, so MIN() is a valid uniform min-hash).
    rows=2 banding keeps the candidate count sub-quadratic — see
    minhash_signatures."""
    _utc(spark)
    from xutil_spark.operators.dedup import minhash_signatures

    docs = _read(spark, sf_dir, "documents")
    return minhash_signatures(docs, k=8, bands=8, rows=2)


def o_minhash_sigs() -> str:
    # mirror of minhash_signatures(bands=8, rows=2): 4 md5 digests per
    # shingle, 4 chunks each = 16 chunk-mins; band b = m[2b] || m[2b+1]
    digs = ",\n         ".join(
        f"md5('{j}|' || substr(text, CAST(i AS INT), 8)) AS d{j}" for j in range(4)
    )
    mins = ",\n         ".join(
        f"MIN(substr(d{i // 4}, {1 + 8 * (i % 4)}, 8)) AS m{i}" for i in range(16)
    )
    cases = " ".join(
        f"WHEN {b} THEN m{2 * b} || m{2 * b + 1}" for b in range(8)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {digs}
  FROM documents,
       UNNEST(range(1, greatest(length(text) - 7, 0) + 1)) AS t(i)
  WHERE length(text) >= 8
),
mins AS (
  SELECT doc_id, {mins}
  FROM sh GROUP BY doc_id
)
SELECT doc_id, b.band, CASE b.band {cases} END AS sig
FROM mins, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS b(band)
"""


def q_lsh_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (docs sharing any band bucket)."""
    _utc(spark)
    from xutil_spark.operators.dedup import minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, k=8, bands=8, rows=2)


def o_lsh_dup_pairs() -> str:
    return f"""
WITH sig AS ({o_minhash_sigs()})
SELECT DISTINCT s1.doc_id AS a, s2.doc_id AS b
FROM sig s1 JOIN sig s2 ON s1.band = s2.band AND s1.sig = s2.sig
WHERE s1.doc_id < s2.doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID (deterministic heuristic)."""
    _utc(spark)
    from xutil_spark.operators.textops import lang_id

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("lang_pred"))


def o_lang_id() -> str:
    from xutil_spark.operators.textops import LANG_STOPWORDS

    score = {
        lang: (
            "len(list_filter(list_filter(string_split(lower(trim(text)), ' '),"
            " x -> x <> ''), x -> x IN ("
            + ",".join(f"'{w}'" for w in ws)
            + ")))"
        )
        for lang, ws in LANG_STOPWORDS.items()
    }
    best = "greatest(" + ",".join(score.values()) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN {score[lang]} = {best} THEN '{lang}'"
        for lang in LANG_STOPWORDS
    ) + " ELSE 'und' END"
    return f"SELECT doc_id, {case} AS lang_pred FROM documents"


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting."""
    _utc(spark)
    from xutil_spark.operators.textops import bpe_ish_token_count, token_count

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_ish"),
    )


def o_token_counts() -> str:
    toks = "list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '')"
    return f"""
SELECT doc_id,
       len({toks}) AS n_tokens,
       CAST(coalesce(list_sum(list_transform({toks},
            x -> CAST(ceil(length(x) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe_ish
FROM documents
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + 0-1 score."""
    _utc(spark)
    from xutil_spark.operators.textops import quality_features

    docs = _read(spark, sf_dir, "documents")
    return quality_features(docs).drop("text")


def o_quality() -> str:
    from xutil_spark.operators.textops import LANG_STOPWORDS

    toks = "list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '')"
    all_sw = ",".join(
        f"'{w}'" for ws in LANG_STOPWORDS.values() for w in ws
    )
    return f"""
WITH feat AS (
  SELECT doc_id, text, lang, source, n_chars,
    length(text) AS nc,
    len({toks}) AS nt,
    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS np,
    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS nu,
    len(list_filter({toks}, x -> x IN ({all_sw}))) AS sw,
    len(list_distinct({toks})) AS uniq,
    length(regexp_replace(text, '\\s+', '', 'g')) AS nws
  FROM documents
)
SELECT doc_id, lang, source, n_chars,
  nc AS n_chars_m, nt AS n_tokens,
  ROUND(np / greatest(nc, 1), 6) AS punct_ratio,
  ROUND(nu / greatest(nc, 1), 6) AS upper_ratio,
  ROUND(sw / greatest(nt, 1), 6) AS stop_ratio,
  ROUND(uniq / greatest(nt, 1), 6) AS uniq_token_ratio,
  ROUND(nws / greatest(nt, 1), 6) AS mean_word_len,
  ROUND(
    (CASE WHEN nt >= 5 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN np / greatest(nc, 1) > 0.001 AND np / greatest(nc, 1) < 0.2 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN uniq / greatest(nt, 1) > 0.5 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN nws / greatest(nt, 1) > 2.0 AND nws / greatest(nt, 1) < 12.0 THEN 0.25 ELSE 0.0 END)
  , 2) AS quality_score
FROM feat
"""


def q_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 over the embeddings table (queries =
    vec_id < 50) — builtin zip_with/aggregate dot product, window top-k."""
    _utc(spark)
    from xutil_spark.operators.similarity import cosine_topk_brute

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    return cosine_topk_brute(q, emb, k=5)


def o_cosine_top5() -> str:
    dot = (
        "list_sum(list_transform(range(1, 65),"
        " i -> CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(c.embedding[CAST(i AS INT)] AS DOUBLE)))"
    )
    nq = "sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nc = "sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    return f"""
SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
       ROUND({dot} / ({nq} * {nc}), 6) AS score,
       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                          ORDER BY ROUND({dot} / ({nq} * {nc}), 6) DESC, c.vec_id) AS rank
FROM embeddings q CROSS JOIN embeddings c
WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id
QUALIFY rank <= 5
"""


# ============================== computed-VALUES oracles (non-SQL-native)


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (JVM tokenize+xxhash64, vectorized
    bit-vote UDF).  Oracle = independent pure-Python XXH64 + vote
    (o_simhash_docs) joined as a VALUES table."""
    _utc(spark)
    from xutil_spark.operators.dedup import simhash

    return simhash(_read(spark, sf_dir, "documents"))


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh64(data: bytes, seed: int = 42) -> int:
    """Pure-Python XXH64 (public spec, Cyan4973/xxHash) at Spark's
    default seed 42 — an implementation independent of the JVM's
    XXH64, used only to build golden oracles; pinned against both the
    published test vectors and Spark's xxhash64 in
    tests/test_registry.py."""
    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _M64

    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _M64
        v2 = (seed + _XXH_P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXH_P1) & _M64
        def lane(v: int, off: int) -> int:
            k = int.from_bytes(data[off:off + 8], "little")
            return (rotl((v + k * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64

        while i <= n - 32:
            v1, v2, v3, v4 = (lane(v1, i), lane(v2, i + 8),
                              lane(v3, i + 16), lane(v4, i + 24))
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((rotl((v * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64))
                 * _XXH_P1 + _XXH_P4) & _M64
    else:
        h = (seed + _XXH_P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i:i + 8], "little")
        h ^= (rotl((k * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
        h = ((rotl(h, 27) * _XXH_P1) + _XXH_P4) & _M64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i:i + 4], "little")
        h ^= (k * _XXH_P1) & _M64
        h = ((rotl(h, 23) * _XXH_P2) + _XXH_P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXH_P5) & _M64
        h = (rotl(h, 11) * _XXH_P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    return h


def _simhash_py(text: str) -> int:
    """Independent SimHash: tokenize exactly like the Spark plan
    (trim(' ') → lower → split \\s+ → drop empties), XXH64(seed=42)
    each token occurrence, strict-majority bit vote, signed int64."""
    import re as _re

    toks = [t for t in _re.split(r"\s+", (text or "").strip(" ").lower()) if t]
    if not toks:
        return 0
    hs = [_xxh64(t.encode("utf-8")) for t in toks]
    n = len(hs)
    fp = 0
    for j in range(64):
        if 2 * sum((h >> j) & 1 for h in hs) > n:
            fp |= 1 << j
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def o_simhash_docs() -> str:
    """Golden VALUES oracle: pure-Python XXH64+vote over the sf0.01
    documents (the driver gate's SF), joined back to the parquet view
    so doc_id keeps its native type."""
    import duckdb as _dd

    rows = _dd.sql(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet') "
        "ORDER BY doc_id"
    ).fetchall()
    vals = ",".join(f"({i},{_simhash_py(t)})" for i, t in rows)
    return f"""
SELECT d.doc_id, CAST(s.simhash AS BIGINT) AS simhash
FROM documents d
JOIN (VALUES {vals}) AS s(doc_id, simhash) ON d.doc_id = s.doc_id
"""


def _winnow_py(text: str, window: int = 16, keep: int = 8) -> list[int]:
    """Independent winnowing sketch: big-int polynomial rolling hash
    (base 1000003, mod 2^64) over utf-8 char windows; keep smallest
    ``keep`` DISTINCT hashes in unsigned order, emit signed int64."""
    b = (text or "").encode("utf-8")
    if len(b) < window:
        return []
    B = 1000003
    W = [pow(B, window - 1 - j, 1 << 64) for j in range(window)]
    hs = {
        sum(b[s + j] * W[j] for j in range(window)) & _M64
        for s in range(len(b) - window + 1)
    }
    sm = sorted(hs)[:keep]
    return [x - (1 << 64) if x >= (1 << 63) else x for x in sm]


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints; oracle = independent
    pure-Python big-int rolling hash (o_fingerprints).  Exploded to
    one (doc_id, fp) row per hash so every column is scalar-hashable by
    the driver canonicalizer (array cells crash its pandas sort)."""
    _utc(spark)
    from xutil_spark.operators.textops import rolling_fingerprints

    fp = rolling_fingerprints(_read(spark, sf_dir, "documents"))
    return fp.select("doc_id", F.explode_outer("fingerprint").alias("fp"))


def o_fingerprints() -> str:
    """Golden VALUES oracle for the exploded winnowing sketch; docs
    shorter than the window contribute one NULL row (explode_outer)."""
    import duckdb as _dd

    rows = _dd.sql(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet') "
        "ORDER BY doc_id"
    ).fetchall()
    parts = []
    for i, t in rows:
        fps = _winnow_py(t)
        if not fps:
            parts.append(f"({i},NULL)")
        else:
            parts.extend(f"({i},{x})" for x in fps)
    vals = ",".join(parts)
    return f"""
SELECT d.doc_id, CAST(s.fp AS BIGINT) AS fp
FROM documents d
JOIN (VALUES {vals}) AS s(doc_id, fp) ON d.doc_id = s.doc_id
"""


# ====================================================== non-SQL (rows-only)


def q_images_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image path E2E: synth images (input_hint schema) → mapInPandas
    decode (raw + numpy/zlib PNG) → per-image pixel stats + caption
    passthrough.  Deterministic; rows-only check (binary codecs are not
    SQL-expressible)."""
    _utc(spark)
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.images import decode_stats

    return decode_stats(images_table(spark, 2000))


def q_knn_images_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN on the synthetic images table (phash-derived locations) —
    the north-rule flagship over the input_hint schema; rows-only."""
    _utc(spark)
    from xutil_spark.data.synth import images_table, ref_points_table, with_location
    from xutil_spark.operators.spatial_join import knn_join

    img = with_location(images_table(spark, 5000, with_bytes=False))
    refs = ref_points_table(spark, 500)
    out = knn_join(img.select("image_id", "lon", "lat"), refs, k=3)
    return out.select("image_id", "ref_id", "rank", F.round("dist_m", 3).alias("dist_m"))


CONTRACT = {
    "tile_assign_z15": (q_tile_assign_z15, o_tile_assign_z15),
    "tile_rollup_z10": (q_tile_rollup_z10, o_tile_rollup_z10),
    "tile_pixel_z12": (q_tile_pixel_z12, o_tile_pixel_z12),
    "knn_k3": (q_knn_k3, o_knn_k3),
    "range_count_50km": (q_range_count_50km, o_range_count_50km),
    "pip_city_tiles": (q_pip_city_tiles, o_pip_city_tiles),
    "wgs2gcj": (q_wgs2gcj, o_wgs2gcj),
    "pricing_summary": (q_pricing_summary, o_pricing_summary),
    "top3_orders_per_cust": (q_top3_orders_per_cust, o_top3_orders_per_cust),
    "events_weekly_sunday": (q_events_weekly_sunday, o_events_weekly_sunday),
    "set_minus_users": (q_set_minus_users, o_set_minus_users),
    "ip_roundtrip": (q_ip_roundtrip, o_ip_roundtrip),
    "time_parse_ladder": (q_time_parse_ladder, o_time_parse_ladder),
    "dedup_exact": (q_dedup_exact, o_dedup_exact),
    "minhash_sigs": (q_minhash_sigs, o_minhash_sigs),
    "lsh_dup_pairs": (q_lsh_dup_pairs, o_lsh_dup_pairs),
    "lang_id": (q_lang_id, o_lang_id),
    "token_counts": (q_token_counts, o_token_counts),
    "quality": (q_quality, o_quality),
    "cosine_top5": (q_cosine_top5, o_cosine_top5),
    "simhash_docs": (q_simhash_docs, o_simhash_docs),
    "fingerprints": (q_fingerprints, o_fingerprints),
}
