"""Driver-contract queries, batch 2: wider SURVEY §2 coverage —
split-string aggregates, string functions, base conversion, time_rule,
set intersect, rollup, azimuth/midpoint, BD09 Mercator, geometry
round-trips.  Same oracle-parity rules as entry_queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import (
    _HAV_SQL, _PTS_SQL, _points, _read, _refs, _REFS_SQL, _utc,
)


def q_col_float64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColFloat64 (math.go:18-37): per-order quantity CSV string →
    SUM/MAX/MIN/AVG/STDDEV(population) parsed back out of the string."""
    _utc(spark)
    from xutil_spark.operators.relational import col_float64

    li = _read(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("l_linenumber"),
                            F.col("l_quantity").cast("string").alias("l_quantity"),
                        )
                    )
                ),
                lambda s: s.getField("l_quantity"),
            ),
            ",",
        ).alias("qty_csv")
    )
    return per_order.select(
        "l_orderkey",
        F.round(col_float64("qty_csv", ",", "SUM"), 4).alias("q_sum"),
        F.round(col_float64("qty_csv", ",", "MAX"), 4).alias("q_max"),
        F.round(col_float64("qty_csv", ",", "MIN"), 4).alias("q_min"),
        F.round(col_float64("qty_csv", ",", "AVG"), 4).alias("q_avg"),
        F.round(col_float64("qty_csv", ",", "STDDEV"), 4).alias("q_sd"),
    )


def o_col_float64() -> str:
    return """
SELECT l_orderkey,
       ROUND(SUM(l_quantity), 4) AS q_sum,
       ROUND(MAX(l_quantity), 4) AS q_max,
       ROUND(MIN(l_quantity), 4) AS q_min,
       ROUND(AVG(l_quantity), 4) AS q_avg,
       ROUND(STDDEV_POP(l_quantity), 4) AS q_sd
FROM lineitem GROUP BY l_orderkey
"""


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SubString (rune-safe clamp, strings.go:97-111), StringReverse,
    StringsLower/Upper over document text."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    frag = F.substring(F.col("text"), 5, 20)
    return docs.select(
        "doc_id",
        frag.alias("frag"),
        F.reverse(frag).alias("frag_rev"),
        F.upper(frag).alias("frag_up"),
        F.lower(frag).alias("frag_lo"),
        F.length("text").alias("n_chars_calc"),
    )


def o_string_funcs() -> str:
    return """
SELECT doc_id,
       substr(text, 5, 20) AS frag,
       reverse(substr(text, 5, 20)) AS frag_rev,
       upper(substr(text, 5, 20)) AS frag_up,
       lower(substr(text, 5, 20)) AS frag_lo,
       length(text) AS n_chars_calc
FROM documents
"""


def q_base_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalToAny base-16/36 (math.go:125-140, builtin conv path) +
    AnyToDecimal round-trip.  Divergence pinned here: the reference's
    digit loop emits "" for input 0; the engine emits "0" (round-trips
    cleanly) — the oracle encodes the engine behavior."""
    _utc(spark)
    from xutil_spark.operators.relational import any_to_decimal, decimal_to_any

    o = _read(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        decimal_to_any("o_orderkey", 16).alias("b16"),
        decimal_to_any("o_orderkey", 36).alias("b36"),
        any_to_decimal(decimal_to_any("o_orderkey", 36), 36).alias("rt36"),
    )


def o_base_conv() -> str:
    # DuckDB has no to_base; base-16 via lower(to_hex); base-36 via a
    # recursive CTE digit peel (same alphabet 0-9a-z)
    return """
WITH RECURSIVE peel AS (
  SELECT o_orderkey, o_orderkey AS v, '' AS acc FROM orders
  UNION ALL
  SELECT o_orderkey, v // 36,
         substr('0123456789abcdefghijklmnopqrstuvwxyz', CAST(v % 36 AS INT) + 1, 1) || acc
  FROM peel WHERE v > 0
)
SELECT o_orderkey,
       lower(format('{:x}', o_orderkey)) AS b16,
       COALESCE(NULLIF((SELECT acc FROM peel p
                        WHERE p.o_orderkey = o.o_orderkey AND p.v = 0), ''),
                '0') AS b36,
       o_orderkey AS rt36
FROM orders o
"""


def q_time_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeRule (time.go:30-58): 4 daily steps from the truncated ts,
    exploded to rows (sampled events)."""
    _utc(spark)
    from xutil_spark.operators.relational import time_rule

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") % 25 == 0)
    return ev.select(
        "event_id",
        F.posexplode(time_rule("ts", "day", 4)).alias("step", "t"),
    ).select("event_id", "step", F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("t"))


def o_time_rule() -> str:
    return """
SELECT event_id, CAST(i AS BIGINT) AS step,
       strftime(date_trunc('day', ts) + i * INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS t
FROM events, UNNEST(range(4)) AS u(i)
WHERE event_id % 25 = 0
"""


def q_set_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringsIntersect (strings.go:63-76) ≙ left_semi join."""
    _utc(spark)
    from xutil_spark.operators.relational import strings_intersect

    ev = _read(spark, sf_dir, "events")
    a = ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 180)) \
        .select("user_id").distinct()
    b = ev.filter((F.col("event_type") == "error") & (F.col("value") >= 180)) \
        .select("user_id").distinct()
    return strings_intersect(a, b, "user_id")


def o_set_intersect_users() -> str:
    return """
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value >= 180
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value >= 180
"""


def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set rollup over (returnflag, linestatus) — §2.6 engine
    addition beyond the reference's flat aggregates."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 3).alias("sq"))
    )


def o_rollup_pricing() -> str:
    return """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 3) AS sq
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_azimuth_mid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Azimuth (with the dLon<0 +2π quirk, gis.go:177-179) and great-
    circle midpoint from every derived point to the Shanghai Tower."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir).filter(F.col("pid") % 7 == 2)
    sh_lon, sh_lat = F.lit(121.5012091398), F.lit(31.2355502882)
    mid = geo_udfs.point_mid(F.col("lon"), F.col("lat"), sh_lon, sh_lat)
    return pts.select(
        "pid",
        F.round(geo_udfs.azimuth_deg(F.col("lon"), F.col("lat"), sh_lon, sh_lat), 6).alias("az"),
        F.round(mid.getField("lon"), 6).alias("mid_lon"),
        F.round(mid.getField("lat"), 6).alias("mid_lat"),
    )


def o_azimuth_mid() -> str:
    # direct transcription of gis.go:166-181 and gis.go:208-220
    pre = (
        "SELECT pid, lon * pi() / 180.0 AS l1, lat * pi() / 180.0 AS p1,"
        " 121.5012091398 * pi() / 180.0 AS l2, 31.2355502882 * pi() / 180.0 AS p2"
        " FROM pts WHERE pid % 7 = 2"
    )
    return f"""
WITH pts AS ({_PTS_SQL}), r AS ({pre}),
az AS (
  SELECT pid,
    atan2(sin(l2 - l1) * cos(p2),
          cos(p1) * sin(p2) - sin(p1) * cos(p2) * cos(l2 - l1)) AS a,
    l2 - l1 AS dlon, l1, l2, p1, p2
  FROM r
),
m AS (
  SELECT pid, a, dlon, l1, p1, p2,
    cos(p2) * cos(l2 - l1) AS bx, cos(p2) * sin(l2 - l1) AS by
  FROM az
)
SELECT pid,
  ROUND((CASE WHEN dlon < 0 THEN a + 2 * pi() ELSE a END) * 180.0 / pi(), 6) AS az,
  ROUND((l1 + atan2(by, cos(p1) + bx)) * 180.0 / pi(), 6) AS mid_lon,
  ROUND(atan2(sin(p1) + sin(p2),
        sqrt((cos(p1) + bx) * (cos(p1) + bx) + by * by)) * 180.0 / pi(), 6) AS mid_lat
FROM m
"""


def q_dist_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Law-of-cosines vs haversine distance (gis.go:183-206) to a fixed
    point — both kernels, 3-dp meters."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir).filter(F.col("pid") % 11 == 3)
    sh_lon, sh_lat = F.lit(121.5012091398), F.lit(31.2355502882)
    return pts.select(
        "pid",
        F.round(geo_udfs.dist_cos_m(F.col("lon"), F.col("lat"), sh_lon, sh_lat), 3).alias("d_cos"),
        F.round(geo_udfs.dist_hav_m(F.col("lon"), F.col("lat"), sh_lon, sh_lat), 3).alias("d_hav"),
    )


def o_dist_compare() -> str:
    hav = _HAV_SQL.format(lon1="lon", lat1="lat",
                          lon2="121.5012091398", lat2="31.2355502882")
    cos_d = (
        "6371000.0 * acos(least(greatest("
        "sin(lat * pi() / 180.0) * sin(31.2355502882 * pi() / 180.0)"
        " + cos(lat * pi() / 180.0) * cos(31.2355502882 * pi() / 180.0)"
        " * cos((121.5012091398 - lon) * pi() / 180.0), -1.0), 1.0))"
    )
    return f"""
WITH pts AS ({_PTS_SQL})
SELECT pid, ROUND({cos_d}, 3) AS d_cos, ROUND({hav}, 3) AS d_hav
FROM pts WHERE pid % 11 = 3
"""


def q_minus_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-form set ops (strings.go:47-124 array mappings):
    array_except / array_intersect / array_distinct over token arrays."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
    stop = F.array(*[F.lit(w) for w in ["the", "and", "of", "a", "to"]])
    # array_join: the driver's canonicalizer hashes scalar columns only
    # (array cells raise "unhashable type: 'list'" in its pandas sort).
    return docs.select(
        "doc_id",
        F.array_join(
            F.array_sort(F.array_except(F.array_distinct(toks), stop)), " "
        ).alias("content_words"),
        F.array_join(
            F.array_sort(F.array_intersect(F.array_distinct(toks), stop)), " "
        ).alias("stop_hits"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )


def o_minus_arrays() -> str:
    toks = ("list_distinct(list_filter(string_split(regexp_replace(lower(trim(text)),"
            " '\\s+', ' ', 'g'), ' '), x -> x <> ''))")
    return f"""
SELECT doc_id,
  COALESCE(array_to_string(list_sort(list_filter({toks}, x -> x NOT IN ('the','and','of','a','to'))), ' '), '') AS content_words,
  COALESCE(array_to_string(list_sort(list_filter({toks}, x -> x IN ('the','and','of','a','to'))), ' '), '') AS stop_hits,
  len({toks}) AS n_uniq
FROM documents WHERE doc_id < 100
"""


def q_knn_category_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: nearest supplier-nation per point (kNN k=1, the refs'
    nation carried through) then count per nation — join + kNN + agg
    end-to-end."""
    _utc(spark)
    from xutil_spark.operators.spatial_join import knn_join

    pts = _points(spark, sf_dir).select("pid", "lon", "lat").dropDuplicates(["pid"])
    s = _read(spark, sf_dir, "supplier")
    refs = _refs(spark, sf_dir).join(
        s.select(F.col("s_suppkey").alias("ref_id"), "s_nationkey"), "ref_id"
    )
    nn = knn_join(pts, refs, k=1, point_id="pid", ref_id="ref_id")
    return nn.groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_points"))


def o_knn_category_pivot() -> str:
    hav = _HAV_SQL.format(lon1="p.lon", lat1="p.lat", lon2="r.lon", lat2="r.lat")
    return f"""
WITH pts AS (SELECT DISTINCT pid, lon, lat FROM ({_PTS_SQL})), refs0 AS ({_REFS_SQL}),
refs AS (SELECT refs0.*, s.s_nationkey FROM refs0 JOIN supplier s ON s.s_suppkey = refs0.ref_id),
nn AS (
  SELECT pid, s_nationkey,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ROUND({hav}, 3), ref_id) AS rnk
  FROM pts p CROSS JOIN refs r
)
SELECT s_nationkey, COUNT(*) AS n_points FROM nn WHERE rnk = 1 GROUP BY s_nationkey
"""


def q_wkt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry codec round-trip over the README WKT corpus
    (README.md:23-32): WKT → GeoJSON → WKT → bbox.  Oracle-paired via a
    literal VALUES table: the corpus is fixed, and the expected strings
    are the same goldens the pytest suite pins (Go-%g formatting, the
    reference's Lines spacing quirk) — transcribed, not computed."""
    _utc(spark)
    import pandas as pd

    from xutil_spark.functions import geo_udfs

    corpus = [
        "POINT(1 2)",
        "LINESTRING(3 4,10 50,20 25)",
        "POLYGON((30 10, 40 40, 20 40, 10 20, 30 10))",
        "POLYGON((35 10, 45 45, 15 40, 10 20, 35 10),(20 30, 35 35, 30 20, 20 30))",
        "MULTIPOINT (10 40, 40 30, 20 20, 30 10)",
        "MULTILINESTRING((10 10, 20 20, 10 40),(40 40, 30 30, 40 20, 30 10))",
        "MULTIPOLYGON(((30 20, 45 40, 10 40, 30 20)),((15 5, 40 10, 10 20, 5 10, 15 5)))",
        "MULTIPOLYGON(((40 40, 20 45, 45 30, 40 40)),"
        "((20 35, 10 30, 10 10, 30 5, 45 20, 20 35),(30 20, 20 15, 20 25, 30 20)))",
    ]
    df = spark.createDataFrame(pd.DataFrame({"gid": range(len(corpus)), "wkt": corpus}))
    gj = geo_udfs.wkt_to_geojson(F.col("wkt"))
    # bbox stringified: driver canonicalizer can't hash array cells.
    bbox = geo_udfs.wkt_box(F.col("wkt"))
    return df.select(
        "gid", gj.alias("geojson"),
        geo_udfs.geojson_to_wkt(gj).alias("wkt_rt"),
        F.array_join(F.transform(bbox, lambda x: x.cast("string")), ",").alias("bbox"),
    )


def o_wkt_roundtrip() -> str:
    """Literal VALUES oracle (the corpus is fixed and sf-independent).
    Expected GeoJSON/WKT strings match the pytest goldens in
    tests/test_geometry.py — the driver compare turns this into a hard
    gate on the exact codec formatting."""
    rows = [
        (0, '{"type":"Point","coordinates":[1,2]}',
         'POINT (1 2)', '1.0,2.0,1.0,2.0'),
        (1, '{"type":"LineString","coordinates":[[3,4],[10,50],[20,25]]}',
         'LINESTRING (3 4,10 50,20 25)', '3.0,4.0,20.0,50.0'),
        (2, '{"type":"Polygon","coordinates":[[[30,10],[40,40],[20,40],[10,20],[30,10]]]}',
         'POLYGON (( 30 10, 40 40, 20 40, 10 20, 30 10))',
         '10.0,10.0,40.0,40.0'),
        (3, '{"type":"Polygon","coordinates":[[[35,10],[45,45],[15,40],[10,20],[35,10]],[[20,30],[35,35],[30,20],[20,30]]]}',
         'POLYGON (( 35 10, 45 45, 15 40, 10 20, 35 10),( 20 30, 35 35, 30 20, 20 30))',
         '10.0,10.0,45.0,45.0'),
        (4, '{"type":"MultiPoint","coordinates":[[10,40],[40,30],[20,20],[30,10]]}',
         'MULTIPOINT (10 40,40 30,20 20,30 10)', '10.0,10.0,40.0,40.0'),
        (5, '{"type":"MultiLineString","coordinates":[[[10,10],[20,20],[10,40]],[[40,40],[30,30],[40,20],[30,10]]]}',
         'MULTILINESTRING (( 10 10, 20 20, 10 40),( 40 40, 30 30, 40 20, 30 10))',
         '10.0,10.0,40.0,40.0'),
        (6, '{"type":"MultiPolygon","coordinates":[[[[30,20],[45,40],[10,40],[30,20]]],[[[15,5],[40,10],[10,20],[5,10],[15,5]]]]}',
         'MULTIPOLYGON ((( 30 20, 45 40, 10 40, 30 20)),(( 15 5, 40 10, 10 20, 5 10, 15 5)))',
         '5.0,5.0,45.0,40.0'),
        (7, '{"type":"MultiPolygon","coordinates":[[[[40,40],[20,45],[45,30],[40,40]]],[[[20,35],[10,30],[10,10],[30,5],[45,20],[20,35]],[[30,20],[20,15],[20,25],[30,20]]]]}',
         'MULTIPOLYGON ((( 40 40, 20 45, 45 30, 40 40)),(( 20 35, 10 30, 10 10, 30 5, 45 20, 20 35), ( 30 20, 20 15, 20 25, 30 20)))',
         '10.0,5.0,45.0,45.0'),
    ]
    vals = ",\n".join(
        f"({g},'{gj}','{wk}','{bb}')" for g, gj, wk, bb in rows
    )
    return (
        "SELECT * FROM (VALUES\n" + vals +
        "\n) AS t(gid, geojson, wkt_rt, bbox)"
    )


CONTRACT = {
    "col_float64": (q_col_float64, o_col_float64),
    "string_funcs": (q_string_funcs, o_string_funcs),
    "base_conv": (q_base_conv, o_base_conv),
    "time_rule": (q_time_rule, o_time_rule),
    "set_intersect_users": (q_set_intersect_users, o_set_intersect_users),
    "rollup_pricing": (q_rollup_pricing, o_rollup_pricing),
    "azimuth_mid": (q_azimuth_mid, o_azimuth_mid),
    "dist_compare": (q_dist_compare, o_dist_compare),
    "minus_arrays": (q_minus_arrays, o_minus_arrays),
    "knn_category_pivot": (q_knn_category_pivot, o_knn_category_pivot),
    "wkt_roundtrip": (q_wkt_roundtrip, o_wkt_roundtrip),
}
