"""Contract queries, round-4 second batch: benchmark decontamination
(13-gram overlap) and BM25 scoring (operators/textops.py) — the
contamination-control and relevance-scoring stages of a training-data
pipeline.

Same conventions as entry_queries*.py: every q_* takes (spark, sf_dir)
and returns a DataFrame; every o_* returns ANSI SQL DuckDB runs on the
same inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import (
    _H1_LIN, _H1_MUL, _H2_LIN, _H2_MUL, _MASK20, _points, _read, _utc,
)

# DuckDB mirror of operators.textops.tokens(): split lower(trim(text))
# on runs of whitespace, drop empties (same pattern as o_minus_arrays)
_TOKS_SQL = (
    "list_filter(string_split(regexp_replace(lower(trim(text)),"
    " '\\s+', ' ', 'g'), ' '), x -> x <> '')"
)


def q_decontaminate_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any word 13-gram with
    the deterministic 'benchmark' slice (doc_id % 41 == 0) are flagged.
    Engine joins on xxhash64 of the n-gram (8-byte keys, broadcast
    benchmark dim); the oracle joins on the n-gram strings — identical
    output absent 64-bit collisions."""
    from xutil_spark.operators.textops import decontaminate

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    return decontaminate(docs, bench, n=13)


def o_decontaminate_13gram() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
grams AS (
  SELECT doc_id, array_to_string(list_slice(t, r.i, r.i + 12), ' ') AS g
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 12)) AS r(i)
  WHERE len(t) >= 13
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 41 = 0),
hits AS (
  SELECT g.doc_id, COUNT(DISTINCT g.g) AS n_hits
  FROM grams g JOIN bench b ON g.g = b.g GROUP BY g.doc_id
)
SELECT d.doc_id, h.n_hits IS NOT NULL AS contaminated,
       COALESCE(h.n_hits, 0) AS n_hits
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


_BM25_TERMS = ["spark", "window", "vector", "customer"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 of every document against a fixed 4-term query
    (k1=1.2, b=0.75, +1-smoothed idf); docs scoring > 0 after 4-dp
    rounding.  Formula text mirrors the oracle token-for-token so the
    float64 op order is identical on both sides."""
    from xutil_spark.operators.textops import bm25_scores

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return bm25_scores(docs, _BM25_TERMS)


def o_bm25_search() -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    # same op order as bm25_scores(): 0.0 + Σ idf_i * ((tf·2.2) / (tf +
    # 1.2·(0.25 + 0.75·(dl/avgdl)))) with idf = ln(1.0 + (n−df+0.5)/(df+0.5))
    terms = " + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * ((tf{i} * 2.2) / (tf{i} + 1.2 * (0.25 + 0.75 * (dl / avgdl))))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH base AS (
  SELECT doc_id, len(t) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl, {df_cols} FROM base)
SELECT doc_id, bm25 FROM (
  SELECT doc_id, ROUND(0.0 + {terms}, 4) AS bm25 FROM base, stats
) WHERE bm25 > 0
"""


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-bigram PMI (Church & Hanks collocation
    statistic), pairs seen ≥ 5×.  Two dim-cardinality counts + a
    broadcast unigram join — no fact-sized shuffle."""
    from xutil_spark.operators.textops import bigram_pmi

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return bigram_pmi(docs, min_count=5)


def o_bigram_pmi() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
uni AS (
  SELECT u.w, COUNT(*) AS c_w
  FROM toks, LATERAL unnest(t) AS u(w) GROUP BY u.w
),
big AS (
  SELECT t[r.i] AS w1, t[r.i + 1] AS w2, COUNT(*) AS n_pair
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 2 GROUP BY 1, 2
),
n AS (SELECT SUM(c_w) AS n FROM uni),
m AS (SELECT SUM(n_pair) AS m FROM big)
SELECT w1, w2, n_pair,
       ROUND(ln((n_pair / m) / ((u1.c_w / n) * (u2.c_w / n))), 4) + 0.0e0 AS pmi
FROM big
JOIN uni u1 ON u1.w = big.w1
JOIN uni u2 ON u2.w = big.w2, n, m
WHERE n_pair >= 5
"""


_PCT_PS = [0.25, 0.5, 0.75, 0.95]


def q_pricing_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles of l_extendedprice per (returnflag,
    linestatus) — 6 dim-cardinality groups, so the exact aggregate's
    per-group value map is safe; group_percentiles(exact=False) is the
    documented 10^12-row path (Greenwald-Khanna sketch)."""
    from xutil_spark.operators.relational import group_percentiles

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    return group_percentiles(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice", _PCT_PS
    )


def o_pricing_percentiles() -> str:
    # mirror Spark's Percentile.getPercentile token-for-token:
    # pos = (n-1)·p; exact-rank short-circuit; else
    # (ceil−pos)·lower + (pos−floor)·higher.  `0.25e0` parses as
    # DOUBLE in DuckDB (a bare 0.25 would be DECIMAL and change the
    # arithmetic).
    cols = []
    for p in _PCT_PS:
        pos = f"(n - 1) * {p!r}e0"
        lo = f"arr[CAST(FLOOR({pos}) AS BIGINT) + 1]"
        hi = f"arr[CAST(CEIL({pos}) AS BIGINT) + 1]"
        expr = (
            f"CASE WHEN CEIL({pos}) = FLOOR({pos}) THEN {lo}"
            f" ELSE (CEIL({pos}) - ({pos})) * {lo}"
            f" + (({pos}) - FLOOR({pos})) * {hi} END"
        )
        cols.append(f"ROUND({expr}, 4) AS p{int(round(p * 100))}")
    col_sql = ",\n       ".join(cols)
    return f"""
WITH g AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         list(CAST(l_extendedprice AS DOUBLE) ORDER BY l_extendedprice) AS arr
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, n AS n_items,
       {col_sql}
FROM g
"""


def q_token_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution KL divergence vs the corpus — the
    data-mixing drift diagnostic.  One row per source."""
    from xutil_spark.operators.textops import token_kl_drift

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return token_kl_drift(docs, slice_col="source")


def o_token_kl_drift() -> str:
    return f"""
WITH toks AS (SELECT source, {_TOKS_SQL} AS t FROM documents),
cw AS (
  SELECT source, u.w, COUNT(*) AS c_sw
  FROM toks, LATERAL unnest(t) AS u(w) GROUP BY 1, 2
),
corpus AS (SELECT w, SUM(c_sw) AS c_w FROM cw GROUP BY w),
ns AS (SELECT source, SUM(c_sw) AS n_s FROM cw GROUP BY source),
n AS (SELECT SUM(c_w) AS n FROM corpus)
SELECT cw.source, CAST(ns.n_s AS BIGINT) AS n_tokens,
       ROUND(SUM((c_sw / n_s) * ln((c_sw / n_s) / (c_w / n))), 4) + 0.0e0 AS kl
FROM cw JOIN corpus USING (w) JOIN ns USING (source), n
GROUP BY cw.source, ns.n_s
"""


def q_tile_hull_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-z8-cell convex hull + shoelace area + polygon centroid of
    the derived point cloud (operators/hulls.py) — the vector-summary
    tile rollup.  Oracle = computed-VALUES golden from an independent
    pure-Python re-derivation (points from the integer-hash formula,
    slippy tile transcription, monotone chain with identical float op
    order — same convention as the simhash / s2_cells goldens)."""
    from xutil_spark.operators.hulls import tile_hull_stats

    _utc(spark)
    pts = _points(spark, sf_dir).select("lon", "lat")
    return tile_hull_stats(pts, zoom=8)


def _hull_stats_py(points):
    """Independent golden: monotone chain + shoelace + polygon
    centroid, written against the published algorithm (Andrew 1979 /
    standard shoelace) with sequential float sums so the doubles match
    the operator bit-for-bit; 8-dp Python round."""
    pts = sorted(set(points))
    hull = pts
    if len(pts) > 2:
        lo: list = []
        for p in pts:
            while len(lo) >= 2 and (
                (lo[-1][0] - lo[-2][0]) * (p[1] - lo[-2][1])
                - (lo[-1][1] - lo[-2][1]) * (p[0] - lo[-2][0])
            ) <= 0.0:
                lo.pop()
            lo.append(p)
        hi: list = []
        for p in reversed(pts):
            while len(hi) >= 2 and (
                (hi[-1][0] - hi[-2][0]) * (p[1] - hi[-2][1])
                - (hi[-1][1] - hi[-2][1]) * (p[0] - hi[-2][0])
            ) <= 0.0:
                hi.pop()
            hi.append(p)
        hull = lo[:-1] + hi[:-1]
    s = cx = cy = 0.0
    for i in range(len(hull)):
        x1, y1 = hull[i]
        x2, y2 = hull[(i + 1) % len(hull)]
        cr = x1 * y2 - x2 * y1
        s += cr
        cx += (x1 + x2) * cr
        cy += (y1 + y2) * cr
    if len(hull) < 3 or s == 0.0:
        mx = my = 0.0
        for x, y in pts:
            mx += x
            my += y
        return len(pts), len(hull), 0.0, round(mx / len(pts), 8), round(my / len(pts), 8)
    return (len(pts), len(hull), round(s / 2.0, 8),
            round(cx / (3.0 * s), 8), round(cy / (3.0 * s), 8))


def o_tile_hull_z8() -> str:
    import math

    import duckdb as _dd

    rows = _dd.sql(
        "SELECT l_orderkey, l_linenumber FROM "
        "read_parquet('/root/testdata/sf0.01/lineitem.parquet')"
    ).fetchall()
    n = float(1 << 8)
    cells: dict = {}
    for okey, ln in rows:
        lon = 73.5 + ((okey * _H1_MUL + ln * _H1_LIN) % _MASK20) / 1048576.0 * 61.0
        lat = 18.2 + ((okey * _H2_MUL + ln * _H2_LIN) % _MASK20) / 1048576.0 * 35.3
        x = math.floor((lon + 180.0) / 360.0 * n)
        lat_rad = lat * math.pi / 180.0
        y = math.floor(
            (1.0 - math.log(math.tan(lat_rad) + 1.0 / math.cos(lat_rad))
             / math.pi) / 2.0 * n
        )
        cell = (8 << 58) | (x << 29) | y
        cells.setdefault(cell, []).append((lon, lat))
    vals = ",".join(
        "({},{},{},{!r},{!r},{!r})".format(c, *_hull_stats_py(p))
        for c, p in sorted(cells.items())
    )
    return f"""
SELECT CAST(cell AS BIGINT) AS cell, CAST(n_pts AS BIGINT) AS n_pts,
       CAST(hull_n AS BIGINT) AS hull_n, CAST(area AS DOUBLE) AS area,
       CAST(cx AS DOUBLE) AS cx, CAST(cy AS DOUBLE) AS cy
FROM (VALUES {vals}) AS v(cell, n_pts, hull_n, area, cx, cy)
"""


# Zone polygons for the zonal-stats query: deliberately NON-rectangular
# (a triangle, a concave chevron, a pentagon, a rotated diamond) so the
# exact even-odd ray-cast refine is load-bearing, with vertex decimals
# off the derived points' 20-bit grid so no point can sit on an edge.
_ZONES = [
    ("east_tri", [(115.0137, 25.0721), (130.7213, 33.4177),
                  (117.3391, 44.9143)]),
    ("chevron", [(98.1371, 20.2177), (112.9433, 20.2177),
                 (112.9433, 33.8891), (105.5402, 27.4133),
                 (98.1371, 33.8891)]),
    ("north_penta", [(100.3313, 40.1277), (110.8891, 38.2173),
                     (114.0471, 46.3337), (105.5533, 51.2171),
                     (96.8807, 47.0233)]),
    ("west_diamond", [(76.2217, 30.0133), (82.9911, 24.8821),
                      (89.1133, 31.0277), (82.3399, 36.1193)]),
]


def _zone_wkt(verts) -> str:
    ring = ", ".join(f"{x} {y}" for x, y in verts + verts[:1])
    return f"POLYGON(({ring}))"


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster↔vector zonal statistics (raster/zonal.py): decode the
    synthetic images (input_hint schema), assign each phash-derived
    capture point to polygon zones via the filter-refine PiP join, and
    reduce to per-zone exact channel sums + 6-dp means.  Oracle =
    independent scalar re-derivation (pure-Python splitmix64 + scalar
    even-odd ray-cast + closed-form channel sums) feeding a DuckDB
    GROUP BY over per-image VALUES — the aggregation itself runs in
    SQL."""
    import pandas as pd

    from xutil_spark.data.synth import images_table, with_location
    from xutil_spark.raster.zonal import zonal_pixel_stats

    _utc(spark)
    zones = spark.createDataFrame(pd.DataFrame({
        "zone_id": [z for z, _ in _ZONES],
        "wkt": [_zone_wkt(v) for _, v in _ZONES],
    }))
    img = with_location(images_table(spark, 2000))
    return zonal_pixel_stats(img, zones, zoom=5)


def _pip_scalar(x: float, y: float, verts) -> bool:
    """Scalar even-odd crossing test (standard algorithm), the
    independent mirror of kernels/geometry.ray_cast's convention:
    edge straddles the horizontal at y, intersection strictly east."""
    inside = False
    n = len(verts)
    for k in range(n):
        x1, y1 = verts[k]
        x2, y2 = verts[(k + 1) % n]
        if (y1 > y) != (y2 > y):
            if x < x1 + (y - y1) / (y2 - y1) * (x2 - x1):
                inside = not inside
    return inside


def o_zonal_stats() -> str:
    from xutil_spark.entry_queries6 import _H_CYC, _W_CYC, _sm64

    sum_rg: dict = {}
    sum_b: dict = {}
    rows = []
    for i in range(2000):
        ph = _sm64(i)
        lon = 73.5 + (ph & 0xFFFFF) / 1048576.0 * 61.0
        lat = 18.2 + ((ph >> 20) & 0xFFFFF) / 1048576.0 * 35.3
        zs = [zid for zid, verts in _ZONES if _pip_scalar(lon, lat, verts)]
        if not zs:
            continue
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
        for zid in zs:
            rows.append(f"('{zid}',{sr},{sg},{sb},{w * h})")
    vals = ",".join(rows)
    return f"""
SELECT zone_id,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_px) AS BIGINT) AS total_px,
       CAST(SUM(sum_r) AS BIGINT) AS sum_r,
       CAST(SUM(sum_g) AS BIGINT) AS sum_g,
       CAST(SUM(sum_b) AS BIGINT) AS sum_b,
       ROUND(CAST(SUM(sum_r) AS DOUBLE) / CAST(SUM(n_px) AS DOUBLE), 6) AS mean_r,
       ROUND(CAST(SUM(sum_g) AS DOUBLE) / CAST(SUM(n_px) AS DOUBLE), 6) AS mean_g,
       ROUND(CAST(SUM(sum_b) AS DOUBLE) / CAST(SUM(n_px) AS DOUBLE), 6) AS mean_b
FROM (VALUES {vals}) AS v(zone_id, sum_r, sum_g, sum_b, n_px)
GROUP BY zone_id
"""


CONTRACT = {
    "decontaminate_13gram": (q_decontaminate_13gram, o_decontaminate_13gram),
    "bm25_search": (q_bm25_search, o_bm25_search),
    "bigram_pmi": (q_bigram_pmi, o_bigram_pmi),
    "pricing_percentiles": (q_pricing_percentiles, o_pricing_percentiles),
    "token_kl_drift": (q_token_kl_drift, o_token_kl_drift),
    "tile_hull_z8": (q_tile_hull_z8, o_tile_hull_z8),
    "zonal_stats": (q_zonal_stats, o_zonal_stats),
}
