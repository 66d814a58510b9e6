"""Contract queries, round-4 fourteenth batch: polygon×polygon
overlay-area join (operators/overlay.py — the vector×vector primitive
that completes the spatial-join matrix).

Same conventions as every entry_queries*.py.

Oracle strategy — ``poly_overlay_z6``: computed-VALUES golden from an
independent pure-Python (math.*, no numpy, no engine imports) replay of
the documented kernel.  The kernel quantizes every sub-segment cross
product HALF-UP to integer 1e-12-deg² units before summation, so
``area_q`` is exact integer arithmetic and order-independent; the cell
block is complete (overlapping polygons have overlapping bboxes, hence
share a bbox-cover cell), so the replay brute-forces every
hexagon×zone pair without modeling the prefilter.  Polygon vertices
are built from SHARED module constants (the unit-ring tables below) by
plain double mul/add on both sides — no trig crosses the JVM/Python
boundary."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import (
    _H1_LIN, _H1_MUL, _H2_MUL, _HAV_SQL, _MASK20, _await_stream, _cell_sql,
    _read, _refs, _utc, _winnow_py, _xxh64,
)
from xutil_spark.entry_queries6 import _fmt_f

# unit rings (CCW), 4 hexagon + 3 octagon rotation variants — computed
# ONCE here and used as literals by BOTH the Spark query and the
# oracle replay, so no trig function is ever evaluated on two runtimes
_HEX_PHASES = (0.15, 0.55, 0.95, 1.35)
_OCT_PHASES = (0.3, 0.7, 1.1)
_HEX_U = [[(math.cos(p + k * math.pi / 3.0), math.sin(p + k * math.pi / 3.0))
           for k in range(6)] for p in _HEX_PHASES]
_OCT_U = [[(math.cos(p + k * math.pi / 4.0), math.sin(p + k * math.pi / 4.0))
           for k in range(8)] for p in _OCT_PHASES]

_OVL_ZOOM = 6
_QUANT = 1e12
_M_PER_DEG = 111194.92664455873


def _hex_polys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier service hexagon: center = the shared ref derivation,
    radius 0.5-2.0° and rotation variant hashed off the key — all pure
    integer/double arithmetic inside codegen."""
    refs = _refs(spark, sf_dir)
    ux = F.array(*[F.array(*[F.lit(u[0]) for u in tab]) for tab in _HEX_U])
    uy = F.array(*[F.array(*[F.lit(u[1]) for u in tab]) for tab in _HEX_U])
    rr = (F.lit(0.5)
          + ((F.col("ref_id") * F.lit(_H1_LIN)) % F.lit(_MASK20))
          / F.lit(float(_MASK20)) * F.lit(1.5))
    ridx = (F.col("ref_id") % F.lit(4) + F.lit(1)).cast("int")
    return refs.select(
        F.col("ref_id").alias("supp_id"),
        F.transform(F.element_at(ux, ridx),
                    lambda u: F.col("lon") + rr * u).alias("xs"),
        F.transform(F.element_at(uy, ridx),
                    lambda u: F.col("lat") + rr * u).alias("ys"),
    )


def _zone_polys(spark: SparkSession) -> DataFrame:
    """20 octagonal analysis zones on a fixed 5×4 grid over the event
    domain, radius 4.0-7.0°, rotation variant cycling."""
    ox = F.array(*[F.array(*[F.lit(u[0]) for u in tab]) for tab in _OCT_U])
    oy = F.array(*[F.array(*[F.lit(u[1]) for u in tab]) for tab in _OCT_U])
    z = spark.range(20).select(F.col("id").alias("zone_id"))
    cx = F.lit(78.0) + (F.col("zone_id") % F.lit(5)) * F.lit(12.0)
    cy = F.lit(22.0) + F.floor(F.col("zone_id") / F.lit(5)) * F.lit(9.0)
    rz = F.lit(4.0) + (F.col("zone_id") % F.lit(3)) * F.lit(1.5)
    oidx = (F.col("zone_id") % F.lit(3) + F.lit(1)).cast("int")
    return z.select(
        "zone_id",
        F.transform(F.element_at(ox, oidx), lambda u: cx + rz * u).alias("xs"),
        F.transform(F.element_at(oy, oidx), lambda u: cy + rz * u).alias("ys"),
    )


def q_poly_overlay_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlay-area join: which supplier service hexagons intersect
    which analysis zones, with exact quantized intersection areas and
    areal-interpolation fractions.  Engine: one JVM bbox-cover explode
    per side, one cell equi-join + pair distinct, one vectorized
    mapInPandas Green's-theorem kernel."""
    _utc(spark)
    from xutil_spark.operators.overlay import overlay_area_join

    out = overlay_area_join(
        _hex_polys(spark, sf_dir), _zone_polys(spark),
        zoom=_OVL_ZOOM, a_id="supp_id", b_id="zone_id")
    return out.select("supp_id", "zone_id", "area_q", "area_deg2",
                      "frac_a", "frac_b", "area_m2")


# ------------------------- pure-Python scalar replay (oracle side)


def _sc_even_odd(mx: float, my: float, ring: list) -> bool:
    inside = False
    m = len(ring)
    for j in range(m):
        x1, y1 = ring[j]
        x2, y2 = ring[(j + 1) % m]
        if (y1 > my) != (y2 > my):
            x_int = x1 + (my - y1) / (y2 - y1) * (x2 - x1)
            if mx < x_int:
                inside = not inside
    return inside


def _sc_on_edge(mx: float, my: float, ring: list) -> bool:
    m = len(ring)
    for j in range(m):
        x1, y1 = ring[j]
        x2, y2 = ring[(j + 1) % m]
        cr = (x2 - x1) * (my - y1) - (y2 - y1) * (mx - x1)
        if cr == 0.0 and min(x1, x2) <= mx <= max(x1, x2) \
                and min(y1, y2) <= my <= max(y1, y2):
            return True
    return False


def _sc_side_sum(p: list, q: list, primary: bool) -> int:
    total = 0
    n, m = len(p), len(q)
    for i in range(n):
        px, py = p[i]
        p2x, p2y = p[(i + 1) % n]
        dpx, dpy = p2x - px, p2y - py
        ts = []
        for j in range(m):
            qx, qy = q[j]
            q2x, q2y = q[(j + 1) % m]
            dqx, dqy = q2x - qx, q2y - qy
            d1 = dpx * (qy - py) - dpy * (qx - px)
            d2 = dpx * (q2y - py) - dpy * (q2x - px)
            d3 = dqx * (py - qy) - dqy * (px - qx)
            d4 = dqx * (p2y - qy) - dqy * (p2x - qx)
            if d1 * d2 < 0.0 and d3 * d4 < 0.0:
                ts.append(d3 / (d3 - d4))
        bounds = [0.0] + sorted(ts) + [1.0]
        sx = [px + t * dpx for t in bounds]
        sy = [py + t * dpy for t in bounds]
        for s in range(len(bounds) - 1):
            mx = (sx[s] + sx[s + 1]) * 0.5
            my = (sy[s] + sy[s + 1]) * 0.5
            if _sc_on_edge(mx, my, q):
                if not primary:
                    continue
                h = math.hypot(dpx, dpy)
                keep = _sc_even_odd(mx - dpy / h * 1e-7,
                                    my + dpx / h * 1e-7, q)
            else:
                keep = _sc_even_odd(mx, my, q)
            if keep:
                cross = sx[s] * sy[s + 1] - sx[s + 1] * sy[s]
                total += int(math.floor(cross * _QUANT + 0.5))
    return total


def _sc_ccw(ring: list) -> list:
    s = 0.0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return ring[::-1] if s < 0.0 else ring


def _sc_ring_area_q(ring: list) -> int:
    n = len(ring)
    t = 0
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        t += int(math.floor((x1 * y2 - x2 * y1) * _QUANT + 0.5))
    return t


def o_poly_overlay_z6() -> str:
    import duckdb as _dd

    con = _dd.connect()
    keys = [r[0] for r in con.execute(
        "SELECT s_suppkey FROM "
        "read_parquet('/root/testdata/sf0.01/supplier.parquet')").fetchall()]
    con.close()
    hexes = {}
    for k in keys:
        lon = 73.5 + ((k * _H1_MUL) % _MASK20) / float(_MASK20) * 61.0
        lat = 18.2 + ((k * _H2_MUL) % _MASK20) / float(_MASK20) * 35.3
        rr = 0.5 + ((k * _H1_LIN) % _MASK20) / float(_MASK20) * 1.5
        tab = _HEX_U[k % 4]
        hexes[k] = [(lon + rr * u[0], lat + rr * u[1]) for u in tab]
    zones = {}
    for i in range(20):
        cx = 78.0 + (i % 5) * 12.0
        cy = 22.0 + float(math.floor(i / 5)) * 9.0
        rz = 4.0 + (i % 3) * 1.5
        tab = _OCT_U[i % 3]
        zones[i] = [(cx + rz * u[0], cy + rz * u[1]) for u in tab]
    rows = []
    for k in sorted(hexes):
        a = _sc_ccw(hexes[k])
        for z in sorted(zones):
            b = _sc_ccw(zones[z])
            q = _sc_side_sum(a, b, True) + _sc_side_sum(b, a, False)
            if q <= 0:
                continue
            fa, fb = _sc_ring_area_q(a), _sc_ring_area_q(b)
            deg2 = q / (2.0 * _QUANT)
            ays = [p[1] for p in a]
            bys = [p[1] for p in b]
            clat = ((min(ays) + max(ays)) * 0.5
                    + (min(bys) + max(bys)) * 0.5) * 0.5
            m2 = round(deg2 * (_M_PER_DEG * _M_PER_DEG)
                       * math.cos(math.radians(clat)), 3)
            rows.append(f"({k},{z},{q},{_fmt_f(deg2)},{_fmt_f(round(q / fa, 9))},"
                        f"{_fmt_f(round(q / fb, 9))},{_fmt_f(m2)})")
    vals = ",".join(rows)
    return f"""
SELECT CAST(supp_id AS BIGINT) AS supp_id,
       CAST(zone_id AS BIGINT) AS zone_id,
       CAST(area_q AS BIGINT) AS area_q,
       CAST(area_deg2 AS DOUBLE) AS area_deg2,
       CAST(frac_a AS DOUBLE) AS frac_a,
       CAST(frac_b AS DOUBLE) AS frac_b,
       CAST(area_m2 AS DOUBLE) AS area_m2
FROM (VALUES {vals})
  AS s(supp_id, zone_id, area_q, area_deg2, frac_a, frac_b, area_m2)
"""


# ------------------------------------------- fingerprint containment

_FPC_TAU = 0.5
_FPC_KEEP = 8


def q_fp_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs over the documents table
    (operators/dedup.py fingerprint_containment): Broder bottom-k
    estimators on the winnowing sketches, shared-print equi-join
    candidates, pure-JVM array estimators."""
    _utc(spark)
    from xutil_spark.operators.dedup import fingerprint_containment

    docs = _read(spark, sf_dir, "documents")
    return fingerprint_containment(docs, tau=_FPC_TAU, keep=_FPC_KEEP)


def o_fp_containment() -> str:
    """Independent pure-Python replay: unsigned big-int sketch sets
    (the _winnow_py reimplementation), exact integer set estimators,
    float division + 9-dp round only at the end."""
    import duckdb as _dd

    docs = _dd.sql(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet') "
        "ORDER BY doc_id").fetchall()
    sk = {}
    for i, t in docs:
        fp = _winnow_py(t)
        if fp:
            sk[i] = {x + (1 << 64) if x < 0 else x for x in fp}
    inv: dict = {}
    for i, s in sk.items():
        for h in s:
            inv.setdefault(h, []).append(i)
    cand = set()
    for ds in inv.values():
        ds = sorted(ds)
        for ia, a in enumerate(ds):
            for b in ds[ia + 1:]:
                cand.add((a, b))
    rows = []
    for a, b in sorted(cand):
        sa, sb = sk[a], sk[b]
        s = sorted(sa | sb)[:_FPC_KEEP]
        ss = set(s)
        num = len(ss & sa & sb)
        den_a = len(ss & sa)
        den_b = len(ss & sb)
        c_ab = round(num / den_a, 9) if den_a else None
        c_ba = round(num / den_b, 9) if den_b else None
        best = max(v for v in (c_ab, c_ba) if v is not None) \
            if (c_ab is not None or c_ba is not None) else None
        if best is None or best < _FPC_TAU:
            continue
        j = round(num / len(s), 9)
        fmt = lambda v: "NULL" if v is None else _fmt_f(v)
        rows.append(f"({a},{b},{fmt(c_ab)},{fmt(c_ba)},{_fmt_f(j)})")
    vals = ",".join(rows)
    return f"""
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(contain_ab AS DOUBLE) AS contain_ab,
       CAST(contain_ba AS DOUBLE) AS contain_ba,
       CAST(jaccard_est AS DOUBLE) AS jaccard_est
FROM (VALUES {vals}) AS s(a, b, contain_ab, contain_ba, jaccard_est)
"""


# --------------------------------------- distance-domain resampling

_RD_STEP_M = 500_000.0  # one sample every 500 km of chainage
_RD_MOD = 7


def q_route_points_500km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear referencing (operators/trajectory.py resample_by_distance):
    one interpolated position every 500 km ALONG each sampled user's
    route.  Integer-millimeter chainage ⇒ exact bracket arithmetic; the
    oracle mirrors the whole pipeline in pure SQL."""
    _utc(spark)
    from xutil_spark.entry_queries12 import _located_events
    from xutil_spark.operators.trajectory import resample_by_distance

    ev = _located_events(spark, sf_dir).filter(
        F.col("user_id") % _RD_MOD == 0)
    return resample_by_distance(ev, step_m=_RD_STEP_M, traj_col="user_id",
                                ts="ts", tiebreak="event_id")


def o_route_points_500km() -> str:
    from xutil_spark.entry_queries3 import _EV_LAT, _EV_LON

    step = int(round(_RD_STEP_M * 1000.0))
    hav = _HAV_SQL.format(lon1="lon", lat1="lat", lon2="lon2", lat2="lat2")
    return f"""
WITH ev AS (
  SELECT user_id, event_id, ts, {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events WHERE user_id % {_RD_MOD} = 0
),
w AS (
  SELECT user_id, lon, lat,
         LEAD(lon) OVER win AS lon2, LEAD(lat) OVER win AS lat2,
         ts, event_id
  FROM ev WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seg AS (
  SELECT *, CASE WHEN lon2 IS NOT NULL
                 THEN CAST(ROUND(({hav}) * 1000.0, 0) AS BIGINT)
                 ELSE 0 END AS dmm
  FROM w
),
c AS (
  SELECT *, CAST(SUM(dmm) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cend
  FROM seg
),
b AS (
  SELECT *, cend - dmm AS c0,
         (cend - dmm + {step} - 1) // {step} AS klo,
         CASE WHEN lon2 IS NOT NULL THEN
                CASE WHEN dmm > 0 THEN (cend - 1) // {step}
                     ELSE (cend - dmm + {step} - 1) // {step} - 1 END
              WHEN (cend - dmm) % {step} = 0
                THEN (cend - dmm + {step} - 1) // {step}
              ELSE (cend - dmm + {step} - 1) // {step} - 1 END AS khi
  FROM c
),
f AS (
  SELECT *, UNNEST(generate_series(klo, khi)) AS k
  FROM b WHERE khi >= klo
),
calc AS (
  SELECT user_id, k, k * {step} AS s_mm,
         CASE WHEN lon2 IS NOT NULL AND cend > c0
              THEN CAST(k * {step} - c0 AS DOUBLE)
                   / CAST(cend - c0 AS DOUBLE)
              ELSE 0.0 END AS frac,
         lon, lat, COALESCE(lon2, lon) AS l2, COALESCE(lat2, lat) AS a2
  FROM f
)
SELECT user_id, k, s_mm,
       ROUND(lon + (l2 - lon) * frac, 6) + 0.0 AS lon,
       ROUND(lat + (a2 - lat) * frac, 6) + 0.0 AS lat
FROM calc
"""


def q_route_points_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle linear referencing: the geodesic twin of
    `route_points_500km` — same integer-mm chainage brackets, but each
    sample position comes from spherical linear interpolation along
    the great circle (flight/shipping routes, where plate-carrée
    bends long segments)."""
    _utc(spark)
    from xutil_spark.entry_queries12 import _located_events
    from xutil_spark.operators.trajectory import resample_by_distance

    ev = _located_events(spark, sf_dir).filter(
        F.col("user_id") % _RD_MOD == 0)
    return resample_by_distance(ev, step_m=_RD_STEP_M, traj_col="user_id",
                                ts="ts", tiebreak="event_id",
                                geodesic=True)


def o_route_points_gc() -> str:
    from xutil_spark.entry_queries3 import _EV_LAT, _EV_LON

    step = int(round(_RD_STEP_M * 1000.0))
    hav = _HAV_SQL.format(lon1="lon", lat1="lat", lon2="lon2", lat2="lat2")
    hav_c = _HAV_SQL.format(lon1="lon", lat1="lat",
                            lon2="COALESCE(lon2, lon)",
                            lat2="COALESCE(lat2, lat)")
    return f"""
WITH ev AS (
  SELECT user_id, event_id, ts, {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events WHERE user_id % {_RD_MOD} = 0
),
w AS (
  SELECT user_id, lon, lat,
         LEAD(lon) OVER win AS lon2, LEAD(lat) OVER win AS lat2,
         ts, event_id
  FROM ev WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seg AS (
  SELECT *, CASE WHEN lon2 IS NOT NULL
                 THEN CAST(ROUND(({hav}) * 1000.0, 0) AS BIGINT)
                 ELSE 0 END AS dmm
  FROM w
),
c AS (
  SELECT *, CAST(SUM(dmm) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cend
  FROM seg
),
b AS (
  SELECT *, cend - dmm AS c0,
         (cend - dmm + {step} - 1) // {step} AS klo,
         CASE WHEN lon2 IS NOT NULL THEN
                CASE WHEN dmm > 0 THEN (cend - 1) // {step}
                     ELSE (cend - dmm + {step} - 1) // {step} - 1 END
              WHEN (cend - dmm) % {step} = 0
                THEN (cend - dmm + {step} - 1) // {step}
              ELSE (cend - dmm + {step} - 1) // {step} - 1 END AS khi
  FROM c
),
f AS (
  SELECT *, UNNEST(generate_series(klo, khi)) AS k
  FROM b WHERE khi >= klo
),
calc AS (
  SELECT user_id, k, k * {step} AS s_mm, lon, lat, lon2, lat2,
         cend, c0,
         CASE WHEN lon2 IS NOT NULL AND cend > c0
              THEN CAST(k * {step} - c0 AS DOUBLE)
                   / CAST(cend - c0 AS DOUBLE)
              ELSE 0.0 END AS frac,
         (lon2 IS NOT NULL AND cend > c0) AS live
  FROM f
),
sl AS (
  SELECT user_id, k, s_mm, frac, live, lon, lat,
         radians(lat) AS p1, radians(lon) AS l1,
         radians(COALESCE(lat2, lat)) AS p2,
         radians(COALESCE(lon2, lon)) AS l2,
         ({hav_c}) / 6371000.0 AS d
  FROM calc
),
uv AS (
  SELECT user_id, k, s_mm, live, lon, lat,
         sin((1.0 - frac) * d) / sin(d) AS a,
         sin(frac * d) / sin(d) AS bb,
         p1, l1, p2, l2
  FROM sl
),
xyz AS (
  SELECT user_id, k, s_mm, live, lon, lat,
         a * cos(p1) * cos(l1) + bb * cos(p2) * cos(l2) AS xx,
         a * cos(p1) * sin(l1) + bb * cos(p2) * sin(l2) AS yy,
         a * sin(p1) + bb * sin(p2) AS zz
  FROM uv
)
SELECT user_id, k, s_mm,
       ROUND(CASE WHEN live THEN degrees(atan2(yy, xx)) ELSE lon END, 6)
         + 0.0 AS lon,
       ROUND(CASE WHEN live THEN degrees(atan2(zz, sqrt(xx * xx + yy * yy)))
                  ELSE lat END, 6) + 0.0 AS lat
FROM xyz
"""


# ------------------------------------------ exact duplicate spans

_DS_N = 20

_DS_EX_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS a
  FROM documents
),
ex AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(a[i:i + {m}], ' ')) AS span_hash
  FROM d, unnest(generate_series(1, len(a) - {m})) AS g(i)
  WHERE len(a) >= {n}
)
""".replace("{m}", str(_DS_N - 1)).replace("{n}", str(_DS_N))


def q_dup_spans_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate 20-token spans across the corpus
    (operators/textops.py dup_token_spans) — the exact-substring dedup
    signal; md5 span hashes make the oracle pure SQL."""
    _utc(spark)
    from xutil_spark.operators.textops import dup_token_spans

    return dup_token_spans(_read(spark, sf_dir, "documents"), n=_DS_N)


def o_dup_spans_20() -> str:
    return _DS_EX_SQL + """
SELECT span_hash, CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM ex GROUP BY span_hash HAVING COUNT(*) >= 2
"""


def q_dup_coverage_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage (operators/textops.py
    dup_span_coverage): integer interval-union of corpus-duplicated
    20-token spans per doc — the curation-threshold signal."""
    _utc(spark)
    from xutil_spark.operators.textops import dup_span_coverage

    return dup_span_coverage(_read(spark, sf_dir, "documents"), n=_DS_N)


def o_dup_coverage_20() -> str:
    n = _DS_N
    return _DS_EX_SQL + f"""
, dup AS (
  SELECT span_hash FROM ex GROUP BY span_hash HAVING COUNT(*) >= 2
),
hits AS (
  SELECT e.doc_id, e.pos FROM ex e JOIN dup USING (span_hash)
),
inc AS (
  SELECT doc_id, pos,
         GREATEST(0, (pos + {n}) - GREATEST(
           pos, COALESCE(MAX(pos + {n}) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)))
           AS c
  FROM hits
),
cov AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         CAST(SUM(c) AS BIGINT) AS covered_tokens
  FROM inc GROUP BY doc_id
),
alln AS (
  SELECT doc_id, CAST(len(a) AS INTEGER) AS n_tokens FROM d
)
SELECT a.doc_id, a.n_tokens,
       COALESCE(c.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(c.covered_tokens, 0) AS covered_tokens,
       CASE WHEN a.n_tokens > 0
            THEN ROUND(CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE)
                       / a.n_tokens, 9) + 0.0
            ELSE 0.0 END AS coverage
FROM alln a LEFT JOIN cov c USING (doc_id)
"""


# ------------------------------------------- areal interpolation


def q_zone_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal interpolation on top of the overlay join: each supplier's
    account balance spreads uniformly over its service hexagon, and
    every analysis zone collects Σ frac_a · s_acctbal — the standard
    polygon→polygon mass transfer.  Each term quantizes to integer
    micro-units before the sum (order-independent, VALUES-oracle-able);
    the weight dim joins broadcast."""
    _utc(spark)
    from xutil_spark.operators.overlay import overlay_area_join

    ov = overlay_area_join(
        _hex_polys(spark, sf_dir), _zone_polys(spark),
        zoom=_OVL_ZOOM, a_id="supp_id", b_id="zone_id")
    sup = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp_id"),
        F.col("s_acctbal").cast("double").alias("_bal"))
    term = F.round(F.col("frac_a") * F.col("_bal") * 1e6, 0).cast("long")
    return (
        ov.join(F.broadcast(sup), "supp_id")
        .withColumn("_tq", term)
        .groupBy("zone_id")
        .agg(F.count(F.lit(1)).alias("n_hexes"),
             F.sum("_tq").alias("mass_q"))
        .select("zone_id", "n_hexes", "mass_q",
                (F.round(F.col("mass_q").cast("double") / 1e6, 3)
                 + F.lit(0.0)).alias("mass"))
    )


def o_zone_interp() -> str:
    """Replay: the o_poly_overlay_z6 scalar overlay + exact integer
    micro-unit aggregation (HALF-AWAY rounding mirrors Spark's
    ROUND(x, 0) on doubles for either sign)."""
    import duckdb as _dd

    con = _dd.connect()
    sup = con.execute(
        "SELECT s_suppkey, CAST(s_acctbal AS DOUBLE) FROM "
        "read_parquet('/root/testdata/sf0.01/supplier.parquet')").fetchall()
    con.close()
    zones = {}
    for i in range(20):
        cx = 78.0 + (i % 5) * 12.0
        cy = 22.0 + float(math.floor(i / 5)) * 9.0
        rz = 4.0 + (i % 3) * 1.5
        zones[i] = _sc_ccw([(cx + rz * u[0], cy + rz * u[1])
                            for u in _OCT_U[i % 3]])
    agg = {z: [0, 0] for z in zones}
    for k, bal in sorted(sup):
        lon = 73.5 + ((k * _H1_MUL) % _MASK20) / float(_MASK20) * 61.0
        lat = 18.2 + ((k * _H2_MUL) % _MASK20) / float(_MASK20) * 35.3
        rr = 0.5 + ((k * _H1_LIN) % _MASK20) / float(_MASK20) * 1.5
        a = _sc_ccw([(lon + rr * u[0], lat + rr * u[1])
                     for u in _HEX_U[k % 4]])
        fa = _sc_ring_area_q(a)
        for z, b in zones.items():
            q = _sc_side_sum(a, b, True) + _sc_side_sum(b, a, False)
            if q <= 0:
                continue
            frac = round(q / fa, 9)
            r = frac * bal * 1e6
            tq = int(math.floor(abs(r) + 0.5)) * (1 if r >= 0 else -1)
            agg[z][0] += 1
            agg[z][1] += tq
    rows = [
        f"({z},{n},{mq},{_fmt_f(round(mq / 1e6, 3))})"
        for z, (n, mq) in sorted(agg.items()) if n > 0
    ]
    vals = ",".join(rows)
    return f"""
SELECT CAST(zone_id AS BIGINT) AS zone_id,
       CAST(n_hexes AS BIGINT) AS n_hexes,
       CAST(mass_q AS BIGINT) AS mass_q,
       CAST(mass AS DOUBLE) AS mass
FROM (VALUES {vals}) AS s(zone_id, n_hexes, mass_q, mass)
"""


# ---------------------------------------------- PageRank (OD graph)

_PR_ZOOM = 5
_PR_ITERS = 10
_PR_SCALE = 10**9


def q_pagerank_od(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized PageRank (operators/graph.py) over the z5 OD
    mobility graph (od_flows edges, n_moves weights): cell centrality
    after 10 exact integer iterations — classic iterative-join Spark
    workload, digit-for-digit oracle-able."""
    _utc(spark)
    from xutil_spark.entry_queries12 import _located_events
    from xutil_spark.operators.flows import od_flows
    from xutil_spark.operators.graph import pagerank_q

    ev = _located_events(spark, sf_dir)
    edges = od_flows(ev, _PR_ZOOM, entity="user_id", ts="ts",
                     tiebreak="event_id", self_loops=False, min_count=1)
    pr = pagerank_q(edges, src="from_cell", dst="to_cell",
                    weight="n_moves", iters=_PR_ITERS, scale=_PR_SCALE)
    return pr.select(
        F.col("node").alias("cell"), "rq",
        (F.col("rq").cast("double") / F.lit(float(_PR_SCALE)))
        .alias("rank"))


def o_pagerank_od() -> str:
    """Edges from the proven od_flows SQL (DuckDB), then an independent
    pure-Python integer replay of the documented update rule."""
    import duckdb as _dd

    from xutil_spark.entry_queries3 import _EV_LAT, _EV_LON

    cell = _cell_sql("lon", "lat", _PR_ZOOM)
    con = _dd.connect()
    edges = con.execute(f"""
WITH ev AS (
  SELECT event_id, user_id, ts, {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM read_parquet('/root/testdata/sf0.01/events.parquet')
),
located AS (SELECT event_id, user_id, ts, {cell} AS cell FROM ev),
moved AS (
  SELECT user_id, cell AS to_cell,
         lag(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_cell
  FROM located
)
SELECT from_cell, to_cell, COUNT(*) AS w FROM moved
WHERE from_cell IS NOT NULL AND from_cell <> to_cell
GROUP BY 1, 2""").fetchall()
    con.close()
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    n = len(nodes)
    W: dict = {}
    for u, _, w in edges:
        W[u] = W.get(u, 0) + w
    base = (_PR_SCALE * 15) // 100
    rank = {v: _PR_SCALE for v in nodes}
    for _ in range(_PR_ITERS):
        inc = dict.fromkeys(nodes, 0)
        for u, v, w in edges:
            inc[v] += rank[u] * w // W[u]
        dang = sum(rank[v] for v in nodes if v not in W)
        rank = {v: base + 85 * (inc[v] + dang // n) // 100 for v in nodes}
    rows = ",".join(
        f"({v},{rank[v]},{_fmt_f(rank[v] / float(_PR_SCALE))})"
        for v in nodes)
    return f"""
SELECT CAST(cell AS BIGINT) AS cell, CAST(rq AS BIGINT) AS rq,
       CAST(rank AS DOUBLE) AS rank
FROM (VALUES {rows}) AS s(cell, rq, rank)
"""


# ------------------------------------------ audio constellation

_AFP_REFS = 300
_AFP_SNIPS = 60


def q_audio_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shazam-style snippet→track matching (raster/audiofp.py): integer
    constellation landmarks (fixed-point spectral DCT, per-band peaks,
    offset-consistent votes) over the synthetic melody corpus; every
    snippet must recover its source clip AND the exact frame offset."""
    _utc(spark)
    from xutil_spark.data.synth_av import melody_table, snippet_table
    from xutil_spark.raster.audiofp import audio_fingerprints, audio_match

    refs = melody_table(spark, _AFP_REFS)
    snips = snippet_table(spark, _AFP_SNIPS, _AFP_REFS)
    return audio_match(
        audio_fingerprints(snips, id_col="snippet_id"),
        audio_fingerprints(refs))


def o_audio_match() -> str:
    """Independent replay: signals from the shared melody generator,
    landmarks re-derived from the documented integer pipeline (numpy
    int64 matmul — exact integers, so any correct implementation
    agrees), votes counted with dict arithmetic."""
    from collections import Counter, defaultdict

    import numpy as np

    from xutil_spark.data.synth_av import melody_samples_for

    frame, hop, fan = 256, 128, 3
    C = np.empty((127, frame), dtype=np.int64)
    for k in range(1, 128):
        for m in range(frame):
            v = math.cos(math.pi * (2 * m + 1) * k / (2 * frame)) * 16384
            C[k - 1, m] = int(math.floor(v + 0.5)) if v >= 0 \
                else int(math.ceil(v - 0.5))
    edges = [(1, 2), (2, 4), (4, 8), (8, 16), (16, 32), (32, 64),
             (64, 128)]

    def lms(x):
        x = np.asarray(x, dtype=np.int64)
        nf = (len(x) - frame) // hop + 1
        out = []
        specs = []
        for t in range(nf):
            specs.append(np.abs(C @ x[t * hop:t * hop + frame]))
        pk = [[int(np.argmax(s[lo - 1:hi - 1])) + lo for lo, hi in edges]
              for s in specs]
        for dt in range(1, fan + 1):
            for t in range(nf - dt):
                for b in range(len(edges)):
                    out.append((t, (pk[t][b] * 128 + pk[t + dt][b]) * 8 + dt))
        return out

    ref_lms = {}
    for i in range(_AFP_REFS):
        ref_lms[i] = lms(melody_samples_for(i, 4000)[:, 0])
    rows = []
    for s in range(_AFP_SNIPS):
        ref = (s * 7) % _AFP_REFS
        off = hop * 2 * (s % 8)
        x = melody_samples_for(ref, 4000)[off:off + 2048, 0]
        snip = lms(x)
        best = None
        for rid in range(_AFP_REFS):
            by = defaultdict(list)
            for t, f in ref_lms[rid]:
                by[f].append(t)
            votes: Counter = Counter()
            for ts_, f in snip:
                for tr in by.get(f, ()):
                    votes[tr - ts_] += 1
            for dt_off, v in votes.items():
                cand = (-v, rid, dt_off)
                if best is None or cand < best:
                    best = cand
        if best is not None and -best[0] >= 4:
            rows.append(f"('snip{s:06d}','clip{best[1]:06d}',"
                        f"{best[2]},{-best[0]})")
    vals = ",".join(rows)
    return f"""
SELECT snippet_id, clip_id, CAST(dt_off AS INTEGER) AS dt_off,
       CAST(votes AS BIGINT) AS votes
FROM (VALUES {vals}) AS s(snippet_id, clip_id, dt_off, votes)
"""


# ------------------------------------------- cost-distance surface

_CD_W, _CD_H = 24, 16
_CD_HOLE = 9  # cells with (gx*7 + gy*13) % 9 == 0 are obstacles


def q_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-cost-path distance surface (operators/costdist.py): event
    density builds an integer cost raster over a {_CD_W}×{_CD_H} hash
    grid, ~1/{_CD_HOLE} of the cells knocked out as obstacles, sources
    = supplier cells; exact integer distances, oracle = independent
    scalar Dijkstra."""
    _utc(spark)
    from xutil_spark.operators.costdist import cost_distance

    ev = _read(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.expr(f"(event_id * 2654435761 % 1048576) * {_CD_W}"
                   " div 1048576").alias("gx"),
            F.expr(f"(event_id * 1597334677 % 1048576) * {_CD_H}"
                   " div 1048576").alias("gy"))
        .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("_n"))
        .filter((F.col("gx") * 7 + F.col("gy") * 13) % _CD_HOLE != 0)
        .select("gx", "gy", (F.lit(1000) + F.col("_n")).alias("cost"))
    )
    sup = _read(spark, sf_dir, "supplier").select(
        F.expr(f"(s_suppkey * {{h1}} % 1048576) * {_CD_W} div 1048576"
               .format(h1=2654435761)).alias("gx"),
        F.expr(f"(s_suppkey * {{h2}} % 1048576) * {_CD_H} div 1048576"
               .format(h2=1597334677)).alias("gy"))
    return cost_distance(cells, sup, x="gx", y="gy", cost="cost")


def o_cost_distance() -> str:
    import heapq

    import duckdb as _dd

    con = _dd.connect()
    ev = con.execute(
        "SELECT event_id FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet')").fetchall()
    sup = con.execute(
        "SELECT s_suppkey FROM "
        "read_parquet('/root/testdata/sf0.01/supplier.parquet')").fetchall()
    con.close()
    counts: dict = {}
    for (eid,) in ev:
        gx = (eid * 2654435761 % 1048576) * _CD_W // 1048576
        gy = (eid * 1597334677 % 1048576) * _CD_H // 1048576
        counts[(gx, gy)] = counts.get((gx, gy), 0) + 1
    cost = {c: 1000 + n for c, n in counts.items()
            if (c[0] * 7 + c[1] * 13) % _CD_HOLE != 0}
    srcs = set()
    for (k,) in sup:
        gx = (k * 2654435761 % 1048576) * _CD_W // 1048576
        gy = (k * 1597334677 % 1048576) * _CD_H // 1048576
        if (gx, gy) in cost:
            srcs.add((gx, gy))
    dist = {c: 0 for c in srcs}
    pq = [(0, c) for c in sorted(srcs)]
    heapq.heapify(pq)
    while pq:
        d, (cx, cy) = heapq.heappop(pq)
        if d > dist.get((cx, cy), 1 << 62):
            continue
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                nb = (cx + dx, cy + dy)
                if nb not in cost:
                    continue
                mult = 1414 if dx != 0 and dy != 0 else 1000
                nd = d + (cost[(cx, cy)] + cost[nb]) * mult
                if nd < dist.get(nb, 1 << 62):
                    dist[nb] = nd
                    heapq.heappush(pq, (nd, nb))
    rows = [f"({c[0]},{c[1]},{cost[c]},{d})" for c, d in sorted(dist.items())]
    vals = ",".join(rows)
    return f"""
SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CAST(cost AS BIGINT) AS cost, CAST(dist AS BIGINT) AS dist
FROM (VALUES {vals}) AS s(gx, gy, cost, dist)
"""


# ------------------------------------------------ image blobs

_BL_N = 500
_BL_T = 128


def q_image_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component blob statistics per image (raster/images.py
    blob_stats): integer gray → mask ≥ 128 → 4-connected labeling —
    exact integer outputs, oracle = independent scanline union-find
    replay over the shared pixel generator."""
    _utc(spark)
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.images import blob_stats

    return blob_stats(images_table(spark, _BL_N), thresh=_BL_T)


def o_image_blobs() -> str:
    import numpy as np

    from xutil_spark.data.synth import pixels_for

    def label_scanline(mask):
        """Independent two-pass union-find labeling."""
        h, w = mask.shape
        parent: dict = {}

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra

        lab = -np.ones((h, w), dtype=np.int64)
        nxt = 0
        for y in range(h):
            for x in range(w):
                if not mask[y, x]:
                    continue
                up = lab[y - 1, x] if y > 0 and mask[y - 1, x] else -1
                lf = lab[y, x - 1] if x > 0 and mask[y, x - 1] else -1
                if up < 0 and lf < 0:
                    parent[nxt] = nxt
                    lab[y, x] = nxt
                    nxt += 1
                elif up >= 0 and lf >= 0:
                    lab[y, x] = up
                    union(int(up), int(lf))
                else:
                    lab[y, x] = max(up, lf)
        blobs: dict = {}
        for y in range(h):
            for x in range(w):
                if lab[y, x] >= 0:
                    root = find(int(lab[y, x]))
                    s = blobs.setdefault(root, [0, None, 0, 0])
                    s[0] += 1
                    if s[1] is None or (y, x) < s[1]:
                        s[1] = (y, x)
                    s[2] += x
                    s[3] += y
        return list(blobs.values())

    stats: dict = {}
    for i in range(_BL_N):
        kd = (i % 3, i % 256)
        if kd in stats:
            continue
        px = pixels_for(i)
        g = (px.astype(np.int64) @ np.array([299, 587, 114])) // 1000
        mask = g >= _BL_T
        blobs = label_scanline(mask)
        if blobs:
            best = max(blobs, key=lambda s: (s[0], (-s[1][0], -s[1][1])))
            n, _, sx, sy = best[0], best[1], best[2], best[3]
            stats[kd] = (len(blobs), n, sx * 10000 // n, sy * 10000 // n,
                         int(mask.sum()))
        else:
            stats[kd] = (0, 0, -1, -1, 0)
    rows = ",".join(
        "('img{:012d}',{},{},{},{},{})".format(i, *stats[(i % 3, i % 256)])
        for i in range(_BL_N))
    return f"""
SELECT image_id, CAST(n_blobs AS INTEGER) AS n_blobs,
       CAST(max_blob_px AS INTEGER) AS max_blob_px,
       CAST(cx_q AS BIGINT) AS cx_q, CAST(cy_q AS BIGINT) AS cy_q,
       CAST(mask_px AS BIGINT) AS mask_px
FROM (VALUES {rows})
  AS s(image_id, n_blobs, max_blob_px, cx_q, cy_q, mask_px)
"""


# ---------------------------------------- product quantization ANN

_PQ_M, _PQ_K, _PQ_IT, _PQ_QS = 16, 64, 5, 1024
_PQ_QMOD = 25


def q_pq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): integer-exact
    codebook training (deterministic k-means over quantized
    subvectors), 8-byte codes, ADC top-5 per sampled query — the
    compression path of the similarity stack, digit-for-digit
    replayable."""
    _utc(spark)
    from xutil_spark.operators.pq import pq_topk, pq_train

    emb = _read(spark, sf_dir, "embeddings")
    cent = pq_train(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_IT, qscale=_PQ_QS)
    qs = emb.filter(F.col("vec_id") % _PQ_QMOD == 0)
    return pq_topk(emb, qs, cent, topk=5, qscale=_PQ_QS)


def o_pq_top5() -> str:
    """Independent flat-numpy replay of the documented integer PQ spec
    (quantize → seeded k-means → codes → ADC → (dist, id) top-5)."""
    import duckdb as _dd
    import numpy as np

    con = _dd.connect()
    rows = con.execute(
        "SELECT vec_id, embedding FROM "
        "read_parquet('/root/testdata/sf0.01/embeddings.parquet') "
        "ORDER BY vec_id").fetchall()
    con.close()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    x = np.floor(np.stack([np.asarray(r[1], dtype=np.float64)
                           for r in rows]) * float(_PQ_QS) + 0.5
                 ).astype(np.int64)
    n, dim = x.shape
    sub = dim // _PQ_M
    xs = x.reshape(n, _PQ_M, sub)
    # pinned seed-pool cap (pq.py module doc): K evenly-spaced
    # positions within the FIRST min(n, k*1000) ids — mirrors the
    # engine's orderBy+limit seed pool exactly at any n
    pool = min(n, _PQ_K * 1000)
    stride = max(1, pool // _PQ_K)
    seed_rows = list(range(pool))[::stride][:_PQ_K]
    cent = np.transpose(xs[seed_rows], (1, 0, 2)).copy()

    def assign(v, c):
        d = ((v[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return np.argmin(d, axis=1)

    for _ in range(_PQ_IT):
        new = cent.copy()
        for mi in range(_PQ_M):
            a = assign(xs[:, mi, :], cent[mi])
            for ki in range(_PQ_K):
                sel = xs[a == ki, mi, :]
                if len(sel):
                    s = sel.sum(axis=0)
                    new[mi, ki] = (2 * s + len(sel)) // (2 * len(sel))
        cent = new
    codes = np.stack([assign(xs[:, mi, :], cent[mi])
                      for mi in range(_PQ_M)], axis=1)
    out = []
    for qi in np.nonzero(ids % _PQ_QMOD == 0)[0]:
        tab = ((xs[qi][:, None, :] - cent) ** 2).sum(axis=2)  # (m, k)
        dist = np.zeros(n, dtype=np.int64)
        for mi in range(_PQ_M):
            dist += tab[mi][codes[:, mi]]
        order = sorted(range(n), key=lambda j: (int(dist[j]), int(ids[j])))
        rank = 0
        for j in order:
            if ids[j] == ids[qi]:
                continue
            rank += 1
            out.append(f"({ids[qi]},{ids[j]},{rank},{int(dist[j])})")
            if rank == 5:
                break
    vals = ",".join(out)
    return f"""
SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(rank AS INTEGER) AS rank, CAST(adc_dist AS BIGINT) AS adc_dist
FROM (VALUES {vals}) AS s(qid, vec_id, rank, adc_dist)
"""


# ----------------------------------------------- text cleaning


def q_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style pre-dedup cleaning (operators/textops.py clean_text)
    over the documents table with deterministically injected markup
    (tags/entities keyed off doc_id%4, built identically in the oracle
    SQL) — tags stripped, entities neutralized, whitespace collapsed,
    markup accounting per doc."""
    _utc(spark)
    from xutil_spark.operators.textops import clean_text

    d = _read(spark, sf_dir, "documents")
    marked = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit('<div class="x">'), F.col("text"),
                        F.lit("</div>&nbsp;")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.col("text"), F.lit("<br/> \t end")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("&amp; intro &#8212; "), F.col("text")))
        .otherwise(F.col("text")).alias("text"))
    return clean_text(marked)


def o_clean_docs() -> str:
    from xutil_spark.operators.textops import (
        CLEAN_CTRL,
        CLEAN_ENTITY,
        CLEAN_TAG,
        CLEAN_WS,
    )

    return f"""
WITH marked AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN '<div class="x">' || text || '</div>&nbsp;'
           WHEN 1 THEN text || '<br/> ' || chr(9) || ' end'
           WHEN 2 THEN '&amp; intro &#8212; ' || text
           ELSE text END AS text
  FROM documents
),
cleaned AS (
  SELECT doc_id, text,
         length(regexp_extract_all(text, '{CLEAN_TAG}')) AS n_tags,
         length(regexp_extract_all(text, '{CLEAN_ENTITY}')) AS n_entities,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{CLEAN_TAG}', ' ', 'g'),
               '{CLEAN_ENTITY}', ' ', 'g'),
             '{CLEAN_CTRL}', '', 'g'),
           '{CLEAN_WS}', ' ', 'g')) AS clean
  FROM marked
)
SELECT doc_id, CAST(length(text) AS INTEGER) AS raw_len,
       CAST(n_tags AS BIGINT) AS n_tags,
       CAST(n_entities AS BIGINT) AS n_entities,
       clean, CAST(length(clean) AS INTEGER) AS clean_len,
       ROUND(CASE WHEN length(text) > 0
                  THEN CAST(length(text) - length(clean) AS DOUBLE)
                       / length(text) ELSE 0.0 END, 9) AS markup_ratio
FROM cleaned
"""


# --------------------------------------------- HyperLogLog sketch

_HLL_ZOOM = 6
_HLL_P = 8


def q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog distinct-user sketch per z6 cell
    (operators/sketches.py hll_distinct) next to the exact count —
    register table exact integers, harmonic fold order pinned; the
    exact column doubles as the accuracy exhibit."""
    _utc(spark)
    from xutil_spark.entry_queries12 import _located_events
    from xutil_spark.functions import native
    from xutil_spark.operators.sketches import hll_distinct

    ev = _located_events(spark, sf_dir).select(
        native.cell("lon", "lat", _HLL_ZOOM).alias("cell"), "user_id")
    h = hll_distinct(ev, group="cell", key="user_id", p=_HLL_P)
    exact = ev.groupBy("cell").agg(
        F.countDistinct("user_id").alias("exact"))
    return h.join(exact, "cell").select(
        "cell", "n_regs", "reg_chk", "est", "est_hll", "exact")


def _hll_replay() -> dict:
    """cell → (n_regs, reg_chk, est, est_hll, exact): cells from the
    proven tile SQL (DuckDB); registers, folds and corrections replayed
    in pure Python with the pinned _xxh64.  Shared by the batch AND
    streaming HLL oracles — the sketch is batch≡stream by design."""
    import struct

    import duckdb as _dd

    from xutil_spark.entry_queries3 import _EV_LAT, _EV_LON

    cell = _cell_sql("lon", "lat", _HLL_ZOOM)
    con = _dd.connect()
    rows = con.execute(f"""
WITH ev AS (
  SELECT user_id, {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM read_parquet('/root/testdata/sf0.01/events.parquet')
)
SELECT DISTINCT {cell} AS cell, user_id FROM ev""").fetchall()
    con.close()
    p, m = _HLL_P, 1 << _HLL_P
    alpha = 0.7213 / (1.0 + 1.079 / m)
    per: dict = {}
    exact: dict = {}
    for c, u in rows:
        h = _xxh64(struct.pack("<q", u), 42)
        reg = h >> (64 - p)
        w = (h << p) & ((1 << 64) - 1)
        if w == 0:
            rank = 64 - p + 1
        else:
            rank = 65 - w.bit_length()
        d = per.setdefault(c, {})
        d[reg] = max(d.get(reg, 0), rank)
        exact[c] = exact.get(c, 0) + 1
    out = {}
    for c in sorted(per):
        regs = sorted(per[c].items())
        acc = 0.0
        for _, rank in regs:
            acc += 2.0 ** (-float(rank))
        hsum = (float(m) - len(regs)) + acc
        raw = (alpha * m * m) / hsum
        zeros = float(m - len(regs))
        if raw <= 2.5 * m and zeros > 0:
            est = float(m) * math.log(float(m) / zeros)
        else:
            est = raw
        chk = sum(reg * 128 + rank for reg, rank in regs)
        out[c] = (len(regs), chk, round(est, 3), round(raw, 3), exact[c])
    return out


def o_hll_users() -> str:
    rep = _hll_replay()
    vals = ",".join(
        f"({c},{n},{chk},{_fmt_f(est)},{_fmt_f(raw)},{ex})"
        for c, (n, chk, est, raw, ex) in rep.items())
    return f"""
SELECT CAST(cell AS BIGINT) AS cell, CAST(n_regs AS INTEGER) AS n_regs,
       CAST(reg_chk AS BIGINT) AS reg_chk, CAST(est AS DOUBLE) AS est,
       CAST(est_hll AS DOUBLE) AS est_hll,
       CAST(exact AS BIGINT) AS exact
FROM (VALUES {vals}) AS s(cell, n_regs, reg_chk, est, est_hll, exact)
"""


def q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog (streaming/stateful.py streaming_hll):
    the events table replayed as a file stream → JVM register/rank
    columns → per-cell stateful register-max → estimates.  Register
    maxima make the state monotone and replay-idempotent, so one
    availableNow pass equals the batch sketch exactly — the oracle IS
    the batch oracle's replay (minus the exact column)."""
    _utc(spark)
    import shutil
    import tempfile
    import uuid

    from xutil_spark.functions import native
    from xutil_spark.streaming.stateful import streaming_hll

    path = f"{sf_dir}/events.parquet"
    land = tempfile.mkdtemp(prefix="xutil_stream_land_")
    shutil.copy(path, f"{land}/events.parquet")
    schema = spark.read.parquet(path).schema
    src = spark.readStream.schema(schema).parquet(land)
    located = src.select(
        "user_id",
        (F.lit(73.5) + (F.col("event_id") * 2654435761 % 1048576)
         .cast("double") / 1048576.0 * 61.0).alias("lon"),
        (F.lit(18.2) + (F.col("event_id") * 1597334677 % 1048576)
         .cast("double") / 1048576.0 * 35.3).alias("lat"),
    ).select(native.cell("lon", "lat", _HLL_ZOOM).alias("cell"),
             "user_id")
    out = streaming_hll(located, group="cell", key="user_id", p=_HLL_P)
    name = f"stream_hll_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    _await_stream(q)
    return spark.table(name).select(
        "cell", "n_regs", "reg_chk", "est", "est_hll")


def o_streaming_hll() -> str:
    rep = _hll_replay()
    vals = ",".join(
        f"({c},{n},{chk},{_fmt_f(est)},{_fmt_f(raw)})"
        for c, (n, chk, est, raw, _ex) in rep.items())
    return f"""
SELECT CAST(cell AS BIGINT) AS cell, CAST(n_regs AS INTEGER) AS n_regs,
       CAST(reg_chk AS BIGINT) AS reg_chk, CAST(est AS DOUBLE) AS est,
       CAST(est_hll AS DOUBLE) AS est_hll
FROM (VALUES {vals}) AS s(cell, n_regs, reg_chk, est, est_hll)
"""


# ------------------------------------------- least-cost corridors

_LCP_MOD = 250  # targets: customer keys ≡ 0 (mod 250)


def q_least_cost_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corridor extraction behind the cost surface
    (operators/costdist.py least_cost_paths): the ordered optimal cell
    route from sampled customer cells back to the nearest supplier
    source, exact-integer backtracking over the same raster as
    `cost_distance_grid`."""
    _utc(spark)
    from xutil_spark.operators.costdist import least_cost_paths

    ev = _read(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.expr(f"(event_id * 2654435761 % 1048576) * {_CD_W}"
                   " div 1048576").alias("gx"),
            F.expr(f"(event_id * 1597334677 % 1048576) * {_CD_H}"
                   " div 1048576").alias("gy"))
        .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("_n"))
        .filter((F.col("gx") * 7 + F.col("gy") * 13) % _CD_HOLE != 0)
        .select("gx", "gy", (F.lit(1000) + F.col("_n")).alias("cost"))
    )
    sup = (_read(spark, sf_dir, "supplier")
           .filter(F.col("s_suppkey") % 17 == 0)
           .select(
               F.expr(f"(s_suppkey * 2654435761 % 1048576) * {_CD_W}"
                      " div 1048576").alias("gx"),
               F.expr(f"(s_suppkey * 1597334677 % 1048576) * {_CD_H}"
                      " div 1048576").alias("gy")))
    tgt = (_read(spark, sf_dir, "customer")
           .filter(F.col("c_custkey") % _LCP_MOD == 0)
           .select(
               F.expr(f"(c_custkey * 2654435761 % 1048576) * {_CD_W}"
                      " div 1048576").alias("gx"),
               F.expr(f"(c_custkey * 1597334677 % 1048576) * {_CD_H}"
                      " div 1048576").alias("gy")))
    return least_cost_paths(cells, sup, tgt, x="gx", y="gy", cost="cost")


def o_least_cost_paths() -> str:
    import heapq

    import duckdb as _dd

    con = _dd.connect()
    ev = con.execute(
        "SELECT event_id FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet')").fetchall()
    sup = con.execute(
        "SELECT s_suppkey FROM "
        "read_parquet('/root/testdata/sf0.01/supplier.parquet')").fetchall()
    cus = con.execute(
        "SELECT c_custkey FROM "
        "read_parquet('/root/testdata/sf0.01/customer.parquet') "
        f"WHERE c_custkey % {_LCP_MOD} = 0").fetchall()
    con.close()
    sup = [(k,) for (k,) in sup if k % 17 == 0]

    def cell_of(k):
        return ((k * 2654435761 % 1048576) * _CD_W // 1048576,
                (k * 1597334677 % 1048576) * _CD_H // 1048576)

    counts: dict = {}
    for (eid,) in ev:
        c = cell_of(eid)
        counts[c] = counts.get(c, 0) + 1
    cost = {c: 1000 + n for c, n in counts.items()
            if (c[0] * 7 + c[1] * 13) % _CD_HOLE != 0}
    srcs = {cell_of(k) for (k,) in sup if cell_of(k) in cost}
    dist = {c: 0 for c in srcs}
    pq = [(0, c) for c in sorted(srcs)]
    heapq.heapify(pq)
    offs = [(-1, -1, 1414), (-1, 0, 1000), (-1, 1, 1414), (0, -1, 1000),
            (0, 1, 1000), (1, -1, 1414), (1, 0, 1000), (1, 1, 1414)]
    while pq:
        d, (cx, cy) = heapq.heappop(pq)
        if d > dist.get((cx, cy), 1 << 62):
            continue
        for dy, dx, mult in offs:
            nb = (cx + dx, cy + dy)
            if nb not in cost:
                continue
            nd = d + (cost[(cx, cy)] + cost[nb]) * mult
            if nd < dist.get(nb, 1 << 62):
                dist[nb] = nd
                heapq.heappush(pq, (nd, nb))
    rows = []
    for tx, ty in sorted({cell_of(k) for (k,) in cus}):
        if (tx, ty) not in dist:
            continue
        cx, cy = tx, ty
        step = 0
        rows.append(f"({tx},{ty},{step},{cx},{cy},{dist[(cx, cy)]})")
        while dist[(cx, cy)] > 0:
            best = None
            for dy, dx, mult in offs:
                nb = (cx - dx, cy - dy)
                if nb not in dist:
                    continue
                w = (cost[nb] + cost[(cx, cy)]) * mult
                if dist[nb] + w == dist[(cx, cy)]:
                    key = (dist[nb], nb[1], nb[0])
                    if best is None or key < best:
                        best = key
            if best is None:
                break
            cy, cx = best[1], best[2]
            step += 1
            rows.append(f"({tx},{ty},{step},{cx},{cy},{dist[(cx, cy)]})")
    vals = ",".join(rows)
    return f"""
SELECT CAST(target_x AS BIGINT) AS target_x,
       CAST(target_y AS BIGINT) AS target_y,
       CAST(step AS INTEGER) AS step,
       CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CAST(dist AS BIGINT) AS dist
FROM (VALUES {vals}) AS s(target_x, target_y, step, gx, gy, dist)
"""


CONTRACT = {
    "poly_overlay_z6": (q_poly_overlay_z6, o_poly_overlay_z6),
    "fp_containment": (q_fp_containment, o_fp_containment),
    "route_points_500km": (q_route_points_500km, o_route_points_500km),
    "dup_spans_20": (q_dup_spans_20, o_dup_spans_20),
    "dup_coverage_20": (q_dup_coverage_20, o_dup_coverage_20),
    "zone_interp": (q_zone_interp, o_zone_interp),
    "cost_distance_grid": (q_cost_distance, o_cost_distance),
    "audio_match_fp": (q_audio_match, o_audio_match),
    "pagerank_od_z5": (q_pagerank_od, o_pagerank_od),
    "least_cost_paths": (q_least_cost_paths, o_least_cost_paths),
    "hll_users_z6": (q_hll_users, o_hll_users),
    "clean_docs": (q_clean_docs, o_clean_docs),
    "pq_top5": (q_pq_top5, o_pq_top5),
    "streaming_hll_z6": (q_streaming_hll, o_streaming_hll),
    "image_blobs": (q_image_blobs, o_image_blobs),
    "route_points_gc_500km": (q_route_points_gc, o_route_points_gc),
}
