"""Contract queries, round-4 fourth batch: Getis-Ord Gi* hotspot
detection (operators/hotspot.py) — the significance-scored twin of the
KDE heatmap.

Same conventions as entry_queries*.py: q_* takes (spark, sf_dir) and
returns a DataFrame; o_* returns ANSI SQL DuckDB runs on the same
inputs.

Oracle parity note: the z-score's float expression tree is written
IDENTICALLY on both sides (one fixed sequence of float64 ops over
exact integer aggregates), so the comparison carries no
accumulation-order risk; ROUND(…,6)+0.0 normalizes any −0.0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from xutil_spark.entry_queries import _PTS_SQL, _cell_sql, _points, _utc

_GI_ZOOM = 10
_GI_RADIUS = 1


def q_hotspot_gistar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gi* hotspot z-scores over z10 cell counts
    (operators/hotspot.py): binary 3×3 ring weights over the occupied
    cells, every aggregate an exact integer, one fact-side shuffle
    then cell-cardinality stages only."""
    _utc(spark)
    from xutil_spark.operators.heatmap import cell_counts
    from xutil_spark.operators.hotspot import gi_star

    pts = _points(spark, sf_dir)
    counts = cell_counts(pts, _GI_ZOOM)
    return gi_star(counts, _GI_ZOOM, radius=_GI_RADIUS)


def o_hotspot_gistar() -> str:
    cell = _cell_sql("lon", "lat", _GI_ZOOM)
    n_axis = 2 ** _GI_ZOOM
    zb, xb = 288230376151711744, 536870912
    r = _GI_RADIUS
    ring = ",".join(f"({dx},{dy})"
                    for dy in range(-r, r + 1) for dx in range(-r, r + 1))
    return f"""
WITH pts AS ({_PTS_SQL}),
counts AS (SELECT {cell} AS cell, COUNT(*) AS cnt FROM pts GROUP BY 1),
ring(dx, dy) AS (VALUES {ring}),
xy AS (
  SELECT (cell % {zb}) // {xb} AS x, cell % {xb} AS y, cnt FROM counts
),
contrib AS (
  SELECT {_GI_ZOOM} * {zb}
         + ((x + dx + {n_axis}) % {n_axis}) * {xb} + (y + dy) AS cell,
         cnt
  FROM xy CROSS JOIN ring
  WHERE y + dy >= 0 AND y + dy < {n_axis}
),
agg AS (
  SELECT cell, CAST(SUM(cnt) AS BIGINT) AS gsum,
         CAST(COUNT(*) AS BIGINT) AS wn
  FROM contrib GROUP BY 1
),
gstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cnt) AS BIGINT) AS sx,
         CAST(SUM(cnt * cnt) AS BIGINT) AS sxx
  FROM counts
),
scored AS (
  SELECT c.cell, c.cnt, a.gsum, a.wn,
         CAST(g.sx AS DOUBLE) / g.n AS xbar,
         (CAST(g.sxx AS DOUBLE) / g.n)
           - ((CAST(g.sx AS DOUBLE) / g.n) * (CAST(g.sx AS DOUBLE) / g.n))
           AS svar,
         CAST(g.n * a.wn - a.wn * a.wn AS DOUBLE) / (g.n - 1) AS u
  FROM counts c JOIN agg a USING (cell) CROSS JOIN gstats g
)
SELECT cell, cnt, gsum, wn,
       CASE WHEN sqrt(svar) * sqrt(u) > 0.0 THEN
         ROUND((CAST(gsum AS DOUBLE) - (xbar * CAST(wn AS DOUBLE)))
               / (sqrt(svar) * sqrt(u)), 6) + 0.0
       END AS z
FROM scored
"""


CONTRACT = {
    "hotspot_gistar": (q_hotspot_gistar, o_hotspot_gistar),
}
