"""Cost-distance transform over an integer cost raster — the GIS
least-cost-path surface (GRASS ``r.cost`` / ArcGIS Cost Distance): the
minimum accumulated traversal cost from any source cell to every
reachable cell of a grid whose absent cells are impassable obstacles.

Engine addition (the reference's raster story stops at tile pixel
coordinates, gis.go:277-283; this is the standard next stage for
siting / catchment / corridor analysis over event-density surfaces).

Semantics
---------
Cells are integer grid coordinates with POSITIVE INTEGER costs; moving
between 8-connected neighbors a→b costs ``(cost(a)+cost(b))·mult``
with ``mult`` = 1000 orthogonal / 1414 diagonal (the standard
(c₁+c₂)/2·step discretization, scaled ×2000 to stay in exact integer
arithmetic — 1414/1000 is the pinned rational √2).  The result is the
exact integer shortest-path distance, so ANY correct algorithm agrees
digit-for-digit: the engine relaxes in parallel, the oracle replays
with a scalar Dijkstra, and both match exactly.

Scale shape (10^9+ cells)
-------------------------
Two strategies, one semantics (the jaccard/CC dual-path convention):

- **gated** (extent area ≤ ``_GATE_CELLS``, 4 M cells): one
  driver-side vectorized Bellman-Ford over the dense (H, W) int64 grid
  — 8 shifted-array min updates per round, fixpoint in O(path-hops)
  rounds, microseconds at analysis scale.  The collect is bounded by
  the gate.
- **distributed**: edges materialize once (8-offset explode + one
  equi-join back to the cell table), then budgeted rounds of
  join-relax-min — each round ONE shuffle at cell cardinality, a
  ``localCheckpoint`` to truncate lineage, and one monotone fixpoint
  probe (Σ dist is a strictly decreasing integer; equal sums ⇒
  converged) per budget of ``max(8, w + h)`` rounds instead of per
  round (the hardened CC pattern).  Rounds grow with the optimal
  path's hop count — the honest cost of propagation on a weighted
  grid.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_INF = np.int64(2**62)
# extents of at most this many cells (w·h) solve as one dense driver grid
_GATE_CELLS = 4_000_000
_OFFS = [(-1, -1, 1414), (-1, 0, 1000), (-1, 1, 1414),
         (0, -1, 1000), (0, 1, 1000),
         (1, -1, 1414), (1, 0, 1000), (1, 1, 1414)]


def _relax_dense(cost: np.ndarray, dist: np.ndarray) -> np.ndarray:
    """One full 8-neighbor relaxation sweep on dense grids; impassable
    cells hold cost < 0 and stay at _INF."""
    blocked = cost < 0
    c = cost.astype(np.int64)
    out = dist.copy()
    h, w = cost.shape
    for dy, dx, mult in _OFFS:
        ys = slice(max(0, dy), h + min(0, dy))
        xs = slice(max(0, dx), w + min(0, dx))
        ys0 = slice(max(0, -dy), h + min(0, -dy))
        xs0 = slice(max(0, -dx), w + min(0, -dx))
        # moving from (ys0, xs0) into (ys, xs); guard every _INF term —
        # _INF + _INF wraps past 2^63
        src_d = dist[ys0, xs0]
        ok = ~blocked[ys0, xs0] & ~blocked[ys, xs] & (src_d < _INF)
        step = (c[ys0, xs0] + c[ys, xs]) * mult
        cand = np.where(ok, src_d + np.where(ok, step, 0), _INF)
        np.minimum(out[ys, xs], cand, out=out[ys, xs])
    out[blocked] = _INF
    return out


def _solve_dense(cost: np.ndarray, dist: np.ndarray) -> np.ndarray:
    while True:
        nxt = _relax_dense(cost, dist)
        if np.array_equal(nxt, dist):
            return dist
        dist = nxt


def cost_distance(
    cells: DataFrame,
    sources: DataFrame,
    x: str = "cx",
    y: str = "cy",
    cost: str = "cost",
) -> DataFrame:
    """Minimum accumulated cost from the source set to every reachable
    cell.  ``cells``: (x, y, cost) with positive integer costs — absent
    cells are obstacles; ``sources``: (x, y) rows (must exist in
    ``cells``; others are ignored).  Returns (x, y, cost, dist) with
    ``dist`` the exact integer distance (0 at sources); unreachable
    cells are omitted.
    """
    spark = cells.sparkSession
    ext = cells.agg(
        F.min(x).alias("x0"), F.max(x).alias("x1"),
        F.min(y).alias("y0"), F.max(y).alias("y1"),
        F.count(F.lit(1)).alias("n")).first()
    if ext["n"] == 0:
        return cells.select(x, y, cost).withColumn(
            "dist", F.lit(0).cast("long")).limit(0)
    w = int(ext["x1"]) - int(ext["x0"]) + 1
    h = int(ext["y1"]) - int(ext["y0"]) + 1

    if w * h <= _GATE_CELLS:
        cp = cells.select(x, y, cost).toPandas()
        sp = sources.select(x, y).toPandas()
        cg = np.full((h, w), -1, dtype=np.int64)
        cg[cp[y].to_numpy() - int(ext["y0"]),
           cp[x].to_numpy() - int(ext["x0"])] = cp[cost].to_numpy()
        dist = np.full((h, w), _INF, dtype=np.int64)
        sy = sp[y].to_numpy() - int(ext["y0"])
        sx = sp[x].to_numpy() - int(ext["x0"])
        ok = (sy >= 0) & (sy < h) & (sx >= 0) & (sx < w)
        sy, sx = sy[ok], sx[ok]
        live = cg[sy, sx] >= 0
        dist[sy[live], sx[live]] = 0
        dist = _solve_dense(cg, dist)
        yy, xx = np.nonzero(dist < _INF)
        out = pd.DataFrame({
            x: xx + int(ext["x0"]), y: yy + int(ext["y0"]),
            cost: cg[yy, xx], "dist": dist[yy, xx]})
        return spark.createDataFrame(out.astype("int64")) if len(out) \
            else cells.select(x, y, cost).withColumn(
                "dist", F.lit(0).cast("long")).limit(0)

    # ---------------- distributed budgeted Bellman-Ford ----------------
    from xutil_spark.operators.dedup import _ckpt

    offs = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"),
                 F.lit(m).alias("m")) for dy, dx, m in _OFFS])
    base = cells.select(F.col(x).alias("_x"), F.col(y).alias("_y"),
                        F.col(cost).cast("long").alias("_c"))
    ex = base.select(
        "_x", "_y", "_c", F.explode(offs).alias("_o")
    ).select(
        (F.col("_x") + F.col("_o.dx")).alias("_tx"),
        (F.col("_y") + F.col("_o.dy")).alias("_ty"),
        "_x", "_y", "_c", F.col("_o.m").alias("_m"))
    edges = ex.join(
        base.select(F.col("_x").alias("_tx"), F.col("_y").alias("_ty"),
                    F.col("_c").alias("_tc")),
        ["_tx", "_ty"],
    ).select("_x", "_y", "_tx", "_ty",
             ((F.col("_c") + F.col("_tc")) * F.col("_m")).alias("_w"))
    edges = _ckpt(edges)

    dist = (sources.select(F.col(x).alias("_x"), F.col(y).alias("_y"))
            .join(base, ["_x", "_y"])
            .select("_x", "_y", F.lit(0).cast("long").alias("_d"))
            .distinct())
    dist = _ckpt(dist)
    rounds = max(8, w + h)
    total = None
    while True:
        for _ in range(rounds):
            cand = (dist.join(edges, ["_x", "_y"])
                    .select(F.col("_tx").alias("_x"),
                            F.col("_ty").alias("_y"),
                            (F.col("_d") + F.col("_w")).alias("_d")))
            dist = _ckpt(
                dist.unionByName(cand).groupBy("_x", "_y")
                .agg(F.min("_d").alias("_d")))
        probe = dist.agg(F.sum("_d").alias("s"),
                         F.count(F.lit(1)).alias("n")).first()
        sig = (int(probe["s"]), int(probe["n"]))
        if sig == total:
            break
        total = sig
    return dist.join(
        base, ["_x", "_y"],
    ).select(F.col("_x").alias(x), F.col("_y").alias(y),
             F.col("_c").alias(cost), F.col("_d").alias("dist"))


def _backtrack_dense(cg: np.ndarray, dist: np.ndarray,
                     ty: int, tx: int) -> list[tuple[int, int]]:
    """Greedy descent from a reached target to a source: the optimal
    predecessor satisfies dist[nb] + w(nb→cur) == dist[cur] exactly
    (integer arithmetic); ties break on smallest (dist, y, x)."""
    path = [(tx, ty)]
    cy, cx = ty, tx
    while dist[cy, cx] > 0:
        best = None
        for dy, dx, mult in _OFFS:
            ny, nx = cy - dy, cx - dx
            if not (0 <= ny < dist.shape[0] and 0 <= nx < dist.shape[1]):
                continue
            if cg[ny, nx] < 0 or dist[ny, nx] >= _INF:
                continue
            w = (cg[ny, nx] + cg[cy, cx]) * mult
            if dist[ny, nx] + w == dist[cy, cx]:
                key = (int(dist[ny, nx]), ny, nx)
                if best is None or key < best:
                    best = key
        if best is None:           # numerically impossible; be safe
            break
        _, cy, cx = best
        path.append((cx, cy))
    return path


def least_cost_paths(
    cells: DataFrame,
    sources: DataFrame,
    targets: DataFrame,
    x: str = "cx",
    y: str = "cy",
    cost: str = "cost",
) -> DataFrame:
    """The optimal route behind ``cost_distance``: for each reachable
    target cell, the ordered cell sequence back to the nearest source
    (corridor extraction / siting).  Exact-integer backtracking — a
    predecessor is any neighbor with ``dist[nb] + w == dist[cur]``,
    smallest ``(dist, y, x)`` wins — so the path is deterministic and
    replayable.  Returns (target_x, target_y, step, x, y, dist) rows,
    step 0 at the target, ending at a source with dist 0; unreachable
    targets emit nothing.

    Scale: the surface solve is ``cost_distance``'s (gated dense /
    distributed rounds); the backtrack here is the gated dense walk —
    for beyond-gate extents run the distributed surface first and
    restrict ``cells`` to a corridor bbox around each target (the
    standard two-pass corridor-analysis recipe), which brings the walk
    under the gate.
    """
    spark = cells.sparkSession
    ext = cells.agg(
        F.min(x).alias("x0"), F.max(x).alias("x1"),
        F.min(y).alias("y0"), F.max(y).alias("y1"),
        F.count(F.lit(1)).alias("n")).first()
    schema = (f"target_x long, target_y long, step int, {x} long, "
              f"{y} long, dist long")
    if ext["n"] == 0:
        return spark.createDataFrame([], schema)
    w = int(ext["x1"]) - int(ext["x0"]) + 1
    h = int(ext["y1"]) - int(ext["y0"]) + 1
    if w * h > _GATE_CELLS:
        raise ValueError(
            f"extent {w}x{h} exceeds _GATE_CELLS={_GATE_CELLS}: solve the "
            "surface with cost_distance and re-run per-target on a "
            "corridor bbox (see docstring)")
    x0, y0 = int(ext["x0"]), int(ext["y0"])
    cp = cells.select(x, y, cost).toPandas()
    sp = sources.select(x, y).toPandas()
    tp = targets.select(x, y).toPandas()
    cg = np.full((h, w), -1, dtype=np.int64)
    cg[cp[y].to_numpy() - y0, cp[x].to_numpy() - x0] = cp[cost].to_numpy()
    dist = np.full((h, w), _INF, dtype=np.int64)
    sy = sp[y].to_numpy() - y0
    sx = sp[x].to_numpy() - x0
    ok = (sy >= 0) & (sy < h) & (sx >= 0) & (sx < w)
    sy, sx = sy[ok], sx[ok]
    live = cg[sy, sx] >= 0
    dist[sy[live], sx[live]] = 0
    dist = _solve_dense(cg, dist)
    rows = []
    for txx, tyy in sorted({(int(a), int(b))
                            for a, b in zip(tp[x], tp[y])}):
        gy, gx = tyy - y0, txx - x0
        if not (0 <= gy < h and 0 <= gx < w) or dist[gy, gx] >= _INF:
            continue
        for step, (pxx, pyy) in enumerate(_backtrack_dense(cg, dist, gy, gx)):
            rows.append((txx, tyy, step, pxx + x0, pyy + y0,
                         int(dist[pyy, pxx])))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["target_x", "target_y", "step",
                                    x, y, "dist"]).astype("int64")
        if rows else [], schema)
