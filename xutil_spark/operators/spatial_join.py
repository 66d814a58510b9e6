"""Spatial join strategies — the engine's heart (SURVEY §2.3, §4.2).

Each join takes one of two shapes, picked from the size of its dim side:
a dim that fits the driver is collected once and searched inside ONE
``mapInPandas`` pass of numpy kernels over the points (no shuffle, no
join); a larger dim runs a **cell-id equi-join** that Catalyst/AQE can
plan (broadcast / shuffled-hash / sort-merge + AQE skew splitting).

* ``point_in_tile_join``   — pure equi-join on the packed cell id.
* ``point_in_polygon_join``— filter-refine: polygon → covering cells
  (bbox from geo.go:298-321 semantics) → sorted cover probed per point
  → exact ray-cast, all in one numpy pass.
* ``knn_join``             — exact kNN: a shuffle-free numpy grid index
  against dim-sized refs; above the gate, a grid join on neighbor
  rings with *provable* completeness (rings escalate until the k-th
  distance is below the guaranteed-covered radius).
* ``distance_join``        — range variant (dist ≤ r): the same numpy
  grid index with radius-sized cells against dim-sized refs, a
  neighbor-ring equi-join above; exact at any latitude.
* ``snap_to_segments``     — point → nearest segment: one numpy scorer
  against dim-sized networks, a zoom-cascade supercover join above.
* ``salt_hot_cells``       — explicit skew handling: histogram the cell
  key, salt the heavy hitters, explode the dim side (north rule).

There are no strategy knobs.  kNN, range, snap and map matching pick
their path from the size of the dim side, learned by ONE
probe-and-collect (``_collect_dim``: ``limit(gate+1).toPandas()``, a
single Spark job, one stage when the dim is cached) that also hands the
numpy path its collected frame.  PiP collects its polygons once and builds
their cell cover on the driver.

Scale notes (100 TB / 10^12 rows): the fact side is only ever touched by
narrow column expressions or one embarrassingly parallel Python pass
against a dim shipped once per executor (``sc.broadcast``); above the
gates, ONE shuffle per join on the cell key, with dim sides broadcast
when small.  Skew is handled by AQE plus explicit salting for
pathological urban cells.  No driver-side collect of fact data — only
cell histograms (bounded by distinct-cell count) and dim tables.
"""

from __future__ import annotations

import itertools
import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from xutil_spark.functions import native
from xutil_spark.plans.layout import spread

# ---------------------------------------------------------------------------


def with_cell(points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat",
              out: str = "cell") -> DataFrame:
    """Attach the packed cell id (JVM-native expression, codegen'd)."""
    return points.withColumn(out, native.cell(lon, lat, zoom))


# the Web-Mercator tile limit, rounded down: every latitude below it
# has its tile_y inside the tile rows
_TILE_MAX_LAT = 85.0511


def _grid_cell(lon: Column, lat: Column, zoom: int) -> Column:
    """``native.cell`` defined at every coordinate: x wraps mod 2^zoom
    (lon 180 is lon −180), and latitudes poleward of the tile limit
    take the edge row (the raw y falls off the grid there, and at −90°
    the Mercator log is undefined).  Null coordinates give a null cell.
    The edge row keeps the ring guarantee: a point poleward of it is
    only farther from every row beyond the ring."""
    n = 2 ** zoom
    y = (F.when(lat >= _TILE_MAX_LAT, F.lit(0).cast("long"))
         .when(lat <= -_TILE_MAX_LAT, F.lit(n - 1).cast("long"))
         .otherwise(native.tile_y(lat, zoom)))
    return native.cell_from_xy(
        F.pmod(native.tile_x(lon, zoom), F.lit(n).cast("long")), y, zoom)


def point_in_tile_join(
    points: DataFrame,
    tiles: DataFrame,
    zoom: int,
    how: str = "inner",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Assign each point its containing tile: equi-join on cell id.

    The tile dim carries ``cell``; points get cells via the native
    expression.  Tile containment IS cell equality (both sides use the
    same floor semantics, gis.go:262-267), so no refinement is needed —
    output rows match the reference's ``Wgs2Tile`` assignments exactly.
    The tile dim is always broadcast.
    """
    pts = with_cell(points, zoom, lon, lat)
    return pts.join(F.broadcast(tiles), on="cell", how=how)


# ---------------------------------------------------------------------------


def _pip_refine_udf():
    """Vectorized PiP predicate: groups each Arrow batch by wkt so every
    distinct polygon is parsed once and ray-cast over all its candidate
    points in a single numpy call (zero per-row Python)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from xutil_spark.kernels import geometry as K_geom

    def refine(lon, lat, wkt):
        out = np.zeros(len(lon), dtype=bool)
        lonv = lon.to_numpy(np.float64)
        latv = lat.to_numpy(np.float64)
        codes, uniq = pd.factorize(wkt)
        for u_idx, w in enumerate(uniq):
            m = codes == u_idx
            g = K_geom.from_wkt(w)
            out[m] = K_geom.point_in_geo(lonv[m], latv[m], g)
        return pd.Series(out)

    # real class annotations: the module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf rejects
    refine.__annotations__ = {"lon": pd.Series, "lat": pd.Series,
                              "wkt": pd.Series, "return": pd.Series}
    return pandas_udf(refine, "boolean")


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    zoom: int = 12,
    poly_id: str = "poly_id",
    wkt: str = "wkt",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Filter-refine point-in-polygon join.  Output: point columns +
    polygon columns, one row per (point, containing polygon).

    The polygons are collected once (one Spark job) and their bbox
    covering cells at ``zoom`` (``K_geom.covering_cells``, a coarse
    quadtree cover) become one sorted int64 cell array with each
    cell's polygon index, shipped once per executor.  ONE
    ``mapInPandas`` pass over the points then filters and refines per
    Arrow batch (``pip_matcher``): each point's cell (``_grid_cell``'s
    rules, defined at every coordinate) is looked up in the cover with
    ``searchsorted``, and the hits are ray-cast exactly (even-odd,
    numpy, grouped by polygon).  No join, no shuffle.  Rows with a
    null or empty ``wkt`` cover no cells and match nothing; points
    with a null or NaN coordinate match nothing.

    Zoom picks the filter selectivity: higher zoom → more cover cells,
    fewer ray-cast candidates.  The cover holds (polygon bbox area /
    tile area) cells per polygon; polygon sets too large for the
    driver take ``clipped_pip_join``.  A polygon column named like a
    point column raises ``ValueError``.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    poly_pd = polygons.toPandas()
    _check_names(points, poly_pd.columns)
    wkts = [w if isinstance(w, str) else None for w in poly_pd[wkt]]
    cells, poly = _pip_cover(wkts, zoom)
    cols = {c: poly_pd[c].to_numpy() for c in poly_pd.columns}
    bc = points.sparkSession.sparkContext.broadcast((cells, poly, wkts, cols))

    def pip_batches(it):
        cells_b, poly_b, wkts_b, cols_b = bc.value
        match = pip_matcher(cells_b, poly_b, wkts_b, zoom)
        for pdf in it:
            rows, pi = match(pdf[lon].to_numpy(np.float64),
                             pdf[lat].to_numpy(np.float64))
            if len(rows):
                yield pd.DataFrame(_gather(pdf, rows, cols_b, pi))

    schema = StructType(points.schema.fields + polygons.schema.fields)
    return points.mapInPandas(pip_batches, schema=schema)


def _gather(pdf, rows, dim_cols: dict, dim_idx) -> dict:
    """Output columns of a numpy join pass: the point rows ``rows`` of
    ``pdf`` beside the dim rows ``dim_idx`` of ``dim_cols``.  A
    column-wise numpy gather: ``pdf.iloc[rows]`` fancy-indexes the whole
    frame through pandas (measured ~3× slower at ~1M output rows)."""
    data = {c: pdf[c].to_numpy()[rows] for c in pdf.columns}
    for c, v in dim_cols.items():
        data[c] = v[dim_idx]
    return data


def _pip_cover(wkts, zoom: int):
    """``(cells, poly_idx)``: every polygon's bbox covering cells at
    ``zoom``, sorted by cell (stable, so polygon order within a cell),
    with the index of the polygon each one covers.  ``None`` or empty
    WKT covers nothing."""
    from xutil_spark.kernels import geometry as K_geom

    cover = [K_geom.covering_cells(K_geom.from_wkt(w), zoom) if w else []
             for w in wkts]
    poly = np.repeat(np.arange(len(cover), dtype=np.int64),
                     [len(c) for c in cover])
    cells = np.fromiter(itertools.chain.from_iterable(cover), np.int64, len(poly))
    order = np.argsort(cells, kind="stable")
    return cells[order], poly[order]


def _np_grid_cell(lon, lat, zoom: int):
    """``_grid_cell`` in numpy for finite coordinates: x wraps mod
    2^zoom and latitudes poleward of the tile limit take the edge row.
    The cell math is ``K_tiles.wgs2tile``'s, as in ``covering_cells``."""
    from xutil_spark.kernels import tiles as K_tiles

    n = 1 << zoom
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        x, y = K_tiles.wgs2tile(lon, lat, zoom)
    y = np.where(lat >= _TILE_MAX_LAT, 0, np.where(lat <= -_TILE_MAX_LAT, n - 1, y))
    return K_tiles.cell_pack(np.mod(x, n), y, zoom)


def _csr(lo, n):
    """Positions ``lo[i] .. lo[i] + n[i] - 1`` for every i, concatenated
    in order: the CSR expansion of slices into one flat index list."""
    return np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(int(n.sum()))


def pip_matcher(cells, poly, wkts, zoom: int):
    """Build the in-worker PiP match function over a polygon cover
    (``_pip_cover``'s sorted ``cells`` with their ``poly`` indexes) and
    the polygons' WKT.

    Returns ``match(plon, plat) -> (pt_rows, poly_idx)``: every (point,
    polygon) pair with the point inside the polygon by the even-odd ray
    cast (``K_geom.point_in_geo``).  A point's candidates are the cover
    entries of its cell (two ``searchsorted`` probes); the candidates
    are ray-cast grouped by polygon, and each polygon is parsed once per
    matcher, on first use.  Points with a non-finite coordinate match
    nothing."""
    from xutil_spark.kernels import geometry as K_geom

    geoms: dict = {}

    def match(plon, plat):
        pts = np.flatnonzero(np.isfinite(plon) & np.isfinite(plat))
        cell = _np_grid_cell(plon[pts], plat[pts], zoom)
        lo = np.searchsorted(cells, cell, side="left")
        n = np.searchsorted(cells, cell, side="right") - lo
        rows = np.repeat(pts, n)
        pi = poly[_csr(lo, n)]
        if len(pi) == 0:
            return rows, pi
        order = np.argsort(pi, kind="stable")
        rows, pi = rows[order], pi[order]
        keep = np.zeros(len(pi), dtype=bool)
        bounds = np.flatnonzero(np.diff(pi)) + 1
        for s, e in zip(np.r_[0, bounds], np.r_[bounds, len(pi)]):
            j = int(pi[s])
            if j not in geoms:
                geoms[j] = K_geom.from_wkt(wkts[j])
            r = rows[s:e]
            keep[s:e] = K_geom.point_in_geo(plon[r], plat[r], geoms[j])
        return rows[keep], pi[keep]

    return match


# ---------------------------------------------------------------------------

def _explode_neighbors(df: DataFrame, cell_col: Column, zoom: int, ring: int,
                       out: str = "_ncell") -> DataFrame:
    """Expand each row to its (2r+1)² neighbor cells: two generators over
    constant offset sequences, then ONE tiny cell expression per exploded
    row.  Building the block as a single array of (2r+1)² deep expression
    trees blows past the codegen method limit and drops the whole stage
    to interpreted mode (measured 8× slower at ring=2); the generator
    form keeps every projection small enough to stay JIT-compiled.

    x wraps mod 2^z (antimeridian); out-of-range y rows are dropped —
    there are no tiles beyond the poles, so this yields exactly the
    clamp+``array_distinct`` candidate set without the duplicates.

    When 2*ring+1 ≥ 2^zoom the pmod wrap would map distinct dx offsets
    to the same cell (duplicate candidate pairs → duplicate top-k ranks);
    the dx range is clamped to exactly the 2^zoom distinct residues."""
    n = 2 ** zoom
    dx_lo, dx_hi = (0, n - 1) if 2 * ring + 1 >= n else (-ring, ring)
    n_axis = F.lit(n).cast("long")
    return (
        df.withColumn("_dx", F.explode(F.sequence(F.lit(dx_lo), F.lit(dx_hi))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-ring), F.lit(ring))))
        .withColumn("_ny", native.cell_y(cell_col) + F.col("_dy"))
        .filter((F.col("_ny") >= 0) & (F.col("_ny") < n_axis))
        .withColumn(
            out,
            native.cell_from_xy(
                F.pmod(native.cell_x(cell_col) + F.col("_dx"), n_axis),
                F.col("_ny"),
                zoom,
            ),
        )
        .drop("_dx", "_dy", "_ny")
    )


_M_PER_DEG_HAV = 111194.9  # π/180 × 6,371,000 — meters/deg under our haversine
_R_HAV = 6371000.0  # sphere radius shared with the haversine kernels

# fitted-grid density target: ~this×k refs per cell (3×3 block ≈ 9×
# this×k candidates per point).  Lower = fewer haversine pairs but more
# ring-guarantee stragglers falling to m×R brute force; 2.0 measured
# best on 2k-ref/800k-point shapes, and re-swept with the argpartition
# top-k on the 2k-ref bench shape (k=3): 1.0 / 1.5 / 2.0 / 3.0 gave
# 10.1 / 9.3 / 9.4 / 10.9 µs per point.  Exactness is grid-independent
# (guarantee + straggler pass).
_KNN_CELL_TARGET_K = 2.0


def _refs_with_cell(refs: DataFrame, cell_fn, zoom: int, ref_id: str,
                    ref_lon: str, ref_lat: str) -> tuple[DataFrame, list[str]]:
    """Refs dim prepared for a grid join: coords renamed to private
    names, cell ``_rcell`` = ``cell_fn(lon, lat, zoom)`` attached, every
    OTHER column (payload like category / nation) carried through so
    kNN outputs can be aggregated without a re-join."""
    extras = [c for c in refs.columns if c not in (ref_id, ref_lon, ref_lat)]
    sel = (
        [F.col(ref_id)]
        + [F.col(c) for c in extras]
        + [F.col(ref_lon).alias("_rlon"), F.col(ref_lat).alias("_rlat")]
    )
    return refs.select(*sel).withColumn(
        "_rcell", cell_fn(F.col("_rlon"), F.col("_rlat"), zoom)), extras


def _ring_guarantee_m(zoom: int, ring: int, max_abs_lat: float = 60.0) -> float:
    """Static lower bound on the distance from any point in the center
    cell to the nearest *unsearched* cell beyond ``ring``, for points
    with |lat| ≤ ``max_abs_lat`` (the worst latitude of that band).
    The longitude direction uses the exact cross-track minimum
    R·asin(cosφ·sin(Δλ)) rather than the linear Δλ·cosφ·m/deg form —
    the linear bound exceeds the true haversine minimum once
    ring·span is wide (e.g. zoom ≤ 2), which would overstate how far
    the unsearched region is."""
    span_deg = 360.0 / (2 ** zoom)
    if 2 * ring + 1 >= 2 ** zoom:
        # the block covers every cell on both axes — nothing is
        # unsearched, so any radius is guaranteed
        return float("inf")
    dl = math.radians(min(ring * span_deg, 90.0))
    gx = _R_HAV * math.asin(math.cos(math.radians(max_abs_lat)) * math.sin(dl))
    phi_far = min(max_abs_lat + (ring + 1) * span_deg, 85.06)
    gy = ring * span_deg * _M_PER_DEG_HAV * math.cos(math.radians(phi_far))
    return 0.5 * min(gx, gy)


# finest zoom a packed cell id holds: x and y get 29 bits each
_MAX_CELL_ZOOM = 29


def _pick_ring_zoom(radius_m: float, ring: int, max_abs_lat: float) -> int:
    """FINEST zoom whose ring-``ring`` static guarantee covers
    ``radius_m`` for points with |lat| ≤ ``max_abs_lat`` (finer cells =
    fewer candidate pairs; one level too fine would let a true pair
    straddle the searched block).  Zoom 1 always qualifies: its block
    covers every cell."""
    for z in range(_MAX_CELL_ZOOM, 1, -1):
        if _ring_guarantee_m(z, ring, max_abs_lat=max_abs_lat) >= radius_m:
            return z
    return 1


def _zoom_ring(df: DataFrame, lat_cols: list[str], radius_m: float,
               pad_m: float, ring: int) -> tuple[int, int, int]:
    """``(zoom, ring, rows)`` for a ring-cover join over ``df`` from ONE
    Spark job: the top-1 |lat| over ``lat_cols`` (NaN skipped), with
    the row count observed on the way.  The meridional arc lower-bounds
    haversine, so the guarantee need only hold up to |lat| ≤ that top
    + ``pad_m`` of latitude: ``pad_m`` is 0 when both ends of every
    pair are rows of ``df``, and the radius when the other end must lie
    within it of a ``df`` row.  The zoom is the finest whose
    ring-``ring`` guarantee covers ``radius_m`` there; the ring is then
    sized at that zoom."""
    from pyspark.sql import Observation

    obs = Observation()
    absl = [F.abs(F.col(c)) for c in lat_cols]
    a = (absl[0] if len(absl) == 1 else F.greatest(*absl)).alias("a")
    # top-1 rather than F.max: a take-ordered is one Spark job, a global
    # aggregate under AQE is two (its shuffle map stage runs apart)
    top = (df.observe(obs, F.count(F.lit(1)).alias("n")).select(a)
           .filter(~F.isnan("a")).orderBy(F.col("a").desc()).limit(1)
           .collect())
    lat_top = top[0][0] if top else None
    max_abs_lat = min((lat_top or 0.0) + pad_m / _M_PER_DEG_HAV, 90.0)
    zoom = _pick_ring_zoom(radius_m, ring, max_abs_lat)
    ring = 1
    while _ring_guarantee_m(zoom, ring, max_abs_lat=max_abs_lat) < radius_m:
        ring += 1
    return zoom, ring, int(obs.get["n"])


def _ring_guarantee_expr(lat_col: Column, zoom: int, ring: int = 1) -> Column:
    """PER-POINT guarantee: the searched block spans ``ring`` full tiles
    beyond the point's cell in every direction.  Longitude direction:
    the exact cross-track minimum R·asin(cos|φ|·sin(ring·span)) — a
    true lower bound at ANY latitude and span (the linear
    span·cosφ_far·m/deg form both overshoots wide spans and, with the
    φ_far cap at 85°, inflates above the true minimum for |φ| > 85°).
    Latitude direction: in Web-Mercator a tile's latitude span at
    latitude φ is ≥ span_lon·cos(φ_far) for any φ_far ≥ the block's
    farthest |latitude|, and a meridional arc lower-bounds haversine —
    so ring·span·cos(φ_far)·m_per_deg holds.  The binding direction is
    the minimum.  Much tighter than the static cos(60°) bound at low
    latitudes → most points resolve in round 1."""
    span = 360.0 / (2 ** zoom)
    dl = math.radians(min(ring * span, 90.0))
    gx = F.lit(_R_HAV) * F.asin(F.cos(F.radians(F.abs(lat_col)))
                                * F.lit(math.sin(dl)))
    # cap at the Web-Mercator tile limit (85.051°), rounded UP so the
    # cos stays a lower bound for rows hugging the limit
    phi_far = F.least(F.abs(lat_col) + F.lit((ring + 1) * span), F.lit(85.06))
    gy = (
        F.lit(float(ring * span * _M_PER_DEG_HAV))
        * F.cos(F.radians(phi_far))
    )
    return F.least(gx, gy)


# the finest zoom the kNN and snap zoom pickers try
_PICK_MAX_ZOOM = 14


def pick_knn_zoom(refs: DataFrame, k: int,
                  ref_lon: str = "lon", ref_lat: str = "lat") -> int:
    """Choose the starting zoom so a 3×3 block holds ~2k refs on
    average: one tiny aggregation on the (dim-sized) refs table.  Too
    fine a grid wastes escalation rounds; too coarse floods the window
    with candidates."""
    row = refs.agg(
        F.min(ref_lon).alias("lo1"), F.max(ref_lon).alias("lo2"),
        F.min(ref_lat).alias("la1"), F.max(ref_lat).alias("la2"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n = max(int(row["n"]), 1)
    dlon = max(float(row["lo2"]) - float(row["lo1"]), 1e-6)
    dlat = max(float(row["la2"]) - float(row["la1"]), 1e-6)
    for z in range(_PICK_MAX_ZOOM, 0, -1):
        tiles_x = max(dlon / (360.0 / 2 ** z), 1.0)
        tiles_y = max(dlat / (360.0 / 2 ** z), 1.0)  # ~lat span below 60°
        if 9.0 * n / (tiles_x * tiles_y) >= 2.0 * k:
            return z
    return 1


# refs at or below this many rows are dim-sized: knn_join collects them
# once and searches them with the numpy grid index (knn_join_np)
_KNN_NP_MAX_REFS = 200_000


def _collect_dim(dim: DataFrame, max_rows: int):
    """Probe and collect a dim side in ONE Spark job (a count probe
    plus ``toPandas()`` costs three): the first ``max_rows + 1`` rows
    as pandas, or ``None`` when the dim is over the gate.

    A cached dim goes through ``coalesce(1)``, which makes that job one
    stage: a bare ``limit`` under Arrow ``toPandas`` plans a shuffle to
    one partition first (2 stages; measured 134 → 91 ms on a cached
    2k-row dim, local[4]).  The one task reads the partitions in turn
    and stops at ``max_rows + 1``.  An uncached dim keeps the bare
    ``limit``: its single task would also run the dim's own plan
    serially (measured 729 → 1,344 ms on a 200k-row dim generated by a
    Python stage)."""
    lvl = dim.storageLevel
    if lvl.useMemory or lvl.useDisk:
        dim = dim.coalesce(1)
    pdf = dim.limit(max_rows + 1).toPandas()
    return None if len(pdf) > max_rows else pdf


def _check_names(points: DataFrame, added) -> None:
    """Raise when a column a join appends to the point rows shares its
    name (case-insensitively, as Spark resolves names) with a point
    column: the output would carry two columns of that name, or one
    would silently overwrite the other."""
    have = {c.lower() for c in points.columns}
    clash = [c for c in added if c.lower() in have]
    if clash:
        raise ValueError(
            f"column {clash[0]!r} is both a point column and a column the "
            f"join adds from the dim side; rename one of them")


def knn_join_np(
    points: DataFrame,
    refs: DataFrame,
    ref_pd,
    k: int,
    point_id: str = "image_id",
    ref_id: str = "ref_id",
    lon: str = "lon",
    lat: str = "lat",
    ref_lon: str = "lon",
    ref_lat: str = "lat",
) -> DataFrame:
    """Exact kNN against a **dim-sized** refs table with ZERO shuffles.

    ``ref_pd`` is ``refs`` already collected (``knn_join``'s gate
    probe); ``refs`` itself only supplies the output schema.  The refs
    arrays ship once per worker via ``sc.broadcast``.  Inside
    each Arrow batch the search is a **numpy grid index**, not brute
    force: refs are pre-sorted by cell of a bbox-fitted nx×ny grid
    (density targeted at about 2·k refs per cell — see
    ``knn_searcher``), each point gathers the candidates of its 3×3
    neighbor block from a dense per-cell offset table (no Python
    loops), distances run over the flat candidate pair list, top-k is
    a per-point ``argpartition``, and a per-point guarantee — k-th
    distance ≤ the block's covered radius — proves exactness; the rare
    stragglers fall back to a vectorized brute-force pass.  ~100× fewer
    haversine evals than brute force at 2k refs.

    No explode, no join, no window: the points side streams through
    ``mapInPandas`` embarrassingly parallel.

    Tie order matches the grid/window path exactly: rank by
    ``(round(dist_m, 3), ref_id)`` via a strictly-ordered composite
    int64 key (mm-rounded dist · n_refs + ref_index; refs pre-sorted by
    id).  The haversine replicates ``native.haversine_m``'s float64
    operation order.
    """
    import numpy as np

    rid, rlon, rlat, rextra, extras = _refs_arrays(ref_pd, ref_id, ref_lon, ref_lat)
    n_refs = len(rid)
    # explicit sc.broadcast instead of task-closure pickling: the refs
    # arrays ship to each executor ONCE (torrent), not once per task —
    # at 200k refs × thousands of tasks that is the difference between
    # MBs and GBs over the wire
    bc = points.sparkSession.sparkContext.broadcast(
        (rlon, rlat, {ref_id: rid, **rextra}))

    from pyspark.sql.types import IntegerType, StructField

    out_schema = _ref_join_schema(points, refs, ref_id, extras)
    out_schema.add(StructField("rank", IntegerType(), False))

    def topk_batches(it):
        import pandas as pd

        rlon_b, rlat_b, cols_b = bc.value
        # index build (argsort + cell encode) is O(refs log refs) numpy,
        # amortized once per task over all its Arrow batches
        search = knn_searcher(rlon_b, rlat_b, k)
        for pdf in it:
            if len(pdf) == 0 or n_refs == 0:
                continue
            rows, ridx, d, rank = search(pdf[lon].to_numpy(np.float64),
                                         pdf[lat].to_numpy(np.float64))
            data = _gather(pdf, rows, cols_b, ridx)
            data["dist_m"] = d
            data["rank"] = rank
            yield pd.DataFrame(data)

    # a small-file scan yields few splits and would cap the search
    # parallelism (measured 8 tasks on 32 cores → 2× wall)
    return spread(points).mapInPandas(topk_batches, schema=out_schema)


def _ref_join_schema(points: DataFrame, refs: DataFrame, ref_id: str,
                     extras: list[str]):
    """Output schema of a numpy ref join: point columns, ``ref_id``, the
    refs' other columns, ``dist_m``."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType(
        list(points.schema.fields)
        + [StructField(ref_id, refs.schema[ref_id].dataType, True)]
        + [StructField(c, refs.schema[c].dataType, True) for c in extras]
        + [StructField("dist_m", DoubleType(), True)]
    )


def _ref_extras(points: DataFrame, refs: DataFrame, ref_id: str, ref_lon: str,
                ref_lat: str, added: list[str]) -> list[str]:
    """The refs' payload columns (all but id and coordinates), checked
    with ``ref_id`` and the join's own ``added`` columns against the
    point columns (``_check_names``)."""
    extras = [c for c in refs.columns if c not in (ref_id, ref_lon, ref_lat)]
    _check_names(points, [ref_id, *extras, *added])
    return extras


def _refs_arrays(ref_pd, ref_id: str, ref_lon: str, ref_lat: str):
    """A collected refs frame as numpy arrays, id-sorted (tie order)."""
    import numpy as np

    extras = [c for c in ref_pd.columns if c not in (ref_id, ref_lon, ref_lat)]
    ref_pd = ref_pd.sort_values(ref_id, kind="stable")
    rid = ref_pd[ref_id].to_numpy()
    rlon = ref_pd[ref_lon].to_numpy(np.float64)
    rlat = ref_pd[ref_lat].to_numpy(np.float64)
    rextra = {c: ref_pd[c].to_numpy() for c in extras}
    return rid, rlon, rlat, rextra, extras


def _hav(rlat, rlon, rcos, plat, plon, pcos):
    """Haversine in meters, elementwise over broadcastable arrays, from
    points to refs whose cosines of latitude are already taken; each
    half-angle sine is taken once (``s * s`` is ``sin(x) * sin(x)``).
    The float64 operation order is ``native.haversine_m``'s, so the
    numpy joins agree with the JVM paths to the last ulp of the trig."""
    rad = math.pi / 180.0
    s_lat = np.sin((rlat - plat) * rad / 2)
    s_lon = np.sin((rlon - plon) * rad / 2)
    a = s_lat * s_lat + s_lon * s_lon * pcos * rcos
    return 2.0 * _R_HAV * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))


class _RefGrid:
    """Refs bucketed on an nx×ny grid of equal lon × lat cells fitted
    to their bounding box (it does not wrap the antimeridian), sorted
    by cell (``order``, id order within a cell), with a dense
    ``cell_start[nx·ny + 1]`` offset table: cell c holds the sorted
    positions ``cell_start[c]:cell_start[c + 1]`` — a direct-mapped
    lookup, not a binary probe."""

    def __init__(self, rlon, rlat, target_cells: float,
                 min_span_x: float = 0.0, min_span_y: float = 0.0):
        """About ``target_cells`` cells over the refs' bbox, as square
        (in degrees) as it allows; fewer along an axis when its cells
        would be narrower than ``min_span_*`` degrees."""
        self.lon0, self.lat0 = float(rlon.min()), float(rlat.min())
        self.dlon_span = max(float(rlon.max()) - self.lon0, 1e-9)
        dlat_span = max(float(rlat.max()) - self.lat0, 1e-9)
        nx = max(1, int(round(math.sqrt(target_cells * self.dlon_span / dlat_span))))
        ny = max(1, int(round(target_cells / nx)))
        if min_span_x > 0.0:
            nx = max(1, min(nx, int(self.dlon_span / min_span_x)))
        if min_span_y > 0.0:
            ny = max(1, min(ny, int(dlat_span / min_span_y)))
        self.nx, self.ny = nx, ny
        self.span_x, self.span_y = self.dlon_span / nx, dlat_span / ny
        rcx, rcy = self._xy(rlon, rlat)
        rcell = rcx * ny + rcy
        self.order = np.argsort(rcell, kind="stable")
        self.cell_start = np.concatenate(
            ([0], np.cumsum(np.bincount(rcell, minlength=nx * ny))))

    def _xy(self, lon, lat):
        """Cell column and row of each coordinate, clipped onto the grid."""
        return (np.clip(((lon - self.lon0) / self.span_x).astype(np.int64), 0, self.nx - 1),
                np.clip(((lat - self.lat0) / self.span_y).astype(np.int64), 0, self.ny - 1))

    _BLK_DX = np.repeat(np.arange(-1, 2), 3)  # the 3×3 block offsets
    _BLK_DY = np.tile(np.arange(-1, 2), 3)

    def block(self, plon, plat):
        """Each point's 3×3 neighbor block as 9 ``[lo, lo + len)``
        slices of the cell-sorted refs: ``(los, lens)``, (points, 9)
        each.  Both axes clip (the fitted grid has no wrap), so a ref
        appears at most once per point."""
        px, py = self._xy(plon, plat)
        mx = px[:, None] + self._BLK_DX
        my = py[:, None] + self._BLK_DY
        ok = (mx >= 0) & (mx < self.nx) & (my >= 0) & (my < self.ny)
        ncell = np.where(ok, mx * self.ny + my, 0)
        los = self.cell_start[ncell]
        return los, np.where(ok, self.cell_start[ncell + 1] - los, 0)


def knn_searcher(rlon, rlat, k: int):
    """Build the in-worker exact-kNN search function over a collected
    refs array (the numpy grid index described in ``knn_join_np``).

    Returns ``search(plon, plat) -> (pt_rows, ref_idx, dist_m, rank)``
    with flat int/float arrays — reusable both by ``knn_join_np`` and
    by fused whole-pipeline operators (operators/fused.py).

    Index: a ``_RefGrid`` with nx·ny = n_refs / max(_KNN_CELL_TARGET_K·k,
    8) over the refs' own bounding box, so candidate density hits the
    target exactly (power-of-2 slippy tiles step it in 4× jumps: 264
    candidates/point measured at the 2k-ref bench shape where ~30
    satisfy the ring guarantee).  Top-k needs no global sort: each
    point's candidate keys go into one row of a padded points ×
    candidates matrix, ``argpartition`` keeps k per row and only those
    k are sorted.  The ring-1 guarantee + straggler brute force make
    the result independent of the grid.  Ref-side trig is precomputed
    once per searcher, point-side cos once per chunk.  Refs spanning
    >180° of longitude fall back to brute force (the fitted grid does
    not wrap the antimeridian)."""
    import numpy as np

    n_refs = len(rlon)
    kk = min(k, n_refs)
    rad = math.pi / 180.0
    rcos = np.cos(np.asarray(rlat, dtype=np.float64) * rad)

    # grid fit (pure numpy on the collected dim — no Spark job)
    grid = None
    if n_refs >= 16 * kk and float(rlon.max()) - float(rlon.min()) <= 180.0:
        grid = _RefGrid(rlon, rlat, n_refs / max(_KNN_CELL_TARGET_K * kk, 8.0))
        rorder = grid.order
        rlon_s, rlat_s, rcos_s = rlon[rorder], rlat[rorder], rcos[rorder]

    def topk_grid(plon, plat, pcos):
        """Returns ((pt_rows, ref_idx, dist_m) of the resolved points,
        straggler_mask)."""
        b = len(plon)
        los, lens = grid.block(plon, plat)
        cnt = lens.sum(axis=1)
        if int(cnt.sum()) == 0:
            return None, np.ones(b, dtype=bool)
        # the block slices as one point-major pair list
        rflat = _csr(los.ravel(), lens.ravel())
        pair_ref = rorder[rflat]
        d = _hav(rlat_s[rflat], rlon_s[rflat], rcos_s[rflat],
                 np.repeat(plat, cnt), np.repeat(plon, cnt), np.repeat(pcos, cnt))
        key = np.rint(np.round(d, 3) * 1000.0).astype(np.int64) * n_refs + pair_ref
        # top-kk per point: each point's keys fill one row of a padded
        # matrix (pad = int64 max, after every real key), argpartition
        # keeps kk per row, and only those kk are sorted.  Rows go in
        # width bands so that skewed candidate counts pad at most ~2×.
        row0 = np.cumsum(cnt) - cnt
        full = cnt >= kk
        top = np.zeros((b, kk), dtype=np.int64)  # pair index of the kk nearest
        todo = np.flatnonzero(full)
        while len(todo):
            c = cnt[todo]
            w = int(c.max())
            band = c * 2 > w
            if len(todo) * w <= 4 * int(c.sum()):
                band[:] = True  # one matrix for all: padding ≤ 4× the keys
            rows, c, todo = todo[band], c[band], todo[~band]
            col = np.arange(int(c.sum())) - np.repeat(np.cumsum(c) - c, c)
            m = np.full((len(rows), w), np.iinfo(np.int64).max)
            m[np.repeat(np.arange(len(rows)), c), col] = key[np.repeat(row0[rows], c) + col]
            part = np.argpartition(m, kk - 1, axis=1)[:, :kk]
            order = np.argsort(np.take_along_axis(m, part, axis=1), axis=1)
            top[rows] = row0[rows, None] + np.take_along_axis(part, order, axis=1)
        kth_d = np.where(full, d[top[:, kk - 1]], np.inf)
        # ring-1 guarantee: every unsearched ref is ≥ one cell span
        # away in lon OR lat.  lat: d ≥ R·span_y (meridional arc is a
        # true lower bound on haversine).  lon: the linear
        # span_x·cosφ·m/deg bound OVERSHOOTS the haversine for wide
        # cells (at span_x=90°, φ=60° it reads 5.00e6 m where the true
        # minimum is 4.61e6 m), so use the exact min distance from the
        # point to the meridian band Δλ ≥ span_x — the cross-track
        # R·asin(cosφ·sin(Δλ)), flat beyond Δλ=90° where the nearest
        # unsearched point is the pole.
        sx = math.sin(min(grid.span_x, 90.0) * rad)
        gx = _R_HAV * np.arcsin(np.cos(plat * rad) * sx)
        guarantee = np.minimum(gx, _M_PER_DEG_HAV * grid.span_y)
        resolved = full & (kth_d <= guarantee)
        take = top[resolved].ravel()
        return (np.repeat(np.flatnonzero(resolved), kk), pair_ref[take], d[take]), ~resolved

    def brute(plon, plat, pcos):
        """Vectorized brute-force top-k for m stragglers (m×R)."""
        d = _hav(rlat[None, :], rlon[None, :], rcos[None, :],
                 plat[:, None], plon[:, None], pcos[:, None])
        key = (
            np.rint(np.round(d, 3) * 1000.0).astype(np.int64) * n_refs
            + np.arange(n_refs, dtype=np.int64)[None, :]
        )
        sel = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        order = np.argsort(np.take_along_axis(key, sel, axis=1), axis=1, kind="stable")
        idx = np.take_along_axis(sel, order, axis=1)
        rows = np.repeat(np.arange(len(plon)), kk)
        return rows, idx.ravel(), d[rows, idx.ravel()]

    def _search_chunk(plon, plat):
        """(pt_rows, ref_idx, dist_m, rank) for one point chunk — exact."""
        if len(plon) == 0 or n_refs == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z, np.empty(0), z
        pcos = np.cos(plat * rad)
        if grid is None:
            parts = [brute(plon, plat, pcos)]
        else:
            grid_out, straggler = topk_grid(plon, plat, pcos)
            parts = [grid_out] if grid_out is not None else []
            sidx = np.flatnonzero(straggler)
            if len(sidx):
                rows, ridx, d = brute(plon[sidx], plat[sidx], pcos[sidx])
                parts.append((sidx[rows], ridx, d))
        rows, ridx, d = (np.concatenate(cols) for cols in zip(*parts))
        return rows, ridx, d, np.tile(np.arange(1, kk + 1), len(rows) // kk)

    # Point-chunked driver: the grid pass builds a pair list (points ×
    # 3×3-block candidates) and the straggler pass an m×R distance
    # matrix — both linear in FLOPs but, over a 16k-row Arrow batch,
    # their temporaries run to hundreds of MB per task and the
    # allocator/cache churn dominates (measured 2.2× on search alone,
    # and far worse with 32 workers contending for bandwidth).  A fixed
    # ~1k-point chunk keeps every temporary cache-sized regardless of
    # the Arrow batch size the session happens to use; per-point
    # results are independent, so output rows are identical.
    CHUNK = 1024

    def search(plon, plat):
        """(pt_rows, ref_idx, dist_m, rank) for the batch — exact."""
        b = len(plon)
        if b <= CHUNK:
            return _search_chunk(plon, plat)
        parts = []
        for s in range(0, b, CHUNK):
            rows, ridx, d, rank = _search_chunk(plon[s:s + CHUNK], plat[s:s + CHUNK])
            parts.append((rows + s, ridx, d, rank))
        return tuple(np.concatenate(cols) for cols in zip(*parts))

    return search


# candidate pairs scored per numpy chunk by the range and snap
# kernels: ≈ 4 MB per float64 temporary, cache-sized whatever the
# Arrow batch or the radius
_PAIR_CHUNK = 524_288

# relative slack between the range kernel's geometric bounds and the
# float64 arithmetic that computes its cells and distances: a bound
# must clear the radius by this much before it decides a point
_RANGE_SLACK = 1e-6

# fitted cells per ref the range grid aims at when the radius allows
# cells that small
_RANGE_CELLS_PER_REF = 1.0


def range_searcher(rlon, rlat, radius_m: float):
    """Build the in-worker exact range search over a collected refs
    array: ``search(plon, plat) -> (pt_rows, ref_idx, dist_m)``, every
    (point, ref) pair with haversine ≤ ``radius_m`` (``_hav``, the
    float64 operation order of ``knn_searcher`` and the JVM path).

    Index: a ``_RefGrid`` over the refs' bbox of about
    ``_RANGE_CELLS_PER_REF``·n_refs cells, each no smaller than the
    radius needs — radius/m-per-degree of latitude, and of longitude
    the span whose cross-track distance R·asin(cosφ·sin(span)) covers
    the radius at the farthest latitude a pair can have (max |ref lat|
    + the radius).  Cells may be larger, so nx·ny stays O(n_refs)
    whatever the radius.  A point's pairs then all lie in its 3×3
    block whenever the radius is within its ring-1 guarantee (the
    bound ``knn_searcher`` uses; an axis of at most 2 cells is covered
    whole); points farther in latitude than the radius from every ref
    have no pair; any other point is scored against all refs.  Points
    are unwrapped toward the bbox centre before their cell is taken
    (distances use the given longitudes), and refs spanning more than
    180° of longitude are all brute force, as in kNN.  Work is chunked
    by candidate pairs (``_PAIR_CHUNK``), so a wide radius against a
    large dim keeps its temporaries bounded.  Null or NaN coordinates,
    on either side, match nothing."""
    rlon = np.asarray(rlon, dtype=np.float64)
    rlat = np.asarray(rlat, dtype=np.float64)
    radius = float(radius_m)
    rad = math.pi / 180.0
    live = np.flatnonzero(np.isfinite(rlon) & np.isfinite(rlat))
    vlon, vlat = rlon[live], rlat[live]
    vcos = np.cos(vlat * rad)
    n = len(live)
    z = np.empty(0, dtype=np.int64)
    if n == 0 or not radius >= 0.0:
        return lambda plon, plat: (z, z, np.empty(0))
    reach = radius * (1.0 + _RANGE_SLACK)
    lat_lo, lat_hi = float(vlat.min()), float(vlat.max())

    grid = None
    if n > 16 and float(vlon.max()) - float(vlon.min()) <= 180.0:
        need = radius * (1.0 + 2.0 * _RANGE_SLACK)
        span_y = need / _M_PER_DEG_HAV
        lat_far = min(max(-lat_lo, lat_hi) + span_y, 90.0)
        s = math.sin(min(need / _R_HAV, math.pi / 2)) / math.cos(math.radians(lat_far))
        span_x = math.degrees(math.asin(s)) if s < 1.0 else math.inf
        grid = _RefGrid(vlon, vlat, _RANGE_CELLS_PER_REF * n, span_x, span_y)
        ref_of = live[grid.order]
        slon, slat, scos = vlon[grid.order], vlat[grid.order], vcos[grid.order]
        lon_mid = grid.lon0 + grid.dlon_span / 2.0
        sx = math.sin(min(grid.span_x, 90.0) * rad)
        gy = math.inf if grid.ny <= 2 else _M_PER_DEG_HAV * grid.span_y

    def guaranteed(plat):
        """Whether each point's 3×3 block provably holds every ref
        within the radius (an axis of ≤ 2 cells is searched whole)."""
        if grid.nx <= 2:
            return np.full(len(plat), gy >= reach)
        gx = _R_HAV * np.arcsin(np.cos(plat * rad) * sx)
        return np.minimum(gx, gy) >= reach

    def grid_pass(plon, plat, idx, out):
        ulon = plon[idx] - 360.0 * np.round((plon[idx] - lon_mid) / 360.0)
        los, lens = grid.block(ulon, plat[idx])
        cnt = lens.sum(axis=1)
        end = np.cumsum(cnt)
        pcos = np.cos(plat[idx] * rad)
        s = 0
        while s < len(idx):
            e = max(int(np.searchsorted(end, end[s] - cnt[s] + _PAIR_CHUNK, "right")), s + 1)
            rflat = _csr(los[s:e].ravel(), lens[s:e].ravel())
            rows = np.repeat(np.arange(s, e), cnt[s:e])
            d = _hav(slat[rflat], slon[rflat], scos[rflat],
                     plat[idx[rows]], plon[idx[rows]], pcos[rows])
            keep = d <= radius
            out.append((idx[rows[keep]], ref_of[rflat[keep]], d[keep]))
            s = e

    def brute_pass(plon, plat, idx, out):
        step = max(1, _PAIR_CHUNK // n)
        for s in range(0, len(idx), step):
            q = idx[s:s + step]
            d = _hav(vlat[None, :], vlon[None, :], vcos[None, :], plat[q, None],
                     plon[q, None], np.cos(plat[q] * rad)[:, None])
            i, j = np.nonzero(d <= radius)
            out.append((q[i], live[j], d[i, j]))

    def search(plon, plat):
        """(pt_rows, ref_idx, dist_m) for the batch — exact."""
        plon = np.asarray(plon, dtype=np.float64)
        plat = np.asarray(plat, dtype=np.float64)
        idx = np.flatnonzero(np.isfinite(plon) & np.isfinite(plat))
        # the meridional arc lower-bounds haversine
        py = plat[idx]
        idx = idx[((py - lat_hi) * _M_PER_DEG_HAV <= reach)
                  & ((lat_lo - py) * _M_PER_DEG_HAV <= reach)]
        out = [(z, z, np.empty(0))]
        if grid is not None:
            ok = guaranteed(plat[idx])
            grid_pass(plon, plat, idx[ok], out)
            idx = idx[~ok]
        brute_pass(plon, plat, idx, out)
        return tuple(np.concatenate(cols) for cols in zip(*out))

    return search


def knn_join(
    points: DataFrame,
    refs: DataFrame,
    k: int,
    point_id: str = "image_id",
    ref_id: str = "ref_id",
    lon: str = "lon",
    lat: str = "lat",
    ref_lon: str = "lon",
    ref_lat: str = "lat",
) -> DataFrame:
    """Exact k-nearest-neighbor join.  Output: point columns + (ref_id,
    the refs' other columns, dist_m, rank 1..k), ranked by (mm-rounded
    haversine, ref_id).

    The path follows the size of the refs, learned by one
    probe-and-collect (``_collect_dim``): at most ``_KNN_NP_MAX_REFS``
    rows run the shuffle-free numpy grid index (``knn_join_np``) on the
    collected frame; larger refs run the quadtree escalation join
    (``_knn_join_grid``) from the zoom ``pick_knn_zoom`` fits to them.
    Both paths are exact with the same tie order.  A ref column named
    like a point column raises ``ValueError`` on both.
    """
    _ref_extras(points, refs, ref_id, ref_lon, ref_lat, ["dist_m", "rank"])
    ref_pd = _collect_dim(refs, _KNN_NP_MAX_REFS)
    if ref_pd is not None:
        return knn_join_np(points, refs, ref_pd, k, point_id, ref_id,
                           lon, lat, ref_lon, ref_lat)
    zoom = pick_knn_zoom(refs, k, ref_lon, ref_lat)
    return _knn_join_grid(points, refs, k, zoom, point_id, ref_id,
                          lon, lat, ref_lon, ref_lat)


def _knn_join_grid(points: DataFrame, refs: DataFrame, k: int, zoom: int,
                   point_id: str = "image_id", ref_id: str = "ref_id",
                   lon: str = "lon", lat: str = "lat",
                   ref_lon: str = "lon", ref_lat: str = "lat") -> DataFrame:
    """Exact kNN grid join with quadtree zoom escalation (refs above
    the numpy gate).

    Round r searches the 3×3 neighbor block at zoom ``zoom - r`` — the
    hierarchical cell id makes coarsening pure bit arithmetic, so each
    round quadruples the search radius with a constant-size (9-cell)
    block instead of an exploding (2r+1)² ring.  Distances use native
    haversine (gis.go:195-206); per-point top-k via window with
    (mm-rounded dist, ref_id) deterministic ordering.

    A point RESOLVES when it has ≥ k candidates AND its k-th distance is
    ≤ the round's guaranteed-covered radius — provably equal to brute
    force.  At zoom 0 the block covers the whole world → termination and
    exactness are unconditional (≤ zoom+1 rounds).  ``remaining`` is
    localCheckpoint'ed per round to keep the plan lineage flat.  The
    refs carry no broadcast hint: this path serves refs too large for
    the numpy gate, so AQE picks each round's join from runtime sizes.
    """
    brute_budget = 50_000_000  # straggler pairs worth one brute-force join
    refs_c, extras = _refs_with_cell(refs, native.cell, zoom, ref_id, ref_lon, ref_lat)

    pts = with_cell(points, zoom, lon, lat, out="_pcell")

    # materialize the input ONCE: the escalation loop (and the final
    # union) would otherwise re-execute the full upstream DAG — decode
    # UDFs, joins — once per round
    remaining = pts.localCheckpoint()
    n_remaining = remaining.count()
    n_refs: int | None = None
    resolved_parts: list[DataFrame] = []
    point_cols = [c for c in points.columns]
    out_cols = point_cols + [ref_id] + extras + ["dist_m", "rank"]
    w = Window.partitionBy(point_id).orderBy(
        F.round(F.col("dist_m"), 3).asc(), F.col(ref_id).asc()
    )
    for zoom_r in range(zoom, -1, -1):
        if n_remaining == 0:
            break
        # straggler cutoff: once remaining×refs fits one join, brute-
        # force the tail exactly instead of walking zoom levels —
        # collapses the long escalation tail into a single stage
        if n_refs is None:
            n_refs = refs_c.count()
        if zoom_r == 0 or n_remaining * n_refs <= brute_budget:
            cand = remaining.join(refs_c, F.lit(True), "inner").withColumn(
                "dist_m",
                native.haversine_m(F.col(lon), F.col(lat), F.col("_rlon"), F.col("_rlat")),
            )
            topk = (
                cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
            )
            resolved_parts.append(topk.select(*out_cols))
            break
        cand = (
            _explode_neighbors(
                remaining,
                native.cell_parent(F.col("_pcell"), zoom, zoom_r),
                zoom_r,
                1,
            )
            .join(
                refs_c,
                F.col("_ncell") == native.cell_parent(F.col("_rcell"), zoom, zoom_r),
                "inner",
            )
            .withColumn(
                "dist_m",
                native.haversine_m(F.col(lon), F.col(lat), F.col("_rlon"), F.col("_rlat")),
            )
        )
        # _kth is null iff the point has < k candidates, so one window
        # column does both the completeness and the guarantee check
        kth = F.max(F.when(F.col("rank") == k, F.col("dist_m"))).over(
            Window.partitionBy(point_id)
        )
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("_kth", kth)
        )
        # checkpoint the round's resolved rows: they're consumed twice
        # (anti-join ids + final union) — without this every round's
        # window re-executes at the final action
        done = topk.filter(
            F.col("_kth") <= _ring_guarantee_expr(F.col(lat), zoom_r, 1)
        ).select(*out_cols).localCheckpoint()
        resolved_parts.append(done)
        done_ids = done.select(point_id).distinct()
        remaining = remaining.join(done_ids, on=point_id, how="left_anti").localCheckpoint()
        n_remaining = remaining.count()

    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out


# ring distance_join and the snap / HMM cell paths size their zoom
# for: a sweep of distance_join over rings 1–6 at 5, 50 and 500 km
# radii (local[4], 4 vCPUs) found ring 3 at or near the fastest every
# time
_RANGE_RING = 3


def distance_join(
    points: DataFrame,
    refs: DataFrame,
    radius_m: float,
    point_id: str = "image_id",
    ref_id: str = "ref_id",
    lon: str = "lon",
    lat: str = "lat",
    ref_lon: str = "lon",
    ref_lat: str = "lat",
) -> DataFrame:
    """All (point, ref) pairs with haversine ≤ radius_m, exact at any
    latitude.  Output: point columns + (ref_id, the refs' other
    columns, dist_m).

    The path follows the size of the refs, learned by the probe-and-
    collect ``knn_join`` uses (``_collect_dim``, the same gate).  At
    most ``_KNN_NP_MAX_REFS`` refs ship once per executor and ONE
    ``mapInPandas`` pass runs ``range_searcher`` per Arrow batch: a
    grid fitted to the refs with cells no smaller than the radius
    needs, each point's 3×3 block scored with ``knn_searcher``'s
    haversine, and brute force for the points the block cannot prove
    complete — no explode, no join, no shuffle.  Larger refs take the
    equi-join: the zoom comes from the radius and the refs
    (``_zoom_ring``), points explode to the ring of neighbor
    cells that provably holds every ref within the radius, equi-join
    the broadcast refs on cell (``_grid_cell``, defined at every
    coordinate), and keep the pairs whose JVM-native haversine is ≤
    radius_m.  Both paths give the same pairs; ``dist_m`` agrees to the
    last ulp of the trig (numpy and the JVM round some sines apart).
    Null or NaN coordinates match nothing.  A ref column named like a
    point column raises ``ValueError``.
    """
    extras = _ref_extras(points, refs, ref_id, ref_lon, ref_lat, ["dist_m"])
    ref_pd = _collect_dim(refs, _KNN_NP_MAX_REFS)
    if ref_pd is not None:
        import pandas as pd

        rid, rlon, rlat, rextra, _ = _refs_arrays(ref_pd, ref_id, ref_lon, ref_lat)
        bc = points.sparkSession.sparkContext.broadcast(
            (rlon, rlat, {ref_id: rid, **rextra}))

        def range_batches(it):
            rlon_b, rlat_b, cols_b = bc.value
            search = range_searcher(rlon_b, rlat_b, radius_m)
            for pdf in it:
                rows, ridx, d = search(pdf[lon].to_numpy(np.float64),
                                       pdf[lat].to_numpy(np.float64))
                if len(rows):
                    data = _gather(pdf, rows, cols_b, ridx)
                    data["dist_m"] = d
                    yield pd.DataFrame(data)

        return spread(points).mapInPandas(
            range_batches, schema=_ref_join_schema(points, refs, ref_id, extras))

    zoom, ring, _ = _zoom_ring(refs, [ref_lat], radius_m, radius_m, _RANGE_RING)
    refs_c, _extras = _refs_with_cell(refs, _grid_cell, zoom, ref_id, ref_lon, ref_lat)
    # the (2r+1)²-way explode inherits the scan's split count
    pts = spread(points).withColumn(
        "_pcell", _grid_cell(F.col(lon), F.col(lat), zoom))
    return (
        _explode_neighbors(pts, F.col("_pcell"), zoom, ring)
        .join(F.broadcast(refs_c), F.col("_ncell") == F.col("_rcell"), "inner")
        .withColumn(
            "dist_m",
            native.haversine_m(F.col(lon), F.col(lat), F.col("_rlon"), F.col("_rlat")),
        )
        .filter(F.col("dist_m") <= radius_m)
        .drop("_ncell", "_rcell", "_rlon", "_rlat", "_pcell")
    )


# ---------------------------------------------------------------------------


def salt_hot_cells(
    points: DataFrame,
    dim: DataFrame,
    salt: int = 8,
    hot_threshold: int | None = None,
    cell_col: str = "cell",
    id_col: str = "image_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Explicit skew handling for cell equi-joins (north rule).

    1. Histogram the fact side's cell key (map-side combined count).
    2. Cells above ``hot_threshold`` (default: 20× the mean) are HOT.
    3. Fact rows in hot cells get ``_salt = pmod(hash(id), salt)``;
       others get 0.
    4. Dim rows for hot cells are exploded ×salt; others keep salt 0.

    Returns (salted_points, salted_dim, hot_cells_df) — join the first
    two on the COMPOSITE key ``[cell, _salt]`` (packing cell and salt
    into one int64 would overflow: zoom bits occupy 58-62).  AQE's
    skew-join handles moderate skew on its own; this targets the
    pathological urban-cell head where one key exceeds a task.
    """
    hist = points.groupBy(cell_col).count()
    if hot_threshold is None:
        stats = hist.agg(F.avg("count").alias("avg")).collect()[0]
        hot_threshold = max(int((stats["avg"] or 0) * 20), 1000)
    hot = hist.filter(F.col("count") >= hot_threshold).select(
        cell_col, F.lit(True).alias("_hot")
    )
    pts = (
        points.join(F.broadcast(hot), on=cell_col, how="left")
        .withColumn(
            "_salt",
            F.when(F.col("_hot").isNotNull(),
                   F.pmod(F.hash(F.col(id_col)), F.lit(salt)).cast("long"))
            .otherwise(F.lit(0).cast("long")),
        )
        .drop("_hot")
    )
    dim_salted = (
        dim.join(F.broadcast(hot), on=cell_col, how="left")
        .withColumn(
            "_salt",
            F.explode(
                F.when(
                    F.col("_hot").isNotNull(),
                    F.array(*[F.lit(s).cast("long") for s in range(salt)]),
                ).otherwise(F.array(F.lit(0).cast("long")))
            ),
        )
        .drop("_hot")
    )
    return pts, dim_salted, hot


# ------------------------------------------------- clipped PiP (scale path)


def clip_polygons_to_cells(
    polygons: DataFrame,
    zoom: int,
    wkt: str = "wkt",
    frag: str = "frag_wkt",
) -> DataFrame:
    """Clip every polygon to each of its covering cells (Sutherland-
    Hodgman, kernels/geometry.clip_ring_bbox) → one (cell, fragment)
    row per non-empty intersection; all non-wkt columns pass through.

    Two properties make this the 100-TB polygon-join path:

    * cells whose bbox intersects but whose polygon doesn't DROP here
      (the plain cover keeps them and pays refine on their points);
    * each fragment carries only the edges near its tile, so the
      downstream ray-cast is O(edges in tile) per candidate instead of
      O(edges in polygon) — refine cost becomes independent of source
      polygon complexity (a 100k-vertex coastline refines as cheaply
      as a triangle).

    Runs as one ``mapInPandas`` over the polygon dim (dim-scale: output
    rows ≈ Σ polygon-area/tile-area).  Per polygon the clip DESCENDS a
    quadtree from the coarsest zoom whose bbox cover is ≤ 4 cells:
    each level clips the parent's already-clipped fragments (child ⊂
    parent ⇒ identical result), so a complex boundary pays its full
    edge count only at the top levels — O(E·log cells + Σ fragment
    edges) instead of O(E × cells), and empty branches prune whole
    subtrees.  Measured, 20k-vertex ring × 800k points at zoom 9:
    per-cell full clip 34s → descent 2.5s; the unclipped
    point_in_polygon_join takes 406s on the same input (BENCH.md).
    """
    import pandas as pd
    from pyspark.sql import types as T

    from xutil_spark.kernels import geometry as K_geom
    from xutil_spark.kernels import tiles as K_tiles

    keep = [f for f in polygons.schema.fields if f.name != wkt]
    keep_names = [f.name for f in keep]
    schema = T.StructType(keep + [
        T.StructField("cell", T.LongType(), False),
        T.StructField(frag, T.StringType(), False),
    ])

    def descend(rings, x, y, z, out):
        w_, s_, e_, n_ = (float(v) for v in K_tiles.cell_bounds(
            K_tiles.cell_pack(x, y, z)))
        sub = []
        for r in rings:
            c = K_geom.clip_ring_bbox(r, w_, s_, e_, n_)
            if c.shape[0] >= 3:
                sub.append(c)
        if not sub:
            return
        if z == zoom:
            out.append((int(K_tiles.cell_pack(x, y, z)), sub))
            return
        for dx in (0, 1):
            for dy in (0, 1):
                descend(sub, 2 * x + dx, 2 * y + dy, z + 1, out)

    def run(batches):
        for b in batches:
            rows: dict = {k: [] for k in keep_names}
            cells: list = []
            frs: list = []
            for r in b.to_dict("records"):
                g = K_geom.from_wkt(r[wkt])
                all_rings = [rg for poly in K_geom.polygon_rings(g)
                             for rg in poly]
                # coarsest ancestor level with a <=4-cell bbox cover, so
                # the expensive full-edge clips happen at most ~4x per
                # level.  The level is derived from the corner tile
                # coords at the TARGET zoom by binary shifts (tile x at
                # z = tile x at zoom >> (zoom-z)) — materializing the
                # full covering list per candidate level would allocate
                # O(cells) (10^5-10^6 for a country at z12) just to
                # take len().
                minx, miny, maxx, maxy = K_geom.geo_box(g)
                cl = 85.05112878
                n_ax = 1 << zoom
                tx1, ty1 = K_tiles.wgs2tile(
                    np.float64(minx), np.float64(max(min(maxy, cl), -cl)),
                    zoom)
                tx2, ty2 = K_tiles.wgs2tile(
                    np.float64(maxx), np.float64(max(min(miny, cl), -cl)),
                    zoom)
                tx1 = int(np.clip(tx1, 0, n_ax - 1))
                tx2 = int(np.clip(tx2, 0, n_ax - 1))
                ty1 = int(np.clip(ty1, 0, n_ax - 1))
                ty2 = int(np.clip(ty2, 0, n_ax - 1))
                z0 = zoom
                while z0 > 0:
                    sh = zoom - z0
                    cnt = (((tx2 >> sh) - (tx1 >> sh) + 1)
                           * ((ty2 >> sh) - (ty1 >> sh) + 1))
                    if cnt <= 4:
                        break
                    z0 -= 1
                frags: list = []
                for cell in K_geom.covering_cells(g, z0):
                    x, y, _ = (int(v) for v in K_tiles.cell_decode(cell))
                    descend(all_rings, x, y, z0, frags)
                for cell, rings in frags:
                    fw = K_geom.to_wkt({
                        "type": "Polygon",
                        "coords": [[rg.tolist() for rg in rings]],
                    })
                    for k in keep_names:
                        rows[k].append(r[k])
                    cells.append(cell)
                    frs.append(fw)
            out = pd.DataFrame(rows) if rows else pd.DataFrame(index=range(len(cells)))
            out["cell"] = pd.Series(cells, dtype="int64")
            out[frag] = frs
            yield out[keep_names + ["cell", frag]]

    return polygons.mapInPandas(run, schema=schema)


def clipped_pip_join(
    points: DataFrame,
    polygons: DataFrame,
    zoom: int = 12,
    poly_id: str = "poly_id",
    wkt: str = "wkt",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Point-in-polygon join over PRE-CLIPPED per-cell fragments — same
    result set as ``point_in_polygon_join`` (up to points lying exactly
    on tile boundaries, a measure-zero set the property tests avoid),
    with two scale wins: empty-intersection cells never reach the
    points, and refine is O(fragment edges).  Prefer this over the
    plain cover when polygons are complex (many vertices) or much
    larger than a tile; the plain path wins for small simple polygons
    where clipping overhead dominates.  The fragment dim is always
    broadcast.
    """
    frags = clip_polygons_to_cells(polygons, zoom, wkt=wkt)
    pts = with_cell(points, zoom, lon, lat)
    cand = pts.join(F.broadcast(frags), on="cell", how="inner")
    refine = _pip_refine_udf()
    return (
        cand.filter(refine(F.col(lon), F.col(lat), F.col("frag_wkt")))
        .drop("cell", "frag_wkt")
    )


# ---------------------------------------------------------------------------
# point → segment snap (map-matching primitive)

# meters per degree of latitude under the engine's R=6371000 sphere
# (π/180 × R) — the same radius as kernels.distance.R_EARTH.  The snap
# metric is the local equirectangular plane at the POINT's latitude:
# x = Δlon·K·cos(lat_p), y = Δlat·K.  Within a snap radius of ≤ ~100 km
# it agrees with haversine to ≪1%, and crucially it makes the clamped
# point-to-segment projection a closed-form column expression on both
# the Spark and the oracle side (no iterative geodesic).
_M_PER_DEG = 111194.92664455873


def _segments_with_cells(segments: DataFrame, zoom: int, seg_id: str,
                         ax: str, ay: str, bx: str, by: str,
                         extra: tuple = ()) -> DataFrame:
    """Explode the (dim-scale) segment table to its exact supercover
    cells at ``zoom`` (kernels.tiles.segment_cells — every tile the
    segment touches, no sampling gaps).  One mapInPandas over the dim;
    output rows ≈ Σ segment-length / tile-size.  ``extra`` names
    passthrough columns replicated onto every cover row (kept under
    their own names)."""
    import pandas as pd
    from pyspark.sql import types as T

    from xutil_spark.kernels import tiles as K_tiles

    out_schema = T.StructType([
        T.StructField("_sid", segments.schema[seg_id].dataType, False),
        T.StructField("_sax", T.DoubleType(), False),
        T.StructField("_say", T.DoubleType(), False),
        T.StructField("_sbx", T.DoubleType(), False),
        T.StructField("_sby", T.DoubleType(), False),
        T.StructField("_scell", T.LongType(), False),
        *[segments.schema[c] for c in extra],
    ])

    src = segments.select(
        F.col(seg_id).alias("_sid"),
        F.col(ax).cast("double").alias("_sax"),
        F.col(ay).cast("double").alias("_say"),
        F.col(bx).cast("double").alias("_sbx"),
        F.col(by).cast("double").alias("_sby"),
        *extra,
    )
    # road tables often arrive in 1-2 partitions; the per-segment python
    # cover loop is the cost, so spread it before exploding
    src = spread(src)

    def run(batches):
        for b in batches:
            sids, axs, ays, bxs, bys, cells = [], [], [], [], [], []
            reps = []  # per-input-row cover sizes, for extra replication
            # name=None: itertuples would mangle the _-prefixed columns
            cols = ["_sid", "_sax", "_say", "_sbx", "_sby"]
            for sid, sax, say, sbx, sby in b[cols].itertuples(
                    index=False, name=None):
                n0 = len(cells)
                for c in K_tiles.segment_cells(sax, say, sbx, sby, zoom):
                    sids.append(sid)
                    axs.append(sax); ays.append(say)
                    bxs.append(sbx); bys.append(sby)
                    cells.append(int(c))
                reps.append(len(cells) - n0)
            out = pd.DataFrame({
                "_sid": sids, "_sax": axs, "_say": ays,
                "_sbx": bxs, "_sby": bys, "_scell": cells,
            }).astype({"_scell": "int64"})
            for c in extra:
                out[c] = np.repeat(b[c].to_numpy(), reps)
            yield out

    return src.mapInPandas(run, out_schema)


# largest segment count whose exploded supercover is still safely
# broadcastable (~500k segs × ~3 cells × ~60 B ≈ 90 MB)
_BCAST_MAX_SEGS = 500_000


def _ring_cover(segments: DataFrame, radius_m: float, ay: str,
                by: str) -> tuple[int, int, int]:
    """``(zoom, ring, rows)`` of a snap cell path (``_zoom_ring`` over
    the segments): the ring guarantee covers ``radius_m`` with the 5%
    equirectangular margin up to max(|ay|, |by|) + the radius — a
    point beyond that is more than the radius of latitude from every
    segment, so it has no match to lose."""
    return _zoom_ring(segments, [ay, by], radius_m * 1.05, radius_m,
                      _RANGE_RING)


def _ring_candidates(points: DataFrame, segments: DataFrame,
                     cover: tuple[int, int, int], seg_id: str, lon: str,
                     lat: str, ax: str, ay: str, bx: str, by: str) -> DataFrame:
    """(point, segment) candidate pairs of a snap cell path: each
    point's ring of cells at the ``cover`` from ``_ring_cover``
    equi-joined to the segments' exact supercover.  The supercover
    broadcasts only when provably dim-sized: it must fit the driver and
    every executor, so a network over ``_BCAST_MAX_SEGS`` segments
    (e.g. 10^7 roads) takes the shuffle join instead."""
    zoom, ring, n_segs = cover
    segs = _segments_with_cells(segments, zoom, seg_id, ax, ay, bx, by)
    if n_segs <= _BCAST_MAX_SEGS:
        segs = F.broadcast(segs)
    pc = points.withColumn("_ccell", _grid_cell(F.col(lon), F.col(lat), zoom))
    return (_explode_neighbors(pc, F.col("_ccell"), zoom, ring, out="_cncell")
            .join(segs, F.col("_cncell") == F.col("_scell"), "inner"))


def _snap_projection(lon: str, lat: str) -> tuple[Column, Column, Column, Column]:
    """``(t, dist_m, snap_lon, snap_lat)``, unrounded, of the closed-form
    clamped equirectangular projection of the point ``(lon, lat)`` onto
    the candidate segment ``(_sax, _say)–(_sbx, _sby)`` — the one
    Catalyst form of the snap metric (pure column arithmetic,
    codegen'd).  ``_snap_candidates_np`` is its numpy twin."""
    k = F.lit(_M_PER_DEG)
    kx = k * F.cos(F.radians(F.col(lat)))
    axm = (F.col("_sax") - F.col(lon)) * kx
    aym = (F.col("_say") - F.col(lat)) * k
    bxm = (F.col("_sbx") - F.col(lon)) * kx
    bym = (F.col("_sby") - F.col(lat)) * k
    ux = bxm - axm
    uy = bym - aym
    len2 = ux * ux + uy * uy
    t = F.when(len2 == 0.0, F.lit(0.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), -(axm * ux + aym * uy) / len2))
    )
    qx = axm + t * ux
    qy = aym + t * uy
    return (t, F.sqrt(qx * qx + qy * qy),
            F.col(lon) + (qx / kx), F.col(lat) + (qy / k))


def _snap_best(cand: DataFrame, point_id: str, seg_id: str,
               lon: str, lat: str) -> DataFrame:
    """Score candidate (point, segment) pairs with ``_snap_projection``
    and keep each point's winner via ONE ``min(struct(...))``
    aggregation keyed by (dist rounded to mm, seg_id) for a
    deterministic tie-break.  No Python in the per-pair hot path.  No
    radius filter here: callers need the unconditioned minimum for the
    per-point guarantee test."""
    t, dist, snap_lon, snap_lat = _snap_projection(lon, lat)
    return cand.groupBy(point_id).agg(F.min(F.struct(
        F.round(dist, 3).alias("dist_m"),
        F.col("_sid").alias(seg_id),
        F.col(lon).alias(lon),
        F.col(lat).alias(lat),
        F.round(t, 6).alias("t"),
        F.round(snap_lon, 6).alias("snap_lon"),
        F.round(snap_lat, 6).alias("snap_lat"),
    )).alias("_w"))


def _snap_emit(best: DataFrame, point_id: str, seg_id: str,
               lon: str, lat: str, radius_m: float) -> DataFrame:
    """Unpack a ``_snap_best`` winner struct, applying the inner-join
    radius semantics (points whose nearest segment is beyond the radius
    drop out)."""
    return best.filter(F.col("_w.dist_m") <= F.lit(float(radius_m))).select(
        point_id,
        F.col(f"_w.{seg_id}").alias(seg_id),
        F.col("_w.lon").alias(lon),
        F.col("_w.lat").alias(lat),
        F.col("_w.dist_m").alias("dist_m"),
        F.col("_w.t").alias("t"),
        F.col("_w.snap_lon").alias("snap_lon"),
        F.col("_w.snap_lat").alias("snap_lat"),
    )


# the fine snap levels' supercover row budget (the fine dim is
# broadcast, so it must stay dim-scale).  Measured at sf0.1, 457k
# points × 875 long segments: the fine dim's build-and-broadcast cost
# grows linearly with its row count while the extra points resolved by
# one more zoom level saturate — a ~1.35M-row z13 first level ran
# 14.6s against 11.4s for the ~680k-row z12 one, identical output.
# 750k keeps the first level at the measured knee (~35 MB broadcast).
_SNAP_FINE_BUDGET_ROWS = 750_000


def pick_snap_fine_zoom(segments: DataFrame, coarse_zoom: int,
                        ax: str = "ax", ay: str = "ay",
                        bx: str = "bx", by: str = "by") -> int:
    """Choose the fine-pass zoom for the escalated snap join: the
    FINEST zoom whose estimated supercover row count stays within
    ``_SNAP_FINE_BUDGET_ROWS``.  Supercover size per segment ≈
    |Δx_tiles| + |Δy_tiles| + 1, so the total is (Σ(|Δlon|+|Δlat|)) /
    tile_span + n — ONE tiny aggregation over the (dim-scale) segment
    table.  Returns ``coarse_zoom`` when even one level finer would
    blow the budget (caller then skips escalation)."""
    row = segments.agg(
        F.sum(F.abs(F.col(ax) - F.col(bx)) + F.abs(F.col(ay) - F.col(by))).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    s = float(row["s"] or 0.0)
    n = int(row["n"] or 0)
    for z in range(_PICK_MAX_ZOOM, coarse_zoom, -1):
        if s / (360.0 / 2 ** z) + n <= _SNAP_FINE_BUDGET_ROWS:
            return z
    return coarse_zoom


def _snap_candidates_np(points: DataFrame, segments: DataFrame, seg_pd,
                        radius_m: float, k: int, point_id: str, seg_id: str,
                        lon: str, lat: str, extra_cols: tuple = (),
                        spread_input: bool = True) -> DataFrame:
    """The numpy snap scorer: top-``k`` segments within ``radius_m`` of
    each point against a **dim-sized** network with ZERO shuffles —
    ``(point_id, [extra_cols...], lon, lat, seg_id, dist_m, t,
    snap_lon, snap_lat, rank)``.  ``snap_to_segments`` is its k=1 case.

    ``seg_pd`` is the collected network (columns seg_id, ax, ay, bx, by
    in that order); ``segments`` only supplies the seg_id type.  The
    id-sorted segments ship once per worker via ``sc.broadcast``; ONE
    ``mapInPandas`` scores every (point, segment) pair with
    ``_snap_projection``'s formula in cache-sized chunks — exhaustive,
    so exact with no ring guarantee.  Rank order is the cell paths'
    (round(dist, 3), seg_id) over the id-sorted columns: an ``argmin``
    at k=1 (first minimum = smallest id), else a composite int64 key
    (mm · n_segs + column) cut with ``argpartition`` — O(segments) per
    row, no full sort — and only the k survivors sorted.  The radius
    filter applies to the ROUNDED distance, as on the cell paths.

    ``spread_input=False`` skips the small-scan rebalance and its
    partition probe (which would force AQE to run an upstream shuffle
    once extra) for callers that pre-spread the points themselves.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from xutil_spark.kernels.rounding import round_half_away

    seg_pd = seg_pd.sort_values(seg_pd.columns[0], kind="stable")
    coords = (seg_pd.iloc[:, j].to_numpy(np.float64) for j in range(1, 5))
    bc = points.sparkSession.sparkContext.broadcast(
        (seg_pd.iloc[:, 0].to_numpy(), *coords))

    out_schema = T.StructType([
        points.schema[point_id],
        *[points.schema[c] for c in extra_cols],
        T.StructField(lon, T.DoubleType(), True),
        T.StructField(lat, T.DoubleType(), True),
        T.StructField(seg_id, segments.schema[seg_id].dataType, True),
        T.StructField("dist_m", T.DoubleType(), True),
        T.StructField("t", T.DoubleType(), True),
        T.StructField("snap_lon", T.DoubleType(), True),
        T.StructField("snap_lat", T.DoubleType(), True),
        T.StructField("rank", T.IntegerType(), True),
    ])
    kc = _M_PER_DEG
    radius = float(radius_m)

    def run(it):
        sid, sax, say, sbx, sby = bc.value
        ns = len(sid)
        if ns == 0:
            return
        kk = min(int(k), ns)
        col = np.arange(ns, dtype=np.int64)
        chunk = max(1, _PAIR_CHUNK // ns)
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            plon = pdf[lon].to_numpy(np.float64)
            plat = pdf[lat].to_numpy(np.float64)
            parts = []
            for s in range(0, n, chunk):
                e = min(n, s + chunk)
                lo = plon[s:e, None]
                la = plat[s:e, None]
                kx = kc * np.cos(np.radians(la))
                axm = (sax[None, :] - lo) * kx
                aym = (say[None, :] - la) * kc
                uxm = (sbx[None, :] - lo) * kx - axm
                uym = (sby[None, :] - la) * kc - aym
                len2 = uxm * uxm + uym * uym
                with np.errstate(invalid="ignore", divide="ignore"):
                    t = np.clip(-(axm * uxm + aym * uym) / len2, 0.0, 1.0)
                t = np.where(len2 == 0.0, 0.0, t)
                qx = axm + t * uxm
                qy = aym + t * uym
                dist_r = round_half_away(np.sqrt(qx * qx + qy * qy), 3)
                if kk == 1:  # first minimum = smallest seg_id among ties
                    order = np.argmin(dist_r, axis=1)[:, None]
                else:
                    key = np.rint(dist_r * 1000.0).astype(np.int64) * ns + col
                    sel = np.argpartition(key, kk - 1, axis=1)[:, :kk]
                    order = np.take_along_axis(sel, np.argsort(
                        np.take_along_axis(key, sel, axis=1), axis=1), axis=1)
                rows = np.arange(e - s)[:, None]
                dk = dist_r[rows, order]
                keep = dk <= radius              # (chunk, kk) mask
                if not keep.any():
                    continue
                ri, rj = np.nonzero(keep)        # row, rank index
                jj = order[ri, rj]
                kxk = kx[ri, 0]
                parts.append(pd.DataFrame({
                    point_id: pdf[point_id].to_numpy()[s:e][ri],
                    **{c: pdf[c].to_numpy()[s:e][ri] for c in extra_cols},
                    lon: plon[s:e][ri],
                    lat: plat[s:e][ri],
                    seg_id: sid[jj],
                    "dist_m": dk[ri, rj],
                    "t": round_half_away(t[ri, jj], 6),
                    "snap_lon": round_half_away(
                        plon[s:e][ri] + qx[ri, jj] / kxk, 6),
                    "snap_lat": round_half_away(
                        plat[s:e][ri] + qy[ri, jj] / kc, 6),
                    "rank": (rj + 1).astype(np.int32),
                }))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    src = spread(points) if spread_input else points
    return src.mapInPandas(run, out_schema)


# segment tables at or below this many rows snap through the numpy
# scorer (points × segments brute force beats the zoom cascade there)
_SNAP_NP_MAX_SEGS = 4096


def snap_to_segments(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    point_id: str = "pid",
    seg_id: str = "seg_id",
    lon: str = "lon",
    lat: str = "lat",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    spread_input: bool = True,
) -> DataFrame:
    """Snap each point to its nearest segment within ``radius_m`` — the
    map-matching primitive (point → road).  Inner semantics: points
    with no segment inside the radius are absent from the output.
    Winner: min by (round(dist, 3), seg_id), then the radius filter on
    the rounded distance.

    The path follows the size of the network, learned by one
    probe-and-collect (``_collect_dim``): at most ``_SNAP_NP_MAX_SEGS``
    segments run the numpy scorer at k=1 (``_snap_candidates_np`` — one
    embarrassingly-parallel pass, no shuffle; ``spread_input`` is its
    rebalance switch); larger networks run the escalating zoom cascade
    below in ONE DAG (one localCheckpoint, no per-round driver
    actions).  Both emit the same rows.

    1. **Fine levels** (from the top picked by ``pick_snap_fine_zoom``,
       so the finest supercover dim stays broadcast-sized, down to the
       coarse zoom, step −3): at each level, segments explode to
       their exact supercover cells and the still-unresolved
       points search only their ring-1 block (9 cells).  A point's
       winner is FINAL when its distance ≤ per-point ring guarantee
       / 1.05: any segment not touching the block has every point in
       unsearched cells, i.e. haversine ≥ guarantee, hence equirect ≥
       guarantee/1.05 ≥ the found minimum (the 5% margin covers the
       equirectangular-vs-haversine divergence for scales ≤ ~200 km).
       A resolved point whose minimum exceeds the radius is proven
       matchless and drops.  Each −3 step multiplies the guarantee
       radius ×8, so the unresolved tail shrinks geometrically while
       candidate fan-in stays ~constant (coarser cells hold more
       segments but far fewer points reach them).
    2. **Coarse pass** — the full-radius join at the zoom and ring
       ``_ring_cover`` derives from the radius and the segments' max
       |lat| (static guarantee ≥ 1.05 × radius for every point that
       can match) — runs only on the final stragglers.  Its supercover
       dim broadcasts unless the network is over ``_BCAST_MAX_SEGS``
       segments (``_ring_candidates``).

    When no zoom finer than the coarse one fits the budget, the
    coarse pass runs alone.

    Returns: point_id, seg_id, lon, lat, dist_m (3 dp), t (position
    along the segment in [0,1]), snap_lon, snap_lat.

    100-TB shape: fact side = 1 cell encode + ring-1 explode + 1
    broadcast join + 1 shuffle (per-point min); only stragglers (points
    far from every road) pay the radius-sized ring explode.  Skew: hot
    cells fall under AQE skew-join; ``salt_hot_cells`` composes if
    needed.
    """
    seg_pd = _collect_dim(segments.select(seg_id, ax, ay, bx, by),
                          _SNAP_NP_MAX_SEGS)
    if seg_pd is not None:
        return _snap_candidates_np(
            points, segments, seg_pd, radius_m, 1, point_id, seg_id,
            lon, lat, spread_input=spread_input,
        ).select(point_id, seg_id, lon, lat,
                 "dist_m", "t", "snap_lon", "snap_lat")

    cover = _ring_cover(segments, radius_m, ay, by)
    zoom = cover[0]
    fine_zoom = pick_snap_fine_zoom(segments, zoom, ax, ay, bx, by)
    src = spread(points)

    def coarse(pts_df: DataFrame) -> DataFrame:
        cand = _ring_candidates(pts_df, segments, cover, seg_id,
                                lon, lat, ax, ay, bx, by)
        return _snap_emit(_snap_best(cand, point_id, seg_id, lon, lat),
                          point_id, seg_id, lon, lat, radius_m)

    if fine_zoom <= zoom:
        return coarse(src)

    remaining = src.localCheckpoint()
    out = None
    for fz in range(fine_zoom, zoom, -3):
        segs_z = _segments_with_cells(segments, fz, seg_id, ax, ay, bx, by)
        pcell = _grid_cell(F.col(lon), F.col(lat), fz)
        cand = (
            _explode_neighbors(remaining.withColumn("_pcell", pcell),
                               F.col("_pcell"), fz, 1)
            .join(F.broadcast(segs_z), F.col("_ncell") == F.col("_scell"), "inner")
        )
        best = _snap_best(cand, point_id, seg_id, lon, lat)
        # 1 mm shaved off the margin so a boundary-exact unseen segment
        # can never beat (or re-tie) an accepted winner
        guarantee = (_ring_guarantee_expr(F.col("_w.lat"), fz, 1) / 1.05
                     - F.lit(0.001))
        # persisted (lazily): each level's winner set feeds BOTH the
        # result union and the next level's anti-join — without it,
        # branch k re-evaluates every finer level's candidate join
        # (the expensive explode × broadcast probe) once per consumer,
        # i.e. O(levels²) passes over the fact table in one action
        done = (best.filter(F.col("_w.dist_m") <= guarantee)
                .persist(StorageLevel.MEMORY_AND_DISK))
        level_out = _snap_emit(done, point_id, seg_id, lon, lat, radius_m)
        out = level_out if out is None else out.unionByName(level_out)
        remaining = remaining.join(done.select(point_id),
                                   on=point_id, how="left_anti")
    return out.unionByName(coarse(remaining))
