"""Trajectory similarity join: pairs of tracks whose symmetric
Hausdorff distance is within ``tau_m`` meters — the set-similarity
primitive for trajectory dedup, co-route mining and trajectory
clustering seeds.

The reference has no multi-track operator; this extends its
point-distance kernels (gis.go:184-249) into a track×track join the
same way ``encounter_join`` extends them into an event×event join
(SURVEY §2.3 engine additions).

Determinism contract (what makes this oracle-checkable): the Hausdorff
distance is built ONLY from order-independent reductions — per-point
nearest distances (min) and a max over them.  No summation happens
anywhere, so float evaluation order cannot change the result: the
engine's numpy matrix evaluation and a pure-Python scalar replay
produce bit-identical doubles.  Distances use the same clamped-free
equirectangular formula as the map-matching transition metric
(operators/mapmatch.py): ``kx = K·cos(radians((lat_a+lat_b)/2))``,
``d = sqrt((Δlon·kx)² + (Δlat·K)²)`` with ``K = π/180·6 371 000``.

Engine shape — a **cell-blocked track×track join**, never a cross
join:

1. each (track, cell) pair ships once (distinct over the track's
   points at the zoom whose ring-1 block covers ``tau_m`` up to the
   points' own max |lat| — same picker as ``encounter_join``);
2. the LEFT side explodes to the HALF-SPACE of its (2r+1)² neighbor
   block (lexicographically-positive offsets + self, 5 keys at ring
   1): every pair with ANY cross-track point pair within ``tau_m`` —
   a superset of pairs with Hausdorff ≤ ``tau_m`` — meets on ≥1 key,
   cross-key pairs from exactly one side, same-key pairs dedup by
   track order;
3. ONE equi-join on cell + a distinct at candidate-pair cardinality;
4. candidate pairs pick up both tracks' point arrays (two joins
   against the per-track array dim — bounded rows per track by
   upstream resample/simplify);
5. one ``mapInPandas`` over pair rows: the |A|×|B| distance matrix is
   a single vectorized numpy expression; ``h(A→B) = max(min(d,
   axis=1))``, symmetric Hausdorff = max of both directions; exact
   filter ≤ ``tau_m``.

100-TB story: the fact table is touched by one top-1 |lat| pass, one
narrow projection and one distinct shuffle at (track, cell)
cardinality; candidate pruning is proportional to spatial co-location
at the τ-matched zoom (dense datasets pick finer zooms), and per-pair
cost is |A|·|B| vectorized — bounded when tracks are bounded
(resample_tracks / douglas_peucker upstream cap |A|).  When ``tau_m``
approaches the data extent every pair is a candidate — that is inherent
to the metric, not the plan.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xutil_spark.functions import native
from xutil_spark.operators.spatial_join import _M_PER_DEG, _grid_cell, _zoom_ring

HAUSDORFF_SCHEMA = T.StructType([
    T.StructField("track_a", T.LongType(), False),
    T.StructField("track_b", T.LongType(), False),
    T.StructField("h_ab_m", T.DoubleType(), False),
    T.StructField("h_ba_m", T.DoubleType(), False),
    T.StructField("hausdorff_m", T.DoubleType(), False),
])


def _candidate_pairs(cells: DataFrame, zoom: int) -> DataFrame:
    """HALF-SPACE neighbor-block self-join over (``_trk``, ``cell``)
    rows → distinct ``(track_a, track_b)`` candidate pairs
    (``encounter_join``'s idiom in 2D): of the 3×3 block only the
    lexicographically-positive offsets + self ship — each cross-key
    pair is generated from exactly ONE side, same-key pairs dedup by
    track order.  5 keys instead of 9.  Complete for every pair with
    ANY cross-track point pair within the ring-1 guarantee at
    ``zoom``.

    At zoom ≤ 1 the 3-cell block wraps the x axis — a τ at planetary
    scale or points at a pole, where blocking prunes little — so the
    fallback is the honest all-pairs id self-join at TRACK (not point)
    cardinality."""
    n_axis = 2 ** zoom
    if 3 > n_axis:
        trk = cells.select("_trk").distinct()
        return (
            trk.select(F.col("_trk").alias("track_a"))
            .join(trk.select(F.col("_trk").alias("track_b")),
                  F.col("track_a") < F.col("track_b"))
        )
    offs = [
        (dx, dy)
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) >= (0, 0)
    ]
    k = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(dx == 0 and dy == 0).alias("self"))
        for dx, dy in offs
    ])
    left = (
        cells.withColumn("_k", F.explode(k))
        .withColumn("_ny", native.cell_y(F.col("cell")) + F.col("_k.dy"))
        .filter((F.col("_ny") >= 0) & (F.col("_ny") < F.lit(n_axis).cast("long")))
        .select(
            F.col("_trk").alias("_ltrk"), F.col("_k.self").alias("_self"),
            native.cell_from_xy(
                F.pmod(native.cell_x(F.col("cell")) + F.col("_k.dx"),
                       F.lit(n_axis).cast("long")),
                F.col("_ny"), zoom,
            ).alias("_jcell"),
        )
    )
    right = cells.select(
        F.col("_trk").alias("_rtrk"), F.col("cell").alias("_jcell"))
    return (
        left.join(right, on="_jcell", how="inner")
        .filter(
            F.when(F.col("_self"), F.col("_ltrk") < F.col("_rtrk"))
            .otherwise(F.col("_ltrk") != F.col("_rtrk"))
        )
        .select(
            F.least("_ltrk", "_rtrk").alias("track_a"),
            F.greatest("_ltrk", "_rtrk").alias("track_b"),
        )
        .distinct()
    )


def _pair_arrays(pairs: DataFrame, arrs: DataFrame) -> DataFrame:
    """Attach both tracks' point arrays to each candidate pair:
    ``arrs`` carries (``_trk``, ``lons``, ``lats``).

    The result feeds a Python DP stage whose cost is pairs × |A|·|B|,
    while its own byte size is tiny — exactly the shape AQE's
    partition coalescing mis-sizes (it targets bytes, so the whole
    pair stream lands in 1-2 partitions and the DP runs nearly
    serial).  Pin the DP's parallelism with an explicit repartition:
    one extra shuffle of skinny pair rows, full-width Python stage."""
    par = pairs.sparkSession.sparkContext.defaultParallelism
    return (
        pairs
        .join(arrs.select(F.col("_trk").alias("track_a"),
                          F.col("lons").alias("alon"),
                          F.col("lats").alias("alat")), on="track_a")
        .join(arrs.select(F.col("_trk").alias("track_b"),
                          F.col("lons").alias("blon"),
                          F.col("lats").alias("blat")), on="track_b")
        .select("track_a", "track_b", "alon", "alat", "blon", "blat")
        .repartition(par)
    )


def _similarity_pairs(points: DataFrame, cover_m: float, track: str,
                      lon: str, lat: str,
                      order_cols: list[str] | None = None) -> DataFrame:
    """The plan the similarity joins share, up to the pair kernel:
    ``_pair_arrays`` rows for every candidate track pair.  The zoom is
    the finest whose ring-1 block covers ``cover_m`` up to the points'
    max |lat| (``_zoom_ring``, one Spark job), so no pair with a
    cross-track point pair within ``cover_m`` is lost at any latitude.
    With ``order_cols`` each track's arrays follow (order_cols, lon,
    lat) — ``sort_array`` on the structs pins the sequence even under
    duplicate keys; without, they come in collect order."""
    zoom, _, _ = _zoom_ring(points, [lat], cover_m, 0.0, 1)
    cols = [F.col(track).cast("long").alias("_trk"),
            F.col(lon).alias("_lon"), F.col(lat).alias("_lat")]
    if order_cols:
        cols.append(F.struct(*[F.col(c) for c in order_cols]).alias("_ord"))
    pts = points.select(*cols)
    cells = pts.select(
        "_trk", _grid_cell(F.col("_lon"), F.col("_lat"), zoom).alias("cell"),
    ).distinct()
    if order_cols:
        arrs = (
            pts.groupBy("_trk")
            .agg(F.array_sort(F.collect_list(F.struct(
                F.col("_ord"), F.col("_lon"), F.col("_lat")))).alias("_a"))
            .select(
                "_trk",
                F.transform("_a", lambda s: s["_lon"]).alias("lons"),
                F.transform("_a", lambda s: s["_lat"]).alias("lats"),
            )
        )
    else:
        arrs = pts.groupBy("_trk").agg(
            F.collect_list("_lon").alias("lons"),
            F.collect_list("_lat").alias("lats"),
        )
    return _pair_arrays(_candidate_pairs(cells, zoom), arrs)


def _pair_hausdorff_udf(tau_m: float):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows: dict = {k.name: [] for k in HAUSDORFF_SCHEMA}
            for r in b.itertuples(index=False):
                alon = np.asarray(r.alon, dtype=np.float64)
                alat = np.asarray(r.alat, dtype=np.float64)
                blon = np.asarray(r.blon, dtype=np.float64)
                blat = np.asarray(r.blat, dtype=np.float64)
                kx = _M_PER_DEG * np.cos(np.radians(
                    (alat[:, None] + blat[None, :]) * 0.5))
                dx = (blon[None, :] - alon[:, None]) * kx
                dy = (blat[None, :] - alat[:, None]) * _M_PER_DEG
                d = np.sqrt(dx * dx + dy * dy)
                h_ab = float(d.min(axis=1).max())
                h_ba = float(d.min(axis=0).max())
                h = max(h_ab, h_ba)
                if h <= tau_m:
                    rows["track_a"].append(int(r.track_a))
                    rows["track_b"].append(int(r.track_b))
                    rows["h_ab_m"].append(round(h_ab, 3))
                    rows["h_ba_m"].append(round(h_ba, 3))
                    rows["hausdorff_m"].append(round(h, 3))
            yield pd.DataFrame(rows)

    return run


def hausdorff_join(
    points: DataFrame,
    tau_m: float,
    track: str = "user_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Track pairs with symmetric Hausdorff ≤ ``tau_m``: ``(track_a,
    track_b, h_ab_m, h_ba_m, hausdorff_m)``, ``track_a < track_b``,
    meters rounded to mm.

    ``h(A→B) = max_{a∈A} min_{b∈B} d(a, b)`` under the equirectangular
    metric above; ``hausdorff_m = max(h_ab, h_ba)``.

    Completeness: Hausdorff ≤ τ implies SOME cross-track point pair is
    within τ (any a∈A and its nearest b), so every qualifying pair
    meets in the neighbor block — the exact filter never loses a true
    pair to the prefilter.
    """
    return _similarity_pairs(points, tau_m, track, lon, lat).mapInPandas(
        _pair_hausdorff_udf(float(tau_m)), schema=HAUSDORFF_SCHEMA)


def scalar_hausdorff(a: list, b: list) -> tuple[float, float, float]:
    """Pure-Python replay of the pair kernel (oracle + pytest side):
    ``a``/``b`` are [(lon, lat), ...]; returns (h_ab, h_ba, h) rounded
    to mm.  Same ops in the same order as the numpy kernel — min/max
    reductions only, so the replay is bit-exact."""
    def d(p, q):
        kx = _M_PER_DEG * math.cos(math.radians((p[1] + q[1]) * 0.5))
        dx = (q[0] - p[0]) * kx
        dy = (q[1] - p[1]) * _M_PER_DEG
        return math.sqrt(dx * dx + dy * dy)

    h_ab = max(min(d(p, q) for q in b) for p in a)
    h_ba = max(min(d(p, q) for p in a) for q in b)
    return round(h_ab, 3), round(h_ba, 3), round(max(h_ab, h_ba), 3)


FRECHET_SCHEMA = T.StructType([
    T.StructField("track_a", T.LongType(), False),
    T.StructField("track_b", T.LongType(), False),
    T.StructField("frechet_m", T.DoubleType(), False),
])


def _pad(col: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Stack a column of variable-length float lists into a zero-padded
    (P, max_len) matrix + the per-row true lengths."""
    lens = np.fromiter((len(v) for v in col), dtype=np.int64, count=len(col))
    m = np.zeros((len(col), int(lens.max())), dtype=np.float64)
    for i, v in enumerate(col):
        m[i, :lens[i]] = v
    return m, lens


def _pair_frechet_udf(tau_m: float, cell_budget: int = 3_000_000):
    """PAIR-BATCHED discrete-Fréchet DP: the (i, j) recurrence is
    inherently sequential, so instead of vectorizing within one pair
    the kernel stacks ~``cell_budget``/(na·nb) pairs into a padded
    (P, na, nb) tensor and walks the grid ONCE with P-wide elementwise
    min/max at every cell — 4,500 numpy ops instead of 4,500·P Python
    iterations (sf0.1: 30 s → sub-second per partition).  Padding is
    sound because cell (i, j) never reads cells with larger indices:
    each pair's answer is snapshotted at ITS OWN (na−1, nb−1) as the
    row sweep passes it.  Elementwise min/max keeps the per-pair value
    stream identical to the scalar DP — still bit-exact vs
    ``scalar_frechet``."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows: dict = {k.name: [] for k in FRECHET_SCHEMA}
            if len(b) == 0:
                yield pd.DataFrame(rows)
                continue
            alon, na = _pad(b["alon"])
            alat, _ = _pad(b["alat"])
            blon, nb = _pad(b["blon"])
            blat, _ = _pad(b["blat"])
            ta = b["track_a"].to_numpy()
            tb = b["track_b"].to_numpy()
            chunk = max(1, cell_budget // int(alon.shape[1] * blon.shape[1]))
            for s in range(0, len(b), chunk):
                e = min(len(b), s + chunk)
                kx = _M_PER_DEG * np.cos(np.radians(
                    (alat[s:e, :, None] + blat[s:e, None, :]) * 0.5))
                dx = (blon[s:e, None, :] - alon[s:e, :, None]) * kx
                dy = (blat[s:e, None, :] - alat[s:e, :, None]) * _M_PER_DEG
                d = np.sqrt(dx * dx + dy * dy)      # (P, na_max, nb_max)
                p, mna, mnb = d.shape
                pa, pb = na[s:e], nb[s:e]
                out = np.empty(p)
                # row 0: running max along j == the scalar max chain
                ca = np.maximum.accumulate(d[:, 0, :], axis=1)
                done = pa - 1 == 0
                if done.any():
                    out[done] = ca[done, pb[done] - 1]
                for i in range(1, mna):
                    prev = ca
                    ca = np.empty_like(prev)
                    ca[:, 0] = np.maximum(prev[:, 0], d[:, i, 0])
                    best = np.minimum(prev[:, 1:], prev[:, :-1])
                    row = d[:, i, :]
                    for j in range(1, mnb):
                        ca[:, j] = np.maximum(
                            np.minimum(best[:, j - 1], ca[:, j - 1]),
                            row[:, j])
                    done = pa - 1 == i
                    if done.any():
                        out[done] = ca[done, pb[done] - 1]
                keep = out <= tau_m
                rows["track_a"].extend(int(x) for x in ta[s:e][keep])
                rows["track_b"].extend(int(x) for x in tb[s:e][keep])
                rows["frechet_m"].extend(round(float(x), 3)
                                         for x in out[keep])
            yield pd.DataFrame(rows)

    return run


def frechet_join(
    points: DataFrame,
    tau_m: float,
    track: str = "user_id",
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    tiebreak: str | None = None,
) -> DataFrame:
    """ORDER-AWARE trajectory similarity join: track pairs whose
    discrete Fréchet distance ≤ ``tau_m`` — ``(track_a, track_b,
    frechet_m)``, ``track_a < track_b``, meters rounded to mm.

    Where Hausdorff treats tracks as point SETS, Fréchet couples them
    as SEQUENCES (the dog-leash distance over all monotone couplings,
    Eiter & Mannila 1994 discrete form): two tracks tracing the same
    road in opposite directions are Hausdorff-close but Fréchet-far.
    Points order by (``ts``, ``tiebreak``) within each track.

    The DP recurrence ``ca(i,j) = max(d(i,j), min(ca(i−1,j),
    ca(i−1,j−1), ca(i,j−1)))`` is min/max-ONLY over the same
    equirectangular pair distances as ``hausdorff_join`` — no
    summation — so the engine and a pure-Python scalar replay
    (``scalar_frechet``) are bit-identical.

    Candidate completeness: Fréchet ≥ Hausdorff ≥ the minimum
    cross-track pair distance, so the same half-space cell block that
    is complete for Hausdorff ≤ τ is complete here; the plan is
    ``hausdorff_join``'s with ordered point arrays and the DP kernel.
    Per-pair cost is O(|A|·|B|) with the inner loop per B-column —
    bounded when tracks are bounded (resample/simplify upstream).
    """
    order_cols = [ts] + ([tiebreak] if tiebreak else [])
    return _similarity_pairs(points, tau_m, track, lon, lat,
                             order_cols).mapInPandas(
        _pair_frechet_udf(float(tau_m)), schema=FRECHET_SCHEMA)


def scalar_frechet(a: list, b: list) -> float:
    """Pure-Python replay of the Fréchet DP (oracle + pytest side):
    ``a``/``b`` are [(lon, lat), ...] in sequence order; returns the
    discrete Fréchet distance rounded to mm — bit-exact vs the numpy
    kernel (min/max reductions only)."""
    def d(p, q):
        kx = _M_PER_DEG * math.cos(math.radians((p[1] + q[1]) * 0.5))
        dx = (q[0] - p[0]) * kx
        dy = (q[1] - p[1]) * _M_PER_DEG
        return math.sqrt(dx * dx + dy * dy)

    nb = len(b)
    ca = [0.0] * nb
    ca[0] = d(a[0], b[0])
    for j in range(1, nb):
        ca[j] = max(ca[j - 1], d(a[0], b[j]))
    for i in range(1, len(a)):
        prev = ca
        ca = [0.0] * nb
        ca[0] = max(prev[0], d(a[i], b[0]))
        for j in range(1, nb):
            ca[j] = max(min(prev[j], prev[j - 1], ca[j - 1]), d(a[i], b[j]))
    return round(ca[-1], 3)


def co_route_clusters(
    points: DataFrame,
    tau_m: float,
    metric: str = "hausdorff",
    track: str = "user_id",
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    tiebreak: str | None = None,
) -> DataFrame:
    """Co-route clustering: connected components over the τ-similarity
    graph — ``(id, cluster_id)`` with cluster_id the smallest member
    track id (``operators/dedup.py connected_components``'s canonical-
    survivor convention, shared with the image/document dedup stack).

    ``metric="hausdorff"`` clusters by shape proximity regardless of
    travel direction; ``metric="frechet"`` additionally requires the
    same traversal order (commute-pattern mining vs corridor mining).
    Tracks with no ≤ τ partner form singleton clusters (id == cluster).

    Scale shape = the similarity join's + CC's: near-route edges are
    sparse (edges ∝ co-routed pairs, not tracks²), so the dim-scale
    union-find gate almost always applies.
    """
    if metric == "hausdorff":
        pairs = hausdorff_join(points, tau_m, track, lon, lat)
    elif metric == "frechet":
        pairs = frechet_join(points, tau_m, track, ts, lon, lat, tiebreak)
    else:
        raise ValueError("metric must be 'hausdorff' or 'frechet'")
    from xutil_spark.operators.dedup import connected_components

    edges = pairs.select(F.col("track_a").alias("a"),
                         F.col("track_b").alias("b"))
    comp = connected_components(edges)
    all_tracks = points.select(
        F.col(track).cast("long").alias("id")).distinct()
    return (
        all_tracks.join(comp, on="id", how="left")
        .select("id", F.coalesce("cluster_id", "id").alias("cluster_id"))
    )


DTW_SCHEMA = T.StructType([
    T.StructField("track_a", T.LongType(), False),
    T.StructField("track_b", T.LongType(), False),
    T.StructField("dtw_mm_total", T.LongType(), False),
    T.StructField("dtw_norm_m", T.DoubleType(), False),
])


def _pair_dtw_udf(tau_norm_m: float, cell_budget: int = 3_000_000):
    """PAIR-BATCHED DTW DP over INTEGER-MILLIMETER step costs.

    DTW sums along the warping path — a float sum would break the
    bit-exact replay contract the other metrics get for free from
    min/max — so every pairwise distance is quantized to int64
    millimeters BEFORE the DP: the minimum-cost sum is then exact
    integer arithmetic, order-independent, and a pure-Python replay
    (``scalar_dtw``) reproduces it digit-for-digit (the same
    quantize-before-reduce idea as the HMM scores and the bigram LM
    micro-nats).  Same padded-tensor batching as the Fréchet kernel;
    padding never contaminates a pair's own (na−1, nb−1) snapshot."""
    from xutil_spark.kernels.rounding import round_half_away

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows: dict = {k.name: [] for k in DTW_SCHEMA}
            if len(b) == 0:
                yield pd.DataFrame(rows)
                continue
            alon, na = _pad(b["alon"])
            alat, _ = _pad(b["alat"])
            blon, nb = _pad(b["blon"])
            blat, _ = _pad(b["blat"])
            ta = b["track_a"].to_numpy()
            tb = b["track_b"].to_numpy()
            chunk = max(1, cell_budget // int(alon.shape[1] * blon.shape[1]))
            for s in range(0, len(b), chunk):
                e = min(len(b), s + chunk)
                kx = _M_PER_DEG * np.cos(np.radians(
                    (alat[s:e, :, None] + blat[s:e, None, :]) * 0.5))
                dx = (blon[s:e, None, :] - alon[s:e, :, None]) * kx
                dy = (blat[s:e, None, :] - alat[s:e, :, None]) * _M_PER_DEG
                d = round_half_away(
                    np.sqrt(dx * dx + dy * dy) * 1000.0, 0).astype(np.int64)
                p, mna, mnb = d.shape
                pa, pb = na[s:e], nb[s:e]
                out = np.empty(p, dtype=np.int64)
                # row 0: prefix sums along j (the only admissible path)
                ca = np.cumsum(d[:, 0, :], axis=1)
                done = pa - 1 == 0
                if done.any():
                    out[done] = ca[done, pb[done] - 1]
                for i in range(1, mna):
                    prev = ca
                    ca = np.empty_like(prev)
                    ca[:, 0] = prev[:, 0] + d[:, i, 0]
                    # min(vertical, diagonal) has no in-row dependency
                    best = np.minimum(prev[:, 1:], prev[:, :-1])
                    row = d[:, i, :]
                    for j in range(1, mnb):
                        ca[:, j] = row[:, j] + np.minimum(
                            best[:, j - 1], ca[:, j - 1])
                    done = pa - 1 == i
                    if done.any():
                        out[done] = ca[done, pb[done] - 1]
                norm = out / 1000.0 / (pa + pb)
                keep = norm <= tau_norm_m
                rows["track_a"].extend(int(x) for x in ta[s:e][keep])
                rows["track_b"].extend(int(x) for x in tb[s:e][keep])
                rows["dtw_mm_total"].extend(int(x) for x in out[keep])
                rows["dtw_norm_m"].extend(round(float(x), 6)
                                          for x in norm[keep])
            yield pd.DataFrame(rows)

    return run


def dtw_join(
    points: DataFrame,
    tau_norm_m: float,
    track: str = "user_id",
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    tiebreak: str | None = None,
) -> DataFrame:
    """Dynamic-time-warping trajectory join: track pairs whose
    LENGTH-NORMALIZED DTW cost ≤ ``tau_norm_m`` meters — ``(track_a,
    track_b, dtw_mm_total, dtw_norm_m)``, ``track_a < track_b``.

    DTW tolerates speed variation Fréchet punishes: two traversals of
    the same route at different paces warp onto each other cheaply.
    ``dtw_norm_m = total / (|A| + |B|)`` (the standard symmetric
    normalizer); the total is an EXACT integer-millimeter sum (see
    ``_pair_dtw_udf``).

    Candidate completeness: any warping path has ≥ max(|A|, |B|) ≥
    (|A|+|B|)/2 steps, each costing ≥ the minimum cross-track pair
    distance, so ``dtw_norm ≥ min_pair / 2`` — the cell block is sized
    to cover **2·τ** and never loses a qualifying pair.
    """
    order_cols = [ts] + ([tiebreak] if tiebreak else [])
    return _similarity_pairs(points, 2.0 * tau_norm_m, track, lon, lat,
                             order_cols).mapInPandas(
        _pair_dtw_udf(float(tau_norm_m)), schema=DTW_SCHEMA)


def scalar_dtw(a: list, b: list) -> tuple[int, float]:
    """Pure-Python replay of the DTW kernel: returns (total int-mm
    cost, normalized meters rounded to 6 dp) — exact vs the numpy
    kernel because every step cost is an integer."""
    from xutil_spark.kernels.rounding import round_half_away

    def dmm(p, q):
        kx = _M_PER_DEG * math.cos(math.radians((p[1] + q[1]) * 0.5))
        dx = (q[0] - p[0]) * kx
        dy = (q[1] - p[1]) * _M_PER_DEG
        return int(round_half_away(math.sqrt(dx * dx + dy * dy) * 1000.0, 0))

    nb = len(b)
    ca = [0] * nb
    ca[0] = dmm(a[0], b[0])
    for j in range(1, nb):
        ca[j] = ca[j - 1] + dmm(a[0], b[j])
    for i in range(1, len(a)):
        prev = ca
        ca = [0] * nb
        ca[0] = prev[0] + dmm(a[i], b[0])
        for j in range(1, nb):
            ca[j] = dmm(a[i], b[j]) + min(prev[j], prev[j - 1], ca[j - 1])
    total = ca[-1]
    return total, round(total / 1000.0 / (len(a) + len(b)), 6)
