"""HMM map matching: snap whole TRACKS to the road network with a
Viterbi decode (Newson & Krumm 2009 shape), not each point greedily.

``snap_to_segments`` (spatial_join.py) is the point-wise primitive —
nearest segment per point.  Sequence-aware matching is the flagship
trajectory operator on top of it: each point gets K CANDIDATE
segments; emission weight favors close candidates, transition weight
favors consecutive snaps whose along-network displacement agrees with
the raw GPS displacement; the per-track Viterbi picks the jointly most
plausible segment sequence (greedy nearest can zig-zag across parallel
roads; the HMM cannot).

Determinism contract (what makes this oracle-checkable): every score
is QUANTIZED before entering the DP —

* candidate ``dist_m``/``t``/``snap_*`` are the rounded (3 dp / 6 dp)
  outputs of the same closed-form clamped equirectangular projection
  as ``snap_to_segments`` (proven JVM↔SQL-identical by the
  `snap_nearest_segment` driver row);
* emission ``= round(−0.5·(dist_m/σ)², 6)``;
* transition ``= round(−|route − direct|/β, 6)`` with route/direct the
  equirectangular meters between the (rounded) snap points / raw
  points;
* ties in the running max break toward the LOWEST candidate index,
  candidates ordered by ``(dist_m, seg_id)``.

With quantized inputs, float summation order is the only freedom left,
and both the engine and any scalar replay add ``score + transition +
emission`` left to right — so the decode is bit-reproducible.

Engine shape: candidate generation is the numpy snap scorer for a
dim-sized network (one ``mapInPandas``, no shuffle), else one
supercover equi-join + a per-point top-K aggregation (fact side: 1
cell encode + ring explode, 1 shuffle for the rank); the network's
size picks, from one probe-and-collect.  The Viterbi is ONE shuffle
keyed by track + a ``mapInPandas`` that packs every track in the
partition into a single padded (tracks, steps, K) tensor and walks
the step axis once with partition-wide elementwise ops —
per-partition cost O(points · K²) numpy with no per-track pandas
overhead.

100-TB story: identical to the snap join's (the candidate stage IS the
snap join minus the final min), plus one shuffle keyed by track id;
track groups are bounded (a device's pings), so no skew beyond what
AQE handles.

Reference scope: engine addition beyond xvill/xutil — extends the
reference's point kernels (gis.go:184-249) the same way knn/snap do
(SURVEY §2.3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xutil_spark.operators.spatial_join import (
    _collect_dim,
    _M_PER_DEG,
    _ring_candidates,
    _ring_cover,
    _snap_candidates_np,
    _snap_projection,
)

# segment tables at or below this many rows take the numpy candidate
# scorer (immune to the cell join's long-segment candidate blow-up)
_HMM_NP_MAX_SEGS = 16384

MATCH_SCHEMA = T.StructType([
    T.StructField("track_id", T.LongType(), False),
    T.StructField("point_id", T.LongType(), False),
    T.StructField("seg_id", T.LongType(), False),
    T.StructField("dist_m", T.DoubleType(), False),
    T.StructField("t", T.DoubleType(), False),
    T.StructField("snap_lon", T.DoubleType(), False),
    T.StructField("snap_lat", T.DoubleType(), False),
])


def candidate_segments(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    k: int = 3,
    point_id: str = "pid",
    seg_id: str = "seg_id",
    lon: str = "lon",
    lat: str = "lat",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    extra_cols: tuple = (),
) -> DataFrame:
    """Top-``k`` segments within ``radius_m`` of each point, scored by
    the snap projection: ``(point_id, [extra_cols...], lon, lat,
    seg_id, dist_m, t, snap_lon, snap_lat, rank)``.  Exact at any
    latitude: the zoom and ring come from the radius and the segments'
    max |lat| (``_ring_cover``, one Spark job — the snap coarse-pass
    bound).  ``extra_cols`` (e.g. track id / timestamp) pass through.
    The supercover join broadcasts unless the network is over
    ``_BCAST_MAX_SEGS`` segments (``_ring_candidates``)."""
    cand = _ring_candidates(points, segments,
                            _ring_cover(segments, radius_m, ay, by), seg_id,
                            lon, lat, ax, ay, bx, by)
    t, dist, snap_lon, snap_lat = _snap_projection(lon, lat)
    scored = cand.select(
        point_id, *extra_cols, lon, lat,
        F.col("_sid").alias(seg_id),
        F.round(dist, 3).alias("dist_m"),
        F.round(t, 6).alias("t"),
        F.round(snap_lon, 6).alias("snap_lon"),
        F.round(snap_lat, 6).alias("snap_lat"),
    ).filter(F.col("dist_m") <= F.lit(float(radius_m)))
    # ONE shuffle does dedup + top-K: the ring join can surface a
    # segment via several neighbor cells, but its scored struct is
    # identical each time, so collect_set dedups exactly; array_sort
    # on the struct orders by (dist_m, seg_id) lexicographically — the
    # deterministic rank key — and slice keeps k.  (A dropDuplicates +
    # row_number window would spend two shuffles on the same result.)
    cand_struct = F.struct(
        F.col("dist_m"), F.col(seg_id), F.col("t"),
        F.col("snap_lon"), F.col("snap_lat"))
    agg = (
        scored.groupBy(point_id, *extra_cols, lon, lat)
        .agg(F.slice(F.array_sort(F.collect_set(cand_struct)), 1, k)
             .alias("_cand"))
    )
    return agg.select(
        point_id, *extra_cols, lon, lat,
        F.posexplode("_cand").alias("_pos", "_c"),
    ).select(
        point_id, *extra_cols, lon, lat,
        F.col(f"_c.{seg_id}").alias(seg_id),
        F.col("_c.dist_m").alias("dist_m"),
        F.col("_c.t").alias("t"),
        F.col("_c.snap_lon").alias("snap_lon"),
        F.col("_c.snap_lat").alias("snap_lat"),
        (F.col("_pos") + 1).alias("rank"),
    )


def hmm_map_match(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    sigma_m: float = 25_000.0,
    beta_m: float = 10_000.0,
    k: int = 3,
    track: str = "track_id",
    point_id: str = "pid",
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    seg_id: str = "seg_id",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
) -> DataFrame:
    """Viterbi-matched segment per track point: ``(track_id, point_id,
    seg_id, dist_m, t, snap_lon, snap_lat)``.  Points with no candidate
    inside ``radius_m`` drop out and the chain bridges the gap (the
    transition then spans the skipped point — Newson-Krumm's broken-
    track simplification).  Track/point ids must be integral.

    Candidates come from the snap scorer of the network's size, learned
    by one probe-and-collect (``_collect_dim``): at most
    ``_HMM_NP_MAX_SEGS`` segments take the broadcast-numpy exhaustive
    pass (``_snap_candidates_np`` at k=K); larger networks take the
    cell equi-join (``candidate_segments``).  Both emit the same
    candidates bit for bit."""
    pts = points.select(
        F.col(track).alias("_trk"),
        F.col(point_id).cast("long").alias("_pid"),
        F.col(ts).cast("long").alias("_ep"),
        F.col(lon).alias(lon), F.col(lat).alias(lat),
    )
    seg_pd = _collect_dim(segments.select(seg_id, ax, ay, bx, by),
                          _HMM_NP_MAX_SEGS)
    if seg_pd is not None:
        cand = _snap_candidates_np(
            pts, segments, seg_pd, radius_m, k, "_pid", seg_id, lon, lat,
            extra_cols=("_trk", "_ep"))
    else:
        cand = candidate_segments(
            pts, segments, radius_m, k=k,
            point_id="_pid", seg_id=seg_id, lon=lon, lat=lat,
            ax=ax, ay=ay, bx=bx, by=by, extra_cols=("_trk", "_ep"),
        )
    sig2 = 2.0 * float(sigma_m) * float(sigma_m)
    beta = float(beta_m)
    kc = _M_PER_DEG

    def _planar_m(lon1, lat1, lon2, lat2):
        kx = kc * np.cos(np.radians((lat1 + lat2) * 0.5))
        dx = (lon2 - lon1) * kx
        dy = (lat2 - lat1) * kc
        return np.hypot(dx, dy)

    kmax = int(k)

    def decode_batch(batches) -> pd.DataFrame:
        """TRACK-BATCHED Viterbi: every track in the partition is
        packed into ONE padded (B, S_max, K) tensor and the DP walks
        the step axis once with B-wide elementwise ops — the same
        pair-batching trick as the Fréchet/DTW kernels (a per-track
        python loop costs ~250 µs/point in pandas overhead; this is
        ~60 numpy ops per step for ALL tracks).  Per-value float ops
        and their order are IDENTICAL to the scalar chain (emission
        round, _planar_m hypot, tot=score+trans then +emit, first-max
        argmax), so the decode stays bit-reproducible vs _scalar_hmm;
        padded candidate slots carry −inf scores (never argmax-won
        while a real candidate exists) and padded steps are ignored
        via each track's own final-step snapshot."""
        chunks = [b for b in batches if len(b)]
        if not chunks:
            yield pd.DataFrame(
                {f.name: pd.Series(dtype="float64") for f in MATCH_SCHEMA})
            return
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values(["_trk", "_ep", "_pid", "dist_m", seg_id],
                              kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        trk = pdf["_trk"].to_numpy()
        pid = pdf["_pid"].to_numpy()
        new_trk = np.empty(n, dtype=bool)
        new_trk[0] = True
        new_trk[1:] = trk[1:] != trk[:-1]
        new_step = new_trk.copy()
        new_step[1:] |= pid[1:] != pid[:-1]
        gstep = np.cumsum(new_step) - 1            # global step index
        b_of_step = np.cumsum(new_trk[new_step]) - 1
        bidx = b_of_step[gstep]                    # track index per row
        B = int(b_of_step[-1]) + 1
        n_steps = len(b_of_step)
        # b_of_step / gstep are non-decreasing: first occurrences via
        # searchsorted (a zero-init minimum.at would stick at 0)
        first_step_of_trk = np.searchsorted(b_of_step, np.arange(B))
        sidx = gstep - first_step_of_trk[bidx]     # step within track
        first_row_of_step = np.searchsorted(gstep, np.arange(n_steps))
        cidx = np.arange(n) - first_row_of_step[gstep]  # cand within step
        St = np.bincount(b_of_step, minlength=B)   # steps per track
        S = int(St.max())

        def tens(vals, fill=0.0):
            t = np.full((B, S, kmax), fill)
            t[bidx, sidx, cidx] = vals
            return t

        dist = tens(pdf["dist_m"].to_numpy(float))
        slon = tens(pdf["snap_lon"].to_numpy(float))
        slat = tens(pdf["snap_lat"].to_numpy(float))
        flat = np.full((B, S, kmax), -1, dtype=np.int64)
        flat[bidx, sidx, cidx] = np.arange(n)
        valid = flat >= 0
        plon = np.zeros((B, S))
        plat = np.zeros((B, S))
        plon[bidx, sidx] = pdf[lon].to_numpy(float)
        plat[bidx, sidx] = pdf[lat].to_numpy(float)

        emit = np.round(-(dist ** 2) / sig2, 6)
        NEG = -np.inf
        scores = np.where(valid[:, 0, :], emit[:, 0, :], NEG)
        back = np.full((B, S, kmax), -1, dtype=np.int64)
        final = np.where(St[:, None] == 1, scores, NEG)
        for s in range(1, S):
            route = _planar_m(
                slon[:, s - 1, :, None], slat[:, s - 1, :, None],
                slon[:, s, None, :], slat[:, s, None, :],
            )
            direct = _planar_m(plon[:, s - 1], plat[:, s - 1],
                               plon[:, s], plat[:, s])
            trans = np.round(-np.abs(route - direct[:, None, None]) / beta, 6)
            tot = scores[:, :, None] + trans       # (B, prev, cur)
            bk = np.argmax(tot, axis=1)            # first max wins
            sc = (np.take_along_axis(tot, bk[:, None, :], axis=1)[:, 0, :]
                  + emit[:, s, :])
            scores = np.where(valid[:, s, :], sc, NEG)
            back[:, s, :] = bk
            snap = St - 1 == s
            if snap.any():
                final[snap] = scores[snap]
        # backtrack every track from ITS OWN last step (first max on ties)
        picks = np.zeros((B, S), dtype=np.int64)
        j = np.argmax(final, axis=1)
        for s in range(S - 1, -1, -1):
            act = s <= St - 1
            picks[act, s] = j[act]
            j = np.where(act, back[np.arange(B), s, j], j)
        rows = flat[np.repeat(np.arange(B), St),
                    np.concatenate([np.arange(c) for c in St]),
                    picks[np.repeat(np.arange(B), St),
                          np.concatenate([np.arange(c) for c in St])]]
        yield pd.DataFrame({
            "track_id": trk[rows].astype(np.int64),
            "point_id": pid[rows].astype(np.int64),
            "seg_id": pdf[seg_id].to_numpy()[rows].astype(np.int64),
            "dist_m": pdf["dist_m"].to_numpy(float)[rows],
            "t": pdf["t"].to_numpy(float)[rows],
            "snap_lon": pdf["snap_lon"].to_numpy(float)[rows],
            "snap_lat": pdf["snap_lat"].to_numpy(float)[rows],
        })

    par = points.sparkSession.sparkContext.defaultParallelism
    return cand.repartition(par, "_trk").mapInPandas(
        decode_batch, schema=MATCH_SCHEMA)
