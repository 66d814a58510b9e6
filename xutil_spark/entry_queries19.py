"""Contract queries, round-4 twelfth batch: HMM map matching
(operators/mapmatch.py) — per-track Viterbi decode over top-K snap
candidates — plus exact per-image color histograms (raster side).

Same conventions as every entry_queries*.py.

Oracle strategy: `hmm_match_tracks` gets a computed-VALUES golden from
``_scalar_hmm`` — an independent pure-Python (math.*, no numpy, no
engine imports) replay of candidate generation + quantized Viterbi
over the same deterministic inputs (events lattice, supplier-chain
segments).  The quantization contract in operators/mapmatch.py is what
makes this exact: every score is rounded before entering the DP, and
summation order is pinned, so the scalar replay reproduces the decode
bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import _utc
from xutil_spark.entry_queries6 import _fmt_f

_MM_RADIUS_M = 50_000.0
_MM_SIGMA_M = 25_000.0
_MM_BETA_M = 10_000.0
_MM_K = 3
_MM_USER_MOD = 5  # user subset: user_id % 5 == 0

_K_M = 111194.92664455873  # π/180 × 6371000, = spatial_join._M_PER_DEG


def q_hmm_match_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-aware map matching: each sampled user's event trail is
    Viterbi-decoded onto the supplier-chain road network (top-3 snap
    candidates within 50 km; quantized Newson-Krumm scores).  Engine:
    one broadcast supercover candidate join + per-point top-K window +
    one track-keyed shuffle into a partition-batched tensor Viterbi."""
    _utc(spark)
    from xutil_spark.entry_queries10 import _segments
    from xutil_spark.entry_queries12 import _located_events
    from xutil_spark.operators.mapmatch import hmm_map_match

    ev = _located_events(spark, sf_dir).filter(
        F.col("user_id") % _MM_USER_MOD == 0)
    segs = _segments(spark, sf_dir)
    return hmm_map_match(
        ev, segs, radius_m=_MM_RADIUS_M, sigma_m=_MM_SIGMA_M,
        beta_m=_MM_BETA_M, k=_MM_K,
        track="user_id", point_id="event_id", ts="ts", by="by2",
    )


def _ev_lonlat(eid: int) -> tuple[float, float]:
    """Scalar event-location lattice (entry_queries3 _EV_LON/_EV_LAT)."""
    return (
        73.5 + (eid * 2654435761 % 1048576) / 1048576.0 * 61.0,
        18.2 + (eid * 1597334677 % 1048576) / 1048576.0 * 35.3,
    )


def _scalar_snap(lon: float, lat: float, seg) -> tuple[float, float, float, float]:
    """Scalar clamped equirectangular projection (the snap formula):
    → (dist_m(3dp), t(6dp), snap_lon(6dp), snap_lat(6dp))."""
    sid, axd, ayd, bxd, byd = seg
    kx = _K_M * math.cos(math.radians(lat))
    axm = (axd - lon) * kx
    aym = (ayd - lat) * _K_M
    bxm = (bxd - lon) * kx
    bym = (byd - lat) * _K_M
    ux = bxm - axm
    uy = bym - aym
    len2 = ux * ux + uy * uy
    t = 0.0 if len2 == 0.0 else min(1.0, max(0.0, -(axm * ux + aym * uy) / len2))
    qx = axm + t * ux
    qy = aym + t * uy
    return (
        round(math.sqrt(qx * qx + qy * qy), 3),
        round(t, 6),
        round(lon + qx / kx, 6),
        round(lat + qy / _K_M, 6),
    )


def _scalar_planar_m(lon1, lat1, lon2, lat2) -> float:
    kx = _K_M * math.cos(math.radians((lat1 + lat2) * 0.5))
    return math.hypot((lon2 - lon1) * kx, (lat2 - lat1) * _K_M)


def _scalar_hmm(tracks: dict, segs: list,
                radius_m: float = _MM_RADIUS_M,
                sigma_m: float = _MM_SIGMA_M,
                beta_m: float = _MM_BETA_M,
                k: int = _MM_K) -> list:
    """Independent scalar replay of operators/mapmatch.py: ``tracks``
    maps track_id -> [(ep, pid, lon, lat), ...] (any order), ``segs``
    is [(seg_id, ax, ay, bx, by), ...].  Returns rows (track_id, pid,
    seg_id, dist_m, t, snap_lon, snap_lat)."""
    sig2 = 2.0 * sigma_m * sigma_m
    out = []
    for trk in sorted(tracks):
        pts = sorted(tracks[trk])  # (ep, pid) order
        steps = []
        for ep, pid, lon, lat in pts:
            cand = []
            for seg in segs:
                d, t, slon, slat = _scalar_snap(lon, lat, seg)
                if d <= radius_m:
                    cand.append((d, seg[0], t, slon, slat))
            cand.sort(key=lambda c: (c[0], c[1]))
            cand = cand[:k]
            if cand:
                steps.append((pid, lon, lat, cand))
        if not steps:
            continue
        # Viterbi: quantized scores, (prev + trans) + emit, first max wins
        scores, chains = [], []
        prev = None
        for pid, lon, lat, cand in steps:
            emit = [round(-(c[0] * c[0]) / sig2, 6) for c in cand]
            if prev is None:
                sc = emit[:]
                back = [-1] * len(cand)
            else:
                plon, plat, pcand, psc = prev
                direct = _scalar_planar_m(plon, plat, lon, lat)
                sc, back = [], []
                for j, c in enumerate(cand):
                    best_i, best_v = 0, None
                    for i, pc in enumerate(pcand):
                        route = _scalar_planar_m(pc[3], pc[4], c[3], c[4])
                        v = psc[i] + round(-abs(route - direct) / beta_m, 6)
                        if best_v is None or v > best_v:
                            best_i, best_v = i, v
                    sc.append(best_v + emit[j])
                    back.append(best_i)
            scores.append(sc)
            chains.append(back)
            prev = (lon, lat, cand, sc)
        j = max(range(len(scores[-1])), key=lambda i: (scores[-1][i], -i))
        picks = [0] * len(steps)
        for s in range(len(steps) - 1, -1, -1):
            picks[s] = j
            j = chains[s][j]
        for s, (pid, lon, lat, cand) in enumerate(steps):
            d, sid, t, slon, slat = cand[picks[s]]
            out.append((trk, pid, sid, d, t, slon, slat))
    return out


def o_hmm_match_tracks() -> str:
    import duckdb as _dd

    con = _dd.connect()
    ev = con.execute(
        "SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet') "
        f"WHERE user_id % {_MM_USER_MOD} = 0"
    ).fetchall()
    sup = con.execute(
        "SELECT s_suppkey FROM "
        "read_parquet('/root/testdata/sf0.01/supplier.parquet') ORDER BY 1"
    ).fetchall()
    con.close()
    # scalar refs lattice (entry_queries _REFS_SQL) + 8-vertex chaining
    refs = {}
    for (sk,) in sup:
        refs[sk] = (
            73.5 + (sk * 2654435761 % 1048576) / 1048576.0 * 61.0,
            18.2 + (sk * 1597334677 % 1048576) / 1048576.0 * 35.3,
        )
    segs = []
    for sk in sorted(refs):
        nk = sk + 1
        # trunc-toward-zero division: Spark `div` and DuckDB `//` both
        # truncate ((0-1) div 8 = 0), Python // floors — int() matches
        if nk in refs and int((sk - 1) / 8) == int((nk - 1) / 8):
            segs.append((sk, refs[sk][0], refs[sk][1],
                         refs[nk][0], refs[nk][1]))
    tracks: dict = {}
    for uid, eid, ep in ev:
        lon, lat = _ev_lonlat(eid)
        tracks.setdefault(uid, []).append((ep, eid, lon, lat))
    rows = [
        f"({trk},{pid},{sid},{_fmt_f(d)},{_fmt_f(t)},{_fmt_f(slon)},{_fmt_f(slat)})"
        for trk, pid, sid, d, t, slon, slat in _scalar_hmm(tracks, segs)
    ]
    vals = ",".join(rows)
    return f"""
SELECT CAST(track_id AS BIGINT) AS track_id,
       CAST(point_id AS BIGINT) AS point_id,
       CAST(seg_id AS BIGINT) AS seg_id,
       CAST(dist_m AS DOUBLE) AS dist_m, CAST(t AS DOUBLE) AS t,
       CAST(snap_lon AS DOUBLE) AS snap_lon,
       CAST(snap_lat AS DOUBLE) AS snap_lat
FROM (VALUES {vals})
  AS s(track_id, point_id, seg_id, dist_m, t, snap_lon, snap_lat)
"""


# --------------------------------------------------- color histograms

_N_HIST_IMAGES = 500
_HIST_B = 4


def q_image_color_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact joint RGB histograms (raster/patches.py color_histogram,
    4 bins/channel): one row per non-empty 64-bin bucket.  Oracle:
    independent scalar bucket loop over the generator formula."""
    _utc(spark)
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.patches import color_histogram

    return color_histogram(images_table(spark, _N_HIST_IMAGES), _HIST_B)


def o_image_color_hist() -> str:
    B = _HIST_B
    w_cyc, h_cyc = (16, 32, 64), (16, 24, 48)
    rows = []
    for i in range(_N_HIST_IMAGES):
        w, h = w_cyc[i % 3], h_cyc[i % 3]
        hist: dict = {}
        for y in range(h):
            gb = (y * 255 // (h - 1)) * B // 256
            for x in range(w):
                rb = (x * 255 // (w - 1)) * B // 256
                bb = (((x * 31 + y * 17 + i) % 256) * B) // 256
                k = rb * B * B + gb * B + bb
                hist[k] = hist.get(k, 0) + 1
        rows.extend(f"('img{i:012d}',{k},{n})" for k, n in sorted(hist.items()))
    vals = ",".join(rows)
    return f"""
SELECT image_id, CAST(bin AS INTEGER) AS bin, CAST(n_px AS BIGINT) AS n_px
FROM (VALUES {vals}) AS s(image_id, bin, n_px)
"""


CONTRACT = {
    "hmm_match_tracks": (q_hmm_match_tracks, o_hmm_match_tracks),
    "image_color_hist": (q_image_color_hist, o_image_color_hist),
}
