"""Contract queries, round-4 thirteenth batch: trajectory-similarity
join (operators/trajsim.py — symmetric Hausdorff ≤ τ over cell-blocked
candidate pairs), per-document bigram language-model quality scores
(operators/textops.py bigram_lm_scores), and per-image color entropy
(raster/patches.py color_entropy).

Same conventions as every entry_queries*.py.

Oracle strategy:

- ``traj_hausdorff``: computed-VALUES golden from an independent
  pure-Python (math.*, no numpy, no engine imports) all-pairs replay.
  The engine prunes candidates through the cell block, but the
  prefilter is COMPLETE for the τ filter (Hausdorff ≤ τ ⇒ some
  cross-track point pair ≤ τ ⇒ the pair meets in the ring-1 block),
  so the replay can skip it and brute-force every sampled pair.  The
  Hausdorff kernel is min/max-only — no summation — hence bit-exact
  between numpy and the scalar replay.
- ``caption_bigram_lm``: pure SQL (no VALUES) — the add-one bigram LM
  is fully relational; each distinct bigram's ln-likelihood is
  quantized to integer micro-nats on both sides, making the per-doc
  sum an exact integer.
- ``image_entropy``: computed-VALUES golden replaying the synthetic
  pixel generator + the SEQUENTIAL ascending-bin entropy accumulation
  (the same contract pinned by ``image_color_hist``).
- ``traj_dtw``: computed-VALUES golden from an independent pure-Python
  all-pairs DTW replay (math.*, no numpy, no engine imports).  The
  engine quantizes every step cost to INTEGER MILLIMETERS before the
  summing DP, so the minimum-cost total is exact integer arithmetic —
  numpy and the scalar replay agree digit-for-digit — and the cell
  block is complete for dtw_norm ≤ τ (norm ≥ min-pair-distance / 2,
  block sized to 2·τ), so the replay brute-forces every sampled pair
  without modeling the prefilter.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import _read, _utc
from xutil_spark.entry_queries6 import _fmt_f

_TAU_M = 800_000.0
_TRK_MOD = 11  # user subset: user_id % 11 == 0
_K_M = 111194.92664455873  # π/180 × 6371000, = spatial_join._M_PER_DEG


def q_traj_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-similarity join: sampled user tracks paired when
    their symmetric Hausdorff distance ≤ 800 km.  Engine: one distinct
    at (track, cell), half-space ring explode + one equi-join for
    candidates, two array-dim joins, one vectorized mapInPandas."""
    _utc(spark)
    from xutil_spark.entry_queries12 import _located_events
    from xutil_spark.operators.trajsim import hausdorff_join

    ev = _located_events(spark, sf_dir).filter(
        F.col("user_id") % _TRK_MOD == 0)
    return hausdorff_join(ev, tau_m=_TAU_M, track="user_id")


def _scalar_pair_h(a: list, b: list) -> tuple[float, float, float]:
    """Independent scalar Hausdorff (mirrors the documented kernel:
    equirectangular meters at the pair-mean latitude; min/max only)."""
    def d(p, q):
        kx = _K_M * math.cos(math.radians((p[1] + q[1]) * 0.5))
        dx = (q[0] - p[0]) * kx
        dy = (q[1] - p[1]) * _K_M
        return math.sqrt(dx * dx + dy * dy)

    h_ab = max(min(d(p, q) for q in b) for p in a)
    h_ba = max(min(d(p, q) for p in a) for q in b)
    return round(h_ab, 3), round(h_ba, 3), round(max(h_ab, h_ba), 3)


def o_traj_hausdorff() -> str:
    import duckdb as _dd

    con = _dd.connect()
    ev = con.execute(
        "SELECT user_id, event_id FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet') "
        f"WHERE user_id % {_TRK_MOD} = 0"
    ).fetchall()
    con.close()
    tracks: dict = {}
    for uid, eid in ev:
        lon = 73.5 + (eid * 2654435761 % 1048576) / 1048576.0 * 61.0
        lat = 18.2 + (eid * 1597334677 % 1048576) / 1048576.0 * 35.3
        tracks.setdefault(uid, []).append((lon, lat))
    uids = sorted(tracks)
    rows = []
    for i, ua in enumerate(uids):
        for ub in uids[i + 1:]:
            h_ab, h_ba, h = _scalar_pair_h(tracks[ua], tracks[ub])
            if h <= _TAU_M:
                rows.append(
                    f"({ua},{ub},{_fmt_f(h_ab)},{_fmt_f(h_ba)},{_fmt_f(h)})")
    vals = ",".join(rows)
    return f"""
SELECT CAST(track_a AS BIGINT) AS track_a,
       CAST(track_b AS BIGINT) AS track_b,
       CAST(h_ab_m AS DOUBLE) AS h_ab_m,
       CAST(h_ba_m AS DOUBLE) AS h_ba_m,
       CAST(hausdorff_m AS DOUBLE) AS hausdorff_m
FROM (VALUES {vals})
  AS s(track_a, track_b, h_ab_m, h_ba_m, hausdorff_m)
"""


_FR_TAU_M = 3_000_000.0


def q_traj_frechet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-AWARE trajectory-similarity join: sampled user tracks in
    (ts, event_id) sequence paired when their discrete Fréchet distance
    ≤ 3,000 km.  τ is at planetary scale here, so the candidate stage
    takes the documented all-pairs fallback at TRACK cardinality (a
    broadcast nested-loop over track ids, never over points); the DP
    kernel is the cost driver either way."""
    _utc(spark)
    from xutil_spark.entry_queries12 import _located_events
    from xutil_spark.operators.trajsim import frechet_join

    ev = _located_events(spark, sf_dir).filter(
        F.col("user_id") % _TRK_MOD == 0)
    return frechet_join(ev, tau_m=_FR_TAU_M, track="user_id",
                        ts="ts", tiebreak="event_id")


def _scalar_pair_f(a: list, b: list) -> float:
    """Independent scalar discrete-Fréchet DP (mirrors the documented
    kernel: min/max only over the same equirectangular distances)."""
    def d(p, q):
        kx = _K_M * math.cos(math.radians((p[1] + q[1]) * 0.5))
        dx = (q[0] - p[0]) * kx
        dy = (q[1] - p[1]) * _K_M
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


def o_traj_frechet() -> str:
    import duckdb as _dd

    con = _dd.connect()
    ev = con.execute(
        "SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet') "
        f"WHERE user_id % {_TRK_MOD} = 0"
    ).fetchall()
    con.close()
    tracks: dict = {}
    for uid, eid, ep in ev:
        lon = 73.5 + (eid * 2654435761 % 1048576) / 1048576.0 * 61.0
        lat = 18.2 + (eid * 1597334677 % 1048576) / 1048576.0 * 35.3
        tracks.setdefault(uid, []).append((ep, eid, lon, lat))
    # sequence order = (epoch, event_id), matching the engine's
    # array_sort on struct(struct(ts, event_id), lon, lat)
    seqs = {u: [(lo, la) for _, _, lo, la in sorted(v)]
            for u, v in tracks.items()}
    uids = sorted(seqs)
    rows = []
    for i, ua in enumerate(uids):
        for ub in uids[i + 1:]:
            f = _scalar_pair_f(seqs[ua], seqs[ub])
            if f <= _FR_TAU_M:
                rows.append(f"({ua},{ub},{_fmt_f(f)})")
    vals = ",".join(rows)
    return f"""
SELECT CAST(track_a AS BIGINT) AS track_a,
       CAST(track_b AS BIGINT) AS track_b,
       CAST(frechet_m AS DOUBLE) AS frechet_m
FROM (VALUES {vals}) AS s(track_a, track_b, frechet_m)
"""


_DTW_TAU_M = 900_000.0


def q_traj_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping trajectory join: sampled user tracks in
    (ts, event_id) sequence paired when their length-normalized DTW
    cost ≤ 900 km — the pace-tolerant third metric next to Hausdorff
    (set) and Fréchet (order).  Engine: the 2·τ-sized cell block for
    candidates, then one pair-batched integer-millimeter DP kernel."""
    _utc(spark)
    from xutil_spark.entry_queries12 import _located_events
    from xutil_spark.operators.trajsim import dtw_join

    ev = _located_events(spark, sf_dir).filter(
        F.col("user_id") % _TRK_MOD == 0)
    return dtw_join(ev, tau_norm_m=_DTW_TAU_M, track="user_id",
                    ts="ts", tiebreak="event_id")


def _scalar_pair_dtw(a: list, b: list) -> tuple[int, float]:
    """Independent scalar DTW replay (mirrors the documented kernel:
    each step cost = equirectangular meters at the pair-mean latitude,
    rounded HALF-AWAY to integer millimeters BEFORE the DP, so the
    minimum-cost sum is exact integer arithmetic)."""
    def dmm(p, q):
        kx = _K_M * math.cos(math.radians((p[1] + q[1]) * 0.5))
        dx = (q[0] - p[0]) * kx
        dy = (q[1] - p[1]) * _K_M
        return int(math.floor(math.sqrt(dx * dx + dy * dy) * 1000.0 + 0.5))

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


def o_traj_dtw() -> str:
    import duckdb as _dd

    con = _dd.connect()
    ev = con.execute(
        "SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet') "
        f"WHERE user_id % {_TRK_MOD} = 0"
    ).fetchall()
    con.close()
    tracks: dict = {}
    for uid, eid, ep in ev:
        lon = 73.5 + (eid * 2654435761 % 1048576) / 1048576.0 * 61.0
        lat = 18.2 + (eid * 1597334677 % 1048576) / 1048576.0 * 35.3
        tracks.setdefault(uid, []).append((ep, eid, lon, lat))
    seqs = {u: [(lo, la) for _, _, lo, la in sorted(v)]
            for u, v in tracks.items()}
    uids = sorted(seqs)
    rows = []
    for i, ua in enumerate(uids):
        for ub in uids[i + 1:]:
            total, norm = _scalar_pair_dtw(seqs[ua], seqs[ub])
            if norm <= _DTW_TAU_M:
                rows.append(f"({ua},{ub},{total},{_fmt_f(norm)})")
    vals = ",".join(rows)
    return f"""
SELECT CAST(track_a AS BIGINT) AS track_a,
       CAST(track_b AS BIGINT) AS track_b,
       CAST(dtw_mm_total AS BIGINT) AS dtw_mm_total,
       CAST(dtw_norm_m AS DOUBLE) AS dtw_norm_m
FROM (VALUES {vals}) AS s(track_a, track_b, dtw_mm_total, dtw_norm_m)
"""


# --------------------------------------------- segment crossings

_XC_ZOOM = 6
_XC_MOD = 5  # user subset: user_id % 5 == 0


def q_seg_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line×line spatial join (operators/intersections.py): how many
    sampled-user trail segments properly CROSS each supplier-chain
    road segment, plus how many distinct users.  Supercover-blocked
    equi-join + IEEE-exact orientation signs — no rounding contract
    needed anywhere."""
    _utc(spark)
    from pyspark.sql.window import Window

    from xutil_spark.entry_queries10 import _segments
    from xutil_spark.entry_queries12 import _located_events
    from xutil_spark.operators.intersections import (
        crossing_counts,
        crossing_pairs,
    )

    ev = _located_events(spark, sf_dir).filter(
        F.col("user_id") % _XC_MOD == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tseg = (
        ev.select(
            "user_id", F.col("event_id").alias("a_eid"), "lon", "lat",
            F.lead("lon").over(w).alias("nlon"),
            F.lead("lat").over(w).alias("nlat"),
        )
        .filter(F.col("nlon").isNotNull())
    )
    roads = _segments(spark, sf_dir)
    pairs = crossing_pairs(
        tseg, roads, zoom=_XC_ZOOM, a_id="a_eid", b_id="seg_id",
        a_cols=("lon", "lat", "nlon", "nlat"),
        b_cols=("ax", "ay", "bx", "by2"),
        a_extra=("user_id",),  # a_eid → user_id, so the pair distinct
        # cardinality is unchanged and no fact-scale join back (which
        # would recompute the whole window lineage) is needed
    )
    return crossing_counts(pairs, b_id="seg_id", group_a="user_id")


def o_seg_crossings() -> str:
    from xutil_spark.entry_queries3 import _EV_LAT, _EV_LON
    from xutil_spark.entry_queries10 import _SEGS_SQL

    return f"""
WITH ev AS (
  SELECT user_id, event_id, ts, {_EV_LON} AS lon, {_EV_LAT} AS lat
  FROM events WHERE user_id % {_XC_MOD} = 0
),
tseg AS (
  SELECT user_id, event_id AS a_eid, lon, lat,
         LEAD(lon) OVER w AS nlon, LEAD(lat) OVER w AS nlat
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
roads AS ({_SEGS_SQL}),
x AS (
  SELECT t.user_id, t.a_eid, r.seg_id
  FROM tseg t CROSS JOIN roads r
  WHERE t.nlon IS NOT NULL
    AND ((t.nlon - t.lon) * (r.ay - t.lat) - (t.nlat - t.lat) * (r.ax - t.lon))
      * ((t.nlon - t.lon) * (r.by2 - t.lat) - (t.nlat - t.lat) * (r.bx - t.lon)) < 0
    AND ((r.bx - r.ax) * (t.lat - r.ay) - (r.by2 - r.ay) * (t.lon - r.ax))
      * ((r.bx - r.ax) * (t.nlat - r.ay) - (r.by2 - r.ay) * (t.nlon - r.ax)) < 0
)
SELECT seg_id,
       CAST(COUNT(*) AS BIGINT) AS n_crossings,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_groups
FROM x GROUP BY seg_id
"""


# ------------------------------------------------------- bigram LM


def q_caption_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one bigram LM quality score per document (integer micro-nat
    quantization makes the per-doc sum order-independent).  Two
    map-side-combined counts + broadcast model joins."""
    _utc(spark)
    from xutil_spark.operators.textops import bigram_lm_scores

    docs = _read(spark, sf_dir, "documents")
    return bigram_lm_scores(docs)


def o_caption_bigram_lm() -> str:
    return r"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS a
  FROM documents
),
uni AS (
  SELECT w, COUNT(*) AS c_w
  FROM (SELECT unnest(a) AS w FROM d) GROUP BY 1
),
v AS (SELECT COUNT(*) AS v FROM uni),
bi AS (
  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
  FROM d, unnest(generate_series(1, len(a) - 1)) AS g(i)
),
usage AS (
  SELECT doc_id, w1, w2, COUNT(*) AS m FROM bi GROUP BY 1, 2, 3
),
big AS (
  SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS n_pair FROM usage GROUP BY 1, 2
),
scored AS (
  SELECT u.doc_id, u.m,
         CAST(ROUND(LN(CAST(b.n_pair + 1 AS DOUBLE)
                       / CAST(c.c_w + v.v AS DOUBLE)) * 1000000.0, 0)
              AS BIGINT) AS llq
  FROM usage u
  JOIN big b ON b.w1 = u.w1 AND b.w2 = u.w2
  JOIN uni c ON c.w = u.w1
  CROSS JOIN v
)
SELECT doc_id,
       CAST(SUM(m) AS BIGINT) AS n_bigrams,
       ROUND(CAST(CAST(SUM(m * llq) AS BIGINT) AS DOUBLE)
             / CAST(SUM(m) AS BIGINT) / 1000000.0, 6) AS avg_ll
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------- color entropy

_N_ENT_IMAGES = 500
_ENT_B = 4


def q_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the exact 64-bin joint RGB histogram per
    image (raster/patches.py color_entropy): one mapInPandas pass, the
    Σ a pinned sequential ascending-bin accumulation."""
    _utc(spark)
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.patches import color_entropy

    return color_entropy(images_table(spark, _N_ENT_IMAGES), _ENT_B)


def o_image_entropy() -> str:
    B = _ENT_B
    w_cyc, h_cyc = (16, 32, 64), (16, 24, 48)
    rows = []
    for i in range(_N_ENT_IMAGES):
        w, h = w_cyc[i % 3], h_cyc[i % 3]
        hist: dict = {}
        for y in range(h):
            gb = (y * 255 // (h - 1)) * B // 256
            for x in range(w):
                rb = (x * 255 // (w - 1)) * B // 256
                bb = (((x * 31 + y * 17 + i) % 256) * B) // 256
                k = rb * B * B + gb * B + bb
                hist[k] = hist.get(k, 0) + 1
        n = w * h
        s = 0.0
        for k in sorted(hist):
            c = hist[k]
            s += c * math.log2(c)
        ent = round(math.log2(n) - s / n, 9)
        rows.append(f"('img{i:012d}',{len(hist)},{n},{_fmt_f(ent)})")
    vals = ",".join(rows)
    return f"""
SELECT image_id, CAST(n_bins AS INTEGER) AS n_bins,
       CAST(n_px AS BIGINT) AS n_px,
       CAST(entropy_bits AS DOUBLE) AS entropy_bits
FROM (VALUES {vals}) AS s(image_id, n_bins, n_px, entropy_bits)
"""


CONTRACT = {
    "traj_hausdorff": (q_traj_hausdorff, o_traj_hausdorff),
    "traj_frechet": (q_traj_frechet, o_traj_frechet),
    "traj_dtw": (q_traj_dtw, o_traj_dtw),
    "seg_crossings": (q_seg_crossings, o_seg_crossings),
    "caption_bigram_lm": (q_caption_bigram_lm, o_caption_bigram_lm),
    "image_entropy": (q_image_entropy, o_image_entropy),
}
