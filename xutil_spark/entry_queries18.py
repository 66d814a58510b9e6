"""Contract queries, round-4 eleventh batch: the training-data prep
operators — ViT patch extraction + Laplacian sharpness scoring
(raster/patches.py), token-budget sequence packing
(operators/packing.py), and video scene-cut detection
(raster/av.py scene_cuts over data/synth_av.py scene videos).

Same conventions as every entry_queries*.py: q_* takes (spark, sf_dir)
and returns a DataFrame; o_* returns ANSI SQL DuckDB runs on the same
inputs.

Oracle strategy: the media queries use the computed-VALUES pattern of
entry_queries6 — every expected patch digest / Laplacian sum / frame
diff is RE-DERIVED by independent scalar pure-Python loops over the
deterministic generator formulas (no engine numpy/codec code), so a
bug anywhere in the decode → feature path is a driver hash mismatch.
Sequence packing gets a recursive-CTE oracle that replays the greedy
fold row-by-row per shard — the same independent-replay trick as the
connected-components oracles.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import _read, _utc
from xutil_spark.entry_queries6 import _fmt_f

# independent literal copies of the generator parameter cycles
# (data/synth.py) — drift on either side is a driver mismatch
_W_CYC = (16, 32, 64)
_H_CYC = (16, 24, 48)

_N_PATCH_IMAGES = 600
_PATCH = 16
_N_SHARP_IMAGES = 600

_PACK_BUDGET = 512
_PACK_SHARDS = 8

_N_SCENE_VIDEOS = 80
_SCENE_W, _SCENE_H = 16, 12
_SCENE_FRAMES, _SCENE_LEN = 24, 8
_SCENE_THRESHOLD = 20_000


def _px(i: int, x: int, y: int, w: int, h: int) -> tuple[int, int, int]:
    """Scalar generator pixel (synth.py _pixels), pure ints."""
    return (
        x * 255 // max(w - 1, 1),
        y * 255 // max(h - 1, 1),
        (x * 31 + y * 17 + i) % 256,
    )


# ------------------------------------------------------- image patches


def q_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style 16×16 patch extraction (raster/patches.py patchify):
    decode → full-patch grid → exact channel means + all-channel sum +
    raw-RGB patch bytes, md5-digested JVM-side so the row is scalar-
    hashable.  Oracle: independent scalar re-derivation of every
    patch's sums and digest from the generator formula."""
    _utc(spark)
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.patches import patchify

    p = patchify(images_table(spark, _N_PATCH_IMAGES), _PATCH)
    return p.select(
        "image_id", "py", "px", "mean_r", "mean_g", "mean_b", "psum",
        F.md5("bytes").alias("patch_md5"),
    )


def o_image_patches() -> str:
    P = _PATCH
    area = P * P
    rows = []
    for i in range(_N_PATCH_IMAGES):
        w, h = _W_CYC[i % 3], _H_CYC[i % 3]
        for py in range(h // P):
            for px_ in range(w // P):
                sr = sg = sb = 0
                buf = bytearray()
                for y in range(py * P, py * P + P):
                    for x in range(px_ * P, px_ * P + P):
                        r, g, bch = _px(i, x, y, w, h)
                        sr += r
                        sg += g
                        sb += bch
                        buf += bytes((r, g, bch))
                md5 = hashlib.md5(bytes(buf)).hexdigest()
                rows.append(
                    f"('img{i:012d}',{py},{px_},"
                    f"{_fmt_f(round(sr / area, 6))},"
                    f"{_fmt_f(round(sg / area, 6))},"
                    f"{_fmt_f(round(sb / area, 6))},"
                    f"{sr + sg + sb},'{md5}')"
                )
    vals = ",".join(rows)
    return f"""
SELECT image_id, CAST(py AS INTEGER) AS py, CAST(px AS INTEGER) AS px,
       CAST(mean_r AS DOUBLE) AS mean_r, CAST(mean_g AS DOUBLE) AS mean_g,
       CAST(mean_b AS DOUBLE) AS mean_b, CAST(psum AS BIGINT) AS psum,
       patch_md5
FROM (VALUES {vals})
  AS s(image_id, py, px, mean_r, mean_g, mean_b, psum, patch_md5)
"""


# ----------------------------------------------------- image sharpness


def q_image_sharpness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplacian-variance blur scoring (raster/patches.py
    sharpness_stats) — the training-data image-quality filter.  Exact
    integer ΣL/ΣL²/count plus the one-expression float variance."""
    _utc(spark)
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.patches import sharpness_stats

    return sharpness_stats(images_table(spark, _N_SHARP_IMAGES))


def o_image_sharpness() -> str:
    rows = []
    for i in range(_N_SHARP_IMAGES):
        w, h = _W_CYC[i % 3], _H_CYC[i % 3]
        g = [[(299 * r + 587 * gg + 114 * bb) // 1000
              for x in range(w)
              for r, gg, bb in (_px(i, x, y, w, h),)]
             for y in range(h)]
        ls = lq = 0
        for y in range(1, h - 1):
            gy, gu, gd = g[y], g[y - 1], g[y + 1]
            for x in range(1, w - 1):
                L = 4 * gy[x] - gu[x] - gd[x] - gy[x - 1] - gy[x + 1]
                ls += L
                lq += L * L
        n = (w - 2) * (h - 2)
        sharp = round(lq / n - (ls / n) ** 2, 6) if n else 0.0
        rows.append(f"('img{i:012d}',{ls},{lq},{n},{_fmt_f(sharp)})")
    vals = ",".join(rows)
    return f"""
SELECT image_id, CAST(lap_sum AS BIGINT) AS lap_sum,
       CAST(lap_sq AS BIGINT) AS lap_sq, CAST(n_int AS BIGINT) AS n_int,
       CAST(sharpness AS DOUBLE) AS sharpness
FROM (VALUES {vals}) AS s(image_id, lap_sum, lap_sq, n_int, sharpness)
"""


# ----------------------------------------------------- sequence packing


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/packing.py) over the
    documents table: whitespace token counts → greedy 512-token bins
    per doc_id%8 shard.  Oracle: recursive-CTE replay of the greedy
    fold."""
    _utc(spark)
    from xutil_spark.operators.packing import pack_sequences
    from xutil_spark.operators.textops import token_count

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens"))
    return pack_sequences(docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)


def o_seq_packing() -> str:
    toks = ("list_filter(string_split(regexp_replace(lower(trim(text)), "
            "'\\s+', ' ', 'g'), ' '), x -> x <> '')")
    B, S = _PACK_BUDGET, _PACK_SHARDS
    return f"""
WITH RECURSIVE t AS (
  SELECT doc_id, CAST(doc_id % {S} AS INTEGER) AS shard,
         CAST(len({toks}) AS BIGINT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY doc_id % {S} ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS seq_id, n_tokens AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.fill + t.n_tokens > {B} THEN p.seq_id + 1
              ELSE p.seq_id END,
         CASE WHEN p.fill + t.n_tokens > {B} THEN t.n_tokens
              ELSE p.fill + t.n_tokens END
  FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, shard,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(fill - n_tokens AS BIGINT) AS seq_offset,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM pack
"""


# ---------------------------------------------------- video scene cuts


def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection (raster/av.py scene_cuts, circular
    metric) over scene-structured synthetic videos: one row per
    consecutive frame pair with the exact integer circular diff sum
    and the cut flag.  Oracle: independent scalar replay of generator
    + circular difference."""
    _utc(spark)
    from xutil_spark.data.synth_av import video_scene_table
    from xutil_spark.raster.av import scene_cuts

    vids = video_scene_table(
        spark, _N_SCENE_VIDEOS, w=_SCENE_W, h=_SCENE_H,
        n_frames=_SCENE_FRAMES, scene_len=_SCENE_LEN)
    return scene_cuts(vids, threshold=_SCENE_THRESHOLD, circular=True)


def _scene_px(i: int, f: int, x: int, y: int) -> tuple[int, int, int]:
    """Scalar scene-video pixel (synth_av.video_scene_frames_for)."""
    off = (i * 131 + (f // _SCENE_LEN) * 977) % 256
    return (
        (x * 3 + f * 7 + i + off) % 256,
        (y * 5 + f * 11 + i * 3 + 2 * off) % 256,
        (x + y + f * 13 + i * 5 + 3 * off) % 256,
    )


def o_video_scene_cuts() -> str:
    rows = []
    for i in range(_N_SCENE_VIDEOS):
        for f in range(1, _SCENE_FRAMES):
            d = 0
            for y in range(_SCENE_H):
                for x in range(_SCENE_W):
                    a = _scene_px(i, f, x, y)
                    b = _scene_px(i, f - 1, x, y)
                    for c in range(3):
                        ad = abs(a[c] - b[c])
                        d += min(ad, 256 - ad)
            rows.append(
                f"('vid{i:06d}',{f},{d},"
                f"{'TRUE' if d > _SCENE_THRESHOLD else 'FALSE'})")
    vals = ",".join(rows)
    return f"""
SELECT video_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(diff_sum AS BIGINT) AS diff_sum, is_cut
FROM (VALUES {vals}) AS s(video_id, frame_idx, diff_sum, is_cut)
"""


CONTRACT = {
    "image_patches": (q_image_patches, o_image_patches),
    "image_sharpness": (q_image_sharpness, o_image_sharpness),
    "seq_packing": (q_seq_packing, o_seq_packing),
    "video_scene_cuts": (q_video_scene_cuts, o_video_scene_cuts),
}
