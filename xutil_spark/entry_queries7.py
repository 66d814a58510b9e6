"""Contract queries, round-3 batch 3: DCT pHash and friends.

Same conventions as entry_queries*.py: every q_* takes (spark, sf_dir)
and returns a DataFrame; every o_* returns ANSI SQL DuckDB runs on the
same inputs (computed-VALUES goldens where the semantics aren't
SQL-expressible).  Column names/aliases match pairwise exactly.
"""

from __future__ import annotations

import math

# --------------------------------------------------------- pHash (DCT)


def _phash_oracle_np(px):
    """Independent per-image pHash: own math.cos basis, two 1-D DCT
    passes via per-image np.dot (vs the engine's single batched
    (B,32,32) tensor contraction), Python-sort median."""
    import numpy as np

    h, w = px.shape[:2]
    g = (px.astype(np.int64) @ np.array([299, 587, 114])) // 1000
    G = g[np.arange(32) * h // 32][:, np.arange(32) * w // 32]

    def rnd(v):
        return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))

    C = np.array([
        [rnd(math.cos(math.pi * (2 * m + 1) * k / 64) * 16384)
         for m in range(32)]
        for k in range(8)
    ], dtype=np.int64)          # only the 8 low-frequency rows needed
    D = C @ G @ C.T             # (8, 8)
    vals = [int(v) for v in D.reshape(64)]
    med = sorted(vals[1:])[31]
    fp = 0
    for j in range(1, 64):
        if vals[j] > med:
            fp |= 1 << j
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def q_image_phash(spark, sf_dir):
    """Perceptual DCT hash over the input_hint images table: decode →
    integer gray → 32×32 resample → fixed-point DCT → low-frequency
    median bits.  The hash feeds the same banded hamming near-dup join
    as dHash/SimHash; unlike dHash it is brightness-shift tolerant."""
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.images import phash_dct

    return phash_dct(images_table(spark, 2000))


def o_image_phash() -> str:
    """Golden VALUES: the scalar-path pHash of every distinct pixel
    pattern (content keys on (i % 3 sizes, i % 256 noise phase) → ≤768
    distinct decodes for 2000 ids)."""
    from xutil_spark.data.synth import pixels_for

    fps: dict = {}
    for i in range(2000):
        kd = (i % 3, i % 256)
        if kd not in fps:
            fps[kd] = _phash_oracle_np(pixels_for(i))
    rows = ",".join(
        f"('img{i:012d}',{fps[(i % 3, i % 256)]})" for i in range(2000)
    )
    return f"""
SELECT image_id, CAST(phash64 AS BIGINT) AS phash64
FROM (VALUES {rows}) AS t(image_id, phash64)
"""


CONTRACT = {
    "image_phash": (q_image_phash, o_image_phash),
}
