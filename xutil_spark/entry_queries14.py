"""Contract queries, round-4 seventh batch: deterministic image
augmentation (raster/images.py ``augment``) — the training-data
transform stage for the image payload (flip / rotate / crop-zoom
selected per image by an id hash).

Same conventions as entry_queries*.py.

Oracle: computed VALUES in the entry_queries6 convention — an
independent scalar replay (plain-int FNV-1a op selection, closed-form
generator pixels, per-op index remapping) of every augmented image's
channel sums and a fixed orientation-sensitive probe pixel; channel
sums are exact integers, so the compare carries no float risk at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from xutil_spark.entry_queries import _utc
from xutil_spark.entry_queries6 import _H_CYC, _W_CYC

_AUG_N = 2000


def q_image_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic augmentation (raster/images.py augment): one
    hash-selected op per image (hflip/vflip/rot90/crop2x), pure numpy
    view/replication transforms, one mapInPandas — then a decode pass
    emits integer channel sums + the (row 2, col 1) probe pixel."""
    import pandas as pd
    from pyspark.sql import types as T

    from xutil_spark.data.synth import images_table
    from xutil_spark.kernels import codec as K_codec
    from xutil_spark.raster.images import augment

    _utc(spark)
    aug = augment(images_table(spark, _AUG_N))

    schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("sum_r", T.LongType(), False),
        T.StructField("sum_g", T.LongType(), False),
        T.StructField("sum_b", T.LongType(), False),
        T.StructField("probe", T.LongType(), False),
    ])

    def stats(batches):
        import numpy as np

        for b in batches:
            rows = {k: [] for k in ("image_id", "op", "w", "h",
                                    "sum_r", "sum_g", "sum_b", "probe")}
            for r in b.itertuples(index=False):
                px = K_codec.decode_image(bytes(r.bytes), int(r.w),
                                          int(r.h), r.fmt).astype(np.int64)
                s = px.sum(axis=(0, 1))
                p = px[2, 1]
                rows["image_id"].append(r.image_id)
                rows["op"].append(r.op)
                rows["w"].append(int(r.w))
                rows["h"].append(int(r.h))
                rows["sum_r"].append(int(s[0]))
                rows["sum_g"].append(int(s[1]))
                rows["sum_b"].append(int(s[2]))
                rows["probe"].append(
                    int(p[0]) * 65536 + int(p[1]) * 256 + int(p[2]))
            yield pd.DataFrame(rows)

    return aug.mapInPandas(stats, schema=schema)


def _o_pixel(i: int, w: int, h: int, x: int, y: int) -> tuple[int, int, int]:
    """Scalar generator pixel (data/synth.py formulas, re-derived)."""
    return (x * 255 // (w - 1), y * 255 // (h - 1),
            (x * 31 + y * 17 + i) % 256)


def _o_fnv(s: str) -> int:
    h = 0xCBF29CE484222325
    for c in s.encode("utf-8"):
        h ^= c
        h = (h * 0x100000001B3) & ((1 << 64) - 1)
    return h


def o_image_augment() -> str:
    # channel-sum caches on the generator's parameter cycles:
    # r/g sums depend on i%3 (dims); b sums on (i%3, i%256)
    sum_rg: dict[int, tuple[int, int]] = {}
    sum_b: dict[tuple[int, int], int] = {}
    crop_rg: dict[int, tuple[int, int]] = {}
    crop_b: dict[tuple[int, int], int] = {}
    rows = []
    for i in range(_AUG_N):
        c = i % 3
        w, h = _W_CYC[c], _H_CYC[c]
        if c not in sum_rg:
            sum_rg[c] = (
                h * sum(x * 255 // (w - 1) for x in range(w)),
                w * sum(y * 255 // (h - 1) for y in range(h)),
            )
            y0, x0 = h // 4, w // 4
            crop_rg[c] = (
                4 * (h // 2) * sum(x * 255 // (w - 1)
                                   for x in range(x0, x0 + w // 2)),
                4 * (w // 2) * sum(y * 255 // (h - 1)
                                   for y in range(y0, y0 + h // 2)),
            )
        kb = (c, i % 256)
        if kb not in sum_b:
            sum_b[kb] = sum((x * 31 + y * 17 + i) % 256
                            for y in range(h) for x in range(w))
            y0, x0 = h // 4, w // 4
            crop_b[kb] = 4 * sum(
                (x * 31 + y * 17 + i) % 256
                for y in range(y0, y0 + h // 2)
                for x in range(x0, x0 + w // 2))
        image_id = f"img{i:012d}"
        op = ("hflip", "vflip", "rot90", "crop2x")[_o_fnv(image_id) % 4]
        if op == "crop2x":
            sr, sg = crop_rg[c]
            sb = crop_b[kb]
        else:
            sr, sg = sum_rg[c]
            sb = sum_b[kb]
        # probe = augmented pixel at (row 2, col 1), per-op remap
        if op == "hflip":
            pr = _o_pixel(i, w, h, w - 2, 2)
            w2, h2 = w, h
        elif op == "vflip":
            pr = _o_pixel(i, w, h, 1, h - 3)
            w2, h2 = w, h
        elif op == "rot90":
            pr = _o_pixel(i, w, h, 2, h - 2)
            w2, h2 = h, w
        else:
            pr = _o_pixel(i, w, h, w // 4, h // 4 + 1)
            w2, h2 = w, h
        probe = pr[0] * 65536 + pr[1] * 256 + pr[2]
        rows.append(f"('{image_id}','{op}',{w2},{h2},{sr},{sg},{sb},{probe})")
    vals = ",".join(rows)
    return f"""
SELECT image_id, op, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
       CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
       CAST(sum_b AS BIGINT) AS sum_b, CAST(probe AS BIGINT) AS probe
FROM (VALUES {vals})
  AS s(image_id, op, w, h, sum_r, sum_g, sum_b, probe)
"""


CONTRACT = {
    "image_augment": (q_image_augment, o_image_augment),
}
