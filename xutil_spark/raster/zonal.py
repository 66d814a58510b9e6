"""Raster↔vector zonal statistics: decoded-pixel aggregates per vector
zone — the classic GIS zonal-stats operator re-expressed for an image
fact table whose "raster" is the decoded image and whose zone
assignment is the phash-derived capture location (the raster↔vector
axis of the BASELINE.json north rule; no reference counterpart —
xutil's gis.go stops at tile/coordinate math).

Stage shape (the 100-TB story):

1. ``pixel_sums`` — ONE ``mapInPandas`` projection decodes each Arrow
   batch grouped by format and shape (``codec.decode_batch``,
   numpy+zlib) and reduces every image to integer channel sums + a
   pixel count.  Zero shuffle; pixels never re-materialize
   downstream, so the shuffled row is ~40 bytes regardless of image
   size.
2. zone assignment — the filter-refine point-in-polygon join
   (operators/spatial_join.point_in_polygon_join): the zones' bbox
   cover cells ship once per executor as one sorted array; each fact
   row's cell is looked up in it and the exact even-odd ray-cast
   refines, in one ``mapInPandas`` pass.  Fact-side cost: that pass,
   no join, no shuffle.
3. per-zone reduce — ``groupBy(zone_id)`` with map-side combine: the
   only shuffle carries partial (count, 4×int64-sum) rows at
   n_partitions × n_zones cardinality.

Channel sums are int64 (a 2^26-pixel image still sums < 2^34 per
channel), so zone means are exact-integer ratios — reproducible
bit-for-bit under any partitioning, and SQL-oracle-able.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xutil_spark.kernels import codec as K_codec

_SUM_FIELDS = [
    T.StructField("sum_r", T.LongType(), False),
    T.StructField("sum_g", T.LongType(), False),
    T.StructField("sum_b", T.LongType(), False),
    T.StructField("n_px", T.LongType(), False),
]


def pixel_sums(images: DataFrame) -> DataFrame:
    """Decode every image and emit exact per-channel int64 pixel sums
    plus the pixel count; every non-``bytes`` column (caption, phash,
    derived lon/lat, …) passes through untouched."""
    keep = [f for f in images.schema.fields if f.name != "bytes"]
    keep_names = [f.name for f in keep]
    schema = T.StructType(keep + _SUM_FIELDS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            # one grouped decode per batch: images of one format and
            # shape decode together, and their sums are one integer
            # reduction (exact, as the per-image int64 sum)
            sums = np.zeros((len(b), 3), dtype=np.int64)
            for pos, px in K_codec.decode_batch(b["bytes"], b["w"], b["h"], b["fmt"]):
                sums[pos] = K_codec._channel_sums(px)
            out = b[keep_names].reset_index(drop=True)
            out["sum_r"], out["sum_g"], out["sum_b"] = sums.T
            out["n_px"] = b["w"].to_numpy(np.int64) * b["h"].to_numpy(np.int64)
            yield out

    return images.mapInPandas(run, schema=schema)


def zonal_pixel_stats(
    images: DataFrame,
    zones: DataFrame,
    zoom: int = 5,
    zone_id: str = "zone_id",
    wkt: str = "wkt",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Per-zone decoded-pixel statistics.

    ``images`` must carry the capture location columns (``lon``/``lat``
    — e.g. via ``data.synth.with_location``) alongside the input_hint
    image columns; ``zones`` is a (zone_id, wkt POLYGON) dim.  Images
    inside overlapping zones contribute to each (join semantics);
    images outside every zone drop.

    Output: one row per matched zone — image count, total pixels,
    exact int64 channel sums, and 6-dp channel means.
    """
    from xutil_spark.operators.spatial_join import point_in_polygon_join

    sums = pixel_sums(images).select(
        lon, lat, "sum_r", "sum_g", "sum_b", "n_px"
    )
    j = point_in_polygon_join(
        sums, zones, zoom=zoom, poly_id=zone_id, wkt=wkt, lon=lon, lat=lat
    )
    agg = j.groupBy(zone_id).agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_px").alias("total_px"),
        F.sum("sum_r").alias("sum_r"),
        F.sum("sum_g").alias("sum_g"),
        F.sum("sum_b").alias("sum_b"),
    )
    return agg.select(
        zone_id,
        "n_images",
        "total_px",
        "sum_r",
        "sum_g",
        "sum_b",
        F.round(F.col("sum_r").cast("double") / F.col("total_px").cast("double"), 6).alias("mean_r"),
        F.round(F.col("sum_g").cast("double") / F.col("total_px").cast("double"), 6).alias("mean_g"),
        F.round(F.col("sum_b").cast("double") / F.col("total_px").cast("double"), 6).alias("mean_b"),
    )
