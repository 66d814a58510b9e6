"""Structured Streaming surface: windowed cell aggregation.

The reference is strictly batch (SURVEY §2.10); the engine's streaming
story is the same cell-keyed aggregation expressed over readStream —
tumbling windows + watermark for late data.  The north rule's
resumability requirement is served by the batch snapshot layer
(plans.snapshot); streaming checkpoints compose via the standard
``checkpointLocation`` option.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xutil_spark.functions import native


def streaming_cell_counts(
    events: DataFrame,
    zoom: int = 10,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Tumbling-window per-cell counts over a stream of located events.

    Works on any streaming DataFrame with (ts, lon, lat); watermark
    bounds state for late data.  The cell id is the same native
    expression as the batch path — one code path, two execution modes.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .withColumn("cell", native.cell(lon_col, lat_col, zoom))
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("cell"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "cell", "n_events",
        )
    )
