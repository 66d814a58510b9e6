"""Streaming geofence: assignment expression, transition semantics,
and state carry across micro-batches."""

import os
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from xutil_spark.operators.geofence import FENCES, fence_assign


def _scalar_fence(lon, lat):
    for fid, w, s, e, n in FENCES:
        if w <= lon < e and s <= lat < n:
            return fid
    return -1


def test_fence_assign_matches_scalar(spark):
    rng = np.random.default_rng(13)
    pdf = pd.DataFrame({
        "lon": np.concatenate([rng.uniform(73, 135, 300),
                               [80.0, 95.0, 115.0, 99.999999]]),
        "lat": np.concatenate([rng.uniform(18, 54, 300),
                               [25.0, 35.0, 45.0, 47.999999]]),
    })
    out = spark.createDataFrame(pdf).select(
        "lon", "lat", fence_assign("lon", "lat").alias("f")
    ).collect()
    for r in out:
        assert r["f"] == _scalar_fence(r["lon"], r["lat"]), (r["lon"], r["lat"])


def test_streaming_geofence_two_microbatches(spark, tmp_path):
    """Transitions across a micro-batch boundary come out of STATE (the
    carry), not the batch itself: replay two files one per trigger and
    compare with the batch lag() ground truth."""
    from xutil_spark.streaming.stateful import streaming_geofence

    # user 1: fence 0 -> fence 0 | fence 1 -> outside   (batch boundary |)
    # user 2: outside -> fence 2 | fence 2 -> fence 3   (no emit for
    #         the 2->2 carry-over at the boundary — state must remember)
    base = pd.Timestamp("2024-01-01")
    ev = pd.DataFrame({
        "event_id": [1, 2, 3, 4, 5, 6, 7, 8],
        "user_id": [1, 1, 2, 2, 1, 1, 2, 2],
        "ts": [base + pd.Timedelta(minutes=m) for m in range(8)],
        "fence": [0, 0, -1, 2, 1, -1, 2, 3],
    })
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    batch1 = ev[ev.event_id <= 4]
    batch2 = ev[ev.event_id > 4]
    src = tmp_path / "src"
    os.makedirs(src)
    batch1.to_parquet(src / "a_first.parquet", index=False)
    batch2.to_parquet(src / "b_second.parquet", index=False)

    schema = spark.read.parquet(str(src / "a_first.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_geofence(stream)
    sink, chk = str(tmp_path / "sink"), str(tmp_path / "chk")
    q = (
        out.writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", chk)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_id"], r["kind"], r["fence_id"])
        for r in spark.read.parquet(sink).collect()
    }
    expect = {
        (1, 1, "enter", 0),          # first event, into fence 0
        (1, 5, "exit", 0), (1, 5, "enter", 1),   # boundary: carry says 0
        (1, 6, "exit", 1),
        (2, 4, "enter", 2),
        (2, 8, "exit", 2), (2, 8, "enter", 3),   # 2->2 over the boundary: silent
    }
    assert got == expect
