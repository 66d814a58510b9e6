"""encounter_join (spatiotemporal co-location) vs brute force.

The bucketed (cell, time-bucket) candidate generation must be EXACT:
every event pair within (radius, window) surfaces exactly once, none
beyond survive, and the per-pair aggregates match a dense numpy
reference.
"""

import numpy as np
import pandas as pd
import pytest

from xutil_spark.kernels.distance import point_dist_haversine


def _brute(pdf, radius_m, window_s):
    """Dense all-pairs reference: dict (ua, ub) -> [count, min_dist]."""
    out = {}
    n = len(pdf)
    lon = pdf["lon"].to_numpy(float)
    lat = pdf["lat"].to_numpy(float)
    ep = pdf["ep"].to_numpy(np.int64)
    ent = pdf["user_id"].to_numpy(np.int64)
    for i in range(n):
        d = point_dist_haversine(lon[i], lat[i], lon, lat)
        ok = (
            (np.abs(ep - ep[i]) <= window_s)
            & (d <= radius_m)
            & (ent != ent[i])
        )
        ok[: i + 1] = False  # each unordered event pair once
        for j in np.nonzero(ok)[0]:
            key = (min(ent[i], ent[j]), max(ent[i], ent[j]))
            cur = out.setdefault(key, [0, np.inf])
            cur[0] += 1
            cur[1] = min(cur[1], float(d[j]))
    return out


def _polar_events(rng, n, lat_lo, lat_hi):
    """Events spread over a ~250 km-wide band near the pole, one user
    of 40 each, over 14 days."""
    return pd.DataFrame({
        "event_id": np.arange(n),
        "user_id": rng.integers(0, 40, n),
        "lon": rng.uniform(10, 32, n),
        "lat": rng.uniform(lat_lo, lat_hi, n),
        "ep": rng.integers(1_700_000_000, 1_700_000_000 + 14 * 86_400, n),
    })


@pytest.mark.parametrize("radius,window,shape", [
    pytest.param(100_000.0, 86_400, "mid", id="100000.0-86400"),
    pytest.param(40_000.0, 3_600, "mid", id="40000.0-3600"),
    # the zoom must follow the events' latitude, not a fixed envelope
    (20_000.0, 14 * 86_400, "polar"),
    (100_000.0, 14 * 86_400, "polar"),
    # plus rows beyond the tile limit (±85.0511°) at both poles
    (20_000.0, 14 * 86_400, "poles"),
])
def test_encounter_join_matches_brute(spark, radius, window, shape):
    from xutil_spark.operators.encounters import encounter_join

    rng = np.random.default_rng(int(radius) % 9973)
    n = 900
    if shape == "mid":
        pdf = pd.DataFrame({
            "event_id": np.arange(n),
            "user_id": rng.integers(0, 40, n),
            # clustered so pairs actually happen: 6 hotspots + noise
            "lon": np.concatenate([
                rng.normal(rng.uniform(75, 130), 0.6, n // 2),
                rng.uniform(73, 134, n - n // 2)]),
            "lat": np.concatenate([
                rng.normal(rng.uniform(20, 50), 0.5, n // 2),
                rng.uniform(18, 53, n - n // 2)]),
            "ep": rng.integers(1_700_000_000,
                               1_700_000_000 + 14 * 86_400, n),
        })
    elif radius < 50_000.0:
        pdf = _polar_events(rng, 400, 83.0, 85.0)
    else:
        pdf = _polar_events(rng, n, 78.0, 84.0)
    if shape == "poles":
        north = _polar_events(rng, 60, 85.0511, 90.0)
        south = _polar_events(rng, 60, -90.0, -85.0511)
        south.loc[:2, "lat"] = -90.0
        north.loc[:2, "lat"] = 90.0
        pdf = pd.concat([pdf, north, south], ignore_index=True)
        pdf["event_id"] = np.arange(len(pdf))
    from pyspark.sql import functions as F
    sdf = spark.createDataFrame(pdf).withColumn(
        "ts", F.timestamp_seconds(F.col("ep")))

    got = {(r["entity_a"], r["entity_b"]): (r["n_encounters"], r["min_dist_m"])
           for r in encounter_join(
               sdf, radius_m=radius, window_s=window).collect()}
    want = _brute(pdf, radius, window)
    assert set(got) == set(want)
    assert len(want) >= 5  # the shape actually exercises matches
    for key, (cnt, dmin) in want.items():
        g = got[key]
        assert g[0] == cnt, (key, g, cnt)
        assert g[1] == pytest.approx(round(dmin, 3), abs=1e-6), key


def test_pick_encounter_zoom_monotone():
    from xutil_spark.operators.spatial_join import (
        _MAX_CELL_ZOOM,
        _ring_guarantee_m,
        _pick_ring_zoom,
    )

    for r in (500.0, 5_000.0, 100_000.0, 800_000.0):
        z = _pick_ring_zoom(r, 1, 60.0)
        assert _ring_guarantee_m(z, 1) >= r
        if z < _MAX_CELL_ZOOM:
            assert _ring_guarantee_m(z + 1, 1) < r


def test_encounter_negative_epoch_floor_bucket(spark):
    """Pre-1970 timestamps: floor (not truncate-toward-zero) bucketing
    keeps the |Δt| ≤ W ⇒ bucket-diff ≤ 1 coverage argument true."""
    from pyspark.sql import functions as F

    from xutil_spark.operators.encounters import encounter_join

    pdf = pd.DataFrame({
        "event_id": [1, 2],
        "user_id": [1, 2],
        "lon": [100.0, 100.001],
        "lat": [30.0, 30.0],
        # straddle a bucket boundary just below zero: -1 and +1 seconds
        "ep": [-1, 1],
    })
    sdf = spark.createDataFrame(pdf).withColumn(
        "ts", F.timestamp_seconds(F.col("ep")))
    out = encounter_join(sdf, radius_m=1_000.0, window_s=10).collect()
    assert len(out) == 1 and out[0]["n_encounters"] == 1
