"""Spatiotemporal encounter (co-location) join: pairs of entities whose
events came within ``radius_m`` meters AND ``window_s`` seconds of each
other — the proximity/contact primitive (co-visit mining, contact
tracing, convoy seeding).

The reference has no multi-entity operator; this extends its
point-distance kernel (gis.go:196-206 ``PointDistHaversine``) into a
self-join the same way knn/distance_join extend it into point→dim
joins (SURVEY §2.3).

Engine shape — a **bucketed fact×fact self-join**, never a cross join:

1. each event gets a packed cell id (zoom sized from the events' own
   max |lat| so a ring-1 block provably covers ``radius_m``) and an
   integer time bucket ``floor(epoch / window_s)``;
2. the LEFT side explodes to the HALF-SPACE of its 3×3×3
   space-time neighbor block — the lexicographically-positive offsets
   plus self (14 keys).  |Δt| ≤ W ⇒ bucket diff ≤ 1 under
   floor division, so every true pair is covered; cross-key pairs are
   generated from exactly one side (the mirror offset is not in the
   set) and same-key pairs dedup by entity order — no distinct pass,
   and HALF the exploded key stream of the naive full block;
3. ONE equi-join on (cell, bucket) — Catalyst plans a shuffled hash /
   sort-merge join both sides partitioned by the composite key; AQE
   skew-split handles hot (cell, bucket) combos, ``salt_hot_cells``
   composes for pathological ones;
4. exact filter: entity_l < entity_r (different entities, each
   unordered pair once), |Δepoch| ≤ W (exact integers), JVM-native
   haversine ≤ R — zero Python anywhere;
5. per-pair aggregation at encounter cardinality.

100-TB story: the fact table is touched by one top-1 |lat| pass, one
narrow projection and one shuffle on (cell, bucket); the 14-key
explode multiplies only the join KEY stream, not payload width.
Everything after the filter is at matched-pair cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xutil_spark.functions import native
from xutil_spark.operators.spatial_join import _M_PER_DEG, _grid_cell, _zoom_ring


def encounter_join(
    events: DataFrame,
    radius_m: float,
    window_s: int,
    entity: str = "user_id",
    event_id: str = "event_id",
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Entity pairs with ≥1 encounter: ``(entity_a, entity_b,
    n_encounters, min_dist_m)``, ``entity_a < entity_b``, min distance
    rounded to mm.

    An *encounter* is an (event_i, event_j) pair from two DIFFERENT
    entities with haversine ≤ ``radius_m`` and |epoch_i − epoch_j| ≤
    ``window_s`` (epochs in floor-seconds).  Each unordered event pair
    counts once.

    The zoom is the finest whose ring-1 block covers ``radius_m`` up to
    the events' max |lat| (``_zoom_ring``, one Spark job), so the join
    is exact at any latitude.
    """
    zoom, _, _ = _zoom_ring(events, [lat], radius_m, 0.0, 1)
    n_axis = 2 ** zoom
    # at zoom 1 the block holds both columns, and x wraps (+1 ≡ −1):
    # key on the row alone so no cross-key pair is generated twice
    wide = n_axis < 3
    x_lon = F.lit(0.0) if wide else F.col(lon)
    ev = events.select(
        F.col(event_id).alias("_eid"),
        F.col(entity).alias("_ent"),
        F.col(ts).cast("long").alias("_ep"),
        F.col(lon).alias("_lon"),
        F.col(lat).alias("_lat"),
        # floor division, not integer-cast truncation: the bucket-diff≤1
        # coverage argument needs floor semantics for negative epochs
        F.floor(F.col(ts).cast("long") / F.lit(float(window_s)))
        .cast("long").alias("_bkt"),
        _grid_cell(x_lon, F.col(lat), zoom).alias("cell"),
    )

    # HALF-SPACE explode: of the full 3×3×3 neighbor block only the
    # lexicographically-positive offsets + self ship — each unordered
    # cross-key pair is then generated from exactly ONE side (the other
    # side's mirror offset is not in the set), and same-key pairs
    # deduplicate by entity order.  Halves the exploded join-key stream
    # vs the naive both-sides block (27 → 14 keys) — at 10^12 events
    # that is half the shuffle.
    offs = [
        (dx, dy, db)
        for dx in ((0,) if wide else (-1, 0, 1))
        for dy in (-1, 0, 1)
        for db in (-1, 0, 1)
        if (dx, dy, db) >= (0, 0, 0)
    ]
    k = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(db).alias("db"),
                 F.lit(dx == 0 and dy == 0 and db == 0).alias("self"))
        for dx, dy, db in offs
    ])
    left = (
        ev.withColumn("_k", F.explode(k))
        .withColumn("_ny", native.cell_y(F.col("cell")) + F.col("_k.dy"))
        .filter((F.col("_ny") >= 0) & (F.col("_ny") < F.lit(n_axis).cast("long")))
        .select(
            F.col("_eid").alias("_leid"), F.col("_ent").alias("_lent"),
            F.col("_ep").alias("_lep"), F.col("_lon").alias("_llon"),
            F.col("_lat").alias("_llat"), F.col("_k.self").alias("_self"),
            native.cell_from_xy(
                F.pmod(native.cell_x(F.col("cell")) + F.col("_k.dx"),
                       F.lit(n_axis).cast("long")),
                F.col("_ny"), zoom,
            ).alias("_jcell"),
            (F.col("_bkt") + F.col("_k.db")).alias("_jbkt"),
        )
    )
    right = ev.select(
        F.col("_eid").alias("_reid"), F.col("_ent").alias("_rent"),
        F.col("_ep").alias("_rep"), F.col("_lon").alias("_rlon"),
        F.col("_lat").alias("_rlat"),
        F.col("cell").alias("_jcell"), F.col("_bkt").alias("_jbkt"),
    )
    # exact pre-filter ordered cheapest-first (codegen'd And
    # short-circuits): entity order, integer Δt, then |Δlat| — the
    # great-circle central angle is ≥ |Δφ| (hav(c) = hav(Δφ) +
    # cos·cos·hav(Δλ) ≥ hav(Δφ)), so d ≥ _M_PER_DEG·|Δlat°| and the
    # guard can never drop a true pair; it spares the 10-trig
    # haversine on the bulk of the candidate stream (ring cells span
    # several degrees of latitude at coarse zooms)
    pairs = (
        left.join(right, on=["_jcell", "_jbkt"], how="inner")
        .filter(
            # self-key pairs appear in both orientations → entity order
            # dedups; cross-key pairs appear once → only same-entity drops
            F.when(F.col("_self"), F.col("_lent") < F.col("_rent"))
            .otherwise(F.col("_lent") != F.col("_rent"))
            & (F.abs(F.col("_lep") - F.col("_rep")) <= F.lit(int(window_s)))
            & (F.abs(F.col("_rlat") - F.col("_llat")) * F.lit(_M_PER_DEG)
               <= F.lit(float(radius_m)))
        )
        .withColumn("_d", native.haversine_m("_llon", "_llat", "_rlon", "_rlat"))
        .filter(F.col("_d") <= F.lit(float(radius_m)))
    )
    return (
        pairs.groupBy(
            F.least("_lent", "_rent").alias("entity_a"),
            F.greatest("_lent", "_rent").alias("entity_b"))
        .agg(
            F.count(F.lit(1)).alias("n_encounters"),
            F.round(F.min("_d"), 3).alias("min_dist_m"),
        )
    )
