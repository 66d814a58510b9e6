"""The workloads: their inputs, one timed pass each, the checks of
every pass's output, and the traced probes that isolate one layer.

A pass is one closed-loop operation: it is issued after the previous
one returned, and its output is checked before the next one starts.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.trace import Tracer
from xutil_spark.data import synth
from xutil_spark.kernels import codec as K_codec
from xutil_spark.kernels import distance as K_dist
from xutil_spark.kernels import geometry as K_geom
from xutil_spark.kernels import tiles as K_tiles
from xutil_spark.operators.dedup import dedup_by_fingerprint
from xutil_spark.operators.fused import fused_image_tile_knn
from xutil_spark.operators.spatial_join import (
    distance_join,
    knn_join,
    knn_searcher,
    point_in_polygon_join,
)
from xutil_spark.plans.snapshot import ResumablePipeline, SnapshotStore
from xutil_spark.raster.images import dhash

IMAGES = 20_000
CLIQUE_SHARE = 0.05
POINTS = 30_000
REFS = 2_000
K = 3
TILE_ZOOM = 10
CELL_ZOOM = 15
PIP_ZOOM = 12
RADIUS_M = 50_000.0
SAMPLE = 24          # output rows checked against a reference per run
PROBE_ROWS = 2_000   # driver-side kernel timing sample


NO_TRACE = Tracer(enabled=False)


def noop(df: DataFrame) -> None:
    """Run ``df`` to the end and drop its rows."""
    df.write.format("noop").mode("overwrite").save()


def identity(batches):
    """``mapInPandas`` function that returns its input: the bare Arrow
    round trip to a Python worker and back."""
    yield from batches


def _close(a: float, b: float, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)


def rows_equal(got: tuple, want: tuple) -> bool:
    """Field-wise equality; floats within 1e-9 relative (sums may be
    reassociated) or 1e-6 absolute."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if isinstance(w, float) or isinstance(g, float):
            if not _close(float(g), float(w)):
                return False
        elif g != w:
            return False
    return True


def count_mismatches(got: dict, want: dict) -> int:
    """Keys whose row lists differ (missing keys count as mismatches)."""
    bad = 0
    for key, rows in want.items():
        g = sorted(got.get(key, []))
        w = sorted(rows)
        if len(g) != len(w) or not all(rows_equal(a, b) for a, b in zip(g, w)):
            bad += 1
    return bad + len(set(got) - set(want))


def brute_knn(lon: float, lat: float, refs: dict, k: int) -> list[tuple]:
    """Top-k refs by (distance rounded to mm, ref_id): the tie order the
    kNN operators document."""
    d = K_dist.point_dist_haversine(lon, lat, refs["lon"], refs["lat"])
    order = sorted(range(len(d)), key=lambda j: (round(float(d[j]), 3), refs["ref_id"][j]))
    return [(refs["ref_id"][j], float(d[j]), r + 1) for r, j in enumerate(order[:k])]


def _sample(ids: np.ndarray, seed: int, n: int) -> list[str]:
    rng = np.random.default_rng(seed)
    return sorted(rng.choice(ids, size=min(n, len(ids)), replace=False).tolist())


def time_per_call(fn, repeats: int = 5) -> float:
    """Median seconds of ``fn()`` over ``repeats`` calls."""
    walls = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


class Workload:
    """One workload over inputs under ``work``; ``scale`` shrinks them
    (the tests run at a tiny scale)."""

    name = ""

    def __init__(self, work: str, cache: str, digest: str, seed: int,
                 scale: float, cores: int):
        self.work = work
        self.cache = cache
        self.digest = digest
        self.input = ""
        self.seed = seed
        self.scale = scale
        self.cores = cores
        self.files = 2 * cores
        self.facts = None
        self.rows = 0
        self.first = None  # the first checked pass's output; later ones must match it
        self.refs = None
        self._refs_np = None
        self._dims: list[DataFrame] = []

    def _n(self, n: int) -> int:
        return max(int(n * self.scale), 64)

    # -- input ---------------------------------------------------------
    def ensure_input(self, spark: SparkSession) -> float:
        """Build (or find on disk) the seeded input; returns the seconds
        its generation took, 0 when it was found."""
        n = self._n(self.size)
        key = f"{self.kind}-s{self.seed}-n{n}-f{self.files}-{self.digest}"
        self.input, took = inputs.cached(
            self.cache, key, lambda path: self.write_input(spark, path, n))
        return took

    def write_input(self, spark: SparkSession, path: str, n: int) -> None:
        raise NotImplementedError

    def load_facts(self, spark: SparkSession) -> None:
        """Read the input back on the driver and derive what the checks
        expect (untimed)."""
        raise NotImplementedError

    def properties(self) -> dict:
        return self.facts.properties(self.input)

    def refs_np(self) -> dict:
        """The kNN refs on the driver, id-sorted; collected once."""
        if self._refs_np is None:
            pdf = self.refs.toPandas().sort_values("ref_id", kind="stable")
            self._refs_np = {"ref_id": pdf["ref_id"].to_numpy(),
                             "lon": pdf["lon"].to_numpy(np.float64),
                             "lat": pdf["lat"].to_numpy(np.float64)}
        return self._refs_np

    def scan_df(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.input)

    # -- set-up --------------------------------------------------------
    def build_dims(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def _materialize_dims(self, *dims: DataFrame) -> None:
        """Cache and count ``dims``, dropping the previous set-up's copies,
        so that every set-up builds its dimension tables from scratch."""
        for df in self._dims:
            df.unpersist(blocking=True)
        self._dims = [df.cache() for df in dims]
        for df in self._dims:
            df.count()

    def warm(self, spark: SparkSession) -> None:
        """One pass over ~1/4 of the input: starts every Python worker
        and the JVM code paths the timed passes use."""
        self.run_pass(spark, NO_TRACE, self._warm_df(spark))

    # -- timed pass and its checks --------------------------------------
    def run_pass(self, spark: SparkSession, tracer, df: DataFrame | None = None):
        raise NotImplementedError

    def check_pass(self, out) -> bool:
        raise NotImplementedError

    def sample_check(self, spark: SparkSession) -> tuple[int, int]:
        """(attempted, failed) over a seeded sample of output rows."""
        raise NotImplementedError

    # -- traced probes -------------------------------------------------
    def probe(self, spark: SparkSession, tracer) -> bool:
        """Layer-isolating actions, run once per traced iteration; returns
        whether the outputs it checks were right."""
        return True

    def layer_metrics(self, tracer, log) -> dict:
        return {}

    def _warm_df(self, spark: SparkSession) -> DataFrame:
        return self.scan_df(spark).where(F.abs(F.hash("image_id")) % 4 == 0)


class ImagePipeline(Workload):
    """images ⨝ z10 tiles + exact kNN(k=3) vs 2k refs in one fused pass,
    then rank-1 rows aggregated per tile. The traced run also takes the
    images through the other decode consumer and the write path: dhash,
    dhash committed as a snapshot, dedup_by_fingerprint committed, and
    both stages resumed by a fresh ResumablePipeline."""

    name = "image_pipeline"
    kind, size = "images", IMAGES

    def write_input(self, spark, path, n):
        inputs.write_images(path, n, int(n * CLIQUE_SHARE), self.seed, self.files)

    def _sample_table(self, ids: list[str]):
        return pq.read_table(self.input, filters=[("image_id", "in", ids)])

    def build_dims(self, spark: SparkSession) -> None:
        self.tiles = synth.tiles_table(spark, zoom=TILE_ZOOM)
        self.refs = synth.ref_points_table(spark, REFS)
        self._materialize_dims(self.tiles, self.refs)

    def load_facts(self, spark):
        self.facts = inputs.ImageFacts(self.input)
        self.rows = self.facts.rows
        self.expected_survivors = expected_survivors(self.facts.ids, self.facts.print_of)
        self.key = f"{self.seed}:{self.rows}"
        self._stores = 0
        self.store = None
        self.snapshot = None
        x, y = K_tiles.wgs2tile(self.facts.lon, self.facts.lat, TILE_ZOOM)
        tile_ids = np.char.add(np.char.add(np.char.add(f"z{TILE_ZOOM}x", x.astype(str)), "y"),
                               y.astype(str))
        names, counts = np.unique(tile_ids, return_counts=True)
        self.expected_counts = dict(zip(names.tolist(), counts.tolist()))

    def _fused(self, df: DataFrame) -> DataFrame:
        return fused_image_tile_knn(df, self.tiles, self.refs, k=K,
                                    tile_zoom=TILE_ZOOM, cell_zoom=CELL_ZOOM)

    def run_pass(self, spark, tracer, df=None):
        df = self.scan_df(spark) if df is None else df
        rows = (self._fused(df).filter(F.col("rank") == 1).groupBy("tile_id")
                .agg(F.count("*").alias("n"), F.sum("mean_r").alias("sum_r"),
                     F.sum("dist_m").alias("sum_d"))
                .collect())
        return {r.tile_id: [(r.n, r.sum_r, r.sum_d)] for r in rows}

    def check_pass(self, out) -> bool:
        counts = {t: rows[0][0] for t, rows in out.items()}
        if counts != self.expected_counts:
            return False
        if self.first is None:
            self.first = out
        return count_mismatches(out, self.first) == 0

    def expected_rows(self, ids: list[str], refs: dict) -> dict:
        """The fused operator's rows for ``ids``, recomputed one image at
        a time: codec decode, the phash location rule, Wgs2Tile and a
        brute-force haversine kNN."""
        t = self._sample_table(ids).to_pydict()
        want = {}
        for i, img in enumerate(t["image_id"]):
            px = K_codec.decode_image(t["bytes"][i], t["w"][i], t["h"][i], t["fmt"][i])
            m = px.reshape(-1, 3).mean(axis=0)
            lon, lat = inputs.lonlat_from_phash(np.array([t["phash"][i]]))
            x, y = K_tiles.wgs2tile(lon, lat, TILE_ZOOM)
            cell = int(K_tiles.cell_encode(lon, lat, CELL_ZOOM)[0])
            head = (float(lon[0]), float(lat[0]), cell, f"z{TILE_ZOOM}x{int(x[0])}y{int(y[0])}",
                    round(float(m[0]), 6), round(float(m[1]), 6), round(float(m[2]), 6),
                    int(px.astype(np.int64).sum()))
            want[img] = [head + nn for nn in brute_knn(lon[0], lat[0], refs, K)]
        return want

    def sample_check(self, spark):
        ids = _sample(self.facts.ids, self.seed, SAMPLE)
        got = {}
        for r in self._fused(self.scan_df(spark).where(F.col("image_id").isin(ids))).collect():
            got.setdefault(r.image_id, []).append(
                (r.lon, r.lat, r.cell, r.tile_id, r.mean_r, r.mean_g, r.mean_b, r.px_sum,
                 r.ref_id, r.dist_m, r.rank))
        bad = count_mismatches(got, self.expected_rows(ids, self.refs_np()))
        pos = {p: i for i, p in enumerate(self.facts.ids)}
        prints = {r.image_id: [(r.dhash,)] for r in
                  dhash(self.scan_df(spark).where(F.col("image_id").isin(ids))).collect()}
        bad += count_mismatches(prints, {p: [(int(self.facts.print_of[pos[p]]),)] for p in ids})
        return 2 * len(ids), bad

    def _new_store(self) -> str:
        if self.store:
            shutil.rmtree(self.store, ignore_errors=True)
        self._stores += 1
        self.store = os.path.join(self.work, f"store-{self._stores}")
        return self.store

    def _snapshot_stages(self, spark, tracer, df: DataFrame) -> dict:
        """dhash → commit, dedup_by_fingerprint → commit, then a fresh
        ResumablePipeline resumes both stages from the store."""
        root = self._new_store()
        pipe = ResumablePipeline(SnapshotStore(spark, root))
        with tracer.span("fingerprints"):
            prints = pipe.stage("fingerprints", lambda: dhash(df), fingerprint=self.key)
        with tracer.span("survivors"):
            surv = pipe.stage("survivors",
                              lambda: dedup_by_fingerprint(prints, "dhash", "image_id"),
                              fingerprint=self.key)
            ids = sorted(r.image_id for r in surv.select("image_id").collect())
        with tracer.span("resume"):
            again = ResumablePipeline(SnapshotStore(spark, root))
            again.stage("fingerprints", _never, fingerprint=self.key)
            resumed = sorted(r.image_id for r in
                             again.stage("survivors", _never, fingerprint=self.key)
                             .select("image_id").collect())
        files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        return {"survivors": ids, "resumed": resumed, "executed": again.executed,
                "files": len(files), "stored_bytes": sum(os.path.getsize(f) for f in files)}

    def probe(self, spark, tracer) -> bool:
        df = self.scan_df(spark)
        with tracer.span("fused"):
            noop(self._fused(df))
        with tracer.span("dhash"):
            noop(dhash(df))
        self.snapshot = out = self._snapshot_stages(spark, tracer, df)
        store = SnapshotStore(spark, self.store)
        prints = store.read(store.latest("fingerprints"))
        with tracer.span("dedup"):
            noop(dedup_by_fingerprint(prints, "dhash", "image_id"))
        # the survivors follow from the input's print structure, and the
        # resumed rows must be the committed ones, recomputing nothing
        return (out["survivors"] == self.expected_survivors
                and out["resumed"] == out["survivors"] and not out["executed"])

    def codec_metrics(self) -> dict:
        """Per-image decode time by format on a seeded sample of the
        input's rows (driver, one thread)."""
        ids = _sample(self.facts.ids, self.seed + 1, PROBE_ROWS)
        t = self._sample_table(ids).to_pydict()
        out = {}
        for fmt in ("png", "raw"):
            rows = [(b, w, h) for b, w, h, f in zip(t["bytes"], t["w"], t["h"], t["fmt"]) if f == fmt]
            if rows:
                def decode_all(rows=rows, fmt=fmt):
                    for b, w, h in rows:
                        K_codec.decode_image(b, w, h, fmt)
                out[f"codec.decode_{fmt}_us"] = time_per_call(decode_all, 3) / len(rows) * 1e6
        out["codec.png_share"] = float(np.mean(self.facts.fmt == "png"))
        return out

    def loop_us(self) -> float:
        """Per-image cost of the decode loop the fused kernel and
        ``decode_stats`` run over each Arrow batch: row iteration, decode,
        channel means and pixel sum."""
        b = self._sample_table(_sample(self.facts.ids, self.seed + 1, PROBE_ROWS)).to_pandas()

        def loop():
            for r in b.itertuples(index=False):
                px = K_codec.decode_image(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
                m = px.reshape(-1, 3).mean(axis=0)
                round(float(m[0]), 6), round(float(m[1]), 6), round(float(m[2]), 6)
                int(px.astype(np.int64).sum())
        return time_per_call(loop, 3) / len(b) * 1e6

    def layer_metrics(self, tracer, log):
        out = self.codec_metrics()
        out["codec.loop_us"] = self.loop_us()
        lon, lat = self.facts.lon, self.facts.lat
        out.update(knn_metrics(self.refs_np(), lon, lat, self.seed))
        out["tiles.cell_ns_per_row"] = cell_ns_per_row(lon, lat)
        arrow = tracer.median_self_s("arrow")
        fused, full = tracer.median_self_s("fused"), tracer.median_self_s("pass")
        out["fused.s"] = fused - arrow
        out["agg.s"] = full - fused
        out["fused.out_rows"] = statistics.median(
            log.metrics({s["span_id"]})["py_rows_out"] for s in tracer.named("fused"))
        # the fused kernel's split, from single-thread per-row costs
        # spread over the cores; what it leaves out shows as a gap
        per_row_s = (out["codec.loop_us"] + out["knn.search_us_per_row"]
                     + out["tiles.cell_ns_per_row"] * 2e-3) * 1e-6
        kernel = per_row_s * self.rows / self.cores
        # scan → Arrow → fused → full is a ladder: the Arrow step's wall
        # already holds the scan
        out["trace.explained_frac"] = (arrow + kernel + out["agg.s"]) / full
        out["dhash.s"] = tracer.median_self_s("dhash")
        out["dedup.s"] = tracer.median_self_s("dedup")
        out["dedup.distinct_prints"] = len(np.unique(self.facts.print_of))
        out["dedup.survivors"] = len(self.expected_survivors)
        out["snapshot.commit_s"] = tracer.median_self_s("fingerprints") - out["dhash.s"]
        out["snapshot.resume_s"] = tracer.median_self_s("resume")
        if self.snapshot:
            out["snapshot.files"] = self.snapshot["files"]
            out["snapshot.bytes_written"] = self.snapshot["stored_bytes"]
            out["snapshot.stored_bytes_per_row"] = self.snapshot["stored_bytes"] / self.rows
        return out


def _never():
    raise RuntimeError("a committed stage was recomputed on resume")


def cell_ns_per_row(lon: np.ndarray, lat: np.ndarray) -> float:
    """Wgs2Tile + cell packing per row (numpy, one thread)."""
    return time_per_call(lambda: K_tiles.cell_encode(lon, lat, CELL_ZOOM)) / len(lon) * 1e9


def knn_metrics(r: dict, lon: np.ndarray, lat: np.ndarray, seed: int) -> dict:
    """Index build and search cost of ``knn_searcher`` over the refs
    ``r`` and the workload's own points (driver, one thread)."""
    build = time_per_call(lambda: knn_searcher(r["lon"], r["lat"], K))
    search = knn_searcher(r["lon"], r["lat"], K)
    idx = np.random.default_rng(seed).choice(len(lon), size=min(len(lon), 20_000), replace=False)
    s = time_per_call(lambda: search(lon[idx], lat[idx]), 3)
    return {"knn.build_ms": build * 1e3, "knn.search_us_per_row": s / len(idx) * 1e6}


class PointJoins(Workload):
    """PiP against the irregular polygons, kNN(k=3) and a 50 km range
    join against the refs, each followed by an aggregate."""

    name = "point_joins"

    kind, size = "points", POINTS

    def write_input(self, spark, path, n):
        inputs.write_points(spark, path, n, self.seed, self.files)

    def load_facts(self, spark):
        self.facts = inputs.PointFacts(self.input)
        self.rows = self.facts.rows
        # exact PiP counts: kernels.geometry ray cast over every point
        polys = synth.irregular_tiles_table(spark).toPandas()
        self.expected_pip = {}
        for pid, wkt in zip(polys["poly_id"], polys["wkt"]):
            n = int(K_geom.point_in_geo(self.facts.lon, self.facts.lat, K_geom.from_wkt(wkt)).sum())
            if n:
                self.expected_pip[pid] = n

    def build_dims(self, spark):
        self.polys = synth.irregular_tiles_table(spark)
        self.refs = synth.ref_points_table(spark, REFS)
        self._materialize_dims(self.polys, self.refs)

    def run_pass(self, spark, tracer, df=None):
        df = self.scan_df(spark) if df is None else df
        with tracer.span("pip"):
            pip = point_in_polygon_join(df, self.polys, zoom=PIP_ZOOM).groupBy("poly_id").count().collect()
        with tracer.span("knn"):
            knn = (knn_join(df, self.refs, K).groupBy("rank")
                   .agg(F.count("*").alias("n"), F.sum("dist_m").alias("d")).collect())
        with tracer.span("range"):
            rng = distance_join(df, self.refs, RADIUS_M).agg(
                F.count("*").alias("n"), F.sum("dist_m").alias("d")).collect()
        return {"pip": {r.poly_id: [(r["count"],)] for r in pip},
                "knn": {r["rank"]: [(r.n, r.d)] for r in knn},
                "range": {0: [(rng[0].n, rng[0].d or 0.0)]}}

    def check_pass(self, out) -> bool:
        if {p: v[0][0] for p, v in out["pip"].items()} != self.expected_pip:
            return False
        if {r: v[0][0] for r, v in out["knn"].items()} != {r: self.rows for r in range(1, K + 1)}:
            return False
        if self.first is None:
            self.first = out
        return all(count_mismatches(out[j], self.first[j]) == 0 for j in ("knn", "range"))

    def expected_rows(self, ids: list[str], refs: dict) -> tuple[dict, dict]:
        pos = {p: i for i, p in enumerate(self.facts.ids)}
        knn, rng = {}, {}
        for p in ids:
            lon, lat = self.facts.lon[pos[p]], self.facts.lat[pos[p]]
            knn[p] = brute_knn(lon, lat, refs, K)
            d = K_dist.point_dist_haversine(lon, lat, refs["lon"], refs["lat"])
            rng[p] = [(refs["ref_id"][j], float(d[j])) for j in np.flatnonzero(d <= RADIUS_M)]
        return knn, rng

    def sample_check(self, spark):
        ids = _sample(self.facts.ids, self.seed, SAMPLE)
        df = self.scan_df(spark).where(F.col("image_id").isin(ids))
        got_knn, got_rng = {}, {}
        for r in knn_join(df, self.refs, K).collect():
            got_knn.setdefault(r.image_id, []).append((r.ref_id, r.dist_m, r["rank"]))
        for r in distance_join(df, self.refs, RADIUS_M).collect():
            got_rng.setdefault(r.image_id, []).append((r.ref_id, r.dist_m))
        want_knn, want_rng = self.expected_rows(ids, self.refs_np())
        want_rng = {p: v for p, v in want_rng.items() if v}
        return 2 * len(ids), count_mismatches(got_knn, want_knn) + count_mismatches(got_rng, want_rng)

    def layer_metrics(self, tracer, log):
        out = knn_metrics(self.refs_np(), self.facts.lon, self.facts.lat, self.seed)
        out["tiles.cell_ns_per_row"] = cell_ns_per_row(self.facts.lon, self.facts.lat)
        matches = {"pip": sum(self.expected_pip.values()),
                   "range": self.first["range"][0][0][0] if self.first else 0}
        for j in ("knn", "pip", "range"):
            out[f"{j}.s"] = tracer.median_self_s(j)
        # PiP candidates are the cell-join pairs the ray cast refines; the
        # range join evaluates its radius inside the join, so its
        # candidates are the neighbour-cell probes into the ref table
        for j, key in (("pip", "join_rows"), ("range", "join_probe_rows")):
            cand = statistics.median(log.metrics({s["span_id"]})[key] for s in tracer.named(j))
            out[f"{j}.candidates"] = cand
            out[f"{j}.yield"] = matches[j] / cand if cand else 0.0
        return out


def expected_survivors(ids: np.ndarray, prints: np.ndarray, max_hamming: int = 3) -> list[str]:
    """Survivor ids of ``dedup_by_fingerprint``: rows whose prints are
    within ``max_hamming`` bits are linked, and each connected component
    keeps its smallest id."""
    uniq, label = np.unique(prints, return_inverse=True)
    bits = np.unpackbits(uniq.view(np.uint8).reshape(-1, 8), axis=1)
    parent = list(range(len(uniq)))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in range(len(uniq)):
        near = np.flatnonzero((bits[i + 1:] != bits[i]).sum(axis=1) <= max_hamming) + i + 1
        for j in near:
            parent[find(int(j))] = find(i)
    best: dict[int, str] = {}
    for img, lbl in zip(ids, label):
        root = find(int(lbl))
        if root not in best or img < best[root]:
            best[root] = img
    return sorted(best.values())


WORKLOADS = {w.name: w for w in (ImagePipeline, PointJoins)}
