"""Every metric the benchmark reports, with its unit; for each per-layer
metric, the end-to-end metric it should move and the workloads where
it does. BENCHMARK.json lists the same names and units, and a test
keeps the two in step.

A per-layer metric of a layer a workload does not run reads 0 there;
the workloads listed with a metric are the ones that run its layer.
"""

from __future__ import annotations

WORKLOADS = {
    "image_pipeline": "the paper's headline: decode, tile join and kNN fused "
                      "in one Python pass, so the codec and the Arrow boundary "
                      "do most of the work",
    "point_joins": "PiP, kNN and 50 km range joins over clustered points with "
                   "no image bytes: a decode gain must show no change here",
}

# name: (unit, better, bound). Ten seeded runs per workload on a 4-vCPU
# VM spread (quartile distance / median) up to 0.17 in throughput and 0.12
# in core time, mostly in runs where other guests held the CPUs (the
# report's steal_frac); setup_s keeps the largest bound.
END_TO_END = {
    "throughput_rows_s": ("rows/s", "higher", 0.24),
    "core_us_per_row": ("core-us/row", "lower", 0.24),
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
}

# Reported by the command but not listed in BENCHMARK.json: it is 0 on a
# correct run, and ``failed``/``attempted`` carry it.
REPORT_ONLY = {
    "error_rate": "fraction",
}

ALL = ("image_pipeline", "point_joins")
IMG = ("image_pipeline",)
PTS = ("point_joins",)
# dhash, dedup and the snapshot commit/resume run in image_pipeline's
# traced probes, outside its timed pass: no end-to-end metric holds them
PROBE = "none (traced probe)"

# name: (unit, better, end-to-end metric it should move, workloads).
# fused.out_rows, dedup.distinct_prints and dedup.survivors are fixed by
# the input: a change that moves them changed the output.
PER_LAYER = {
    "scan.s": ("s", "lower", "throughput_rows_s", ALL),
    "scan.bytes": ("B", "lower", "throughput_rows_s", ALL),
    "arrow.roundtrip_s": ("s", "lower", "throughput_rows_s core_us_per_row", ALL),
    "arrow.rows_to_py": ("count", "lower", "throughput_rows_s core_us_per_row", ALL),
    "arrow.bytes_to_py": ("B", "lower", "throughput_rows_s core_us_per_row", ALL),
    "arrow.bytes_from_py": ("B", "lower", "throughput_rows_s core_us_per_row", ALL),
    "codec.decode_png_us": ("us", "lower", "core_us_per_row throughput_rows_s", IMG),
    "codec.decode_raw_us": ("us", "lower", "core_us_per_row throughput_rows_s", IMG),
    "codec.png_share": ("frac", "lower", "core_us_per_row", IMG),
    "codec.loop_us": ("us", "lower", "core_us_per_row throughput_rows_s", IMG),
    "tiles.cell_ns_per_row": ("ns", "lower", "core_us_per_row", ALL),
    "fused.s": ("s", "lower", "throughput_rows_s", IMG),
    "fused.out_rows": ("count", "higher", "throughput_rows_s", IMG),
    "agg.s": ("s", "lower", "throughput_rows_s", IMG),
    "knn.search_us_per_row": ("us", "lower", "throughput_rows_s", ALL),
    "knn.build_ms": ("ms", "lower", "throughput_rows_s", ALL),
    "knn.s": ("s", "lower", "throughput_rows_s", PTS),
    "pip.s": ("s", "lower", "throughput_rows_s", PTS),
    "pip.candidates": ("count", "lower", "throughput_rows_s", PTS),
    "pip.yield": ("frac", "higher", "throughput_rows_s", PTS),
    "range.s": ("s", "lower", "throughput_rows_s", PTS),
    "range.candidates": ("count", "lower", "throughput_rows_s", PTS),
    "range.yield": ("frac", "higher", "throughput_rows_s", PTS),
    "dhash.s": ("s", "lower", PROBE, IMG),
    "dedup.s": ("s", "lower", PROBE, IMG),
    "dedup.distinct_prints": ("count", "higher", PROBE, IMG),
    "dedup.survivors": ("count", "higher", PROBE, IMG),
    "snapshot.commit_s": ("s", "lower", PROBE, IMG),
    "snapshot.files": ("count", "lower", PROBE, IMG),
    "snapshot.bytes_written": ("B", "lower", PROBE, IMG),
    "snapshot.resume_s": ("s", "lower", PROBE, IMG),
    "snapshot.stored_bytes_per_row": ("B/row", "lower", PROBE, IMG),
    "spark.stages": ("count", "lower", "throughput_rows_s", ALL),
    "spark.tasks": ("count", "lower", "throughput_rows_s", ALL),
    "spark.task_run_s": ("s", "lower", "throughput_rows_s", ALL),
    "spark.task_cpu_s": ("s", "lower", "core_us_per_row", ALL),
    "spark.gc_s": ("s", "lower", "throughput_rows_s peak_rss_mb", ALL),
    "spark.shuffle_read_bytes": ("B", "lower", "throughput_rows_s", ALL),
    "spark.shuffle_write_bytes": ("B", "lower", "throughput_rows_s", ALL),
    "spark.spill_bytes": ("B", "lower", "peak_rss_mb", ALL),
    "spark.task_skew": ("ratio", "lower", "throughput_rows_s", ALL),
    "setup.session_s": ("s", "lower", "setup_s", ALL),
    "setup.dims_s": ("s", "lower", "setup_s", ALL),
    "setup.warmup_s": ("s", "lower", "setup_s", ALL),
    "setup.input_gen_s": ("s", "lower", "none (excluded from setup_s)", ALL),
    "trace.overhead_frac": ("frac", "lower", "none", ALL),
    "trace.explained_frac": ("frac", "higher", "none", IMG),
}
