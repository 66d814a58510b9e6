"""Benchmark of the engine: workloads, end-to-end and per-layer metrics."""
