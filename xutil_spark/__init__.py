"""xutil_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-creates the capabilities of the reference Go library ``xvill/xutil``
(/root/reference) as an idiomatic Spark engine: DataFrame/SQL plans,
numpy-vectorized pandas/Arrow UDFs for the geometry kernels, explicit
partitioning / broadcast / salting strategies for 100 TB-scale spatial
joins, and snapshot-based resumability.

Layers
------
``kernels``    pure numpy/python math (no Spark import) — unit-testable fast
``functions``  pandas_udf wrappers + SQL registration of every kernel
``operators``  DataFrame compositions: spatial joins, kNN, dedup, similarity
``sources``    scan helpers (csv/zip/tar archives, binaryFile)
``raster``     image decode/encode + tile mosaic (mapInPandas/applyInPandas)
``plans``      snapshot / lineage / resume (Iceberg-style over parquet)
``streaming``  Structured Streaming demos (windowed cell aggregation)
``data``       deterministic synthetic tables (images, tiles, ref_points)
"""

__version__ = "0.1.0"

from xutil_spark import _runtime  # noqa: E402

_runtime.install()
