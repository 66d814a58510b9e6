"""Write-side spatial clustering: lay parquet out so spatial predicates
prune files and row groups.

At 100 TB the scan is the query: a table written in arrival order
scatters every city across every file, so a bbox query reads the whole
table.  Clustering the write on a space-filling-curve key (geohash
bits here; s2 ids work identically) makes each output file a compact
spatial region, so parquet min/max statistics on the key column prune
non-overlapping files/row-groups at planning time — the batch twin of
partition pruning, with no directory explosion.

``cluster_spatially`` is one range-shuffle + in-partition sort:

* ``repartitionByRange(n, key)`` samples the key distribution, so file
  sizes stay balanced even under heavy urban skew (equi-width cell
  partitioning would put Shanghai in one file and the Gobi in another);
* ``sortWithinPartitions(key)`` orders rows inside each file so EVERY
  row group's min/max is tight, pruning inside big files too.

Readers then filter with ``geohash_bits(lon, lat, p) BETWEEN lo AND
hi`` (or a cell-prefix range): the pushed predicate reaches the scan
and skips files wholesale — `.explain` shows PushedFilters on the key
column.

``spread`` is the read-side companion: it rebalances a small scan
before per-row work, so a file with few splits does not serialize it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from xutil_spark.functions.geohash import geohash_bits


def cluster_spatially(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    precision: int = 7,
    num_files: int | None = None,
    key_col: str = "gh_bits",
) -> DataFrame:
    """Return ``df`` with a ``key_col`` geohash-bits column, range-
    partitioned and sorted on it — write the result with
    ``.write.parquet(...)`` and each file is a tight spatial range."""
    keyed = df.withColumn(key_col, geohash_bits(lon_col, lat_col, precision))
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    return keyed.repartitionByRange(parts, key_col).sortWithinPartitions(key_col)


def spread(df: DataFrame) -> DataFrame:
    """Rebalance a small scan to ``defaultParallelism`` partitions: a
    scan with few splits would serialize the per-row work that follows
    (a no-op once the scan already has enough splits)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par) if df.rdd.getNumPartitions() < par else df
