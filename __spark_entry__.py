"""Contract entry points (PySpark target).

``entry(spark)`` is a smoke check; each ``queries()[name]`` runs at
sf=0.01 and must match the DuckDB result of ``oracle_sql()[name]``
(row count + column set + order-insensitive value hash;
tests/test_contract.py runs that gate over every name).

Implementation lives in ``xutil_spark.contract`` (one callable +
oracle SQL pair per operator from SURVEY.md §2, plus the training-data
pipeline ops); this file is the thin contract wrapper.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: tile assignment + per-cell stats of the
    derived image points (SURVEY §7.2 minimum end-to-end slice)."""
    from xutil_spark.entry_queries import q_tile_assign_z15

    return q_tile_assign_z15(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from xutil_spark.contract import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from xutil_spark.contract import CONTRACT

    return {name: o() for name, (_q, o) in CONTRACT.items()}
