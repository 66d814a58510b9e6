"""spark-submit entrypoint: run contract queries against a testdata
directory and print one JSON line per query.

    spark-submit [--master ...] [--py-files dist/xutil_spark.zip] \
        tools/submit_job.py /root/testdata/sf0.001 tile_assign_z15 knn_k3

The package comes from ``--py-files`` when given; run from a checkout
without it, the checkout's own ``xutil_spark`` is used.

With no query names, runs the flagship tile-assignment query.  The
session comes from the packaged ``xutil_spark.session`` factory, so a
cluster master gets the same AQE/Arrow/shuffle tuning as local mode.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or ["tile_assign_z15"]
    try:
        import xutil_spark  # noqa: F401  (the --py-files zip, if given)
    except ModuleNotFoundError:
        # spark-submit puts tools/, not the checkout root, on sys.path
        sys.path.insert(
            0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from xutil_spark.contract import QUERIES
    from xutil_spark.session import get_session

    # on a real cluster spark-submit's --master wins; get_session only
    # fills the master in when none is configured
    spark = get_session(app_name="xutil_spark_submit")
    for name in names:
        t0 = time.perf_counter()
        n = QUERIES[name](spark, sf_dir).count()
        print(json.dumps({
            "query": name, "rows": n,
            "sec": round(time.perf_counter() - t0, 3),
        }))
    spark.stop()


if __name__ == "__main__":
    main()
