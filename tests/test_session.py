"""Session factory defaults (each check in its own driver process)."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_master_is_one_thread_per_cpu():
    """With no master configured and SPARK_GRAFT_CPUS unset, the session
    runs ``local[nproc]``, never more task threads than the host has."""
    nproc = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    res = subprocess.run(
        [sys.executable, "-c",
         "from xutil_spark.session import get_session\n"
         "s = get_session()\n"
         "print(s.sparkContext.master)\n"
         "print(s.conf.get('spark.sql.shuffle.partitions'))\n"
         "s.stop()\n"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    master, partitions = res.stdout.split()[-2:]
    assert master == f"local[{nproc}]"
    assert partitions == str(max(2 * nproc, 8))
