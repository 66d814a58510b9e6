"""The host the benchmark runs on: its stamp, the parallelism guard, and
CPU and memory accounting for the JVM and every Python worker under it."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` prints without
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))


def local_master(cores: int | None = None) -> str:
    """``local[N]`` with N = ``nproc`` unless a smaller N is asked for.
    More threads than CPUs would time contention, not the engine."""
    n = cpu_count()
    if cores is None:
        cores = n
    if not 1 <= cores <= n:
        raise ValueError(f"local[{cores}] asked for, but this host has {n} CPUs")
    return f"local[{cores}]"


def _cpu_model() -> str:
    with open("/proc/cpuinfo", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def _mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest(root: str) -> str:
    """sha256 over the engine's source files: identifies the code under
    test where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "xutil_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def host_stamp(root: str, master: str, seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": cpu_count(),
        "master": master,
        "cpu_model": _cpu_model(),
        "mem_total_mb": _mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": _git_commit(root),
        "source_digest": source_digest(root),
        "seed": seed,
    }


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            s = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are fixed
    return s[s.rindex(")") + 2:].split()


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """user+sys seconds of the tree, counting reaped children through
    their parents' cutime/cstime."""
    ticks = 0
    for pid in process_tree(root_pid):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def steal_s() -> float:
    """Seconds this machine's CPUs were runnable but held by the
    hypervisor: time other guests took from the benchmark."""
    with open("/proc/stat", encoding="utf-8") as fh:
        return int(fh.readline().split()[8]) / _TICK


def _peak_rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _reset_peak_rss(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w", encoding="utf-8") as fh:
            fh.write("5")
    except OSError:
        pass


class ResourceMonitor:
    """CPU seconds and peak RSS of a process tree, per lap: ``lap()``
    returns both for the time since the previous lap (or since the
    monitor was made). The peak is the sum of each process's high-water
    mark, which the kernel keeps and ``clear_refs`` resets, so nothing
    samples the processes while they run."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self._cpu0 = 0.0
        self.lap()

    def lap(self) -> tuple[float, int]:
        """(CPU seconds, peak RSS bytes) since the previous lap."""
        pids = process_tree(self.root_pid)
        peak = sum(_peak_rss_bytes(p) for p in pids)
        cpu = tree_cpu_s(self.root_pid)
        for p in pids:
            _reset_peak_rss(p)
        out = (cpu - self._cpu0, peak)
        self._cpu0 = cpu
        return out
