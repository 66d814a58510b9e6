"""Benchmark command: one workload, one seed, a closed loop of timed
passes, every output checked.

    python3 perfbench/run.py --workload image_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the seeded input as parquet
under ``.perfbench/`` in the checkout (or finds it there), reads it into
the page cache, starts Spark, sets up three times (dimension tables and
a warm-up pass over a quarter of the input; ``setup_s`` is the median),
runs one full pass untimed, then issues passes for ``--seconds``. With
``--trace 0`` the last line of stdout is a JSON object with the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of
a traced run: spans recorded around each call into a layer, plus the
Spark event log. The line before it is a full report (host stamp, input
properties, every metric with its unit).
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host, metrics  # noqa: E402
from perfbench import inputs  # noqa: E402
from perfbench.trace import EventLog, Tracer  # noqa: E402
from perfbench.workloads import NO_TRACE, WORKLOADS, identity, noop  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
HEAP = "2g"  # JVM heap of the local-mode driver


def _session(master: str, work: str, event_dir: str | None):
    from xutil_spark.session import get_session

    conf = {
        "spark.driver.memory": HEAP,
        # the whole heap committed and touched at start: peak memory then
        # does not depend on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_session(master=master, app_name="perfbench", extra_conf=conf)


def _stop_all(spark) -> None:
    """Stop Spark, the JVM and the Python workers under it, and wait
    until every child process has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while len(host.process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class Run:
    """State of one benchmark process."""

    def __init__(self, args):
        self.args = args
        self.master = host.local_master(args.cores)
        self.cores = int(self.master[len("local["):-1])
        self.work = os.path.join(ROOT, ".perfbench", "work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.out_dir = os.path.join(ROOT, ".perfbench", "out")
        self.wl = WORKLOADS[args.workload](
            self.work, os.path.join(ROOT, ".perfbench", "inputs"),
            inputs.code_digest(ROOT), args.seed, args.scale, self.cores)
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def _pass(self, tracer) -> float | None:
        """One pass, its output checked; its wall, or None when it raised."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span("pass"):
                out = self.wl.run_pass(self.spark, tracer)
            wall = time.perf_counter() - t
            ok = self.wl.check_pass(out)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if not ok:
            print(f"[perfbench] pass {self.attempted}: output check failed", file=sys.stderr)
            self.failed += 1
        return wall

    def _loop(self, seconds: float, tracer, probes: bool = False, mon=None):
        """Passes for ``seconds``: the first always runs, and each next one
        only when, taking as long as the last, it ends within the window.
        Returns the wall of each pass that returned and, with a monitor,
        its (CPU s, peak RSS bytes)."""
        walls, laps = [], []
        t_end = time.perf_counter() + seconds
        while True:
            t = time.perf_counter()
            wall = self._pass(tracer)
            if mon is not None:
                lap = mon.lap()
            if wall is not None:
                walls.append(wall)
                if mon is not None:
                    laps.append(lap)
            if probes:
                self._probe(tracer)
            now = time.perf_counter()
            if now + (now - t) > t_end:
                return walls, laps

    def _probe(self, tracer) -> None:
        """The layer probes of a traced iteration, counted like a pass."""
        self.attempted += 1
        try:
            df = self.wl.scan_df(self.spark)
            with tracer.span("scan"):
                noop(df)
            with tracer.span("arrow"):
                noop(df.mapInPandas(identity, df.schema))
            ok = self.wl.probe(self.spark, tracer)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"[perfbench] probe {self.attempted}: output check failed", file=sys.stderr)
            self.failed += 1

    def _setup(self) -> dict:
        """Build the dimension tables (dropping any earlier copies) and run
        the warm-up pass; returns the seconds of each step."""
        t = time.perf_counter()
        self.wl.build_dims(self.spark)
        t_warm = time.perf_counter()
        self.wl.warm(self.spark)
        return {"dims": t_warm - t, "warm": time.perf_counter() - t_warm}

    def execute(self) -> tuple[dict, dict]:
        args, wl = self.args, self.wl
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        os.makedirs(self.wl.cache, exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        stamp = host.host_stamp(ROOT, self.master, args.seed)

        event_dir = os.path.join(self.work, "events")
        os.makedirs(event_dir, exist_ok=True)
        self.spark = _session(self.master, self.work, event_dir if args.trace else None)
        session_s = time.perf_counter() - _T0
        input_gen_s = wl.ensure_input(self.spark)
        wl.load_facts(self.spark)
        props = wl.properties()
        inputs.warm_page_cache(wl.input)
        os.sync()  # no write-back of the new input while passes are timed

        setups = [self._setup() for _ in range(SETUPS)]
        setup_walls = [s["dims"] + s["warm"] for s in setups]
        # one full pass, checked but not timed: the first pass at full size
        # still runs slower than the ones after it
        first_pass_s = self._pass(NO_TRACE)

        report = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                  "host": stamp, "input": props, "session_s": session_s,
                  "input_gen_s": input_gen_s, "setups_s": setups,
                  "untimed_first_pass_s": first_pass_s}
        if not args.trace:
            steal0, t0 = host.steal_s(), time.perf_counter()
            walls, laps = self._loop(args.seconds, NO_TRACE,
                                     mon=host.ResourceMonitor(_jvm_pid()))
            report["steal_frac"] = ((host.steal_s() - steal0)
                                    / ((time.perf_counter() - t0) * self.cores))
            if not walls:
                raise RuntimeError("every pass raised")
            values = {
                "throughput_rows_s": statistics.median(wl.rows / w for w in walls),
                "core_us_per_row": statistics.median(c for c, _ in laps) / wl.rows * 1e6,
                "setup_s": statistics.median(setup_walls),
                "peak_rss_mb": statistics.median(m for _, m in laps) / 2**20,
            }
            a, f = wl.sample_check(self.spark)
            self.attempted += a
            self.failed += f
            extra = {"error_rate": self.failed / self.attempted}
            units = {k: v[0] for k, v in metrics.END_TO_END.items()}
            units.update(metrics.REPORT_ONLY)
            report["passes"] = len(walls)
            report["pass_walls_s"] = walls
            report["pass_cpu_s"] = [c for c, _ in laps]
            report["pass_peak_mb"] = [m / 2**20 for _, m in laps]
            report["metrics"] = {k: {"value": v, "unit": units[k]}
                                 for k, v in {**values, **extra}.items()}
            return report, values

        # traced run: untraced passes, traced passes with the layer probes,
        # untraced passes again. The traced walls against the untraced ones
        # on both sides give the tracing overhead without reading the JVM
        # compiling more code as the passes go on as overhead. The event
        # log is on for the whole process, so it is not part of it.
        before, _ = self._loop(args.seconds / 3, NO_TRACE)
        tracer = Tracer(enabled=True)
        tracer.bind(self.spark.sparkContext)
        traced, _ = self._loop(args.seconds / 3, tracer, probes=True)
        tracer.bind(None)
        after, _ = self._loop(args.seconds / 3, NO_TRACE)
        a, f = wl.sample_check(self.spark)
        self.attempted += a
        self.failed += f
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()  # completes the event log
        log = EventLog(os.path.join(event_dir, app_id))
        plain = [min(before), min(after)] if before and after else before + after

        passes = [s["span_id"] for s in tracer.named("pass")]
        per_pass = [log.metrics(tracer.subtree(sid)) for sid in passes]

        def med(key):
            return statistics.median(m[key] for m in per_pass) if per_pass else 0.0

        values = {name: 0.0 for name in metrics.PER_LAYER}
        values.update({
            "scan.s": tracer.median_self_s("scan"),
            "scan.bytes": med("scan_file_bytes"),
            "arrow.roundtrip_s": tracer.median_self_s("arrow"),
            "arrow.rows_to_py": med("py_rows_in"),
            "arrow.bytes_to_py": med("py_bytes_sent"),
            "arrow.bytes_from_py": med("py_bytes_received"),
            "setup.session_s": session_s,
            "setup.dims_s": statistics.median(s["dims"] for s in setups),
            "setup.warmup_s": statistics.median(s["warm"] for s in setups),
            "setup.input_gen_s": input_gen_s,
        })
        for key in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew"):
            values[f"spark.{key}"] = med(key)
        if plain and passes:
            # fastest pass of each loop: a context's first pass can be cold
            values["trace.overhead_frac"] = (
                min(tracer.duration(sid) for sid in passes) / statistics.mean(plain) - 1.0)
        values.update(wl.layer_metrics(tracer, log))
        spans_file = os.path.join(self.out_dir, f"trace-{wl.name}-{args.seed}-{tracer.run_id}.json")
        tracer.dump(spans_file)
        report["spans_file"] = os.path.relpath(spans_file, ROOT)
        report["passes"] = {"untraced": len(before) + len(after), "traced": len(traced)}
        report["metrics"] = {k: {"value": v, "unit": metrics.PER_LAYER[k][0]}
                             for k, v in values.items()}
        return report, values


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] threads; default and maximum: nproc")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests run tiny inputs)")
    return ap.parse_args(argv)


def main(argv=None) -> dict:
    """Run once; return the result object the last stdout line holds."""
    args = parse_args(argv)
    # a stopped run still stops Spark and its workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args)
    try:
        report, values = run.execute()
    finally:
        _stop_all(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
    units = ({k: v[0] for k, v in metrics.END_TO_END.items()} if not args.trace
             else {k: v[0] for k, v in metrics.PER_LAYER.items()})
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    return result


if __name__ == "__main__":
    main()
