"""sparktick benchmark: one command, two workloads, correctness-checked.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` (see ``gen.py``), sets up a fresh Spark session and warehouse,
drives the program's public functions for ``--seconds`` seconds, checks
every answer against an independent oracle, and prints as its last
stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
is a separate run that records spans and Spark counters and reports the
per-layer metrics instead. The line before it carries run details: input
sizes, wall-clock throughput and latency with the tail percentile and its
sample count, span summaries and the bases of every ratio. Workloads are described in ``WORKLOADS.md``.

Everything the run writes lives under ``.bench_work/`` in the current
directory and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spark parallelism of every run: small enough to share a 4-core box.
CORES = 2
#: Driver JVM heap (the most it may grow to).
DRIVER_MEM = "1g"
#: Fresh sessions started per run, each in a new JVM; ``setup_s`` counts
#: the median of their start + warm-up times. A third would push a run
#: past a minute, the run budget.
SESSIONS = 2


class Run:
    """State shared by one workload run: arguments, work dir, session,
    tracer, timings and the correctness tally."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.tiny = args.tiny
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.details: dict = {}
        self.spark = None
        self.tracer = None
        self.setup_parts: dict[str, float] = {}
        self.session_parts: dict[str, list[float]] = {}

    # -- correctness ----------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; keep the first few failures."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 10:
                self.failures.append(what)

    # -- session --------------------------------------------------------
    def start_session(self) -> None:
        from pyspark.sql import functions as F

        from perfbench.spans import Tracer, event_log_conf
        from tickdb_spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            # one GC thread: the default collector's four wait for the
            # slowest of them at every pause, so on a shared host its CPU
            # time and heap growth followed the other tenants' load
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:+UseSerialGC",
            "spark.driver.memory": DRIVER_MEM,
        }
        if self.traced:
            conf.update(event_log_conf(os.path.join(self.work, "eventlog")))
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf=conf,
        )
        self.session_parts.setdefault("session.start_s", []).append(time.perf_counter() - t0)
        self.tracer = Tracer(self.workload, self.traced, self.spark.sparkContext)
        # Warm-up: one job end to end, so the first timed operation does
        # not pay JVM start-up. The operator bank also needs Python workers:
        # its warm-up pass starts them.
        t0 = time.perf_counter()
        with self.tracer.span("session.warm", op="setup"):
            self.spark.range(CORES, numPartitions=CORES).agg(F.sum("id")).collect()
        self.session_parts.setdefault("session.warm_s", []).append(time.perf_counter() - t0)

    def setup_sessions(self) -> float:
        """Start ``SESSIONS`` fresh sessions one after another, stopping all
        but the last, and return the median of their start + warm-up
        seconds. Only the kept session's event log is parsed."""
        times = []
        for i in range(SESSIONS):
            if i:
                self.stop_session()
                if self.traced:
                    shutil.rmtree(os.path.join(self.work, "eventlog"))
            t0 = time.perf_counter()
            self.start_session()
            times.append(time.perf_counter() - t0)
        self.details["session_setups_s"] = times
        for name, xs in self.session_parts.items():
            self.setup_parts[name] = statistics.median(xs)
        return statistics.median(times)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and its JVM, with every
        process the JVM started (the Python workers) and the ones they
        reaped, from /proc. Time the host steals from the machine counts in
        none of them, so the figure follows the work done, not how busy
        the host's other tenants are."""
        t = os.times()
        total = t.user + t.system
        gw = getattr(self.spark.sparkContext, "_gateway", None)
        proc = getattr(gw, "proc", None)
        if proc is None:
            return total
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        # fields after the command: ppid, ..., utime, stime, cutime, cstime
                        stats[int(d)] = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    pass
        tree, frontier = set(), {proc.pid}
        while frontier:
            tree |= frontier
            frontier = {pid for pid, st in stats.items() if int(st[1]) in frontier} - tree
        tick = os.sysconf("SC_CLK_TCK")
        return total + sum(sum(map(int, stats[pid][11:15])) / tick for pid in tree if pid in stats)

    def peak_rss_mb(self) -> float:
        """High-water RSS of this process plus its JVM, from /proc."""
        pids = [os.getpid()]
        gw = getattr(self.spark.sparkContext, "_gateway", None)
        proc = getattr(gw, "proc", None)
        if proc is not None:
            pids.append(proc.pid)
        hwm_mb = []
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm_mb.append(int(line.split()[1]) / 1024.0)
        self.details["peak_rss_mb"] = dict(zip(("python", "jvm"), hwm_mb))
        return sum(hwm_mb)

    def stop_session(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        # the next session launches a new JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    # The program under test is the checkout this file sits in; without
    # it there is nothing to measure, and the import fails before any
    # result is printed.
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tickdb_spark  # noqa: F401

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work  # Python workers inherit it through the JVM
    tempfile.tempdir = work
    # no JVM the run starts writes its perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    run = Run(args, work)
    try:
        metrics = workloads.WORKLOADS[args.workload](run)
    finally:
        run.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if run.failures:
        run.details["failures"] = run.failures
    print(json.dumps({"workload": args.workload, "seed": args.seed, "details": run.details}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # not this directory: its module names would shadow others
    sys.exit(main())
