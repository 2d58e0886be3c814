#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cli_cold --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``cli_cold`` and ``registry``. One
process, one warm Spark session on ``local[nproc]``, one client in a
closed loop. Set-up (session start and the untimed warm-up ops) is timed
as ``setup_s``; then operations run until ``--seconds`` of operation time
have passed, and at least the workload's ``min_timed_ops``. Every
operation's output is checked; a wrong or raised result counts as failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with the per-layer tracer (``tracer.py``) on every other timed op and
prints the per-layer metrics instead.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_FILES = (
    "bigdataminingproject_spark/__init__.py",
    "__spark_entry__.py",
    "tools/check_correctness.py",
)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
DRIVER_MEM = "1g"
E2E_UNITS = {"setup_s": "s", "op_s_p50": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def isolate(run_dir: str, trace: bool) -> None:
    """Point every temp path of this run at ``run_dir`` and fix the
    session's size. Must run before pyspark starts the JVM."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata files under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + events
    submit = []
    for k, v in conf.items():
        submit += ["--conf", f"{k}={v}"]
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR


class OpLoop:
    """Runs and checks one op at a time, counting attempted and failed ops.
    A result that raises or that ``wl.check`` rejects is a failed op."""

    def __init__(self, wl, spark, tracer=None):
        self.wl = wl
        self.spark = spark
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted

    def run(self, traced: bool) -> tuple[float, float]:
        """One op; returns (op seconds, check seconds)."""
        self.attempted += 1
        if self.tracer:
            self.tracer.begin_op(traced)
        t = time.perf_counter()
        try:
            result = self.wl.op(self.spark)
        except Exception as e:  # noqa: BLE001 - a raised op is a failed op
            result, bad = None, [f"raised {type(e).__name__}: {str(e)[:300]}"]
        op_s = time.perf_counter() - t
        if self.tracer:
            self.tracer.end_op()
        t = time.perf_counter()
        if result is not None:
            bad = self.wl.check(result)
        check_s = time.perf_counter() - t
        if bad:
            self.failed += 1
            self.errors.extend(bad)
        return op_s, check_s


def overhead_frac(untraced: list[float], traced: list[float]) -> float:
    """Median slowdown of a traced op against the mean of the untraced ops
    just before and after it (``untraced[i]``, ``traced[i]``,
    ``untraced[i + 1]`` ran in that order). Pairing with both neighbours
    keeps the JVM's warming from counting as negative overhead. Both run
    with the event log on, so its cost is not part of the overhead."""
    return statistics.median(
        t / ((untraced[i] + untraced[i + 1]) / 2) - 1.0 for i, t in enumerate(traced)
    )


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for every child process."""
    import proctree

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    proctree.reap_descendants(timeout=20)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    t_start = process_start_time()
    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    # the package reads its environment at import: isolate first
    isolate(run_dir, bool(args.trace))
    for p in (ROOT, HERE, os.path.join(ROOT, "tools")):
        sys.path.insert(0, p)
    import proctree
    import workloads

    if args.workload not in workloads.NAMES:
        shutil.rmtree(run_dir)
        print(f"unknown workload {args.workload!r}; one of {workloads.NAMES}", file=sys.stderr)
        return 2
    rss = proctree.PeakRss()
    rss.start()
    wl = workloads.make(args.workload)
    bench_only_s = 0.0  # benchmark-only work inside the set-up interval

    t = time.perf_counter()
    wl.prepare(run_dir, args.seed)
    bench_only_s += time.perf_counter() - t

    tracer = None
    if args.trace:
        import tracer as tracer_mod

        tracer = tracer_mod.Tracer()
        tracer.install()
        wl.runner = tracer.run_query
    from bigdataminingproject_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if tracer:
            tracer.attach(spark)

        loop = OpLoop(wl, spark, tracer)

        for _ in range(wl.warmup_ops):
            _, check_s = loop.run(traced=False)
            bench_only_s += check_s
        setup_s = time.time() - t_start - bench_only_s

        op_times: list[float] = []
        traced_times: list[float] = []
        # a traced run alternates untraced and traced ops, and starts and
        # ends with an untraced one: every traced op has an untraced
        # neighbour on either side
        min_ops = max(wl.min_timed_ops, 3) if tracer else wl.min_timed_ops

        def more() -> bool:
            n = len(op_times) + len(traced_times)
            if n < min_ops or sum(op_times) + sum(traced_times) < args.seconds:
                return True
            return bool(tracer) and len(op_times) <= len(traced_times)

        while more():
            traced = bool(tracer) and len(op_times) > len(traced_times)
            op_s, _ = loop.run(traced)
            (traced_times if traced else op_times).append(op_s)

        rss.stop()
        if tracer:
            tracer.detach(spark)
    finally:
        stop_spark(spark)

    op_p50 = statistics.median(op_times)
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": op_p50,
        "rows_per_s": wl.rows_per_op * len(op_times) / sum(op_times),
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    print(
        f"{args.workload} seed={args.seed}: "
        + " ".join(f"{k}={v:.4g} {E2E_UNITS[k]}" for k, v in e2e.items())
        + f" fail_frac={loop.fail_frac:.4g} ({loop.failed}/{loop.attempted} ops)"
        + f" bench_only_s={bench_only_s:.3g} ops_s={[round(t, 2) for t in op_times]}"
    )
    for e in loop.errors[:10]:
        print(f"  wrong: {e}")
    if tracer:
        metrics = tracer.metrics(
            run_dir,
            overhead_frac(op_times, traced_times),
            os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}.spans.jsonl"),
        )
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": loop.failed == 0,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
