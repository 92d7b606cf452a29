#!/usr/bin/env python3
"""Benchmark of metaframe_spark: one workload, one closed-loop client.

Run from the repository root::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

The run starts one ``local[4]`` Spark session (4 shuffle partitions),
generates the workload's inputs from ``--seed`` under ``.perfbench_work/``
in the repository root, warms up with one untimed pass, then starts timed
passes while ``--seconds`` have not passed since the first one started (at
least the workload's ``min_passes``), and checks the outputs (untimed).
The driver JVM compiles with the quick first JIT tier only (see
``_session``). ``total_s``
is the time of one pass: the sum over the pass's parts (analytics entries;
the curation and stream halves of a corpus pass) of each part's low median
over the timed passes (with an even count, the lower of the middle two, so
of two passes the less warmed-up one does not count).
It prints one
``metric <name> <value> <unit>`` line per metric and, as the last line of
standard output, one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs untraced
and traced passes in pairs and reports the per-layer metrics of the traced
ones (see ``workloads.LAYER_METRICS``); the span machinery lives in
``spans.py``, and the spans themselves go to standard error as one line.
``--size smoke`` shrinks every input for a quick check.
The work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# chain length for bench.dispatch_microbench; analysing its deep chains
# costs about the square of this (at 200 the call took 24-52 s of a traced
# run, at 100 it takes 11-12 s)
DISPATCH_OPS = 100
END_TO_END = [
    ("setup_s", "s"),
    ("total_s", "s"),
    ("records_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]


def _parse(argv):
    from workloads import SIZES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="default")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, its JVM and its Python workers write inside
    the work directory, and put the repository on the workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the JVM that spark-submit starts first to build the command line; no
    # JVM writes its perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def _session(work: str):
    from metaframe_spark.session import get_session

    return get_session(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "1g",
            # the heap is committed and touched at start, so peak RSS does not
            # depend on when the collector chose to grow the heap. The JIT
            # stops at its quick first tier: with the optimizing tier, passes
            # a minute into a run still got 10% faster each while compiler
            # threads kept 2.5 of the 4 cores busy, so a run measured how far
            # compilation had got and how much CPU the host's neighbours
            # left it, and runs of one seed differed by 40%
            "spark.driver.extraJavaOptions":
                f"-Xms1g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                f"-Xlog:gc+alloc=off -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _mean_of(dicts, key):
    vals = [d.get(key, 0.0) for d in dicts]
    return sum(vals) / len(vals) if vals else 0.0


def run(args, work: str) -> dict:
    from spans import Tracer
    from workloads import LAYER_METRICS, SIZES, WORKLOADS, layer_metrics

    size = SIZES[args.size]
    t = time.monotonic()
    spark = _session(work)
    session_s = time.monotonic() - t
    try:
        off = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, work, args.seed, size)

        # set-up: inputs, then a warm-up pass that fills the JIT and codegen
        # caches
        t = time.monotonic()
        wl.generate(os.path.join(work, "inputs"))
        wl.use_inputs(os.path.join(work, "inputs"))
        setup = {"setup.session_s": session_s,
                 "setup.generate_s": time.monotonic() - t,
                 "setup.warm_s": wl.warm(off)}

        # timed passes: a closed loop that starts another pass while the
        # window is open, and runs at least min_passes; a traced run runs
        # untraced and traced passes in pairs
        on = Tracer(spark, enabled=True)
        plain, traced, layers = [], [], []
        order = [off, on] if args.trace else [off]
        t0 = time.monotonic()
        while len(plain) < wl.min_passes or time.monotonic() - t0 < args.seconds:
            for tracer in order:
                res = wl.run_pass(tracer)
                if tracer is off:
                    plain.append(res)
                else:
                    traced.append(res)
                    layers.append(layer_metrics(on, res, CORES, getattr(wl, "input_bytes", 0)))
            # the pair's order alternates, so a trend across passes does
            # not bias trace.overhead_frac
            order.reverse()
        passes = plain + traced
        attempted = sum(len(p.op_s) for p in passes)
        failed = sum(p.failed for p in passes)
        failed += wl.check(len(passes))
        part_s = {k: statistics.median_low(p.parts[k] for p in plain) for k in plain[0].parts}

        if args.trace:
            metrics = {name: _mean_of(layers, name) for name, _ in LAYER_METRICS}
            metrics.update(setup)
            metrics["cache.entries_left"] = wl.cache_left
            metrics["trace.overhead_frac"] = (
                statistics.median(p.wall_s for p in traced)
                / statistics.median(p.wall_s for p in plain) - 1.0
            )
            if args.workload == "analytics":
                import bench

                d = bench.dispatch_microbench(spark, wl.data, n_ops=DISPATCH_OPS)
                metrics["core.dispatch_us_per_call"] = d["flat_overhead_us_per_call"]
                attempted += 1
                if not d["plans_identical"]:
                    print("core: wrapped and raw plans differ", flush=True)
                    failed += 1
            units = dict(LAYER_METRICS)
            # the spans themselves, written out once the run is over
            print("spans " + json.dumps(
                [{**dataclasses.asdict(sp), "self_s": sp.self_s} for sp in on.spans]
            ), file=sys.stderr)
        else:
            total_s = sum(part_s.values())
            metrics = {
                "setup_s": sum(setup.values()),
                "total_s": total_s,
                "records_per_s": wl.records / total_s,
                "peak_rss_mb": _peak_rss_mb(spark),
            }
            units = dict(END_TO_END)
    finally:
        _stop(spark)
    failed = min(failed, attempted)
    print("set-up " + " ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    print("pass_s " + " ".join(f"{p.wall_s:.3f}" for p in plain))
    print("part_s " + " ".join(f"{k}={v:.3f}" for k, v in part_s.items()))
    print(f"passes {len(plain)} untraced, {len(traced)} traced; "
          f"operations attempted {attempted}, failed {failed} "
          f"(failed_frac {failed / attempted:.4f})")
    for name, value in metrics.items():
        print(f"metric {name} {value:.6g} {units[name]}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }


def main(argv=None) -> int:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    args = _parse(argv)
    # on termination, unwind: stop Spark and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    _environment(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
