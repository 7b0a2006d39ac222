"""Seeded benchmark of the gents_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0

One process, one Spark session on ``local[<half the cores>]``.  Set-up
(session start, seeded input generation, and one whole untimed pass so that
every measured pass runs warm) is timed apart from the measured passes.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of the
passes that fit in ``--seconds`` (at least the workload's ``MIN_PASSES``)
with ``--trace 0``, the per-layer metrics of one traced pass with
``--trace 1``.  The line before it records the chosen Spark sizing, the
host gauge before and after, and the workload's headline figures.  Everything the run writes stays under
``.perfbench_work/`` in the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
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

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
)
#: input generation is repeated and its median used; the session and the
#: JIT warm-up can only be paid once per process
INPUT_ROUNDS = 3


def host_sizing() -> dict:
    """Spark sized to this host: half the usable cores, a quarter of RAM.

    Task threads on every core leave none for the Python workers, the
    JVM's GC and JIT threads and other tenants of a shared host, and the
    run then measures the scheduler.  A build on 4 task threads of a 4-core
    host is no faster than on 2."""
    cores = len(os.sched_getaffinity(0))
    threads = max(1, cores // 2)
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) // 1024
    return {
        "master": f"local[{threads}]",
        "cores": cores,
        "mem_total_mb": mem_mb,
        "driver_memory": f"{min(max(mem_mb // 4, 1024), 8192)}m",
        "shuffle_partitions": 2 * threads,
        "gc_threads": threads,
    }


def start_session(sizing: dict, work: str):
    from gents_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    # SPARK_LOCAL_DIRS overrides spark.local.dir; keep both in the work dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVM that spark-submit starts to assemble the driver command:
    # no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        o for o in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if o)
    spark = get_spark(
        master=sizing["master"],
        app_name="gents_spark-perfbench",
        shuffle_partitions=sizing["shuffle_partitions"],
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": sizing["driver_memory"],
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData "
                f"-XX:ParallelGCThreads={sizing['gc_threads']} "
                f"-XX:ConcGCThreads={max(1, sizing['gc_threads'] // 4)}"
            ),
            # plan descriptions keep whole input paths (input-scan count)
            "spark.sql.maxMetadataStringLength": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end its JVM and wait until the JVM and its Python
    workers have exited."""
    from pyspark import SparkContext

    import tracing

    proc = SparkContext._gateway.proc
    pids = [proc.pid, *tracing.descendants(proc.pid)]
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout_s)
    deadline = time.time() + timeout_s
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def traced_pass(spark, wl) -> dict:
    """One pass with the engine's entry points wrapped, then its SQL
    executions read from the status store.  The wrappers only stamp wall
    clocks; the reading happens after the pass, and its share of the pass
    wall is the tracing overhead."""
    from pyspark import SparkContext

    import tracing
    from workloads import PER_LAYER

    spans = tracing.Spans()
    wl.install_spans(spans)
    rss = tracing.PeakRss(SparkContext._gateway.proc.pid)
    rss.start()
    since_ms = time.time() * 1e3
    try:
        r = wl.run_pass(spans)
    finally:
        peak_rss_mb = rss.stop()
        spans.restore()
    if r is None:
        raise RuntimeError("the traced pass raised")
    t0 = time.perf_counter()
    tracing.SqlExecutions(spark).attribute(spans, since_ms)
    layers = {name: 0.0 for name, _, _ in PER_LAYER}
    layers.update(wl.layers(spans, r))
    layers["trace.overhead_frac"] = (time.perf_counter() - t0) / sum(r["seconds"].values())
    layers["mem.peak_rss_mb"] = peak_rss_mb
    return layers


def measure(args, work: str) -> dict:
    import bench
    import tracing
    from workloads import PER_LAYER, WORKLOADS

    sizing = host_sizing()
    gauge_before = bench.host_calibration()
    t0 = time.perf_counter()
    spark = start_session(sizing, work)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        input_s = []
        for _ in range(INPUT_ROUNDS):
            t0 = time.perf_counter()
            wl.generate_inputs()
            input_s.append(time.perf_counter() - t0)
        wl.prepare_checks()
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0

        if args.trace:
            metrics = traced_pass(spark, wl)
            metrics.update({
                "session.start_s": session_s,
                "synth.input_s": statistics.median(input_s),
                "warmup_s": warmup_s,
            })
            metrics = {name: (metrics[name], unit) for name, unit, _ in PER_LAYER}
        else:
            # the workload's minimum of passes, then another only while it
            # is expected to end within --seconds
            t0 = time.perf_counter()
            for n in itertools.count(1):
                wl.run_pass(tracing.Spans())
                used = time.perf_counter() - t0
                if n >= wl.MIN_PASSES and used + used / n > args.seconds:
                    break
            if not wl.passes:
                raise RuntimeError("no pass completed")
            e2e = wl.end_to_end()
            e2e["setup_s"] = session_s + statistics.median(input_s) + warmup_s
            metrics = {name: (e2e[name], unit) for name, unit in END_TO_END}
        details = wl.details()
    finally:
        stop_session(spark)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "sizing": sizing,
        "host_cal_s": {"before": gauge_before, "after": bench.host_calibration()},
        "passes": len(wl.passes),
        "setup": {"session_s": session_s, "input_s": input_s, "warmup_s": warmup_s},
        "figures": details,
        "failed_ops": sorted(wl.checks.failed),
    }))
    failed = len(wl.checks.failed)
    return {
        "correct": failed == 0,
        "attempted": wl.checks.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "query_battery"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure the passes that fit in this many seconds "
                         "(at least the workload's minimum)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import bench  # noqa: F401  (the query list and the host gauge)
        import gents_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the package from the repository root, and
    # every temporary file stays in the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
