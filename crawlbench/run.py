#!/usr/bin/env python3
"""Crawl-frontier benchmark — one command per workload.

    python3 crawlbench/run.py --workload crawl_resume --seed 1 --seconds 15 --trace 0
    python3 crawlbench/run.py --workload frontier_batch --seed 1 --seconds 15 --trace 1
    python3 crawlbench/run.py --selftest

Run from the root of a checkout. The engine (``kryptone_spark``) is
imported from that checkout; everything the run writes (Spark local
dirs, tables, temp files, the run record) goes under ``.bench_work/``
there. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See crawlbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark runs local[2]: the other cores of a 4-core host stay free for
# the driver JVM's JIT and GC and for Python.
CORES = 2
DRIVER_MEM = "2g"
# Op counts are fixed per workload for a given --seconds: the nominal
# warm op wall measured on a 4-vCPU host sets how many ops fill the
# window, so a slower engine runs the same ops for longer instead of
# fewer ops.
NOMINAL_OP_S = {"crawl_resume": 11.0, "frontier_batch": 2.4}
MIN_OPS = {"crawl_resume": 2, "frontier_batch": 6}
INPUT_BUILDS = 3  # setup_s takes the median of these input builds
# An op not started by this process age is skipped and counted as
# failed, so the run still ends within 180 s and a cut window shows.
DEADLINE_S = 165.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(NOMINAL_OP_S))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true",
                   help="feed deliberately wrong outputs to the checks")
    a = p.parse_args(argv)
    if not a.selftest and a.workload is None:
        p.error("--workload is required")
    return a


def prepare_env(work: str) -> None:
    """Point every temporary location of Spark, the JVM and Python into
    the run's work dir inside the checkout."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files: HotSpot writes them under /tmp, not java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp


def n_ops(workload: str, seconds: int) -> int:
    return max(MIN_OPS[workload], round(seconds / NOMINAL_OP_S[workload]))


def run_window(wl, count: int, tag: str, t_proc0: float) -> list:
    """Closed loop, one client: the next op starts when the previous
    one returned. An op that raises or is skipped counts as failed."""
    from workloads import OpResult

    out = []
    for i in range(count):
        if out and time.perf_counter() - t_proc0 > DEADLINE_S:
            out.append(OpResult(0.0, 0, [], error=f"skipped: past the {DEADLINE_S:.0f} s deadline"))
            continue
        try:
            out.append(wl.op(f"{tag}{i}"))
        except Exception as e:  # an engine error fails the op, not the run
            out.append(OpResult(0.0, 0, [], error=f"{type(e).__name__}: {e}"))
    return out


def e2e_metrics(ops: list, setup_s: float) -> dict:
    ok = [o for o in ops if o.error is None]
    if not ok:
        return {}
    rates = [o.items / o.wall_s for o in ok]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "work_per_s": {"value": statistics.median(rates), "unit": "1/s"},
    }


def stop_spark(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    from host import process_start_age_s

    t_proc0 = time.perf_counter() - process_start_age_s()
    args = parse_args(argv)
    if args.selftest:
        import selftest

        return selftest.main()
    try:
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"crawlbench: pyspark is not importable: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "kryptone_spark")):
        print(f"crawlbench: no kryptone_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    from host import HostWindow, jvm_gc_seconds, peak_rss_mib, process_cpu_seconds
    from kryptone_spark.session import get_spark

    spark = get_spark("crawlbench", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    session_s = time.perf_counter() - t_proc0
    record: dict = {"args": vars(args), "cores": CORES, "driver_mem": DRIVER_MEM}
    try:
        import workloads

        cls = {"crawl_resume": workloads.CrawlResume,
               "frontier_batch": workloads.FrontierBatch}[args.workload]
        wl = cls(spark, work, args.seed)
        builds = []
        for _ in range(INPUT_BUILDS):
            t = time.perf_counter()
            wl.build_inputs()
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(builds) + warm_s
        record["setup"] = {"session_s": session_s, "input_builds_s": builds,
                           "warm_up_s": warm_s, "setup_s": setup_s,
                           "warm_up_error": warm.error}
        count = n_ops(args.workload, args.seconds)
        gc0, cpu0 = jvm_gc_seconds(spark), process_cpu_seconds(jvm_pid)
        with HostWindow() as host:
            if args.trace:
                import traced

                ops, metrics = traced.run(wl, count, t_proc0, record, run_window)
            else:
                ops = run_window(wl, count, "op", t_proc0)
                metrics = e2e_metrics(ops, setup_s)
        record["ops"] = [dataclasses.asdict(o) for o in ops]
        record["jvm_gc_s_window"] = jvm_gc_seconds(spark) - gc0
        cpu1 = process_cpu_seconds(jvm_pid)
        record["jvm_cpu_s_window"] = cpu1 - cpu0 if None not in (cpu0, cpu1) else None
    finally:
        rss = peak_rss_mib(jvm_pid)
        stop_spark(spark)
    record["host"] = host.record
    record["rss"] = rss
    if args.trace:
        metrics["driver.peak_rss_mib"] = {"value": rss["jvm_peak_rss_mib"] or 0.0, "unit": "MiB"}
    failed = sum(o.error is not None for o in ops)
    result = {
        "correct": warm.error is None and failed == 0 and bool(metrics),
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    record["result"] = result
    os.makedirs(os.path.join(work_root, "records"), exist_ok=True)
    rec_path = os.path.join(
        work_root, "records",
        f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json",
    )
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(f"run record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
