"""Self-test of the benchmark's output checks: feed deliberately wrong
outputs and show that each check catches them, and that a failed op is
counted as failed and contributes no timing.

    python3 crawlbench/run.py --selftest

Part 1 runs the closed-form checks on hand-made outputs (no Spark).
Part 2 crawls a 16-page-wide layered site through the engine, deletes
one committed wave of its visited table and shows that the crawl check
reads the damaged table back and fails the op.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _expect(label: str, err, should_fail: bool) -> bool:
    ok = (err is not None) == should_fail
    verdict = "caught" if err is not None else "passed"
    print(f"{'ok  ' if ok else 'FAIL'} {label}: {verdict}" + (f" ({err})" if err else ""))
    return ok


def pure_checks() -> bool:
    from run import e2e_metrics
    from workloads import OpResult, check_crawl, check_frontier

    width, depth = 20, 2
    good = {
        "per_wave": {0: (1, -1, -1), 1: (width, 0, 0), 2: (width, 1, 1)},
        "distinct": 1 + width * depth,
        "lineage": {0: 1, 1: 1, 2: 1},
        "committed": [0, 1, 2],
    }
    pages = 1 + width * depth
    ok = _expect("crawl, correct output", check_crawl(good, width, depth, pages, 1, 1), False)
    lost = dict(good, per_wave={**good["per_wave"], 2: (width - 1, 1, 1)},
                distinct=pages - 1)
    ok &= _expect("crawl, one page lost in wave 2",
                  check_crawl(lost, width, depth, pages, 1, 1), True)
    twice = dict(good, lineage={0: 1, 1: 2, 2: 1})
    ok &= _expect("crawl, wave 1 committed twice",
                  check_crawl(twice, width, depth, pages, 1, 1), True)
    shifted = dict(good, per_wave={**good["per_wave"], 2: (width, 0, 1)})
    ok &= _expect("crawl, wave 2 fetched a layer-0 page",
                  check_crawl(shifted, width, depth, pages, 1, 1), True)

    expect = {"antijoin_rows": 75, "batch_rows": 40, "candidates": 100,
              "valid_rows": 60, "valid_hash": 123456}
    ok &= _expect("frontier, correct output", check_frontier(dict(expect), expect), False)
    ok &= _expect("frontier, one extra batch row",
                  check_frontier(dict(expect, batch_rows=41), expect), True)
    ok &= _expect("frontier, same count but another valid set",
                  check_frontier(dict(expect, valid_hash=654321), expect), True)

    ops = [OpResult(2.0, 100, []), OpResult(2.5, 100, []),
           OpResult(0.1, 100, [], error="batch_rows: got 41, expected 40")]
    m = e2e_metrics(ops, setup_s=1.0)
    failed = sum(o.error is not None for o in ops)
    acct = failed == 1 and m["work_per_s"]["value"] == 45.0
    print(f"{'ok  ' if acct else 'FAIL'} accounting: failed={failed}, "
          f"work_per_s={m['work_per_s']['value']} (the failed 0.1 s op is excluded)")
    return ok and acct


def spark_check() -> bool:
    from run import CORES, prepare_env, stop_spark

    work = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    prepare_env(work)
    from kryptone_spark.session import get_spark

    spark = get_spark("crawlbench-selftest", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from workloads import CrawlResume

        wl = CrawlResume(spark, work, seed=7, width=16, depth=2, warm_width=16)
        wl.build_inputs()
        op = wl.op("selftest", keep=True)
        ok = _expect("engine crawl, untouched tables", op.error, False)
        root = os.path.join(work, "crawl_selftest")
        shutil.rmtree(os.path.join(root, "visited", "wave=2"))
        err = wl.check(root, wl.width, op.items, wl.stop_at)
        ok &= _expect("engine crawl, visited wave 2 deleted", err, True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return ok


def main() -> int:
    sys.path.insert(0, ROOT)
    ok = pure_checks()
    ok &= spark_check()
    print("selftest:", "ok" if ok else "FAILED")
    return 0 if ok else 1
