"""The traced run: per-layer metrics from spans around the engine's
public calls and from the Spark status store.

The traced run alternates untraced and traced ops and starts and ends
with an untraced one (U T U ... T U), so the median untraced op and the
median traced op sit at the same point of the run and
``trace.overhead_ratio.*`` compares the two inside one JVM without the
drift of a warming JVM biasing it. Each traced op
yields one value per per-layer metric and the run reports the median
over its traced ops. Every per-layer metric that ``BENCHMARK.json``
lists is emitted on both workloads; a layer a workload does not
exercise reads 0.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

from pyspark.sql import functions as F

import kryptone_spark.plans.waves as waves_mod
from kryptone_spark.operators import admission, schedule
from kryptone_spark.operators import seen as seen_mod
from kryptone_spark.plans.tableio import TableIO
from kryptone_spark.plans.waves import WaveRunner
from kryptone_spark.streaming import ingest
from spans import Tracer, job_intervals, stages_of, union_length
from workloads import SEEN_EVERY, OpResult, hash32, noop, url_id

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def per_layer_units() -> dict:
    """name -> unit of every per-layer metric ``BENCHMARK.json`` lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def instrument(tr: Tracer) -> None:
    tr.wrap(schedule, "politeness_schedule", "schedule.politeness_schedule")
    tr.wrap(admission, "admit", "admission.admit")
    tr.wrap(waves_mod, "fetch_documents_join", "waves.fetch_documents_join")
    # waves and ingest import checkpoint_cut by name
    tr.wrap(waves_mod, "checkpoint_cut", "lineage_cut.checkpoint_cut")
    tr.wrap(ingest, "checkpoint_cut", "lineage_cut.checkpoint_cut")
    for m in ("write_wave", "read", "committed_waves", "drop_waves_after"):
        tr.wrap(TableIO, m, f"tableio.{m}")
    for m in ("seed", "run_wave", "resume", "flush"):
        tr.wrap(WaveRunner, m, f"waves.{m}", group=True)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _first_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1) + 1


def _overhead(untraced: list, traced: list) -> float:
    """work_per_s untraced / traced, both timed in this JVM (>1 = the
    spans slow the op down)."""
    def rate(ops):
        return _med([o.items / o.wall_s for o in ops if o.error is None])

    r_t = rate(traced)
    return rate(untraced) / r_t if r_t else 0.0


def traced_op(wl, tr: Tracer, i: int) -> tuple[OpResult, dict | None]:
    """One op with the engine instrumented; returns the op and its
    per-layer values (None when its check failed)."""
    first_job = _first_job_id(wl.spark)
    n0 = len(tr.spans)
    instrument(tr)
    try:
        if wl.name == "crawl_resume":
            op = wl.op(f"traced{i}", keep=True)
        else:
            op = wl.op(f"traced{i}", span=tr.span)
    finally:
        tr.restore()
    if op.error is not None:
        return op, None
    spans = tr.spans[n0:]
    if wl.name == "crawl_resume":
        return op, crawl_layers(wl, tr, op, first_job, spans, f"traced{i}")
    return op, frontier_layers(wl, tr, op, first_job, spans)


def run(wl, count: int, t_proc0: float, record: dict, run_window):
    units = per_layer_units()
    tr = Tracer(wl.spark)
    untraced, traced, layers = [], [], []
    n = max(1, count // 2)
    for i in range(n):
        untraced += run_window(wl, 1, f"untraced{i}", t_proc0)
        op, values = traced_op(wl, tr, i)
        traced.append(op)
        if values is not None:
            layers.append(values)
    untraced += run_window(wl, 1, f"untraced{n}", t_proc0)
    values = {k: 0.0 for k in units}
    if layers:
        values.update({k: statistics.median(d[k] for d in layers) for k in layers[0]})
    record["traced_layers"] = layers
    instrument(tr)
    try:
        if wl.name == "crawl_resume":
            legs = [ingest_leg(wl, tr, values, os.path.join(wl.work, "crawl_traced0"), record)]
        else:
            legs = schedule_legs(wl, values) + [bloom_leg(wl, values)]
    finally:
        tr.restore()
    values["trace.overhead_ratio.work_per_s"] = _overhead(untraced, traced)
    unlisted = sorted(set(values) - set(units))
    if unlisted:
        raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {unlisted}")
    record["spans"] = [
        {"id": s.id, "name": s.name, "parent": s.parent, "thread": s.thread,
         "t0": s.t0, "t1": s.t1, "group": s.group}
        for s in tr.spans
    ]
    record["span_summary"] = tr.summary()
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in units.items() if k != "driver.peak_rss_mib"}
    return untraced + traced + legs, metrics


# ---------------------------------------------------------------------------
# crawl_resume
# ---------------------------------------------------------------------------


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    )


def crawl_layers(wl, tr: Tracer, op: OpResult, first_job: int, spans: list,
                 tag: str) -> dict:
    """Per-layer values of one traced crawl. Only the spans and jobs of
    the op's timed part count: the output check that follows it reads
    the tables back and launches jobs of its own."""
    spark = wl.spark
    root = os.path.join(wl.work, f"crawl_{tag}")
    _, t_end = op.extra["window"]
    in_op = [s for s in spans if s.t1 <= t_end]
    named = lambda n: [s for s in in_op if s.name == n]
    run_waves = named("waves.run_wave")
    groups = [s.group for s in in_op if s.group]
    jobs = [j for j in tr.jobs_since(first_job, groups)
            if j["t0"] is not None and j["t0"] <= t_end]
    by_group: dict = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    wave_jobs = [j for s in run_waves for j in by_group.get(s.group, [])]
    waves = max(1, len(op.steps))
    pages = max(1, op.items)
    v: dict = {}

    for phase in ("schedule", "admission", "per_url", "state_build"):
        v[f"waves.{phase}_s"] = op.extra["phase_seconds"].get(phase, 0.0) / waves
    v["waves.jobs_per_wave"] = len(wave_jobs) / waves
    v["waves.driver_gap_s"] = _mean([
        s.dur - union_length(job_intervals(by_group.get(s.group, [])), s.t0, s.t1)
        for s in run_waves
    ])
    wave_stages = stages_of(wave_jobs)
    v["waves.shuffle_bytes_per_page"] = sum(st["shuffle_write"] for st in wave_stages) / pages
    v["waves.spill_bytes"] = sum(st["spill"] for st in stages_of(jobs))
    v["waves.task_skew"] = (
        tr.task_skew(max(wave_stages, key=lambda st: st["run_ms"])) if wave_stages else 0.0)
    v["waves.fetch_join_plan_s"] = _mean([s.dur for s in named("waves.fetch_documents_join")])
    v["waves.seed_s"] = _mean([s.dur for s in named("waves.seed")])
    v["waves.rehydrate_s"] = 0.0
    resumes = named("waves.resume")
    if resumes:
        r = resumes[0]
        after = [s.t0 for s in run_waves if s.t0 >= r.t0]
        v["waves.rehydrate_s"] = (min(after) - r.t0) if after else r.dur
    v["waves.resume_s"] = op.extra.get("resume_s") or 0.0
    v["waves.wave_p50_s"] = _med(op.steps)
    v["schedule.plan_s"] = _mean([s.dur for s in named("schedule.politeness_schedule")])
    v["admission.plan_s"] = _mean([s.dur for s in named("admission.admit")])
    cuts = named("lineage_cut.checkpoint_cut")
    v["lineage_cut.calls_per_wave"] = len(cuts) / waves
    v["lineage_cut.s"] = sum(s.dur for s in cuts) / waves
    writes = named("tableio.write_wave")
    v["tableio.write_wave_s"] = sum(s.dur for s in writes) / waves
    v["tableio.writes_per_wave"] = len(writes) / waves
    v["tableio.jobs_per_wave"] = len(by_group.get(None, [])) / waves
    v["tableio.bytes_per_page"] = _dir_bytes(root) / pages
    v["tableio.flush_wait_s"] = sum(
        s.dur for s in named("waves.flush") if s.thread == "MainThread"
    )
    for m in ("read", "committed_waves", "drop_waves_after"):
        v[f"tableio.{m}_s"] = sum(s.dur for s in named(f"tableio.{m}"))

    lin = TableIO(spark, root).read("lineage").agg(
        F.sum("urls_in").alias("cand"), F.sum("urls_out").alias("out"),
        # membership rejections: already seen, or already visited
        F.sum(F.col("filter_cardinality")["seen"]
              + F.col("filter_cardinality")["visited"]).alias("seen"),
    ).collect()[0]
    v["admission.valid_ratio"] = lin["out"] / lin["cand"] if lin["cand"] else 0.0
    v["seen.reject_ratio"] = lin["seen"] / lin["cand"] if lin["cand"] else 0.0
    return v


def ingest_leg(wl, tr: Tracer, v: dict, crawl_root: str, record: dict) -> OpResult:
    """Feed the traced crawl's fetch batches back as fetch-result files
    in BFS order (one file per trigger), the widest wave split at a
    seeded point, plus one re-delivered file; run one
    ``run_crawl_ingest`` query to termination and check its state."""
    spark = wl.spark
    rows = TableIO(spark, crawl_root).read("fetch_batches").select(
        "wave", "url", "fetch_at").collect()
    by_wave: dict = {}
    for r in rows:
        by_wave.setdefault(r["wave"], []).append(r)
    files: list[list] = []
    rng = random.Random(wl.seed)
    widest = max(by_wave, key=lambda w: len(by_wave[w]))
    for w in sorted(by_wave):
        batch = sorted(by_wave[w], key=lambda r: r["url"])
        if w == widest and len(batch) > 1:
            cut = rng.randrange(1, len(batch))
            files += [batch[:cut], batch[cut:]]
        else:
            files.append(batch)
    files.append(files[rng.randrange(len(files))])  # re-delivery
    in_dir = os.path.join(wl.work, "stream_in")
    os.makedirs(in_dir, exist_ok=True)
    t_base = time.time() - 3600
    for i, batch in enumerate(files):
        p = os.path.join(in_dir, f"f{i:03d}.json")
        with open(p, "w") as f:
            for r in batch:
                f.write(json.dumps({
                    "url": r["url"],
                    "fetch_ts": r["fetch_at"].strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
                    "status": 200, "n_links": None,
                }) + "\n")
        os.utime(p, (t_base + i, t_base + i))

    io = TableIO(spark, os.path.join(wl.work, "stream_state"))
    stream = ingest.fetch_results_stream(spark, in_dir, max_files_per_trigger=1)
    t0 = time.time()
    q = ingest.run_crawl_ingest(
        stream, wl.docs, wl.config, io, os.path.join(wl.work, "stream_ckpt"))
    q.awaitTermination()
    wall = time.time() - t0
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    results = sum(len(b) for b in files)
    in_leg = [s for s in tr.spans if s.t0 >= t0 and s.t1 <= t0 + wall]
    batches = max(1, len(progress))
    v["ingest.batch_rows"] = _med([p.numInputRows for p in progress])
    v["ingest.batch_p50_s"] = _med(
        [p.durationMs.get("triggerExecution", 0) / 1000.0 for p in progress])
    v["ingest.admit_plan_s"] = _mean([s.dur for s in in_leg if s.name == "admission.admit"])
    v["ingest.write_wave_s"] = sum(
        s.dur for s in in_leg if s.name == "tableio.write_wave") / batches
    v["ingest.results_per_s"] = results / wall

    pages = 1 + wl.width * wl.depth
    vis = io.read("visited_stream").select("url")
    site = wl.docs.select(F.col("doc_id").alias("url"))
    n, distinct = vis.count(), vis.distinct().count()
    missing = site.join(vis, "url", "left_anti").count()
    extra = vis.join(site, "url", "left_anti").count()
    error = None
    if not (n == distinct == pages and missing == 0 and extra == 0):
        error = (f"visited_stream rows={n} distinct={distinct} pages={pages} "
                 f"missing={missing} extra={extra}")
    record["ingest"] = {"files": len(files), "results": results, "wall_s": wall,
                        "batches": len(progress), "error": error}
    return OpResult(wall, results, [], extra={"leg": "ingest"}, error=error)


# ---------------------------------------------------------------------------
# frontier_batch
# ---------------------------------------------------------------------------


def frontier_layers(wl, tr: Tracer, op: OpResult, first_job: int, spans: list) -> dict:
    """Per-layer values of one traced pop."""
    groups = [s.group for s in spans if s.group]
    sched_groups = [s.group for s in spans if s.name == "frontier.schedule"]
    jobs = tr.jobs_since(first_job, groups)
    stages = stages_of([j for j in jobs if j["group"] in sched_groups])
    plan = lambda n: _mean([s.dur for s in spans if s.name == n])
    got = op.extra["observed"]
    return {
        "schedule.plan_s": plan("schedule.politeness_schedule"),
        "admission.plan_s": plan("admission.admit"),
        "seen.antijoin_s": op.extra["antijoin_s"],
        "schedule.exec_s": op.extra["schedule_s"],
        "admission.exec_s": op.extra["admission_s"],
        "schedule.shuffle_bytes": sum(st["shuffle_write"] for st in stages),
        "schedule.task_skew": (
            tr.task_skew(max(stages, key=lambda st: st["run_ms"])) if stages else 0.0),
        "admission.valid_ratio": got["valid_rows"] / got["candidates"],
        "seen.reject_ratio": 1.0 - got["antijoin_rows"] / wl.n,
    }


def _timed(fn) -> float:
    """Median of two timed calls after one that pays the plan's codegen."""
    fn()
    walls = []
    for _ in range(2):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def schedule_legs(wl, v: dict) -> list:
    """Traced-only micro-legs through politeness_schedule's public
    parameters; each variant is checked for its batch row count."""
    from dataclasses import replace

    spark = wl.spark
    domains = wl.frontier.select("domain").distinct()
    counts = domains.select("domain", F.lit(1).alias("n_fetched")).localCheckpoint(eager=True)
    backoff = domains.where(F.pmod(F.xxhash64("domain"), F.lit(10)) == 0).select(
        "domain", F.lit(2.0).alias("backoff_mult")).localCheckpoint(eager=True)
    capped = replace(wl.config, max_pages_per_domain=1_000_000)
    legs = {
        "schedule.salt0_s": lambda: wl.schedule_batch(salt_buckets=0),
        "schedule.salt_s": lambda: wl.schedule_batch(),
        "schedule.fetched_counts_s": lambda: schedule.politeness_schedule(
            wl.frontier, capped, 0, global_rank=False, salt_buckets=wl.salt,
            fetched_counts=counts)[0],
        "schedule.domain_backoff_s": lambda: wl.schedule_batch(domain_backoff=backoff),
        "schedule.wave_gt0_s": lambda: wl.schedule_batch(wave=5, wave_start_offset=123.0),
    }
    ops = []
    for name, make in legs.items():
        v[name] = _timed(lambda: noop(make()))
        n = make().count()
        err = None if n == wl.expect["batch_rows"] else (
            f"{name}: batch rows {n} != {wl.expect['batch_rows']}")
        ops.append(OpResult(v[name], wl.n, [], extra={"leg": name}, error=err))
    return ops


def bloom_leg(wl, v: dict) -> OpResult:
    """One bloom_prefilter probe against a table sidecar built from the
    seen set and persisted through TableIO."""
    spark, cfg = wl.spark, wl.config
    io = TableIO(spark, os.path.join(wl.work, "bloom"))
    t = time.perf_counter()
    io.write_wave("bloom_sidecar", seen_mod.build_bloom_sidecar_table(wl.seen, cfg), 0)
    v["seen.bloom_build_s"] = time.perf_counter() - t
    side = io.read("bloom_sidecar")
    ok = (F.col("verdict") == "valid") & ~F.col("filtered")
    admitted = lambda: seen_mod.bloom_prefilter(
        wl.frontier.select("url"), wl.seen, cfg, sidecar=side)
    v["seen.bloom_probe_s"] = _timed(lambda: noop(admitted()))
    got = admitted().agg(
        F.sum(ok.cast("long")).alias("n"), F.sum(F.when(ok, hash32("url"))).alias("h")
    ).collect()[0]
    probe = seen_mod.probe_bloom_table(wl.frontier.select("url"), side, cfg).select(
        "might_seen", (url_id() % SEEN_EVERY == 0).alias("member"))
    c = probe.agg(
        F.sum((F.col("might_seen") & ~F.col("member")).cast("long")).alias("fp"),
        F.sum((~F.col("member")).cast("long")).alias("neg"),
        F.sum((~F.col("might_seen") & F.col("member")).cast("long")).alias("fn"),
    ).collect()[0]
    v["seen.bloom_fp_ratio"] = c["fp"] / c["neg"] if c["neg"] else 0.0
    err = None
    if c["fn"]:
        err = f"bloom false negatives: {c['fn']}"
    elif (got["n"], got["h"]) != (wl.expect["valid_rows"], wl.expect["valid_hash"]):
        err = f"bloom_prefilter valid rows {got['n']} / hash differ from admission"
    return OpResult(v["seen.bloom_probe_s"], wl.n, [], extra={"leg": "bloom"}, error=err)
