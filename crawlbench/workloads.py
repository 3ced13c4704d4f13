"""The benchmark's workloads: seeded inputs, one fixed-shape operation,
and the untimed check of every operation's output.

Each workload is a closed loop with one client: the next operation
starts only when the previous one returned. The engine receives only
DataFrames and files; the seed changes only how those are generated.

- ``crawl_resume``: one op is a ``WaveRunner`` crawl over a layered
  site, stopped at its midpoint by ``run(max_waves=...)`` and finished
  by a fresh ``WaveRunner.resume()`` on the same tables.
- ``frontier_batch``: one op is one frontier pop over a synthetic
  frontier with one hot domain: the exact seen anti-join, the
  politeness schedule and admission against the seen set, each written
  to the noop sink.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.operators import admission, schedule
from kryptone_spark.plans.tableio import TableIO
from kryptone_spark.plans.waves import WaveRunner
from kryptone_spark.synth import PLAIN_WORDS, synth_frontier_df


@dataclass
class OpResult:
    wall_s: float
    items: int  # pages fetched (crawl) or frontier URLs popped
    steps: list[float]  # run_wave walls of a crawl (drained probe excluded)
    extra: dict = field(default_factory=dict)
    error: str | None = None  # first failed check; None = output correct


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def hash32(col) -> object:
    """Order-free fingerprint term: the low 32 bits of xxhash64, so a
    sum over up to 2^31 rows cannot overflow a long."""
    return F.xxhash64(col).bitwiseAND(F.lit(0xFFFFFFFF))


# ---------------------------------------------------------------------------
# crawl_resume
# ---------------------------------------------------------------------------

LAYER_DOMAIN = "sitelay.test"


def cross_link_params(width: int, seed: int) -> tuple[int, int]:
    """Seeded cross-link permutation i -> (a*i + b) % width, with a
    coprime to width so every page of the next layer is hit once."""
    rng = random.Random(seed)
    if width < 3:
        return 1, rng.randrange(width)
    while True:
        a = rng.randrange(2, width)
        if math.gcd(a, width) == 1:
            return a, rng.randrange(width)


def layered_site_df(spark: SparkSession, width: int, depth: int, seed: int) -> DataFrame:
    """The ``synth_layered_site_df`` shape with a seeded cross-link
    permutation: home links to every page of layer 0; page i of layer k
    links to page i and page (a*i+b) % width of layer k+1; the last
    layer links back to layer 0, so its wave admits nothing new.
    Pages = 1 + width*depth; real waves = depth + 1."""
    base = f"http://{LAYER_DOMAIN}"
    a, b = cross_link_params(width, seed)
    span = lambda kind, text, ref, off: F.struct(
        F.lit(kind).alias("kind"), text.alias("text"), ref.alias("media_ref"),
        F.lit(off).cast("int").alias("offset"),
    )
    home = spark.range(1).select(
        F.lit(f"{base}/").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(width - 1)),
            lambda i: F.struct(
                F.lit("link").alias("kind"), F.lit("").alias("text"),
                F.concat(F.lit(f"{base}/L0-"), i.cast("string")).alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    words = F.array(*[F.lit(w) for w in PLAIN_WORDS])
    layer = (F.col("id") / width).cast("long")
    idx = F.col("id") % width
    nxt = F.when(layer + 1 < depth, layer + 1).otherwise(F.lit(0))
    page = lambda lay, i: F.concat(
        F.lit(f"{base}/L"), lay.cast("string"), F.lit("-"), i.cast("string")
    )
    text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), F.lit(5)),
        lambda i: F.element_at(
            words,
            (F.pmod(F.xxhash64(F.col("id") * 17 + i, F.lit(seed)), F.lit(len(PLAIN_WORDS))) + 1)
            .cast("int"),
        ),
    ))
    pages = spark.range(width * depth).select(
        page(layer, idx).alias("doc_id"),
        F.array(
            span("text", text, F.lit(""), 0),
            span("link", F.lit(""), page(nxt, idx), 1),
            span("link", F.lit(""), page(nxt, (idx * a + b) % width), 2),
        ).alias("spans"),
    )
    return home.unionByName(pages)


class CrawlResume:
    name = "crawl_resume"

    def __init__(self, spark: SparkSession, work: str, seed: int,
                 width: int = 20_000, depth: int = 1, warm_width: int = 2_000):
        self.spark, self.work, self.seed = spark, work, seed
        self.width, self.depth, self.warm_width = width, depth, warm_width
        # real waves are 0..depth; stop after the first half
        self.stop_at = (depth + 1) // 2
        self.config = CrawlConfig(
            start_urls=[f"http://{LAYER_DOMAIN}/"], ignore_images=True)
        self.docs = self.warm_docs = None

    def build_inputs(self) -> None:
        self.docs = layered_site_df(
            self.spark, self.width, self.depth, self.seed
        ).localCheckpoint(eager=True)
        self.warm_docs = layered_site_df(
            self.spark, self.warm_width, self.depth, self.seed
        ).localCheckpoint(eager=True)

    def warm_up(self) -> OpResult:
        # the same op on a narrower site takes every timed code path; a
        # full-size warm-up costs more and left the first timed op just
        # as far (3-12%) from the second, and so did two narrow crawls
        return self.op("warm", warm=True)

    def runner(self, root: str, docs: DataFrame) -> WaveRunner:
        # production posture: no per-wave stats agg, no global rank
        return WaveRunner(
            self.spark, self.config, docs, TableIO(self.spark, root),
            collect_stats=False, global_rank=False,
        )

    def op(self, tag: str, keep: bool = False, warm: bool = False) -> OpResult:
        docs, width = (self.warm_docs, self.warm_width) if warm else (self.docs, self.width)
        root = os.path.join(self.work, f"crawl_{tag}")
        shutil.rmtree(root, ignore_errors=True)
        walls: list[float] = []
        resumed_at: list[float] = []  # return of the resumed first wave

        def time_waves(r: WaveRunner, resumed: bool) -> None:
            inner = r.run_wave

            def run_wave(wave: int):
                t = time.perf_counter()
                s = inner(wave)
                if s is not None:
                    walls.append(time.perf_counter() - t)
                    if resumed and not resumed_at:
                        resumed_at.append(time.perf_counter())
                return s

            r.run_wave = run_wave  # instance attribute: run() calls it

        epoch0 = time.time()
        t0 = time.perf_counter()
        r1 = self.runner(root, docs)
        time_waves(r1, resumed=False)
        first = r1.run(max_waves=self.stop_at)
        r2 = self.runner(root, docs)
        time_waves(r2, resumed=True)
        t_resume = time.perf_counter()
        rest = r2.resume()
        wall = time.perf_counter() - t0
        epoch1 = time.time()
        fetched = first.total_fetched + rest.total_fetched
        result = OpResult(
            wall, fetched, walls,
            extra={
                # wall-clock bounds of the timed part, which the traced
                # run uses to leave out the check's spans and jobs
                "window": (epoch0, epoch1),
                "resume_s": (resumed_at[0] - t_resume) if resumed_at else None,
                "waves": len(walls),
                "phase_seconds": {
                    k: r1.phase_seconds.get(k, 0.0) + r2.phase_seconds.get(k, 0.0)
                    for k in set(r1.phase_seconds) | set(r2.phase_seconds)
                },
            },
        )
        result.error = self.check(root, width, fetched, len(first.waves))
        if not keep:
            shutil.rmtree(root, ignore_errors=True)
        return result

    def check_stats(self, root: str) -> dict:
        """Untimed read-back of the op's committed tables."""
        io = TableIO(self.spark, root)
        layer = F.regexp_extract("url", r"/L(\d+)-\d+$", 1)
        v = io.read("visited").select(
            "wave", "url",
            F.when(layer == "", F.lit(-1)).otherwise(layer.cast("int")).alias("layer"),
        )
        per_wave = {
            r["wave"]: (r["n"], r["lo"], r["hi"])
            for r in v.groupBy("wave").agg(
                F.count("*").alias("n"), F.min("layer").alias("lo"), F.max("layer").alias("hi")
            ).collect()
        }
        distinct = v.select("url").distinct().count()
        lineage = {
            r["wave"]: r["n"]
            for r in io.read("lineage").groupBy("wave").agg(F.count("*").alias("n")).collect()
        }
        return {
            "per_wave": per_wave,
            "distinct": distinct,
            "lineage": lineage,
            "committed": io.committed_waves("lineage"),
        }

    def check(self, root: str, width: int, fetched: int, first_leg_waves: int) -> str | None:
        return check_crawl(
            self.check_stats(root), width, self.depth, fetched,
            first_leg_waves, self.stop_at,
        )


def check_crawl(stats: dict, width: int, depth: int, fetched: int,
                first_leg_waves: int, stop_at: int) -> str | None:
    """Closed forms: 1 + width*depth pages, each visited once; wave 0
    fetched the home page and wave k fetched exactly layer k-1; the
    lineage table committed every wave 0..depth exactly once across the
    interrupted crawl and the resume."""
    pages = 1 + width * depth
    if first_leg_waves != stop_at:
        return f"first leg ran {first_leg_waves} waves, expected {stop_at}"
    if fetched != pages:
        return f"fetched {fetched} pages, expected {pages}"
    if stats["distinct"] != pages:
        return f"visited {stats['distinct']} distinct pages, expected {pages}"
    expect = {0: (1, -1, -1)}
    expect.update({k: (width, k - 1, k - 1) for k in range(1, depth + 1)})
    if stats["per_wave"] != expect:
        return f"visited per wave {stats['per_wave']} != {expect}"
    waves = list(range(depth + 1))
    if stats["committed"] != waves:
        return f"lineage committed waves {stats['committed']} != {waves}"
    if stats["lineage"] != {w: 1 for w in waves}:
        return f"lineage rows per wave {stats['lineage']} != one per wave"
    return None


# ---------------------------------------------------------------------------
# frontier_batch
# ---------------------------------------------------------------------------

HOT_DOMAIN = "site0.test"
FRONTIER_URLS = 100_000
FRONTIER_DOMAINS = 1000
HOT_SHARE = 0.8  # share of the frontier on HOT_DOMAIN
SEEN_EVERY = 4  # every 4th frontier URL is already seen


def url_id(col="url"):
    return F.regexp_extract(col, r"product-(\d+)$", 1).cast("long")


class FrontierBatch:
    name = "frontier_batch"

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.n = FRONTIER_URLS
        # admission pins the domain filter to the last seed: only the
        # hot domain's URLs can be valid
        self.config = CrawlConfig(
            start_urls=[f"http://{HOT_DOMAIN}/"], ignore_images=True,
            max_per_domain_per_wave=1000, wait_time=0.01,
        )
        self.salt = self.config.effective_salt_buckets
        self.frontier = self.seen = None
        self.expect: dict = {}

    def build_inputs(self) -> None:
        spark = self.spark
        self.frontier = synth_frontier_df(
            spark, self.n, n_domains=FRONTIER_DOMAINS,
            hot_domain_share=HOT_SHARE, seed=self.seed,
        ).localCheckpoint(eager=True)
        # seen = every SEEN_EVERY-th frontier URL plus off-frontier URLs
        off = spark.range(1000).select(
            F.concat(F.lit("http://elsewhere.test/p-"), F.col("id").cast("string")).alias("url")
        )
        self.seen = (
            self.frontier.where(url_id() % SEEN_EVERY == 0).select("url")
            .unionByName(off).localCheckpoint(eager=True)
        )
        # closed forms; the per-domain counts and the valid-set hash
        # come from plain Spark aggregates, not from engine code
        budget = self.config.max_per_domain_per_wave
        counts = self.frontier.groupBy("domain").count().collect()
        hot = int(self.n * HOT_SHARE)
        valid = (
            spark.range(hot).where(F.col("id") % SEEN_EVERY != 0)
            .select(F.concat(F.lit(f"http://{HOT_DOMAIN}/product-"), F.col("id").cast("string")).alias("url"))
            .agg(F.count("*").alias("n"), F.sum(hash32("url")).alias("h")).collect()[0]
        )
        in_seen = (self.n + SEEN_EVERY - 1) // SEEN_EVERY
        self.expect = {
            "antijoin_rows": self.n - in_seen,
            "batch_rows": sum(min(r["count"], budget) for r in counts),
            "candidates": self.n,
            "valid_rows": valid["n"],
            "valid_hash": valid["h"],
        }

    def warm_up(self) -> OpResult:
        # op walls still fell ~25% over the first dozen passes after two
        # warm-up passes; six put the timed window near the plateau
        ops = [self.op(f"warm{i}") for i in range(6)]
        return next((o for o in ops if o.error), ops[-1])

    def schedule_batch(self, **kwargs) -> DataFrame:
        args = dict(wave=0, global_rank=False, salt_buckets=self.salt)
        args.update(kwargs)
        return schedule.politeness_schedule(self.frontier, self.config, **args)[0]

    def admitted(self) -> DataFrame:
        return admission.admit(self.frontier.select("url"), self.config, seen=self.seen)

    def op(self, tag: str, span=None) -> OpResult:
        """``span`` (the traced run's ``Tracer.span``) wraps each step
        in a span that sets the step's Spark job group."""
        span = span or (lambda name, group=False: contextlib.nullcontext())
        o_aj, o_b, o_ad = Observation(), Observation(), Observation()
        ok = (F.col("verdict") == "valid") & ~F.col("filtered")
        t0 = time.perf_counter()
        with span("frontier.antijoin", group=True):
            noop(self.frontier.join(self.seen, "url", "left_anti")
                 .observe(o_aj, F.count(F.lit(1)).alias("n")))
        t1 = time.perf_counter()
        with span("frontier.schedule", group=True):
            noop(self.schedule_batch().observe(o_b, F.count(F.lit(1)).alias("n")))
        t2 = time.perf_counter()
        with span("frontier.admission", group=True):
            noop(self.admitted().observe(
                o_ad, F.count(F.lit(1)).alias("cand"),
                F.sum(ok.cast("long")).alias("valid"),
                F.sum(F.when(ok, hash32("url"))).alias("h"),
            ))
        t3 = time.perf_counter()
        got = {
            "antijoin_rows": o_aj.get["n"],
            "batch_rows": o_b.get["n"],
            "candidates": o_ad.get["cand"],
            "valid_rows": o_ad.get["valid"],
            "valid_hash": o_ad.get["h"],
        }
        return OpResult(
            t3 - t0, self.n, [],
            extra={"antijoin_s": t1 - t0, "schedule_s": t2 - t1,
                   "admission_s": t3 - t2, "observed": got},
            error=check_frontier(got, self.expect),
        )


def check_frontier(got: dict, expect: dict) -> str | None:
    """Closed forms: the anti-join keeps n - |seen ∩ frontier| rows; the
    batch has sum over domains of min(count, budget) rows; admission
    sees every frontier URL and its valid rows match the expected set
    in count and order-free hash."""
    for k, v in expect.items():
        if got.get(k) != v:
            return f"{k}: got {got.get(k)}, expected {v}"
    return None
