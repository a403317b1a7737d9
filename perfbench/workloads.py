"""The benchmark's two crawl workloads: one pass, its output check, and
the per-layer figures a traced run adds.

Both are closed loops: one client (this process) runs one crawl at a
time on ``local[nproc]`` and starts the next pass only when the last
one has finished and been checked.
"""

from __future__ import annotations

import contextlib
import gc
import os
import shutil
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

import webgen
from webcrawlergo_spark.plans.checkpoint import CheckpointStore
from webcrawlergo_spark.plans.rank import SMALL_BATCH
from webcrawlergo_spark.plans.wave import CrawlConfig, CrawlEngine


@dataclass(frozen=True)
class Spec:
    n_pages: int
    seed_pct: int
    cap: int | None = None  # crawl_resume: politeness cap per host per wave
    kill_after: int = 0  # crawl_resume: waves run before the kill
    check_shape: bool = True  # wave-size contract; off for tiny smoke sizes


SPECS = {
    "crawl_bfs": Spec(n_pages=106_000, seed_pct=95),
    "crawl_resume": Spec(n_pages=2_000, seed_pct=95, cap=200, kill_after=1),
}
TINY_SPECS = {
    "crawl_bfs": Spec(n_pages=3_000, seed_pct=95, check_shape=False),
    "crawl_resume": Spec(n_pages=600, seed_pct=95, cap=50, kill_after=1, check_shape=False),
}
SETUP_REPS = 3  # input generations per run; setup_s takes their median


def digest(df: DataFrame, cols: list[str]) -> str:
    """Order-insensitive content digest: row count and the exact sum of
    per-row xxhash64 values. With a rank column among ``cols`` it pins a
    sequence, since (rank, value) pairs determine the order."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{r['n']}:{r['h']}"


def wave_sizes(res) -> list[int]:
    rows = res.lineage.groupBy("wave_id").agg(F.sum("dequeued").alias("n")).orderBy("wave_id").collect()
    return [int(r["n"]) for r in rows]


def partition_skew(res, wave_id: int) -> float:
    """Largest ÷ median per-partition ``dequeued`` in one wave's lineage."""
    vals = sorted(
        int(r["dequeued"])
        for r in res.lineage.filter(F.col("wave_id") == wave_id).select("dequeued").collect()
    )
    med = statistics.median(vals) if vals else 0
    return vals[-1] / med if med else float(vals[-1] if vals else 0)


def shape(res, sizes: list[int], traced: bool) -> dict:
    """Wave sizes from the lineage; a traced run adds the partition skew
    of the largest wave and the page_stats row count."""
    out = {"waves": len(sizes), "sizes": sizes, "max_wave": max(sizes)}
    if traced:
        out["skew"] = partition_skew(res, sizes.index(max(sizes)))
        out["page_stats_rows"] = res.page_stats.count()
    return out


def settle(spark, *dirs: str) -> None:
    """Make passes independent: delete a pass's checkpoint files, flush
    them to disk, and let both heaps drop the last pass's blocks."""
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    os.sync()


class CrawlBfs:
    """Frontier throughput: a seed list of 95% of the pages makes wave 0
    larger than ``SMALL_BATCH``, so the distributed rank runs; 16 links a
    page, a 25% mega-host, in-flight page analytics and the exact seen
    set; no checkpoint and no politeness cap."""

    name = "crawl_bfs"

    def __init__(self, spark, spec: Spec, seed: int, tracer):
        self.spark, self.spec, self.seed, self.tracer = spark, spec, seed, tracer
        self.inp: webgen.CrawlInputs | None = None
        self.expect_seen: str | None = None
        self.first_events: str | None = None
        self.last = None

    def config(self) -> CrawlConfig:
        return CrawlConfig(
            base_url=self.inp.base_url,
            retry_times=0,
            same_host_only=False,
            seen_mode="exact",
            analyze_pages=True,
            content_minhash=True,
        )

    def generate(self) -> None:
        self.inp = webgen.build(self.spark, self.spec.n_pages, self.seed, self.spec.seed_pct)

    def prepare(self) -> None:
        """The expected seen set (every page), then the warm-up: one
        unmeasured crawl of the same inputs. Its first wave is above
        SMALL_BATCH too, so the measured pass runs code the warm-up has
        already compiled, the distributed rank included."""
        self.expect_seen = digest(self.inp.web, ["url"])
        settle(self.spark)
        self.crawl()

    def crawl(self) -> int:
        """One crawl of the inputs by a fresh engine; its event count."""
        with self.tracer.span("wave.engine_init", counters=False):
            eng = CrawlEngine(self.spark, self.inp.index, self.inp.docs, [], self.config())
        with self.tracer.span("wave.run", counters=False):
            self.last = eng.run(extra_frontier=self.inp.seeds)
            n_events = self.last.events.count()
            self.last.page_stats.count()
        return n_events

    def measured_pass(self) -> dict:
        settle(self.spark)
        t0 = time.perf_counter()
        with self.tracer.span("pass", workload=self.name):
            n_events = self.crawl()
        dt = time.perf_counter() - t0
        return {"pass_s": dt, "urls_per_s": n_events / dt, "events": n_events}

    def check(self, pinned: dict | None) -> list[str]:
        res, n = self.last, self.spec.n_pages
        errs = []
        r = res.events.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_rank").alias("lo"),
            F.max("event_rank").alias("hi"),
            F.countDistinct("url").alias("urls"),
        ).first()
        if (r["n"], r["lo"], r["hi"], r["urls"]) != (n, 0, n - 1, n):
            errs.append(f"events {tuple(r)} != ({n}, 0, {n - 1}, {n})")
        got = {"events": digest(res.events, ["event_rank", "url"]), "seen": digest(res.seen, ["url"])}
        if got["seen"] != self.expect_seen:
            errs.append(f"seen set {got['seen']} != every page url {self.expect_seen}")
        if self.first_events is None:
            self.first_events = got["events"]
        elif got["events"] != self.first_events:
            errs.append(f"event sequence {got['events']} differs from this run's first pass")
        errs += compare_pinned(got, pinned)
        sizes = wave_sizes(res)
        self.shape = shape(res, sizes, self.tracer.enabled)
        if self.spec.check_shape and max(sizes) <= SMALL_BATCH:
            errs.append(f"largest wave {max(sizes)} is not above SMALL_BATCH={SMALL_BATCH}")
        self.digests = got
        return errs


class CrawlResume:
    """Per-wave overhead and the write path: a politeness cap spreads the
    mega-host over three small waves (all below ``SMALL_BATCH``), with
    exact virtual time, the cuckoo seen tier with its probe gate open,
    marked paths and checkpointing. The crawl is killed after its first
    ``kill_after`` waves; a pass is the recovery: a fresh engine resumes
    it from the checkpoint and runs it to completion."""

    name = "crawl_resume"

    def __init__(self, spark, spec: Spec, seed: int, tracer, work_dir: str):
        self.spark, self.spec, self.seed, self.tracer = spark, spec, seed, tracer
        self.ckpt = os.path.join(work_dir, "ckpt")
        self.killed = os.path.join(work_dir, "ckpt_killed")
        self.inp: webgen.CrawlInputs | None = None
        self.expect: dict[str, str] = {}
        self.first: dict[str, str] | None = None
        self.last = None

    def config(self, max_waves: int = 10_000) -> CrawlConfig:
        return CrawlConfig(
            base_url=self.inp.base_url,
            marked_paths=webgen.MARKED_PATHS,
            retry_times=0,
            same_host_only=False,
            seen_mode="cuckoo",
            bloom_probe_min_seen=0,
            politeness_max_per_host_per_wave=self.spec.cap,
            virtual_time_exact=True,
            analyze_pages=True,
            checkpoint_dir=self.ckpt,
            max_waves=max_waves,
        )

    def generate(self) -> None:
        self.inp = webgen.build(self.spark, self.spec.n_pages, self.seed, self.spec.seed_pct)

    def prepare(self) -> None:
        """Expected sets from the inputs, then the killed crawl (also the
        warm-up), whose checkpoint every pass resumes from a copy of."""
        web = self.inp.web
        marked = F.lit(False)
        for m in webgen.MARKED_PATHS:
            marked = marked | F.col("url").contains(m)
        self.expect = {
            "seen": digest(web, ["url"]),
            "saved": digest(web.filter(marked), ["url", "doc_id"]),
        }
        settle(self.spark, self.ckpt, self.killed)
        eng = CrawlEngine(self.spark, self.inp.index, self.inp.docs, [], self.config(self.spec.kill_after))
        eng.run(extra_frontier=self.inp.seeds)
        shutil.copytree(self.ckpt, self.killed)

    def measured_pass(self) -> dict:
        settle(self.spark, self.ckpt)
        shutil.copytree(self.killed, self.ckpt)
        os.sync()
        t0 = time.perf_counter()
        with self.tracer.span("pass", workload=self.name):
            with self.tracer.span("wave.engine_init", counters=False):
                eng = CrawlEngine(self.spark, self.inp.index, self.inp.docs, [], self.config())
            with self.tracer.span("wave.run", counters=False, part="resumed"):
                res = eng.run(resume=True)
                n_events = res.events.count()
                res.page_stats.count()
        dt = time.perf_counter() - t0
        self.last = res
        return {"pass_s": dt, "urls_per_s": n_events / dt, "events": n_events}

    def check(self, pinned: dict | None) -> list[str]:
        """Every page dequeued exactly once under a contiguous rank, the
        seen set and registry cover every page, the saved pages are the
        marked ones, no host exceeds the cap in any wave; and the
        contract tables equal the uninterrupted crawl's pinned digests
        (default seed) and the run's first pass."""
        res, n, cap = self.last, self.spec.n_pages, self.spec.cap
        errs = []
        r = res.events.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_rank").alias("lo"),
            F.max("event_rank").alias("hi"),
            F.countDistinct("url").alias("urls"),
            F.sum((F.col("status") != "ok").cast("long")).alias("not_ok"),
        ).first()
        if tuple(r) != (n, 0, n - 1, n, 0):
            errs.append(f"events (n, lo, hi, urls, not_ok) {tuple(r)} != ({n}, 0, {n - 1}, {n}, 0)")
        host = F.regexp_extract("url", "^https://([^/]+)/", 1)
        busiest = res.events.groupBy("wave_id", host.alias("h")).count().agg(F.max("count")).first()[0]
        if busiest > cap:
            errs.append(f"a host got {busiest} fetches in one wave, above the cap {cap}")
        got = contract_digests(res)
        if got["seen"] != self.expect["seen"]:
            errs.append(f"seen set {got['seen']} != every page url {self.expect['seen']}")
        saved = digest(res.pages, ["url", "doc_id"])
        if saved != self.expect["saved"]:
            errs.append(f"saved pages {saved} != the marked pages {self.expect['saved']}")
        reg = res.urls.agg(F.count(F.lit(1)), F.sum((~F.col("is_alive")).cast("long"))).first()
        if tuple(reg) != (n, 0):
            errs.append(f"url registry (rows, dead) {tuple(reg)} != ({n}, 0)")
        if self.first is None:
            self.first = got
        errs += [f"{k}: {got[k]} differs from this run's first pass" for k in got if got[k] != self.first[k]]
        errs += compare_pinned(got, pinned)
        sizes = wave_sizes(res)
        if self.spec.check_shape:
            if max(sizes) > SMALL_BATCH:
                errs.append(f"a wave of {max(sizes)} events is above SMALL_BATCH={SMALL_BATCH}")
            if not 2 * self.spec.kill_after <= len(sizes) <= 4 * self.spec.kill_after:
                errs.append(f"{len(sizes)} waves: the kill after {self.spec.kill_after} is not near the first third")
        self.shape = shape(res, sizes, self.tracer.enabled)
        self.digests = got
        return errs


def contract_digests(res) -> dict[str, str]:
    """The lossless-resume contract tables: event order, seen set, saved
    pages and the url registry flags."""
    return {
        "events": digest(res.events, ["event_rank", "url", "status"]),
        "seen": digest(res.seen, ["url"]),
        "pages": digest(res.pages, ["url", "doc_id", "event_rank"]),
        "urls": digest(res.urls, ["url", "is_monitored", "is_alive"]),
    }


def compare_pinned(got: dict[str, str], pinned: dict | None) -> list[str]:
    if not pinned:
        return []
    return [f"{k}: {got.get(k)} != pinned {v}" for k, v in pinned.items() if got.get(k) != v]


@contextlib.contextmanager
def traced_checkpoint_store(tracer):
    """While tracing, wrap ``CheckpointStore.commit`` and ``load`` in
    spans. A commit writes its snapshot eagerly, so its span is the real
    write time; its span also carries the bytes the commit wrote."""
    if not tracer.enabled:
        yield
        return
    commit, load = CheckpointStore.commit, CheckpointStore.load

    def traced_commit(store, wave_id, tables, appends=None, meta=None):
        with tracer.span("checkpoint.commit", counters=False, wave=wave_id) as rec:
            entry = commit(store, wave_id, tables, appends, meta)
            paths = list(entry["tables"].values()) + [v[-1] for v in entry["append_tables"].values()]
            rec["written_b"] = sum(_tree_bytes(p) for p in paths if p.endswith(f"={wave_id}"))
        return entry

    def traced_load(store, spark, table):
        with tracer.span("checkpoint.load", counters=False, table=table):
            return load(store, spark, table)

    CheckpointStore.commit, CheckpointStore.load = traced_commit, traced_load
    try:
        yield
    finally:
        CheckpointStore.commit, CheckpointStore.load = commit, load


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )
