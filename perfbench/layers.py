"""Per-layer figures of a traced run.

Inside ``CrawlEngine.run`` the loop's phases are lazy, so a span around
the run cannot split it by layer. Besides the pass-level counters (jobs,
CPU, shuffle and GC time of the traced pass, and the checkpoint spans),
each layer's public function is therefore called on its own, on
wave-shaped inputs cut from the workload's generated web, and forced by
a noop write. The program's own web generator is timed the same way at
the workload's size. A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

import webgen
from webcrawlergo_spark.functions.urlnorm import normalize_expr
from webcrawlergo_spark.operators.linkextract import extract_links
from webcrawlergo_spark.operators.seenset import (
    build_cuckoo_shards,
    cuckoo_insert_shards,
    cuckoo_probe_sharded,
    dedup_new_urls,
)
from webcrawlergo_spark.operators.validate import (
    parse_robots_rules,
    robots_ok_expr,
    validity_flag,
)
from webcrawlergo_spark.plans.rank import with_global_rank, with_host_seq
from webcrawlergo_spark.sources.synthweb import scale_web_df

REPS = 3  # calls per isolated layer; the figure is their median
MB = float(1 << 20)
ENQUEUE_KEY = ["parent_rank", "span_offset", "link_pos"]
N_SHARDS = 16  # the engine's default shard count and per-shard capacity
PER_SHARD = 64_000


def _timed(tracer, name: str, make_df) -> float:
    times = []
    for _ in range(REPS):
        with tracer.span(name):
            t = time.perf_counter()
            make_df().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
    return statistics.median(times)


def _wave(inp, pages):
    """A wave as the fetch-sim step sees it: frontier rows joined with
    the index, materialized so a probe times only its own layer."""
    return (
        pages.select("url", "host", "page_id")
        .join(inp.index.select("url", "doc_id"), "url")
        .select(
            "url",
            "host",
            "doc_id",
            F.lit(-1).cast("long").alias("parent_rank"),
            F.col("page_id").cast("int").alias("span_offset"),
            F.lit(0).alias("link_pos"),
        )
        .localCheckpoint(eager=True)
    )


def bfs_layers(spark, tracer, inp) -> dict[str, float]:
    """Wave 0 of crawl_bfs: the seed list, above SMALL_BATCH."""
    wave = _wave(inp, inp.web.join(inp.seeds.select("url"), "url"))
    n = wave.count()
    out = {
        "rank.global_rank_large_s": _timed(
            tracer,
            "rank.with_global_rank",
            lambda: with_global_rank(wave, ENQUEUE_KEY, "event_rank", n_rows=n),
        )
    }
    fetched = wave.join(inp.docs, "doc_id").select("url", "spans").localCheckpoint(eager=True)
    out["linkextract.extract_s"] = _timed(
        tracer, "linkextract.extract_links", lambda: extract_links(fetched, id_cols=["url"])
    )
    raw = extract_links(fetched, id_cols=["url"]).localCheckpoint(eager=True)
    out["urlnorm.normalize_s"] = _timed(
        tracer,
        "urlnorm.normalize_expr",
        lambda: raw.select(normalize_expr(inp.base_url, F.col("raw_href")).alias("n")),
    )
    norm = (
        raw.select(normalize_expr(inp.base_url, F.col("raw_href")).alias("n"))
        .select("n.href", "n.scheme", "n.host", "n.path")
        .localCheckpoint(eager=True)
    )
    robots_ok = robots_ok_expr([tuple(r) for r in parse_robots_rules(spark, []).collect()])
    out["validate.judge_s"] = _timed(
        tracer,
        "validate.validity_flag",
        lambda: validity_flag(norm, None, []).withColumn("valid", F.col("pre_ok") & robots_ok),
    )
    cand = norm.select(F.col("href").alias("url")).distinct().localCheckpoint(eager=True)
    seen = wave.select("url")
    out["seenset.exact_filter_s"] = _timed(
        tracer, "seenset.dedup_new_urls", lambda: dedup_new_urls(cand, seen)
    )
    return out


def resume_layers(spark, tracer, inp) -> dict[str, float]:
    """A capped crawl_resume wave (a third of the pages) against a seen
    set of half the pages."""
    wave = _wave(inp, inp.web.filter(F.pmod("page_id", F.lit(3)) == 0))
    n = wave.count()
    out = {
        "rank.global_rank_small_s": _timed(
            tracer,
            "rank.with_global_rank",
            lambda: with_global_rank(wave, ENQUEUE_KEY, "event_rank", n_rows=n),
        )
    }
    ranked = with_global_rank(wave, ENQUEUE_KEY, "event_rank", n_rows=n).localCheckpoint(eager=True)
    out["rank.host_seq_s"] = _timed(
        tracer,
        "rank.with_host_seq",
        lambda: with_host_seq(ranked, "host", ["event_rank"], "fetch_seq", n_rows=n),
    )
    seen = inp.web.filter(F.pmod("page_id", F.lit(2)) == 0).select("url").localCheckpoint(eager=True)

    def build():
        return build_cuckoo_shards(seen, n_shards=N_SHARDS, expected_per_shard=PER_SHARD)

    out["seenset.cuckoo_build_s"] = _timed(tracer, "seenset.build_cuckoo_shards", build)
    table = build().localCheckpoint(eager=True)
    cand = (
        inp.web.join(wave.select("url"), "url")
        .select(F.explode("links").alias("href"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def probe():
        return cuckoo_probe_sharded(cand, table, url_col="href", n_shards=N_SHARDS)

    out["seenset.cuckoo_probe_s"] = _timed(tracer, "seenset.cuckoo_probe_sharded", probe)
    r = probe().agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("maybe_seen").cast("long")).alias("m")).first()
    out["seenset.maybe_frac"] = (r["m"] or 0) / max(r["n"], 1)
    new = cand.select(F.col("href").alias("url")).join(seen, "url", "left_anti").localCheckpoint(eager=True)
    out["seenset.cuckoo_insert_s"] = _timed(
        tracer,
        "seenset.cuckoo_insert_shards",
        lambda: cuckoo_insert_shards(table, new, n_shards=N_SHARDS),
    )
    return out


LAYER_UNITS = {
    "rank.global_rank_large_s": "s",
    "rank.global_rank_small_s": "s",
    "rank.host_seq_s": "s",
    "linkextract.extract_s": "s",
    "urlnorm.normalize_s": "s",
    "validate.judge_s": "s",
    "seenset.exact_filter_s": "s",
    "seenset.cuckoo_build_s": "s",
    "seenset.cuckoo_probe_s": "s",
    "seenset.cuckoo_insert_s": "s",
    "seenset.maybe_frac": "ratio",
}


def per_layer(spark, wl, tracer, passes, cpus, session_s, sampler, untraced_s) -> dict:
    """Every per-layer metric as name → (value, unit). ``untraced_s`` is
    the untraced pass time the tracing overhead is taken against (None:
    unknown, the overhead reads 0)."""
    traced = next(s for s in reversed(tracer.spans) if s["name"] == "pass")
    trace_s = passes[0]["pass_s"]
    c = traced["counters"]
    wall = traced["end"] - traced["start"]
    waves = wl.shape["waves"]
    waves_run = waves - wl.spec.kill_after  # a resume pass runs the waves after the kill
    out = {
        "session.start_s": (session_s, "s"),
        # the program's generator at the workload's size (the benchmark
        # builds its inputs with its own seeded copy)
        "synthweb.gen_s": (
            _timed(
                tracer,
                "synthweb.scale_web_df",
                lambda: scale_web_df(spark, wl.spec.n_pages, links_per_page=webgen.LINKS_PER_PAGE),
            ),
            "s",
        ),
        "wave.engine_init_s": (tracer.total("wave.engine_init"), "s"),
        "wave.waves": (waves, "count"),
        "wave.max_wave_events": (wl.shape["max_wave"], "count"),
        "wave.partition_skew": (wl.shape["skew"], "ratio"),
        "wave.jobs_per_wave": (c["jobs"] / waves_run, "count"),
        "wave.cpu_util": (c["cpu_ns"] / 1e9 / (wall * cpus), "ratio"),
        "wave.shuffle_write_mb": (c["shuffle_write_b"] / MB, "MB"),
        "jvm.gc_s": (c["gc_ms"] / 1000.0, "s"),
        "checkpoint.commit_s": (tracer.total("checkpoint.commit"), "s"),
        "checkpoint.commits": (tracer.count("checkpoint.commit"), "count"),
        "checkpoint.written_mb": (
            sum(s.get("written_b", 0) for s in tracer.spans if s["name"] == "checkpoint.commit") / MB,
            "MB",
        ),
        "checkpoint.load_s": (tracer.total("checkpoint.load"), "s"),
        "wave.page_stats_rows": (wl.shape["page_stats_rows"], "count"),
        "mem.local_dir_peak_mb": (sampler.peak_local_mb, "MB"),
        "mem.py_workers_peak_mb": (sampler.peak_workers_mb, "MB"),
        "trace.pass_s": (trace_s, "s"),
        "trace.overhead_s": (trace_s - untraced_s if untraced_s else 0.0, "s"),
    }
    probes = bfs_layers if wl.name == "crawl_bfs" else resume_layers
    measured = probes(spark, tracer, wl.inp)
    for name, unit in LAYER_UNITS.items():
        out[name] = (measured.get(name, 0.0), unit)
    return out
