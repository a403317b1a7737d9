"""Seeded crawl inputs for the benchmark.

A copy of the frontier-crawl input builder: the multi-host synthetic web
of ``webcrawlergo_spark.sources.synthweb.scale_web_df`` plus the docs,
fetch-sim index and seed list that the repository's crawl bench builds
over it. The copy folds ``seed`` into every hash, so the seed drives the
link graph, the host placement, the seed list and the filler prose. It
lives in the benchmark's own files so that an edit to the program's
generator or to ``bench.py`` cannot change what the benchmark measures;
the program receives only the generated DataFrames.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

N_HOSTS = 64
MEGA_HOST_PCT = 25  # share of all pages placed on host0, the skewed host
LINKS_PER_PAGE = 16
FILLER_WORDS = 16  # prose words on each side of the anchors
MARKED_PATHS = ["/p3", "/p7"]


@dataclass
class CrawlInputs:
    n_pages: int
    base_url: str
    web: DataFrame  # (page_id, url, host, doc_id, links)
    docs: DataFrame  # (doc_id, spans) — the DOCS schema
    index: DataFrame  # (url, doc_id, status, fail_times) fetch-sim table
    seeds: DataFrame  # the seed list, in the engine's FRONTIER_COLS shape


def build(spark: SparkSession, n_pages: int, seed: int, seed_pct: int) -> CrawlInputs:
    """Materialize the inputs of one crawl: ``n_pages`` pages, 16 links
    each, 25% of pages on one mega-host, and a seed list of about
    ``seed_pct``% of the pages. Every table is checkpointed eagerly, so
    the caller's timer covers the whole generation."""
    s = F.lit(seed)
    pid = F.col("page_id")

    def host_of(p):
        return F.when(
            F.pmod(F.xxhash64(p, F.lit(1), s), 100) < MEGA_HOST_PCT, F.lit(0)
        ).otherwise(F.pmod(F.xxhash64(p, F.lit(2), s), N_HOSTS - 1) + 1)

    def url_of(p):
        return F.concat(
            F.lit("https://host"), host_of(p).cast("string"), F.lit(".bench/p"), p.cast("string")
        )

    links = F.transform(
        F.sequence(F.lit(0), F.lit(LINKS_PER_PAGE - 1)),
        lambda k: url_of(F.pmod(F.xxhash64(pid, k, F.lit(4), s), n_pages)),
    )
    web = (
        spark.range(n_pages)
        .withColumnRenamed("id", "page_id")
        .select(
            pid,
            url_of(pid).alias("url"),
            F.concat(F.lit("host"), host_of(pid).cast("string"), F.lit(".bench")).alias("host"),
            F.concat(F.lit("doc"), pid.cast("string")).alias("doc_id"),
            links.alias("links"),
        )
        .localCheckpoint(eager=True)
    )
    # real <a href> markup inside filler prose, so the crawl runs the true
    # scan → extract → canonicalize path over page-sized text
    filler = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(FILLER_WORDS - 1)),
            lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(pid, i, s), 99991).cast("string")),
        ),
    )
    anchors = F.concat_ws(
        " ",
        F.transform(
            F.col("links"), lambda l: F.concat(F.lit('some text <a href="'), l, F.lit('"> anchor'))
        ),
    )
    docs = web.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat_ws(" ", filler, anchors, filler).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    ).localCheckpoint(eager=True)
    index = web.select(
        "url", "doc_id", F.lit(200).alias("status"), F.lit(0).alias("fail_times")
    ).localCheckpoint(eager=True)
    base_url = web.filter(pid == 0).select("url").first()["url"]
    seeds = (
        web.filter((F.pmod(F.xxhash64(pid, F.lit(5), s), 100) < seed_pct) & (pid != 0))
        .select(
            "url",
            "host",
            F.lit(0).alias("depth"),
            F.lit(-1).cast("long").alias("parent_rank"),
            pid.cast("int").alias("span_offset"),
            F.lit(0).alias("link_pos"),
            F.lit(False).alias("should_fetch"),
            F.lit(0).alias("retry_count"),
        )
        .localCheckpoint(eager=True)
    )
    return CrawlInputs(n_pages, base_url, web, docs, index, seeds)
