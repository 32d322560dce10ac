#!/usr/bin/env python
"""Benchmark: crawl throughput + headline analytics queries.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "urls_per_sec": ...,
   "cpus": ...}

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_QUERIES (csv filter),
SPARK_GRAFT_SKIP_CRAWL=1 to bench queries only.

The crawl bench runs the full micro-batch engine (expand -> dedupe ->
schedule -> fetch/extract -> append with snapshot commits) over the
deterministic fixture web sized to match the sf, and reports
URLs fetched+extracted per second — the BASELINE.md metric.  Query
benches force full execution through the noop sink (no driver collect).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# queries that are safe/representative at sf0.1 scale (the quadratic
# exact near-dup variants are correctness-scale tools; their scale
# paths — minhash/simhash/lsh — are benched instead)
BENCH_QUERIES = [
    "frontier_schedule_sim",
    "pricing_summary",
    "seen_antijoin",
    "politeness_topk",
    "crawl_order_replay",
    "skew_salted_agg",
    "windowed_agg",
    "sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_components",
    "fingerprints",
    "text_langid",
    "text_quality",
    "text_tokens",
    "text_pii_scrub",
    "text_quality_gopher",
    "text_c4_filter",
    "text_unigram_nll",
    "text_dsir_weight",
    "hostgraph_pagerank",
    "sketch_hll_distinct",
    "sketch_countmin_topk",
    "sitemap_extract",
    "url_surt",
    "url_etld1",
    "domain_quality_rollup",
    "bm25_topk",
    "anchor_texts",
    "robots_sitemaps",
    "trap_detect",
    "recrawl_schedule",
    "warc_roundtrip",
    "warc_cdx",
    "robots_sql_gate",
    "robots_crawl_delay",
    "redirect_resolve",
    "text_repetition",
    "dedup_span",
    "url_frontier_filter",
    "contamination_check",
    "sample_stratified",
    "shard_pack",
    "stopword_topk",
    "ann_cosine_topk",
    "ann_lsh",
    "ann_ivf",
    "ann_ivf_frozen",
    "emb_neardup_lsh",
    "multimodal_decode",
    "citations",
    "keywords_topk",
    "json_props",
    "cluster_assign",
    "kmeans_clusters",
]


def crawl_profile(sf_dir: str) -> str:
    """Map the sf dir to a WIDE crawl fixture: many clone hosts advance
    in parallel (the web-scale shape), so throughput measures the
    engine, not per-round fixed cost on a 5-chain toy."""
    base = os.path.basename(sf_dir.rstrip("/"))
    return {"sf0.1": "wide0.1", "sf0.01": "wide0.01"}.get(base, "wide0.01")


def crawl_profile_29(sf_dir: str) -> str:
    """29-shape twin of crawl_profile (round-4 wide bench fixture):
    every registry DOM shape + decode path at bench scale, reported
    alongside the 5-shape number for round-over-round continuity."""
    base = os.path.basename(sf_dir.rstrip("/"))
    return {"sf0.1": "wide29_0.1", "sf0.01": "wide29_0.01"}.get(
        base, "wide29_0.01"
    )


def run_crawl(spark, sf_dir: str, profile: str | None = None) -> tuple[float, int]:
    from pyspark.sql import functions as F

    from crawler_spark import fixtures
    from crawler_spark.rounds import CrawlRun

    fix = fixtures.fixture_dir(profile or crawl_profile(sf_dir))
    run = CrawlRun(
        spark,
        state_dir=tempfile.mkdtemp(prefix="bench_crawl_"),
        pages_path=os.path.join(fix, "pages.parquet"),
        seeds_path=os.path.join(fix, "seeds.parquet"),
        robots_path=os.path.join(fix, "robots.parquet"),
        as_of=fixtures.AS_OF,
        round_seconds=3600.0,  # politeness budgets sized for one big round
    )
    t0 = time.time()
    run.run(max_rounds=100)
    wall = time.time() - t0
    fetched = (
        run.fetch_log.read(spark).agg(F.count("*").alias("n")).collect()[0]["n"]
    )
    shutil.rmtree(run.state_dir, ignore_errors=True)  # repeated crawls
    return wall, int(fetched)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    names = [n for n in (only.split(",") if only else BENCH_QUERIES)]

    from crawler_spark import queries as Q
    from crawler_spark.session import get_spark

    spark = get_spark(
        "crawler_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    per_query: dict[str, float] = {}
    total = 0.0
    urls_per_sec = None

    urls_per_sec_29 = None
    if os.environ.get("SPARK_GRAFT_SKIP_CRAWL") != "1":
        # the crawls get the same best-of treatment as the queries
        # (single-shot crawl walls swing ±50% with host tenancy —
        # BENCH/BASELINE.md control experiments), interleaved across
        # the two fixtures so a contention regime hits both
        crawl_reps = max(1, int(os.environ.get("SPARK_GRAFT_CRAWL_REPS", "2")))
        walls: list[float] = []
        walls29: list[float] = []
        for _ in range(crawl_reps):
            w, fetched = run_crawl(spark, sf_dir)
            walls.append(w)
            w29, fetched29 = run_crawl(spark, sf_dir, crawl_profile_29(sf_dir))
            walls29.append(w29)
        wall, wall29 = min(walls), min(walls29)
        per_query["crawl_e2e"] = round(wall, 3)
        total += wall
        urls_per_sec = round(fetched / wall, 2) if wall > 0 else None
        per_query["crawl_e2e_29"] = round(wall29, 3)
        total += wall29
        urls_per_sec_29 = round(fetched29 / wall29, 2) if wall29 > 0 else None

    # Host-tenancy noise on this VM swings single-shot timings ±50%
    # (BENCH/BASELINE.md control experiments), so each query is timed
    # `reps` times and the MINIMUM is reported — the closest observable
    # to uncontended cost (round-4 VERDICT wrong #4: headline per-query
    # numbers must not come from one contended pass).  Crawls stay
    # single-pass (minutes each); their protocol-grade numbers live in
    # BENCH/run_scaling.py's interleaved best-of.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    for name in names:
        fn = Q.QUERIES[name]
        best = None
        for _ in range(reps):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        per_query[name] = round(best, 3)
        total += best

    out = {
        "metric": "crawl+analytics wall time (crawl reported as URLs fetched+extracted/sec)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "cpus": cpus,
        "query_reps": reps,
    }
    if urls_per_sec is not None:
        out["urls_per_sec"] = urls_per_sec
    if urls_per_sec_29 is not None:
        out["urls_per_sec_29"] = urls_per_sec_29
    print(json.dumps(out))


if __name__ == "__main__":
    main()
