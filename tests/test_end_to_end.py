"""The full product story in one test: crawl -> artifacts -> cleaned
training corpus -> sharded trainer JSONL + WET text archives.

This is the path a reference user actually walks after switching:
run the crawler, then turn what it fetched into model food."""

from __future__ import annotations

import glob
import gzip
import json

from pyspark.sql import functions as F


def test_crawl_to_training_corpus_to_shards(spark, corpus, tmp_path):
    import pathik_spark
    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun
    from pathik_spark.sources.sinks import wet_record_rows, write_sharded_jsonl

    # 1. crawl two rounds against the synthetic web
    run = CrawlRun(
        spark,
        pages=corpus["pages"],
        robots=corpus["robots"],
        links=corpus["links"],
        state_dir=str(tmp_path / "state"),
        config=CrawlConfig(run_id="e2e"),
    )
    stats = run.run(corpus["seeds"], n_rounds=2)
    assert sum(s.fetched for s in stats) > 0

    # 2. the round artifacts ARE the document table
    arts = spark.read.parquet(
        *glob.glob(str(tmp_path / "state" / "e2e" / "round=*" / "artifacts.parquet"))
    )
    fetched = arts.filter(F.col("status") == "fetched")
    n_fetched = fetched.count()
    docs = fetched.select(
        F.col("url").alias("doc_id"), F.col("text"), F.col("host")
    )

    # 3. clean into a training corpus (host gate + C4 + dedup + split)
    # the synthetic fixture text is crawl-jargon word salad: no terminal
    # punctuation (C4's line gate would correctly drop everything) and
    # no real-language stopword markers (lang_id says 'und') — neither
    # gate is what this test probes, and both have their own tests
    from pathik_spark.functions.text import lang_id

    present_langs = tuple(
        r["g"] for r in docs.select(lang_id(F.col("text")).alias("g")).distinct().collect()
    )
    corpus_df, report = pathik_spark.prepare_training_corpus(
        docs,
        apply_c4=False,
        langs=present_langs,
        min_quality=0.0,
        line_max_occurrences=100,
        host_col="host",
        min_host_quality=0.0,
    )
    kept = corpus_df.cache()
    n_kept = kept.count()
    assert 0 < n_kept <= n_fetched
    assert set(kept.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"
    }
    assert sum(r["n_docs"] for r in report.collect()) == n_kept

    # 4a. trainer shards: round-trip row count
    manifest = write_sharded_jsonl(
        kept.select("doc_id", "text", "split"),
        str(tmp_path / "shards"),
        target_shard_bytes=50_000,
    )
    assert sum(r["n_docs"] for r in manifest.collect()) == n_kept
    n_lines = 0
    for part in glob.glob(str(tmp_path / "shards" / "shard=*" / "part-*")):
        if part.endswith(".crc"):
            continue
        with gzip.open(part, "rt") as f:
            for line in f:
                json.loads(line)
                n_lines += 1
    assert n_lines == n_kept

    # 4b. WET text archives straight off the same artifacts
    wet = wet_record_rows(arts)
    assert wet.count() == n_fetched
    kept.unpersist()


def test_discovery_loop_robots_to_sitemap_to_prioritized_crawl(spark, tmp_path):
    """The standing-discovery story: robots.txt Sitemap: directives name
    the sitemap archives, their <url> blocks carry lastmod freshness,
    discover_seeds turns all of it into a prioritized seed table, and
    the politeness scheduler crawls fresh URLs before stale ones."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.operators.discover import (
        discover_seeds,
        extract_sitemap_entries,
    )
    from pathik_spark.operators.frontier import prepare_frontier
    from pathik_spark.operators.robots import robots_sitemap_urls
    from pathik_spark.plans.driver import CrawlRun

    hosts = [f"h{i}.example" for i in range(4)]
    robots_docs = spark.createDataFrame(
        [
            (h, f"User-agent: *\nDisallow: /private\nSitemap: https://{h}/sitemap.xml")
            for h in hosts
        ],
        ["host", "robots_txt"],
    )
    # 1. robots -> the sitemap fetch list
    sm_list = robots_sitemap_urls(robots_docs)
    assert {r["url"] for r in sm_list.collect()} == {
        f"https://{h}/sitemap.xml" for h in hosts
    }

    # 2. "fetched" sitemap bodies: 3 fresh + 3 stale page URLs per host
    def xml(h):
        fresh = "".join(
            f"<url><loc>https://{h}/fresh{i}</loc><lastmod>2025-06-14</lastmod></url>"
            for i in range(3)
        )
        stale = "".join(
            f"<url><loc>https://{h}/stale{i}</loc><lastmod>2020-01-01</lastmod></url>"
            for i in range(3)
        )
        return f"<urlset>{fresh}{stale}</urlset>"

    sitemap_docs = spark.createDataFrame(
        [(h, xml(h)) for h in hosts], ["host", "sitemap_xml"]
    )
    entries = extract_sitemap_entries(sitemap_docs)
    seeds = discover_seeds(sitemap_entries=entries, now="2025-06-15")
    assert seeds.count() == 24

    # 3. crawl the discovered frontier: every URL resolves to a page
    pages = prepare_frontier(seeds, num_shards=64).select(
        "url",
        F.lit("<html><body>doc body</body></html>").cast("binary").alias("html"),
        F.current_timestamp().alias("warc_ts"),
        F.lit("doc body").alias("text"),
        F.lit("en").alias("lang"),
    )
    robots_rules = spark.createDataFrame(
        [], "host string, crawl_delay_ms long, disallow_prefixes array<string>"
    )
    run = CrawlRun(
        spark, pages, robots_rules, None, str(tmp_path),
        CrawlConfig(run_id="disc-e2e", pages_buckets=4, num_shards=64),
    )
    run.run(seeds, n_rounds=1, resume=False)
    arts = run.store.read_table(0, "artifacts").collect()
    assert len(arts) == 24 and all(r["status"] == "fetched" for r in arts)
    # freshness priority honored inside every host's schedule
    by_host = {}
    for r in arts:
        by_host.setdefault(r["host"], []).append(r)
    for h, rows in by_host.items():
        fresh_orders = [r["crawl_order"] for r in rows if "fresh" in r["url"]]
        stale_orders = [r["crawl_order"] for r in rows if "stale" in r["url"]]
        assert max(fresh_orders) < min(stale_orders), h
