"""URL-seen filter (J3/B2): the bloom-sharded pre-filter must be exactly
equivalent to the authoritative anti-join (property per SURVEY.md §7-M3),
in the operator and in a driven crawl."""

from __future__ import annotations

from pyspark.sql import functions as F

from pathik_spark.operators.frontier import prepare_frontier
from pathik_spark.operators.seen import build_bloom_shards, seen_filter


def _frontier(corpus):
    return prepare_frontier(corpus["seeds"], num_shards=32)


def test_anti_join_semantics(spark, corpus):
    fr = _frontier(corpus).cache()
    # mark every other canonical url as seen
    seen = fr.filter(F.col("seq") % 2 == 0).select("url_hash", "host_hash", "url")
    out = seen_filter(fr, seen)
    left = {r["url_hash"] for r in out.select("url_hash").collect()}
    expected = {
        r["url_hash"] for r in fr.filter(F.col("seq") % 2 != 0).select("url_hash").collect()
    } - {r["url_hash"] for r in seen.select("url_hash").collect()}
    assert left == expected


def test_bloom_prefilter_equals_exact(spark, corpus):
    fr = _frontier(corpus).cache()
    seen = fr.filter(F.col("seq") % 3 == 0).select("url_hash", "host_hash", "url")
    exact = seen_filter(fr, seen)
    shards = build_bloom_shards(seen, fpp=0.05)
    assert shards, "bloom shards built"
    bc = spark.sparkContext.broadcast(shards)
    accelerated = seen_filter(fr, seen, bc)
    a = sorted(r["url_hash"] for r in exact.select("url_hash").collect())
    b = sorted(r["url_hash"] for r in accelerated.select("url_hash").collect())
    assert a == b


def test_bloom_has_no_false_negatives(spark, corpus):
    fr = _frontier(corpus).cache()
    seen = fr.limit(50).select("url_hash", "host_hash", "url")
    shards = build_bloom_shards(seen)
    bc = spark.sparkContext.broadcast(shards)
    out = seen_filter(fr, seen, bc)
    seen_hashes = {r["url_hash"] for r in seen.collect()}
    surviving = {r["url_hash"] for r in out.select("url_hash").collect()}
    assert not (surviving & seen_hashes)


def test_none_seen_passthrough(spark, corpus):
    fr = _frontier(corpus)
    assert seen_filter(fr, None) is fr


def test_recrawl_filter_readmits_stale_seen(spark, corpus):
    from pathik_spark.operators.seen import recrawl_filter

    fr = _frontier(corpus).cache()
    # every other url seen: half of those long ago (stale), half just now
    seen = (
        fr.filter(F.col("seq") % 2 == 0)
        .select("url_hash", "host_hash")
        .withColumn(
            "seen_ts",
            F.when(F.pmod(F.col("url_hash"), F.lit(2)) == 0, F.lit(100)).otherwise(
                F.lit(10_000)
            ),
        )
    )
    out = recrawl_filter(fr, seen, cutoff=F.lit(5_000), ts_col="seen_ts")
    got = {r["url_hash"] for r in out.select("url_hash").collect()}
    fresh_blocked = {
        r["url_hash"]
        for r in seen.filter(F.col("seen_ts") >= 5_000).select("url_hash").collect()
    }
    all_fr = {r["url_hash"] for r in fr.select("url_hash").collect()}
    assert got == all_fr - fresh_blocked
    # stale-seen urls ARE re-admitted (they were seen, but expired)
    stale = {
        r["url_hash"]
        for r in seen.filter(F.col("seen_ts") < 5_000).select("url_hash").collect()
    }
    assert stale - fresh_blocked <= got


def test_prefilter_cap_boundary(spark, corpus):
    """max_total_bytes: at the exact planned size the build proceeds;
    one byte below it falls through to None, and composition with
    seen_filter(None) stays exactly the authoritative anti-join."""
    from pathik_spark.operators.seen import planned_bloom_bytes, shard_counts

    fr = _frontier(corpus).cache()
    seen = fr.filter(F.col("seq") % 3 == 0).select("url_hash", "host_hash", "url")
    planned = planned_bloom_bytes(shard_counts(seen), fpp=0.05)
    assert planned > 0
    at_cap = build_bloom_shards(seen, fpp=0.05, max_total_bytes=planned)
    assert at_cap is not None
    # the planned number is exact: the built bitsets sum to it
    assert sum(len(bits) for (_, _, bits) in at_cap.values()) == planned
    below_cap = build_bloom_shards(seen, fpp=0.05, max_total_bytes=planned - 1)
    assert below_cap is None
    exact = seen_filter(fr, seen, None)
    bc = spark.sparkContext.broadcast(at_cap)
    a = sorted(r["url_hash"] for r in exact.select("url_hash").collect())
    b = sorted(
        r["url_hash"] for r in seen_filter(fr, seen, bc).select("url_hash").collect()
    )
    assert a == b


def test_forced_bloom_crawl_equals_exact_and_builds_inline(
    spark, corpus, tmp_path, monkeypatch
):
    """bloom_min_seen only picks the physical arm: a 3-round crawl with
    the bloom forced on (bloom_min_seen=0) writes the same round tables
    and counts as one whose seen set never reaches the threshold. The
    forced run builds the shards once per round that reads a seen set,
    on the thread that called run()."""
    import threading

    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans import driver

    builds: list[int] = []
    real_build = driver.build_bloom_shards

    def counted_build(*args, **kwargs):
        builds.append(threading.get_ident())
        return real_build(*args, **kwargs)

    monkeypatch.setattr(driver, "build_bloom_shards", counted_build)

    def crawl(arm: str, bloom_min_seen: int):
        builds.clear()
        run = driver.CrawlRun(
            spark,
            pages=corpus["pages"],
            robots=corpus["robots"],
            links=corpus["links"],
            state_dir=str(tmp_path / arm),
            config=CrawlConfig(run_id="bloom-eq", bloom_min_seen=bloom_min_seen),
        )
        stats = run.run(corpus["seeds"], n_rounds=3)
        tables = {}
        for k in range(len(stats)):
            for name in ("artifacts", "seen", "next_frontier"):
                df = run.store.read_table(k, name)
                rows = df.select(*sorted(df.columns)).collect()
                tables[(k, name)] = sorted(map(tuple, rows), key=repr)
        counts = [
            (s.round, s.scheduled, s.fetched, s.missing, s.deferred,
             s.retried, s.discovered, s.seen_total)
            for s in stats
        ]
        return tables, counts, list(builds)

    forced_tables, forced_counts, forced_builds = crawl("forced", 0)
    exact_tables, exact_counts, exact_builds = crawl("exact", 10**12)
    assert len(forced_counts) == 3
    assert forced_counts == exact_counts
    assert forced_tables == exact_tables
    assert exact_builds == []
    # rounds 1 and 2 read a seen set; round 0 starts from the seeds
    assert forced_builds == [threading.get_ident()] * 2
