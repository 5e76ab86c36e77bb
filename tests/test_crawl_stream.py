"""Continuous-crawl streaming facade (streaming/crawl_stream.py):
availableNow drain == batch semantics, checkpointed seen state, budget
and robots enforcement across micro-batches."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from pathik_spark.streaming.crawl_stream import streaming_crawl

TS = datetime.datetime(2014, 3, 1, 0, 0, 0)


def _pages(spark):
    rows = [
        (f"https://h{i % 3}.example/p{i}", TS, f"<html><body><p>page {i} text</p></body></html>".encode(), "en")
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary, lang string")


def _frontier_rows(urls, start_seq=0):
    return [(u, start_seq + i, 0, TS) for i, u in enumerate(urls)]


def _write_frontier(spark, path, urls, start_seq=0):
    spark.createDataFrame(
        _frontier_rows(urls, start_seq),
        "url string, seq long, priority int, event_ts timestamp",
    ).coalesce(1).write.mode("append").parquet(path)


def test_stream_drains_and_extracts(spark, tmp_path):
    pages = _pages(spark)
    fdir, odir, cdir = str(tmp_path / "f"), str(tmp_path / "o"), str(tmp_path / "c")
    urls = [f"https://h{i % 3}.example/p{i}" for i in range(6)] + [
        "https://h0.example/missing"
    ]
    _write_frontier(spark, fdir, urls)
    streaming_crawl(spark, fdir, pages, odir, cdir)
    arts = spark.read.parquet(odir)
    got = {r["url"]: r for r in arts.collect()}
    assert len(got) == 7
    assert got["https://h0.example/missing"]["status"] == "missing"
    fetched = [u for u in got if got[u]["status"] == "fetched"]
    assert len(fetched) == 6
    # byte-identical extraction vs the batch kernel on the same page
    from pathik_spark.kernels.extract import extract_text

    for u in fetched:
        i = int(u.rsplit("p", 1)[1])
        assert got[u]["text"] == extract_text(
            f"<html><body><p>page {i} text</p></body></html>".encode()
        )


def test_checkpointed_seen_state_prevents_refetch(spark, tmp_path):
    pages = _pages(spark)
    fdir, odir, cdir = str(tmp_path / "f"), str(tmp_path / "o"), str(tmp_path / "c")
    first = ["https://h0.example/p0", "https://h1.example/p1"]
    _write_frontier(spark, fdir, first)
    streaming_crawl(spark, fdir, pages, odir, cdir)
    n1 = spark.read.parquet(odir).count()
    assert n1 == 2
    # second drop: one dupe + one new URL; same checkpoint
    _write_frontier(spark, fdir, ["https://h0.example/p0", "https://h2.example/p2"], start_seq=10)
    streaming_crawl(spark, fdir, pages, odir, cdir)
    arts = spark.read.parquet(odir)
    assert arts.count() == 3  # dupe NOT refetched
    assert arts.filter(F.col("url") == "https://h0.example/p0").count() == 1


def test_budget_enforced_across_batches(spark, tmp_path):
    pages = _pages(spark)
    fdir, odir, cdir = str(tmp_path / "f"), str(tmp_path / "o"), str(tmp_path / "c")
    _write_frontier(spark, fdir, ["https://h0.example/p0", "https://h0.example/p3"])
    streaming_crawl(spark, fdir, pages, odir, cdir, max_per_host=3)
    _write_frontier(
        spark, fdir, ["https://h0.example/p6", "https://h0.example/p9"], start_seq=10
    )
    streaming_crawl(spark, fdir, pages, odir, cdir, max_per_host=3)
    arts = spark.read.parquet(odir)
    assert arts.count() == 3  # lifetime budget of 3 spans micro-batches


def test_robots_filter_in_stream(spark, tmp_path):
    pages = _pages(spark)
    fdir, odir, cdir = str(tmp_path / "f"), str(tmp_path / "o"), str(tmp_path / "c")
    robots = spark.createDataFrame(
        [("h0.example", ["/p0"])], "host string, disallow_prefixes array<string>"
    )
    _write_frontier(
        spark, fdir, ["https://h0.example/p0", "https://h0.example/p3", "https://h1.example/p1"]
    )
    streaming_crawl(spark, fdir, pages, odir, cdir, robots=robots)
    urls = {r["url"] for r in spark.read.parquet(odir).collect()}
    assert urls == {"https://h0.example/p3", "https://h1.example/p1"}


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch with the same
    batch_id (crash between files landing and checkpoint commit) must
    REPLACE its partition, not append duplicates."""
    from pathik_spark.operators.fetch import pages_by_hash
    from pathik_spark.streaming.crawl_stream import (
        artifact_batch_writer,
        prepare_frontier_stream,
    )

    pages = _pages(spark)
    odir = str(tmp_path / "o")
    batch = prepare_frontier_stream(
        spark.createDataFrame(
            _frontier_rows(["https://h0.example/p0", "https://h1.example/p1"]),
            "url string, seq long, priority int, event_ts timestamp",
        )
    )
    writer = artifact_batch_writer(pages_by_hash(pages), odir, "both")
    writer(batch, 0)
    first = sorted(spark.read.parquet(odir).drop("batch_id").collect())
    writer(batch, 0)  # replayed batch, same batch_id
    assert sorted(spark.read.parquet(odir).drop("batch_id").collect()) == first
    # a NEW batch id lands as an additional partition, nothing replaced
    writer(batch, 1)
    arts = spark.read.parquet(odir)
    assert arts.count() == 2 * len(first)
    assert arts.filter(F.col("batch_id") == 0).count() == len(first)


def test_watermarked_dedup_uses_state_evicting_variant(spark, tmp_path):
    """With a watermark the seen dedup must be dropDuplicatesWithinWatermark
    (state evicted past the delay); plain dropDuplicates keyed on url_hash
    alone never evicts. Asserted on the analyzed streaming plan."""
    from pathik_spark.streaming.crawl_stream import (
        FRONTIER_STREAM_SCHEMA,
        prepare_frontier_stream,
    )

    fdir = str(tmp_path / "f")
    _write_frontier(spark, fdir, ["https://h0.example/p0"])
    stream = spark.readStream.schema(FRONTIER_STREAM_SCHEMA).parquet(fdir)
    with_wm = prepare_frontier_stream(stream, watermark="1 hour")
    plan = with_wm._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in plan
    no_wm = prepare_frontier_stream(stream)
    plan2 = no_wm._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" not in plan2


def test_adaptive_backoff_stream_matches_batch(spark, tmp_path):
    """Stream==batch parity for the AIMD machinery on a flaky host:
    micro-batch k admits exactly what batch round k schedules (same
    per-host caps, same deferral), and the AIMD budget/delay tables
    evolve identically — both sides run metrics.backoff_budgets /
    backoff_delays, the stream inside foreachBatch, the batch inside
    CrawlRun (adaptive_backoff=True). Restart between micro-batches
    also exercises the processor's resume re-seeding (one batch of
    evidence, like the batch driver)."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    bad = [f"https://bad.example/p{i}" for i in range(12)]
    ok = [f"https://ok.example/q{i}" for i in range(6)]
    pages = spark.createDataFrame(
        [(u, TS, b"<html><body><p>ok page</p></body></html>", "en") for u in ok],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    robots = spark.createDataFrame(
        [("bad.example", 0, 8, []), ("ok.example", 0, 4, [])],
        "host string, crawl_delay_ms long, max_per_round int, disallow_prefixes array<string>",
    )
    seeds = spark.createDataFrame(
        [(u, i, 0) for i, u in enumerate(bad)]
        + [(u, 100 + i, 0) for i, u in enumerate(ok)],
        ["url", "seq", "priority"],
    )
    aimd = dict(base_budget=8, min_budget=1, step=1, threshold_bp=2000)

    # -- batch side: 2 adaptive rounds --
    run = CrawlRun(
        spark, pages, robots, None, str(tmp_path / "batch"),
        CrawlConfig(
            run_id="aimd", n_rounds=2, max_attempts=1,
            adaptive_backoff=True, backoff_base_budget=8,
            backoff_threshold_bp=2000, backoff_step=1, pages_buckets=4,
        ),
    )
    run.run(seeds, n_rounds=2, resume=False)
    batch_rounds = [
        {
            (r["host"], r["url"])
            for r in run.store.read_table(k, "artifacts").collect()
        }
        for k in (0, 1)
    ]
    batch_budgets = {
        r["host"]: r["max_per_round"] for r in run._backoff_budgets.collect()
    }
    batch_delays = {
        r["host"]: r["crawl_delay_ms"] for r in run._backoff_delays.collect()
    }

    # -- stream side: one micro-batch per invocation (same checkpoint) --
    fdir = str(tmp_path / "f")
    odir = str(tmp_path / "o")
    cdir = str(tmp_path / "c")
    pend = str(tmp_path / "pend")
    _write_frontier(spark, fdir, bad)
    _write_frontier(spark, fdir, ok, start_seq=100)
    adaptive1 = dict(pending_dir=pend, **aimd)
    streaming_crawl(spark, fdir, pages, odir, cdir, robots=robots, adaptive=adaptive1)
    # second drop = just a trigger row; the real round-1 work is the
    # pending deferral from batch 0 (fresh processor -> resume re-seed)
    _write_frontier(spark, fdir, ["https://dummy.example/x"], start_seq=900)
    adaptive2 = dict(pending_dir=pend, **aimd)
    streaming_crawl(spark, fdir, pages, odir, cdir, robots=robots, adaptive=adaptive2)

    arts = spark.read.parquet(odir)
    stream_rounds = [
        {
            (r["host"], r["url"])
            for r in arts.filter(F.col("batch_id") == k).collect()
            if r["host"] != "dummy.example"
        }
        for k in (0, 1)
    ]
    assert stream_rounds[0] == batch_rounds[0]
    assert stream_rounds[1] == batch_rounds[1]
    # sanity on the shape: round 0 caps bind (robots), round 1 caps are AIMD
    assert len([u for h, u in stream_rounds[0] if h == "bad.example"]) == 8
    assert len([u for h, u in stream_rounds[1] if h == "bad.example"]) == 4

    st = adaptive2["state"]
    stream_budgets = {
        r["host"]: r["max_per_round"]
        for r in st["budgets"].collect() if r["host"] != "dummy.example"
    }
    stream_delays = {
        r["host"]: r["crawl_delay_ms"]
        for r in st["delays"].collect() if r["host"] != "dummy.example"
    }
    assert stream_budgets == batch_budgets
    assert stream_delays == batch_delays


def test_adaptive_recrawl_ttl_in_stream(spark, tmp_path):
    """TTL-gated recrawl inside foreachBatch: a seen record blocks its
    URL only while younger than the host's TTL — churny (short-TTL)
    hosts re-admit, stable (long-TTL) hosts stay blocked."""
    import datetime as _dt

    from pathik_spark.streaming.crawl_stream import streaming_crawl

    churny = "https://churny.example/p"
    stable = "https://stable.example/p"
    pages = spark.createDataFrame(
        [(u, TS, b"<html><body><p>pg</p></body></html>", "en") for u in (churny, stable)],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    ttls = spark.createDataFrame(
        [("churny.example", 1.0), ("stable.example", 100.0)],
        "host string, ttl_hours double",
    )
    fdir, odir, cdir = str(tmp_path / "f"), str(tmp_path / "o"), str(tmp_path / "c")
    seen_dir = str(tmp_path / "seen")
    pend = str(tmp_path / "pend")
    # pre-existing seen log: both urls crawled 2h before the batch
    from pathik_spark.functions.urls import canonical_col, url_hash_expr

    import os
    os.makedirs(seen_dir, exist_ok=True)
    spark.createDataFrame(
        [(u, TS - _dt.timedelta(hours=2)) for u in (churny, stable)],
        "url string, seen_ts timestamp",
    ).withColumn("url", canonical_col(F.col("url"))).withColumn(
        "url_hash", url_hash_expr(F.col("url"))
    ).write.parquet(os.path.join(seen_dir, "seen.parquet"))

    _write_frontier(spark, fdir, [churny, stable])
    adaptive = dict(pending_dir=pend, recrawl_ttls=ttls, seen_dir=seen_dir)
    streaming_crawl(spark, fdir, pages, odir, cdir, adaptive=adaptive)
    got = {r["url"] for r in spark.read.parquet(odir).collect()}
    assert churny in got      # age 2h > ttl 1h: stale, re-admitted
    assert stable not in got  # age 2h < ttl 100h: fresh, blocked

def test_declared_ttl_and_304_stream_matches_batch(spark, tmp_path):
    """Stream==batch parity for a 304-heavy host (round-4 verdict ask
    #7): (a) admission — the server-DECLARED per-URL cache TTLs
    (revalidate.cache_ttl_hours over the committed cache-meta log,
    latest batch wins) override the churn-inferred host TTL inside the
    stream's recrawl gate, exactly recrawl_filter_adaptive's url_ttls
    arm; (b) marking — wire payloads parsing to 304 land as
    status='revalidated' with NO extracted text, exactly
    apply_not_modified's marking law."""
    import os

    from pathik_spark.functions.urls import canonical_col, url_hash_expr
    from pathik_spark.operators.revalidate import (
        apply_not_modified,
        http_cache_meta,
    )

    h = "reval.example"
    u304, u200 = f"https://{h}/a", f"https://{h}/b"
    u_fresh, u_stale = f"https://{h}/fresh", f"https://{h}/stale"
    w200 = (
        b"HTTP/1.1 200 OK\r\nDate: Sat, 01 Mar 2014 00:00:00 GMT\r\n"
        b"Cache-Control: max-age=7200\r\n\r\n"
        b"<html><body><p>fresh body</p></body></html>"
    )
    w304 = (
        b"HTTP/1.1 304 Not Modified\r\nDate: Sat, 01 Mar 2014 00:00:00 GMT\r\n"
        b"Cache-Control: max-age=7200\r\n\r\n"
    )
    pages = spark.createDataFrame(
        [(u304, TS, w304, "en"), (u200, TS, w200, "en"), (u_stale, TS, w200, "en")],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    fdir, odir, cdir = str(tmp_path / "f"), str(tmp_path / "o"), str(tmp_path / "c")
    seen_dir, pend = str(tmp_path / "seen"), str(tmp_path / "pend")
    cm_dir = str(tmp_path / "cm")
    os.makedirs(seen_dir, exist_ok=True)
    os.makedirs(cm_dir, exist_ok=True)
    # seen 1h before the batch; host churn TTL says 100h (blocks both)
    seen_df = (
        spark.createDataFrame(
            [(u, TS - datetime.timedelta(hours=1)) for u in (u_fresh, u_stale)],
            "url string, seen_ts timestamp",
        )
        .withColumn("url", canonical_col(F.col("url")))
        .withColumn("url_hash", url_hash_expr(F.col("url")))
    )
    seen_df.write.parquet(os.path.join(seen_dir, "seen.parquet"))
    # committed cache-meta SNAPSHOT (latest-per-url by contract):
    # fresh=2h (blocks at age 1h), stale=0.5h (re-admits) — the
    # declared overlay must override the 100h host TTL for both
    spark.createDataFrame(
        [
            (u_fresh, 2.0, "max_age", -1),
            (u_stale, 0.5, "max_age", -1),
        ],
        "url string, ttl_hours double, ttl_source string, batch_id long",
    ).write.parquet(os.path.join(cm_dir, "cache_meta.parquet"))
    ttls = spark.createDataFrame([(h, 100.0)], "host string, ttl_hours double")

    _write_frontier(spark, fdir, [u304, u200, u_fresh, u_stale])
    adaptive = dict(
        pending_dir=pend, recrawl_ttls=ttls, seen_dir=seen_dir,
        cache_meta_dir=cm_dir, revalidate_304=True,
    )
    streaming_crawl(spark, fdir, pages, odir, cdir, adaptive=adaptive)
    arts = {r["url"]: r for r in spark.read.parquet(odir).collect()}

    # (a) admission parity vs the batch operator composition
    from pathik_spark.operators.delta import recrawl_filter_adaptive
    from pathik_spark.operators.frontier import prepare_frontier

    fr = prepare_frontier(
        spark.createDataFrame(
            _frontier_rows([u304, u200, u_fresh, u_stale]),
            "url string, seq long, priority int, event_ts timestamp",
        ).select("url", "seq", "priority"),
        num_shards=32,
    )
    # seed the batch twin with the same PRE-DRAIN snapshot the stream
    # admission consumed (the drain then merged this batch's rows in)
    latest = spark.createDataFrame(
        [(u_fresh, 2.0), (u_stale, 0.5)], "url string, ttl_hours double"
    )
    batch_admitted = {
        r["url"]
        for r in recrawl_filter_adaptive(
            fr, seen_df, ttls, TS, ts_col="seen_ts", url_ttls=latest
        ).collect()
    }
    assert batch_admitted == {u304, u200, u_stale}
    assert set(arts) == batch_admitted

    # (b) status-marking parity vs apply_not_modified
    meta = http_cache_meta(pages).select("url", "status_code")
    marked = apply_not_modified(pages.join(meta, "url"), pages)
    batch_status = {r["url"]: r["status"] for r in marked.collect()}
    for u in (u304, u200, u_stale):
        assert arts[u]["status"] == batch_status[u]
    assert arts[u304]["status"] == "revalidated"
    assert arts[u304]["text"] is None  # extraction skipped
    assert arts[u200]["status"] == "fetched"

    # (c) the post-drain snapshot is latest-per-url: this batch's rows
    # merged in (the 304's own max-age re-declared the TTL — RFC 9111
    # §4.3.4) and the blocked url's seeded entry survived untouched
    snap = {
        r["url"]: r
        for r in spark.read.parquet(
            os.path.join(cm_dir, "cache_meta.parquet")
        ).collect()
    }
    assert snap[u304]["ttl_source"] == "max_age" and snap[u304]["ttl_hours"] == 2.0
    assert snap[u_fresh]["batch_id"] == -1  # untouched (never refetched)
    assert snap[u_stale]["batch_id"] >= 0  # refreshed by this batch
    # exactly one row per url — the snapshot never accumulates history
    assert len(snap) == 4


def test_cache_meta_snapshot_replay_idempotent(spark, tmp_path):
    """The cache-meta store is a latest-per-url snapshot maintained by
    read-merge-overwrite: replaying a batch (same batch_id — the
    at-least-once crash window) must produce the identical snapshot,
    and a later batch that admits nothing must leave it untouched —
    one row per url always, no history accumulation."""
    import os

    from pathik_spark.operators.fetch import pages_by_hash
    from pathik_spark.streaming.crawl_stream import (
        make_adaptive_batch_processor,
        prepare_frontier_stream,
    )

    h = "snap.example"
    u1, u2 = f"https://{h}/one", f"https://{h}/two"
    wire = (
        b"HTTP/1.1 200 OK\r\nDate: Sat, 01 Mar 2014 00:00:00 GMT\r\n"
        b"Cache-Control: max-age=7200\r\n\r\n<html><body><p>x</p></body></html>"
    )
    pages = spark.createDataFrame(
        [(u1, TS, wire, "en"), (u2, TS, wire, "en")],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    odir = str(tmp_path / "o")
    pend, seen_dir, cm_dir = (
        str(tmp_path / "p"), str(tmp_path / "s"), str(tmp_path / "cm")
    )
    ttls = spark.createDataFrame([(h, 100.0)], "host string, ttl_hours double")
    process, _state = make_adaptive_batch_processor(
        spark, pages_by_hash(pages), odir, "both", pend,
        recrawl_ttls=ttls, seen_dir=seen_dir, cache_meta_dir=cm_dir,
        revalidate_304=True,
    )
    batch = prepare_frontier_stream(
        spark.createDataFrame(
            _frontier_rows([u1, u2]),
            "url string, seq long, priority int, event_ts timestamp",
        )
    )
    cm_path = os.path.join(cm_dir, "cache_meta.parquet")
    process(batch, 0)
    first = sorted(map(tuple, spark.read.parquet(cm_path).collect()))
    assert len(first) == 2  # one row per url
    process(batch, 0)  # replayed batch, same batch_id
    assert sorted(map(tuple, spark.read.parquet(cm_path).collect())) == first
    # a later batch whose urls are all TTL-blocked admits nothing and
    # must not touch the snapshot: same rows, and the part files are not
    # rewritten either
    parts = sorted(f for f in os.listdir(cm_path) if f.startswith("part-"))
    process(batch, 1)
    assert sorted(map(tuple, spark.read.parquet(cm_path).collect())) == first
    assert sorted(f for f in os.listdir(cm_path) if f.startswith("part-")) == parts
