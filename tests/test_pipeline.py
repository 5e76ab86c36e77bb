"""End-to-end flagship pipeline (SURVEY.md §3.1 replacement): multi-round
crawl over the synthetic corpus with retries, discovery, metrics and
checkpoint/resume (B5)."""

from __future__ import annotations

import json
import os
import threading
from dataclasses import asdict, replace

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pathik_spark.config import CrawlConfig
from pathik_spark.plans.driver import CrawlRun


def _run(spark, corpus, tmp_path, run_id, **cfg_kw):
    cfg = CrawlConfig(run_id=run_id, **cfg_kw)
    return CrawlRun(
        spark,
        pages=corpus["pages"],
        robots=corpus["robots"],
        links=corpus["links"],
        state_dir=str(tmp_path),
        config=cfg,
    )


def _rows(run, round_no, table):
    """A committed table's rows, columns and rows sorted."""
    df = run.store.read_table(round_no, table)
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


@pytest.fixture(scope="module")
def uninterrupted(spark, corpus, tmp_path_factory):
    """An uninterrupted 2-round crawl and its stats."""
    run = _run(spark, corpus, tmp_path_factory.mktemp("ref"), "ref")
    return run, run.run(corpus["seeds"], n_rounds=2)


def test_single_round_end_to_end(spark, corpus, corpus_pd, tmp_path):
    run = _run(spark, corpus, tmp_path, "r1", n_rounds=1)
    stats = run.run(corpus["seeds"], n_rounds=1)
    assert len(stats) == 1
    st = stats[0]
    assert st.fetched > 0
    assert st.scheduled == st.fetched + st.missing
    arts = run.store.read_table(0, "artifacts")
    # byte-identity through the whole pipeline: fetched rows carry the
    # golden text (join back against pages on canonical identity)
    golden = corpus["pages"].select(F.col("url").alias("gurl"), F.col("text").alias("golden"))
    from pathik_spark.functions.urls import canonicalize_udf

    g = golden.withColumn("gurl", canonicalize_udf(F.col("gurl")))
    fetched = arts.filter(F.col("status") == "fetched")
    bad = fetched.join(g, fetched.url == g.gurl, "left").filter(
        (F.col("golden").isNull()) | (F.col("text") != F.col("golden"))
    )
    assert bad.count() == 0


def test_disallowed_never_fetched(spark, corpus, tmp_path):
    run = _run(spark, corpus, tmp_path, "r2", n_rounds=2)
    run.run(corpus["seeds"], n_rounds=2)
    robots_pd = run.robots.toPandas()
    blocked_hosts = set(
        robots_pd[robots_pd["disallow_prefixes"].map(len) > 0]["host"]
    )
    for k in (0, 1):
        arts = run.store.read_table(k, "artifacts")
        leaked = arts.filter(
            F.col("host").isin(blocked_hosts) & F.col("url").contains("/private")
        ).count()
        assert leaked == 0


def test_multi_round_discovery_and_retry(spark, corpus, tmp_path):
    # bloom_min_seen=0 forces the bloom-sharded seen path through the driver
    run = _run(spark, corpus, tmp_path, "r3", n_rounds=3, max_attempts=2, bloom_min_seen=0)
    stats = run.run(corpus["seeds"], n_rounds=3)
    assert len(stats) >= 2
    assert stats[0].discovered > 0
    # a url scheduled in round 0 must never be scheduled again (seen set)
    seen_urls: set[str] = set()
    for st in stats:
        arts = run.store.read_table(st.round, "artifacts")
        urls = {r["url"] for r in arts.select("url").collect()}
        # retried 'missing' rows are allowed to reappear once (attempt+1)
        fetched_prev = seen_urls
        refetched = {
            r["url"]
            for r in arts.filter(F.col("status") == "fetched").select("url").collect()
        } & fetched_prev
        assert not refetched
        seen_urls |= {
            r["url"]
            for r in arts.filter(
                (F.col("status") == "fetched") | (F.col("attempt") + 1 >= 2)
            ).select("url").collect()
        }
        del urls


def test_resume_equals_uninterrupted(spark, corpus, tmp_path, uninterrupted):
    run_a, _ = uninterrupted  # uninterrupted 2-round run
    # interrupted: run 1 round, then a fresh CrawlRun resumes round 1
    run_b1 = _run(spark, corpus, tmp_path, "rb", n_rounds=2)
    run_b1.run(corpus["seeds"], n_rounds=1)
    run_b2 = _run(spark, corpus, tmp_path, "rb", n_rounds=2)
    run_b2.run(corpus["seeds"], n_rounds=2, resume=True)

    for table in ("artifacts", "seen", "next_frontier"):
        assert _rows(run_a, 1, table) == _rows(run_b2, 1, table), table


def test_metrics_and_lineage_written(spark, corpus, tmp_path):
    run = _run(spark, corpus, tmp_path, "r4", n_rounds=1)
    run.run(corpus["seeds"], n_rounds=1)
    hm = run.store.read_table(0, "host_metrics")
    assert hm.filter(F.col("n_urls") <= 0).count() == 0
    assert {"run_id", "round", "host_hash", "n_fetched", "bytes_fetched"} <= set(hm.columns)
    lin = run.store.read_table(0, "lineage")
    assert lin.count() > 0
    total = lin.agg(F.sum("n_rows")).collect()[0][0]
    arts = run.store.read_table(0, "artifacts")
    assert total == arts.count()


def test_raw_robots_txt_input_equals_rules_table(spark, corpus, corpus_pd, tmp_path):
    """CrawlRun accepts raw robots.txt bodies: rendering the fixture's
    rules as robots.txt text and letting the driver parse them yields
    the identical round (same stats, same scheduled URL set) as the
    pre-parsed rules table (max_per_round omitted from both so the
    comparison isolates the parser)."""
    rules = corpus["robots"].select("host", "crawl_delay_ms", "disallow_prefixes")
    texts = []
    for r in corpus_pd["robots"].itertuples():
        lines = ["User-agent: pathik", f"Crawl-delay: {r.crawl_delay_ms / 1000.0}"]
        lines += [f"Disallow: {p}" for p in r.disallow_prefixes]
        texts.append((r.host, "\n".join(lines)))
    raw = spark.createDataFrame(texts, ["host", "robots_txt"])

    runs = {}
    for name, robots in (("table", rules), ("text", raw)):
        run = CrawlRun(
            spark,
            pages=corpus["pages"],
            robots=robots,
            links=corpus["links"],
            state_dir=str(tmp_path / name),
            config=CrawlConfig(run_id=f"rt-{name}"),
        )
        stats = run.run(corpus["seeds"], n_rounds=1)
        arts = run.store.read_table(0, "artifacts")
        runs[name] = (
            stats[0].scheduled,
            stats[0].fetched,
            {r["url"] for r in arts.select("url").collect()},
        )
    assert runs["table"] == runs["text"]


def test_round_stats_match_committed_tables(spark, corpus, tmp_path):
    """Every RoundStats field equals a count over the round's committed
    tables and the stats in its manifest, also after a resume from a
    manifest without seen_total. max_attempts=2 makes round 1 consume
    round 0's retries unfetched; seen_compact_every=2 compacts the seen
    union."""

    def crawl(n_rounds):
        run = _run(spark, corpus, tmp_path, "st", max_attempts=2, seen_compact_every=2)
        stats = run.run(corpus["seeds"], n_rounds=n_rounds)
        for st in stats:
            want = {k: v for k, v in asdict(st).items() if k not in ("round", "extras")}
            assert run.store.read_manifest(st.round)["stats"] == want, st.round
        return run, stats

    run, stats = crawl(3)
    manifest = os.path.join(run.store._round_dir(2), "manifest.json")
    with open(manifest) as f:
        m = json.load(f)
    del m["stats"]["seen_total"]
    with open(manifest, "w") as f:
        json.dump(m, f)
    stats += crawl(4)[1]
    assert [s.round for s in stats] == [0, 1, 2, 3]
    seen_rows = exhausted = 0
    for st in stats:
        delta = run.store.read_table(st.round, "seen").count()
        seen_rows, exhausted = seen_rows + delta, exhausted + delta - st.fetched
        nf = run.store.read_table(st.round, "next_frontier").groupBy("src").count()
        by_src = {r["src"]: r["count"] for r in nf.collect()}
        assert st.scheduled == run.store.read_table(st.round, "artifacts").count()
        assert st.scheduled == st.fetched + st.missing
        assert (st.deferred, st.retried, st.discovered) == tuple(
            by_src.get(src, 0) for src in ("deferred", "retry", "discovered")
        )
        assert st.seen_total == seen_rows
    # every next-frontier channel ran; seen_total counted retry-exhausted rows
    assert all(sum(getattr(s, k) for s in stats) for k in ("deferred", "retried", "discovered"))
    assert exhausted > 0


def test_round_tables_read_back_with_their_file_schema(spark, corpus, tmp_path, monkeypatch):
    """Each table a round writes comes back with the schema a plain read
    of its files infers (the read-back takes the written plan's schema
    instead of running a footer job), next_frontier and the prepared
    links included."""
    run = _run(spark, corpus, tmp_path, "schema", n_rounds=1)
    returned = {}
    write_table = run.store.write_table

    def recording(round_no, name, df):
        returned[name] = write_table(round_no, name, df)
        return returned[name]

    monkeypatch.setattr(run.store, "write_table", recording)
    seeds = corpus["seeds"].select(
        "url", F.col("seq").cast("long"), F.col("priority").cast("int")
    ).withColumn("attempt", F.lit(0))
    frontier = run.run_round(0, seeds, None)[0]
    assert set(returned) == {"artifacts", "host_metrics", "lineage", "seen"}
    rdir = run.store._round_dir(0)
    for name, df in returned.items():
        on_disk = spark.read.parquet(os.path.join(rdir, f"{name}.parquet")).schema
        assert df.schema == on_disk, name
    nf = spark.read.parquet(os.path.join(rdir, "next_frontier.parquet")).schema
    assert frontier.schema == StructType([f for f in nf.fields if f.name != "src"])
    links = spark.read.parquet(os.path.join(run.store.root, "links_prepared.parquet"))
    assert run._prepared_links().schema == links.schema


def _crawl_joined(run, seeds, n_rounds):
    """(stats, error) of run.run in a daemon thread joined with a timeout:
    a round waiting on a write that never ran fails instead of hanging."""
    out = {}

    def target():
        try:
            out["stats"] = run.run(seeds, n_rounds=n_rounds)
        except Exception as exc:
            out["error"] = exc

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(300)
    assert not t.is_alive(), "crawl did not return"
    return out.get("stats"), out.get("error")


@pytest.mark.parametrize("failing_write", ["seen", "frontier", "host_metrics", "lineage"])
def test_overlapped_write_failure_leaves_resumable_round(
    spark, corpus, tmp_path, monkeypatch, uninterrupted, failing_write
):
    """Round 1's seen-delta write fails, discovery raises before round 1's
    frontier append starts, or round 0's host_metrics or lineage write
    fails: the error reaches run(), the failed round has no manifest, no
    later round starts, and a resumed run equals an uninterrupted one."""
    from pathik_spark.plans import driver

    def failing(fn, when):
        def wrapped(*args, **kwargs):
            if when(*args, **kwargs):
                raise RuntimeError("injected")
            return fn(*args, **kwargs)
        return wrapped

    failed = 0 if failing_write in ("host_metrics", "lineage") else 1
    run = _run(spark, corpus, tmp_path, "wf")
    if failing_write == "frontier":  # seq_base = (round + 1) * 10**12
        monkeypatch.setattr(driver, "discover_links", failing(
            driver.discover_links, lambda *a, seq_base, **kw: seq_base == 2 * 10**12
        ))
    else:
        run.store.write_table = failing(
            run.store.write_table, lambda k, name, df: (k, name) == (failed, failing_write)
        )
    _, error = _crawl_joined(run, corpus["seeds"], 2)
    monkeypatch.undo()
    assert str(error) == "injected"
    assert run.store.committed_rounds() == list(range(failed))
    assert not os.path.exists(run.store._round_dir(failed + 1)), (
        f"round {failed + 1} ran after round {failed} failed"
    )
    stats, error = _crawl_joined(_run(spark, corpus, tmp_path, "wf"), corpus["seeds"], 2)
    ref, ref_stats = uninterrupted
    assert error is None and [s.round for s in stats] == list(range(failed, 2))
    assert [replace(s, extras={}) for s in stats] == [
        replace(s, extras={}) for s in ref_stats[failed:]
    ]
    for k in range(failed, 2):
        for table in ("artifacts", "seen", "next_frontier"):
            assert _rows(ref, k, table) == _rows(run, k, table), (k, table)
