"""Physical-plan assertions (SURVEY.md §4): broadcast where intended,
predicate pushdown / column pruning reaching the parquet scan, partial
aggregation before the shuffle."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pathik_spark.operators.frontier import prepare_frontier
from pathik_spark.operators.robots import attach_robots


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_robots_join_is_broadcast(spark, corpus):
    fr = prepare_frontier(corpus["seeds"])
    joined = attach_robots(fr, corpus["robots"])
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan, plan


def test_parquet_pushdown_and_pruning(spark, corpus, tmp_path):
    path = str(tmp_path / "pages_pq")
    corpus["pages"].write.mode("overwrite").parquet(path)
    df = (
        spark.read.parquet(path)
        .filter(F.col("lang") == "en")
        .select("url", "lang")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan
    # column pruning: the scan must not read html/text/warc_ts
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in read_schema and "text" not in read_schema, read_schema


def test_groupby_has_partial_aggregation(spark, corpus):
    fr = prepare_frontier(corpus["seeds"])
    agg = fr.groupBy("host_hash").agg(F.count("*").alias("n"))
    plan = _plan(agg)
    # two HashAggregate nodes (partial + final) around the exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_seen_compact_bucketed_no_seen_side_exchange(spark, corpus, tmp_path):
    """Post-compaction, the J3 anti-join must shuffle ONLY the frontier:
    the compacted seen table is bucketed by url_hash, so its side of the
    join (the 10^10-row side at scale) contributes no Exchange."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.operators.seen import seen_filter
    from pathik_spark.plans.driver import CrawlRun

    run = CrawlRun(
        spark,
        pages=corpus["pages"],
        robots=corpus["robots"],
        links=corpus["links"],
        state_dir=str(tmp_path),
        config=CrawlConfig(run_id="compact-plan", seen_compact_every=1),
    )
    run.run(corpus["seeds"], n_rounds=1)
    seen = spark.table(run._table_name("seen_compact_0"))
    fr = prepare_frontier(corpus["seeds"])
    # at fixture scale the tiny seen table would broadcast (also fine);
    # force the shuffle-join path the 10^10 deployment takes
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = seen_filter(fr, seen, None)
        plan = _plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # exactly ONE shuffle on the join key — the frontier side; the seen
    # side's distinct+join reuse the bucketed layout with no Exchange
    assert plan.count("hashpartitioning(url_hash") == 1, plan
    # and the seen side is read as a bucketed scan
    assert "Bucketed: true" in plan, plan


def test_resume_preserves_pages_bucket_layout(spark, corpus, tmp_path):
    """Resume in a fresh session must re-register the prepared pages
    table WITH its bucket spec (plans/driver.py DDL re-registration):
    post-resume, the fetch join's pages side is a bucketed scan that
    contributes NO Exchange — the only url_hash shuffle belongs to the
    small scheduled frontier."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.operators.fetch import fetch_join
    from pathik_spark.operators.frontier import prepare_frontier
    from pathik_spark.plans.driver import CrawlRun

    def make_run():
        return CrawlRun(
            spark,
            pages=corpus["pages"],
            robots=corpus["robots"],
            links=corpus["links"],
            state_dir=str(tmp_path),
            config=CrawlConfig(run_id="resume-bucket"),
        )

    run1 = make_run()
    run1.run(corpus["seeds"], n_rounds=1)
    # simulate the fresh-session resume: drop the catalog entry so the
    # DDL re-registration branch runs (the parquet files + marker stay)
    name = run1._table_name("pages")
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    run2 = make_run()
    prepared = run2._prepared_pages()
    scheduled = prepare_frontier(corpus["seeds"]).select(
        "url_hash", F.col("url").alias("sched_url")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(fetch_join(scheduled, prepared, prepared=True))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan, plan
    # exactly one url_hash shuffle: the scheduled side; none for pages
    assert plan.count("hashpartitioning(url_hash") == 1, plan

    # the round's artifacts plan over the driver's coalesced fetch join
    # (a thin round: fewer Python tasks than buckets) keeps that shape
    from pathik_spark.operators.fetch import extract_artifacts

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with_url = prepare_frontier(corpus["seeds"]).select("url_hash", "url")
        plan = _plan(extract_artifacts(run2._fetch_join(with_url, with_url)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    slots = spark.sparkContext.defaultParallelism
    assert re.search(rf"\) Coalesce\n(.+\n)*?Arguments: {4 * slots}\n", plan), plan
    assert "ArrowEvalPython" in plan, plan
    assert "Bucketed: true" in plan, plan
    assert plan.count("hashpartitioning(url_hash") == 1, plan


def test_python_stage_tasks_follow_the_round():
    from pathik_spark.plans.driver import COALESCE_MAX_ROWS_PER_BUCKET, python_stage_tasks

    thin = COALESCE_MAX_ROWS_PER_BUCKET * 64
    # thin rounds (both crawlbench rounds): the 4x-slots floor
    assert python_stage_tasks(214, 64, slots=4) == 16
    assert python_stage_tasks(0, 64, slots=4) == 16
    assert python_stage_tasks(thin, 64, slots=4) == 16
    # any denser round keeps the bucket layout: scaling_bench's rounds
    assert python_stage_tasks(thin + 1, 64, slots=4) == 64
    assert python_stage_tasks(60_000, 256, slots=4) == 256
    assert python_stage_tasks(96_000, 256, slots=16) == 256
    # more slots than measured: one task per bucket even for thin rounds
    assert python_stage_tasks(214, 256, slots=16) == 256
    # never above the bucket count, even when the floor is
    for n_rows in (0, 1, 10**3, 10**6, 10**9):
        for buckets in (1, 4, 8, 64, 256):
            for slots in (1, 2, 4, 64):
                assert python_stage_tasks(n_rows, buckets, slots) <= buckets
    assert python_stage_tasks(0, 8, slots=4) == 8


def test_resume_bucket_count_follows_written_layout(spark, corpus, tmp_path):
    """Resume re-registers with the bucket count the files were
    PHYSICALLY written with (recorded in the marker), not the current
    config — a mismatched declared spec would silently drop rows from
    the exchange-elided fetch join. A legacy 'ok' marker (unknown
    physical count) falls back to the safe unbucketed registration."""
    import warnings

    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    def make_run(buckets):
        return CrawlRun(
            spark,
            pages=corpus["pages"],
            robots=corpus["robots"],
            links=corpus["links"],
            state_dir=str(tmp_path),
            config=CrawlConfig(run_id="rbk", pages_buckets=buckets),
        )

    run1 = make_run(8)
    run1.run(corpus["seeds"], n_rounds=1)
    name = run1._table_name("pages")
    marker = tmp_path / "rbk" / "pages_prepared.done"
    assert marker.read_text().strip() == "8"
    baseline = run1._prepared_pages().count()

    # resume with a RETUNED config: must keep the written 8-bucket spec
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    run2 = make_run(16)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        prepared = run2._prepared_pages()
    assert any("written layout" in str(w.message) for w in caught)
    ddl = spark.sql(f"SHOW CREATE TABLE {name}").collect()[0][0]
    assert "8 BUCKETS" in ddl, ddl
    assert prepared.count() == baseline

    # legacy pre-round-3 marker: unknown count -> unbucketed fallback
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    marker.write_text("ok")
    run3 = make_run(16)
    prepared3 = run3._prepared_pages()
    assert prepared3.count() == baseline
    ddl3 = spark.sql(f"SHOW CREATE TABLE {name}").collect()[0][0]
    assert "BUCKETS" not in ddl3, ddl3


def test_seen_antijoin_shape(spark, corpus):
    fr = prepare_frontier(corpus["seeds"])
    seen = fr.limit(10).select("url_hash")
    out = fr.join(seen, "url_hash", "left_anti")
    plan = _plan(out)
    assert "LeftAnti" in plan, plan


def test_repetition_signals_no_shuffle(spark, corpus):
    """The repetition-quality signals are per-document array expressions:
    the whole operator must compile into the scan's projection — zero
    Exchange, zero Python UDF (operators/quality.py discipline)."""
    from pathik_spark.operators.quality import repetition_signals

    docs = spark.createDataFrame(
        [(i, f"line a\nline b {i}") for i in range(10)], "doc_id int, text string"
    )
    plan = _plan(repetition_signals(docs))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_host_ranks_drive_frontier_priority(spark, corpus, tmp_path):
    """CrawlRun(host_ranks=...) replaces frontier priority with the
    rank tier: ranked hosts schedule ahead of unranked ones."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    hosts = [r["host"] for r in
             corpus["seeds"].selectExpr("parse_url(url, 'HOST') AS host")
             .distinct().limit(3).collect()]
    fav = hosts[0]
    ranks = spark.createDataFrame([(fav, 0.9)], ["host", "rank"])
    run = CrawlRun(
        spark,
        pages=corpus["pages"],
        robots=corpus["robots"],
        links=corpus["links"],
        state_dir=str(tmp_path),
        config=CrawlConfig(run_id="ranked"),
        host_ranks=ranks,
    )
    run.run(corpus["seeds"], n_rounds=1)
    arts = spark.read.parquet(str(tmp_path / "ranked" / "round=0" / "artifacts.parquet"))
    pri = {r["host"]: r["priority"] for r in arts.select("host", "priority").distinct().collect()}
    assert pri.get(fav) == 0                      # the ranked host leads
    others = [p for h, p in pri.items() if h != fav]
    assert others and all(p == 4 for p in others)  # unranked -> after ALL ranked
    # and ranked rows actually scheduled before unranked ones
    orders = arts.groupBy("priority").agg(F.min("crawl_order").alias("mn")).collect()
    by_p = {r["priority"]: r["mn"] for r in orders}
    if 0 in by_p and 4 in by_p:
        assert by_p[0] < by_p[4]


def test_store_gc_preserves_resume(spark, corpus, tmp_path):
    """gc deletes rounds older than BOTH the retention window and the
    newest seen compact; resume after gc continues identically."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    def mk(path, run_id):
        cfg = CrawlConfig(run_id=run_id, n_rounds=5, seen_compact_every=2,
                          use_bloom=False)
        return CrawlRun(spark, corpus["pages"], corpus["robots"],
                        corpus["links"], str(path), cfg)

    run = mk(tmp_path, "gc1")
    run.run(corpus["seeds"], n_rounds=4, resume=False)
    # compacts at rounds 1 and 3 (every 2); latest = 3
    assert run.store.has_table(3, "seen_compact")
    deleted = run.store.gc(keep_rounds=1)
    # cutoff = min(3-1+1, 3) = 3 -> rounds 0..2 deleted
    assert deleted == [0, 1, 2]
    import os
    assert not os.path.isdir(os.path.join(run.store.root, "round=0"))
    assert run.store.read_manifest(3) is not None

    # an identical un-gc'd twin: round 4 after gc == round 4 without gc
    run2 = mk(tmp_path, "gc2")
    run2.run(corpus["seeds"], n_rounds=4, resume=False)
    s1 = mk(tmp_path, "gc1").run(corpus["seeds"], n_rounds=5, resume=True)
    s2 = mk(tmp_path, "gc2").run(corpus["seeds"], n_rounds=5, resume=True)
    assert len(s1) == len(s2) == 1
    a, b = s1[0], s2[0]
    assert (a.scheduled, a.fetched, a.seen_total) == (b.scheduled, b.fetched, b.seen_total)


def test_store_gc_noop_without_compact(spark, corpus, tmp_path):
    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    cfg = CrawlConfig(run_id="gc3", n_rounds=3, seen_compact_every=0,
                      use_bloom=False)
    run = CrawlRun(spark, corpus["pages"], corpus["robots"], corpus["links"],
                   str(tmp_path), cfg)
    run.run(corpus["seeds"], n_rounds=3, resume=False)
    # every delta is load-bearing: nothing deletable at any window
    assert run.store.gc(keep_rounds=0) == []
