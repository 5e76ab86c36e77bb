"""AIMD error-aware per-host backoff (operators/metrics.backoff_budgets
+ robots.apply_budget_overrides + the CrawlRun wiring)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pathik_spark.operators.metrics import backoff_budgets
from pathik_spark.operators.robots import apply_budget_overrides


def _stats(spark, rows):
    return spark.createDataFrame(rows, "host string, n_urls long, n_errors long")


def _budgets(spark, rows):
    return spark.createDataFrame(rows, "host string, max_per_round long")


def test_backoff_halves_on_errors_and_creeps_back(spark):
    stats = _stats(spark, [("bad", 10, 5), ("good", 10, 0)])
    prev = _budgets(spark, [("bad", 40), ("good", 40)])
    out = {
        r["host"]: r["max_per_round"]
        for r in backoff_budgets(
            stats, prev, base_budget=64, increase_step=3, err_threshold_bp=2000
        ).collect()
    }
    assert out == {"bad": 20, "good": 43}


def test_backoff_base_min_max_and_carry(spark):
    # new host starts at base; floor at min; cap at max; host with no
    # stats this round carries its budget unchanged
    stats = _stats(spark, [("new", 4, 4), ("floor", 8, 8), ("cap", 8, 0)])
    prev = _budgets(spark, [("floor", 3), ("cap", 99), ("carried", 7)])
    out = {
        r["host"]: r["max_per_round"]
        for r in backoff_budgets(
            stats, prev, base_budget=64, min_budget=2, max_budget=100,
            increase_step=5, err_threshold_bp=5000,
        ).collect()
    }
    # new: 100% errors -> floor(64/2) = 32; floor: floor(3/2)=1 -> min 2
    assert out == {"new": 32, "floor": 2, "cap": 100, "carried": 7}


def test_backoff_exact_threshold_triggers(spark):
    # err_bp == threshold counts as unhealthy (>=)
    stats = _stats(spark, [("edge", 5, 1)])  # 2000 bp exactly
    out = backoff_budgets(
        stats, None, base_budget=10, err_threshold_bp=2000
    ).collect()
    assert out[0]["max_per_round"] == 5


def test_apply_budget_overrides(spark):
    robots = spark.createDataFrame(
        [("h1", 100, ["/p"], 50), ("h2", 0, [], None)],
        "host string, crawl_delay_ms long, disallow_prefixes array<string>, max_per_round int",
    )
    budgets = _budgets(spark, [("h1", 7), ("h3", 9)])
    out = {r["host"]: r for r in apply_budget_overrides(robots, budgets).collect()}
    assert out["h1"]["max_per_round"] == 7          # override wins
    assert out["h2"]["max_per_round"] is None       # untouched robots row
    assert out["h3"]["max_per_round"] == 9          # budget-only host
    assert out["h1"]["disallow_prefixes"] == ["/p"]  # rules ride along


def test_crawl_run_backoff_limits_flaky_host(spark, tmp_path):
    """A host whose pages are all missing gets its budget AIMD-halved:
    round 2 schedules fewer of its URLs than round 1."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    n = 40
    seeds = spark.createDataFrame(
        [(f"https://flaky.example/p{i}", i, 0) for i in range(n)]
        + [(f"https://solid.example/p{i}", n + i, 0) for i in range(n)],
        ["url", "seq", "priority"],
    )
    # pages exist only for solid.example -> flaky is 100% "missing"
    from pathik_spark.operators.frontier import prepare_frontier

    pages = prepare_frontier(
        seeds.filter(F.col("url").contains("solid")), num_shards=64
    ).select(
        F.col("url"),
        F.lit("<html><body>ok</body></html>").cast("binary").alias("html"),
        F.current_timestamp().alias("warc_ts"),
        F.lit("ok").alias("text"),
        F.lit("en").alias("lang"),
    )
    robots = spark.createDataFrame(
        [], "host string, crawl_delay_ms long, disallow_prefixes array<string>"
    )
    cfg = CrawlConfig(
        run_id="backoff-t", n_rounds=2, adaptive_backoff=True,
        backoff_base_budget=8, backoff_min_budget=1, backoff_step=2,
        backoff_threshold_bp=5000, max_attempts=10,
        pages_buckets=4, num_shards=64,
    )
    run = CrawlRun(spark, pages, robots, None, str(tmp_path), cfg)
    run.run(seeds, n_rounds=2, resume=False)
    arts0 = run.store.read_table(0, "artifacts")
    arts1 = run.store.read_table(1, "artifacts")
    flaky0 = arts0.filter(F.col("host") == "flaky.example").count()
    flaky1 = arts1.filter(F.col("host") == "flaky.example").count()
    solid0 = arts0.filter(F.col("host") == "solid.example").count()
    # round 0 has no evidence yet -> no budget applied
    assert flaky0 == 40 and solid0 == 40
    # after 100% errors: budget = floor(base 8 / 2) = 4 of the 40 retries
    assert flaky1 == 4


def test_backoff_delays_double_cap_recover_carry(spark):
    from pathik_spark.operators.metrics import backoff_delays

    stats = _stats(
        spark,
        [("bad_cold", 4, 4), ("bad_hot", 4, 4), ("bad_capped", 2, 2), ("ok", 4, 0)],
    )
    prev = spark.createDataFrame(
        [("bad_hot", 4000), ("bad_capped", 50_000), ("ok", 3000), ("idle", 700)],
        "host string, crawl_delay_ms long",
    )
    out = {
        r["host"]: r["crawl_delay_ms"]
        for r in backoff_delays(
            stats, prev, base_delay_ms=0, max_delay_ms=60_000,
            err_threshold_bp=5000,
        ).collect()
    }
    assert out == {
        "bad_cold": 2000,    # first penalty is a real second: max(0,0,1000)*2
        "bad_hot": 8000,     # doubles
        "bad_capped": 60_000,  # cap
        "ok": 1500,          # halves back
        "idle": 700,         # no stats -> carried
    }


def test_apply_delay_overrides_max_merge(spark):
    from pathik_spark.operators.robots import apply_delay_overrides

    robots = spark.createDataFrame(
        [("h1", 5000, ["/p"]), ("h2", 100, [])],
        "host string, crawl_delay_ms long, disallow_prefixes array<string>",
    )
    delays = spark.createDataFrame(
        [("h1", 2000), ("h2", 9000), ("h3", 400)],
        "host string, crawl_delay_ms long",
    )
    out = {r["host"]: r["crawl_delay_ms"] for r in apply_delay_overrides(robots, delays).collect()}
    # robots Crawl-delay is a floor: override never lowers it
    assert out == {"h1": 5000, "h2": 9000, "h3": 400}


def test_honor_meta_robots_blocks_nofollow_discovery(spark, tmp_path):
    """REP HTML arm wired into the round loop: a nofollow page's
    outlinks never reach the next frontier; noindex rides on the
    artifacts for corpus consumers."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.operators.frontier import prepare_frontier
    from pathik_spark.plans.driver import CrawlRun

    seeds = spark.createDataFrame(
        [("https://a.example/root", 0, 0), ("https://b.example/root", 1, 0)],
        ["url", "seq", "priority"],
    )
    html_a = (
        '<html><head><meta name="robots" content="noindex,nofollow"></head>'
        '<body><a href="https://a.example/hidden">x</a></body></html>'
    )
    html_b = (
        "<html><body>"
        '<a href="https://b.example/open">y</a></body></html>'
    )
    pages = prepare_frontier(seeds, num_shards=64).select(
        "url",
        F.when(F.col("url").contains("a.example"), F.lit(html_a))
        .otherwise(F.lit(html_b))
        .cast("binary")
        .alias("html"),
        F.current_timestamp().alias("warc_ts"),
        F.lit("t").alias("text"),
        F.lit("en").alias("lang"),
    )
    robots = spark.createDataFrame(
        [], "host string, crawl_delay_ms long, disallow_prefixes array<string>"
    )
    cfg = CrawlConfig(
        run_id="rep-t", n_rounds=1, honor_meta_robots=True,
        discover_from_html=True, pages_buckets=4,
        num_shards=64,
    )
    run = CrawlRun(spark, pages, robots, None, str(tmp_path), cfg)
    run.run(seeds, n_rounds=1, resume=False)
    arts = {r["url"]: r for r in run.store.read_table(0, "artifacts").collect()}
    assert arts["https://a.example/root"]["noindex"] == 1
    assert arts["https://b.example/root"]["noindex"] == 0
    nf = {r["url"] for r in run.store.read_table(0, "next_frontier").collect()}
    assert "https://b.example/open" in nf        # followed
    assert "https://a.example/hidden" not in nf  # nofollow honored


def test_analyze_crawl_report(spark, tmp_path):
    from pathik_spark.config import CrawlConfig
    from pathik_spark.operators.frontier import prepare_frontier
    from pathik_spark.operators.metrics import analyze_crawl
    from pathik_spark.plans.driver import CrawlRun

    seeds = spark.createDataFrame(
        [(f"https://h{i % 3}.example/p{i}", i, 0) for i in range(30)],
        ["url", "seq", "priority"],
    )
    pages = prepare_frontier(seeds.filter("seq % 5 > 0"), num_shards=64).select(
        "url",
        F.lit("<html><body>x</body></html>").cast("binary").alias("html"),
        F.current_timestamp().alias("warc_ts"),
        F.lit("x").alias("text"),
        F.lit("en").alias("lang"),
    )
    robots = spark.createDataFrame(
        [], "host string, crawl_delay_ms long, disallow_prefixes array<string>"
    )
    run = CrawlRun(
        spark, pages, robots, None, str(tmp_path),
        CrawlConfig(run_id="rep", n_rounds=2,
                    pages_buckets=4, num_shards=64, max_attempts=2),
    )
    run.run(seeds, n_rounds=2, resume=False)
    rep = analyze_crawl(run.store, spark).collect()
    assert [r["round"] for r in rep] == [0, 1]
    assert rep[0]["scheduled"] == 30 and rep[0]["missing"] == 6
    assert rep[0]["n_hosts"] == 3 and rep[0]["total_errors"] == 6
    assert rep[0]["worst_host"].startswith("h")


def test_apply_delay_overrides_null_floor_tracks_default(spark, monkeypatch):
    """NULL delay means 'the default', not 0: if DEFAULT_CRAWL_DELAY_MS
    ever becomes non-zero, the max-merge floor must rise with it (an
    override below the default cannot speed a defaulted host up)."""
    from pathik_spark.operators import robots as R

    monkeypatch.setattr(R, "DEFAULT_CRAWL_DELAY_MS", 700)
    robots = spark.createDataFrame(
        [("h_null", None, ["/p"]), ("h_set", 100, [])],
        "host string, crawl_delay_ms long, disallow_prefixes array<string>",
    )
    delays = spark.createDataFrame(
        [("h_null", 400), ("h_set", 50)], "host string, crawl_delay_ms long"
    )
    out = {
        r["host"]: r["crawl_delay_ms"]
        for r in R.apply_delay_overrides(robots, delays).collect()
    }
    # h_null: max(default 700, override 400) = 700; h_set: max(100, 50) = 100
    assert out == {"h_null": 700, "h_set": 100}


def test_analyze_crawl_survives_gc(spark, corpus, tmp_path):
    """analyze_crawl enumerates committed rounds the way gc does —
    after gc retires round 0 the report still covers what remains."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.operators.metrics import analyze_crawl
    from pathik_spark.plans.driver import CrawlRun

    run = CrawlRun(
        spark, corpus["pages"], corpus["robots"], corpus["links"],
        str(tmp_path),
        CrawlConfig(run_id="repgc", n_rounds=4, seen_compact_every=2),
    )
    run.run(corpus["seeds"], n_rounds=4, resume=False)
    deleted = run.store.gc(keep_rounds=1)
    assert deleted, "gc should retire at least one round"
    rep = analyze_crawl(run.store, spark).collect()
    got = [r["round"] for r in rep]
    assert got == run.store.committed_rounds()
    assert 0 not in got and got  # gap-tolerant, non-empty
