"""Per-host fetch metrics (A3) + per-partition lineage (B6) — new-build
per north_rule; the reference only prints to stdout
(crawler.go:277,291, storage.go:264).

Both are pure aggregations appended to metrics tables each round:
- host metrics: groupBy(host_hash, host) — counts, bytes, error counts;
- partition lineage: groupBy(spark_partition_id()) recorded on the
  artifacts output, so a row can be traced to (run_id, round,
  partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def host_metrics(artifacts: DataFrame, run_id: str, round_no: int) -> DataFrame:
    return (
        artifacts.groupBy("host_hash", "host")
        .agg(
            F.count("*").alias("n_urls"),
            F.count(F.when(F.col("status") == "fetched", 1)).alias("n_fetched"),
            F.count(F.when(F.col("status") != "fetched", 1)).alias("n_errors"),
            F.coalesce(F.sum("bytes_fetched"), F.lit(0)).alias("bytes_fetched"),
            F.coalesce(F.avg("bytes_fetched"), F.lit(0.0)).alias("avg_bytes"),
            F.max("scheduled_ms").alias("horizon_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("round", F.lit(round_no))
    )


def partition_lineage(artifacts: DataFrame, run_id: str, round_no: int) -> DataFrame:
    return (
        artifacts.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.approx_count_distinct("host_hash").alias("n_host_shards"),
            F.min("url_hash").alias("min_url_hash"),
            F.max("url_hash").alias("max_url_hash"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("round", F.lit(round_no))
    )


def backoff_budgets(
    host_stats: DataFrame,
    prev_budgets: DataFrame | None = None,
    *,
    base_budget: int,
    min_budget: int = 1,
    max_budget: int | None = None,
    increase_step: int = 1,
    err_threshold_bp: int = 2000,
) -> DataFrame:
    """AIMD per-host fetch budgets from observed error rates — the
    server-health feedback loop a polite crawler runs next to robots
    crawl-delay (new-build; the reference's only pressure valve is the
    global 1 rps limiter, crawler.go:26).

    Classic additive-increase / multiplicative-decrease on the per-host
    ``max_per_round`` budget: a host whose error rate (non-``fetched``
    statuses: timeouts, 5xx, 429s) meets ``err_threshold_bp`` basis
    points this round has its budget HALVED (never below
    ``min_budget``); a healthy host creeps back up by
    ``increase_step`` (never above ``max_budget``). All arithmetic is
    integer (basis points, floor halving), so the law is deterministic
    and engine-exact — DuckDB-oracled as ``host_backoff``.

    ``host_stats``: one row per host with ``n_urls``/``n_errors``
    (the ``host_metrics`` shape). ``prev_budgets``: (host,
    max_per_round) from the previous round; hosts absent there start at
    ``base_budget``; hosts present there but absent from this round's
    stats carry their budget unchanged (no new evidence). Both sides
    are host-count-sized — the output broadcasts onto the robots table
    via ``robots.apply_budget_overrides``; the frontier never shuffles.
    """
    stats = host_stats.groupBy("host").agg(
        F.sum("n_urls").alias("n_urls"), F.sum("n_errors").alias("n_errors")
    )
    if prev_budgets is None:
        prev = stats.select("host", F.lit(None).cast("long").alias("_prev"))
    else:
        prev = prev_budgets.select(
            "host", F.col("max_per_round").cast("long").alias("_prev")
        )
    joined = stats.join(prev, "host", "full_outer")
    current = F.coalesce(F.col("_prev"), F.lit(int(base_budget)))
    err_bp = F.floor(F.col("n_errors") * 10000 / F.col("n_urls"))
    decreased = F.greatest(F.lit(int(min_budget)), F.floor(current / 2))
    increased = current + F.lit(int(increase_step))
    if max_budget is not None:
        increased = F.least(F.lit(int(max_budget)), increased)
    nxt = (
        F.when(F.col("n_urls").isNull(), current)  # carried: no evidence
        .when(err_bp >= F.lit(int(err_threshold_bp)), decreased)
        .otherwise(increased)
    )
    return joined.select("host", nxt.cast("long").alias("max_per_round"))


def backoff_delays(
    host_stats: DataFrame,
    prev_delays: DataFrame | None = None,
    *,
    base_delay_ms: int = 0,
    max_delay_ms: int = 60_000,
    err_threshold_bp: int = 2000,
) -> DataFrame:
    """Exponential crawl-delay backoff — the politeness twin of
    ``backoff_budgets``: where the AIMD budget bounds HOW MANY URLs a
    round schedules per host, this bounds HOW FAST they are spaced
    (scheduler desired_ms = rank * crawl_delay_ms).

    Classic doubling with recovery, integer-exact: an unhealthy host
    (error basis points >= threshold) doubles its delay — from
    ``max(prev, base, 1000)`` so the first penalty is a real second,
    never 2*0 — capped at ``max_delay_ms``; a healthy host halves back
    down (floor ``base_delay_ms``). Stats-absent hosts carry unchanged;
    prev-absent hosts start from ``base_delay_ms``. Same host-sized
    shapes as backoff_budgets; the output overlays robots
    ``crawl_delay_ms`` via ``robots.apply_delay_overrides``.
    """
    stats = host_stats.groupBy("host").agg(
        F.sum("n_urls").alias("n_urls"), F.sum("n_errors").alias("n_errors")
    )
    if prev_delays is None:
        prev = stats.select("host", F.lit(None).cast("long").alias("_prev"))
    else:
        prev = prev_delays.select(
            "host", F.col("crawl_delay_ms").cast("long").alias("_prev")
        )
    joined = stats.join(prev, "host", "full_outer")
    current = F.coalesce(F.col("_prev"), F.lit(int(base_delay_ms)))
    err_bp = F.floor(F.col("n_errors") * 10000 / F.col("n_urls"))
    punished = F.least(
        F.lit(int(max_delay_ms)),
        F.greatest(current, F.lit(int(base_delay_ms)), F.lit(1000)) * 2,
    )
    recovered = F.greatest(F.lit(int(base_delay_ms)), F.floor(current / 2))
    nxt = (
        F.when(F.col("n_urls").isNull(), current)
        .when(err_bp >= F.lit(int(err_threshold_bp)), punished)
        .otherwise(recovered)
    )
    return joined.select("host", nxt.cast("long").alias("crawl_delay_ms"))


def backoff_update(
    host_stats: DataFrame,
    prev: tuple[DataFrame | None, DataFrame | None] = (None, None),
    *,
    base_budget: int,
    min_budget: int = 1,
    max_budget: int | None = None,
    increase_step: int = 1,
    err_threshold_bp: int = 2000,
    base_delay_ms: int = 0,
    max_delay_ms: int = 60_000,
) -> tuple[DataFrame, DataFrame]:
    """One per-host backoff state step: this round's ``host_stats`` plus
    the previous (budgets, delays) pair -> the next pair, by
    ``backoff_budgets`` and ``backoff_delays``. ``prev=(None, None)``
    seeds the state from one round of evidence (a resume or restart).
    Both outputs are localCheckpointed eagerly so the cross-round chains'
    plans stay flat (host-count-sized tables)."""
    budgets = backoff_budgets(
        host_stats, prev[0], base_budget=base_budget, min_budget=min_budget,
        max_budget=max_budget, increase_step=increase_step,
        err_threshold_bp=err_threshold_bp,
    ).localCheckpoint()
    delays = backoff_delays(
        host_stats, prev[1], base_delay_ms=base_delay_ms,
        max_delay_ms=max_delay_ms, err_threshold_bp=err_threshold_bp,
    ).localCheckpoint()
    return budgets, delays


def analyze_crawl(store, spark) -> DataFrame:
    """Post-run crawl report over a committed state store: one row per
    round joining the manifest stats (scheduled/fetched/.../seen_total)
    with the per-host error profile from that round's host_metrics
    table (worst-host error share is the backoff/blocklist shortlist
    signal). Driver-side work is one manifest read per round — the
    host aggregation is a Spark job over the committed metrics parquet,
    never the artifacts."""
    rounds = []
    for k in store.committed_rounds():
        man = store.read_manifest(k)
        if man is not None:
            rounds.append((k, man.get("stats", {})))
    if not rounds:
        raise ValueError("analyze_crawl: no committed rounds in store")
    stat_keys = (
        "scheduled", "fetched", "missing", "deferred", "retried",
        "discovered", "seen_total",
    )
    base = spark.createDataFrame(
        [
            tuple([r] + [int(s.get(key, -1)) for key in stat_keys])
            for r, s in rounds
        ],
        ["round"] + list(stat_keys),
    )
    per_host = None
    for r, _ in rounds:
        if not store.has_table(r, "host_metrics"):
            continue
        hm = store.read_table(r, "host_metrics").select(
            F.lit(r).alias("round"), "host", "n_urls", "n_errors"
        )
        per_host = hm if per_host is None else per_host.unionByName(hm)
    if per_host is None:
        return base
    agg = per_host.groupBy("round").agg(
        F.count("*").alias("n_hosts"),
        F.sum("n_errors").alias("total_errors"),
        F.max_by("host", F.col("n_errors")).alias("worst_host"),
        F.max("n_errors").alias("worst_host_errors"),
    )
    return base.join(agg, "round", "left").orderBy("round")
