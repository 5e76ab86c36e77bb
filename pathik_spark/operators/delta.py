"""Crawl snapshot diffing: what changed between two crawls of the web.

Freshness pipelines decide re-crawl budgets from the delta between
snapshot k-1 and snapshot k: which URLs appeared, vanished, changed
content, or stayed identical. ``crawl_delta`` computes the per-URL
verdict; ``delta_stats`` rolls it up per host (the re-crawl scheduler's
input — hosts that churn get shorter TTLs, cf. operators/seen.
recrawl_filter).

Shape at scale: a full outer join keyed by url_hash — the SAME key and
bucket layout as the pages/seen tables (plans/driver._prepared_pages),
so when both snapshots are stored bucketed the join is co-located and
shuffle-free; content equality is a column compare on the already-
stored content hash (no re-extraction, no re-hashing of bodies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGE_ADDED = "added"
CHANGE_REMOVED = "removed"
CHANGE_MODIFIED = "modified"
CHANGE_UNCHANGED = "unchanged"


def crawl_delta(
    prev: DataFrame,
    cur: DataFrame,
    key_col: str = "url",
    hash_col: str = "content_hash",
) -> DataFrame:
    """(url, change, prev_hash, cur_hash): the per-URL snapshot diff.

    change ∈ {added, removed, modified, unchanged}. Inputs need
    (key_col, hash_col); extra columns are ignored. Keys must be unique
    per snapshot (they are: pages tables key by canonical url)."""
    p = prev.select(F.col(key_col).alias("url"), F.col(hash_col).alias("prev_hash"))
    c = cur.select(F.col(key_col).alias("url"), F.col(hash_col).alias("cur_hash"))
    joined = p.join(c, "url", "full_outer")
    change = (
        F.when(F.col("prev_hash").isNull(), F.lit(CHANGE_ADDED))
        .when(F.col("cur_hash").isNull(), F.lit(CHANGE_REMOVED))
        .when(F.col("prev_hash") == F.col("cur_hash"), F.lit(CHANGE_UNCHANGED))
        .otherwise(F.lit(CHANGE_MODIFIED))
    )
    return joined.select("url", change.alias("change"), "prev_hash", "cur_hash")


def delta_stats(delta: DataFrame, host_expr=None) -> DataFrame:
    """Per-host churn rollup: (host, n_added, n_removed, n_modified,
    n_unchanged, churn) where churn = changed / total — the re-crawl
    TTL signal. ``host_expr`` defaults to the engine's domain kernel."""
    if host_expr is None:
        from pathik_spark.functions.urls import hostname_of

        host_expr = hostname_of(F.col("url"))
    counts = {
        c: F.coalesce(
            F.sum(F.when(F.col("change") == c, 1).otherwise(0)), F.lit(0)
        ).cast("long")
        for c in (CHANGE_ADDED, CHANGE_REMOVED, CHANGE_MODIFIED, CHANGE_UNCHANGED)
    }
    agg = delta.groupBy(host_expr.alias("host")).agg(
        *[v.alias(f"n_{k}") for k, v in counts.items()]
    )
    total = (
        F.col("n_added") + F.col("n_removed") + F.col("n_modified") + F.col("n_unchanged")
    )
    changed = F.col("n_added") + F.col("n_removed") + F.col("n_modified")
    return agg.select(
        "*",
        F.round(changed.cast("double") / total.cast("double"), 6).alias("churn"),
    )


def recrawl_ttl_hours(
    stats: DataFrame, min_hours: float = 24.0, max_hours: float = 720.0
) -> DataFrame:
    """(host, ttl_hours): the adaptive re-crawl policy — churny hosts
    get short TTLs, stable hosts long ones, linearly interpolated
    (churn 0 -> max_hours, churn 1 -> min_hours). NULL churn (a host
    with no delta observations) defaults to max_hours: assume stable
    until measured. Output is one row per host — bounded, broadcastable
    into the seen filter at any corpus size."""
    if not (0 < min_hours <= max_hours):
        raise ValueError(f"need 0 < min_hours <= max_hours, got {min_hours}, {max_hours}")
    ttl = F.round(
        F.lit(float(max_hours))
        - (F.lit(float(max_hours)) - F.lit(float(min_hours))) * F.col("churn"),
        6,
    )
    return stats.select(
        "host", F.coalesce(ttl, F.lit(float(max_hours))).alias("ttl_hours")
    )


def recrawl_filter_adaptive(
    frontier: DataFrame,
    seen: DataFrame | None,
    ttls: DataFrame,
    now,
    ts_col: str = "seen_ts",
    url_ttls: DataFrame | None = None,
) -> DataFrame:
    """Per-host freshness-aware URL-seen: a seen record blocks the
    frontier only while YOUNGER than its TTL; staler records expire and
    the URL re-enters. TTL precedence per seen record:

    1. ``url_ttls`` (url, ttl_hours) — per-URL SERVER-DECLARED
       lifetimes (operators/revalidate.cache_ttl_hours: max-age /
       Expires / heuristic). Authoritative when present: the server
       knows its own resource better than our churn inference;
    2. ``ttls`` (host, ttl_hours) — the churn-derived host table from
       recrawl_ttl_hours (the observational fallback);
    3. neither — never expires (conservative: a plain seen filter).

    Scale shape mirrors seen.recrawl_filter: the host TTL table is
    bounded and broadcast onto the seen scan; ``url_ttls`` is per-URL
    (NOT broadcastable at 10^10) and equi-joins the seen side on url —
    both live in the shared url_hash bucket layout when stored, so the
    join co-locates; the frontier side is untouched either way."""
    from pathik_spark.functions.urls import hostname_of
    from pathik_spark.operators.seen import seen_filter

    if seen is None:
        return frontier
    aged = seen.withColumn("_host", hostname_of(F.col("url"))).join(
        F.broadcast(ttls.select(F.col("host").alias("_host"), "ttl_hours")),
        "_host",
        "left",
    )
    if url_ttls is not None:
        aged = aged.join(
            url_ttls.select("url", F.col("ttl_hours").alias("_url_ttl")),
            "url",
            "left",
        ).withColumn(
            "ttl_hours", F.coalesce(F.col("_url_ttl"), F.col("ttl_hours"))
        ).drop("_url_ttl")
    now_s = F.unix_timestamp(F.lit(now).cast("timestamp")).cast("double")
    age_s = now_s - F.unix_timestamp(F.col(ts_col)).cast("double")
    fresh = aged.filter(
        F.col("ttl_hours").isNull() | (age_s <= F.col("ttl_hours") * 3600.0)
    ).select("url_hash")
    return seen_filter(frontier, fresh)
