"""Continuous-crawl facade: the batch round loop's semantics re-expressed
as ONE Structured Streaming pipeline (SURVEY.md streaming surface; the
operational shape when discovered URLs arrive continuously instead of
in rounds).

    frontier parquet dir (appended by discoverers)          [file source]
      -> validate (F1) + canonicalize + hash   [pure expressions, B1]
      -> robots stream-static broadcast join + disallow filter [J4/B3]
      -> URL-seen dedup: dropDuplicates(url_hash)     [state store, J3]
      -> per-host lifetime budget: applyInPandasWithState      [B4/W2]
      -> foreachBatch: fetch join vs the static pages table +
         byte-identical extraction -> append artifacts        [J2/X5]

Scale notes: everything before foreachBatch is stateless expression or
state-store-backed (the seen state is keyed by the 8-byte url_hash —
the streaming twin of the batch URL-seen anti-join; with a
watermark the dedup uses dropDuplicatesWithinWatermark so seen keys are
EVICTED past the delay — bounded state; without one it is exact
lifetime dedup with state growing in distinct URLs). The micro-batch
body reuses the SAME batch operators (fetch_join, extract_artifacts),
so streaming and batch crawl artifacts are byte-identical for the same
admitted URLs — asserted in tests/test_crawl_stream.py. Idempotent
replay: foreachBatch is at-least-once, so artifacts are written via
dynamic overwrite of the batch_id partition — a re-run batch replaces
its own partition; re-running with the same checkpoint fetches nothing
twice (the resume test).

Reference parity: the reference's long-running crawler daemon
(crawler.go loop) maps to this always-on stream; its per-host limiter
maps to the stateful budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pathik_spark import functions as _  # noqa: F401  (package import order)
from pathik_spark.functions import urls as U
from pathik_spark.operators.fetch import extract_artifacts, fetch_join, pages_by_hash
from pathik_spark.operators.robots import filter_disallowed
from pathik_spark.streaming.stateful import stateful_host_budget

FRONTIER_STREAM_SCHEMA = (
    "url string, seq long, priority int, event_ts timestamp"
)


def prepare_frontier_stream(
    stream: DataFrame,
    num_shards: int = 4096,
    watermark: str | None = None,
) -> DataFrame:
    """The streaming twin of operators/frontier.prepare_frontier minus
    the groupBy (first-occurrence collapse becomes the state-store
    dropDuplicates): validate cheap-first, canonicalize, hash, dedup."""
    out = (
        stream.filter(U.is_valid_url_expr(F.col("url")))
        .withColumn("url_raw", F.col("url"))
        .withColumn("url", U.canonical_col(F.col("url")))
        .filter(F.col("url").isNotNull())
        .withColumn("host", U.hostname_of(F.col("url")))
        .withColumn("url_hash", U.url_hash_expr(F.col("url")))
        .withColumn("host_hash", U.host_hash_expr(F.col("host"), num_shards))
    )
    if watermark is not None:
        # dropDuplicatesWithinWatermark, NOT dropDuplicates: plain
        # dropDuplicates only evicts state when the event-time column is
        # part of the dedup subset, so keying on url_hash alone would grow
        # the state store by one entry per distinct URL forever. The
        # within-watermark variant evicts keys past the delay — the
        # streaming twin of the batch TTL re-crawl window (seen.py).
        return out.withWatermark("event_ts", watermark).dropDuplicatesWithinWatermark(
            ["url_hash"]
        )
    # no watermark: exact lifetime dedup, state grows with distinct URLs
    return out.dropDuplicates(["url_hash"])


def artifact_batch_writer(prepared_pages: DataFrame, out_dir: str, content_type: str):
    """The foreachBatch body: fetch join + extraction, landed as ONE
    batch_id partition. foreachBatch is at-least-once — a batch whose
    files landed but whose checkpoint commit did not is re-run with the
    same batch_id — so the write is a dynamic overwrite of that
    partition: the replay replaces the orphaned attempt's files instead
    of appending duplicates (idempotent; asserted in
    tests/test_crawl_stream.py)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        arts = extract_artifacts(
            fetch_join(batch_df, prepared_pages, prepared=True),
            with_markdown=content_type in ("markdown", "both"),
        ).withColumn("batch_id", F.lit(batch_id))
        (
            arts.drop("html")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return process_batch


def make_adaptive_batch_processor(
    spark: SparkSession,
    prepared_pages: DataFrame,
    out_dir: str,
    content_type: str,
    pending_dir: str,
    robots: DataFrame | None = None,
    *,
    base_budget: int = 1000,
    min_budget: int = 1,
    max_budget: int | None = None,
    step: int = 1,
    threshold_bp: int = 2000,
    base_delay_ms: int = 0,
    max_delay_ms: int = 60_000,
    recrawl_ttls: DataFrame | None = None,
    seen_dir: str | None = None,
    cache_meta_dir: str | None = None,
    revalidate_304: bool = False,
):
    """foreachBatch body with the batch driver's ADAPTIVE machinery
    folded in (streaming parity for CrawlConfig.adaptive_backoff and
    the TTL-gated recrawl):

    - **AIMD budget gate**: each micro-batch is one "round". Per-host
      cap = COALESCE(AIMD override, robots max_per_round, ∞) — exactly
      ``robots.apply_budget_overrides`` + the scheduler's rank cap.
      Over-cap rows land in ``pending_dir`` and re-enter the NEXT
      micro-batch (the streaming analogue of batch deferral); after the
      batch's artifacts land, ``metrics.backoff_budgets`` /
      ``backoff_delays`` update the per-host state from the SAME
      integer AIMD/exponential laws the batch loop uses.
    - **Adaptive recrawl TTL** (when ``recrawl_ttls``+``seen_dir``
      given): a sink-side seen delta log (url_hash, url, seen_ts) is
      appended per batch and ``delta.recrawl_filter_adaptive`` gates
      re-entries against it — per-host refinement on top of the state-
      store dedup (whose watermark should be the TTL FLOOR: the global
      watermark evicts at min TTL, this filter holds longer-TTL hosts
      until their age clears).
    - **Server-declared cache TTLs** (when ``cache_meta_dir`` also
      given): each batch's landed payloads are parsed with the
      UNCHANGED batch operators (``revalidate.http_cache_meta`` →
      ``cache_ttl_hours``) and merged into a latest-per-url (url,
      ttl_hours, batch_id) SNAPSHOT (read-merge-overwrite with a
      localCheckpoint barrier — replay-idempotent under foreachBatch's
      at-least-once contract, and admission reads O(live urls), not
      O(stream history)); the NEXT batch's admission passes it as
      ``url_ttls`` to ``recrawl_filter_adaptive``, so a server's own
      max-age/Expires overrides the churn-inferred host TTL —
      RFC 9111 §4.3.4 included for free: a 304's own headers re-enter
      the merge and refresh the stored TTL. At scale the snapshot is
      the committed cache-meta table in the shared url_hash bucket
      layout (the join co-locates).
    - **304 revalidation** (``revalidate_304=True``): fetched payloads
      whose wire status parses to 304 are marked
      ``status='revalidated'`` BEFORE extraction — extract_artifacts
      keys extraction off status=='fetched', so re-extraction is
      skipped by construction and downstream emits a WARC revisit
      record instead of a resource record, exactly the batch
      ``apply_not_modified`` marking semantics (the body merge itself
      stays with the payload store, as in batch).

    State shapes are host-count-sized DataFrames (localCheckpointed per
    batch) plus two small parquet dirs — restart-safe to the same
    one-batch-recompute window the batch driver's deferred commit has.
    Returns (process_batch, state); ``state['budgets']``/``['delays']``
    hold the live AIMD tables, ``state['admitted']`` the per-batch
    admitted (host, url) counts for observability.
    """
    import os as _os

    from pyspark.sql import Window

    from pathik_spark.operators.delta import recrawl_filter_adaptive
    from pathik_spark.operators.metrics import backoff_update

    caps_static = None
    if robots is not None and "max_per_round" in robots.columns:
        caps_static = (
            robots.select(
                "host", F.col("max_per_round").cast("long").alias("_robots_cap")
            ).localCheckpoint()
        )

    state: dict = {"budgets": None, "delays": None, "admitted": []}
    aimd = dict(
        base_budget=base_budget, min_budget=min_budget, max_budget=max_budget,
        increase_step=step, err_threshold_bp=threshold_bp,
        base_delay_ms=base_delay_ms, max_delay_ms=max_delay_ms,
    )
    # restart semantics mirror the batch driver (config.py
    # adaptive_backoff docstring): a fresh processor over an out_dir
    # with committed batches re-seeds the AIMD state from the LAST
    # batch's host stats — one batch of evidence, not the replayed
    # in-session history
    if _os.path.isdir(out_dir) and any(
        e.startswith("batch_id=") for e in _os.listdir(out_dir)
    ):
        prior = spark.read.parquet(out_dir)
        last = prior.agg(F.max("batch_id")).collect()[0][0]
        stats0 = prior.filter(F.col("batch_id") == last).groupBy("host").agg(
            F.count("*").alias("n_urls"),
            F.count(
                F.when(~F.col("status").isin("fetched", "revalidated"), 1)
            ).alias("n_errors"),
        ).localCheckpoint()
        state["budgets"], state["delays"] = backoff_update(stats0, **aimd)
    pend_path = _os.path.join(pending_dir, "pending.parquet")
    seen_path = _os.path.join(seen_dir, "seen.parquet") if seen_dir else None
    cache_meta_path = (
        _os.path.join(cache_meta_dir, "cache_meta.parquet")
        if cache_meta_dir
        else None
    )
    carry_cols = [
        "url", "url_raw", "host", "url_hash", "host_hash",
        "seq", "priority", "event_ts",
    ]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select(*carry_cols)
        # 1. deferred rows from the previous batch re-enter this round
        #    (materialized before the gate overwrites their file)
        if _os.path.exists(pend_path):
            b = b.unionByName(
                spark.read.parquet(pend_path).select(*carry_cols).localCheckpoint()
            )
        # 2. per-host TTL recrawl gate over the sink-side seen log
        if recrawl_ttls is not None and seen_path and _os.path.exists(seen_path):
            now_ts = b.agg(F.max("event_ts")).collect()[0][0]
            if now_ts is not None:
                seen = spark.read.parquet(seen_path)
                url_ttls = None
                if cache_meta_path and _os.path.exists(cache_meta_path):
                    # the snapshot is already latest-per-url (see the
                    # merge below), so admission reads O(live urls)
                    url_ttls = spark.read.parquet(cache_meta_path).select(
                        "url", "ttl_hours"
                    )
                b = recrawl_filter_adaptive(
                    b, seen, recrawl_ttls, now_ts, ts_col="seen_ts",
                    url_ttls=url_ttls,
                )
        # 3. AIMD budget gate: rank within host by (priority, seq) —
        #    the scheduler's FIFO law — and admit up to the host cap
        caps = b
        if state["budgets"] is not None:
            caps = caps.join(
                F.broadcast(
                    state["budgets"].select(
                        "host", F.col("max_per_round").alias("_aimd_cap")
                    )
                ),
                "host", "left",
            )
        else:
            caps = caps.withColumn("_aimd_cap", F.lit(None).cast("long"))
        if caps_static is not None:
            caps = caps.join(F.broadcast(caps_static), "host", "left")
        else:
            caps = caps.withColumn("_robots_cap", F.lit(None).cast("long"))
        cap = F.coalesce(F.col("_aimd_cap"), F.col("_robots_cap"), F.lit(1 << 60))
        w = Window.partitionBy("host").orderBy("priority", "seq")
        gated = (
            caps.withColumn("_rank", F.row_number().over(w))
            .withColumn("_cap", cap)
            .persist()
        )
        admitted = gated.filter(F.col("_rank") <= F.col("_cap")).select(*carry_cols)
        overflow = gated.filter(F.col("_rank") > F.col("_cap")).select(*carry_cols)
        overflow.write.mode("overwrite").parquet(pend_path)
        # 4. fetch + extract; idempotent dynamic overwrite per batch_id
        fetched = fetch_join(admitted, prepared_pages, prepared=True)
        if revalidate_304:
            from pathik_spark.operators.revalidate import (
                STATUS_REVALIDATED,
                http_cache_meta,
            )

            sc = http_cache_meta(
                fetched.filter(F.col("status") == "fetched").select(
                    "url", "html"
                )
            ).select("url", "status_code")
            fetched = (
                fetched.join(sc, "url", "left")
                .withColumn(
                    "status",
                    F.when(
                        (F.col("status") == "fetched")
                        & (F.col("status_code") == 304),
                        F.lit(STATUS_REVALIDATED),
                    ).otherwise(F.col("status")),
                )
                .drop("status_code")
            )
        arts = extract_artifacts(
            fetched,
            with_markdown=content_type in ("markdown", "both"),
        ).withColumn("batch_id", F.lit(batch_id))
        ttls_b = None
        if cache_meta_path:
            from pathik_spark.operators.revalidate import (
                cache_ttl_hours,
                http_cache_meta,
            )

            # declared TTLs for THIS batch, materialized eagerly (the
            # payload column is dropped before the artifacts land, and
            # the snapshot overwrite below must not race any plan that
            # still scans the old file)
            ttls_b = cache_ttl_hours(
                http_cache_meta(
                    arts.filter(
                        F.col("status").isin("fetched", "revalidated")
                    ).select("url", "warc_ts", "html")
                )
            ).withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).localCheckpoint()
        (
            arts.drop("html")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        # 5. AIMD state update from the landed artifacts (reads the
        #    committed parquet — extraction never re-runs)
        landed = spark.read.parquet(out_dir).filter(F.col("batch_id") == batch_id)
        host_stats = landed.groupBy("host").agg(
            F.count("*").alias("n_urls"),
            F.count(
                F.when(~F.col("status").isin("fetched", "revalidated"), 1)
            ).alias("n_errors"),
        ).localCheckpoint()
        state["budgets"], state["delays"] = backoff_update(
            host_stats, (state["budgets"], state["delays"]), **aimd
        )
        state["admitted"].append(
            {
                r["host"]: r["n"]
                for r in admitted.groupBy("host").agg(F.count("*").alias("n")).collect()
            }
        )
        # 6. seen delta for the TTL arm: admitted rows are consumed
        #    (streaming has no retry re-entry — missing is terminal)
        if seen_path:
            admitted.select(
                "url_hash", "url", F.col("event_ts").alias("seen_ts")
            ).write.mode("append").parquet(seen_path)
        if ttls_b is not None and not ttls_b.isEmpty():
            # (a batch that landed no payloads leaves the snapshot as it
            # is: no O(live urls) read + rewrite for an idle batch)
            # Maintain a latest-per-url SNAPSHOT, not an append log:
            # (a) per-batch admission cost stays O(live urls) instead
            # of O(stream history); (b) read-merge-overwrite is
            # replay-idempotent under foreachBatch's at-least-once
            # contract — a replayed batch merges the same (url,
            # batch_id) rows into the identical snapshot (an append
            # log grew duplicates on every replay). Written LAST, when
            # no remaining action can re-scan the old file (admission
            # lineage, pend/seen writes and AIMD stats are all done;
            # ttls_b and the merge are localCheckpoint-materialized
            # before the overwrite destroys their input).
            if _os.path.exists(cache_meta_path):
                prev = spark.read.parquet(cache_meta_path)
                merged = prev.unionByName(ttls_b)
            else:
                merged = ttls_b
            wcm = Window.partitionBy("url").orderBy(F.desc("batch_id"))
            snapshot = (
                merged.withColumn("_rn", F.row_number().over(wcm))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
                .localCheckpoint()
            )
            snapshot.write.mode("overwrite").parquet(cache_meta_path)
        gated.unpersist()

    return process_batch, state


def streaming_crawl(
    spark: SparkSession,
    frontier_dir: str,
    pages: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    robots: DataFrame | None = None,
    max_per_host: int = 10,
    num_shards: int = 4096,
    watermark: str | None = None,
    content_type: str = "both",
    available_now: bool = True,
    adaptive: dict | None = None,
    max_files_per_trigger: int | None = None,
):
    """Start (and by default drain) the continuous crawl. Returns the
    StreamingQuery; with ``available_now`` the call blocks until the
    current frontier backlog is fully processed — the batch-equivalent
    semantics the tests assert against.

    ``pages`` is the static corpus side (stream-static join happens
    inside foreachBatch against the pre-projected pages_by_hash shape,
    computed once here, not per batch).

    ``adaptive``: opt into the batch driver's adaptive machinery
    (AIMD budgets/delays + optional TTL recrawl) per micro-batch —
    a dict of make_adaptive_batch_processor keyword args; it MUST
    contain ``pending_dir``. On return, ``adaptive['state']`` holds
    the live AIMD tables + per-batch admitted counts. In this mode the
    static lifetime ``max_per_host`` gate is BYPASSED (the batch loop
    it mirrors has no lifetime cap; budgets are per-round), and robots
    ``max_per_round`` caps apply inside the gate instead."""
    reader = spark.readStream.schema(FRONTIER_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(frontier_dir)
    prepped = prepare_frontier_stream(stream, num_shards, watermark)
    if robots is not None:
        has_allow = "allow_prefixes" in robots.columns
        rules = robots.select(
            "host",
            "disallow_prefixes",
            *(["allow_prefixes"] if has_allow else []),
        )
        joined = prepped.join(F.broadcast(rules), "host", "left").withColumn(
            "disallow_prefixes",
            F.coalesce(F.col("disallow_prefixes"), F.array().cast("array<string>")),
        )
        if has_allow:
            joined = joined.withColumn(
                "allow_prefixes",
                F.coalesce(F.col("allow_prefixes"), F.array().cast("array<string>")),
            )
        prepped = filter_disallowed(joined)
    prepared_pages = pages_by_hash(pages)
    if adaptive is not None:
        kwargs = dict(adaptive)
        kwargs.pop("state", None)
        pending_dir = kwargs.pop("pending_dir")
        admitted = prepped
        process_batch, state = make_adaptive_batch_processor(
            spark, prepared_pages, out_dir, content_type, pending_dir,
            robots=robots, **kwargs,
        )
        adaptive["state"] = state
    else:
        admitted = stateful_host_budget(prepped, max_per_host=max_per_host)
        process_batch = artifact_batch_writer(prepared_pages, out_dir, content_type)

    writer = (
        admitted.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
