"""The round-based frontier driver loop (SURVEY.md §3.1 Spark lifecycle,
§7-M5): the engine's flagship end-to-end plan.

Per round:

    frontier -> validate/canonicalize/dedup (F1/F2, B1)
             -> robots join + disallow filter (J4/B3)
             -> URL-seen anti-join with bloom pre-filter (J3/B2)
             -> politeness schedule within per-host budgets (B4/W1/W2/W4)
             -> fetch join against pages (J2/S2)
             -> extract text/markdown + derive filenames (X1-X7, F6-F8)
             -> artifacts + metrics + lineage written (A1/A3/B6)
             -> retries (W3) + discovered links (§2.7) -> next frontier
             -> snapshot commit (B5) of the tables and the round stats,
                counted by Observations on those same writes (A1/A4)

Spark has no native iteration, so the loop is driver-side Python; each
round is one declarative DataFrame plan that Catalyst optimizes whole
(SURVEY.md §4.3.3). Checkpoint/resume comes from the SnapshotStore's
atomic per-round manifests. A round is published when run_round returns,
so a killed run loses only the round in flight: it resumes from the last
complete round and recomputes the partial one idempotently.

Scale defaults: frontier repartitioned by host_hash before the
scheduler, AQE skew-join on (session.py), bloom-sharded seen filter.
The reference's global 1 rps token bucket (crawler.go:26) is available
as parity mode (config.global_period_ms) and OFF at scale.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pathik_spark.config import CrawlConfig
from pathik_spark.operators.discover import discover_links
from pathik_spark.operators.fetch import extract_artifacts, fetch_join
from pathik_spark.operators.frontier import prepare_frontier
from pathik_spark.operators.metrics import (
    backoff_update,
    host_metrics,
    partition_lineage,
)
from pathik_spark.operators.robots import attach_robots, filter_disallowed
from pathik_spark.operators.scheduler import schedule_round
from pathik_spark.operators.seen import build_bloom_shards, seen_filter
from pathik_spark.session import codegen_compiles
from pathik_spark.sources.tables import SnapshotStore, make_store

FRONTIER_COLS = ["url", "seq", "priority", "attempt"]
SEEN_COLS = ["url_hash", "host_hash", "url"]


# The fetch+extract coalesce was measured on crawlbench only: 4 task
# slots and rounds of at most 1,024 selected rows over 64 buckets (16 a
# bucket). Denser rounds (scaling_bench's ~60-96k rows over 256 buckets)
# and wider clusters keep one task per bucket until they are measured.
COALESCE_MAX_ROWS_PER_BUCKET = 16
COALESCE_MAX_SLOTS = 4


def python_stage_tasks(n_rows: int, n_buckets: int, slots: int) -> int:
    """Task count for a round's fetch+extract stage. Every Python task
    pays a fixed worker set-up, so a thin round runs 4x the task slots
    (the straggler rule config.pages_buckets follows) instead of one
    task per bucket; any other round, and any round on more slots than
    measured, keeps the bucket layout's count."""
    if slots > COALESCE_MAX_SLOTS or n_rows > COALESCE_MAX_ROWS_PER_BUCKET * n_buckets:
        return n_buckets
    return min(n_buckets, 4 * slots)


@dataclass
class RoundStats:
    round: int
    scheduled: int
    fetched: int
    missing: int
    deferred: int
    retried: int
    discovered: int
    seen_total: int
    extras: dict = field(default_factory=dict)


class CrawlRun:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        links: DataFrame | None,
        state_dir: str,
        config: CrawlConfig | None = None,
        blocklist: DataFrame | None = None,
        host_ranks: DataFrame | None = None,
    ):
        self.spark = spark
        self.pages = pages
        # optional UT1-style host blocklist (host column); applied to
        # every round's frontier via broadcast suffix joins — see
        # operators/blocklist.host_blocklist_filter
        self.blocklist = blocklist
        # optional host-rank prioritization (host, rank — from
        # operators/rank.host_rank or hits_scores): when given, every
        # round's frontier priority is REPLACED by the rank tier
        # (operators/rank.rank_priorities; lower tier = scheduled
        # sooner, unranked hosts last; seed order survives as the seq
        # tie-break). Broadcast-joined — no frontier-sized cost.
        self.host_ranks = host_ranks
        if robots is not None and "robots_txt" in robots.columns:
            # raw robots.txt bodies: parse them into the rules table once
            # (relational parse, operators/robots.parse_robots_txt); the
            # tiny result is cached since every round broadcasts it
            from pathik_spark.operators.robots import parse_robots_txt

            cfg = config or CrawlConfig()
            robots = parse_robots_txt(robots, cfg.user_agent).cache()
        self.robots = robots
        self.links = links
        self.config = (config or CrawlConfig()).validate()
        self.store = make_store(
            spark, state_dir, self.config.run_id, backend=self.config.state_backend
        )
        self._pages_prepared: DataFrame | None = None
        self._links_prepared: DataFrame | None = None
        # adaptive per-host AIMD budgets + exponential delays
        # (config.adaptive_backoff): updated each round from the
        # committed artifacts, overlaid on the robots table next round;
        # reseeded from the last committed host_metrics on resume
        self._backoff_budgets: DataFrame | None = None
        self._backoff_delays: DataFrame | None = None
        # learned DUST rules (config.learn_dust): tiny (host, param)
        # set mined from committed artifacts, applied to later rounds'
        # seeds pre-canonicalization (operators/dust.strip_dust_params).
        # _dust_evidence accumulates per-GROUP verdicts across rounds —
        # {(host, param): {residual_group_hash: still_collapsed}} — and
        # _dust_rules is RECOMPUTED from it each round. Group-level
        # state makes the merge order-independent (a counterexample
        # vetoes whether observed before or after the supporting
        # groups), makes min_groups count DISTINCT groups (a refetched
        # group is one group, not one per round), and keeps a vetoed
        # group vetoed (AND-fold). A one-shot set union would let a
        # false rule strip a content-relevant param for the session.
        self._dust_evidence: dict[tuple[str, str], dict[int, bool]] = {}
        self._dust_rules: set[tuple[str, str]] = set()

    def _table_name(self, suffix: str) -> str:
        import re

        return "pathik_" + re.sub(r"[^A-Za-z0-9_]", "_", self.config.run_id) + "_" + suffix

    def _prepared_pages(self) -> DataFrame:
        """Pages keyed by canonical url_hash, materialized ONCE per run as
        a table BUCKETED by url_hash (the fetch-join key): the canonicalize
        UDF never re-runs over the corpus, and the per-round fetch join
        never re-shuffles the (html-heavy) pages side — only the small
        scheduled frontier shuffles onto the bucketing. This mirrors the
        10^10 deployment, where pages live in an Iceberg table bucketed by
        url_hash."""
        if self._pages_prepared is None:
            from pathik_spark.operators.fetch import pages_by_hash

            name = self._table_name("pages")
            path = os.path.join(self.store.root, "pages_prepared")
            marker = os.path.join(self.store.root, "pages_prepared.done")
            # FIXED bucket count, decoupled from cluster size (the basis of
            # the N vs 4N protocol: physical layout must not change when
            # executors are added). Warn when shuffle parallelism exceeds it
            # — at real scale pages_buckets is sized in the thousands.
            n_buckets = self.config.pages_buckets
            shuffle_p = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            if shuffle_p > n_buckets:
                import warnings

                warnings.warn(
                    f"shuffle partitions ({shuffle_p}) > pages_buckets "
                    f"({n_buckets}); the fetch join's parallelism is capped "
                    f"by the fixed bucket layout", stacklevel=2,
                )
            if not os.path.exists(marker):
                # repartition on the bucket key FIRST so each bucket lands in
                # exactly ONE file: only then does the scan report its sortBy
                # ordering and the per-round fetch join skips re-sorting the
                # html-heavy pages side (a ~full-corpus sort per round
                # otherwise — the dominant hidden cost at bench scale)
                (
                    pages_by_hash(self.pages)
                    .repartition(n_buckets, "url_hash")
                    .write.mode("overwrite")
                    .bucketBy(n_buckets, "url_hash")
                    .sortBy("url_hash")
                    .option("path", path)
                    .saveAsTable(name)
                )
                # the marker records the bucket count the files were
                # PHYSICALLY written with: resume must re-register with
                # this count, not the (possibly retuned) config value —
                # a mismatched declared spec would silently drop rows
                # from the exchange-elided fetch join
                with open(marker, "w") as f:
                    f.write(str(n_buckets))
            elif not self.spark.catalog.tableExists(name):
                # resume in a fresh session: re-register the external table
                # WITH its bucket spec. A plain catalog.createTable drops the
                # bucketing metadata, and every post-resume fetch join would
                # re-shuffle + re-sort the html-heavy pages side — exactly
                # the cost this layout exists to avoid. Spark reads bucket
                # ids back from the _NNNNN file-name suffixes, so DDL over
                # the same LOCATION restores the original layout.
                with open(marker) as f:
                    stored = f.read().strip()
                written_buckets = int(stored) if stored.isdigit() else None
                if written_buckets is None:
                    # pre-round-3 marker ('ok'): the physical count is
                    # unknown — fall back to the safe unbucketed
                    # registration (correct join, extra shuffle)
                    self.spark.catalog.createTable(name, path=path, source="parquet")
                else:
                    if written_buckets != n_buckets:
                        import warnings

                        warnings.warn(
                            f"pages_prepared was written with "
                            f"{written_buckets} buckets; config now says "
                            f"{n_buckets} — re-registering with the "
                            f"written layout", stacklevel=2,
                        )
                    schema = self.spark.read.parquet(path).schema
                    cols = ", ".join(
                        f"`{f.name}` {f.dataType.simpleString()}"
                        for f in schema.fields
                    )
                    self.spark.sql(
                        f"CREATE TABLE {name} ({cols}) USING parquet "
                        f"CLUSTERED BY (url_hash) SORTED BY (url_hash) "
                        f"INTO {written_buckets} BUCKETS "
                        f"LOCATION '{path}'"
                    )
            self._pages_prepared = self.spark.table(name)
        return self._pages_prepared

    def _prepared_links(self) -> DataFrame | None:
        """Links with the canonical src_hash precomputed once per run."""
        if self.links is None:
            return None
        if getattr(self, "_links_prepared", None) is None:
            from pathik_spark.functions import urls as U

            path = os.path.join(self.store.root, "links_prepared.parquet")
            marker = os.path.join(self.store.root, "links_prepared.done")
            links = self.links.withColumn(
                "src_hash", U.url_hash_expr(U.canonical_col(F.col("src_url")))
            )
            if not os.path.exists(marker):
                links.write.mode("overwrite").parquet(path)
                with open(marker, "w") as f:
                    f.write("ok")
            # the plan's schema: no footer-inference job
            self._links_prepared = self.spark.read.schema(links.schema).parquet(path)
        return self._links_prepared

    def _fetch_join(self, scheduled: DataFrame, selected: DataFrame) -> DataFrame:
        """The round's fetch join, sized for the Python stage it feeds.
        The join is exchange-free on the pages side, so a narrow
        coalesce to python_stage_tasks partitions cuts the Python task
        count of a thin round without touching the bucket layout.
        ``selected`` is the persisted frame ``scheduled`` derives from;
        it is counted only when the coalesce can fire at all."""
        fetched = fetch_join(scheduled, self._prepared_pages(), prepared=True)
        n_buckets = self.config.pages_buckets
        slots = self.spark.sparkContext.defaultParallelism
        if python_stage_tasks(0, n_buckets, slots) == n_buckets:
            return fetched
        n_rows = selected.count()
        if self.config.limit_per_round is not None:
            n_rows = min(n_rows, self.config.limit_per_round)
        n_tasks = python_stage_tasks(n_rows, n_buckets, slots)
        return fetched.coalesce(n_tasks) if n_tasks < n_buckets else fetched

    # -- one round ----------------------------------------------------------
    def run_round(
        self,
        round_no: int,
        frontier: DataFrame,
        seen: DataFrame | None,
        seen_size_hint: int = 0,
    ) -> tuple[DataFrame, DataFrame, RoundStats]:
        """One round, published when it returns: every write has finished
        and the round's manifest is committed. ``seen_size_hint`` is the
        row count of ``seen`` (the previous round's seen_total): it picks
        the seen filter, and this round's seen_total adds the rows the
        round consumed to it."""
        cfg = self.config
        spark = self.spark
        import time as _time

        _timers: dict[str, float] = {}
        _t0 = _time.perf_counter()
        compiles_0 = codegen_compiles(spark)

        def _tick(name: str) -> None:
            nonlocal _t0
            now = _time.perf_counter()
            _timers[name] = round(now - _t0, 2)
            _t0 = now

        if self._dust_rules:
            from pathik_spark.operators.dust import strip_dust_params

            rules = spark.createDataFrame(
                [(h, p, 1) for h, p in sorted(self._dust_rules)],
                "host string, param string, is_dust int",
            )
            frontier = strip_dust_params(frontier, rules, host_col=None)
        fr = prepare_frontier(frontier, num_shards=cfg.num_shards)
        if self.blocklist is not None:
            from pathik_spark.operators.blocklist import host_blocklist_filter

            fr = host_blocklist_filter(fr, self.blocklist)
        if self.host_ranks is not None:
            from pathik_spark.operators.rank import rank_priorities

            fr = rank_priorities(fr, self.host_ranks, host_col="host")
        fr = fr.repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")), "host_hash"
        )
        robots_eff = self.robots
        if self._backoff_budgets is not None:
            from pathik_spark.operators.robots import apply_budget_overrides

            robots_eff = apply_budget_overrides(robots_eff, self._backoff_budgets)
        if self._backoff_delays is not None:
            from pathik_spark.operators.robots import apply_delay_overrides

            robots_eff = apply_delay_overrides(robots_eff, self._backoff_delays)
        candidates = filter_disallowed(attach_robots(fr, robots_eff))

        bloom_bc = None
        if seen is not None and seen_size_hint >= cfg.bloom_min_seen:
            # None past prefilter_max_bytes: the exact anti-join runs alone
            shards = build_bloom_shards(seen, max_total_bytes=cfg.prefilter_max_bytes)
            if shards:
                bloom_bc = spark.sparkContext.broadcast(shards)
        # unseen feeds both the budget selection and the deferred anti-join;
        # persist (small url-metadata rows, no html) so the canonicalize UDF
        # + robots + seen chain runs once per round. Unpersisted at commit.
        persisted: list[DataFrame] = []
        unseen = seen_filter(candidates, seen, bloom_bc).persist()
        persisted.append(unseen)

        n_persisted = len(persisted)
        scheduled, deferred = schedule_round(
            unseen,
            n_salts=cfg.n_salts,
            global_period_ms=cfg.global_period_ms,
            global_burst=cfg.global_burst,
            persisted=persisted,
        )
        selected = persisted[n_persisted]
        _tick("schedule_rank")
        if cfg.limit_per_round is not None:
            over = scheduled.filter(F.col("crawl_order") > cfg.limit_per_round)
            deferred = deferred.unionByName(
                over.select(*deferred.columns), allowMissingColumns=False
            )
            scheduled = scheduled.filter(F.col("crawl_order") <= cfg.limit_per_round)

        artifacts_plan = extract_artifacts(
            self._fetch_join(scheduled, selected),
            fetch_cap=cfg.fetch_cap,
            with_markdown=cfg.content_type in ("markdown", "both"),
            with_links=cfg.discover_from_html,
        ).withColumn("bytes_fetched", F.coalesce(F.length("html"), F.lit(0)))

        # ONE pool runs every write of the round as a concurrent Spark job,
        # sized to the seven futures it can receive so none waits for a
        # thread. The deferred slice of next_frontier depends only on the
        # (cached) selected set: submitted first, it overlaps the heavy
        # artifacts job; the retry/discovered slices append after it.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        nf_path = os.path.join(self.store._round_dir(round_no), "next_frontier.parquet")
        os.makedirs(self.store._round_dir(round_no), exist_ok=True)
        # round stats ride the writes as Observations, each read only after
        # its write returned (get blocks on an action that never ran)
        obs_arts, obs_deferred, obs_rest = Observation(), Observation(), Observation()
        deferred_part = deferred.select(*FRONTIER_COLS).withColumn(
            "src", F.lit("deferred")
        ).observe(obs_deferred, F.count(F.lit(1)).alias("n"))
        # leaving the block waits for every write the pool ran: a failed
        # round raises with nothing left running, and a resume rewrites
        # the same round directory
        with ThreadPoolExecutor(max_workers=7) as pool:
            f_deferred = pool.submit(
                lambda: deferred_part.write.mode("overwrite").parquet(nf_path)
            )

            # ONE pass through fetch join + extraction UDFs: write the
            # artifacts snapshot, then every consumer (incl. lineage)
            # scans the columnar file.
            if cfg.honor_meta_robots:
                # REP HTML arm (config docstring): parse the directives
                # while the html column still exists — scan-local, same pass
                from pathik_spark.operators.robots import meta_robots_directives

                artifacts_plan = meta_robots_directives(artifacts_plan)
            arts = self.store.write_table(round_no, "artifacts", artifacts_plan.drop("html"))
            _tick("artifacts_write")
            lineage = partition_lineage(arts, self.config.run_id, round_no)

            def _update_backoff(prev=(self._backoff_budgets, self._backoff_delays)):
                # AIMD budget + exponential delay update for NEXT round's
                # scheduler (config docstring / operators/metrics). One
                # committed-artifacts scan feeds both. Runs INSIDE the
                # pool so the three tiny jobs overlap the heavy writes
                # instead of serializing on the round's critical path.
                host_stats = arts.groupBy("host").agg(
                    F.count("*").alias("n_urls"),
                    F.count(F.when(F.col("status") != "fetched", 1)).alias("n_errors"),
                ).localCheckpoint()
                return self._next_backoff(host_stats, prev)

            # W3 retry semantics (crawler.go:173-224): missing rows re-enter
            # with attempt+1 until max_attempts; exhausted rows become seen.
            retry = arts.filter(
                (F.col("status") == "missing") & (F.col("attempt") + 1 < cfg.max_attempts)
            ).select("url", "seq", "priority", (F.col("attempt") + 1).alias("attempt"))
            # The seen table is an append-only DELTA log: each round commits
            # only the URLs it consumed (fetched or retry-exhausted). Deltas
            # are disjoint by construction — consumed rows passed this
            # round's anti-join and a retried URL is consumed exactly once —
            # so the cumulative set is a plain union of scans: no per-round
            # rewrite of the whole seen set (O(|seen|) per round kills a
            # 10^10 crawl) and no distinct() shuffle, and its size is the
            # previous size plus this round's consumed count. Every
            # seen_compact_every rounds the union is compacted into one
            # table to bound the scan fan-in.
            is_consumed = (F.col("status") == "fetched") | (
                F.col("attempt") + 1 >= cfg.max_attempts
            )
            consumed = arts.observe(
                obs_arts,
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("status") == "fetched", 1)).alias("f"),
                F.count(F.when(is_consumed, 1)).alias("c"),
            ).filter(is_consumed).select("url_hash", "host_hash", "url")

            def _frontier_rest() -> DataFrame:
                """retry ∪ discovered. Built lazily INSIDE the frontier-append
                future: discover's rank needs an eager count job, which then
                overlaps the seen/metrics/lineage writes instead of blocking
                the driver thread."""
                nf = retry.select(*FRONTIER_COLS).withColumn("src", F.lit("retry"))
                # REP nofollow: pages carrying the directive contribute no
                # outlinks to the next frontier (column exists only when
                # cfg.honor_meta_robots wrote it)
                link_src = arts
                if "nofollow" in arts.columns:
                    link_src = arts.filter(F.col("nofollow") == 0)
                # discovered rows take a per-round disjoint seq range: always
                # after every seed/deferred seq (FIFO: discoveries queue
                # behind the original frontier) and unique without a
                # max(seq) job
                seq_base = (round_no + 1) * 1_000_000_000_000
                if cfg.discover_from_html:
                    from pathik_spark.operators.discover import discover_from_outlinks

                    discovered = discover_from_outlinks(
                        link_src, seq_base=seq_base, persisted=persisted
                    )
                elif self.links is not None:
                    discovered = discover_links(
                        self._prepared_links(), link_src.filter(F.col("status") == "fetched"),
                        seq_base=seq_base, prepared=True, persisted=persisted,
                    )
                else:
                    return nf
                return nf.unionByName(
                    discovered.withColumn("attempt", F.lit(0))
                    .select(*FRONTIER_COLS)
                    .withColumn("src", F.lit("discovered"))
                )

            def _append_frontier_rest():
                rest = _frontier_rest().observe(
                    obs_rest,
                    F.count(F.when(F.col("src") == "retry", 1)).alias("retried"),
                    F.count(F.when(F.col("src") == "discovered", 1)).alias("discovered"),
                )
                f_deferred.result()  # deferred slice finished (overlapped with artifacts)
                rest.write.mode("append").parquet(nf_path)
                return self.spark.read.schema(deferred_part.schema).parquet(nf_path)

            # the derived tables all scan the committed artifacts parquet
            # and are mutually independent: their fixed per-job latency
            # overlaps instead of summing. This is the local-mode analogue
            # of a real cluster keeping its executors busy across small
            # stages.
            f_hm = pool.submit(
                self.store.write_table, round_no, "host_metrics",
                host_metrics(arts, self.config.run_id, round_no),
            )
            f_lin = pool.submit(self.store.write_table, round_no, "lineage", lineage)
            f_seen = pool.submit(self.store.write_table, round_no, "seen", consumed)
            f_front = pool.submit(_append_frontier_rest)
            f_backoff = pool.submit(_update_backoff) if cfg.adaptive_backoff else None

            def _update_dust():
                # mine THIS round's artifacts at GROUP granularity (one row
                # per (host, param, residual-group) that actually tested the
                # param, i.e. held >= 2 distinct URLs). Group-level merge
                # makes the cross-round evidence ORDER-INDEPENDENT — a
                # counterexample group vetoes whether it is observed before
                # or after the collapsing groups — and counts DISTINCT
                # groups toward min_groups (a single collapsing group
                # refetched N rounds is still one group, not N). Collected
                # rows are bounded by tested groups (value-varying params
                # with co-residual URL pairs), far below the URL count.
                from pathik_spark.operators.dust import url_param_evidence

                ev = url_param_evidence(
                    arts.filter(F.col("status") == "fetched").select(
                        "host", "url",
                        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias(
                            "content_hash"
                        ),
                    ),
                ).filter(F.col("n_urls") >= 2)
                return [
                    (
                        r["host"], r["param"], r["group_key"],
                        r["n_contents"] == 1,
                    )
                    for r in ev.select(
                        "host", "param",
                        F.xxhash64("residual_key").alias("group_key"),
                        "n_contents",
                    ).collect()
                ]

            f_dust = pool.submit(_update_dust) if cfg.learn_dust else None
            seen_delta = f_seen.result()
            frontier_out = f_front.result()  # after f_deferred, inside it
            arts_n, rest_n = obs_arts.get, obs_rest.get
            deferred_n = obs_deferred.get["n"]
            if f_backoff is not None:
                # next round's scheduler input — must land before run_round
                # returns, but its three tiny jobs just overlapped the writes
                self._backoff_budgets, self._backoff_delays = f_backoff.result()
            if f_dust is not None:
                # merge per-GROUP: once any round shows a group serving two
                # contents for the same param, that group stays a
                # counterexample (AND-fold); rules recompute from distinct
                # groups, so they both form and dissolve as evidence
                # accumulates, in any observation order
                for host, param, group_key, collapsed in f_dust.result():
                    groups = self._dust_evidence.setdefault((host, param), {})
                    groups[group_key] = groups.get(group_key, True) and collapsed
                self._dust_rules = {
                    key
                    for key, groups in self._dust_evidence.items()
                    if len(groups) >= cfg.dust_min_groups
                    and all(groups.values())
                }
            _tick("derived_writes")

            # cumulative seen = union of delta scans; compact periodically
            # so the union fan-in (and resume manifest chain) stays bounded
            seen_out = (
                seen_delta
                if seen is None
                else seen.select(*SEEN_COLS).unionByName(seen_delta.select(*SEEN_COLS))
            )
            compacted = cfg.seen_compact_every and (round_no + 1) % cfg.seen_compact_every == 0
            if compacted:
                seen_out = self._write_seen_compact(round_no, seen_out)
            # host_metrics and lineage ran beside the seen and frontier writes
            f_hm.result()
            f_lin.result()
        stats = RoundStats(
            round=round_no,
            scheduled=arts_n["n"],
            fetched=arts_n["f"],
            missing=arts_n["n"] - arts_n["f"],
            deferred=deferred_n,
            retried=rest_n["retried"],
            discovered=rest_n["discovered"],
            seen_total=seen_size_hint + arts_n["c"],
            extras={"timers": _timers, "codegen_compiles": codegen_compiles(spark) - compiles_0},
        )
        for df in persisted:
            df.unpersist()
        self.store.commit(
            round_no,
            ["artifacts", "host_metrics", "lineage", "seen", "next_frontier"]
            + (["seen_compact"] if compacted else []),
            stats={k: v for k, v in asdict(stats).items() if k not in ("round", "extras")},
        )
        return frontier_out.drop("src"), seen_out, stats

    def _write_seen_compact(self, round_no: int, seen_out: DataFrame) -> DataFrame:
        """Compaction writes ONE table BUCKETED by url_hash with a fixed
        bucket count (same one-file-per-bucket discipline as the prepared
        pages table, operators/seen.py scale-regimes design): the J3
        anti-join then shuffles only the frontier side onto the bucketing
        — the seen set (the 10^10-row side) never re-shuffles. The
        in-session handle keeps bucket metadata (spark.table); a resume in
        a fresh session re-reads the parquet path and loses only the
        bucketing hint, not correctness."""
        n_buckets = self.config.seen_buckets
        name = self._table_name(f"seen_compact_{round_no}")
        rdir = self.store._round_dir(round_no)
        os.makedirs(rdir, exist_ok=True)
        path = os.path.join(rdir, "seen_compact.parquet")
        (
            seen_out.select(*SEEN_COLS)
            .repartition(n_buckets, "url_hash")
            .write.mode("overwrite")
            .bucketBy(n_buckets, "url_hash")
            .sortBy("url_hash")
            .option("path", path)
            .saveAsTable(name)
        )
        return self.spark.table(name)

    def _read_seen_upto(self, last: int) -> DataFrame:
        """Cumulative seen set after round ``last``: the latest compacted
        snapshot (if any) plus every per-round delta after it."""
        base: DataFrame | None = None
        start = 0
        for k in range(last, -1, -1):
            if self.store.has_table(k, "seen_compact"):
                base = self.store.read_table(k, "seen_compact")
                start = k + 1
                break
        for k in range(start, last + 1):
            delta = self.store.read_table(k, "seen").select(*SEEN_COLS)
            base = delta if base is None else base.select(*SEEN_COLS).unionByName(delta)
        if base is None:
            raise LookupError(
                f"run {self.config.run_id!r} has no committed 'seen' table "
                f"up to round {last}"
            )
        return base

    # -- multi-round with resume --------------------------------------------
    def _next_backoff(self, host_stats: DataFrame, prev=(None, None)):
        """(budgets, delays) for the next round (metrics.backoff_update)."""
        c = self.config
        return backoff_update(
            host_stats, prev, base_budget=c.backoff_base_budget,
            min_budget=c.backoff_min_budget, max_budget=c.backoff_max_budget,
            increase_step=c.backoff_step, err_threshold_bp=c.backoff_threshold_bp,
            base_delay_ms=c.backoff_base_delay_ms, max_delay_ms=c.backoff_max_delay_ms,
        )

    def run(self, seeds: DataFrame, n_rounds: int | None = None, resume: bool = True) -> list[RoundStats]:
        n_rounds = n_rounds or self.config.n_rounds
        start = 0
        frontier: DataFrame = seeds.select(
            "url", F.col("seq").cast("long"), F.col("priority").cast("int")
        ).withColumn("attempt", F.lit(0))
        seen: DataFrame | None = None
        seen_hint = 0
        if resume:
            last = self.store.latest_complete_round()
            if last is not None:
                start = last + 1
                frontier = self.store.read_table(last, "next_frontier")
                seen = self._read_seen_upto(last)
                # each round adds its consumed count to the manifest's
                # seen_total; a manifest without one costs one count here
                prev = self.store.read_manifest(last)["stats"]
                seen_hint = int(prev["seen_total"]) if "seen_total" in prev else seen.count()
                if self.config.adaptive_backoff:
                    # one round of evidence, not the in-session AIMD
                    # history (config docstring) — budgets restart from
                    # the last committed round's host_metrics
                    hm = self.store.read_table(last, "host_metrics")
                    self._backoff_budgets, self._backoff_delays = self._next_backoff(
                        hm.select("host", "n_urls", "n_errors")
                    )
        stats = []
        nf_rows: int | None = None  # unknown for the seed/resume frontier
        for k in range(start, n_rounds):
            if nf_rows == 0 or (nf_rows is None and len(frontier.take(1)) == 0):
                break
            frontier, seen, st = self.run_round(k, frontier, seen, seen_size_hint=seen_hint)
            nf_rows = st.deferred + st.retried + st.discovered
            seen_hint = st.seen_total
            stats.append(st)
        return stats
