"""Driver-side job configuration with eager validation.

Parity with the reference's satya schemas (pathik/schema.py:68-243:
CrawlParams field ranges; main.go:67-87 session-id rule) — in the Spark
engine these are driver-side dataclasses validated before job submit
(SURVEY.md §1.5): num_workers/timeouts become cluster config, and the
data-plane knobs (caps, budgets, shards) feed the operators.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pathik_spark.kernels.extract import FETCH_CAP, SAVE_CAP

SESSION_ID_RE = re.compile(r"^[A-Za-z0-9._-]{1,64}$")  # main.go:67-87
COMPRESSIONS = ("gzip", "snappy", "lz4", "zstd")  # schema.py:210-214


@dataclass
class CrawlConfig:
    run_id: str = "run-0"
    session_id: str | None = None
    content_type: str = "both"  # html | markdown | both (main.go:151-153)
    limit_per_round: int | None = None  # schema.py:101-105 (1..10000)
    max_attempts: int = 3  # crawler.go:33
    fetch_cap: int = FETCH_CAP  # crawler.go:38
    save_cap: int = SAVE_CAP  # storage.go:211-216
    num_shards: int = 4096  # host_hash shards (B1)
    n_salts: int = 0  # scheduler skew salting (B4/H3); 0 = direct window
    global_period_ms: int | None = None  # crawler.go:26 parity mode only
    global_burst: int = 3
    bloom_fpp: float = 0.01
    use_bloom: bool = True
    # which sharded pre-filter backs the URL-seen fast path (north-star
    # "bloom/cuckoo"): blooms are smaller per key; the cuckoo filter
    # supports DELETION, so TTL-expired URLs can be removed from the
    # in-memory shards between rounds instead of rebuilding them
    # (operators/cuckoo.expire_shards)
    seen_prefilter: str = "bloom"  # bloom | cuckoo
    # bloom pre-filter only pays for itself once the seen set is large;
    # below this many seen rows the exact anti-join alone is faster
    bloom_min_seen: int = 100_000
    # hard ceiling on the TOTAL bytes of pre-filter shards the driver
    # may materialize and broadcast. The shard dict is driver-resident
    # and broadcast whole, so it must fit comfortably in driver memory
    # AND under broadcast limits: at fpp 0.01 a bloom costs ~1.2 B/URL
    # (~12 GB at the 10^10-seen design point — far past any sane
    # broadcast), a cuckoo ~2.4-4.8 B/URL. Beyond the cap the driver
    # SKIPS the accelerator and the exact anti-join (always
    # authoritative) carries the round alone — correctness never
    # depends on the pre-filter, so the fall-through only costs speed.
    # 256 MB default ≈ 2.1e8 seen URLs accelerated at fpp 0.01.
    prefilter_max_bytes: int = 256 << 20
    # per-round stats beyond the core artifact counts cost extra jobs;
    # turn off for throughput runs (manifest then records -1 for them)
    collect_stats: bool = True
    # bucket count for the prepared pages table: it sets the LAYOUT,
    # fixed per run and DECOUPLED from cluster size (the layout must not
    # change when executors are added); size it to the corpus: ~128-512
    # MB per bucket AND >= ~4x the task slots so the straggler tail
    # amortizes across waves. Measured on the 300k-page bench corpus at
    # 16 slots: buckets == cores scales 3.4x N->4N, 64 buckets 3.9x, and
    # 256 buckets cut the 16-core wall another ~27% (64 buckets = 4 even
    # waves, so each wave's straggler gates the stage; 256 amortizes the
    # tail to 1/16 of a wave). A 20k-page corpus is too thin for 256,
    # hence the modest default; scaling_bench pins 256 for its corpus
    # and a 10^10 deployment sizes this in the thousands. The Python
    # fetch+extract stage's TASK COUNT follows the round instead: a thin
    # round (at most 16 rows a bucket, on up to 4 task slots: the sizes
    # crawlbench measured) coalesces the bucketed join to 4x the task
    # slots (plans/driver.python_stage_tasks), so it does not pay one
    # Python worker set-up per bucket; denser rounds keep this count.
    pages_buckets: int = 64
    # the seen table is a per-round delta log; every K rounds the union
    # of deltas is rewritten as ONE table bucketed by url_hash so the
    # anti-join's scan fan-in stays bounded and the seen side never
    # re-shuffles (plans/driver._write_seen_compact)
    seen_compact_every: int = 16
    # fixed bucket count for the compacted seen table — like
    # pages_buckets, decoupled from cluster size; thousands at 10^10
    seen_buckets: int = 64
    # True: frontier link discovery comes from hrefs extracted out of the
    # fetched html itself (fused into the extraction UDF — one parse per
    # page). False: discovery joins the external links table (fixture /
    # precomputed link-graph mode).
    discover_from_html: bool = False
    # Durability/throughput knob: by default round k's manifest commit is
    # deferred to overlap round k+1's compute (saves a serial barrier per
    # round) at the cost of a one-round-wide loss window on hard kill —
    # the work is recomputed, never corrupted. Set True to publish each
    # round's manifest before the next round starts (expensive rounds /
    # spot-instance clusters).
    eager_commit: bool = False
    # Error-aware per-host backoff (operators/metrics.backoff_budgets):
    # when on, each round's non-fetched rate per host drives an AIMD
    # update of that host's max_per_round budget for the NEXT round —
    # halved at >= backoff_threshold_bp basis points of errors (floor
    # backoff_min_budget), +backoff_step when healthy (cap
    # backoff_max_budget). Budgets overlay the robots table via a
    # broadcast-sized join (robots.apply_budget_overrides); after a
    # resume they restart from the last committed round's host_metrics
    # (one round of evidence, not the full in-session AIMD history).
    adaptive_backoff: bool = False
    backoff_base_budget: int = 1000
    backoff_min_budget: int = 1
    backoff_max_budget: int | None = None
    backoff_step: int = 1
    backoff_threshold_bp: int = 2000
    # exponential crawl-delay twin (metrics.backoff_delays): unhealthy
    # hosts double their delay (cap backoff_max_delay_ms), healthy ones
    # halve back toward backoff_base_delay_ms; MAX-merged with the
    # robots Crawl-delay (politeness is a floor, never lowered)
    backoff_base_delay_ms: int = 0
    backoff_max_delay_ms: int = 60_000
    # DUST learning (operators/dust.py): mine each committed round's
    # artifacts for content-irrelevant query parameters (url-minus-
    # param groups that served one distinct text hash, >= min_groups
    # demonstrations, one counterexample vetoes) and strip the learned
    # (host, param) rules from every later round's seeds BEFORE
    # canonicalization — so alias variants stop consuming fetch budget.
    # In-session advisory state like the bloom prebuild: a resume
    # restarts with an empty rule set and relearns.
    learn_dust: bool = False
    dust_min_groups: int = 2
    # page-level REP compliance (robots.meta_robots_directives): when
    # on, artifacts carry noindex/nofollow columns (parsed from the
    # html BEFORE it is dropped), link discovery skips nofollow pages'
    # outlinks, and corpus consumers can gate on noindex
    honor_meta_robots: bool = False
    n_rounds: int = 1
    # round-state backend: "auto" picks Iceberg when runtime jars + a
    # configured V2 catalog are in the session (the 10^10 deployment,
    # tables.iceberg_session_conf), else the parquet+manifest store with
    # identical visibility/resume semantics; "iceberg"/"parquet" force.
    state_backend: str = "auto"
    # crawler product token: robots.txt group selection (RFC 9309) when
    # the robots input is raw robots_txt bodies rather than a rules table
    user_agent: str = "pathik"
    kafka_compression: str = "gzip"  # kafka.go:152-165 default
    max_message_bytes: int = 10 * 1024 * 1024  # schema.py:205-243 range
    extra: dict = field(default_factory=dict)

    def validate(self) -> "CrawlConfig":
        if self.session_id is not None and not SESSION_ID_RE.match(self.session_id):
            raise ValueError(f"invalid session_id {self.session_id!r} (main.go:67-87 rule)")
        if self.content_type not in ("html", "markdown", "both"):
            raise ValueError(f"content_type must be html|markdown|both, got {self.content_type}")
        if self.limit_per_round is not None and not (1 <= self.limit_per_round <= 10_000):
            raise ValueError("limit_per_round out of range 1..10000 (schema.py:101-105)")
        if not (1 <= self.max_attempts <= 10):
            raise ValueError("max_attempts out of range")
        if self.kafka_compression not in COMPRESSIONS:
            raise ValueError(f"compression must be one of {COMPRESSIONS} (schema.py:210-214)")
        if not (1024 <= self.max_message_bytes <= 100 * 1024 * 1024):
            raise ValueError("max_message_bytes out of 1KB..100MB range (schema.py:226-232)")
        if self.n_rounds < 1 or self.num_shards < 1:
            raise ValueError("n_rounds and num_shards must be >= 1")
        if self.seen_prefilter not in ("bloom", "cuckoo"):
            raise ValueError(
                f"seen_prefilter must be bloom|cuckoo, got {self.seen_prefilter}"
            )
        if self.state_backend not in ("auto", "parquet", "iceberg"):
            raise ValueError(
                f"state_backend must be auto|parquet|iceberg, got {self.state_backend}"
            )
        if self.adaptive_backoff:
            if self.backoff_min_budget < 1 or self.backoff_base_budget < 1:
                raise ValueError("backoff budgets must be >= 1")
            if not (0 <= self.backoff_threshold_bp <= 10_000):
                raise ValueError("backoff_threshold_bp out of 0..10000 range")
            if (
                self.backoff_max_budget is not None
                and self.backoff_max_budget < self.backoff_min_budget
            ):
                raise ValueError("backoff_max_budget below backoff_min_budget")
            if self.backoff_base_delay_ms < 0 or self.backoff_max_delay_ms < max(
                self.backoff_base_delay_ms, 1000
            ):
                raise ValueError(
                    "backoff delays must satisfy 0 <= base and "
                    "max >= max(base, 1000) (the first-penalty floor)"
                )
        return self
