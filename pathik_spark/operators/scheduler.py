"""Per-host politeness scheduler (B4/W4 — new-build per north_rule;
reference anchors: global token bucket crawler.go:26,168-171, semaphore
crawler.go:35,350-362, sequential loop main.go:167-177).

Deterministic scheduling spec (shared with the oracle in
pathik_spark/oracle.py — SURVEY.md §7-H2):

1. Within each host, candidates rank by ``(priority, seq)`` ascending
   (FIFO under priority); only the first ``max_per_round`` are selected
   this round, the rest defer to the next round.
2. ``desired_ms = rank0 * crawl_delay_ms`` — per-host crawl-delay
   budget, zero-based.
3. Global order key = ``(desired_ms, priority, seq)``.
4. Optional global token bucket (the reference's 1 req/s, burst 3):
   walking candidates in §3 order, ``scheduled_ms = max(desired_ms,
   bucket_ready)``; integer credit arithmetic, initial credits = full
   burst. At 10^10-frontier scale a *global* bucket is meaningless
   (and inherently sequential), so it is OFF by default and exists for
   reference-ordering parity at test scale.
5. Crawl order = ascending ``(scheduled_ms, priority, seq)``.

Physical plan notes (100 TB design):
- The ranking is a built-in sort-based window — whole-stage JVM, spills,
  no Python. Skewed hosts are handled by a salted two-phase top-k:
  phase 1 ranks within ``(host, salt)`` and keeps ≤ max_per_round per
  salt bucket (a superset of the global per-host top-k), so the final
  per-host window sees at most ``n_salts * max_per_round`` rows — the
  hot host can never concentrate the frontier into one task.
- Deferred rows are recovered by an anti-join on url_hash (bloom-
  accelerable like J3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

GLOBAL_PERIOD_MS = 1000  # crawler.go:26 — 1 req/s
GLOBAL_BURST = 3


def _ranked(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    w = Window.partitionBy(*partition_cols).orderBy("priority", "seq")
    return df.withColumn("_rank", F.row_number().over(w))


def select_within_budget(
    candidates: DataFrame, n_salts: int = 0
) -> DataFrame:
    """Steps 1-2: per-host ranking + budget + desired_ms.

    ``n_salts > 0`` enables the two-phase salted top-k (use at scale;
    equivalence with the direct window is property-tested).
    """
    df = candidates
    if n_salts > 0:
        df = df.withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(n_salts)))
        df = (
            _ranked(df, ["host", "_salt"])
            .filter(F.col("_rank") <= F.col("max_per_round"))
            .drop("_rank", "_salt")
        )
    ranked = _ranked(df, ["host"])
    selected = ranked.filter(F.col("_rank") <= F.col("max_per_round"))
    return selected.withColumn(
        "desired_ms", (F.col("_rank") - 1).cast("long") * F.col("crawl_delay_ms")
    ).withColumnRenamed("_rank", "rank_in_host")


def deferred_rows(candidates: DataFrame, selected: DataFrame) -> DataFrame:
    """Rows that lost the budget race; they re-enter the next round."""
    return candidates.join(selected.select("url_hash"), "url_hash", "left_anti")


def apply_global_bucket(
    selected: DataFrame,
    period_ms: int = GLOBAL_PERIOD_MS,
    burst: int = GLOBAL_BURST,
) -> DataFrame:
    """Step 4 (parity mode): sequential token bucket over the globally
    ordered candidate list. Single-group applyInPandas by construction —
    a global 1 rps budget is inherently sequential; never use at scale."""

    fields = selected.schema.fields
    out_schema = T.StructType(fields + [T.StructField("scheduled_ms", T.LongType())])

    def _bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["desired_ms", "priority", "seq"], kind="mergesort")
        credits = burst * period_ms
        last_t = 0
        out = []
        for desired in pdf["desired_ms"].tolist():
            t = int(desired)
            credits = min(burst * period_ms, credits + (t - last_t))
            if credits >= period_ms:
                sched = t
                credits -= period_ms
            else:
                sched = t + (period_ms - credits)
                credits = 0
            last_t = sched
            out.append(sched)
        pdf = pdf.assign(scheduled_ms=out)
        return pdf

    return (
        selected.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(lambda key, pdf: _bucket(pdf.drop(columns=["_g"])), out_schema)
    )


def scalable_global_rank(
    df: DataFrame, order_cols: list[str], out_col: str, persisted: list | None = None
) -> DataFrame:
    """Global row_number over ``order_cols`` WITHOUT a single-partition
    window (which serializes the whole round through one task): range-
    repartition on the order key, rank locally per partition, then add
    per-partition offsets via a broadcast join. Identical result to
    ``row_number().over(Window.orderBy(*order_cols))`` — property-tested.

    The offsets are computed LAZILY — a prefix-sum window over the tiny
    per-partition-count aggregate (one row per shuffle partition) that
    Spark evaluates as the broadcast subjob of whatever action consumes
    the rank. No driver-blocking ``collect()``: the whole rank folds
    into the consuming job instead of adding a fixed per-round job on
    the critical path (the N→4N fixed-cost killer)."""
    spark = df.sparkSession
    ranged = df.repartitionByRange(
        int(spark.conf.get("spark.sql.shuffle.partitions")), *[F.col(c) for c in order_cols]
    ).withColumn("_pid", F.spark_partition_id())
    local = ranged.withColumn(
        "_lrank", F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols))
    )
    local = local.persist()
    if persisted is not None:
        persisted.append(local)
    # exclusive prefix sum over ≤ shuffle.partitions rows — the single-
    # partition window here is over the COUNTS, not the data
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets_df = (
        local.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_offset", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
        .drop("_n")
    )
    out = (
        local.join(F.broadcast(offsets_df), "_pid")
        .withColumn(out_col, (F.col("_offset") + F.col("_lrank")).cast("int"))
        .drop("_pid", "_lrank", "_offset")
    )
    return out


def schedule_round(
    candidates: DataFrame,
    n_salts: int = 0,
    global_period_ms: int | None = None,
    global_burst: int = GLOBAL_BURST,
    scalable_rank: bool = True,
    persisted: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full scheduler: returns (scheduled, deferred).

    ``scheduled`` carries ``rank_in_host``, ``desired_ms``,
    ``scheduled_ms`` and the global ``crawl_order`` rank. The global
    rank uses the two-phase ranged rank by default; the single-window
    path remains for the (inherently sequential) token-bucket parity
    mode and as the equivalence baseline in tests.

    ``selected`` feeds three consumers (global rank, the fetch join,
    and the deferred anti-join) — it is persisted so the canonicalize
    UDF + window chain runs once per round, not three times; pass
    ``persisted`` to collect the cache handles for end-of-round
    unpersist (plans/driver does). ``selected`` is the first handle
    appended; its row count is the scheduled count before any per-round
    limit.
    """
    selected = select_within_budget(candidates, n_salts=n_salts).persist()
    if persisted is not None:
        persisted.append(selected)
    if global_period_ms:
        scheduled = apply_global_bucket(selected, global_period_ms, global_burst)
    else:
        scheduled = selected.withColumn("scheduled_ms", F.col("desired_ms"))
    order_cols = ["scheduled_ms", "priority", "seq"]
    if scalable_rank and not global_period_ms:
        scheduled = scalable_global_rank(scheduled, order_cols, "crawl_order", persisted=persisted)
    else:
        w = Window.orderBy(*order_cols)
        scheduled = scheduled.withColumn("crawl_order", F.row_number().over(w))
    deferred = deferred_rows(candidates, selected)
    return scheduled, deferred
