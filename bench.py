#!/usr/bin/env python
"""Headline benchmark. Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Queries: the flagship crawl round (frontier-scheduling + byte-identical
extraction — the BASELINE.json target metric, reported as urls_per_sec)
over a bench-scale synthetic corpus, plus the heavy relational /
dedup / ANN operators at $SPARK_GRAFT_SF_DIR (default sf0.1).

Corpus generation is deterministic and cached under /tmp keyed by
(n_pages, seed) so repeated runs measure the engine, not the generator.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
N_PAGES = int(os.environ.get("PATHIK_BENCH_PAGES", "20000"))
N_SEEDS = int(os.environ.get("PATHIK_BENCH_SEEDS", "4000"))
PAGE_SCALE = int(os.environ.get("PATHIK_BENCH_PAGE_SCALE", "1"))
CACHE_ROOT = os.environ.get("PATHIK_BENCH_CACHE", "/tmp/pathik_bench_corpus")


def _hw_noise_probe() -> dict[str, float]:
    """~2 s pure-CPU probe of THIS measurement window: single-proc md5
    throughput and the parallel efficiency of cpu_count independent
    copies. The box is a shared VM whose effective core count drifts
    (observed 0.36-0.92 parallel efficiency across windows); recording
    the probe next to the timings lets a reader separate engine changes
    from window noise when comparing BENCH_r{N}.json across rounds."""
    from multiprocessing import Pool

    t0 = time.perf_counter()
    _hw_probe_work(0)
    one = time.perf_counter() - t0
    n = os.cpu_count() or 8
    t0 = time.perf_counter()
    with Pool(n) as p:
        p.map(_hw_probe_work, range(n))
    wall = time.perf_counter() - t0
    return {
        "hw_probe_single_s": round(one, 3),
        "hw_probe_parallel_efficiency": round(one / wall, 3),
    }


def _hw_probe_work(_):
    import hashlib

    h = b"x" * 4096
    for _i in range(20000):
        h = hashlib.md5(h).digest() + h[:4080]


# Quiet-window parallel efficiency observed for this box (BENCH.md);
# the probe gate + normalization are expressed relative to it.
PROBE_REF_EFF = float(os.environ.get("PATHIK_BENCH_PROBE_REF_EFF", "0.92"))
PROBE_GATE = float(os.environ.get("PATHIK_BENCH_PROBE_GATE", "0.8"))
PROBE_MAX_WAIT_S = float(os.environ.get("PATHIK_BENCH_PROBE_MAX_WAIT_S", "90"))
PROBE_RETRY_SLEEP_S = float(os.environ.get("PATHIK_BENCH_PROBE_RETRY_SLEEP_S", "30"))

# Repetitions per timed query, reporting the MIN. The host VM's
# effective parallel capacity swings ~4x WITHIN a single suite run
# (bursty co-tenant load: the r3 investigation measured back-to-back
# identical probes at 0.23 -> 0.65 efficiency seconds apart), so a
# pre-run probe cannot gate it and a single timing can land on a
# burst. Min-of-N is the standard estimator for the engine's
# quiet-window cost; the per-rep spread is recorded in extras as the
# window-noise witness.
REPS = max(1, int(os.environ.get("PATHIK_BENCH_REPS", "2")))
# when the two base reps disagree by >25% a burst hit one of them:
# spend up to this many extra reps chasing a quiet draw
REPS_EXTRA = max(0, int(os.environ.get("PATHIK_BENCH_REPS_EXTRA", "2")))
_REP_SPREADS: list[float] = []


def best_of(fn, reps: int | None = None) -> float:
    """Run fn() REPS times (fn returns elapsed seconds); keep the min.
    If the reps disagree by >25%, a co-tenant burst hit at least one —
    run up to REPS_EXTRA more until two draws agree within 25%.
    ``reps`` overrides the base count for entries long enough that one
    co-tenant burst can cover ALL base draws while leaving them in
    agreement (so the disagreement rule never fires)."""
    times = [fn() for _ in range(reps if reps is not None else REPS)]
    extra = 0
    while (
        len(times) > 1
        and extra < REPS_EXTRA
        and sorted(times)[1] > min(times) * 1.25
    ):
        times.append(fn())
        extra += 1
    lo = min(times)
    if len(times) > 1 and lo > 0:
        _REP_SPREADS.append(max(times) / lo)
    return round(lo, 3)


def gated_probe() -> dict[str, object]:
    """Probe the window; if parallel efficiency reads below
    PROBE_GATE * PROBE_REF_EFF, the host VM is in a degraded window
    (other tenants stealing cores) — defer and re-probe, up to
    PROBE_MAX_WAIT_S total, then proceed with the best window seen.
    BENCH_r02 recorded a 1.1-1.7x across-the-board regression that was
    pure window noise (probe 0.573 vs 0.92 quiet); this gate keeps the
    committed signal comparable across rounds."""
    history: list[float] = []
    best = _hw_noise_probe()
    history.append(best["hw_probe_parallel_efficiency"])
    waited = 0.0
    threshold = PROBE_GATE * PROBE_REF_EFF
    while best["hw_probe_parallel_efficiency"] < threshold and waited < PROBE_MAX_WAIT_S:
        print(
            f"[bench] degraded window: parallel_eff="
            f"{best['hw_probe_parallel_efficiency']} < {threshold:.3f}; "
            f"deferring {PROBE_RETRY_SLEEP_S:.0f}s ({waited:.0f}/{PROBE_MAX_WAIT_S:.0f}s used)",
            file=sys.stderr,
        )
        time.sleep(PROBE_RETRY_SLEEP_S)
        waited += PROBE_RETRY_SLEEP_S
        probe = _hw_noise_probe()
        history.append(probe["hw_probe_parallel_efficiency"])
        if probe["hw_probe_parallel_efficiency"] > best["hw_probe_parallel_efficiency"]:
            best = probe
    out: dict[str, object] = dict(best)
    out["hw_probe_history"] = history
    out["hw_probe_deferred_s"] = round(waited, 1)
    return out


def normalize_timings(
    timings: dict[str, float], probe_eff: float
) -> tuple[dict[str, float], float]:
    """Window-normalized timings: scale raw wall-times by
    (probe_eff / PROBE_REF_EFF), i.e. the time the same run would take
    in a quiet window where the box delivers its full parallel
    capacity. Only ever scales DOWN (a better-than-reference window is
    not inflated), and the raw numbers stay canonical in "queries"."""
    factor = min(1.0, probe_eff / PROBE_REF_EFF)
    norm = {k: round(v * factor, 3) for k, v in timings.items()}
    return norm, factor


def ensure_corpus(spark) -> str:
    out = f"{CACHE_ROOT}/p{N_PAGES}_s{N_SEEDS}_x{PAGE_SCALE}_seed42"
    marker = f"{out}/_COMPLETE"
    if not os.path.exists(marker):
        from pathik_spark.fixtures import write_corpus_spark

        write_corpus_spark(spark, N_PAGES, N_SEEDS, out, page_scale=PAGE_SCALE)
        with open(marker, "w") as f:
            f.write("ok")
    return out


def load_corpus(spark, out: str):
    return {
        name: spark.read.parquet(f"{out}/{name}.parquet")
        for name in ("pages", "seeds", "robots", "links")
    }


def bench_crawl_round(spark, corpus, state_dir: str) -> tuple[float, int]:
    """2-round crawl throughput. Robots budgets are lifted (max_per_round
    = inf, delay kept) so the measurement is engine throughput, not the
    fixture's politeness *policy*; one-time pages preparation happens
    before the clock (amortized across a run's many rounds in prod)."""
    from pyspark.sql import functions as F

    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    robots = corpus["robots"].withColumn("max_per_round", F.lit(1_000_000_000))
    run = CrawlRun(
        spark,
        pages=corpus["pages"],
        robots=robots,
        links=corpus["links"],
        state_dir=state_dir,
        config=CrawlConfig(run_id="bench", n_salts=8),
    )
    run._prepared_pages()  # one-time cost, excluded
    t0 = time.perf_counter()
    stats = run.run(corpus["seeds"], n_rounds=2)
    dt = time.perf_counter() - t0
    n_urls = sum(s.scheduled for s in stats)
    return dt, n_urls


def main() -> None:
    import tempfile

    from pyspark.sql import functions as F

    from pathik_spark.session import get_spark

    import __spark_entry__ as E

    # probe BEFORE the JVM exists: a clean read of the host's current
    # parallel capacity (running it beside a live Spark session reads
    # ~2-3x low from fork + memory pressure); defers while degraded
    extras: dict[str, object] = gated_probe()

    spark = get_spark("pathik_bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    timings: dict[str, float] = {}

    corpus_dir = ensure_corpus(spark)
    corpus = load_corpus(spark, corpus_dir)
    for df in corpus.values():
        df.count()  # warm the scan cache out of the timing

    # warm the Python-worker pool + Arrow UDF path out of the timing
    # (first UDF stage on a fresh JVM pays worker spawn + codegen; a
    # 512-page untimed pass removes ~2.5x of cold-start from trial 1)
    from pathik_spark.functions.extract_udfs import make_extract_udf

    text_udf = make_extract_udf(("text",))
    corpus["pages"].limit(512).select(
        F.length(text_udf(F.col("html"))["text"]).alias("n")
    ).agg(F.sum("n")).collect()

    crawl_runs: list[tuple[float, int]] = []

    def _crawl_once() -> float:
        dt, n = bench_crawl_round(
            spark, corpus, tempfile.mkdtemp(prefix="pathik_bench_")
        )
        crawl_runs.append((dt, n))
        return dt

    # 3 base reps for the headline entry: at ~20-40 s per rep a single
    # multi-minute co-tenant burst can cover two agreeing draws (seen
    # in-round: suite min 41.3 s vs 18.6 s isolated minutes later)
    timings["crawl_pipeline_2rounds"] = best_of(_crawl_once, reps=max(REPS, 3))
    best_dt, n_urls = min(crawl_runs)
    extras["crawl_urls_scheduled"] = n_urls
    extras["crawl_urls_per_sec"] = round(n_urls / best_dt, 2)

    # extraction-only throughput (the X5 kernel at full width)
    pages = corpus["pages"]
    n_pages = pages.count()

    def _extract_once() -> float:
        t0 = time.perf_counter()
        pages.select(F.length(text_udf(F.col("html"))["text"]).alias("n")).agg(
            F.sum("n")
        ).collect()
        return time.perf_counter() - t0

    timings["extract_throughput"] = best_of(_extract_once)
    extras["extract_pages_per_sec"] = round(
        n_pages / timings["extract_throughput"], 2
    )

    # relational / dedup / ANN / text operators at SF_DIR via the entry queries
    qset = E.queries()
    for name in (
        "tpch_q1",
        "join_agg_revenue",
        "url_canonicalize",
        "url_seen_antijoin",
        "url_recrawl_ttl",
        "exact_dedup",
        "ngram_jaccard",
        "minhash_lsh_pairs",
        "dedup_clusters",
        "simhash16",
        "ann_cosine_topk",
        "lang_id",
        "quality_score",
        "repetition_signals",
        "clean_corpus",
        "host_rank",
        "robots_parse",
        "sitemap_urls",
        "warc_headers",
        "pii_scrub",
        "css_select",
        "contamination_report",
        "stratified_sample",
        "chunk_documents",
        "pack_token_stream",
        "trap_signals",
        "line_dedup",
        "anchor_profile",
        "quality_lr_score",
        "bpe_word_counts",
        "perplexity_buckets",
        "dsir_select",
        "bm25_topk",
        "top_ngrams",
        "bigram_lm_score",
    ):

        def _entry_once(name=name) -> float:
            t0 = time.perf_counter()
            qset[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter() - t0

        timings[name] = best_of(_entry_once)

    # exact substring dedup over the FULL documents table (the entry
    # query slices to 300 docs for the DuckDB oracle; the bench measures
    # the whole-corpus shuffle shape: positional grams -> one groupBy ->
    # join-back -> islands merge -> HOF strip)
    from pathik_spark.operators.substring import (
        duplicated_spans,
        strip_duplicated_spans,
    )

    docs_full = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(
        int(CPUS)
    )

    def _substr_once() -> float:
        t0 = time.perf_counter()
        spans = duplicated_spans(docs_full, n=8, min_count=2)
        strip_duplicated_spans(docs_full, spans).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    timings["substring_dedup_full"] = best_of(_substr_once)

    # the composed cleaning pipeline end-to-end (verdict r3 ask #6):
    # soft-404 gate -> C4 heuristics -> CCNet line dedup -> MinHash-LSH
    # + Jaccard-verified near-dup canonicalization -> lang/quality/
    # Gopher gates -> deterministic hash split, over the FULL sf
    # documents table — the number a user of the facade actually pays,
    # not just its stages
    from pathik_spark.api import prepare_training_corpus

    def _corpus_once() -> float:
        t0 = time.perf_counter()
        corpus_df, report = prepare_training_corpus(
            docs_full, min_quality=0.3, line_max_occurrences=1000
        )
        corpus_df.write.format("noop").mode("overwrite").save()
        report.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    timings["prepare_training_corpus"] = best_of(_corpus_once)

    # LSH ANN at a production embedding width (dim=768, tiled from the
    # 64-dim fixture): one matmul per Arrow batch, constant-size plan
    from pathik_spark.operators.ann import lsh_bucketed_topk

    # embeddings.parquet is a single file = a single input split:
    # repartition the RAW rows first (as _urls_base does for orders) so
    # the widening + every matmul batch runs on all cores instead of one
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(int(CPUS))
    wide = emb.select(
        "vec_id", F.flatten(F.array_repeat(F.col("embedding"), 12)).alias("embedding")
    )
    wq = wide.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    def _lsh_once() -> float:
        t0 = time.perf_counter()
        lsh_bucketed_topk(wide, wq, k=10, n_planes=8, dim=768).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    timings["lsh_ann_dim768"] = best_of(_lsh_once)

    # IVF at the same production width: coarse-quantizer training (2
    # distributed Lloyd steps) + nprobe probe + exact re-rank
    from pathik_spark.operators.ann import ivf_topk

    def _ivf_once() -> float:
        t0 = time.perf_counter()
        ivf_topk(
            wide, wq, k=10, n_centroids=16, nprobe=4, dim=768
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    timings["ivf_ann_dim768"] = best_of(_ivf_once)

    # PQ-ADC at the same width: codebook training + byte-code encode +
    # compressed-domain candidate scan + exact re-rank of 50 candidates
    from pathik_spark.operators.pq import pq_adc_topk

    def _pq_once() -> float:
        t0 = time.perf_counter()
        pq_adc_topk(
            wide, wq, k=10, n_subspaces=16, n_codes=256,
            n_candidates=50, dim=768, rerank=True,
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    timings["pq_ann_dim768"] = best_of(_pq_once)

    total = round(sum(timings.values()), 3)
    extras["bench_reps"] = REPS
    if _REP_SPREADS:
        spreads = sorted(_REP_SPREADS)
        extras["rep_spread_median"] = round(spreads[len(spreads) // 2], 3)
        extras["rep_spread_max"] = round(spreads[-1], 3)
    probe_eff = float(extras["hw_probe_parallel_efficiency"])  # type: ignore[arg-type]
    norm, factor = normalize_timings(timings, probe_eff)
    extras["hw_probe_ref_efficiency"] = PROBE_REF_EFF
    extras["window_normalization_factor"] = round(factor, 3)
    extras["queries_normalized"] = norm
    extras["value_normalized"] = round(sum(norm.values()), 3)
    extras["crawl_urls_per_sec_normalized"] = round(
        float(extras["crawl_urls_per_sec"]) / factor, 2  # type: ignore[arg-type]
    )
    print(
        json.dumps(
            {
                "metric": "frontier_scheduling_extraction_and_operator_suite",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "cpus": int(CPUS),
                "extras": extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
