#!/usr/bin/env python3
"""Crawl benchmark on local[4].

    python3 crawlbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Runs one workload from a single process: start a session, load the
seed's cached inputs (generating them first if needed), crawl one
untimed warm-up round, scan the inputs, then crawl timed passes until
``--seconds`` of crawl time are measured. A pass is a fresh state
directory and ``CrawlRun`` crawling the workload's rounds; one round is
one operation. Every pass's output is checked after its timing
(check.py). The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of a traced pass
between untraced ones (spans.py). The line before it holds the run's
details (samples, CPU probes, problems).
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".crawlbench")
CORES = 4
# the warm-up round runs on a small corpus laid out in this many page
# buckets: the same plans and UDFs as a timed round, at lower cost
WARMUP_BUCKETS = 4
SETUP_SAMPLES = 2

END_TO_END = {
    "urls_per_s": "1/s",
    "round_s_p50": "s",
    "setup_s": "s",
    "task_s": "s",
    "driver_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from spans import FIELDS, SPANS

    def unit(field: str) -> str:
        if field.endswith("_s"):
            return "s"
        return "B" if field.endswith("bytes") or field.endswith("python") else "count"

    units = {f"{s}.{f}": unit(f) for s in SPANS for f in FIELDS}
    units.update({
        "round.self_s": "s",
        "bloom_build.shard_bytes": "B",
        "kernels.extract.pages_per_s": "1/s",
        "kernels.extract.core_s": "s",
        "kernels.extract.core_share": "ratio",
        "work.rounds": "count",
        "work.scheduled": "count",
        "work.fetched": "count",
        "work.deferred": "count",
        "work.discovered": "count",
        "work.fetched_per_scheduled": "ratio",
        "work.scheduled_share": "ratio",
        "trace.task_s": "s",
        "trace.urls_per_s": "1/s",
        "trace.untraced_urls_per_s": "1/s",
        "trace.overhead": "ratio",
    })
    return units


@dataclasses.dataclass
class Pass:
    """One crawl over a fresh state directory with its own CrawlRun.
    Windows are epoch seconds, comparable with event-log times."""

    setup: tuple  # (start, end) of CrawlRun construction + pages preparation
    setup_s: float
    window: tuple  # (start, end) of CrawlRun.run
    run_s: float  # seconds inside CrawlRun.run
    round_s: list  # wall time of each round
    stats: list  # RoundStats
    records: list  # check.round_record per round
    problems: list

    @property
    def urls(self) -> int:
        return sum(st.scheduled for st in self.stats)


def cpu_probe(seconds: float = 1.0) -> float:
    """md5 blocks per second in this process over ~``seconds``: explains
    noise between draws; no metric is ever scaled by it."""
    block, n = b"x" * 4096, 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(1000):
            block = hashlib.md5(block).digest() + block[:4080]
        n += 1000
    return n / (time.perf_counter() - t0)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def prepare_env() -> None:
    if not os.path.isdir(os.path.join(ROOT, "pathik_spark")):
        sys.exit(f"crawlbench: no pathik_spark package in {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    # Python workers import pathik_spark too: they need the checkout on
    # their path before the session (and its worker daemon) starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("cache", "state", "tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None


def start_session(event_dir: str):
    from pathik_spark.session import get_spark

    return get_spark(
        "crawlbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "3g",
            # a fixed young generation keeps peak RSS from following the
            # collector's adaptive sizing; retained (old) memory still shows
            "spark.driver.extraJavaOptions": f"-Xmn512m -Djava.io.tmpdir={WORK}/tmp",
            "spark.sql.warehouse.dir": os.path.join(WORK, "state", "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the event log supplies task_s and the traced per-span metrics;
            # Spark 4 compresses it with zstd by default
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def wait_idle(spark) -> None:
    """Wait for background jobs a pass left running (the bloom prebuild
    for a next round that never comes)."""
    tracker = spark.sparkContext.statusTracker()
    while tracker.getActiveJobsIds():
        time.sleep(0.05)


def new_run(spark, inputs, state_dir: str, config: dict | None = None):
    """The workloads' CrawlRun: n_salts=8, every other field default
    unless ``config`` overrides it."""
    from workloads import RUN_ID

    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    return CrawlRun(
        spark, pages=inputs.tables["pages"], robots=inputs.tables["robots"],
        links=inputs.tables["links"], state_dir=state_dir,
        config=CrawlConfig(run_id=RUN_ID, n_salts=8, **(config or {})),
    )


def crawl_pass(
    spark, inputs, rounds: int, seeded: bool, tracer=None, check: bool = True,
    config: dict | None = None,
) -> Pass:
    """Crawl ``rounds`` rounds; ``seeded`` starts from the workload's
    pre-seeded round-0 state instead of the seed list. ``check`` records
    each round for the output check after the timing; ``config`` adds
    CrawlConfig fields."""
    from check import round_record

    state = tempfile.mkdtemp(prefix="pass_", dir=os.path.join(WORK, "state"))
    try:
        first = inputs.seed_state(spark, state) if seeded else 0
        setup_start, t0 = time.time(), time.perf_counter()
        run = new_run(spark, inputs, state, config)
        if tracer is not None:
            tracer.instrument(run)
        run._prepared_pages()
        setup_s, setup_end = time.perf_counter() - t0, time.time()

        round_s: list[float] = []
        inner = run.run_round

        def timed_round(*args, **kwargs):
            t = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                round_s.append(time.perf_counter() - t)

        run.run_round = timed_round
        problems: list[str] = []
        stats: list = []
        start, t0 = time.time(), time.perf_counter()
        try:
            stats = run.run(inputs.tables["seeds"], n_rounds=first + rounds)
        except Exception as exc:  # a raising round is a failed operation
            traceback.print_exc()
            problems.append(f"run raised {type(exc).__name__}: {exc}")
        run_s, end = time.perf_counter() - t0, time.time()
        wait_idle(spark)
        if len(stats) < rounds and not problems:
            problems.append(f"crawl stopped after {len(stats)} of {rounds} rounds")
        records = [round_record(run.store, st, inputs.golden) for st in stats if check]
        return Pass((setup_start, setup_end), setup_s, (start, end), run_s,
                    round_s, stats, records, problems)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def setup_only(spark, inputs) -> float:
    """One more set-up sample: CrawlRun construction + pages preparation."""
    state = tempfile.mkdtemp(prefix="setup_", dir=os.path.join(WORK, "state"))
    try:
        t0 = time.perf_counter()
        new_run(spark, inputs, state)._prepared_pages()
        return time.perf_counter() - t0
    finally:
        shutil.rmtree(state, ignore_errors=True)


def kernel_rate(inputs, min_s: float = 1.0, sample: int = 200) -> float:
    """Single-process extract_both pages/s over the workload's own pages."""
    import glob

    import pyarrow.parquet as pq

    from pathik_spark.kernels.extract import extract_both

    first = sorted(glob.glob(os.path.join(inputs.corpus_dir, "pages.parquet", "*.parquet")))[0]
    html = pq.read_table(first, columns=["html"]).column("html").to_pylist()[:sample]
    n, t0 = 0, time.perf_counter()
    while n == 0 or time.perf_counter() - t0 < min_s:
        for h in html:
            extract_both(h)
        n += len(html)
    return n / (time.perf_counter() - t0)


def passes_for(seconds: float, one_pass) -> list[Pass]:
    passes = [one_pass()]
    while sum(p.run_s for p in passes) < seconds:
        passes.append(one_pass())
    return passes


def urls_per_s(passes: list[Pass]) -> float:
    return sum(p.urls for p in passes) / sum(p.run_s for p in passes)


def log(msg: str) -> None:
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def run_benchmark(workload, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    from check import Reference
    from spans import Tracer, read_jobs, span_metrics, window_task_s
    from workloads import WARMUP_SEED, Inputs, warmup

    event_dir = tempfile.mkdtemp(prefix="events_", dir=os.path.join(WORK, "state"))
    t0 = time.perf_counter()
    spark = start_session(event_dir)
    session_s = time.perf_counter() - t0
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    try:
        cache = os.path.join(WORK, "cache")
        inputs = Inputs(workload, seed, cache)
        warm_inputs = Inputs(warmup(workload), WARMUP_SEED, cache)
        t0 = time.perf_counter()
        inputs.ensure(spark)
        warm_inputs.ensure(spark)
        generate_s = time.perf_counter() - t0
        inputs.load(spark)
        warm_inputs.load(spark)

        # warm-up: one untimed, unchecked round, so the timed rounds do not
        # pay the JVM's and the Python workers' first-round cost
        warm = crawl_pass(
            spark, warm_inputs, rounds=1, seeded=False, check=False,
            config={"pages_buckets": WARMUP_BUCKETS},
        )
        # the input scan comes after the warm-up, so it reads the same
        # whether or not this run generated its inputs
        t0 = time.perf_counter()
        inputs.warm_scan()
        scan_s = time.perf_counter() - t0
        log(f"session {session_s:.1f}s, inputs {generate_s:.1f}s, "
            f"warm-up round {warm.run_s:.1f}s, scan {scan_s:.1f}s")

        def one_pass(tracer=None) -> Pass:
            p = crawl_pass(spark, inputs, workload.rounds, workload.resume, tracer)
            log(f"pass: setup {p.setup_s:.1f}s, run {p.run_s:.1f}s, "
                f"rounds {[round(r, 2) for r in p.round_s]}")
            return p

        probe_before = cpu_probe()
        timed = passes_for(seconds / 2 if trace else seconds, one_pass)
        traced: list[Pass] = []
        tracer = None
        if trace:
            tracer = Tracer(spark)
            with tracer.patched():
                traced = [one_pass(tracer)]
            # an untraced pass after the traced one brackets it, so warm-up
            # still in progress does not read as tracing overhead
            timed.append(one_pass())
        probe_after = cpu_probe()
        setups = [p.setup_s for p in timed + traced]
        while len(setups) < SETUP_SAMPLES:
            setups.append(setup_only(spark, inputs))
        kernel_pps = kernel_rate(inputs) if trace else None
        rss_mb = peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid)
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        log(f"session stopped in {time.perf_counter() - t0:.1f}s")
    t0 = time.perf_counter()
    jobs = read_jobs(event_dir)
    shutil.rmtree(event_dir, ignore_errors=True)
    log(f"event log read in {time.perf_counter() - t0:.1f}s")

    reference = Reference(os.path.join(inputs.corpus_dir, f"reference_{workload.name}.json"))
    attempted = failed = 0
    problems: list[str] = []
    for p in timed + traced:
        bad = reference.failures(p.records)
        attempted += workload.rounds
        failed += workload.rounds - len(p.records) + len(bad)
        problems += p.problems + bad
    round_s = [r for p in timed for r in p.round_s]
    metrics = {
        "urls_per_s": urls_per_s(timed),
        "round_s_p50": statistics.median(round_s),
        "setup_s": session_s + scan_s + statistics.median(setups),
        "task_s": statistics.median(window_task_s(jobs, *p.window) for p in timed),
        "driver_rss_mb": rss_mb,
    }
    units = dict(END_TO_END)
    if trace:
        p = traced[0]
        layer = span_metrics(tracer.spans, jobs, [p.setup, p.window])
        run_task_s = window_task_s(jobs, *p.window)
        fetched = sum(st.fetched for st in p.stats)
        deferred = sum(st.deferred for st in p.stats)
        layer.update({
            "kernels.extract.pages_per_s": kernel_pps,
            "kernels.extract.core_s": fetched / kernel_pps,
            "kernels.extract.core_share": fetched / kernel_pps / run_task_s,
            "work.rounds": len(p.stats),
            "work.scheduled": p.urls,
            "work.fetched": fetched,
            "work.deferred": deferred,
            "work.discovered": sum(st.discovered for st in p.stats),
            "work.fetched_per_scheduled": fetched / p.urls,
            "work.scheduled_share": p.urls / (p.urls + deferred),
            "trace.task_s": run_task_s,
            "trace.urls_per_s": urls_per_s(traced),
            "trace.untraced_urls_per_s": metrics["urls_per_s"],
            "trace.overhead": 1.0 - urls_per_s(traced) / metrics["urls_per_s"],
        })
        metrics, units = layer, per_layer_units()
    detail = {
        "workload": workload.name,
        "seed": seed,
        "inputs": dataclasses.asdict(workload),
        "cores": CORES,
        "passes": len(timed),
        "round_s_samples": [round(r, 4) for r in round_s],
        "round_s_count": len(round_s),
        "warmup_round_s": round(warm.run_s, 4),
        "setup_samples_s": [round(s, 4) for s in setups],
        "session_start_s": round(session_s, 4),
        "scan_warmup_s": round(scan_s, 4),
        "input_generation_s": round(generate_s, 4),
        "urls_scheduled_per_pass": [p.urls for p in timed],
        "cpu_probe_md5_per_s": {"before": round(probe_before), "after": round(probe_after)},
        "problems": problems,
    }
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long run of the same shape (self-tests)")
    args = ap.parse_args(argv)
    prepare_env()
    workload = WORKLOADS[args.workload]
    if args.size == "tiny":
        workload = workload.tiny()
    detail, result = run_benchmark(workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
