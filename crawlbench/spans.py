"""Spans around the engine's public layer calls, and the Spark event-log
reader that attributes executor work to them.

A span wraps one call from outside the engine: it sets a Spark job group
in the calling thread (so jobs submitted from ``run_round``'s pool
threads are attributed too), records wall start/end, and restores the
thread's previous group. After the session stops, the event log maps each
job to its group and sums its stages' task metrics per span.
"""

from __future__ import annotations

import collections
import contextlib
import dataclasses
import json
import os
import threading
import time

SPANS = (
    "prepare_pages", "schedule", "bloom_build", "artifacts", "seen_write",
    "host_metrics_write", "lineage_write", "commit", "round",
)
TABLE_SPANS = {
    "artifacts": "artifacts",
    "seen": "seen_write",
    "host_metrics": "host_metrics_write",
    "lineage": "lineage_write",
}
FIELDS = (
    "wall_s", "task_s", "tasks", "stages", "jobs", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "python_init_s", "python_run_s",
    "bytes_to_python", "bytes_from_python",
)
PYTHON_METRICS = {
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
# SQL metric type -> factor to the field's unit (seconds or bytes)
METRIC_TYPE_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0}


@dataclasses.dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log times
    end: float
    extra: dict


class Tracer:
    """Records spans for one traced pass. Instance methods of the
    ``CrawlRun`` and its store are wrapped per instance; the two
    module-level calls of ``plans.driver`` are patched for the duration
    of ``patched()`` only."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def wrap(self, name_of, fn, after=None):
        sc = self.sc

        def traced(*args, **kwargs):
            name = name_of(*args, **kwargs)
            if name is None:
                return fn(*args, **kwargs)
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = sc.getLocalProperty("spark.job.description")
            sc.setJobGroup(name, name)
            start = time.time()
            extra: dict = {}
            try:
                out = fn(*args, **kwargs)
                if after is not None:
                    extra = after(out)
                return out
            finally:
                end = time.time()
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                sc.setLocalProperty("spark.job.description", prev_desc)
                with self._lock:
                    self.spans.append(Span(name, start, end, extra))

        return traced

    def instrument(self, run) -> None:
        """Wrap one CrawlRun (before its pages preparation) and its store."""
        run._prepared_pages = self.wrap(lambda: "prepare_pages", run._prepared_pages)
        run.run_round = self.wrap(lambda *a, **k: "round", run.run_round)
        run.store.write_table = self.wrap(
            lambda round_no, name, df: TABLE_SPANS.get(name), run.store.write_table
        )
        run.store.commit = self.wrap(lambda *a, **k: "commit", run.store.commit)

    @contextlib.contextmanager
    def patched(self):
        from pathik_spark.plans import driver

        orig = driver.schedule_round, driver.build_bloom_shards

        def materialize(out):
            # the scheduler returns lazy plans over persisted frames; count
            # them here so the frontier/robots/seen/schedule work is
            # attributed to this span instead of the artifacts write
            scheduled, _deferred = out
            return {"scheduled_rows": scheduled.count()}

        def shard_bytes(shards):
            return {"shard_bytes": sum(len(bits) for _, _, bits in (shards or {}).values())}

        driver.schedule_round = self.wrap(lambda *a, **k: "schedule", orig[0], materialize)
        driver.build_bloom_shards = self.wrap(
            lambda *a, **k: "bloom_build", orig[1], shard_bytes
        )
        try:
            yield self
        finally:
            driver.schedule_round, driver.build_bloom_shards = orig


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- event log ----------------------------------------------------------------
def event_files(event_dir: str) -> list[str]:
    """Event files in order. Spark 4 writes a rolling directory
    ``eventlog_v2_<app>/events_<n>_<app>``; older layouts write one file."""
    out = []
    for entry in sorted(os.listdir(event_dir)):
        path = os.path.join(event_dir, entry)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            out += [os.path.join(path, f) for f in parts]
        else:
            out.append(path)
    for path in out:
        if path.rsplit(".", 1)[-1] in ("zstd", "lz4", "lzf", "snappy"):
            raise ValueError(f"compressed event log {path}: set spark.eventLog.compress=false")
    return out


@dataclasses.dataclass
class Job:
    job_id: int
    group: str | None
    submit_s: float
    metrics: collections.Counter


def read_jobs(event_dir: str) -> list[Job]:
    """Every job of the application with its stages' summed task metrics.
    A stage counts for the first job that lists it (later jobs skip it).
    Python metrics are the tasks' SQL-metric updates, scaled by the metric
    type the SQL plans declare for their accumulator; a plan may be logged
    after its tasks (cached relations), so types resolve at the end."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    metric_type: dict[int, str] = {}
    stage_metrics: dict[int, collections.Counter] = collections.defaultdict(collections.Counter)
    python_raw: dict[int, collections.Counter] = collections.defaultdict(collections.Counter)

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", []):
            metric_type[m["accumulatorId"]] = m["metricType"]
        for child in node.get("children", []):
            plan_metrics(child)

    for path in event_files(event_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = Job(
                        jid, props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0, collections.Counter(),
                    )
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif "sparkPlanInfo" in ev:
                    plan_metrics(ev["sparkPlanInfo"])
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics")
                    if not tm:
                        continue
                    c = stage_metrics[ev["Stage ID"]]
                    c["tasks"] += 1
                    c["task_s"] += tm["Executor Run Time"] / 1000.0
                    sr = tm.get("Shuffle Read Metrics", {})
                    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    c["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    raw = python_raw[ev["Stage ID"]]
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Name") in PYTHON_METRICS and acc.get("Update") is not None:
                            raw[acc["Name"], acc["ID"]] += float(acc["Update"])
                elif kind == "SparkListenerStageCompleted":
                    stage_metrics[ev["Stage Info"]["Stage ID"]]["stages"] += 1
    for sid, raw in python_raw.items():
        for (name, acc_id), value in raw.items():
            kind = metric_type.get(acc_id)
            if kind not in METRIC_TYPE_SCALE:
                raise ValueError(f"no known metric type for {name!r} (accumulator {acc_id})")
            stage_metrics[sid][PYTHON_METRICS[name]] += value * METRIC_TYPE_SCALE[kind]
    for sid, counter in stage_metrics.items():
        jid = stage_job.get(sid)
        if jid is not None:
            jobs[jid].metrics.update(counter)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def window_task_s(jobs: list[Job], start: float, end: float) -> float:
    """Executor core-seconds of the jobs submitted in [start, end]."""
    return sum(j.metrics["task_s"] for j in jobs if start <= j.submit_s <= end)


def span_metrics(spans: list[Span], jobs: list[Job], windows: list[tuple]) -> dict:
    """Per-span totals over the traced windows (spans and jobs that start
    inside one). Jobs carry their span's group; untagged jobs inside a
    round (pool-thread frontier append, discover) land on ``round``,
    whose ``self_s`` is its wall minus the part its child spans cover."""

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    spans = [s for s in spans if inside(s.start)]
    out = {f"{s}.{f}": 0.0 for s in SPANS for f in FIELDS}
    rounds = [(s.start, s.end) for s in spans if s.name == "round"]
    for s in spans:
        out[f"{s.name}.wall_s"] += s.end - s.start
    for j in jobs:
        if not inside(j.submit_s):
            continue
        name = j.group if j.group in SPANS else None
        if name is None and any(a <= j.submit_s <= b for a, b in rounds):
            name = "round"
        if name is None:
            continue
        out[f"{name}.jobs"] += 1
        for key, value in j.metrics.items():
            out[f"{name}.{key}"] += value
    children = [(s.start, s.end) for s in spans if s.name != "round"]
    out["round.self_s"] = sum(b - a - covered(children, a, b) for a, b in rounds)
    out["bloom_build.shard_bytes"] = sum(
        s.extra.get("shard_bytes", 0) for s in spans if s.name == "bloom_build"
    )
    return out
