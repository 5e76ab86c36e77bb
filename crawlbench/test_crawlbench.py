"""Self-tests of the crawl benchmark (not part of the engine's suite).

    python3 -m pytest crawlbench/test_crawlbench.py -q

The tiny runs exercise the whole command (session, inputs, warm-up,
timed and traced passes, output check, metric printing) in about a
minute each; the check tests tamper with an artifact and a round record.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
from check import Reference, text_mismatches  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tiny(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_printed_metrics():
    spec = _spec()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.per_layer_units()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_prints_end_to_end_metrics(workload):
    result = _tiny(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == bench.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_tiny_traced_run_prints_every_span():
    result = _tiny("crawl_resume_seen", trace=1)
    assert result["correct"] is True
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(metrics) == set(bench.per_layer_units())
    for span in ("prepare_pages", "schedule", "bloom_build", "artifacts", "seen_write",
                 "host_metrics_write", "lineage_write", "commit", "round"):
        assert metrics[f"{span}.wall_s"] > 0, span
    assert metrics["bloom_build.shard_bytes"] > 0
    assert metrics["artifacts.python_run_s"] > 0


def test_missing_engine_exits_nonzero(tmp_path):
    os.makedirs(tmp_path / "crawlbench")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name)) as src:
                (tmp_path / "crawlbench" / name).write_text(src.read())
    out = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", "crawl_polite",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = SparkSession.builder.master("local[1]").appName("crawlbench-test").getOrCreate()
    yield session
    session.stop()


def test_tampered_artifact_fails_the_check(spark):
    golden = spark.createDataFrame([(1, "alpha"), (2, "beta")], "url_hash long, text string")
    good = spark.createDataFrame(
        [(1, "alpha", "fetched"), (2, "beta", "fetched"), (3, None, "missing")],
        "url_hash long, text string, status string",
    )
    tampered = spark.createDataFrame(
        [(1, "alpha", "fetched"), (2, "beta ", "fetched")],
        "url_hash long, text string, status string",
    )
    assert text_mismatches(good, golden) == 0
    assert text_mismatches(tampered, golden) == 1


def test_round_record_mismatch_fails(tmp_path):
    ref = Reference(str(tmp_path / "ref.json"))
    rec = {"round": 0, "scheduled": 10, "fetched": 9, "seen_digest": [9, 5, 7],
           "text_mismatches": 0}
    assert ref.failures([rec]) == []  # first pass becomes the reference
    again = Reference(str(tmp_path / "ref.json"))
    assert again.failures([dict(rec)]) == []
    assert len(again.failures([dict(rec, seen_digest=[9, 5, 8])])) == 1
    assert len(again.failures([dict(rec, text_mismatches=1)])) == 1
