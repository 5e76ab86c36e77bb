"""Iceberg round-state arm (north-rule: frontier/seen snapshots, lineage
+ metrics land in Iceberg tables at the 10^10 deployment).

The sandbox has no Iceberg runtime jars, so the strategy mirrors the
Kafka/S3A pattern: conf assembly + backend selection are always tested;
the IcebergSnapshotStore's actual write/commit/resume protocol is
exercised jar-free against Spark's V2 session catalog (DataFrameWriterV2
CTAS + dynamic partition overwrite — the same API surface the Iceberg
catalog serves natively); a live Iceberg round-trip is gated on
`iceberg_available` and skips here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pathik_spark.sources.tables import (
    ICEBERG_CATALOG_IMPL,
    IcebergSnapshotStore,
    SnapshotStore,
    configured_iceberg_catalog,
    iceberg_available,
    iceberg_session_conf,
    make_store,
)


def test_session_conf_assembly():
    conf = iceberg_session_conf("/warehouse/wh", catalog="lake", catalog_type="hadoop")
    assert conf["spark.sql.catalog.lake"] == ICEBERG_CATALOG_IMPL
    assert conf["spark.sql.catalog.lake.type"] == "hadoop"
    assert conf["spark.sql.catalog.lake.warehouse"] == "/warehouse/wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]


class _FakeConf:
    def __init__(self, pairs):
        self._pairs = pairs

    def getAll(self):
        return self._pairs


class _FakeSC:
    def __init__(self, pairs):
        self._conf = _FakeConf(pairs)

    def getConf(self):
        return self._conf


class _FakeSpark:
    def __init__(self, pairs):
        self.sparkContext = _FakeSC(pairs)


def test_configured_catalog_detection():
    assert (
        configured_iceberg_catalog(
            _FakeSpark([("spark.sql.catalog.lake", ICEBERG_CATALOG_IMPL)])
        )
        == "lake"
    )
    # sub-keys (catalog options) and other catalogs are not matches
    assert (
        configured_iceberg_catalog(
            _FakeSpark(
                [
                    ("spark.sql.catalog.lake.type", "hadoop"),
                    ("spark.sql.catalog.other", "com.example.SomeCatalog"),
                ]
            )
        )
        is None
    )


def test_make_store_fallback_and_forcing(spark, tmp_path):
    # sandbox: no iceberg jars -> auto falls back to parquet store
    store = make_store(spark, str(tmp_path), "run-x", backend="auto")
    assert isinstance(store, SnapshotStore)
    assert isinstance(make_store(spark, str(tmp_path), "run-x", backend="parquet"), SnapshotStore)
    with pytest.raises(ValueError, match="state_backend=iceberg"):
        make_store(spark, str(tmp_path), "run-x", backend="iceberg")
    with pytest.raises(ValueError, match="auto|parquet|iceberg"):
        make_store(spark, str(tmp_path), "run-x", backend="delta")


@pytest.fixture()
def v2_store(spark, tmp_path):
    """IcebergSnapshotStore against the V2 session catalog (jar-free)."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    store = IcebergSnapshotStore(
        spark, str(tmp_path), "it-run", catalog="spark_catalog"
    )
    yield store
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    spark.sql(f"DROP NAMESPACE IF EXISTS {store.namespace} CASCADE")


def _mini(spark, tag: str, n: int = 5):
    return spark.range(n).select(
        F.col("id").alias("url_hash"), F.lit(tag).alias("src")
    )


def test_v2_round_protocol(spark, v2_store, tmp_path):
    store = v2_store
    # round 0: two tables via write_table, one staged direct-path parquet
    a0 = store.write_table(0, "artifacts", _mini(spark, "a0"))
    assert a0.count() == 5 and "_round" not in a0.columns
    store.write_table(0, "seen", _mini(spark, "s0", 3))
    import os

    staged = os.path.join(store._round_dir(0), "next_frontier.parquet")
    os.makedirs(store._round_dir(0), exist_ok=True)
    _mini(spark, "nf0", 7).write.mode("overwrite").parquet(staged)

    # not visible before commit
    assert store.read_manifest(0) is None
    assert store.latest_complete_round() is None

    store.commit(0, ["artifacts", "seen", "next_frontier"], stats={"fetched": 5})
    m = store.read_manifest(0)
    assert m is not None and m["stats"] == {"fetched": 5}
    assert store.latest_complete_round() == 0
    # staged parquet was ingested into the catalog at commit
    assert store.read_table(0, "next_frontier").count() == 7
    assert store.has_table(0, "next_frontier")
    assert not store.has_table(0, "seen_compact")

    # round 1 lands in the same tables as a second partition
    store.write_round(1, {"artifacts": _mini(spark, "a1", 4), "seen": _mini(spark, "s1", 2)})
    assert store.latest_complete_round() == 1
    assert store.read_table(1, "artifacts").count() == 4
    assert store.read_table(0, "artifacts").count() == 5  # round 0 intact

    # a FRESH store over the same catalog resumes from the manifest table
    resumed = IcebergSnapshotStore(spark, str(tmp_path), "it-run", catalog="spark_catalog")
    assert resumed.latest_complete_round() == 1
    assert resumed.read_table(0, "seen").count() == 3

    # idempotent partial-round rewrite: re-writing round 1 replaces, not appends
    store.write_table(1, "artifacts", _mini(spark, "a1b", 6))
    store.commit(1, ["artifacts", "seen"], stats={"rewritten": 1})
    assert store.read_table(1, "artifacts").count() == 6
    assert store.read_manifest(1)["stats"] == {"rewritten": 1}
    # exactly one manifest row per round survives the recommit
    rows = spark.table(store._fq("_manifest")).groupBy("round").count().collect()
    assert all(r["count"] == 1 for r in rows)


def test_read_table_on_uncommitted_round_raises(spark, v2_store, tmp_path):
    """Both stores raise (not assert: ``python -O`` strips asserts) when
    resume asks for a round or table that was never committed."""
    parquet_store = SnapshotStore(spark, str(tmp_path / "pq"), "run-x")
    for store in (parquet_store, v2_store):
        store.write_table(0, "artifacts", _mini(spark, "a"))
        with pytest.raises(LookupError, match=r"round 0 is not committed.*'artifacts'"):
            store.read_table(0, "artifacts")
        store.commit(0, ["artifacts"])
        with pytest.raises(LookupError, match=r"'seen' is not in committed round 0"):
            store.read_table(0, "seen")
        assert store.read_table(0, "artifacts").count() == 5


def test_v2_commit_missing_table_raises(spark, v2_store):
    v2_store.write_table(0, "artifacts", _mini(spark, "a"))
    with pytest.raises(FileNotFoundError, match="neither"):
        v2_store.commit(0, ["artifacts", "ghost"])


def test_v2_driver_crawl_round_trip(spark, corpus, tmp_path):
    """Full CrawlRun with round state in the V2 catalog store: same
    stats as the parquet store on the same corpus, and resume sees the
    committed rounds through the catalog manifest."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        cfg = CrawlConfig(run_id="it-crawl", n_rounds=1)
        run = CrawlRun(
            spark,
            corpus["pages"],
            corpus["robots"],
            corpus["links"],
            state_dir=str(tmp_path / "ice"),
            config=cfg,
        )
        run.store = IcebergSnapshotStore(
            spark, str(tmp_path / "ice"), "it-crawl", catalog="spark_catalog"
        )
        stats = run.run(corpus["seeds"])
        assert stats and stats[-1].fetched > 0
        assert run.store.latest_complete_round() == 0

        ref_cfg = CrawlConfig(run_id="it-crawl-ref", n_rounds=1)
        ref = CrawlRun(
            spark,
            corpus["pages"],
            corpus["robots"],
            corpus["links"],
            state_dir=str(tmp_path / "pq"),
            config=ref_cfg,
        )
        ref_stats = ref.run(corpus["seeds"])
        for k in ("scheduled", "fetched", "missing", "deferred", "seen_total"):
            assert getattr(stats[-1], k) == getattr(ref_stats[-1], k), k
        # committed artifacts identical across backends
        a_ice = run.store.read_table(0, "artifacts")
        a_pq = ref.store.read_table(0, "artifacts")
        cols = sorted(set(a_ice.columns) & set(a_pq.columns))
        assert sorted(a_ice.select(*cols).collect()) == sorted(
            a_pq.select(*cols).collect()
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        spark.sql("DROP NAMESPACE IF EXISTS spark_catalog.crawl_it_crawl CASCADE")


@pytest.mark.skipif(
    True, reason="live Iceberg round-trip needs iceberg-spark-runtime jars"
)
def test_live_iceberg_round_trip(spark, tmp_path):  # pragma: no cover
    assert iceberg_available(spark)
    store = make_store(spark, str(tmp_path), "live", backend="iceberg")
    store.write_round(0, {"artifacts": _mini(spark, "a")})
    assert store.latest_complete_round() == 0


def test_v2_round_survives_static_overwrite_mode(spark, tmp_path):
    """Data-loss regression: under the session DEFAULT (static)
    partitionOverwriteMode, INSERT OVERWRITE replaces the whole table —
    the store must pin dynamic mode itself rather than depend on the
    session having been built via iceberg_session_conf, or round 1's
    commit silently destroys round 0."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    store = IcebergSnapshotStore(
        spark, str(tmp_path), "static-run", catalog="spark_catalog"
    )
    try:
        store.write_round(0, {"artifacts": _mini(spark, "a0", 5), "seen": _mini(spark, "s0", 3)})
        store.write_round(1, {"artifacts": _mini(spark, "a1", 4), "seen": _mini(spark, "s1", 2)})
        # round 0 intact after round 1's INSERT OVERWRITE path
        assert store.read_table(0, "artifacts").count() == 5
        assert store.read_table(0, "seen").count() == 3
        assert store.read_manifest(0) is not None
        assert store.latest_complete_round() == 1
        # the store restored the caller's session conf
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        spark.sql(f"DROP NAMESPACE IF EXISTS {store.namespace} CASCADE")
