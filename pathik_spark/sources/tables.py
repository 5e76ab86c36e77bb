"""Snapshot/table layer: versioned round state with atomic manifests
(B5 checkpoint/resume — new-build; the reference is a stateless binary).

Design (SURVEY.md §7-H4): Iceberg snapshots when the runtime jars are
present; otherwise parquet directories + an atomic ``manifest.json``
per round with identical semantics. Both are keyed by (run_id, round);
a round is visible iff its manifest exists, so a killed run resumes from
the last *complete* round and rewrites any partial round idempotently
(outputs are keyed by (round, url_hash)).

Layout (parquet fallback):

    {state_dir}/{run_id}/round=<k>/<table>.parquet
    {state_dir}/{run_id}/round=<k>/manifest.json   <- atomic rename
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def committed_table_ref(manifest: dict | None, round_no: int, name: str) -> str:
    """Where round ``round_no`` committed table ``name``; raises
    LookupError naming both when the round is not committed or did not
    write that table (resume must never read a partial round)."""
    if manifest is None:
        raise LookupError(f"round {round_no} is not committed: cannot read table {name!r}")
    if name not in manifest["tables"]:
        raise LookupError(f"table {name!r} is not in committed round {round_no}")
    return manifest["tables"][name]


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class SnapshotStore:
    def __init__(self, spark: SparkSession, state_dir: str, run_id: str):
        self.spark = spark
        self.root = os.path.join(state_dir, run_id)
        os.makedirs(self.root, exist_ok=True)

    def _round_dir(self, round_no: int) -> str:
        return os.path.join(self.root, f"round={round_no}")

    def write_table(self, round_no: int, name: str, df: DataFrame) -> DataFrame:
        """Write one table of an in-progress round and return it read back
        from disk — downstream consumers then scan columnar parquet instead
        of re-executing the producing plan (critical for the extraction
        UDFs: they run exactly once per round). The read takes the
        written plan's schema, so it launches no footer-inference job.
        NOT visible to resume until commit()."""
        rdir = self._round_dir(round_no)
        os.makedirs(rdir, exist_ok=True)
        path = os.path.join(rdir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)

    def commit(self, round_no: int, table_names: list[str], stats: dict | None = None) -> None:
        """Atomically publish a round (manifest rename). A crash before
        this leaves a partial round that resume ignores and rewrites."""
        rdir = self._round_dir(round_no)
        written = {n: os.path.join(rdir, f"{n}.parquet") for n in table_names}
        manifest = {"round": round_no, "tables": written, "stats": stats or {}}
        fd, tmp = tempfile.mkstemp(dir=rdir, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, os.path.join(rdir, "manifest.json"))  # atomic commit

    def write_round(self, round_no: int, tables: dict[str, DataFrame], stats: dict | None = None) -> None:
        for name, df in tables.items():
            self.write_table(round_no, name, df)
        self.commit(round_no, list(tables.keys()), stats)

    def read_manifest(self, round_no: int) -> dict | None:
        path = os.path.join(self._round_dir(round_no), "manifest.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def committed_rounds(self) -> list[int]:
        """Sorted committed round numbers, by directory listing — the
        same enumeration ``gc`` uses, so it stays correct after gc
        retires a prefix of rounds (a 0..first-gap walk would not)."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            k
            for entry in os.listdir(self.root)
            if entry.startswith("round=")
            and self.read_manifest(k := int(entry.split("=", 1)[1])) is not None
        )

    def latest_complete_round(self) -> int | None:
        rounds = self.committed_rounds()
        return max(rounds) if rounds else None

    def read_table(self, round_no: int, name: str) -> DataFrame:
        ref = committed_table_ref(self.read_manifest(round_no), round_no, name)
        return self.spark.read.parquet(ref)

    def has_table(self, round_no: int, name: str) -> bool:
        manifest = self.read_manifest(round_no)
        return manifest is not None and name in manifest["tables"]

    def gc(self, keep_rounds: int = 4) -> list[int]:
        """Retention for long crawls: delete old round directories that
        resume no longer needs. A 10^10 crawl accumulates per-round
        artifacts/seen/metrics forever without this.

        Resume-safety invariant (driver._read_seen_upto): the seen set
        is the newest ``seen_compact`` at-or-before the latest round
        plus every delta after it — so a round is deletable only if it
        is BOTH older than the retention window (latest - keep_rounds)
        AND strictly older than that newest compacted snapshot (its
        seen delta is folded into the compact). With no compact yet,
        nothing is deletable regardless of the window: every delta is
        still load-bearing. Returns the deleted round numbers.
        """
        import shutil

        latest = self.latest_complete_round()
        if latest is None:
            return []
        newest_compact = None
        for k in range(latest, -1, -1):
            if self.has_table(k, "seen_compact"):
                newest_compact = k
                break
        if newest_compact is None:
            return []
        cutoff = min(latest - max(int(keep_rounds), 0) + 1, newest_compact)
        rounds = sorted(
            int(entry.split("=", 1)[1])
            for entry in os.listdir(self.root)
            if entry.startswith("round=")
        )
        deleted = []
        for k in rounds:
            if k < cutoff:
                shutil.rmtree(os.path.join(self.root, f"round={k}"))
                deleted.append(k)
        return deleted


# -- Iceberg arm (north-rule state backend) ---------------------------------
#
# The 10^10 deployment keeps round state in Iceberg tables: each round's
# artifacts / seen delta / next_frontier / host_metrics / lineage land as
# one partition (`_round=k`) of a catalog table, and round VISIBILITY is a
# row appended to a `_manifest` table — Iceberg's atomic snapshot commit
# gives the manifest append the same crash semantics as the parquet
# store's manifest.json rename: a killed run's partial round has data
# partitions but no manifest row, so resume ignores and rewrites it
# (overwritePartitions is idempotent per (_round, table)).
#
# The sandbox has no Iceberg runtime jars, so `make_store` falls back to
# the parquet SnapshotStore; the Iceberg path is exercised by
# tests/test_iceberg_store.py against any Spark catalog that supports the
# DataFrameWriterV2 API (live-gated on `iceberg_available`).

ICEBERG_EXTENSION = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
ICEBERG_CATALOG_IMPL = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_session_conf(
    warehouse: str, catalog: str = "pathik", catalog_type: str = "hadoop"
) -> dict[str, str]:
    """Session conf for an Iceberg hadoop/hive catalog (pass to
    SparkSession.builder before start; jars via --packages
    org.apache.iceberg:iceberg-spark-runtime-<ver>). Mirrors the S3A/Kafka
    conf-assembly pattern: assembly is always testable, the live round
    trip is env-gated."""
    return {
        "spark.sql.extensions": ICEBERG_EXTENSION,
        f"spark.sql.catalog.{catalog}": ICEBERG_CATALOG_IMPL,
        f"spark.sql.catalog.{catalog}.type": catalog_type,
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        # per-partition (not whole-table) INSERT OVERWRITE — the store's
        # idempotent round-rewrite primitive
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
    }


def configured_iceberg_catalog(spark: SparkSession) -> str | None:
    """First session catalog configured with the Iceberg SparkCatalog
    implementation, or None."""
    prefix = "spark.sql.catalog."
    for key, val in spark.sparkContext.getConf().getAll():
        if (
            key.startswith(prefix)
            and key.count(".") == 3
            and val == ICEBERG_CATALOG_IMPL
        ):
            return key[len(prefix):]
    return None


def _safe_ident(s: str) -> str:
    import re

    return re.sub(r"[^A-Za-z0-9_]", "_", s)


class IcebergSnapshotStore:
    """SnapshotStore twin over a V2 catalog. Same public surface
    (write_table / commit / write_round / read_manifest / read_table /
    has_table / latest_complete_round) plus the filesystem `root` /
    `_round_dir` staging area the driver uses for overlapped direct-path
    writes (next_frontier, seen_compact) — commit() ingests any staged
    parquet listed in table_names that was not written through
    write_table, so the committed round is fully catalog-resident."""

    #: partition column added to every round table
    ROUND_COL = "_round"
    #: file format for created tables (an Iceberg catalog reads this as
    #: the table's write.format.default; the V2 session catalog needs it
    #: to CTAS — which is how the tests exercise this class jar-free.
    #: On a non-Iceberg session catalog, set
    #: spark.sql.sources.partitionOverwriteMode=dynamic so
    #: overwritePartitions replaces only the round's partition).
    PROVIDER = "parquet"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        run_id: str,
        catalog: str | None = None,
    ):
        self.spark = spark
        self.root = os.path.join(state_dir, run_id)
        os.makedirs(self.root, exist_ok=True)
        cat = catalog or configured_iceberg_catalog(spark)
        if cat is None:
            raise ValueError(
                "IcebergSnapshotStore needs a configured V2 catalog "
                "(iceberg_session_conf) or an explicit catalog name"
            )
        self.namespace = f"{cat}.crawl_{_safe_ident(run_id)}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.namespace}")
        self._written: set[tuple[int, str]] = set()

    def _round_dir(self, round_no: int) -> str:
        return os.path.join(self.root, f"round={round_no}")

    def _fq(self, name: str) -> str:
        return f"{self.namespace}.{_safe_ident(name)}"

    def _table_exists(self, fq: str) -> bool:
        try:
            return self.spark.catalog.tableExists(fq)
        except Exception:
            return False

    def _insert_overwrite(self, fq: str, staged: DataFrame) -> None:
        """Replace exactly the staged rows' partitions. INSERT OVERWRITE
        (not DataFrameWriterV2.overwritePartitions) so the same code runs
        against Iceberg catalogs AND plain V1 session-catalog parquet
        tables (the jar-free test harness). partitionOverwriteMode is
        pinned to dynamic around the statement — under the default static
        mode INSERT OVERWRITE would replace the WHOLE table, destroying
        every prior round, so the store must not depend on the session
        having been built via iceberg_session_conf."""
        tmp = f"pathik_ice_stage_{abs(hash(fq)) % 10**8}"
        staged.createOrReplaceTempView(tmp)
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        prior = self.spark.conf.get(mode_key, None)
        self.spark.conf.set(mode_key, "dynamic")
        try:
            cols = ", ".join(f"`{c}`" for c in self.spark.table(fq).columns)
            self.spark.sql(f"INSERT OVERWRITE TABLE {fq} SELECT {cols} FROM {tmp}")
        finally:
            if prior is None:
                self.spark.conf.unset(mode_key)
            else:
                self.spark.conf.set(mode_key, prior)
            self.spark.catalog.dropTempView(tmp)

    def write_table(self, round_no: int, name: str, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        fq = self._fq(name)
        staged = df.withColumn(self.ROUND_COL, F.lit(int(round_no)))
        if self._table_exists(fq):
            self._insert_overwrite(fq, staged)
        else:
            (
                staged.writeTo(fq)
                .using(self.PROVIDER)
                .partitionedBy(F.col(self.ROUND_COL))
                .create()
            )
        self._written.add((round_no, name))
        return (
            self.spark.table(fq)
            .where(F.col(self.ROUND_COL) == int(round_no))
            .drop(self.ROUND_COL)
        )

    def commit(
        self, round_no: int, table_names: list[str], stats: dict | None = None
    ) -> None:
        # ingest direct-path staged parquet (driver's overlapped writers)
        for name in table_names:
            if (round_no, name) in self._written:
                continue
            staged = os.path.join(self._round_dir(round_no), f"{name}.parquet")
            if os.path.isdir(staged):
                self.write_table(round_no, name, self.spark.read.parquet(staged))
            else:
                raise FileNotFoundError(
                    f"commit round {round_no}: table {name!r} neither "
                    f"written via write_table nor staged at {staged}"
                )
        fq = self._fq("_manifest")
        row = self.spark.createDataFrame(
            [(int(round_no), json.dumps(sorted(table_names)), json.dumps(stats or {}, sort_keys=True))],
            schema="round INT, tables STRING, stats STRING",
        )
        if self._table_exists(fq):
            # re-commit of a rewritten partial round replaces its row
            self._insert_overwrite(fq, row)
        else:
            from pyspark.sql import functions as F

            row.writeTo(fq).using(self.PROVIDER).partitionedBy(F.col("round")).create()

    def write_round(
        self, round_no: int, tables: dict[str, DataFrame], stats: dict | None = None
    ) -> None:
        for name, df in tables.items():
            self.write_table(round_no, name, df)
        self.commit(round_no, list(tables.keys()), stats)

    def read_manifest(self, round_no: int) -> dict | None:
        fq = self._fq("_manifest")
        if not self._table_exists(fq):
            return None
        rows = (
            self.spark.table(fq).where(f"round = {int(round_no)}").collect()
        )
        if not rows:
            return None
        names = json.loads(rows[0]["tables"])
        return {
            "round": round_no,
            "tables": {n: self._fq(n) for n in names},
            "stats": json.loads(rows[0]["stats"]),
        }

    def committed_rounds(self) -> list[int]:
        """Sorted committed round numbers from the _manifest table —
        gap-tolerant (gc deletes manifest rows for retired rounds)."""
        fq = self._fq("_manifest")
        if not self._table_exists(fq):
            return []
        return sorted(
            int(r["round"])
            for r in self.spark.table(fq).select("round").distinct().collect()
        )

    def latest_complete_round(self) -> int | None:
        rounds = self.committed_rounds()
        return max(rounds) if rounds else None

    def read_table(self, round_no: int, name: str) -> DataFrame:
        from pyspark.sql import functions as F

        ref = committed_table_ref(self.read_manifest(round_no), round_no, name)
        return (
            self.spark.table(ref)
            .where(F.col(self.ROUND_COL) == int(round_no))
            .drop(self.ROUND_COL)
        )

    def has_table(self, round_no: int, name: str) -> bool:
        manifest = self.read_manifest(round_no)
        return manifest is not None and name in manifest["tables"]

    def gc(self, keep_rounds: int = 4) -> list[int]:
        """Same retention law as SnapshotStore.gc, expressed as
        partition deletes: DELETE each retired round's ``_round=k``
        slice from its tables, then its manifest row. Iceberg's own
        snapshot expiry (``expire_snapshots`` — a catalog maintenance
        job, out of scope here) reclaims the underlying data files.
        Requires a DELETE-capable V2 catalog (the live Iceberg arm;
        the jar-free test catalog cannot run row-level deletes)."""
        fq_man = self._fq("_manifest")
        if not self._table_exists(fq_man):
            return []
        latest = self.latest_complete_round()
        if latest is None:
            return []
        rounds = sorted(
            int(r["round"])
            for r in self.spark.table(fq_man).select("round").collect()
        )
        newest_compact = None
        for k in sorted((r for r in rounds if r <= latest), reverse=True):
            if self.has_table(k, "seen_compact"):
                newest_compact = k
                break
        if newest_compact is None:
            return []
        cutoff = min(latest - max(int(keep_rounds), 0) + 1, newest_compact)
        deleted = []
        for k in rounds:
            if k >= cutoff:
                continue
            man = self.read_manifest(k)
            for fq in man["tables"].values():
                self.spark.sql(
                    f"DELETE FROM {fq} WHERE {self.ROUND_COL} = {int(k)}"
                )
            self.spark.sql(f"DELETE FROM {fq_man} WHERE round = {int(k)}")
            deleted.append(k)
        return deleted


def make_store(
    spark: SparkSession, state_dir: str, run_id: str, backend: str = "auto"
):
    """Pick the round-state backend. ``auto``: Iceberg when both the
    runtime jars and a configured V2 catalog are present (the 10^10
    deployment), else the parquet+manifest store (identical semantics —
    the whole driver is backend-agnostic). ``iceberg`` forces (raises
    without jars/catalog); ``parquet`` forces the fallback."""
    if backend not in ("auto", "parquet", "iceberg"):
        raise ValueError(f"state_backend must be auto|parquet|iceberg, got {backend}")
    if backend == "parquet":
        return SnapshotStore(spark, state_dir, run_id)
    has_iceberg = iceberg_available(spark) and configured_iceberg_catalog(spark)
    if backend == "iceberg":
        if not has_iceberg:
            raise ValueError(
                "state_backend=iceberg but no Iceberg runtime/catalog in the "
                "session (add iceberg-spark-runtime jars + iceberg_session_conf)"
            )
        return IcebergSnapshotStore(spark, state_dir, run_id)
    return (
        IcebergSnapshotStore(spark, state_dir, run_id)
        if has_iceberg
        else SnapshotStore(spark, state_dir, run_id)
    )
