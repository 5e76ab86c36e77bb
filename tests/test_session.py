"""Session set-up for the Python workers: the lean worker daemon
(pathik_spark/worker_daemon.py) and the engine on the workers' path."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

from pathik_spark.session import PACKAGE_ROOT
from pathik_spark.worker_daemon import lean_path

SPARK_ARCHIVE_MARKERS = ("pyspark.zip", ".jar", "py4j-")


def _in_spark_archive(path: str) -> bool:
    return any(marker in path for marker in SPARK_ARCHIVE_MARKERS)


def test_python_tasks_import_pyspark_outside_archives(spark):
    def worker_view(_):
        import sys
        import zipimport

        import pyspark

        zip_keys = [
            key for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        ]
        return pyspark.__file__, zip_keys, list(sys.path)

    # two partitions on one reused worker: the second task runs after a
    # full setup_spark_files/invalidate_caches cycle
    for pyspark_file, zip_keys, path in (
        spark.sparkContext.parallelize([0, 1], 2).map(worker_view).collect()
    ):
        assert not _in_spark_archive(pyspark_file), pyspark_file
        assert os.path.isfile(pyspark_file)
        assert not [k for k in zip_keys if _in_spark_archive(k)], zip_keys
        assert not [p for p in path if _in_spark_archive(p)], path


def _write_zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)
    return str(path)


def _fake_pyspark(root, version: str) -> None:
    pkg = root / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f'__version__: str = "{version}"\n')


def _fake_layout(tmp_path, site_version: str | None, site_py4j: bool = True):
    lib = tmp_path / "lib"
    lib.mkdir(parents=True)
    archives = [
        _write_zip(lib / "pyspark.zip", {
            "pyspark/__init__.py": "",
            "pyspark/version.py": "__version__: str = '9.9.9'\n",
        }),
        _write_zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _write_zip(lib / "spark-core_2.13-9.9.9.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    # a third-party jar may carry Python code: never one of Spark's
    other_jar = _write_zip(lib / "graphframes-0.8.jar", {"graphframes/__init__.py": ""})
    site = tmp_path / "site"
    site.mkdir()
    if site_version is not None:
        _fake_pyspark(site, site_version)
    if site_py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return [str(tmp_path / "cwd"), *archives, other_jar, str(site)], archives


def test_lean_path_drops_archives_only_for_a_matching_pyspark(tmp_path):
    before = list(sys.path)

    path, archives = _fake_layout(tmp_path / "match", site_version="9.9.9")
    lean = lean_path(path)
    assert lean == [p for p in path if p not in archives]
    assert len(path) == 6  # the argument is not modified

    for case, kwargs in (
        ("no_pyspark", {"site_version": None}),
        ("other_version", {"site_version": "9.9.8"}),
        ("no_py4j", {"site_version": "9.9.9", "site_py4j": False}),
    ):
        path, _ = _fake_layout(tmp_path / case, **kwargs)
        assert lean_path(path) == path, case

    assert sys.path == before


def test_session_from_foreign_cwd_runs_pandas_udf(tmp_path):
    """With PYTHONPATH unset and a cwd outside the checkout, the workers
    still import the engine: the worker daemon module itself and a
    pandas_udf whose body references pathik_spark."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from pathik_spark.kernels.extract import extract_text
        from pathik_spark.session import get_spark

        spark = get_spark("foreign_cwd", master="local[1]", shuffle_partitions=1)

        @F.pandas_udf("string")
        def text(html: pd.Series) -> pd.Series:
            return html.map(lambda h: extract_text(h.encode()))

        row = spark.createDataFrame([("<p>hello</p>",)], "html string").select(
            text("html").alias("t")
        ).first()
        print("TEXT=" + row["t"])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PATHIK_DRIVER_MEM"] = "1g"
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "TEXT=hello" in proc.stdout, proc.stdout


def test_repeat_crawl_compiles_no_generated_code(spark, corpus, tmp_path):
    """A round's generated classes stay in Spark's codegen cache: the
    same one-round crawl on a fresh state dir compiles nothing the second
    time (with the default 100-entry cache it recompiles ~150 classes).

    A repeat can now and then compile a few classes the first crawl did
    not: AQE numbers the whole-stage codegen stages of the query that
    joins the frontier with the robots broadcast in the order its
    exchanges materialize, and the stage number is part of each class's
    source, so a crawl that meets the other order compiles the same
    pipelines (4 classes, driver and executor each) once more. So the
    crawl repeats, up to three times, until one compiles nothing."""
    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = []
    for rep in range(4):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        run = CrawlRun(
            spark, pages=corpus["pages"], robots=corpus["robots"],
            links=corpus["links"], state_dir=str(tmp_path / f"rep{rep}"),
            config=CrawlConfig(run_id="codegen"),
        )
        assert len(run.run(corpus["seeds"], n_rounds=1)) == 1
        compiles.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
        if rep and compiles[-1] == 0:
            break
    assert compiles[-1] == 0, compiles
