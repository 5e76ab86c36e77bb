"""SparkSession factory with the engine's scale-oriented defaults.

AQE + skew-join handling are on per BASELINE.json north_rule; shuffle
partitions default to the local core count (overridable for a real
cluster via normal spark-submit --conf).

In local mode the Python workers share the driver's filesystem: they get
the engine's package root on their path (UDFs referencing pathik_spark
then unpickle from any cwd) and run the lean worker daemon
(worker_daemon.py), which keeps Spark's archives off their import path.

Spark's class cache for generated code is sized to a crawl round's
working set (CODEGEN_CACHE_ENTRIES), so a round reuses the classes the
previous round compiled instead of recompiling them. The cache is a
static conf, set here because every session the engine starts comes
from get_spark; a caller's extra_conf still overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Entries of Spark's generated-class cache (spark.sql.codegen.cache.maxEntries,
# default 100). One crawl_polite round compiles ~160 classes, a resume
# adds ~70 for its own plans and pages preparation ~10: a working set
# above 100 means LRU eviction drops every class before its next use and
# each round recompiles all of them (~150 compiles a round, 4-round
# crawl). 1000 holds about 4x a round's set.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "pathik_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("PATHIK_SPARK_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    local = master.startswith("local")
    if shuffle_partitions is None:
        shuffle_partitions = int(cores) if local else 256
    conf = dict(extra_conf or {})
    if local:
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(p for p in (PACKAGE_ROOT, conf.get(key)) if p)
        conf.setdefault("spark.python.daemon.module", "pathik_spark.worker_daemon")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("PATHIK_ARROW_BATCH", "2048"),
        )
        # html:binary rows are 5-80 KB; the default 4096-row columnar batch
        # means ~250 MB live per scan task — with 32 concurrent tasks that
        # alone exceeds an 8g heap. 512 bounds scan memory at ~30 MB/task
        # regardless of core count (the knob that keeps wide-binary scans
        # safe on real executors too).
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # zstd ~3x smaller than snappy on extracted text/markdown: the
        # compress CPU is parallel, the saved bytes are serial disk/network
        # time — the right trade for write-heavy crawl rounds
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("PATHIK_PARQUET_CODEC", "zstd"),
        )
        # bucketed+sorted tables are written one-file-per-bucket (see
        # CrawlRun._prepared_pages); let the scan report that ordering so
        # sort-merge joins against them skip re-sorting the html payload
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PATHIK_DRIVER_MEM", "8g"))
    )
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in the driver JVM so
    far (CodegenMetrics' compilation-time histogram count). In local mode
    the executors share that JVM, so their compiles count too."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
