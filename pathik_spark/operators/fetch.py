"""Fetch = frontier ⋈ pages (J2/S2): the sandboxed, deterministic
re-expression of the reference's headless-browser fetch
(crawler/crawler.go:162-226) as an equi-join of the scheduled frontier
against the Common-Crawl-style pages table.

Join identity is the canonical URL on both sides: the pages table stores
URLs as crawled (possibly uncanonical — query-string/fragment strata in
the fixtures), so the pages side is canonicalized too and joined on
``url_hash``. A frontier row with no page match becomes a fetch-failure
row (status='missing', W3 retry semantics: attempt+1 next round).

Scale notes: both sides hash-shuffle on url_hash (or reuse bucketed
layout when the pages table is bucketed by url_hash); AQE skew-join
splits hot partitions (north_rule B7). Only ``url_hash, url, warc_ts,
html, lang`` are read from pages — column pruning reaches the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pathik_spark.functions import urls as U
from pathik_spark.functions.extract_udfs import make_extract_udf
from pathik_spark.kernels.extract import FETCH_CAP

STATUS_FETCHED = "fetched"
STATUS_MISSING = "missing"


def pages_by_hash(pages: DataFrame) -> DataFrame:
    """Project the pages table to the fetch-join shape keyed by the
    canonical-url hash."""
    return pages.select(
        U.url_hash_expr(U.canonical_col(F.col("url"))).alias("url_hash"),
        F.col("warc_ts"),
        F.col("html"),
        F.col("lang"),
    )


def fetch_join(scheduled: DataFrame, pages: DataFrame, prepared: bool = False) -> DataFrame:
    """Left join scheduled frontier to pages; emit status column
    (F8 semantics: errors are rows, never exceptions).

    ``prepared=True`` means ``pages`` is already in pages_by_hash shape
    (materialized once per run — see CrawlRun._prepared_pages).

    The scheduled side carries a shuffle_hash hint: per round it is a few
    orders of magnitude smaller than the pages corpus, so a shuffled hash
    join building on it lets the html-heavy side STREAM — no sort of the
    payload (sort-merge would re-sort ~the whole corpus every round when
    the bucketed scan can't prove its ordering)."""
    right = pages if prepared else pages_by_hash(pages)
    joined = scheduled.hint("shuffle_hash").join(right, "url_hash", "left")
    return joined.withColumn(
        "status",
        F.when(F.col("html").isNotNull(), F.lit(STATUS_FETCHED)).otherwise(
            F.lit(STATUS_MISSING)
        ),
    )


def extract_artifacts(
    fetched: DataFrame,
    fetch_cap: int = FETCH_CAP,
    with_markdown: bool = True,
    with_links: bool = False,
) -> DataFrame:
    """X5/X6 + X1/X3 + X7: add extracted text, markdown, derived
    filenames, and the determinized user-agent to fetched rows.

    The completeness-heuristic flag (F7, crawler.go:200-221) is kept as a
    marker column for ordering-oracle parity — in replay-from-table mode
    it is a no-op.
    """
    is_fetched = F.col("status") == STATUS_FETCHED
    common = [
        F.when(is_fetched, F.length(F.col("html")) < F.lit(5000)).alias("dynamic_wait_flag"),
        U.filename_expr(F.col("url"), F.col("warc_ts"), "html").alias("filename_html"),
        U.filename_expr(F.col("url"), F.col("warc_ts"), "md").alias("filename_md"),
        U.user_agent_expr(F.col("url")).alias("user_agent"),
    ]
    # one UDF call per page: one parse yields text, plus markdown and
    # hrefs only when asked for (content_type='html' skips the markdown
    # renderer; link discovery costs no second pass over the corpus).
    # The url column ships to Python only for links (relative-href base).
    # Every field reads the same UDF expression, so the plan holds ONE
    # ArrowEvalPython output that the fields project from.
    parts = ("text",) + ("markdown",) * with_markdown + ("links",) * with_links
    cols = [F.col("html")] + [F.col("url")] * with_links
    ext = F.when(is_fetched, make_extract_udf(parts, fetch_cap)(*cols))
    return fetched.select(
        F.col("*"), *common,
        *[ext[p].alias("outlinks" if p == "links" else p) for p in parts],
    )
