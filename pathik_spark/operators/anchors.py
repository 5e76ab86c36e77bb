"""Anchor-text aggregation over the crawl's link graph.

The text inside <a> tags pointing AT a page is the classic external
description of that page (search ranking, weak labels for training,
crawl prioritization): aggregate it per target URL. Two stages:

- ``page_anchors``: run the anchor-pair extraction UDF over fetched
  pages and explode to one row per (src_url, dst_url, anchor, pos).
  One parse per page (Arrow-batched pandas UDF, same kernel tree as
  X5/X10), fan-out inside the scan task.

- ``anchor_text_profile``: per dst_url — inlink count, distinct
  source-host count, and the deterministic anchor summary (distinct
  non-empty anchor texts, lexicographically sorted, capped). The only
  shuffle is the groupBy on dst_url; the per-group state is bounded by
  ``max_anchors`` via sorted-truncate inside the aggregate (collect_set
  then slice — the set is per-URL small in practice; hub pages with
  millions of identical-anchor inlinks collapse in the set).

At 100 TB the groupBy key is dst_url — the same key space as the
URL-seen table, so skew handling is inherited from AQE + the fact that
anchors dedupe per (set) before the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pathik_spark.functions.extract_udfs import ANCHORS_TYPE, page_udf
from pathik_spark.functions.urls import hostname_of
from pathik_spark.kernels.extract import extract_anchors


def page_anchors(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(src_url, pos, dst_url, anchor) — document-order anchor pairs."""
    pairs = page_udf(extract_anchors, ANCHORS_TYPE, with_url=True)(
        F.col(html_col), F.col(url_col)
    )
    return pages.select(
        F.col(url_col).alias("src_url"), F.posexplode(pairs).alias("pos", "a")
    ).select("src_url", "pos", F.col("a.url").alias("dst_url"), F.col("a.anchor").alias("anchor"))


def anchor_text_profile(anchors: DataFrame, max_anchors: int = 16) -> DataFrame:
    """Per-target anchor profile: (dst_url, n_inlinks, n_src_hosts,
    anchors) where anchors = sorted distinct non-empty anchor texts,
    capped at max_anchors, '|'-joined (deterministic row shape).

    Spill-safe shape: the anchor summary is computed as distinct
    (dst_url, anchor) pairs -> window row_number <= cap -> collect_list,
    NOT collect_set-then-slice. A window sort spills to disk; an
    aggregation buffer does not — a spam hub with millions of DISTINCT
    anchor texts would OOM the executor under collect_set but merely
    sorts (and is then cut to ``max_anchors``) under the window. Counts
    ride a separate partial-aggregating groupBy; both shuffles key on
    dst_url so AQE coalesces them onto the same exchange layout."""
    from pyspark.sql import Window

    src_host = hostname_of(F.col("src_url"))
    counts = anchors.groupBy("dst_url").agg(
        F.count("*").alias("n_inlinks"),
        F.countDistinct(src_host).alias("n_src_hosts"),
    )
    w = Window.partitionBy("dst_url").orderBy("anchor")
    topk = (
        anchors.filter(F.col("anchor") != "")
        .select("dst_url", "anchor")
        .distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_anchors)
        .groupBy("dst_url")
        .agg(F.array_join(F.array_sort(F.collect_list("anchor")), "|").alias("anchors"))
    )
    return counts.join(topk, "dst_url", "left").select(
        "dst_url",
        "n_inlinks",
        "n_src_hosts",
        F.coalesce(F.col("anchors"), F.lit("")).alias("anchors"),
    )
