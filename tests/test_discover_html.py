"""From-html link discovery (fused href extraction) — kernel semantics
and the driver's discover_from_html mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pathik_spark.fixtures import CorpusSpec, corpus_to_spark, gen_corpus
from pathik_spark.kernels.extract import extract_both, extract_links, extract_page


def test_extract_links_covers_fixture_outlinks():
    spec = CorpusSpec(500, 100)
    checked = 0
    for pid in (0, 3, 7, 23, 101, 250):
        row, outlinks = spec.page_row(pid)
        links = extract_links(row["html"], row["url"])
        if outlinks and b"links" in row["html"]:
            assert set(outlinks) <= set(links), pid
            checked += 1
    assert checked >= 3


def test_extract_links_resolution_and_filtering():
    html = (
        b'<body><a href="/abs">a</a><a href="#frag">b</a>'
        b'<a href="mailto:x@y">c</a><a href="rel.html">d</a>'
        b'<a href="">e</a><a href="  https://other.example/z  ">f</a></body>'
    )
    links = extract_links(html, "https://h.example/dir/p.html")
    assert links == [
        "https://h.example/abs",
        "https://h.example/dir/rel.html",
        "https://other.example/z",
    ]


def test_extract_links_skips_site_chrome():
    html = (
        b"<body><nav><a href='https://h/nav'>n</a></nav>"
        b"<header><a href='https://h/hdr'>h</a></header>"
        b"<p><a href='https://h/content'>c</a></p>"
        b"<footer><a href='https://h/ftr'>f</a></footer></body>"
    )
    assert extract_links(html) == ["https://h/content"]


def test_extract_page_links_arm_matches_both():
    spec = CorpusSpec(200, 40)
    for pid in (1, 16, 17, 55):  # incl. malformed + non-utf8 strata
        row, _ = spec.page_row(pid)
        t, m, links = extract_page(row["html"], row["url"], parts=("text", "markdown", "links"))
        assert (t, m) == extract_both(row["html"]), pid
        assert links == extract_links(row["html"], row["url"]), pid


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_to_spark(spark, gen_corpus(400, 80))


def _run(spark, corpus, tmp_path, run_id, from_html: bool):
    from pathik_spark.config import CrawlConfig
    from pathik_spark.plans.driver import CrawlRun

    run = CrawlRun(
        spark,
        pages=corpus["pages"],
        robots=corpus["robots"],
        links=None if from_html else corpus["links"],
        state_dir=str(tmp_path / run_id),
        config=CrawlConfig(run_id=run_id, discover_from_html=from_html),
    )
    stats = run.run(corpus["seeds"], n_rounds=2)
    return run, stats


def test_discover_from_html_mode(spark, corpus, tmp_path):
    run_h, stats_h = _run(spark, corpus, tmp_path, "from-html", True)
    run_t, stats_t = _run(spark, corpus, tmp_path, "from-table", False)

    assert stats_h[0].discovered > 0
    # artifacts in from-html mode carry the outlinks column
    arts = run_h.store.read_table(0, "artifacts")
    assert "outlinks" in arts.columns

    # hrefs extracted from html are a subset of the links-table edges
    # (some fixture strata — empty/malformed bodies — omit the embedded
    # link block, so the table mode discovers a superset)
    def round1_scheduled(run):
        return {
            r["url"]
            for r in run.store.read_table(1, "artifacts").select("url").collect()
        }

    sched_h = round1_scheduled(run_h)
    sched_t = round1_scheduled(run_t)
    discovered_h = {u for u in sched_h if u not in {r["url"] for r in corpus["seeds"].select("url").collect()}}
    assert discovered_h  # nonempty discovery actually got scheduled
    table_edges = {
        r["dst_url"] for r in corpus["links"].select("dst_url").collect()
    }
    # every from-html discovery is a real edge of the fixture link graph
    # (modulo canonicalization of uncanonical variants — compare on the
    # raw url only for those that appear verbatim)
    verbatim = discovered_h & table_edges
    assert len(verbatim) >= len(discovered_h) * 0.5


def test_text_links_path_skips_markdown_matches_full(spark, corpus):
    """content_type='html' + from-html discovery: no markdown column is
    computed or stored, and text/outlinks are byte-identical to the full
    (text+markdown+links) fused path."""
    from pathik_spark.operators.fetch import extract_artifacts, fetch_join
    from pathik_spark.operators.frontier import prepare_frontier

    fr = prepare_frontier(corpus["seeds"]).limit(40)
    fetched = fetch_join(fr, corpus["pages"])
    full = extract_artifacts(fetched, with_markdown=True, with_links=True)
    lite = extract_artifacts(fetched, with_markdown=False, with_links=True)
    assert "markdown" in full.columns and "markdown" not in lite.columns
    a = {r["url"]: (r["text"], tuple(r["outlinks"] or ()))
         for r in full.select("url", "text", "outlinks").collect()}
    b = {r["url"]: (r["text"], tuple(r["outlinks"] or ()))
         for r in lite.select("url", "text", "outlinks").collect()}
    assert a == b


def test_extract_sitemap_entries_lastmod(spark):
    from datetime import date

    from pathik_spark.operators.discover import extract_sitemap_entries

    xml = (
        "<urlset>"
        "<url><loc>https://h.example/a</loc><lastmod>2025-06-01</lastmod></url>"
        "<url><loc>https://h.example/b</loc></url>"
        "<url><loc>  https://h.example/c  </loc>"
        "<lastmod>2025-01-15T08:30:00+00:00</lastmod></url>"
        "<url><loc>ftp://bad.example/x</loc><lastmod>2025-02-02</lastmod></url>"
        "<url><loc>https://h.example/a</loc><lastmod>2024-01-01</lastmod></url>"
        "</urlset>"
    )
    df = spark.createDataFrame([("h", xml)], ["host", "sitemap_xml"])
    out = {r["url"]: r["lastmod"] for r in extract_sitemap_entries(df).collect()}
    assert out == {
        "https://h.example/a": date(2025, 6, 1),   # newest of the dup wins
        "https://h.example/b": None,               # no lastmod
        "https://h.example/c": date(2025, 1, 15),  # datetime date-prefix
    }


def test_classify_sitemap_locs(spark):
    from pathik_spark.operators.discover import classify_sitemap_locs

    index = (
        "<sitemapindex>"
        "<sitemap><loc>https://h.example/sitemap-1.xml</loc>"
        "<lastmod>2025-06-01</lastmod></sitemap>"
        "<sitemap><loc>  https://h.example/sitemap-2.xml </loc></sitemap>"
        "</sitemapindex>"
    )
    urlset = (
        "<urlset>"
        "<url><loc>https://h.example/page-a</loc></url>"
        "<url><loc>ftp://bad.example/x</loc></url>"
        # pathological: the same loc listed as both page and child
        # sitemap — the sitemap reading must win
        "<url><loc>https://h.example/dual.xml</loc></url>"
        "<sitemap><loc>https://h.example/dual.xml</loc></sitemap>"
        "</urlset>"
    )
    df = spark.createDataFrame(
        [("h", index), ("h", urlset)], ["host", "sitemap_xml"]
    )
    out = {r["url"]: r["kind"] for r in classify_sitemap_locs(df).collect()}
    assert out == {
        "https://h.example/sitemap-1.xml": "sitemap",
        "https://h.example/sitemap-2.xml": "sitemap",
        "https://h.example/page-a": "page",
        "https://h.example/dual.xml": "sitemap",
    }


def test_discover_seeds_unified_channels(spark):
    from pathik_spark.operators.discover import discover_seeds

    sm = spark.createDataFrame(
        [
            ("h", "https://h.example/fresh", "2025-06-10"),
            ("h", "https://h.example/month", "2025-05-20"),
            ("h", "https://h.example/old", "2023-01-01"),
            ("h", "https://h.example/unknown", None),
        ],
        "host string, url string, lastmod string",
    ).selectExpr("host", "url", "CAST(lastmod AS DATE) AS lastmod")
    feeds = spark.createDataFrame(
        [("h", "https://h.example/feeditem")], ["host", "url"]
    )
    rsm = spark.createDataFrame(
        [("h", "https://h.example/sitemap.xml")], ["host", "url"]
    )
    out = discover_seeds(
        sitemap_entries=sm, feed_urls=feeds, robots_sitemaps=rsm,
        now="2025-06-15",
    )
    rows = {r["url"]: r for r in out.collect()}
    assert rows["https://h.example/fresh"]["priority"] == 0
    assert rows["https://h.example/month"]["priority"] == 1
    assert rows["https://h.example/old"]["priority"] == 3
    assert rows["https://h.example/unknown"]["priority"] == 3
    assert rows["https://h.example/feeditem"]["priority"] == 1
    assert rows["https://h.example/sitemap.xml"]["priority"] == 0
    # seq is a deterministic url hash, not ordering-dependent
    again = {r["url"]: r["seq"] for r in out.collect()}
    assert all(again[u] == rows[u]["seq"] for u in rows)
    # CrawlRun-ready shape
    assert set(out.columns) == {"url", "seq", "priority"}
