"""Tests for the page-metadata extraction pass (kernels/extract.extract_metadata)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pathik_spark.kernels.extract import extract_metadata


def test_metadata_full_page():
    html = (
        b"<html><head><title>  My   Page \n Title </title>"
        b'<meta name="Description" content="A  short   summary."/>'
        b'<meta property="og:description" content="og text"/></head>'
        b"<body><nav><h1>chrome</h1></nav>"
        b"<h1> Real <b>Heading</b> </h1><h2>Sub</h2><h3>Deep</h3></body></html>"
    )
    title, desc, h1, n = extract_metadata(html)
    assert title == "My Page Title"
    assert desc == "A short summary."  # name=description wins over og
    assert h1 == "Real Heading"
    assert n == 3  # nav's h1 excluded


def test_metadata_og_fallback_and_missing():
    html = b'<html><head><meta property="og:description" content="og only"/></head><body><p>x</p></body></html>'
    assert extract_metadata(html) == ("", "og only", "", 0)
    assert extract_metadata(None) == ("", "", "", 0)
    assert extract_metadata(b"") == ("", "", "", 0)
    # first meta wins when duplicated
    dup = b'<head><meta name="description" content="first"/><meta name="description" content="second"/></head>'
    assert extract_metadata(dup)[1] == "first"


def test_metadata_udf_struct(spark):
    from pathik_spark.functions.extract_udfs import METADATA_TYPE, page_udf

    df = spark.createDataFrame(
        [(1, bytearray(b"<title>T</title><h1>H</h1>")), (2, None)],
        "id long, html binary",
    )
    rows = {
        r["id"]: r
        for r in df.select("id", page_udf(extract_metadata, METADATA_TYPE)(F.col("html")).alias("m"))
        .select("id", "m.*")
        .collect()
    }
    assert (rows[1]["title"], rows[1]["h1"], rows[1]["n_headings"]) == ("T", "H", 1)
    assert rows[2]["title"] == "" and rows[2]["n_headings"] == 0
