"""X5/X6 byte-identity: the Spark Arrow UDF output must equal the golden
``text`` column (produced by the normative kernel at fixture time) for
every page, including the malformed / non-utf8 / empty strata
(SURVEY.md §5.2.2, input_hint per-row invariant). Since that golden
column comes from the same kernel, a pinned digest of every extraction
arm guards the kernel's output across versions."""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import functions as F

from pathik_spark.fixtures import CorpusSpec
from pathik_spark.kernels import extract as X


def test_extract_text_byte_identical(spark, corpus):
    from pathik_spark.functions.extract_udfs import make_extract_udf

    pages = corpus["pages"]
    mismatches = (
        pages.withColumn("got", make_extract_udf(("text",))(F.col("html"))["text"])
        .filter(F.col("got") != F.col("text"))
        .count()
    )
    assert mismatches == 0


def test_markdown_udf_matches_kernel(spark, corpus_pd):
    from pathik_spark.functions.extract_udfs import make_extract_udf

    pd_pages = corpus_pd["pages"].iloc[:100]
    df = (
        spark.createDataFrame(
            pd_pages[["url", "html"]], schema="url string, html binary"
        )
        .withColumn("md", make_extract_udf(("markdown",))(F.col("html"))["markdown"])
    )
    got = {r["url"]: r["md"] for r in df.collect()}
    for _, row in pd_pages.iterrows():
        assert got[row["url"]] == X.to_markdown(row["html"]), row["url"]


def test_fetch_cap_truncation_applied_before_extraction(spark, corpus_pd):
    from pathik_spark.functions.extract_udfs import make_extract_udf

    big = corpus_pd["pages"][corpus_pd["pages"].index % 100 == 18].iloc[:3]
    assert (big["html"].map(len) > 8192).all()
    cap = 8192
    df = spark.createDataFrame(big[["url", "html"]], schema="url string, html binary")
    udf = make_extract_udf(("text",), cap)
    got = {r["url"]: r["t"] for r in df.withColumn("t", udf(F.col("html"))["text"]).collect()}
    for _, row in big.iterrows():
        assert got[row["url"]] == X.extract_text(row["html"], cap)
        assert got[row["url"]] != X.extract_text(row["html"])  # cap actually bit


def test_edge_strata_deterministic(corpus_pd):
    pages = corpus_pd["pages"]
    empty = pages[pages.index % 100 == 15].iloc[0]
    assert empty["text"] == ""
    malformed = pages[pages.index % 100 == 16].iloc[0]
    assert X.extract_text(malformed["html"]) == malformed["text"]
    nonutf8 = pages[pages.index % 100 == 17].iloc[0]
    assert "caf�" in nonutf8["text"]  # replacement char, deterministic
    assert X.extract_text(nonutf8["html"]) == nonutf8["text"]


def test_boilerplate_excluded(corpus_pd):
    texts = corpus_pd["pages"]["text"]
    assert not texts.str.contains("site header boilerplate").any()
    assert not texts.str.contains("copyright boilerplate").any()


def test_save_cap_truncation():
    content = "é" * 100
    out = X.truncate_for_save(content, 11)
    assert len(out.encode("utf-8")) <= 11
    assert out == "é" * 5  # 10 bytes; the split 11th byte dropped deterministically


def _page(b, u, parts):
    """extract_page's tuple; kernels that predate extract_page get the
    same tuple composed from the named entry points, so the digests
    below can be re-checked against them."""
    if hasattr(X, "extract_page"):
        return X.extract_page(b, u, parts=parts)
    named = {"text": X.extract_text, "markdown": X.to_markdown}
    return tuple(X.extract_links(b, u) if p == "links" else named[p](b) for p in parts)


# sha256 of the JSON-encoded outputs of every extraction arm over all
# pages of CorpusSpec(400, 80) (empty, malformed, non-utf8 and >8 KB
# strata included). A kernel change that alters any output byte fails here.
PINNED_DIGESTS = {
    "text": "29c2fc5b88eb940dbbde690f70af02a16a98e414d334d8d1b60ebe7bf027797a",
    "markdown": "fe3e1237f6f8e99b295432544b1cbd141217293ad7cc4235d02af910970b6f1f",
    "text+markdown": "ab5e22da18bf73b14f81ae3bbb619fda70e793907bf95410f62bae7722605716",
    "text+markdown+links": "18198a1506930f7db39d9e5296aa406e7d6c7d47fd5a6bc8777ce2e5721ec581",
    "text+links": "3bbf0b96c162687d1cba2f2d2cd540749fe439501cf5d1f47d3055490a7401ec",
    "links": "83fa389731bf46722ac0021919db76d0a3feaf36b3fe0c0025fdc7acf522c84e",
}


def test_extract_arms_pinned_digest():
    arms = {
        "text": lambda b, u: X.extract_text(b),
        "markdown": lambda b, u: X.to_markdown(b),
        "text+markdown": lambda b, u: X.extract_both(b),
        "text+markdown+links": lambda b, u: _page(b, u, ("text", "markdown", "links")),
        "text+links": lambda b, u: _page(b, u, ("text", "links")),
        "links": lambda b, u: X.extract_links(b, u),
    }
    spec = CorpusSpec(400, 80)
    rows = [spec.page_row(pid)[0] for pid in range(spec.n_pages)]
    for arm, fn in arms.items():
        encoded = json.dumps([fn(r["html"], r["url"]) for r in rows]).encode()
        assert hashlib.sha256(encoded).hexdigest() == PINNED_DIGESTS[arm], arm
