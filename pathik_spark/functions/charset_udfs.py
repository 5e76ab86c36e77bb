"""Vectorized Arrow UDFs for charset sniffing / legacy-page decoding
(kernels/charset.py — see that module for the WHATWG precedence and why
this is a separate, opt-in front-end rather than a change to the
fixture-pinned UTF-8 kernel). Both are ``extract_udfs.page_udf`` over
the html and content_type columns; a null content_type reaches the
kernel as '', which it treats like no header.

Typical use: re-encode a legacy corpus to clean UTF-8 bytes ONCE at
ingest, then run the unchanged byte-identical extraction pipeline:

    pages = pages.withColumn(
        "html", make_transcode_utf8_udf()("html", "content_type")
    )
"""

from __future__ import annotations

from pyspark.sql import types as T

from pathik_spark.functions.extract_udfs import page_udf
from pathik_spark.kernels import charset as C


def make_sniff_charset_udf():
    """(html binary, content_type string|null) -> codec name."""
    return page_udf(C.sniff_charset, T.StringType(), with_url=True)


def make_transcode_utf8_udf(fetch_cap: int | None = None):
    """(html binary, content_type string|null) -> UTF-8 bytes: the
    ingest-time normalization that lets the unchanged UTF-8 extraction
    kernel process legacy pages correctly (already-UTF-8 pages
    round-trip unchanged minus a BOM)."""

    def transcode(html: bytes | None, content_type: str) -> bytes | None:
        return None if html is None else C.decode_html_auto(html, content_type, fetch_cap).encode()

    return page_udf(transcode, T.BinaryType(), with_url=True)
