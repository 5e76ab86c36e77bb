"""Vectorized Arrow UDFs for the extraction kernels (X5/X6/X10, page
metadata, anchors, CSS selection).

Reference behavior: ExtractHTMLContent (crawler.go:229-239) and
ConvertToMarkdown (crawler.go:242-249), with the fetch-side 20 MB
truncation (crawler.go:38,193-198) applied *before* extraction to
preserve the reference invariant (SURVEY.md §2.2 F6).

One factory, ``page_udf``, wraps a per-page kernel and its Spark return
type in one Arrow batch loop. The UDF bodies call the normative kernel
functions directly — the same code that produced the golden fixture
columns — so byte-identity of the Spark output reduces to Arrow
round-trip fidelity (utf-8, \r\n, null bytes are covered by fixture
strata).
"""

from __future__ import annotations

from functools import partial
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pathik_spark.kernels import extract as X

_PART_TYPES = {
    "text": T.StringType(),
    "markdown": T.StringType(),
    "links": T.ArrayType(T.StringType()),
}

# kernels/extract.extract_metadata: (title, description, h1, n_headings)
METADATA_TYPE = T.StructType(
    [T.StructField(name, T.StringType()) for name in ("title", "description", "h1")]
    + [T.StructField("n_headings", T.IntegerType())]
)
# kernels/extract.extract_anchors: document-order (url, anchor) pairs
ANCHORS_TYPE = T.ArrayType(
    T.StructType([T.StructField(name, T.StringType()) for name in ("url", "anchor")])
)


def page_udf(kernel: Callable, return_type: T.DataType, with_url: bool = False):
    """Arrow-batched pandas UDF applying ``kernel`` to every page.

    ``kernel(html)`` — or ``kernel(html, s)`` when ``with_url``, for a
    second string column ``s`` (a page url, a content type)
    null-coalesced to '' — returns one row's value: a tuple in field
    order for a struct ``return_type``, a plain value otherwise. PySpark
    reads the UDF's arity from its type hints, so the one- and
    two-column bodies are written out side by side."""
    if isinstance(return_type, T.StructType):
        names = return_type.fieldNames()

        def frame(rows: list) -> pd.DataFrame:
            return pd.DataFrame(rows, columns=names)
    else:
        frame = pd.Series

    if with_url:

        @F.pandas_udf(return_type)
        def html_url_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
            for html, url in it:
                yield frame([kernel(b, u or "") for b, u in zip(html, url)])

        return html_url_udf

    @F.pandas_udf(return_type)
    def html_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for html in it:
            yield frame([kernel(b) for b in html])

    return html_udf


def make_extract_udf(parts: tuple[str, ...] = ("text", "markdown"), fetch_cap: int = X.FETCH_CAP):
    """struct<parts…> per page from ONE parse (kernels/extract.extract_page).
    Call it on the html column, plus the url column when ``"links"`` is
    in ``parts`` (the base for resolving relative hrefs)."""
    parts = tuple(parts)
    schema = T.StructType([T.StructField(p, _PART_TYPES[p]) for p in parts])
    kernel = partial(X.extract_page, fetch_cap=fetch_cap, parts=parts)
    return page_udf(kernel, schema, with_url="links" in parts)


def make_select_udf(selector: str, fetch_cap: int = X.FETCH_CAP):
    """CSS-selector content extraction (reference API surface
    pathik/cli.py:129-131, schema.py:81-86 ``selector``): matched
    elements' text per kernels/selector.select_text. The selector parses
    ONCE on the driver (fail-fast on unsupported syntax); executors get
    the compiled group."""
    from pathik_spark.kernels import selector as S

    group = S.parse_selector(selector)
    return page_udf(partial(S.select_text, selector=group, fetch_cap=fetch_cap), T.StringType())
