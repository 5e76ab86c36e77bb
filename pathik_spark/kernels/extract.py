"""Normative pure-Python extraction kernels: HTML -> article text,
Markdown, outlinks, anchor pairs and page metadata.

The reference pipes fetched HTML through go-shiori/go-readability
(/root/reference/crawler/crawler.go:229-239, ``ExtractHTMLContent``) and
JohannesKaufmann/html-to-markdown (/root/reference/crawler/crawler.go:242-249,
``ConvertToMarkdown``). The Go binaries in the reference snapshot are
stripped placeholders, so *this* deterministic pure-Python kernel is the
normative extractor (SURVEY.md §5.2.2, §7-H1): the golden ``text`` column
in the fixtures is produced by it, and the Spark-side vectorized Arrow UDF
(pathik_spark.functions.extract_udfs) runs the identical code — the
per-row invariant "byte-identical extracted text per url" is enforced by
tests comparing the two paths, and tests/test_extract.py pins a digest of
every extraction arm's output.

One entry point, ``extract_page``, parses a page once and returns any
of its text, markdown and links; ``extract_text``, ``to_markdown``,
``extract_both`` and ``extract_links`` are one-line calls to it.
``extract_anchors`` and ``extract_metadata`` are separate passes.

Determinism rules: no wall clock, no locale, no dict-order dependence, no
randomness. Content caps mirror the reference: fetch truncation at
``fetch_cap`` bytes *before* parsing (crawler.go:38,193-198, 20 MB) and
save truncation at ``save_cap`` bytes on output (storage.go:211-216,
10 MB). Byte decoding: utf-8 with ``errors="replace"`` (deterministic
handling of the non-utf8 fixture rows).

Readability-lite algorithm (documented spec, integer arithmetic only):
- drop ``script style noscript template head nav footer aside form
  iframe svg`` subtrees;
- candidates: ``article main section div td body`` elements;
- score(candidate) = sum over descendant content blocks
  (``p h1..h6 li blockquote pre``) of 2*len(block text) minus
  3*len(anchor text inside the candidate) — the >2 anchor penalty makes a
  link-free <article> strictly beat any ancestor that also contains a
  nav-like link list;
- winner = highest score, document order breaking ties; no positive
  scorer -> fall back to <body> (or whole tree) text;
- block-level elements emit paragraphs joined by "\n\n"; whitespace
  inside a paragraph collapses to single spaces.
"""

from __future__ import annotations

from html.parser import HTMLParser
from urllib.parse import urljoin, urlsplit

FETCH_CAP = 20 * 1024 * 1024  # crawler.go:38
SAVE_CAP = 10 * 1024 * 1024  # storage.go:211-216
MIN_CONTENT_LENGTH = 5000  # crawler.go:36 completeness heuristic

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
DROP_TAGS = frozenset(
    "script style noscript template head nav footer aside form iframe svg header".split()
)
CANDIDATE_TAGS = frozenset("article main section div td body".split())
CONTENT_BLOCK_TAGS = frozenset("p h1 h2 h3 h4 h5 h6 li blockquote pre".split())
BLOCK_TAGS = frozenset(
    (
        "p h1 h2 h3 h4 h5 h6 li blockquote pre div section article main "
        "table tr ul ol body html header figure figcaption td th"
    ).split()
)
# tags whose end implicitly closes an open sibling of the same tag
_IMPLICIT_CLOSE = {"p": {"p"}, "li": {"li"}, "tr": {"tr"}, "td": {"td", "th"}, "th": {"td", "th"}}


class Node:
    # no parent pointer: the tree must stay acyclic so freed trees die by
    # refcount alone — cyclic Node graphs put millions of objects per Arrow
    # batch on the cycle-GC's plate, which measurably hurts multi-core UDF
    # scaling. The builder keeps an explicit open-element stack instead.
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs=None):
        self.tag = tag
        self.attrs = dict(attrs or ())
        self.children: list = []  # Node or str


class _TreeBuilder(HTMLParser):
    """Lenient tree builder: unknown end tags are ignored; unclosed tags
    are closed when an ancestor closes (deterministic for malformed rows).
    The open-element stack replaces parent pointers (same semantics: the
    stack IS the ancestor chain of the current node)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#root")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        implicit = _IMPLICIT_CLOSE.get(tag)
        if implicit and self.stack[-1].tag in implicit and len(self.stack) > 1:
            self.stack.pop()
        node = Node(tag, attrs)
        self.stack[-1].children.append(node)
        if tag not in VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(Node(tag, attrs))

    def handle_endtag(self, tag):
        stack = self.stack
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].tag == tag:
                del stack[i:]
                return
        # no matching open tag: ignore

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)


def parse_html(html: str) -> Node:
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        pass  # keep whatever tree was built — deterministic for a given input
    return builder.root


def decode_html(html_bytes: bytes | None, fetch_cap: int = FETCH_CAP) -> str:
    if html_bytes is None:
        return ""
    return html_bytes[:fetch_cap].decode("utf-8", errors="replace")


def _collapse_ws(text: str) -> str:
    return " ".join(text.split())


def _node_text(node: Node) -> str:
    """Raw concatenated text of a subtree (drop tags removed)."""
    parts: list[str] = []
    _collect_text(node, parts)
    return "".join(parts)


def _collect_text(node: Node, parts: list[str]) -> None:
    for child in node.children:
        if isinstance(child, str):
            parts.append(child)
        elif child.tag not in DROP_TAGS:
            if child.tag in BLOCK_TAGS or child.tag == "br":
                parts.append("\n")
            _collect_text(child, parts)
            if child.tag in BLOCK_TAGS:
                parts.append("\n")


def _find_all(node: Node, tags: frozenset, out: list[Node]) -> None:
    for child in node.children:
        if isinstance(child, Node) and child.tag not in DROP_TAGS:
            if child.tag in tags:
                out.append(child)
            _find_all(child, tags, out)


def _score_candidate(node: Node) -> int:
    blocks: list[Node] = []
    _find_all(node, CONTENT_BLOCK_TAGS, blocks)
    anchors: list[Node] = []
    _find_all(node, frozenset({"a"}), anchors)
    text_len = sum(len(_collapse_ws(_node_text(b))) for b in blocks)
    link_len = sum(len(_collapse_ws(_node_text(a))) for a in anchors)
    return 2 * text_len - 3 * link_len


def find_article(root: Node) -> Node:
    candidates: list[Node] = []
    _find_all(root, CANDIDATE_TAGS, candidates)
    best: Node | None = None
    best_score = 0
    for cand in candidates:  # document order; strict > keeps the first tie
        score = _score_candidate(cand)
        if score > best_score:
            best, best_score = cand, score
    if best is not None:
        return best
    bodies: list[Node] = []
    _find_all(root, frozenset({"body"}), bodies)
    return bodies[0] if bodies else root


def _paragraphs(node: Node) -> list[str]:
    raw = _node_text(node)
    paras = []
    for chunk in raw.split("\n"):
        collapsed = _collapse_ws(chunk)
        if collapsed:
            paras.append(collapsed)
    return paras


# ---------------------------------------------------------------------------
# HTML -> Markdown (deterministic rule set; reference behavior anchor:
# crawler.go:242-249 with default converter rules)
# ---------------------------------------------------------------------------

_INLINE_MARKS = {"strong": "**", "b": "**", "em": "*", "i": "*", "code": "`"}


_MD_ESCAPE_TABLE = str.maketrans(
    {ch: "\\" + ch for ch in ("\\", "*", "_", "`", "[", "]")}
)


def _md_escape(text: str) -> str:
    # autoEscape=true in the reference converter: escape md control chars.
    # One-pass translate == the sequential replace chain byte-for-byte
    # (backslash was replaced first there, so later inserts were never
    # re-escaped — exactly what a single pass does).
    return text.translate(_MD_ESCAPE_TABLE)


def _md_inline(node: Node) -> str:
    parts: list[str] = []
    for child in node.children:
        if isinstance(child, str):
            parts.append(_md_escape(child))
            continue
        if child.tag in DROP_TAGS:
            continue
        if child.tag == "br":
            parts.append("\n")
        elif child.tag == "a":
            inner = _md_inline(child)
            href = child.attrs.get("href", "")
            parts.append(f"[{inner}]({href})")
        elif child.tag == "img":
            alt = _md_escape(child.attrs.get("alt", ""))
            src = child.attrs.get("src", "")
            parts.append(f"![{alt}]({src})")
        elif child.tag in _INLINE_MARKS:
            mark = _INLINE_MARKS[child.tag]
            inner = _md_inline(child).strip()
            parts.append(f"{mark}{inner}{mark}" if inner else "")
        else:
            parts.append(_md_inline(child))
    return "".join(parts)


def _md_collapse(text: str) -> str:
    return " ".join(text.split())


def _md_blocks(node: Node, out: list[str], list_depth: int = 0, ordered: bool = False) -> None:
    index = 0
    for child in node.children:
        if isinstance(child, str):
            collapsed = _md_collapse(_md_escape(child))
            if collapsed:
                out.append(collapsed)
            continue
        tag = child.tag
        if tag in DROP_TAGS:
            continue
        if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            out.append("#" * int(tag[1]) + " " + _md_collapse(_md_inline(child)))
        elif tag == "p":
            text = _md_collapse(_md_inline(child))
            if text:
                out.append(text)
        elif tag in ("ul", "ol"):
            items: list[str] = []
            num = 0
            for li in child.children:
                if isinstance(li, Node) and li.tag == "li":
                    num += 1
                    sub: list[str] = []
                    _md_blocks(li, sub, list_depth + 1, tag == "ol")
                    inline = _md_collapse(_md_inline_only(li))
                    bullet = f"{num}. " if tag == "ol" else "- "
                    indent = "  " * list_depth
                    first = indent + bullet + inline if inline else indent + bullet.rstrip()
                    items.append(first)
                    items.extend(s for s in sub if s.lstrip().startswith(("-", "1", "2", "3", "4", "5", "6", "7", "8", "9")))
            if items:
                out.append("\n".join(items))
        elif tag == "blockquote":
            sub: list[str] = []
            _md_blocks(child, sub, list_depth, ordered)
            if sub:
                out.append("\n".join("> " + line for block in sub for line in block.split("\n")))
        elif tag == "pre":
            code = _node_text(child)
            out.append("```\n" + code.strip("\n") + "\n```")
        elif tag == "hr":
            out.append("---")
        elif tag == "table":
            _md_table(child, out)
        else:  # transparent containers: div/section/article/body/...
            _md_blocks(child, out, list_depth, ordered)
        index += 1


def _md_inline_only(node: Node) -> str:
    """Inline content of a node, skipping nested list blocks."""
    parts: list[str] = []
    for child in node.children:
        if isinstance(child, str):
            parts.append(_md_escape(child))
        elif child.tag in ("ul", "ol") or child.tag in DROP_TAGS:
            continue
        elif child.tag in _INLINE_MARKS or child.tag in ("a", "img", "br", "span"):
            tmp = Node("#wrap")
            tmp.children = [child]
            parts.append(_md_inline(tmp))
        else:
            parts.append(_md_inline(child))
    return "".join(parts)


def _md_table(table: Node, out: list[str]) -> None:
    rows: list[list[str]] = []
    trs: list[Node] = []
    _find_all(table, frozenset({"tr"}), trs)
    for tr in trs:
        cells = [
            _md_collapse(_md_inline(c))
            for c in tr.children
            if isinstance(c, Node) and c.tag in ("td", "th")
        ]
        if cells:
            rows.append(cells)
    if not rows:
        return
    width = max(len(r) for r in rows)
    lines = ["| " + " | ".join(r + [""] * (width - len(r))) + " |" for r in rows]
    lines.insert(1, "|" + " --- |" * width)
    out.append("\n".join(lines))


# ---------------------------------------------------------------------------
# href extraction (frontier link discovery from fetched HTML — new-build
# per north_rule; the reference crawler has no recursion/link-following,
# SURVEY.md §2.9. Replaces the fixture links table in from-html mode.)
# ---------------------------------------------------------------------------


def _collect_hrefs(node: Node, out: list[str]) -> None:
    for child in node.children:
        if isinstance(child, Node) and child.tag not in DROP_TAGS:
            if child.tag == "a":
                href = child.attrs.get("href")
                if href:
                    out.append(href)
            _collect_hrefs(child, out)


def _resolve_href(href: str, base_url: str) -> str | None:
    """One raw href value -> its absolute http(s) target, or None: strip
    whitespace, drop empty / fragment-only / non-http(s) targets,
    resolve relative hrefs against ``base_url`` (RFC 3986 urljoin)."""
    href = href.strip()
    if not href or href.startswith("#"):
        return None
    absolute = urljoin(base_url, href) if base_url else href
    return absolute if urlsplit(absolute).scheme.lower() in ("http", "https") else None


def extract_page(
    html_bytes: bytes | None,
    base_url: str = "",
    fetch_cap: int = FETCH_CAP,
    parts: tuple[str, ...] = ("text", "markdown"),
) -> tuple:
    """The requested ``parts`` of one page, in ``parts`` order, from ONE
    decode + parse:

    - ``text``: article plain text (the golden per-row invariant);
    - ``markdown``: Markdown of the same article subtree;
    - ``links``: document-order resolved hrefs of <a> anchors over the
      WHOLE tree (anchors outside the article count), skipping dropped
      subtrees (nav/header/footer/script/... anchors are site chrome,
      not discovery targets); relative hrefs resolve against
      ``base_url``. Duplicates are KEPT — frontier dedup is the
      seen-filter's job.

    The article is selected only when text or markdown is asked for.
    An empty page yields '' for text/markdown and [] for links."""
    html = decode_html(html_bytes, fetch_cap)
    if not html.strip():
        return tuple([] if part == "links" else "" for part in parts)
    root = parse_html(html)
    article = find_article(root) if "text" in parts or "markdown" in parts else root
    out: list = []
    for part in parts:
        if part == "text":
            out.append("\n\n".join(_paragraphs(article)))
        elif part == "markdown":
            blocks: list[str] = []
            _md_blocks(article, blocks)
            out.append("\n\n".join(blocks))
        elif part == "links":
            hrefs: list[str] = []
            _collect_hrefs(root, hrefs)
            resolved = (_resolve_href(href, base_url) for href in hrefs)
            out.append([absolute for absolute in resolved if absolute is not None])
        else:
            raise ValueError(f"unknown extraction part {part!r}")
    return tuple(out)


def extract_text(html_bytes: bytes | None, fetch_cap: int = FETCH_CAP) -> str:
    """HTML bytes -> article plain text (the golden per-row invariant)."""
    return extract_page(html_bytes, "", fetch_cap, ("text",))[0]


def to_markdown(html_bytes: bytes | None, fetch_cap: int = FETCH_CAP) -> str:
    """HTML bytes -> Markdown of the extracted article subtree."""
    return extract_page(html_bytes, "", fetch_cap, ("markdown",))[0]


def extract_both(html_bytes: bytes | None, fetch_cap: int = FETCH_CAP) -> tuple[str, str]:
    """(text, markdown) from one parse and one article selection."""
    return extract_page(html_bytes, "", fetch_cap, ("text", "markdown"))


def extract_links(
    html_bytes: bytes | None, base_url: str = "", fetch_cap: int = FETCH_CAP
) -> list[str]:
    """Document-order resolved hrefs (extract_page's ``links`` part)."""
    return extract_page(html_bytes, base_url, fetch_cap, ("links",))[0]


def _collect_anchor_pairs(node: Node, out: list) -> None:
    for child in node.children:
        if isinstance(child, Node) and child.tag not in DROP_TAGS:
            if child.tag == "a":
                href = child.attrs.get("href")
                if href:
                    out.append((href, _collapse_ws(_node_text(child))))
                    # the outer anchor's text already covers its whole
                    # subtree; recursing would double-collect anchors
                    # nested inside it (common in malformed crawl HTML)
                    continue
            _collect_anchor_pairs(child, out)


def extract_anchors(
    html_bytes: bytes | None, base_url: str = "", fetch_cap: int = FETCH_CAP
) -> list[tuple[str, str]]:
    """Document-order (resolved_href, anchor_text) pairs — the link-
    graph signal pass (anchor text is the classic relevance/label
    signal for the target URL). Same href filter/resolution contract as
    extract_links (empty / fragment-only / non-http dropped, RFC 3986
    resolution); anchor text is the anchor subtree's whitespace-
    collapsed text (may be '' for image anchors)."""
    html = decode_html(html_bytes, fetch_cap)
    if not html.strip():
        return []
    pairs: list = []
    _collect_anchor_pairs(parse_html(html), pairs)
    out: list[tuple[str, str]] = []
    for href, text in pairs:
        absolute = _resolve_href(href, base_url)
        if absolute is not None:
            out.append((absolute, text))
    return out


def _find_first_any(node: Node, tag: str) -> Node | None:
    """First node with ``tag`` in document order, traversing EVERYTHING
    (including DROP_TAGS — <title>/<meta> live inside <head>)."""
    for child in node.children:
        if isinstance(child, Node):
            if child.tag == tag:
                return child
            found = _find_first_any(child, tag)
            if found is not None:
                return found
    return None


def _collect_meta(node: Node, out: dict) -> None:
    for child in node.children:
        if isinstance(child, Node):
            if child.tag == "meta":
                name = (child.attrs.get("name") or child.attrs.get("property") or "").lower()
                if name and name not in out:
                    out[name] = _collapse_ws(child.attrs.get("content") or "")
            _collect_meta(child, out)


def _subtree_text_all(node: Node) -> str:
    """Subtree text IGNORING drop-tag filtering (title lives in head)."""
    parts: list[str] = []
    for child in node.children:
        if isinstance(child, str):
            parts.append(child)
        else:
            parts.append(_subtree_text_all(child))
    return "".join(parts)


_HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))


def extract_metadata(
    html_bytes: bytes | None, fetch_cap: int = FETCH_CAP
) -> tuple[str, str, str, int]:
    """Page metadata pass: (title, description, h1, n_headings).

    title = first <title>'s text (head is traversed for this pass even
    though the content passes drop it); description = first
    <meta name|property=description|og:description content=...>;
    h1 = first <h1> outside DROP_TAGS; n_headings counts h1-h6 outside
    DROP_TAGS. All text whitespace-collapsed; missing pieces are ''.
    """
    html = decode_html(html_bytes, fetch_cap)
    if not html.strip():
        return ("", "", "", 0)
    root = parse_html(html)
    title_node = _find_first_any(root, "title")
    title = _collapse_ws(_subtree_text_all(title_node)) if title_node is not None else ""
    metas: dict = {}
    _collect_meta(root, metas)
    description = metas.get("description") or metas.get("og:description") or ""
    headings: list[Node] = []
    _find_all(root, _HEADING_TAGS, headings)
    h1 = ""
    for h in headings:
        if h.tag == "h1":
            h1 = _collapse_ws(_node_text(h))
            break
    return (title, description, h1, len(headings))


def truncate_for_save(content: str, save_cap: int = SAVE_CAP) -> str:
    """storage.go:211-216 save-side truncation (bytes, utf-8)."""
    raw = content.encode("utf-8")
    if len(raw) <= save_cap:
        return content
    return raw[:save_cap].decode("utf-8", errors="ignore")
