"""Deterministic CSS-selector extraction over the Node tree (X-sel).

Reference API surface: /root/reference/pathik/cli.py:129-131 and
/root/reference/pathik/schema.py:81-86 expose ``selector`` /
``selector_files`` (the CLI ``-s`` flag, "CSS selector to extract
specific content"). The reference's Go binary drops the flag on the
floor, so there is no behavior to reproduce — the matching semantics
here are the normative ones: a documented, deterministic subset of CSS
Selectors Level 3 evaluated against the same lenient tree the
extraction kernel builds (kernels/extract.parse_html), with the same
whitespace discipline as article extraction.

Supported grammar (everything else -> ValueError, fail loudly):

    group      = complex ("," complex)*
    complex    = compound (combinator compound)*
    combinator = ">" (child) | whitespace (descendant)
    compound   = [tag | "*"] simple*
    simple     = "#id" | ".class" | "[attr]" | "[attr=value]"
                 | "[attr='value']" | '[attr="value"]'

Matching is exact-backtracking (a farther ancestor may satisfy a
descendant step when the nearest one does not), results are in document
order, deduplicated; an element matching several group alternatives
emits once.
"""

from __future__ import annotations

import re

from pathik_spark.kernels.extract import (
    FETCH_CAP,
    Node,
    _paragraphs,
    decode_html,
    parse_html,
)

_TOKEN = re.compile(
    r"""
    (?P<tag>\*|[a-zA-Z][a-zA-Z0-9-]*)
  | \#(?P<id>[a-zA-Z0-9_-]+)
  | \.(?P<cls>[a-zA-Z0-9_-]+)
  | \[(?P<attr>[a-zA-Z][a-zA-Z0-9_-]*)
        (?:=(?P<aval>"[^"]*"|'[^']*'|[^\]]*))?\]
    """,
    re.VERBOSE,
)


def _parse_compound(text: str) -> dict:
    """One compound selector -> {tag, ids, classes, attrs}."""
    pos = 0
    out = {"tag": None, "ids": [], "classes": [], "attrs": []}
    first = True
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if m is None:
            raise ValueError(f"unsupported selector syntax at {text[pos:]!r}")
        if m.group("tag") is not None:
            if not first:
                raise ValueError(f"type selector must lead the compound: {text!r}")
            if m.group("tag") != "*":
                out["tag"] = m.group("tag").lower()
        elif m.group("id") is not None:
            out["ids"].append(m.group("id"))
        elif m.group("cls") is not None:
            out["classes"].append(m.group("cls"))
        else:
            val = m.group("aval")
            if val is not None and len(val) >= 2 and val[0] in "\"'" and val[-1] == val[0]:
                val = val[1:-1]
            out["attrs"].append((m.group("attr").lower(), val))
        first = False
        pos = m.end()
    if first:
        raise ValueError("empty compound selector")
    return out


def parse_selector(selector: str) -> list[list[tuple[str | None, dict]]]:
    """Selector group -> list of complex selectors; each complex is
    ``[(None, compound0), (combinator, compound1), ...]`` where the
    combinator binds the compound to the one on its LEFT."""
    group = []
    for alt in selector.split(","):
        alt = alt.strip()
        if not alt:
            raise ValueError(f"empty alternative in selector group: {selector!r}")
        # normalize child combinators so split() separates tokens
        tokens = alt.replace(">", " > ").split()
        parts: list[tuple[str | None, dict]] = []
        pending: str | None = None
        for tok in tokens:
            if tok == ">":
                if pending is not None or not parts:
                    raise ValueError(f"dangling '>' in selector: {alt!r}")
                pending = ">"
            else:
                comb = pending if pending else (" " if parts else None)
                parts.append((comb, _parse_compound(tok)))
                pending = None
        if pending is not None:
            raise ValueError(f"dangling '>' in selector: {alt!r}")
        group.append(parts)
    return group


def _match_simple(node: Node, comp: dict) -> bool:
    if not isinstance(node, Node) or node.tag.startswith("#"):
        return False
    if comp["tag"] is not None and node.tag != comp["tag"]:
        return False
    attrs = node.attrs
    for i in comp["ids"]:
        if attrs.get("id") != i:
            return False
    if comp["classes"]:
        classes = (attrs.get("class") or "").split()
        for c in comp["classes"]:
            if c not in classes:
                return False
    for name, val in comp["attrs"]:
        if name not in attrs:
            return False
        if val is not None and (attrs.get(name) or "") != val:
            return False
    return True


def _matches_at(path: list[Node], i: int, parts, k: int) -> bool:
    """Does compound k match path[i] with its left context satisfied?
    Backtracks over descendant steps (nearest-ancestor-first is wrong
    for patterns like ``a b b``)."""
    if not _match_simple(path[i], parts[k][1]):
        return False
    if k == 0:
        return True
    comb = parts[k][0]
    if comb == ">":
        return i > 0 and _matches_at(path, i - 1, parts, k - 1)
    return any(_matches_at(path, j, parts, k - 1) for j in range(i - 1, -1, -1))


def select_nodes(root: Node, selector: str | list) -> list[Node]:
    """All elements matching the selector group, document order, deduped."""
    group = parse_selector(selector) if isinstance(selector, str) else selector
    out: list[Node] = []
    path: list[Node] = []

    def walk(node: Node) -> None:
        path.append(node)
        i = len(path) - 1
        for parts in group:
            if _matches_at(path, i, parts, len(parts) - 1):
                out.append(node)
                break
        for child in node.children:
            if isinstance(child, Node):
                walk(child)
        path.pop()

    for child in root.children:
        if isinstance(child, Node):
            walk(child)
    return out


def select_text(
    html_bytes: bytes | None, selector: str | list, fetch_cap: int = FETCH_CAP
) -> str:
    """Matched elements' text, article-extraction whitespace discipline
    (collapsed paragraphs joined by blank lines); '' when nothing
    matches or the document is empty. ``selector`` is a selector string
    or a group already compiled by parse_selector."""
    html = decode_html(html_bytes, fetch_cap)
    if not html.strip():
        return ""
    paras: list[str] = []
    for node in select_nodes(parse_html(html), selector):
        paras.extend(_paragraphs(node))
    return "\n\n".join(paras)
