"""Test oracle: the two-tier string scanner that `dom.parse_html` used
before the one-pass token scanner replaced it.

Kept verbatim in behaviour so the differential tests can pin the
package's scanner to it node for node: same tree, same attribute
dicts, same text chunking, same main-root `hints`.  It shares the
tree-building tables (void tags, implied closes, attribute opt-ins)
with `ocr_pipeline_spark.kernel.dom`, because those are the rules both
scanners feed, not part of the tokenizing under test.

Two tiers:
  * memchr tier: `str.find('<')` + `find('>')` and a pure-name segment
    check handle end tags and bare start tags with no regex work;
  * regex tier: anything else (attributes, quotes, comments, decls,
    stray '<') goes through `_TAG_RE.search` at the found '<'.
"""

from __future__ import annotations

import html as _html_mod
import re

from ocr_pipeline_spark.kernel.dom import (
    _ATTR_TAGS,
    _CONTENT_IDS,
    _IMPLIED_TAGS,
    _META_TAGS,
    _P_CLOSERS,
    _RAW_TEXT,
    _SIBLING_CLOSERS,
    VOID_TAGS,
    Node,
    _parse_attrs,
)

_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

_TAG_RE = re.compile(
    r"<(?:"
    r"!--(?P<comment>.*?)(?:-->|$)"
    r"|!\[CDATA\[(?P<cdata>.*?)(?:\]\]>|$)"
    r"|(?P<decl>![^>]*)>"
    r"|\?(?P<pi>[^>]*)>"
    r"|(?P<end>/)?(?P<name>[a-zA-Z][a-zA-Z0-9:_.-]*)(?P<attrs>[^>\"']*(?:\"[^\"]*\"[^>\"']*|'[^']*'[^>\"']*)*)(?P<selfclose>/?)>"
    r")",
    re.DOTALL,
)
_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9:_.-]*")


def parse_html_oracle(
    html: str, hrefs: bool = False, metadata: bool = False
) -> Node:
    root = Node("#document")
    stack = [root]
    open_p = 0
    search = _TAG_RE.search
    find = html.find
    unescape = _html_mod.unescape
    main_node = article = role_main = content_div = body = None
    lowered = None
    pos = 0
    n = len(html)
    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            text = html[pos:]
            if "&" in text:
                text = unescape(text)
            stack[-1].children.append(text)
            break
        tag = None
        is_end = False
        attrs_raw = ""
        selfclose = ""
        nxt = html[lt + 1 : lt + 2]
        if nxt == "/":
            gt = find(">", lt + 2)
            if gt != -1:
                seg = html[lt + 2 : gt]
                if (
                    seg
                    and seg.isascii()
                    and seg.isalnum()
                    and not seg[0].isdigit()
                ):
                    tag = seg.lower()
                    is_end = True
                    tag_start, tag_end = lt, gt + 1
        elif nxt and nxt.isascii() and nxt.isalpha():
            gt = find(">", lt + 1)
            if gt != -1:
                seg = html[lt + 1 : gt]
                if seg.isascii() and seg.isalnum():
                    tag = seg.lower()
                    tag_start, tag_end = lt, gt + 1
                else:
                    dq, sq = '"' in seg, "'" in seg
                    if (
                        (not dq or not sq)
                        and (not dq or seg.count('"') % 2 == 0)
                        and (not sq or seg.count("'") % 2 == 0)
                    ):
                        m2 = _NAME_RE.match(seg)
                        if m2 is not None:
                            tag = m2.group().lower()
                            attrs_raw = seg[m2.end() :]
                            tag_start, tag_end = lt, gt + 1
        if tag is None:
            m = search(html, lt)
            if m is None:
                text = html[pos:]
                if "&" in text:
                    text = unescape(text)
                stack[-1].children.append(text)
                break
            tag_start, tag_end = m.start(), m.end()
            end_g, name, attrs_raw, selfclose = m.group(5, 6, 7, 8)
            if name is None:
                if tag_start > pos:
                    text = html[pos:tag_start]
                    if "&" in text:
                        text = unescape(text)
                    stack[-1].children.append(text)
                pos = tag_end
                continue
            tag = name.lower()
            is_end = bool(end_g)
        if tag_start > pos:
            text = html[pos:tag_start]
            if "&" in text:
                text = unescape(text)
            stack[-1].children.append(text)
        pos = tag_end
        if is_end:
            if tag in VOID_TAGS:
                continue
            for depth in range(len(stack) - 1, 0, -1):
                if stack[depth].tag == tag:
                    if open_p:
                        for node in stack[depth:]:
                            if node.tag == "p":
                                open_p -= 1
                    del stack[depth:]
                    break
            continue
        if attrs_raw and (
            tag in _ATTR_TAGS
            or "class" in attrs_raw
            or "id" in attrs_raw
            or "role" in attrs_raw
            or "alt" in attrs_raw
            or (hrefs and "href" in attrs_raw)
            or (metadata and tag in _META_TAGS)
        ):
            attrs = _parse_attrs(attrs_raw)
        else:
            attrs = {}
        if tag in _IMPLIED_TAGS:
            siblings = _SIBLING_CLOSERS.get(tag)
            if siblings:
                while len(stack) > 1 and stack[-1].tag in siblings:
                    stack.pop()
            if tag in _P_CLOSERS:
                if stack[-1].tag in _HEADING_TAGS and len(stack) > 1:
                    stack.pop()
                if open_p:
                    blocked = False
                    while len(stack) > 1 and stack[-1].tag != "p":
                        t = stack[-1].tag
                        if t in _P_CLOSERS or t in ("td", "th", "li", "body", "html"):
                            blocked = True
                            break
                        stack.pop()
                    if not blocked and len(stack) > 1 and stack[-1].tag == "p":
                        stack.pop()
                        open_p -= 1
        node = Node(tag, attrs)
        if main_node is None:
            if tag == "main":
                main_node = node
            else:
                if tag == "article":
                    if article is None:
                        article = node
                elif attrs:
                    if (
                        role_main is None
                        and attrs.get("role", "").lower() == "main"
                    ):
                        role_main = node
                    elif (
                        content_div is None
                        and (tag == "div" or tag == "section")
                        and attrs.get("id", "").lower() in _CONTENT_IDS
                    ):
                        content_div = node
                if tag == "body" and body is None:
                    body = node
        stack[-1].children.append(node)
        if selfclose or tag in VOID_TAGS:
            continue
        stack.append(node)
        if tag == "p":
            open_p += 1
        if tag in _RAW_TEXT:
            close = html.find(f"</{tag}", pos)
            if close == -1:
                if lowered is None:
                    lowered = html.lower()
                close = lowered.find(f"</{tag}", pos)
            if close == -1:
                raw = html[pos:]
                pos = n
            else:
                raw = html[pos:close]
                gt = html.find(">", close)
                pos = n if gt == -1 else gt + 1
            if raw:
                stack[-1].children.append(raw)
            stack.pop()
    root.hints = (main_node, article, role_main, content_div, body)
    return root


def dump(root: Node) -> list:
    """Pre-order dump of a tree: (depth, tag, attr items) per element,
    (depth, text) per text child, then the hint nodes' pre-order
    indexes.  Two trees with equal dumps are node-for-node identical."""
    out: list = []
    index: dict[int, int] = {}
    stack = [(root, 0)]
    while stack:
        node, depth = stack.pop()
        if isinstance(node, str):
            out.append((depth, node))
            continue
        index[id(node)] = len(out)
        out.append((depth, node.tag, tuple(node.attrs.items())))
        stack.extend((c, depth + 1) for c in reversed(node.children))
    hints = getattr(root, "hints", None)
    out.append(
        None if hints is None
        else tuple(None if h is None else index[id(h)] for h in hints)
    )
    return out
