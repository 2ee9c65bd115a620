"""Block segmentation + markdown rendering over the DOM tree.

The graft of the reference's per-page extraction kernel
(/root/reference/src/stage2_ocr_worker.py:54-144): where the reference
sends a page image through an OCR model, we walk the DOM of the page's
HTML, strip boilerplate by structural + text-density/link-density
heuristics (Readability/Boilerpipe-style), and render the surviving
blocks as markdown, preserving document reading order.

Produces: ordered ``Block`` list + ``PageStats`` used by the
classification contract (kernel/classify.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ocr_pipeline_spark.kernel.dom import Node, parse_html

# --- boilerplate policy -------------------------------------------------

# Subtrees that never contain main content.
_SKIP_TAGS = frozenset(
    "script style noscript template head title meta link base form button "
    "select option optgroup textarea input label iframe object embed applet "
    "audio video canvas map area dialog".split()
)

# Structural boilerplate containers.
_CHROME_TAGS = frozenset("nav header footer aside menu".split())

# ARIA roles marking page chrome.
_CHROME_ROLES = frozenset(
    "navigation banner contentinfo complementary search form menubar toolbar".split()
)

# class/id tokens signalling boilerplate vs content (Readability-style).
_NEGATIVE_RE = re.compile(
    r"(?:^|[\s_-])(?:nav|navbar|menu|footer|sidebar|ad|ads|advert|advertisement|"
    r"banner|cookie|consent|gdpr|promo|social|share|sharing|comment|comments|"
    r"related|widget|breadcrumb|breadcrumbs|pagination|pager|popup|modal|"
    r"subscribe|newsletter|masthead|skyscraper|sponsor)(?:$|[\s_-])"
)
_POSITIVE_RE = re.compile(
    r"(?:^|[\s_-])(?:content|main|article|post|body|text|entry|story|prose)(?:$|[\s_-])"
)

# A text block whose anchor-text share exceeds this is link chrome.
_LINK_DENSITY_MAX = 0.55

_WS_RE = re.compile(r"\s+")
_BR_SENTINEL = "\ufffe"
# collapse whitespace-padded <br> sentinels to newlines in one sub
_BR_COLLAPSE_RE = re.compile(rf"\s*{_BR_SENTINEL}\s*")

# Pathological nesting guard: beyond this element depth the subtree is
# flattened to plain text instead of walked recursively (Common-Crawl
# pages can nest thousands of divs; Python's recursion limit is ~1000).
_MAX_DEPTH = 120

# block-level tags that force separation when nested in inline context
_BLOCK_IN_INLINE = frozenset(
    "p div section article blockquote li ul ol table tr td th thead tbody "
    "tfoot h1 h2 h3 h4 h5 h6 pre dl dt dd figure".split()
)

# diagram signals inside <pre> blocks
_ARROW_RE = re.compile(r"-->|->>|->|→|─|━|│|┌|└|┐|┘|\+--")
_FLOW_HINT_RE = re.compile(r"\b(?:flowchart|graph\s+(?:td|lr|rl|bt)|start|end|yes|no|decision)\b", re.IGNORECASE)
_DIAGRAM_CLASS_RE = re.compile(r"\b(?:mermaid|diagram|flowchart|graphviz|chart|ascii-art)\b")


@dataclass(slots=True)
class Block:
    kind: str       # heading|paragraph|list|table|quote|code|diagram|figure|rule
    text: str       # rendered markdown for the block
    link_chars: int = 0


@dataclass
class PageStats:
    text_chars: int = 0
    table_chars: int = 0
    diagram_chars: int = 0
    code_chars: int = 0
    n_data_tables: int = 0
    n_table_cells: int = 0
    n_figures: int = 0
    n_diagrams: int = 0
    flowchart_votes: int = 0
    dropped_boilerplate_chars: int = 0
    diagram_sources: list[str] = field(default_factory=list)


# (role, id, class) -> _is_chrome verdict: site chrome repeats the same
# attribute values on every page.  Bounded by entries and by key length
# like dom._ATTRS_MEMO, so unique-class floods cannot grow the worker.
_CHROME_MEMO: dict[tuple[str, str, str], bool] = {}
_CHROME_MEMO_MAX = 8192
_CHROME_MEMO_KEY_MAX = 256


def _is_chrome(node: Node) -> bool:
    """Structural/semantic boilerplate test for a container element."""
    if node.tag in _CHROME_TAGS:
        return True
    attrs = node.attrs
    if not attrs:
        return False
    key = (attrs.get("role") or "", attrs.get("id") or "", attrs.get("class") or "")
    chrome = _CHROME_MEMO.get(key)
    if chrome is None:
        role, id_, cls = key
        label = f"{id_} {cls}".lower()
        chrome = role.lower() in _CHROME_ROLES or bool(
            _NEGATIVE_RE.search(label) and not _POSITIVE_RE.search(label)
        )
        if (
            len(role) + len(id_) + len(cls) <= _CHROME_MEMO_KEY_MAX
            and len(_CHROME_MEMO) < _CHROME_MEMO_MAX
        ):
            _CHROME_MEMO[key] = chrome
    return chrome


from ocr_pipeline_spark.kernel.dom import _CONTENT_IDS  # noqa: E402


def select_main_root(doc: Node) -> Node:
    """Pick the content root: <main> > <article> > role=main > content ids
    > <body>.  Priority ties broken by document order (first match of the
    highest available tier wins).

    The fast tokenizer records the candidates during its single parse
    pass (doc.hints); stdlib-parsed or hand-built trees fall back to a
    pre-order traversal with identical semantics."""
    hints = getattr(doc, "hints", None)
    if hints is not None:
        main_node, article, role_main, content_div, body = hints
        return (
            main_node or article or role_main or content_div or body or doc
        )
    article = role_main = content_div = body = None
    stack = [c for c in reversed(doc.children) if c.__class__ is Node]
    while stack:
        node = stack.pop()
        if node.__class__ is not Node:
            continue
        tag = node.tag
        if tag == "main":
            return node
        if tag == "article":
            if article is None:
                article = node
        elif node.attrs:
            if role_main is None and node.attrs.get("role", "").lower() == "main":
                role_main = node
            elif (
                content_div is None
                and tag in ("div", "section")
                and node.attrs.get("id", "").lower() in _CONTENT_IDS
            ):
                content_div = node
        if tag == "body" and body is None:
            body = node
        stack.extend(reversed(node.children))
    return article or role_main or content_div or body or doc


class _Renderer:
    """One pass over the main-content subtree → ordered blocks + stats."""

    def __init__(self) -> None:
        self.blocks: list[Block] = []
        self.stats = PageStats()
        self._fig_counter = 0

    # -- inline rendering --------------------------------------------------
    def _inline(
        self, node: Node, in_link: bool = False, depth: int = 0
    ) -> tuple[str, int]:
        """Render phrasing content: returns (text, link_chars)."""
        if depth > _MAX_DEPTH:
            text = " ".join(node.text(" ").split())
            return text, len(text) if in_link else 0
        children = node.children
        if len(children) == 1 and isinstance(children[0], str):
            # one text child (most cells and paragraphs): the loop below
            # reduced to what it does for a lone string
            text = " ".join(children[0].split())
            link_chars = len(text) if in_link else 0
            if _BR_SENTINEL in text:
                text = _BR_COLLAPSE_RE.sub("\n", text).strip()
            return text, link_chars
        parts: list[str] = []
        link_chars = 0
        for child in children:
            if isinstance(child, str):
                parts.append(child)
                if in_link:
                    link_chars += len(" ".join(child.split()))
                continue
            tag = child.tag
            if tag in _SKIP_TAGS or tag in _CHROME_TAGS:
                continue
            if tag == "br":
                parts.append(_BR_SENTINEL)
            elif tag == "a":
                inner, _ = self._inline(child, True, depth + 1)
                parts.append(inner)
                link_chars += len(inner.strip())
            elif tag in ("strong", "b"):
                inner, lc = self._inline(child, in_link, depth + 1)
                link_chars += lc
                parts.append(f"**{inner}**" if inner.strip() else inner)
            elif tag in ("em", "i"):
                inner, lc = self._inline(child, in_link, depth + 1)
                link_chars += lc
                parts.append(f"*{inner}*" if inner.strip() else inner)
            elif tag in ("code", "kbd", "samp", "tt"):
                inner, lc = self._inline(child, in_link, depth + 1)
                link_chars += lc
                parts.append(f"`{inner}`" if inner.strip() else inner)
            elif tag == "img":
                parts.append(self._figure_ref(child))
            elif tag in _BLOCK_IN_INLINE:
                # block element nested in inline context (malformed HTML):
                # force line separation so adjacent words don't fuse
                inner, lc = self._inline(child, in_link, depth + 1)
                link_chars += lc
                if inner:
                    parts.append(_BR_SENTINEL + inner + _BR_SENTINEL)
            else:
                inner, lc = self._inline(child, in_link, depth + 1)
                link_chars += lc
                parts.append(inner)
        # ' '.join(split()) == _WS_RE.sub(' ', ...) + outer strip, but in
        # one C pass (both treat the full unicode whitespace set alike);
        # the sentinel sub runs only when a <br> actually occurred
        text = " ".join("".join(parts).split())
        if _BR_SENTINEL in text:
            # restore explicit line breaks after whitespace collapsing
            text = _BR_COLLAPSE_RE.sub("\n", text).strip()
        return text, link_chars

    def _figure_ref(self, img: Node) -> str:
        self._fig_counter += 1
        self.stats.n_figures += 1
        alt = " ".join(img.attr("alt").split()).replace("]", "")
        label = alt if alt else "Figure"
        return f"![{label}](figures/{self._fig_counter})"

    # -- block rendering -----------------------------------------------------
    def _emit_text_block(self, kind: str, text: str, link_chars: int) -> None:
        if not text:
            return
        total = len(text)
        if total and link_chars / total > _LINK_DENSITY_MAX and kind != "heading":
            self.stats.dropped_boilerplate_chars += total
            return
        self.blocks.append(Block(kind, text, link_chars))
        self.stats.text_chars += total

    def _render_list(self, node: Node, ordered: bool, depth: int) -> tuple[list[str], int, int]:
        if depth > 40:  # pathological list nesting: flatten
            text = " ".join(node.text(" ").split())
            return ([("  " * 40) + "- " + text] if text else []), 0, len(text)
        lines: list[str] = []
        link_chars = 0
        total_chars = 0
        index = 0
        for child in node.children:
            if not isinstance(child, Node) or child.tag != "li":
                continue
            index += 1
            nested: list[Node] = []
            holder = Node("#li")
            for grand in child.children:
                if isinstance(grand, Node) and grand.tag in ("ul", "ol"):
                    nested.append(grand)
                else:
                    holder.children.append(grand)
            text, lc = self._inline(holder)
            link_chars += lc
            total_chars += len(text)
            marker = f"{index}. " if ordered else "- "
            if text:
                first, *rest = text.split("\n")
                lines.append("  " * depth + marker + first)
                lines.extend("  " * depth + "  " + r for r in rest)
            for sub in nested:
                sub_lines, sub_lc, sub_tc = self._render_list(sub, sub.tag == "ol", depth + 1)
                lines.extend(sub_lines)
                link_chars += sub_lc
                total_chars += sub_tc
        return lines, link_chars, total_chars

    def _table_rows(self, table: Node) -> list[list[str]]:
        rows: list[list[str]] = []
        self._collect_rows(table, rows)
        return [r for r in rows if any(c.strip() for c in r)] or rows

    def _collect_rows(self, container: Node, rows: list[list[str]]) -> None:
        # a method, not a recursive closure: a closure that calls itself
        # is a reference cycle, and the kernel must create none
        for child in container.children:
            if not isinstance(child, Node):
                continue
            if child.tag == "tr":
                cells = []
                for cell in child.children:
                    if isinstance(cell, Node) and cell.tag in ("td", "th"):
                        text, _ = self._inline(cell)
                        # _inline output is whitespace-normalized
                        # except for <br> newlines
                        if "\n" in text:
                            text = " ".join(text.split())
                        cells.append(text.replace("|", "\\|"))
                rows.append(cells)
            elif child.tag in ("thead", "tbody", "tfoot"):
                self._collect_rows(child, rows)

    def _render_table(self, node: Node, depth: int = 0) -> None:
        rows = self._table_rows(node)
        ncols = max((len(r) for r in rows), default=0)
        if len(rows) < 2 or ncols < 2:
            # layout table (old-web page scaffolding): treat as transparent flow
            self._walk_children(node, depth + 1)
            return
        padded = [r + [""] * (ncols - len(r)) for r in rows]
        lines = ["| " + " | ".join(padded[0]) + " |",
                 "| " + " | ".join(["---"] * ncols) + " |"]
        lines.extend("| " + " | ".join(r) + " |" for r in padded[1:])
        text = "\n".join(lines)
        self.blocks.append(Block("table", text))
        self.stats.table_chars += sum(len(c) for r in rows for c in r)
        self.stats.n_table_cells += sum(len(r) for r in rows)
        self.stats.n_data_tables += 1

    def _render_pre(self, node: Node) -> None:
        raw = node.text().strip("\n")
        if not raw.strip():
            return
        classes = " ".join(node.classes())
        diagramish = bool(_DIAGRAM_CLASS_RE.search(classes)) or (
            raw.count("\n") >= 1 and bool(_ARROW_RE.search(raw))
        )
        fenced = f"```\n{raw}\n```"
        if diagramish:
            self.blocks.append(Block("diagram", fenced))
            self.stats.diagram_chars += len(raw)
            self.stats.n_diagrams += 1
            self.stats.diagram_sources.append(raw)
            if _FLOW_HINT_RE.search(raw) or "flowchart" in classes:
                self.stats.flowchart_votes += 1
        else:
            self.blocks.append(Block("code", fenced))
            self.stats.code_chars += len(raw)

    def _render_svg(self, node: Node) -> None:
        raw = " ".join(node.text(" ").split())
        self.stats.n_diagrams += 1
        self.stats.diagram_chars += max(len(raw), 40)
        self.stats.diagram_sources.append(raw)
        if raw:
            self.blocks.append(Block("diagram", f"```\n{raw}\n```"))

    def _render_figure(self, node: Node, depth: int = 0) -> None:
        refs: list[str] = []
        caption = ""
        for child in node.find_all("img"):
            refs.append(self._figure_ref(child))
            alt = " ".join(child.attr("alt").split())
            if alt and not caption:
                caption = alt
        for child in node.children:
            if isinstance(child, Node) and child.tag == "figcaption":
                text, _ = self._inline(child)
                if text:
                    caption = text
                break
        if not refs:
            # a figure without <img> can still wrap a pre/svg diagram
            self._walk_children(node, depth + 1)
            if caption:
                self.blocks.append(Block("paragraph", f"*{caption}*"))
            return
        body = "\n\n".join(refs)
        if caption:
            body += f"\n\n*{caption}*"
        self.blocks.append(Block("figure", body))

    # -- the walk ---------------------------------------------------------
    _HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
    _CONTAINERS = frozenset(
        "div section article main body html span center details summary "
        "dl dt dd address #document #li td th".split()
    )
    # element tags that end the pending paragraph and render as blocks
    _BLOCK_TAGS = _CONTAINERS | frozenset(_HEADINGS) | frozenset(
        "p ul ol blockquote pre table svg figure img hr".split()
    )

    def _flush_pending(self, pending: list[tuple[str, int]]) -> None:
        text = " ".join(" ".join(p for p, _ in pending).split())
        link_chars = sum(lc for _, lc in pending)
        pending.clear()
        self._emit_text_block("paragraph", text, link_chars)

    def _walk_children(self, node: Node, depth: int = 0) -> None:
        if depth > _MAX_DEPTH:
            text = " ".join(node.text(" ").split())
            self._emit_text_block("paragraph", text, 0)
            return
        pending: list[tuple[str, int]] = []
        for child in node.children:
            if isinstance(child, str):
                if child.strip():
                    pending.append((_WS_RE.sub(" ", child), 0))
                continue
            tag = child.tag
            if tag in _SKIP_TAGS:
                continue
            if tag in _CHROME_TAGS or (child.attrs and _is_chrome(child)):
                self.stats.dropped_boilerplate_chars += len(child.text())
                continue
            if tag not in self._BLOCK_TAGS:
                # unknown/inline element encountered at block level: treat as
                # phrasing content and fold into the pending paragraph
                text, lc = self._inline(child, depth=depth + 1)
                if tag == "a":
                    lc = len(text)  # the whole element is anchor text
                if text:
                    pending.append((text, lc))
                continue
            if pending:
                self._flush_pending(pending)
            if tag == "p":
                text, lc = self._inline(child)
                self._emit_text_block("paragraph", text, lc)
            elif tag in self._CONTAINERS:
                self._walk_children(child, depth + 1)
            elif tag in self._HEADINGS:
                text, lc = self._inline(child)
                if text:
                    level = self._HEADINGS[tag]
                    self._emit_text_block("heading", "#" * level + " " + text, lc)
            elif tag == "ul" or tag == "ol":
                lines, lc, tc = self._render_list(child, tag == "ol", 0)
                if lines:
                    text = "\n".join(lines)
                    if tc and lc / max(tc, 1) > _LINK_DENSITY_MAX:
                        self.stats.dropped_boilerplate_chars += tc
                    else:
                        self.blocks.append(Block("list", text, lc))
                        self.stats.text_chars += tc
            elif tag == "blockquote":
                text, lc = self._inline(child)
                if text:
                    quoted = "\n".join("> " + ln for ln in text.split("\n"))
                    self._emit_text_block("quote", quoted, lc)
            elif tag == "pre":
                self._render_pre(child)
            elif tag == "table":
                self._render_table(child, depth)
            elif tag == "svg":
                self._render_svg(child)
            elif tag == "figure":
                self._render_figure(child, depth)
            elif tag == "img":
                self.blocks.append(Block("figure", self._figure_ref(child)))
            else:  # hr
                self.blocks.append(Block("rule", "---"))
        if pending:
            self._flush_pending(pending)


def render_blocks(html: str | bytes) -> tuple[list[Block], PageStats]:
    """Parse + boilerplate-strip + render: the page's ordered block list."""
    doc = parse_html(html)
    root = select_main_root(doc)
    renderer = _Renderer()
    renderer._walk_children(root)
    return renderer.blocks, renderer.stats
