"""Forgiving HTML → lightweight DOM tree: a one-pass regex scanner, with
stdlib ``html.parser`` as its fallback.

This replaces the reference's page-image rendering front end
(/root/reference/src/stage2_ocr.py:406-442): for web pages the "page"
is the HTML byte blob itself, so the tokenizer is the scan operator.

Design constraints:
  * stdlib only (no lxml/bs4) — zero native deps so executors stay
    uniform under ``spark-submit --py-files`` (SURVEY.md §7);
  * forgiving: unclosed tags, stray end tags, and implicit closes
    (``<p>``/``<li>``/table rows) must parse the way browsers do, because
    Common-Crawl HTML is overwhelmingly malformed;
  * deterministic: output depends only on the input bytes.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser


# shared by every element without attributes; attr dicts are never
# mutated after the parse (readers use attr()/classes()/get only)
_NO_ATTRS: dict[str, str] = {}


class Node:
    """An element node.  Text nodes are plain ``str`` children.

    ``hints`` is set only on the ``#document`` root by the scanner
    (`_parse_html_fast`): the pre-order main-content candidates
    (main, article, role_main, content_div, body) recorded during the
    parse so blocks.select_main_root skips its second full traversal.
    Unset (AttributeError via getattr default) on stdlib-parsed trees.
    """

    __slots__ = ("tag", "attrs", "children", "hints")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None):
        self.tag = tag
        self.attrs = attrs or _NO_ATTRS
        self.children: list[Node | str] = []

    # -- convenience accessors -----------------------------------------
    def attr(self, name: str) -> str:
        return self.attrs.get(name) or ""

    def classes(self) -> list[str]:
        return self.attr("class").lower().split()

    def find_all(self, *tags: str):
        """Depth-first pre-order iterator over descendant elements."""
        want = set(tags)
        stack = list(reversed(self.children))
        while stack:
            child = stack.pop()
            if isinstance(child, Node):
                if not want or child.tag in want:
                    yield child
                stack.extend(reversed(child.children))

    def text(self, sep: str = "") -> str:
        """Concatenated text of all descendant text nodes (raw, unnormalized)."""
        parts: list[str] = []
        stack = list(reversed(self.children))
        while stack:
            child = stack.pop()
            if isinstance(child, str):
                parts.append(child)
            else:
                stack.extend(reversed(child.children))
        return sep.join(parts)

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"<Node {self.tag} children={len(self.children)}>"


# Elements that never have content (HTML5 void elements).
VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Opening one of these implicitly closes an open <p> (browser behavior).
_P_CLOSERS = frozenset(
    "address article aside blockquote details div dl fieldset figcaption figure "
    "footer form h1 h2 h3 h4 h5 h6 header hr main menu nav ol p pre section "
    "table ul".split()
)

# tag being opened -> set of tags it implicitly closes while on top of stack
_SIBLING_CLOSERS: dict[str, frozenset[str]] = {
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "tr": frozenset({"tr", "td", "th"}),
    "td": frozenset({"td", "th"}),
    "th": frozenset({"td", "th"}),
    "thead": frozenset({"tr", "td", "th"}),
    "tbody": frozenset({"tr", "td", "th", "thead"}),
    "tfoot": frozenset({"tr", "td", "th", "tbody"}),
    "option": frozenset({"option"}),
    "optgroup": frozenset({"option", "optgroup"}),
}


# start tags with any implied-close semantics; everything else (a, span,
# b, i, em, td-free inline soup...) skips _implied_closes entirely
_IMPLIED_TAGS = _P_CLOSERS | frozenset(_SIBLING_CLOSERS)


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self._stack: list[Node] = [self.root]
        self._open_p = 0  # count of <p> nodes currently on the stack

    # -- helpers ---------------------------------------------------------
    def _top(self) -> Node:
        return self._stack[-1]

    _HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

    def _implied_closes(self, tag: str) -> None:
        stack = self._stack
        siblings = _SIBLING_CLOSERS.get(tag)
        if siblings:
            while len(stack) > 1 and stack[-1].tag in siblings:
                stack.pop()
        if tag in _P_CLOSERS:
            # a block element opening inside an unclosed heading closes it —
            # browsers nest here, but for text extraction a truncated <h1>
            # must not swallow the rest of the page
            if stack[-1].tag in self._HEADING_TAGS and len(stack) > 1:
                stack.pop()
            # close an open <p> anywhere above the nearest block boundary
            if self._open_p:
                while len(stack) > 1 and stack[-1].tag != "p":
                    # only unwind through inline formatting, not real blocks
                    if stack[-1].tag in _P_CLOSERS or stack[-1].tag in (
                        "td", "th", "li", "body", "html",
                    ):
                        return
                    stack.pop()
                if len(stack) > 1 and stack[-1].tag == "p":
                    stack.pop()
                    self._open_p -= 1

    # -- shared start-tag entry (both tokenizers) ---------------------------
    def _handle_start_parsed(
        self, tag: str, attrs: dict[str, str], self_closing: bool
    ) -> None:
        if tag in _IMPLIED_TAGS:
            self._implied_closes(tag)
        node = Node(tag, attrs)
        self._stack[-1].children.append(node)
        if not self_closing and tag not in VOID_TAGS:
            self._stack.append(node)
            if tag == "p":
                self._open_p += 1

    # -- HTMLParser callbacks ---------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        self._handle_start_parsed(
            tag, {k: (v if v is not None else "") for k, v in attrs}, False
        )

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._handle_start_parsed(
            tag, {k: (v if v is not None else "") for k, v in attrs}, True
        )

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_TAGS:
            return
        # find the nearest matching open element; ignore stray end tags
        stack = self._stack
        for depth in range(len(stack) - 1, 0, -1):
            if stack[depth].tag == tag:
                if self._open_p:
                    for node in stack[depth:]:
                        if node.tag == "p":
                            self._open_p -= 1
                del stack[depth:]
                return

    def handle_data(self, data: str) -> None:
        if data:
            self._top().children.append(data)


def _parse_html_stdlib(html: str) -> Node:
    """Reference tokenizer: stdlib html.parser driving the tree builder."""
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        # html.parser is already lenient; anything that still raises is
        # treated as truncation — keep whatever tree was built so far.
        pass
    return builder.root


# --- scanner -----------------------------------------------------------------
# One compiled tag regex splits the whole document in a single `re.split`
# (a C loop); the Python loop in `_parse_html_fast` only builds the tree.
# The split list holds, per tag, its groups and then the text up to the
# next tag, so a '<' that starts no tag stays inside that text.  Attributes are parsed lazily (only
# for tags whose attributes a caller reads) and memoized; entity
# unescaping runs only on text that contains '&'.  Each group costs a
# slice per tag, so there are few.

import html as _html_mod

# raw-text elements: content is literal until the matching end tag
_RAW_TEXT = frozenset(("script", "style", "textarea", "title"))

_NAME = r"[a-zA-Z][a-zA-Z0-9:_.-]*"
# attrs via "unrolled loop": one linear scan of plain chars, the quoted
# alternatives tried only at quote characters.  A '>' inside a quoted
# value does not end the tag; a quote that never closes leaves no tag,
# so the '<' is text.  A trailing '/' lands in the attrs, so no tag
# self-closes.
_ATTRS = r"[^>\"']*(?:\"[^\"]*\"[^>\"']*|'[^']*'[^>\"']*)*"
# comment, CDATA, declaration, processing instruction: dropped
_DROPPED = r"!--.*?(?:-->|$)|!\[CDATA\[.*?(?:\]\]>|$)|![^>]*>|\?[^>]*>"
# a whole raw-text element: start tag in any case, body to the first
# lowercase '</name', then past the next '>'; with no such close, the
# rest of the document (its body is never tokenized as markup)
_RAW_ELEMENT = "|".join(
    "".join(f"[{c}{c.upper()}]" for c in tag)
    + rf"(?![a-zA-Z0-9:_.-]){_ATTRS}>(?:.*?</{tag}[^>]*>?|.*)"
    for tag in sorted(_RAW_TEXT)
)


def _tag_re(raw_element: str) -> re.Pattern:
    # groups: 1 raw-text element (from `raw_element`), 2 '/' of an end
    # tag, 3 tag name, 4 attrs; dropped markup leaves all four None
    return re.compile(
        rf"<(?:({raw_element})|(/)?({_NAME})({_ATTRS})>|{_DROPPED})", re.DOTALL
    )


_TAG_RE = _tag_re(_RAW_ELEMENT)
# the same groups, with a raw-text alternative that never matches
_BARE_TAG_RE = _tag_re("(?!)")
# the start tag at the head of a raw-text element (group 1 of _TAG_RE)
_RAW_START_RE = re.compile(rf"([a-zA-Z]+)({_ATTRS})>")


def _raw_element(raw: str) -> tuple[str, str, str | None]:
    """(name, attrs, body) of a `_TAG_RE` raw-text element; body is
    None when no lowercase close follows the start tag."""
    start = _RAW_START_RE.match(raw)
    name, attrs = start.groups()
    close = raw.find("</" + name.lower(), start.end())
    return name, attrs, None if close == -1 else raw[start.end() : close]


# After the last '>' only a comment or CDATA can start a match: every
# other alternative ends in '>'.  Scanned as a whole, each '<name' there
# would run its attrs to the end of the document, quadratic in their
# count.
_TAIL_RE = re.compile(r"<!(?:--|\[CDATA\[)")


def _matches(pattern: re.Pattern, html: str, pos: int = 0, cut: int = -1):
    """`pattern.finditer(html, pos)` for `_TAG_RE` or `_BARE_TAG_RE`,
    linear however many '<' follow the last '>' (`cut` is one past it).
    A match of the document cut there is the whole document's match,
    unless it ends at the cut: a comment, CDATA or raw-text element may
    run on to the end, so that one is matched again uncut."""
    if cut < 0:
        cut = html.rfind(">") + 1
    for m in pattern.finditer(html, pos, cut):
        if m.end() == cut:
            m = pattern.match(html, m.start())
        yield m
        pos = m.end()
    pos = max(pos, cut)
    while (tail := _TAIL_RE.search(html, pos)) is not None:
        m = pattern.match(html, tail.start())
        yield m
        pos = m.end()


def _split(html: str) -> list:
    """`_TAG_RE.split(html)`: one C call unless a '<' follows the last
    '>', else built from `_matches`."""
    cut = html.rfind(">") + 1
    if html.find("<", cut) == -1:
        return _TAG_RE.split(html)
    parts: list = []
    pos = 0
    for m in _matches(_TAG_RE, html, 0, cut):
        parts.append(html[pos : m.start()])
        parts += m.groups()
        pos = m.end()
    parts.append(html[pos:])
    return parts


def _split_from(html: str, pos: int) -> list:
    """`_TAG_RE.split(html[pos:])[1:]` for a `pos` where a tag starts,
    with every raw-text body found the slow, exact way: the first
    `</name` in lowercase, else the first in any case (an index into the
    lowered document), then past the next '>'.  Linear however many
    elements need the second search."""
    parts: list = []
    lowered = None
    n = len(html)
    cut = html.rfind(">") + 1
    while pos < n:
        for m in _matches(_BARE_TAG_RE, html, pos, cut):
            if parts:
                parts.append(html[pos : m.start()])  # text after the last tag
            raw, end, name, attrs = m.groups()
            pos = m.end()
            if end or not name or name.lower() not in _RAW_TEXT:
                parts += (raw, end, name, attrs)
                continue
            tag = name.lower()
            close = html.find("</" + tag, pos)
            if close == -1:
                if lowered is None:
                    lowered = html.lower()
                close = lowered.find("</" + tag, pos)
            if close == -1:
                body, pos = html[pos:], n
            else:
                body = html[pos:close]
                gt = html.find(">", close)
                pos = n if gt == -1 else gt + 1
            # as `_TAG_RE` would give it, had the close been lowercase
            parts += (f"{tag}{attrs}>{body}</{tag}>", None, None, None)
            break
        else:
            break
    parts.append(html[pos:])
    return parts


def _split_slow(html: str) -> list:
    """`_split_from` the first raw-text element with no lowercase close."""
    for m in _matches(_TAG_RE, html):
        raw = m.group(1)
        if raw and _raw_element(raw)[2] is None:
            return _split_from(html, m.start())
    raise ValueError("no raw-text element without a lowercase close")


_ATTR_RE = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?"
)

# tags whose attributes the renderer actually reads (id/class/role/alt);
# everything else skips attribute parsing entirely
_ATTR_TAGS = frozenset(
    "div section article main aside nav header footer span center details "
    "summary table ul ol p blockquote pre img figure svg h1 h2 h3 h4 h5 h6 "
    "body dl menu form iframe".split()
)

# head-metadata tags whose attributes are parsed only when the caller
# opts in (kernel/metadata.py): the extraction hot path never reads
# them, so by default they cost zero attr-parse work — same opt-in
# pattern as `hrefs` for kernel/links.py
_META_TAGS = frozenset({"meta", "link", "script"})

# container ids that mark the main-content root (Readability-style);
# shared with blocks.select_main_root so the parse-time hint tracking
# and the traversal fallback test the identical set
_CONTENT_IDS = frozenset(
    ("content", "main", "main-content", "maincontent", "article", "post")
)


# attrs strings repeat heavily across a corpus (site chrome: the same
# class="nav"/id="footer" on every page); memoize parses.  Safe because
# attr dicts are read-only downstream (attr()/classes()/get — no
# mutation sites, checked).  Bounded so adversarial unique-attr floods
# can't grow the worker resident set.
_ATTRS_MEMO: dict[str, dict[str, str]] = {}
_ATTRS_MEMO_MAX = 50_000
# Keys are raw attr strings; cap the length of memoized keys so retained
# BYTES (not just entries) are bounded — a hostile corpus of unique
# multi-MB attribute blobs must not pin 50k large strings per executor.
_ATTRS_MEMO_KEY_MAX = 1024


def _parse_attrs(raw: str) -> dict[str, str]:
    cached = _ATTRS_MEMO.get(raw)
    if cached is not None:
        return cached
    attrs: dict[str, str] = {}
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1).lower()
        value = m.group(2)
        if value is None:
            value = ""
        elif value[:1] in ("'", '"'):
            value = value[1:-1]
        if "&" in value:
            value = _html_mod.unescape(value)
        if name not in attrs:
            attrs[name] = value
    if len(raw) <= _ATTRS_MEMO_KEY_MAX and len(_ATTRS_MEMO) < _ATTRS_MEMO_MAX:
        _ATTRS_MEMO[raw] = attrs
    return attrs


# tag name as written -> lowercase name, one shared string per spelling
# (no per-tag str.lower(), and set lookups reuse its cached hash);
# bounded like _ATTRS_MEMO
_TAG_NAMES: dict[str, str] = {}
_TAG_NAMES_MAX = 4096
_TAG_NAMES_KEY_MAX = 32


def _tag_name(name: str) -> str:
    tag = name.lower()
    if len(name) <= _TAG_NAMES_KEY_MAX and len(_TAG_NAMES) < _TAG_NAMES_MAX:
        _TAG_NAMES[name] = tag
    return tag


def _parse_html_fast(
    html: str, hrefs: bool = False, metadata: bool = False
) -> Node:
    """Tag loop with the tree-builder's start/end logic inlined.

    Must mirror _TreeBuilder._handle_start_parsed / handle_endtag /
    _implied_closes exactly — the fast-vs-stdlib equivalence tests
    (tests/test_dom_blocks.py, tests/test_properties.py) pin the two
    to the same extraction output, and tests/test_scanner_oracle.py pins
    the tree node for node to the two-tier scanner this one replaced.
    """
    root = Node("#document")
    stack = [root]
    open_p = 0  # count of <p> nodes currently on the stack
    unescape = _html_mod.unescape
    names = _TAG_NAMES
    heading_tags = _TreeBuilder._HEADING_TAGS
    # main-content candidates, recorded in pre-order during the parse
    # (start-tag emission order == tree pre-order) so select_main_root
    # needs no second traversal; the logic mirrors its if/elif chain
    # exactly — equivalence pinned by tests/test_dom_blocks.py
    main_node = article = role_main = content_div = body = None
    tags = iter(_split(html))
    text = next(tags)  # before the first tag
    if text:
        root.children.append(unescape(text) if "&" in text else text)
    while tags is not None:
        split, tags = tags, None
        for raw, end, name, attrs_raw, text in zip(split, split, split, split, split):
            if name:
                tag = names.get(name) or _tag_name(name)
            elif raw:
                name, attrs_raw, raw_body = _raw_element(raw)
                if raw_body is None:
                    # no lowercase close: this element and everything
                    # after it take the slow, exact path
                    tags = iter(_split_slow(html))
                    break
                tag = names.get(name) or _tag_name(name)
            else:
                tag = None  # comment, CDATA, declaration, PI: dropped
            if end:
                # -- inlined handle_endtag --
                if stack[-1].tag == tag:
                    stack.pop()
                    if tag == "p":
                        open_p -= 1
                elif tag not in VOID_TAGS:
                    for depth in range(len(stack) - 2, 0, -1):
                        if stack[depth].tag == tag:
                            if open_p:
                                for node in stack[depth:]:
                                    if node.tag == "p":
                                        open_p -= 1
                            del stack[depth:]
                            break
            elif tag is not None:
                if attrs_raw and (
                    tag in _ATTR_TAGS
                    or "class" in attrs_raw
                    or "id" in attrs_raw
                    or "role" in attrs_raw
                    or "alt" in attrs_raw
                    # opt-in (kernel/links.py): the extraction hot path
                    # never reads hrefs, so anchors skip attr parsing
                    or (hrefs and "href" in attrs_raw)
                    # opt-in (kernel/metadata.py): head-metadata tags
                    or (metadata and tag in _META_TAGS)
                ):
                    attrs = _parse_attrs(attrs_raw)
                else:
                    attrs = _NO_ATTRS
                # -- inlined _implied_closes + _handle_start_parsed --
                if tag in _IMPLIED_TAGS:
                    siblings = _SIBLING_CLOSERS.get(tag)
                    if siblings:
                        while len(stack) > 1 and stack[-1].tag in siblings:
                            stack.pop()
                    if tag in _P_CLOSERS:
                        if stack[-1].tag in heading_tags and len(stack) > 1:
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
                if raw:
                    # a raw-text element holds its body and never stays open
                    if raw_body:
                        node.children.append(raw_body)
                elif tag not in VOID_TAGS:
                    stack.append(node)
                    if tag == "p":
                        open_p += 1
            if text:
                stack[-1].children.append(unescape(text) if "&" in text else text)
    root.hints = (main_node, article, role_main, content_div, body)
    return root


# --- charset sniffing --------------------------------------------------------
# WHATWG-style declaration scan: BOM > <meta charset> / http-equiv content
# charset in the first 2048 bytes > strict UTF-8 > cp1252 (the browsers'
# latin-1 superset that decodes any byte).  Deterministic, stdlib codecs.
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+?(?:charset\s*=\s*["']?\s*([a-zA-Z0-9_.:-]+))""",
    re.IGNORECASE | re.DOTALL,
)
_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)
# common label fixups (WHATWG encoding aliases, minimal set)
_CHARSET_ALIASES = {
    "gb2312": "gb18030",
    "gbk": "gb18030",
    "iso-8859-1": "cp1252",  # browsers treat latin-1 as windows-1252
    "latin-1": "cp1252",
    "us-ascii": "cp1252",
    "macintosh": "mac-roman",
}


_GZIP_MAGIC = b"\x1f\x8b"
_MAX_DECOMPRESSED = 64 << 20  # zip-bomb guard: cap payload at 64 MB


def decode_html(raw: bytes) -> str:
    """Decode an HTML byte payload per declaration sniffing (see above).
    Gzip-compressed cells (WARC-derived tables often store them) are
    transparently decompressed first, capped at 64 MB.  Never raises:
    the cp1252/replace fallback decodes any byte string."""
    if raw[:2] == _GZIP_MAGIC:
        import zlib

        try:
            raw = zlib.decompressobj(16 + zlib.MAX_WBITS).decompress(
                raw, _MAX_DECOMPRESSED
            )
        except zlib.error:
            pass  # not actually gzip (or corrupt): treat bytes as-is
    for bom, codec in _BOMS:
        if raw.startswith(bom):
            body = raw if codec == "utf-8-sig" else raw[len(bom):]
            try:
                return body.decode(codec, errors="replace")
            except LookupError:  # pragma: no cover - stdlib always has these
                break
    m = _META_CHARSET_RE.search(raw[:2048])
    if m:
        label = m.group(1).decode("ascii", "ignore").strip().lower()
        codec = _CHARSET_ALIASES.get(label, label)
        if codec not in ("utf-8", "utf8"):
            try:
                return raw.decode(codec, errors="replace")
            except LookupError:
                pass  # unknown label: fall through to UTF-8 path
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        # mixed evidence: valid UTF-8 multibyte sequences are strong
        # signal (legacy-codepage bytes rarely form them) — if they
        # outnumber the invalid bytes, the page is corrupt UTF-8, not
        # legacy-encoded; otherwise decode as cp1252
        text = raw.decode("utf-8", errors="replace")
        bad = text.count("�")
        multibyte_ok = sum(1 for ch in text if ch > "\x7f" and ch != "�")
        if multibyte_ok >= bad:
            return text
        return raw.decode("cp1252", errors="replace")


def parse_html(
    html: str | bytes,
    hrefs: bool = False,
    metadata: bool = False,
) -> Node:
    """Parse an HTML document (bytes are charset-sniffed via decode_html).

    Uses the one-pass regex scanner; a scanner exception falls back to
    `_parse_html_stdlib` (html.parser).  Both drive the same
    tree-building logic and are asserted to produce identical
    extraction output over the fixture corpus, the 420-case
    differential suite, and the property-test grammar
    (tests/test_dom_blocks.py, tests/test_properties.py).  The scanner's
    trees are pinned node for node to the two-tier scanner it replaced
    (tests/oracle_scanner.py, tests/test_scanner_oracle.py).

    Equivalence envelope: on well-formed(-ish) markup — including
    quoted attributes with '>' in values, mixed quote styles, stray
    end tags, implicit closes — the two tokenizers agree.  On
    MANGLED-QUOTE soups (unbalanced quotes spliced into attribute
    position, e.g. ``src=""xora"``) they pick different, equally
    defensible tag boundaries; both are deterministic, and every Spark
    plan uses the same tokenizer, so the per-url byte-identity
    invariant is unaffected (measured: ~0 divergence on the corpus
    grammar; deliberate-garbage fuzz diverges, identically across
    rounds — the scanner's boundary behavior is pinned by the oracle
    differential above)."""
    if isinstance(html, (bytes, bytearray)):
        html = decode_html(bytes(html))
    try:
        return _parse_html_fast(html, hrefs=hrefs, metadata=metadata)
    except Exception:
        # any scanner bug degrades to the slow, battle-tested path
        # (html.parser keeps every attr, so hrefs survive here too)
        return _parse_html_stdlib(html)
