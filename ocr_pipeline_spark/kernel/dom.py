"""Forgiving HTML → lightweight DOM tree, built on stdlib ``html.parser``.

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


class Node:
    """An element node.  Text nodes are plain ``str`` children.

    ``hints`` is set only on the ``#document`` root by the fast
    tokenizer: the pre-order main-content candidates
    (main, article, role_main, content_div, body) recorded during the
    parse so blocks.select_main_root skips its second full traversal.
    Unset (AttributeError via getattr default) on stdlib-parsed trees.
    """

    __slots__ = ("tag", "attrs", "children", "hints")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None):
        self.tag = tag
        self.attrs = attrs or {}
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


# --- fast tokenizer ----------------------------------------------------------
# html.parser spends most of its time in position tracking and eager
# attribute parsing (profiled: ~70% of kernel CPU).  This scanner emits
# the same callback stream into the same _TreeBuilder, but: attributes
# are parsed lazily (only for tags whose attrs the renderer reads),
# entity unescaping runs only when '&' is present, and raw-text elements
# (script/style/...) are skipped with a single find().

import html as _html_mod

_TAG_RE = re.compile(
    r"<(?:"
    r"!--(?P<comment>.*?)(?:-->|$)"
    r"|!\[CDATA\[(?P<cdata>.*?)(?:\]\]>|$)"
    r"|(?P<decl>![^>]*)>"
    r"|\?(?P<pi>[^>]*)>"
    # attrs via "unrolled loop": one linear scan of plain chars, the
    # quoted alternatives tried only at actual quote characters —
    # measured ~14% faster than the naive per-char alternation and
    # match-for-match identical on the fixture corpus
    r"|(?P<end>/)?(?P<name>[a-zA-Z][a-zA-Z0-9:_.-]*)(?P<attrs>[^>\"']*(?:\"[^\"]*\"[^>\"']*|'[^']*'[^>\"']*)*)(?P<selfclose>/?)>"
    r")",
    re.DOTALL,
)
_ATTR_RE = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?"
)
# tag-name prefix of a '<'..'>' segment — same charset as _TAG_RE's name
# group; used by the scanner's quoted-attr fast path
_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9:_.-]*")

# tags whose attributes the renderer actually reads (id/class/role/alt);
# everything else skips attribute parsing entirely
_ATTR_TAGS = frozenset(
    "div section article main aside nav header footer span center details "
    "summary table ul ol p blockquote pre img figure svg h1 h2 h3 h4 h5 h6 "
    "body dl menu form iframe".split()
)

# raw-text elements: content is literal until the matching end tag
_RAW_TEXT = ("script", "style", "textarea", "title")

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


def _parse_html_fast(
    html: str, hrefs: bool = False, metadata: bool = False
) -> Node:
    """String-scanner with the tree-builder's start/end logic inlined.

    Must mirror _TreeBuilder._handle_start_parsed / handle_endtag /
    _implied_closes exactly — the fast-vs-stdlib equivalence test
    (tests/test_dom_blocks.py) pins the two paths to identical output.

    Two tiers (corpus mix: ~46% pure end tags, ~32% attr-less start
    tags, ~21% quoted-attr tags):
      * memchr tier — `str.find('<') + find('>')` and a pure-name
        segment check handle end tags and bare start tags with zero
        regex work;
      * regex tier — anything else (attrs, quotes, comments, decls,
        stray '<') goes through _TAG_RE.search at the found '<', which
        preserves the scanner's exact boundary semantics (quoted '>',
        skipped non-tags become text, selfclose group absorbed by the
        attrs chunk).
    """
    root = Node("#document")
    stack = [root]
    open_p = 0  # count of <p> nodes currently on the stack
    search = _TAG_RE.search
    find = html.find
    unescape = _html_mod.unescape
    heading_tags = _TreeBuilder._HEADING_TAGS
    # main-content candidates, recorded in pre-order during the parse
    # (start-tag emission order == tree pre-order) so select_main_root
    # needs no second traversal; the logic mirrors its if/elif chain
    # exactly — equivalence pinned by tests/test_dom_blocks.py
    main_node = article = role_main = content_div = body = None
    lowered = None  # lazily-lowered copy for case-insensitive raw-text closes
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
                # pure-name end tag: '</div>' — no attrs, ASCII name
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
                # bare start tag: '<p>', '<h1>', '<DIV>' — name only
                if seg.isascii() and seg.isalnum():
                    tag = seg.lower()
                    tag_start, tag_end = lt, gt + 1
                else:
                    # quoted/attr start tag, single quote STYLE only with
                    # an even count: every quote is closed, so this '>'
                    # cannot sit inside a value and the regex would match
                    # exactly this span.  (Mixed quote styles can balance
                    # across a mid-quote cut — those take the regex tier.)
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
            # regex tier: one search = find-next-tag + tokenize in a
            # single C call; stray '<'s that don't form a tag stay
            # inside the preceding text chunk (same concatenated text
            # as html.parser's chunking)
            m = search(html, lt)
            if m is None:
                text = html[pos:]
                if "&" in text:
                    text = unescape(text)
                stack[-1].children.append(text)
                break
            tag_start, tag_end = m.start(), m.end()
            # groups 5-8: end, name, attrs, selfclose
            end_g, name, attrs_raw, selfclose = m.group(5, 6, 7, 8)
            if name is None:
                # comment/decl/cdata/pi: dropped (but flush text first)
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
            # -- inlined handle_endtag --
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
            # opt-in (kernel/links.py): the extraction hot path never
            # reads hrefs, so anchors skip attr parsing by default
            or (hrefs and "href" in attrs_raw)
            # opt-in (kernel/metadata.py): head-metadata tags
            or (metadata and tag in _META_TAGS)
        ):
            attrs = _parse_attrs(attrs_raw)
        else:
            attrs = {}
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
        if selfclose or tag in VOID_TAGS:
            continue
        stack.append(node)
        if tag == "p":
            open_p += 1
        if tag in _RAW_TEXT:
            close = html.find(f"</{tag}", pos)
            if close == -1:
                # case-insensitive fallback (</SCRIPT>): lower the doc
                # ONCE and reuse — a fresh .lower() per raw-text tag is
                # O(n) each, quadratic on pages with many uppercase-
                # closed scripts (measured 4x time at 2x tags)
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
            stack.pop()  # the raw-text element we just pushed (never <p>)
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

    Uses the string/regex scanner; a scanner exception falls back to
    `_parse_html_stdlib` (html.parser).  Both drive the same
    tree-building logic and are asserted to produce identical
    extraction output over the fixture corpus, the 420-case
    differential suite, and the property-test grammar
    (tests/test_dom_blocks.py, tests/test_properties.py).

    Equivalence envelope: on well-formed(-ish) markup — including
    quoted attributes with '>' in values, mixed quote styles, stray
    end tags, implicit closes — the two tokenizers agree.  On
    MANGLED-QUOTE soups (unbalanced quotes spliced into attribute
    position, e.g. ``src=""xora"``) they pick different, equally
    defensible tag boundaries; both are deterministic, and every Spark
    plan uses the same tokenizer, so the per-url byte-identity
    invariant is unaffected (measured: ~0 divergence on the corpus
    grammar; deliberate-garbage fuzz diverges, identically across
    rounds — the scanner's boundary behavior is pinned bit-for-bit by
    a 15k-case cross-round differential)."""
    if isinstance(html, (bytes, bytearray)):
        html = decode_html(bytes(html))
    try:
        return _parse_html_fast(html, hrefs=hrefs, metadata=metadata)
    except Exception:
        # any scanner bug degrades to the slow, battle-tested path
        # (html.parser keeps every attr, so hrefs survive here too)
        return _parse_html_stdlib(html)
