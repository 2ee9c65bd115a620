"""Outlink extraction + URL canonicalization — the link-graph source.

The reference pipeline has no link stage (its corpus is PDFs —
reference src/stage2_ocr.py:406-442 ingests page images); this
module extends the extraction kernel for the Common-Crawl-style web
corpus the engine targets, where host-graph construction from page
outlinks is a standard corpus-curation input (crawl frontier scoring,
spam/host authority, dedup cluster priors).

Kernel contract mirrors kernel/page.py: pure Python, total over
arbitrary bytes (never raises on hostile input), deterministic, and
byte-stable across rounds — the Spark operator in
operators/links_op.py is proven equal to this single-process path.

DOM semantics, not regex: anchors inside comments, script/style
raw-text, or dropped declarations are invisible here exactly as they
are to a browser — a naive ``href="…"`` regex would extract them.
"""

from __future__ import annotations

from html import unescape as _unescape
from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

from ocr_pipeline_spark.kernel.dom import Node, decode_html, parse_html

# Tracking parameters stripped during canonicalization: the values vary
# per click, not per resource, so keeping them shatters one logical URL
# into millions of "distinct" ones at crawl scale.
_TRACKING_KEYS = frozenset(
    (
        "fbclid",
        "gclid",
        "dclid",
        "msclkid",
        "igshid",
        "mc_cid",
        "mc_eid",
        "_hsenc",
        "_hsmi",
        "spm",
        "yclid",
    )
)
_DEFAULT_PORTS = {"http": 80, "https": 443}

def canonicalize_url(url: str) -> str | None:
    """Normalize one absolute URL; None if it is not a web resource.

    Rules (deterministic, engine-portable):
      * scheme must be http/https (mailto:, javascript:, data:,
        tel:, ftp: … -> None)
      * scheme + host lowercased; userinfo dropped; default port
      (80/443) dropped; IDNA left as-is (bytes-stable)
      * fragment dropped (client-side only)
      * tracking params (utm_*, fbclid, gclid, …) removed; remaining
        query keys kept in document order (reordering would merge
        URLs whose servers are order-sensitive)
      * empty path -> "/"
    """
    try:
        parts = urlsplit(url)
        scheme = parts.scheme.lower()
        if scheme not in ("http", "https"):
            return None
        host = parts.hostname
        if not host:
            return None
        host = host.lower().rstrip(".")
        port = parts.port
        netloc = (
            host
            if port is None or port == _DEFAULT_PORTS[scheme]
            else f"{host}:{port}"
        )
        query = ""
        if parts.query:
            kept = [
                (k, v)
                for k, v in parse_qsl(parts.query, keep_blank_values=True)
                if not k.startswith("utm_") and k not in _TRACKING_KEYS
            ]
            query = urlencode(kept)
        return urlunsplit((scheme, netloc, parts.path or "/", query, ""))
    except ValueError:
        # urlsplit/port parsing rejects some hostile inputs (bad ports,
        # NULs in netloc) — not a web link either way
        return None


def host_of(url: str) -> str:
    """Registered host of a canonical URL ('' if unparsable)."""
    try:
        return (urlsplit(url).hostname or "").lower().rstrip(".")
    except ValueError:
        return ""


def _walk_anchors(
    html: bytes | str,
    base_url: str,
    max_links: int,
    with_text: bool,
) -> list[tuple[str, str]]:
    """THE anchor walker: one implementation owns the reversed-children
    stack order, first-occurrence dedup, the max_links cap, and the
    degrade-to-[] contract, so the outlink graph and the anchor
    aggregation can never disagree about which links a page has.
    Anchor text (a full subtree traversal + normalization per anchor)
    is built only when with_text — the outlink hot path skips it."""
    try:
        if isinstance(html, (bytes, bytearray)):
            html = decode_html(bytes(html))
        root = parse_html(html, hrefs=True)
    except Exception:
        return []
    out: list[tuple[str, str]] = []
    seen: set[str] = set()
    # iterative DFS in document order (stack of reversed children):
    # O(nodes) and recursion-free, so crafted deep nesting costs linear
    # time and cannot overflow — no depth cap needed (the parser's own
    # guards bound the tree itself)
    stack: list[Node] = [root]
    while stack and len(out) < max_links:
        node = stack.pop()
        if node.tag == "a":
            href = node.attrs.get("href")
            if href:
                # attr values are entity-unescaped at parse time by
                # _parse_attrs; stray whitespace is spec-stripped here
                link = _resolve(href.strip(), base_url)
                if link is not None and link not in seen:
                    seen.add(link)
                    text = (
                        " ".join(node.text(" ").split())
                        if with_text
                        else ""
                    )
                    out.append((link, text))
        for child in reversed(node.children):
            if isinstance(child, Node):
                stack.append(child)
    return out


def extract_outlinks(
    html: bytes | str, base_url: str, max_links: int = 256
) -> list[str]:
    """All canonical outgoing links of a page, in first-occurrence
    document order, deduplicated, capped at max_links.

    Total: any decode/parse failure yields [] — a page that cannot be
    parsed has no extractable links, matching extract_page's degrade
    contract (kernel/page.py).  Shares _walk_anchors with
    extract_anchors but skips the per-anchor subtree text build."""
    return [
        u for u, _ in _walk_anchors(html, base_url, max_links, False)
    ]


def extract_anchors(
    html: bytes | str, base_url: str, max_links: int = 256
) -> list[tuple[str, str]]:
    """(canonical target url, whitespace-normalized anchor text) pairs
    in first-occurrence document order, deduplicated by target (the
    FIRST anchor's text wins — document order is the tie-break),
    capped at max_links.  The anchor text of a duplicated target is a
    presentation detail; corpus-level anchor aggregation re-weights by
    counting pages, not repeats within one page.

    Total: any decode/parse failure yields [] — same degrade contract
    as extract_outlinks (both are projections of _walk_anchors)."""
    return _walk_anchors(html, base_url, max_links, True)


def _resolve(href: str, base_url: str) -> str | None:
    if not href or href.startswith("#"):
        return None  # same-page fragment, not an outlink
    if "&" in href:
        # defensive double-unescape: the stdlib-parser fallback hands
        # through values html.parser already unescaped, the fast path
        # unescapes in _parse_attrs — a second unescape of an already-
        # plain URL is the identity unless the URL legitimately embeds
        # "&amp;" (vanishingly rare and then consistently so)
        href = _unescape(href)
    try:
        absolute = urljoin(base_url, href)
    except ValueError:
        return None
    return canonicalize_url(absolute)
