"""kernel/metadata.py + text normalization unit tests.

The page_metadata query's driver oracle is a single-process witness
twin (same kernel), so the behavior itself is pinned HERE with
hand-computed expectations — entity decode, first-occurrence wins,
malformed-JSON-LD degrade, absent fields, attr-parse opt-in — plus the
normalize_text NFC/control contract the DuckDB oracle cross-checks.
"""

from ocr_pipeline_spark.kernel import dom
from ocr_pipeline_spark.kernel.dom import parse_html
from ocr_pipeline_spark.kernel.metadata import EMPTY_METADATA, page_metadata
from ocr_pipeline_spark.operators.text_ops import normalize_text

FULL_HEAD = (
    "<!DOCTYPE html><html><head>"
    "<title>  Hello &amp;\n World </title>"
    '<meta name="Description" content="A &quot;desc&quot; here">'
    '<link rel="canonical" href=" https://x.com/a ">'
    '<meta property="OG:Title" content="OG title">'
    '<script type="application/ld+json">'
    '{"@context":"https://schema.org","@type":"NewsArticle"}</script>'
    "</head><body><p>hi</p></body></html>"
)


def test_full_head_extraction():
    m = page_metadata(FULL_HEAD)
    assert m == {
        "title": "Hello & World",          # unescaped + ws-normalized
        "description": 'A "desc" here',    # attr entities decoded once
        "canonical": "https://x.com/a",    # href stripped
        "og_title": "OG title",            # property match case-insensitive
        "ld_type": "NewsArticle",
    }


def test_first_occurrence_wins_per_field():
    html = (
        "<head><title>first</title><title>second</title>"
        '<meta name="description" content="d1">'
        '<meta name="description" content="d2">'
        '<link rel="canonical" href="/c1"><link rel="canonical" href="/c2">'
        "</head><body><title>body-title</title></body>"
    )
    m = page_metadata(html)
    assert m["title"] == "first"
    assert m["description"] == "d1"
    assert m["canonical"] == "/c1"


def test_meta_leaked_into_body_is_honored():
    html = '<body><p>x</p><meta name="description" content="leaked"></body>'
    assert page_metadata(html)["description"] == "leaked"


def test_ld_json_variants():
    def ld(payload):
        return page_metadata(
            f'<script type="application/ld+json">{payload}</script>'
        )["ld_type"]

    assert ld('{"@type": "Article"}') == "Article"
    assert ld('[{"@type": "BlogPosting"}, {"@type": "Other"}]') == "BlogPosting"
    assert ld('{"@type": ["Report", "CreativeWork"]}') == "Report"
    assert ld('{"@type": "Broken",') == ""        # truncated JSON
    assert ld("not json at all") == ""
    assert ld('{"headline": "no type"}') == ""
    assert ld('{"@type": 7}') == ""               # non-string type
    assert ld("[]") == ""
    # a plain script must never match
    assert page_metadata("<script>var x = 1;</script>")["ld_type"] == ""


def test_rel_is_token_matched_not_substring():
    html = '<link rel="alternate canonical" href="/ok">'
    assert page_metadata(html)["canonical"] == "/ok"
    html2 = '<link rel="canonicalish" href="/no">'
    assert page_metadata(html2)["canonical"] == ""


def test_absent_and_degrade_paths():
    assert page_metadata("<body><p>no head</p></body>") == EMPTY_METADATA
    assert page_metadata(b"\x00\xff\xfe garbage \x80") == EMPTY_METADATA
    assert page_metadata("") == EMPTY_METADATA
    # empty content / empty href never overwrite the empty default
    html = '<meta name="description" content=""><link rel="canonical" href="">'
    assert page_metadata(html) == EMPTY_METADATA


def test_metadata_attr_parse_is_opt_in():
    """Perf contract: the extraction hot path (metadata=False) skips
    attr parsing for meta/link/script entirely — the opt-in must be the
    only way those attrs materialize (same pattern as hrefs)."""
    html = '<head><meta name="description" content="d"></head>'
    root_off = parse_html(html, metadata=False)
    root_on = parse_html(html, metadata=True)
    (meta_off,) = list(root_off.find_all("meta"))
    (meta_on,) = list(root_on.find_all("meta"))
    assert meta_off.attrs == {}
    assert meta_on.attrs == {"name": "description", "content": "d"}


def test_stdlib_parser_agrees_on_wellformed_head():
    """The stdlib fallback keeps all attrs, so metadata extraction over
    a stdlib-parsed tree must agree with the fast path on well-formed
    heads (the fallback only fires on scanner exceptions)."""
    from ocr_pipeline_spark.kernel import metadata as meta_mod

    fast = page_metadata(FULL_HEAD)
    root = dom._parse_html_stdlib(FULL_HEAD)
    # re-run the field walk over the stdlib tree via the module's
    # internals: parse path is the only difference
    out = dict(EMPTY_METADATA)
    for node in root.find_all("title", "meta", "link", "script"):
        if node.tag == "title" and not out["title"]:
            from html import unescape

            out["title"] = meta_mod._norm(unescape(node.text(" ")))
        elif node.tag == "meta":
            if node.attr("name").lower() == "description" and not out["description"]:
                out["description"] = meta_mod._norm(node.attr("content"))
            elif node.attr("property").lower() == "og:title" and not out["og_title"]:
                out["og_title"] = meta_mod._norm(node.attr("content"))
        elif node.tag == "link":
            if "canonical" in node.attr("rel").lower().split() and not out["canonical"]:
                out["canonical"] = node.attr("href").strip()
        elif node.tag == "script":
            if node.attr("type").lower().strip() == "application/ld+json" and not out["ld_type"]:
                out["ld_type"] = meta_mod._ld_type(node.text(""))
    assert out == fast


def test_wrapper_branch_coverage():
    """The fixture wrapper must exercise every kernel path across the
    sf0.01 corpus (doc_id 0..499): entity titles, absent descriptions,
    malformed JSON-LD, duplicate titles."""
    from ocr_pipeline_spark.fixtures.gen_pages import wrap_document_with_head

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    m5 = page_metadata(wrap_document_with_head(5, text, "en", "s")["html"])
    assert m5["title"].endswith("& more")
    m7 = page_metadata(wrap_document_with_head(7, text, "en", "s")["html"])
    assert m7["description"] == ""
    m11 = page_metadata(wrap_document_with_head(11, text, "en", "s")["html"])
    assert m11["ld_type"] == ""
    m13 = page_metadata(wrap_document_with_head(13, text, "en", "s")["html"])
    assert "late duplicate" not in m13["title"]  # head title wins
    m1 = page_metadata(wrap_document_with_head(1, text, "en", "s")["html"])
    assert m1 == {
        "title": "alpha beta gamma delta epsilon zeta",
        "description": text,
        "canonical": "https://s.example.com/docs/1",
        "og_title": "OG: alpha beta gamma delta",
        "ld_type": "NewsArticle",
    }


# ---------------------------------------------------------------------------
# normalize_text (X59)
# ---------------------------------------------------------------------------

def test_nfc_composition():
    # decomposed (base + combining mark) must compose to the NFC form
    assert normalize_text("Cafe\u0301") == "Caf\u00e9"
    assert normalize_text("stru\u0308del") == "str\u00fcdel"
    # already-NFC input is untouched
    assert normalize_text("Caf\u00e9 plain ascii") == "Caf\u00e9 plain ascii"


def test_control_stripping_preserves_whitespace_controls():
    assert normalize_text("\x07a\x00b\x1fc\x7f") == "abc"
    assert normalize_text("a\tb\nc\rd") == "a\tb\nc\rd"  # kept


def test_normalize_total_and_idempotent():
    assert normalize_text("") == ""
    assert normalize_text(None) == ""
    s = "Cafe\u0301 \x07 mixed \u0308"
    assert normalize_text(normalize_text(s)) == normalize_text(s)


def test_empty_first_title_wins():
    """document.title semantics: the FIRST title element wins even when
    empty — a later spam title in the body must not take over."""
    html = "<head><title></title></head><body><title>spam</title></body>"
    assert page_metadata(html)["title"] == ""
    html2 = "<head><title>  </title><title>second</title></head>"
    assert page_metadata(html2)["title"] == ""


def test_doc_url_matches_query_reconstruction():
    """extract_fidelity (Spark + oracle SQL) reconstructs the document
    url as 'https://' || source || '.example.com/docs/' || doc_id; pin
    that template against the fixture's single definition so a drift
    cannot silently zero the fidelity metric's joins."""
    from ocr_pipeline_spark.fixtures.gen_pages import doc_url

    for did, src in ((0, "src1"), (499, "web7")):
        assert doc_url(did, src) == f"https://{src}.example.com/docs/{did}"
