"""Deterministic generator for the `pages` input table.

Schema (authoritative, BASELINE.json input_hint):
    url string, warc_ts timestamp, html binary, text string, lang string

Design goals (FIXTURES.md §1):
  * pure function of (seed, row_id) — a page's bytes never depend on
    partitioning, generation order, or wall clock, so the same
    (seed, n_rows) always yields the same table on any cluster;
  * Zipf(s≈1.2) host skew over ~200 hosts so a few hosts dominate —
    exercises the salted repartition (SURVEY.md §4.4);
  * template library mirroring the reference's page taxonomy
    (text/table/figure/diagram/flowchart/mixed) plus boilerplate-only,
    link-farm, adversarial-cleaning, multi-page-document and malformed
    pages;
  * scales distributed: `generate_pages_df` builds pages inside Spark
    executors via mapInPandas over spark.range — no driver bottleneck.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta
from html import escape

# --- vocabulary -----------------------------------------------------------
_WORDS = (
    "data spark shuffle partition executor driver batch arrow vector column "
    "table schema query plan filter join scan page document extract markdown "
    "content text heading paragraph pipeline stage kernel cluster node task "
    "skew salt host bucket manifest resume metric lineage snapshot commit "
    "stream record byte index offset span block render parse token clean "
    "merge sort group window broadcast memory disk network latency throughput "
    "system design review result measure report analysis method approach "
    "model layer service storage format codec buffer cache thread process"
).split()

_TLDS = (".com", ".org", ".net", ".io", ".dev")
_SECTIONS = ("blog", "docs", "news", "wiki", "articles", "reports", "notes")
_LANGS = ("en", "en", "en", "en", "en", "en", "en", "en", "en", "en",
          "en", "en", "en", "en", "en", "en", "en", "de", "fr", "pl")

_N_HOSTS = 200
_ZIPF_S = 1.2
_EPOCH = datetime(2024, 1, 1, 0, 0, 0)

# cumulative Zipf weights, computed once
_zw = [1.0 / (i + 1) ** _ZIPF_S for i in range(_N_HOSTS)]
_ZIPF_TOTAL = sum(_zw)
_ZIPF_CUM = []
_acc = 0.0
for _w in _zw:
    _acc += _w
    _ZIPF_CUM.append(_acc / _ZIPF_TOTAL)


def _zipf_host(rng: random.Random) -> str:
    u = rng.random()
    lo, hi = 0, _N_HOSTS - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if _ZIPF_CUM[mid] < u:
            lo = mid + 1
        else:
            hi = mid
    return f"host{lo:03d}{_TLDS[lo % len(_TLDS)]}"


def _sentence(rng: random.Random, n_words: int) -> str:
    ws = [rng.choice(_WORDS) for _ in range(n_words)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _paragraph(rng: random.Random, n_sent: int = 3) -> str:
    return " ".join(_sentence(rng, rng.randint(8, 18)) for _ in range(n_sent))


def _nav(rng: random.Random) -> str:
    links = "".join(
        f'<a href="/{rng.choice(_SECTIONS)}/{i}">{rng.choice(_WORDS)}</a> '
        for i in range(6)
    )
    return f'<nav class="navbar">{links}</nav>'


def _chrome_wrap(rng: random.Random, body: str) -> str:
    """Wrap content in realistic page chrome; varies the content-root style."""
    style = rng.randint(0, 3)
    if style == 0:
        core = f"<main>{body}</main>"
    elif style == 1:
        core = f"<article>{body}</article>"
    elif style == 2:
        core = f'<div id="content">{body}</div>'
    else:
        core = f'<div class="page-body">{body}</div>'
    sidebar = "".join(
        f'<a href="/r/{i}">{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a><br>'
        for i in range(5)
    )
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>{rng.choice(_WORDS)} {rng.choice(_WORDS)}</title>"
        "<script>window.t=1;</script><style>.x{color:red}</style></head><body>"
        + _nav(rng)
        + '<div class="cookie-banner">We use cookies. <a href="#">Accept</a></div>'
        + core
        + f'<aside class="sidebar">{sidebar}</aside>'
        + f'<footer><a href="/privacy">privacy</a> © 2024 {rng.choice(_WORDS)}</footer>'
        "</body></html>"
    )


# --- template bodies --------------------------------------------------------
def _tmpl_article(rng: random.Random) -> str:
    parts = [f"<h1>{_sentence(rng, 4)[:-1]}</h1>"]
    for _ in range(rng.randint(2, 5)):
        parts.append(f"<p>{_paragraph(rng)}</p>")
    if rng.random() < 0.5:
        parts.append(f"<h2>{_sentence(rng, 3)[:-1]}</h2>")
        parts.append(f"<p>{_paragraph(rng)}</p>")
    items = "".join(f"<li>{_sentence(rng, 5)}</li>" for _ in range(rng.randint(3, 6)))
    parts.append(f"<ul>{items}</ul>")
    if rng.random() < 0.3:
        parts.append(f"<blockquote>{_sentence(rng, 10)}</blockquote>")
    return "".join(parts)


def _tmpl_table(rng: random.Random) -> str:
    ncols = rng.randint(2, 5)
    nrows = rng.randint(3, 8)
    head = "".join(f"<th>{rng.choice(_WORDS)}</th>" for _ in range(ncols))
    rows = "".join(
        "<tr>" + "".join(f"<td>{rng.randint(0, 9999)}</td>" for _ in range(ncols)) + "</tr>"
        for _ in range(nrows)
    )
    return (
        f"<h1>{_sentence(rng, 3)[:-1]}</h1>"
        f"<table><thead><tr>{head}</tr></thead><tbody>{rows}</tbody></table>"
        f"<p>{_sentence(rng, 8)}</p>"
    )


def _tmpl_figure(rng: random.Random) -> str:
    figs = "".join(
        f'<figure><img src="/img/{i}.png" alt="{_sentence(rng, 3)[:-1]}">'
        f"<figcaption>{_sentence(rng, 6)}</figcaption></figure>"
        for i in range(rng.randint(2, 4))
    )
    return f"<h1>{_sentence(rng, 3)[:-1]}</h1>{figs}<p>{_sentence(rng, 6)}</p>"


def _tmpl_diagram(rng: random.Random, flow: bool) -> str:
    nodes = [rng.choice(_WORDS).capitalize() + str(i) for i in range(rng.randint(3, 6))]
    edges = "\n".join(f"[{a}] --> [{b}]" for a, b in zip(nodes, nodes[1:]))
    header = "flowchart TD\n" if flow else ""
    cls = "mermaid" if flow else "diagram"
    return (
        f"<h2>{_sentence(rng, 3)[:-1]}</h2>"
        f'<pre class="{cls}">{header}{edges}</pre>'
    )


def _tmpl_mixed(rng: random.Random) -> str:
    return (
        f"<h1>{_sentence(rng, 4)[:-1]}</h1>"
        f"<p>{_paragraph(rng, 4)}</p>"
        + _tmpl_table(rng).split("</h1>", 1)[1]
        + _tmpl_diagram(rng, rng.random() < 0.5).split("</h2>", 1)[1]
        + f"<p>{_paragraph(rng)}</p>"
    )


def _tmpl_boilerplate_only(rng: random.Random) -> str:
    return "".join(
        f'<a href="/x/{i}">{rng.choice(_WORDS)}</a> ' for i in range(12)
    )


def _tmpl_link_farm(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/l/{i}">{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a></li>'
        for i in range(rng.randint(10, 20))
    )
    return f"<ul>{items}</ul><p>{_sentence(rng, 4)}</p>"


def _tmpl_adversarial(rng: random.Random) -> str:
    """Exercises the cleaning chain: repeated lines, near-dup paragraphs,
    bare-integer runs, unicode bullets, empty tables, blank-line runs."""
    base = _sentence(rng, 12)
    near_dup = base[:-1] + " " + rng.choice(_WORDS) + "."
    repeated = "<br>".join([_sentence(rng, 5)] * 4)
    ints = "".join(f"<p>{i}</p>" for i in range(rng.randint(10, 20), rng.randint(26, 40)))
    bullets = "<p>• first item<br>• second item<br>○ nested item</p>"
    return (
        f"<h1>{_sentence(rng, 3)[:-1]}</h1>"
        f"<p>{base}</p><p>{near_dup}</p>"
        f"<p>{repeated}</p>"
        f"{ints}"
        f"{bullets}"
        "<p><table></table>tail</p>"
        f"<p>{_paragraph(rng)}</p>"
    )


def _tmpl_malformed(rng: random.Random) -> str:
    return (
        f"<h1>{_sentence(rng, 3)[:-1]}"  # unclosed h1
        f"<p>{_paragraph(rng)}"
        "<table><tr><td>a<td>b<tr><td>c<td>d"  # unclosed table
        f"<p>{_sentence(rng, 9)} &nosuchentity; tail"
        "<div><span>"
    )


# --- multi-page documents -----------------------------------------------------
_DOC_PAGES = 4       # pages per synthetic multi-page document
_DOC_STRIDE = 50     # rows 0..3 of every stride form one document


def _doc_sentences(doc_rng: random.Random) -> list[str]:
    return [_sentence(doc_rng, doc_rng.randint(10, 16)) for _ in range(24)]


def _tmpl_doc_page(seed: int, doc_id: int, page_num: int) -> str:
    """One page of a multi-page document; the text flow breaks mid-sentence
    at page boundaries to exercise A3 (assemble.merge_page_boundaries)."""
    doc_rng = random.Random((seed << 20) ^ (doc_id * 7919))
    sentences = _doc_sentences(doc_rng)
    text = " ".join(sentences)
    words = text.split(" ")
    per = len(words) // _DOC_PAGES
    start = (page_num - 1) * per
    end = start + per if page_num < _DOC_PAGES else len(words)
    chunk = " ".join(words[start:end])
    title = f"<h1>Document {doc_id}</h1>" if page_num == 1 else ""
    return f"{title}<p>{chunk}</p>"


# --- the per-row generator ------------------------------------------------------
#   template mix per 50-row stride:
#     0-3   multi-page document pages
#     4-23  article                20
#     24-29 table                   6
#     30-33 figure                  4
#     34-36 diagram                 3
#     37-39 flowchart               3
#     40-44 mixed                   5
#     45-46 boilerplate-only        2
#     47    link farm               1
#     48    adversarial cleaning    1
#     49    malformed               1

def page_kind(row_id: int) -> str:
    r = row_id % _DOC_STRIDE
    if r < 4:
        return "docpage"
    if r < 24:
        return "article"
    if r < 30:
        return "table"
    if r < 34:
        return "figure"
    if r < 37:
        return "diagram"
    if r < 40:
        return "flowchart"
    if r < 45:
        return "mixed"
    if r < 47:
        return "boilerplate"
    if r < 48:
        return "linkfarm"
    if r < 49:
        return "adversarial"
    return "malformed"


def _related_sites_block(seed: int, row_id: int) -> str:
    """Deterministic cross-host footer (opt-in via cross_links): the
    link-graph queries need absolute cross-host edges, which the base
    templates (all relative hrefs) never produce.  A DEDICATED rng
    keeps every other byte of the page — and therefore every committed
    extraction witness/golden — identical to the cross_links=False
    corpus."""
    r = random.Random((seed << 16) ^ (row_id * 104729))
    links = []
    for k in range(r.randrange(1, 6)):
        dst = _zipf_host(r)
        qs = "?utm_source=feed&utm_campaign=rel" if r.random() < 0.3 else ""
        links.append(f'<a href="https://{dst}/ref/{row_id % 97}-{k}{qs}">rel {k}</a>')
    if r.random() < 0.2:  # canonicalization fodder: must all be dropped
        links.append('<a href="mailto:ed@example.com">mail</a>')
        links.append('<a href="javascript:void(0)">js</a>')
    if r.random() < 0.3:  # protocol-relative: scheme comes from base
        links.append(f'<a href="//{_zipf_host(r)}/mirror">mirror</a>')
    return '<div class="related">Related: ' + " ".join(links) + "</div>"


def make_page(row_id: int, seed: int = 42, cross_links: bool = False) -> dict:
    """Pure function (seed, row_id) -> pages row."""
    rng = random.Random((seed << 32) ^ row_id)
    kind = page_kind(row_id)
    host = _zipf_host(rng)

    if kind == "docpage":
        doc_id = row_id // _DOC_STRIDE
        page_num = row_id % _DOC_STRIDE + 1
        body = _tmpl_doc_page(seed, doc_id, page_num)
        # one document lives on one host: derive it from the doc, not the row
        host = _zipf_host(random.Random((seed << 20) ^ (doc_id * 7919)))
        url = f"https://{host}/doc/{doc_id}/page-{page_num}"
    else:
        body = {
            "article": _tmpl_article,
            "table": _tmpl_table,
            "figure": _tmpl_figure,
            "diagram": lambda r: _tmpl_diagram(r, False),
            "flowchart": lambda r: _tmpl_diagram(r, True),
            "mixed": _tmpl_mixed,
            "boilerplate": _tmpl_boilerplate_only,
            "linkfarm": _tmpl_link_farm,
            "adversarial": _tmpl_adversarial,
            "malformed": _tmpl_malformed,
        }[kind](rng)
        section = rng.choice(_SECTIONS)
        url = f"https://{host}/{section}/{kind}-{row_id}"

    if cross_links:
        body += _related_sites_block(seed, row_id)
    html = _chrome_wrap(rng, body)
    warc_ts = _EPOCH + timedelta(seconds=(row_id * 977) % (365 * 86400))
    lang = _LANGS[rng.randrange(len(_LANGS))]
    # WET-style raw text dump (tag-stripped, crude by design)
    import re as _re

    text = _re.sub(r"<[^>]+>", " ", body)
    text = _re.sub(r"\s+", " ", text).strip()

    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
    }


def generate_rows(
    n_rows: int, seed: int = 42, cross_links: bool = False
) -> list[dict]:
    """Driver-side generation (tests, small fixtures)."""
    return [make_page(i, seed, cross_links=cross_links) for i in range(n_rows)]


# --- Spark-side distributed generation ----------------------------------------
PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def wrap_document_as_page(doc_id: int, text: str, lang: str, source: str) -> dict:
    """Deterministically wrap a driver `documents` row as a pages row:
    the text becomes paragraphs inside realistic page chrome, so the
    testdata corpus drives the full extraction pipeline."""
    rng = random.Random(doc_id * 2654435761 % (1 << 31))
    words = (text or "").split()
    paras = [" ".join(words[i : i + 40]) for i in range(0, len(words), 40)] or [""]
    body = f"<h1>Document {doc_id}</h1>" + "".join(f"<p>{p}.</p>" for p in paras)
    html = _chrome_wrap(rng, body)
    return {
        "url": doc_url(doc_id, source),
        "warc_ts": page_ts(doc_id),
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
    }


def doc_url(doc_id: int, source: str) -> str:
    """Canonical url of a wrapped `documents` row — one definition
    shared by the page wrappers and the witness twins; the Spark/SQL
    sides of extract_fidelity reconstruct it as a string expression,
    and tests/test_metadata.py pins the expression against this
    function so a template drift cannot silently zero the metric."""
    return f"https://{source}.example.com/docs/{doc_id}"


def page_ts(doc_id: int) -> datetime:
    """The deterministic warc_ts of a wrapped `documents` row — one
    definition shared by the page wrappers, the WET exporter kernel and
    every witness twin, so a timestamp drift cannot split them."""
    return _EPOCH + timedelta(seconds=int(doc_id) * 53)


_LD_TYPES = ("Article", "NewsArticle", "BlogPosting")


def wrap_document_with_head(doc_id: int, text: str, lang: str, source: str) -> dict:
    """Deterministically wrap a driver `documents` row as a pages row
    whose <head> carries the full metadata surface (title, description,
    canonical, og:title, JSON-LD) — the input for the page_metadata
    query and its single-process witness twin.

    Branch coverage is keyed on doc_id so the corpus exercises every
    kernel path: %5 -> entity-escaped title (decode path), %7 -> no
    description (absent-field path), %11 -> malformed JSON-LD (degrade
    path), %13 -> a second <title> in the body (first-wins path).
    """
    words = (text or "").split()
    title_words = " ".join(words[:6]) or f"Document {doc_id}"
    title_html = escape(title_words)
    if doc_id % 5 == 0:
        title_html += " &amp; more"  # kernel must decode -> "& more"
    canonical = doc_url(doc_id, source)
    url = canonical + "?utm_source=feed&ref=rss"
    desc = (
        ""
        if doc_id % 7 == 0
        else f'<meta name="description" content="{escape(" ".join(words[:25]), quote=True)}">'
    )
    og = escape("OG: " + " ".join(words[:4]), quote=True)
    if doc_id % 11 == 0:
        ld = '{"@type": "Broken",'  # truncated JSON -> ld_type ""
    else:
        ld = json.dumps(
            {
                "@context": "https://schema.org",
                "@type": _LD_TYPES[doc_id % 3],
                "headline": title_words,
            }
        )
    second_title = (
        f"<title>late duplicate {doc_id}</title>" if doc_id % 13 == 0 else ""
    )
    paras = [" ".join(words[i : i + 40]) for i in range(0, len(words), 40)] or [""]
    body = f"<h1>Document {doc_id}</h1>" + "".join(
        f"<p>{escape(p)}.</p>" for p in paras
    )
    html = (
        "<!DOCTYPE html><html><head>"
        f"<title>{title_html}</title>"
        f"{desc}"
        f'<link rel="canonical" href="{canonical}">'
        f'<meta property="og:title" content="{og}">'
        f'<script type="application/ld+json">{ld}</script>'
        f"</head><body>{second_title}{body}</body></html>"
    )
    return {
        "url": url,
        "warc_ts": page_ts(doc_id),
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
    }


def _documents_df(documents_df, wrap):
    """documents(doc_id, text, lang, source, ...) -> pages, one
    `wrap(doc_id, text, lang, source)` row per document."""
    import pandas as pd

    def _wrap(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [
                    wrap(int(d), t, l, s)
                    for d, t, l, s in zip(
                        pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
                    )
                ]
            )

    return documents_df.select("doc_id", "text", "lang", "source").mapInPandas(
        _wrap, schema=PAGES_SCHEMA_DDL
    )


def documents_with_head_df(documents_df):
    """documents(doc_id, text, lang, source, ...) -> head-enriched pages."""
    return _documents_df(documents_df, wrap_document_with_head)


def documents_as_pages_df(documents_df):
    """documents(doc_id, text, lang, source, ...) -> pages DataFrame."""
    return _documents_df(documents_df, wrap_document_as_page)


def generate_pages_df(
    spark,
    n_rows: int,
    seed: int = 42,
    partitions: int | None = None,
    cross_links: bool = False,
):
    """Distributed deterministic generation: spark.range -> mapInPandas.

    Output is identical for any `partitions` value (pure per-row
    function), which the partitioning-invariance tests rely on.
    """
    import pandas as pd

    if partitions is None:
        partitions = max(2, spark.sparkContext.defaultParallelism)

    def _gen(batches):
        for pdf in batches:
            rows = [
                make_page(int(i), seed, cross_links=cross_links)
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_rows, numPartitions=partitions)
        .mapInPandas(_gen, schema=PAGES_SCHEMA_DDL)
    )
