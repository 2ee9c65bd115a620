"""Workload inputs: rows made from the seed, then materialized as the
parquet `pages` table the job scans.

* small pages are the fixture generator's own rows
  (`gen_pages.make_page`): 1.6 KB pages, Zipf(1.2) host skew, the 50-row
  template cycle;
* large pages (25-60 KB) are built here from several fixture template
  bodies inside deeper chrome; a seeded share of the cells is gzip
  compressed and another declares a legacy charset.

The large-page shares are chosen for coverage, not measured from
traffic: each `decode_html` path (gzip inflation, a declared legacy
charset, plain UTF-8) runs on tens of pages per job, while plain UTF-8,
the bulk of real crawls, stays the large majority.  No source in this
repo gives the real shares; they are unverified against Common Crawl.
"""

from __future__ import annotations

import gzip
import os
import random

import pandas as pd

from ocr_pipeline_spark.fixtures import gen_pages as gp

LARGE_MIN_BYTES = 25_000
LARGE_MAX_BYTES = 60_000
GZIP_SHARE = 0.1
LEGACY_SHARE = 0.05
# share of a page's sections drawn from its theme template, so a long
# page still has one dominant page type (also chosen, not measured)
THEME_SHARE = 0.8
_LEGACY_CODECS = (("windows-1252", "cp1252"), ("iso-8859-2", "iso8859_2"))

# the fixture's content templates (boilerplate-only and link-farm bodies
# are left out: a long page is built from content sections)
_BODIES = (
    gp._tmpl_article, gp._tmpl_article, gp._tmpl_article, gp._tmpl_table,
    gp._tmpl_figure, gp._tmpl_mixed, gp._tmpl_adversarial,
    lambda r: gp._tmpl_diagram(r, False), lambda r: gp._tmpl_diagram(r, True),
)


def small_rows(n: int, seed: int) -> list[dict]:
    return gp.generate_rows(n, seed)


def _large_html(rng: random.Random, target: int) -> str:
    # most sections follow one theme, so the page types still vary
    theme = rng.choice(_BODIES)
    sections, size = [], 0
    while size < target:
        body = (theme if rng.random() < THEME_SHARE else rng.choice(_BODIES))(rng)
        sections.append(
            f'<section class="entry"><div class="entry-body">{body}</div></section>'
        )
        size += len(body) + 60
    side = "".join(
        f'<li><a href="/t/{i}">{rng.choice(gp._WORDS)}</a></li>' for i in range(20)
    )
    core = (
        '<div class="layout"><div class="container"><div class="row">'
        '<div class="col-main">' + "".join(sections) + "</div>"
        f'<div class="col-side"><ul class="tags">{side}</ul></div>'
        "</div></div></div>"
    )
    return gp._chrome_wrap(rng, core)


def large_row(row_id: int, seed: int) -> dict:
    """Pure function of (seed, row_id), like the fixture's make_page."""
    rng = random.Random((seed << 32) ^ (row_id * 2_654_435_761) ^ 0x5EED)
    host = gp._zipf_host(rng)
    html = _large_html(rng, rng.randint(LARGE_MIN_BYTES, LARGE_MAX_BYTES))
    if rng.random() < LEGACY_SHARE:
        label, codec = rng.choice(_LEGACY_CODECS)
        html = html.replace("<head>", f'<head><meta charset="{label}">', 1)
        raw = html.encode(codec, errors="xmlcharrefreplace")
    else:
        raw = html.encode("utf-8")
    if rng.random() < GZIP_SHARE:
        raw = gzip.compress(raw, compresslevel=6, mtime=0)
    return {
        "url": f"https://{host}/{rng.choice(gp._SECTIONS)}/long-{row_id}",
        "warc_ts": gp._EPOCH + pd.Timedelta(seconds=(row_id * 977) % (365 * 86400)),
        "html": raw,
        "text": "",
        "lang": gp._LANGS[rng.randrange(len(gp._LANGS))],
    }


def large_rows(n: int, seed: int) -> list[dict]:
    return [large_row(i, seed) for i in range(n)]


def materialize(spark, rows: list[dict], path: str) -> None:
    """Write rows as the parquet `pages` table (PAGES_SCHEMA_DDL)."""
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    (
        spark.createDataFrame(pdf, schema=gp.PAGES_SCHEMA_DDL)
        .write.mode("overwrite")
        .parquet(path)
    )


def input_bytes(rows: list[dict]) -> int:
    return sum(len(r["html"]) for r in rows)


def table_bytes(path: str) -> int:
    """Bytes of the parquet data files under `path`."""
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, n))
            for n in names if n.endswith(".parquet")
        )
    return total
