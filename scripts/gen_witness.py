#!/usr/bin/env python3
"""Golden-witness oracle fixtures for the extraction family (r3 VERDICT #2).

The extraction queries are byte-deterministic but not SQL-expressible,
so their DuckDB oracles SELECT from witness parquets generated HERE by
the SINGLE-PROCESS kernel loop — a code path with no Spark in it.
tests/test_spark_job.py proves the distributed output byte-equals this
loop, so the witness is an independent ground truth for the driver's
hash compare, not an echo of the Spark plan.

Witnesses over the documents table are pinned to the driver's
correctness scale (sf0.01).  Witnesses over generated input use the
queries' own fixed sizes (WITNESS_PAGES, WITNESS_PDFS), so those
oracles hold at every scale.  Regenerate with

    python scripts/gen_witness.py

tests/test_witness.py re-derives every witness in-process and fails if
the committed fixtures are stale.
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_pipeline_spark.fixtures.gen_pages import (  # noqa: E402
    generate_rows,
    wrap_document_as_page,
)
from ocr_pipeline_spark.fixtures.gen_pdfs import doc_pdf  # noqa: E402
from ocr_pipeline_spark.kernel.assemble import assemble_document  # noqa: E402
from ocr_pipeline_spark.kernel.page import (  # noqa: E402
    extract_page,
    page_num_from_url,
)
from ocr_pipeline_spark.queries import (  # noqa: E402
    SEED,
    WITNESS_PAGES,
    WITNESS_PDFS,
)
from ocr_pipeline_spark.sources.pdf import (  # noqa: E402
    page_text_xy,
    split_pdf_pages,
)

SF_DIR = "/root/testdata/sf0.01"
WITNESS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "witness",
)

_PAGE_SUFFIX = re.compile(r"/page-\d+/?$")


def _assemble(per_doc: dict[str, list[dict]]) -> pd.DataFrame:
    """Ordered per-document fold — mirrors operators/assembly_op.py
    _batch_assemble semantics in plain Python."""
    rows = []
    for doc_key, pages in per_doc.items():
        ordered = sorted(pages, key=lambda p: p["page_num"])
        markdowns = [p["markdown"] for p in ordered]
        n_figures = int(sum(p["n_figures"] for p in ordered))
        diagrams_used = sum(1 for p in ordered if (p["description"] or "") != "")
        doc_name = doc_key.rstrip("/").rsplit("/", 1)[-1] or doc_key
        markdown = assemble_document(
            markdowns, doc_name, n_figures=n_figures, diagrams_used=diagrams_used
        )
        rows.append(
            {
                "doc_key": doc_key,
                "n_pages": len(markdowns),
                "n_figures": n_figures,
                "n_chars": len(markdown),
            }
        )
    return pd.DataFrame(rows).sort_values("doc_key").reset_index(drop=True)


def witness_extract_documents() -> pd.DataFrame:
    """Twin of the extract_documents query at sf0.01: documents -> wrapped
    pages -> per-page kernel; columns (url, page_type, method,
    markdown, n_chars)."""
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text", "lang", "source"]
    )
    rows = []
    for d, t, l, s in zip(docs.doc_id, docs.text, docs.lang, docs.source):
        p = wrap_document_as_page(int(d), t, l, s)
        r = extract_page(p["html"], page_num_from_url(p["url"]), describe=True)
        rows.append(
            {
                "url": p["url"],
                "page_type": r.classification["type"],
                "method": r.method,
                "markdown": r.markdown,
                "n_chars": len(r.markdown),
            }
        )
    return pd.DataFrame(rows).sort_values("url").reset_index(drop=True)


def witness_assemble_documents() -> pd.DataFrame:
    """Twin of the assemble_documents query: synthetic pages corpus
    -> kernel -> per-document ordered assembly; columns (doc_key,
    n_pages, n_figures, n_chars)."""
    per_doc: dict[str, list[dict]] = {}
    for p in generate_rows(WITNESS_PAGES, SEED):
        r = extract_page(p["html"], page_num_from_url(p["url"]), describe=True)
        doc_key = _PAGE_SUFFIX.sub("", p["url"])
        per_doc.setdefault(doc_key, []).append(
            {
                "page_num": page_num_from_url(p["url"]),
                "markdown": r.markdown,
                "n_figures": r.n_figures,
                "description": r.description,
            }
        )
    return _assemble(per_doc)


def witness_extract_pdf_documents() -> pd.DataFrame:
    """Twin of the extract_pdf_documents query: PDF corpus ->
    structural text split -> html wrap (sources/pdf.py:pdf_to_pages_df
    convention) -> kernel -> assembly; columns (doc_key, n_pages,
    n_chars)."""
    import html as _html

    per_doc: dict[str, list[dict]] = {}
    for i in range(WITNESS_PDFS):
        url, payload, _ = doc_pdf(SEED, i)
        for page in split_pdf_pages(payload):
            body = "".join(
                f"<p>{_html.escape(line)}</p>"
                for line in page_text_xy(page["content"]).split("\n")
                if line.strip()
            )
            html = f"<html><body><main>{body}</main></body></html>"
            page_url = f"{url}/page-{page['page_num']}"
            r = extract_page(html.encode("utf-8"), page["page_num"], describe=True)
            doc_key = _PAGE_SUFFIX.sub("", page_url)
            per_doc.setdefault(doc_key, []).append(
                {
                    "page_num": page["page_num"],
                    "markdown": r.markdown,
                    "n_figures": r.n_figures,
                    "description": r.description,
                }
            )
    return _assemble(per_doc)[["doc_key", "n_pages", "n_chars"]]


def witness_pdf_page_explode() -> pd.DataFrame:
    """Twin of the pdf_page_explode query: PDF corpus -> structural
    page split -> content-stream text; columns (url, page_num, n_bytes,
    text)."""
    rows = []
    for i in range(WITNESS_PDFS):
        url, payload, _ = doc_pdf(SEED, i)
        for page in split_pdf_pages(payload):
            content = page["content"] or b""
            rows.append(
                {
                    "url": url,
                    "page_num": page["page_num"],
                    "n_bytes": len(content),
                    "text": page_text_xy(content),
                }
            )
    return (
        pd.DataFrame(rows)
        .sort_values(["url", "page_num"])
        .reset_index(drop=True)
    )


def _docs_texts() -> pd.DataFrame:
    return pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).sort_values("doc_id")


def _minhash_candidate_pairs(sigs: dict[int, list[int]], max_bucket: int = 64):
    """Single-process twin of lsh_candidate_pairs: band by the raw
    4-row signature tuple (the Spark side buckets by xxhash64 of the
    same tuple — identical grouping modulo negligible hash collisions),
    intra-bucket pairs with star overflow, distinct."""
    from ocr_pipeline_spark.operators.text_ops import _N_BANDS, _N_PERM

    rows_per_band = _N_PERM // _N_BANDS
    buckets: dict[tuple, list[int]] = {}
    for i, sig in sigs.items():
        for b in range(_N_BANDS):
            key = (b, tuple(sig[b * rows_per_band : (b + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(i)
    pairs = set()
    for ids in buckets.values():
        ids = sorted(ids)
        if len(ids) < 2:
            continue
        if len(ids) <= max_bucket:
            for x in range(len(ids)):
                for y in range(x + 1, len(ids)):
                    pairs.add((ids[x], ids[y]))
        else:
            for other in ids[1:]:
                pairs.add((ids[0], other))
    return pairs


def witness_minhash_dup_pairs() -> pd.DataFrame:
    """Twin of the minhash_dup_pairs query: single-process minhash signatures
    + band-bucket pair generation; columns (id_a, id_b)."""
    from ocr_pipeline_spark.operators.text_ops import minhash_signature

    docs = _docs_texts()
    sigs = {
        int(d): minhash_signature(t or "")
        for d, t in zip(docs.doc_id, docs.text)
    }
    pairs = sorted(_minhash_candidate_pairs(sigs))
    return pd.DataFrame(pairs, columns=["id_a", "id_b"])


def witness_near_dup_verified() -> pd.DataFrame:
    """Twin of the near_dup_verified query: minhash-LSH candidates verified by
    char-3-gram Jaccard at threshold 0.3; columns (id_a, id_b,
    jaccard).  round() here and in the Arrow kernel are the same
    CPython round on the same double — bit-identical."""
    from ocr_pipeline_spark.operators.text_ops import (
        minhash_signature,
        ngram_jaccard,
    )

    docs = _docs_texts()
    texts = {int(d): t or "" for d, t in zip(docs.doc_id, docs.text)}
    sigs = {i: minhash_signature(t) for i, t in texts.items()}
    rows = []
    for a, b in sorted(_minhash_candidate_pairs(sigs)):
        j = round(ngram_jaccard(texts[a], texts[b]), 4)
        if j >= 0.3:
            rows.append({"id_a": a, "id_b": b, "jaccard": j})
    return pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"])


def witness_host_link_graph() -> pd.DataFrame:
    """X31 witness: single-process outlink loop over the cross-linked
    corpus at the queries' WITNESS_PAGES size (pagerank_step,
    link_spam and hits_step read it)."""
    from collections import Counter

    from ocr_pipeline_spark.kernel.links import extract_outlinks, host_of

    counts: Counter = Counter()
    for row in generate_rows(WITNESS_PAGES, seed=SEED, cross_links=True):
        src = host_of(row["url"])
        for link in extract_outlinks(row["html"], row["url"]):
            counts[(src, host_of(link))] += 1
    rows = [
        {"src_host": s, "dst_host": d, "n_links": int(c)}
        for (s, d), c in sorted(counts.items())
    ]
    return pd.DataFrame(rows, columns=["src_host", "dst_host", "n_links"])


def witness_pdf_layout_markdown() -> pd.DataFrame:
    """X52 witness: single-process twin of the pdf_layout_markdown query
    over WITNESS_PDFS report pages — generate, split, positioned-parse,
    reconstruct, md5."""
    import hashlib

    from ocr_pipeline_spark.fixtures.gen_pdfs import report_pdf
    from ocr_pipeline_spark.sources.pdf import page_markdown_xy

    rows = []
    for i in range(WITNESS_PDFS):
        url, payload = report_pdf(SEED, i)
        md = page_markdown_xy(split_pdf_pages(payload)[0]["content"])
        rows.append(
            {
                "url": url,
                "markdown_md5": hashlib.md5(md.encode()).hexdigest(),
                "n_chars": len(md),
            }
        )
    return (
        pd.DataFrame(rows).sort_values("url").reset_index(drop=True)
    )


def witness_anchor_texts() -> pd.DataFrame:
    """X50 witness: single-process anchor loop over the cross-linked
    corpus at the anchor_texts query's WITNESS_PAGES size, with the
    identical aggregation done in pure
    Python (total refs, distinct src hosts, dominant text under
    (count DESC, text ASC))."""
    from collections import Counter, defaultdict

    from ocr_pipeline_spark.kernel.links import extract_anchors, host_of

    text_counts: dict[str, Counter] = defaultdict(Counter)
    hosts: dict[str, set] = defaultdict(set)
    refs: Counter = Counter()
    for row in generate_rows(WITNESS_PAGES, seed=SEED, cross_links=True):
        src = host_of(row["url"])
        for link, text in extract_anchors(row["html"], row["url"]):
            refs[link] += 1
            hosts[link].add(src)
            text_counts[link][text] += 1
    rows = []
    for dst in sorted(refs):
        top_text, top_n = min(
            text_counts[dst].items(), key=lambda kv: (-kv[1], kv[0])
        )
        rows.append(
            {
                "dst_url": dst,
                "n_refs": int(refs[dst]),
                "n_src_hosts": len(hosts[dst]),
                "top_anchor": top_text,
                "top_anchor_n": int(top_n),
            }
        )
    return pd.DataFrame(
        rows,
        columns=[
            "dst_url", "n_refs", "n_src_hosts", "top_anchor", "top_anchor_n"
        ],
    )


def _bpe_train_single_process() -> list[tuple[str, str]]:
    """Single-process twin of operators/bpe.train_bpe at the query's
    parameters (n_merges=64, vocab_cap=20000): pure-Python Counter word
    count over the raw corpus, the SAME (wc DESC, word ASC) truncation,
    then the shared learn_bpe merge loop.  Equality with the Spark path
    proves distributed-wordcount + bounded-vocab == direct training."""
    from collections import Counter

    from ocr_pipeline_spark.operators.bpe import learn_bpe

    counts: Counter = Counter()
    for t in _docs_texts().text:
        for w in (t or "").split(" "):
            if w:
                counts[w] += 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20_000]
    return learn_bpe(dict(top), n_merges=64)


def witness_bpe_merges() -> pd.DataFrame:
    """X39 witness: the learned merge list; columns (rank, lhs, rhs)."""
    merges = _bpe_train_single_process()
    return pd.DataFrame(
        [{"rank": i, "lhs": l, "rhs": r} for i, (l, r) in enumerate(merges)],
        columns=["rank", "lhs", "rhs"],
    ).astype({"rank": "int32"})


def _semdedup_twin(ids: np.ndarray, V: np.ndarray, tau: float) -> pd.DataFrame:
    """Single-process SemDeDup twin of operators/semdedup.py:
    md5-ordered bounded sample -> driver Lloyd (with the Spark path's
    exact python-float round-trip) -> renormalize -> argmax assign ->
    per-cell rank-and-drop, all with the SAME pure-numpy kernels the
    Spark operators call.  Every cross-row reduction is fixed-order
    over the embedding dimension, so equality with the distributed
    output is bit-exact, not approximate."""
    import hashlib

    from ocr_pipeline_spark.operators.semdedup import (
        cell_sims,
        lloyd_spherical,
        normalize_rows,
        semdedup_cell,
    )

    # the query's deterministic sample: smallest (md5(str(id)), id) rows
    keys = [hashlib.md5(str(i).encode()).hexdigest() for i in ids]
    order = sorted(range(len(ids)), key=lambda j: (keys[j], ids[j]))
    # mirror the Spark path's exact float sequence: Lloyd -> python-float
    # round-trip -> renormalize (semdedup() renormalizes its input)
    C = [
        [float(x) for x in row]
        for row in lloyd_spherical(V[order[:256]], n_cells=8, iters=8)
    ]
    Cn = normalize_rows(np.array(C, dtype=np.float64))
    Vn = normalize_rows(V)
    sims = cell_sims(Vn, Cn)
    cell = np.argmax(sims, axis=1)
    cent_sim = sims[np.arange(len(cell)), cell]
    parts = []
    for c in sorted(set(cell.tolist())):
        m = cell == c
        out = semdedup_cell(ids[m], Vn[m], cent_sim[m], tau=tau)
        out.insert(1, "cell", np.int32(c))
        parts.append(out)
    return (
        pd.concat(parts, ignore_index=True)
        .sort_values("vec_id")
        .reset_index(drop=True)
    )


def witness_doc_embeddings() -> pd.DataFrame:
    """X53 witness: hashed char-ngram embeddings per document — the
    single-process twin calls the SAME pure embed_text/embedding_md5
    the Arrow kernel wraps (operators/embed.py), so distributed ==
    local is exact.  Columns (doc_id, embedding, emb_md5): emb_md5
    oracles doc_embeddings; the embedding array lets the doc_embed_knn
    oracle re-derive cosine top-k in SQL."""
    from ocr_pipeline_spark.operators.embed import embed_text, embedding_md5

    docs = _docs_texts()
    rows = []
    for d, t in zip(docs.doc_id, docs.text):
        v = embed_text(t or "")
        rows.append(
            {
                "doc_id": int(d),
                "embedding": [float(x) for x in v],
                "emb_md5": embedding_md5(v),
            }
        )
    return pd.DataFrame(rows)


def witness_doc_embed_semdedup() -> pd.DataFrame:
    """X53×X43 witness: the full corpus → embedding → SemDeDup chain
    replayed single-process — embed_text per document (the pure
    function the Arrow kernel wraps), then the
    sample→Lloyd→assign→per-cell-drop flow of _semdedup_twin, so
    the chained Spark query is proven end-to-end bit-exact, not just
    per stage."""
    from ocr_pipeline_spark.operators.embed import embed_text

    docs = _docs_texts()
    ids = docs.doc_id.to_numpy().astype("int64")
    V = np.array(
        [[float(x) for x in embed_text(t or "")] for t in docs.text],
        dtype=np.float64,
    )
    return (
        _semdedup_twin(ids, V, tau=0.95)
        .rename(columns={"vec_id": "doc_id"})
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def witness_warc_records() -> pd.DataFrame:
    """X44 witness: expected per-record fields computed WITHOUT the WARC
    writer or parser — url/date straight from the page wrapper, md5 and
    byte length from the raw html, record size from envelope arithmetic
    — so equality with the Spark path proves the build -> gzip ->
    parse -> HTTP-split round trip is byte-exact, not merely
    self-consistent."""
    import hashlib

    from ocr_pipeline_spark.fixtures.gen_pages import wrap_document_as_page
    from ocr_pipeline_spark.sources.warc import http_response_payload

    docs = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))
    rows = []
    for d, t, l, s in zip(docs.doc_id, docs.text, docs.lang, docs.source):
        page = wrap_document_as_page(int(d), t, l, s)
        html = page["html"]
        rows.append(
            {
                "url": page["url"],
                "warc_date": page["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                "rec_type": "response",
                "http_status": 200,
                "html_md5": hashlib.md5(html).hexdigest(),
                "n_html_bytes": len(html),
                "n_rec_bytes": len(http_response_payload(html)),
            }
        )
    return (
        pd.DataFrame(rows)
        .astype({"http_status": "int32", "n_html_bytes": "int32"})
        .sort_values("url")
        .reset_index(drop=True)
    )


def witness_fuzzy_decontamination() -> pd.DataFrame:
    """Twin of the fuzzy_decontamination query: deterministic eval-leak
    injection, bipartite minhash banding (raw band tuples — the Spark
    side buckets by xxhash64 of the same tuples), char-3-gram Jaccard
    verify at 0.5; columns (doc_id, ref_id, jaccard)."""
    from ocr_pipeline_spark.operators.text_ops import (
        _N_BANDS,
        _N_PERM,
        minhash_signature,
        ngram_jaccard,
    )

    docs = _docs_texts()
    texts = {int(d): (t or "") for d, t in zip(docs.doc_id, docs.text)}
    ev = {i: t for i, t in texts.items() if i % 97 == 0}
    corpus = {}
    for i, t in texts.items():
        if i % 97 == 0:
            continue
        pick = (i % 6) * 97
        if i % 89 == 0 and pick in ev:
            t = ev[pick] + " " + " ".join(t.split(" ")[:8])
        corpus[i] = t
    rows_per_band = _N_PERM // _N_BANDS

    def bands(sig):
        return {
            (b, tuple(sig[b * rows_per_band : (b + 1) * rows_per_band]))
            for b in range(_N_BANDS)
        }

    ev_bands: dict[tuple, set[int]] = {}
    for rid, t in ev.items():
        for key in bands(minhash_signature(t)):
            ev_bands.setdefault(key, set()).add(rid)
    out = []
    for cid, t in sorted(corpus.items()):
        hit = set()
        for key in bands(minhash_signature(t)):
            hit |= ev_bands.get(key, set())
        for rid in sorted(hit):
            j = round(ngram_jaccard(t, ev[rid]), 4)
            if j >= 0.5:
                out.append({"doc_id": cid, "ref_id": rid, "jaccard": j})
    return pd.DataFrame(
        out, columns=["doc_id", "ref_id", "jaccard"]
    ).sort_values(["doc_id", "ref_id"]).reset_index(drop=True)


def witness_wet_export() -> pd.DataFrame:
    """Twin of the wet_export query: single-process kernel extraction ->
    WARC 'conversion' records -> per-record-gzip container per
    content-addressed shard (first md5 hex digit of url % 8), records
    url-sorted; columns (shard, n_records, n_bytes, wet_md5)."""
    import hashlib

    from ocr_pipeline_spark.fixtures.gen_pages import (
        page_ts,
        wrap_document_as_page,
    )
    from ocr_pipeline_spark.sources.warc import build_warc

    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet",
        columns=["doc_id", "text", "lang", "source"],
    )
    shards: dict[int, list[dict]] = {}
    for d, t, l, s in zip(docs.doc_id, docs.text, docs.lang, docs.source):
        p = wrap_document_as_page(int(d), t, l, s)
        r = extract_page(p["html"], page_num_from_url(p["url"]), describe=True)
        shard = int(hashlib.md5(p["url"].encode()).hexdigest()[0], 16) % 8
        shards.setdefault(shard, []).append(
            {
                "rec_type": "conversion",
                "url": p["url"],
                "date": page_ts(int(d)).strftime("%Y-%m-%dT%H:%M:%SZ"),
                "payload": r.markdown.encode("utf-8"),
            }
        )
    rows = []
    for shard, recs in sorted(shards.items()):
        recs.sort(key=lambda r: r["url"])
        blob = build_warc(recs, per_record_gzip=True)
        rows.append(
            {
                "shard": shard,
                "n_records": len(recs),
                "n_bytes": len(blob),
                "wet_md5": hashlib.md5(blob).hexdigest(),
            }
        )
    return pd.DataFrame(rows).astype({"shard": "int32"}).reset_index(drop=True)


def witness_page_metadata() -> pd.DataFrame:
    """Twin of the page_metadata query at sf0.01: documents -> head-enriched
    pages (wrap_document_with_head) -> kernel/metadata.page_metadata;
    columns (url, title, description, canonical, og_title, ld_type)."""
    from ocr_pipeline_spark.fixtures.gen_pages import wrap_document_with_head
    from ocr_pipeline_spark.kernel.metadata import page_metadata

    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text", "lang", "source"]
    )
    rows = []
    for d, t, l, s in zip(docs.doc_id, docs.text, docs.lang, docs.source):
        p = wrap_document_with_head(int(d), t, l, s)
        rows.append({"url": p["url"], **page_metadata(p["html"])})
    return pd.DataFrame(rows).sort_values("url").reset_index(drop=True)


WITNESSES = {
    "extract_documents": witness_extract_documents,
    "assemble_documents": witness_assemble_documents,
    "extract_pdf_documents": witness_extract_pdf_documents,
    "pdf_page_explode": witness_pdf_page_explode,
    "minhash_dup_pairs": witness_minhash_dup_pairs,
    "near_dup_verified": witness_near_dup_verified,
    "host_link_graph": witness_host_link_graph,
    "anchor_texts": witness_anchor_texts,
    "pdf_layout_markdown": witness_pdf_layout_markdown,
    "doc_embeddings": witness_doc_embeddings,
    "doc_embed_semdedup": witness_doc_embed_semdedup,
    "warc_records": witness_warc_records,
    "bpe_merges": witness_bpe_merges,
    "page_metadata": witness_page_metadata,
    "fuzzy_decontamination": witness_fuzzy_decontamination,
    "wet_export": witness_wet_export,
}


def main() -> None:
    os.makedirs(WITNESS_DIR, exist_ok=True)
    for name, fn in WITNESSES.items():
        out = os.path.join(WITNESS_DIR, f"{name}.parquet")
        df = fn()
        df.to_parquet(out, index=False)
        print(f"wrote {out}: {len(df)} rows, cols {list(df.columns)}")


if __name__ == "__main__":
    main()
