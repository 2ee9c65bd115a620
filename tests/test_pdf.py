"""PDF payload page explode (S2): splitter, text ops, Spark plumbing."""

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.fixtures.gen_pdfs import build_pdf, doc_pdf, generate_pdfs_df
from ocr_pipeline_spark.sources.pdf import explode_pdf_pages, split_pdf_pages
from oracle_pdf import page_text


# --- splitter (pure) ---------------------------------------------------------
def test_split_roundtrip_compressed_and_raw():
    for compress in (True, False):
        pdf = build_pdf(["alpha one\nbeta two", "gamma", "delta\nfour"],
                        compress=compress)
        pages = split_pdf_pages(pdf)
        assert [p["page_num"] for p in pages] == [1, 2, 3]
        assert [page_text(p["content"]) for p in pages] == [
            "alpha one\nbeta two", "gamma", "delta\nfour",
        ]


def test_split_respects_kids_order_not_file_order():
    """Page order must come from the /Kids array, not object position."""
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        # page objects appear in file in REVERSE order of the tree
        b"4 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>\nendobj\n"
        b"5 0 obj\n<< /Length 22 >>\nstream\nBT (first page) Tj ET\nendstream\nendobj\n"
        b"6 0 obj\n<< /Length 23 >>\nstream\nBT (second page) Tj ET\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    pages = split_pdf_pages(pdf)
    assert [page_text(p["content"]) for p in pages] == [
        "first page", "second page",
    ]


def test_split_tolerates_garbage():
    assert split_pdf_pages(None) == []
    assert split_pdf_pages(b"") == []
    assert split_pdf_pages(b"<html>not a pdf</html>") == []
    assert split_pdf_pages(b"%PDF-1.4\ntruncated junk") == []
    # valid header, broken object graph: still no crash
    assert split_pdf_pages(b"%PDF-1.4\n1 0 obj\n<< /Type /Page") == []


def test_split_pdf_pages_text_matches_structural_path():
    """split_pdf_pages_text is the environment-stable TEXT splitter
    (ADVICE r2: under PyMuPDF split_pdf_pages yields PNG bytes, which
    must never reach page_text).  In the codec-free environment it must
    equal page_text over the structural split exactly."""
    from ocr_pipeline_spark.sources.pdf import split_pdf_pages_text

    pdf = build_pdf(["alpha one\nbeta two", "gamma", "delta\nfour"])
    assert split_pdf_pages_text(pdf) == [
        {"page_num": 1, "text": "alpha one\nbeta two"},
        {"page_num": 2, "text": "gamma"},
        {"page_num": 3, "text": "delta\nfour"},
    ]
    assert split_pdf_pages_text(None) == []
    assert split_pdf_pages_text(b"<html>not a pdf</html>") == []


def test_split_pdf_pages_text_pymupdf_branch(monkeypatch):
    """Exercise the PyMuPDF environment branch without the dependency
    (r3 VERDICT #6): with a stub fitz module injected, the TEXT splitter
    must yield page.get_text() output — and the image splitter pixmap
    PNG bytes — instead of falling through to the structural path."""
    import ocr_pipeline_spark.sources.pdf as pdf_mod

    class _FakePage:
        def __init__(self, i):
            self.i = i

        def get_text(self):
            return f"mupdf text of page {self.i}"

        def get_pixmap(self, dpi=72):
            page = self

            class _Pix:
                def tobytes(self, fmt):
                    assert fmt == "png"
                    return b"PNG-" + str(page.i).encode()

            return _Pix()

    class _FakeDoc:
        closed = False

        def __iter__(self):
            return iter(_FakePage(i) for i in range(1, 4))

        def close(self):
            _FakeDoc.closed = True

    class _FakeFitz:
        @staticmethod
        def open(stream, filetype):
            assert filetype == "pdf" and stream[:5] == b"%PDF-"
            return _FakeDoc()

    monkeypatch.setattr(pdf_mod, "_fitz", _FakeFitz, raising=False)
    monkeypatch.setattr(pdf_mod, "_HAVE_MUPDF", True)

    pdf = build_pdf(["alpha", "beta", "gamma"])
    assert pdf_mod.split_pdf_pages_text(pdf) == [
        {"page_num": 1, "text": "mupdf text of page 1"},
        {"page_num": 2, "text": "mupdf text of page 2"},
        {"page_num": 3, "text": "mupdf text of page 3"},
    ]
    assert _FakeDoc.closed
    assert pdf_mod.split_pdf_pages(pdf) == [
        {"page_num": 1, "content": b"PNG-1"},
        {"page_num": 2, "content": b"PNG-2"},
        {"page_num": 3, "content": b"PNG-3"},
    ]
    # guard inputs still short-circuit before touching fitz
    assert pdf_mod.split_pdf_pages_text(b"notpdf") == []


def test_page_text_escapes_and_tj_arrays():
    content = (
        rb"BT (paren \( and \) ok) Tj "
        rb"[(kerned ) -120 (array)] TJ "
        rb"(octal \101\102) Tj ET"
    )
    assert page_text(content) == "paren ( and ) ok\nkerned array\noctal AB"
    assert page_text(b"") == ""
    assert page_text(None) == ""


def test_corpus_determinism():
    u1, d1, n1 = doc_pdf(42, 3)
    u2, d2, n2 = doc_pdf(42, 3)
    assert (u1, d1, n1) == (u2, d2, n2)
    assert doc_pdf(43, 3)[1] != d1  # seed matters


# --- Spark plumbing ----------------------------------------------------------
def test_explode_pdf_pages_spark(spark):
    docs = generate_pdfs_df(spark, 30, seed=42)
    pages = explode_pdf_pages(docs, "payload")
    rows = pages.collect()
    expected = {  # page counts straight from the generator
        doc_pdf(42, i)[0]: doc_pdf(42, i)[2] for i in range(30)
    }
    got = {}
    for r in rows:
        got[r.url] = max(got.get(r.url, 0), r.page_num)
        assert isinstance(r.content, (bytes, bytearray))
    assert got == expected
    assert len(rows) == sum(expected.values())


def test_explode_is_narrow_no_shuffle(spark):
    docs = generate_pdfs_df(spark, 5, seed=1)
    plan = explode_pdf_pages(docs, "payload")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # explode inherits input partitioning


def test_pdf_query_entry(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["pdf_page_explode"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) >= 100
    assert all(r.text for r in rows if r.n_bytes > 0)
    first = rows[0]
    assert first.page_num == 1


# --- full pipeline integration ----------------------------------------------
def test_pdf_to_pages_flows_through_extraction_and_assembly(spark):
    """PDF payloads must ride the SAME kernel + assembly as html pages:
    per-page markdown byte-equals extract_page on the wrapped html, and
    assembly recovers one document per PDF with the generator's page
    count."""
    from ocr_pipeline_spark.kernel.page import extract_page, page_num_from_url
    from ocr_pipeline_spark.operators.assembly_op import assemble_documents
    from ocr_pipeline_spark.plans.job import run_extraction
    from ocr_pipeline_spark.sources.pdf import pdf_to_pages_df

    n = 20
    docs = generate_pdfs_df(spark, n, seed=42)
    pages = pdf_to_pages_df(docs)
    extracted = run_extraction(spark, pages, describe=True, co_locate_hosts=False)
    rows = extracted.collect()
    page_inputs = {r.url: bytes(r.html) for r in pages.collect()}
    assert len(rows) == len(page_inputs)
    for r in rows:
        expect = extract_page(
            page_inputs[r.url], page_num_from_url(r.url), describe=True
        ).markdown
        assert r.markdown == expect, r.url

    assembled = {r.doc_key: r for r in assemble_documents(extracted).collect()}
    expected_pages = {doc_pdf(42, i)[0]: doc_pdf(42, i)[2] for i in range(n)}
    assert {k: v.n_pages for k, v in assembled.items()} == expected_pages
    # a multi-page doc's markdown carries both page headers and real text
    multi = next(url for url, np_ in expected_pages.items() if np_ >= 2)
    md = assembled[multi].markdown
    assert "<!-- Page 1 |" in md and "<!-- Page 2 |" in md
    first_line = page_text(
        split_pdf_pages(doc_pdf(42, int(multi.split("doc")[1].split(".")[0]))[1])[0]["content"]
    ).split("\n")[0]
    assert first_line in md


def test_pdf_documents_query_entry(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["extract_pdf_documents"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) == 400
    assert all(r.n_pages >= 1 and r.n_chars > 0 for r in rows)
