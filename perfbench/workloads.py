"""The three workloads: each is one closed-loop client that runs the
product's public entry points one job at a time over its generated
`pages` table.

* crawl_small  -- fixture mix, salted north-rule plan
                  (`run_extraction(co_locate_hosts=True)`);
* crawl_large  -- 25-60 KB pages, map-only plan (`co_locate_hosts=False`);
* write_resume -- crawl_small's input through `run_pipeline`, killed
                  after half its chunks (`max_chunks`) and resumed under
                  the same run_id.

Every job consumes every output column through an order-independent
row digest, so Catalyst cannot prune the exchange being measured.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import functions as F

from ocr_pipeline_spark.kernel import extract_page
from ocr_pipeline_spark.kernel.page import page_num_from_url
from ocr_pipeline_spark.plans.job import run_extraction, run_pipeline
from ocr_pipeline_spark.sources.catalog import PKEY_COL, open_catalog

import inputs
import sparkmetrics as sm
import tracing

_HASH_MOD = 1 << 40  # sum of 40-bit row hashes cannot overflow a long

CATALOG_KEYS = tuple(
    "sources.catalog." + k for k in (
        "overwrite_s", "write_bytes", "files_written", "job_commit_s", "metrics_s",
        "row_counts_s", "commit_s", "completed_s", "chunks", "buckets_skipped",
        "rows_rewritten_frac",
    )
)


def row_hash(df):
    cols = [c for c in df.columns if c != PKEY_COL]
    return F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD))


def digest(df):
    """Order-independent (row count, digest) over every column of df."""
    return df.agg(F.count("*").alias("n"), F.sum(row_hash(df)).alias("d"))


def collect_digest(df) -> tuple[int, int]:
    row = digest(df).collect()[0]
    return int(row["n"]), int(row["d"] or 0)


class Ctx:
    """Per-run state shared by the phases of one workload run."""

    def __init__(self, host, rows: list[dict]):
        self.host = host
        self.rows = rows
        self.spark = None
        self.pages = os.path.join(host.work, "pages")
        self.warm = os.path.join(host.work, "pages_warm")

    def path(self, name: str) -> str:
        return os.path.join(self.host.work, name)


class Check:
    """Correctness of the output tables against the input rows.

    `table` checks one table url by url.  `same` checks a job's digest
    against the reference digest; a digest miss cannot name the urls it
    got wrong, so it counts every url toward `error_rate`, and so does a
    resume that skipped the wrong buckets."""

    def __init__(self, rows: list[dict], seed: int, sample: int):
        self.urls = [r["url"] for r in rows]
        self.by_url = {r["url"]: r for r in rows}
        self.sample = sorted(random.Random(seed).sample(self.urls, min(sample, len(rows))))
        self.bad: set[str] = set()
        self.missed = False
        self.digest: tuple[int, int] | None = None
        self.failures: list[str] = []

    def table(self, df) -> tuple[int, int]:
        """Row count, duplicates, missing urls and the sample's markdown
        against in-process `extract_page(html, page_num, describe=True)`;
        returns the table's digest."""
        rows = df.select(
            "url", row_hash(df).alias("h"),
            F.when(F.col("url").isin(self.sample), F.col("markdown")).alias("md"),
        ).collect()
        seen: dict[str, int] = {}
        for r in rows:
            seen[r["url"]] = seen.get(r["url"], 0) + 1
        bad = {u for u in self.urls if seen.get(u) != 1}
        bad |= {u for u in seen if u not in self.by_url}
        got = {r["url"]: r["md"] for r in rows if r["md"] is not None}
        for url in self.sample:
            row = self.by_url[url]
            want = extract_page(row["html"], page_num_from_url(url), describe=True)
            if got.get(url) != want.markdown:
                bad.add(url)
        if bad:
            self.failures.append(f"{len(bad)} urls missing, duplicated or wrong")
        self.bad |= bad
        return len(rows), sum(r["h"] for r in rows)

    def miss(self, what: str) -> None:
        self.failures.append(what)
        self.missed = True

    def same(self, what: str, got: tuple[int, int]) -> bool:
        """A job is correct only if its digest matches a reference taken
        from a table that passed the url checks."""
        if got != self.digest:
            self.miss(f"{what}: digest {got} != reference {self.digest}")
        return got == self.digest and not self.bad

    @property
    def error_rate(self) -> float:
        return 1.0 if self.missed else len(self.bad) / len(self.urls)


class Crawl:
    """run_extraction over the pages table; one job = read + extract +
    digest of every output column."""

    def __init__(self, name: str, co_locate: bool, n_pages: int, sample: int, large: bool):
        self.warm_rows = 64 if large else 256
        self.name = name
        self.co_locate = co_locate
        self.n_pages = n_pages
        self.sample = sample
        self.large = large

    def make_rows(self, seed: int) -> list[dict]:
        if self.large:
            return inputs.large_rows(self.n_pages, seed)
        return inputs.small_rows(self.n_pages, seed)

    def extracted(self, ctx: Ctx, path: str):
        pages = ctx.spark.read.parquet(path)
        return run_extraction(ctx.spark, pages, describe=True, co_locate_hosts=self.co_locate)

    def warm_up(self, ctx: Ctx) -> None:
        collect_digest(self.extracted(ctx, ctx.warm))

    def check(self, ctx: Ctx, check: Check) -> None:
        check.digest = check.table(self.extracted(ctx, ctx.pages))

    def job(self, ctx: Ctx, i: int) -> dict:
        """The timed part; returns what `verify` and `harvest` need."""
        agg = digest(self.extracted(ctx, ctx.pages))
        row = agg.collect()[0]
        return {"agg": agg, "digest": (int(row["n"]), int(row["d"] or 0))}

    def verify(self, ctx: Ctx, state: dict, check: Check) -> tuple[bool, float]:
        """(correct, output bytes per doc) of a finished job."""
        ok = check.same(f"{self.name} job", state["digest"])
        received = sm.summarize(sm.plan_nodes(state["agg"]))[
            "operators.extract_op.bytes_from_python"]
        return ok, received / len(ctx.rows)

    def harvest(self, ctx: Ctx, state: dict, spans: tracing.Tracer) -> dict:
        # no catalog on this path: its layer reads 0
        return {**dict.fromkeys(CATALOG_KEYS, 0.0), **sm.summarize(sm.plan_nodes(state["agg"]))}


class WriteResume:
    """run_pipeline killed after half its chunks, then resumed."""

    warm_rows = 256
    n_buckets = 8
    chunk_size = 4
    table = "extracted"

    def __init__(self, n_pages: int, sample: int):
        self.name = "write_resume"
        self.n_pages = n_pages
        self.sample = sample
        self.kill_after = self.n_buckets // self.chunk_size // 2
        self._checked = False
        self.reference = Crawl("crawl_small", True, n_pages, sample, large=False)

    def make_rows(self, seed: int) -> list[dict]:
        return inputs.small_rows(self.n_pages, seed)

    def _run(self, ctx: Ctx, path: str, warehouse: str) -> tuple[dict, dict]:
        pages = ctx.spark.read.parquet(path)
        kw = dict(
            table=self.table, n_buckets=self.n_buckets, chunk_size=self.chunk_size,
            co_locate_hosts=True, metrics_mode="committed",
        )
        killed = run_pipeline(ctx.spark, pages, warehouse, "bench", max_chunks=self.kill_after, **kw)
        resumed = run_pipeline(ctx.spark, pages, warehouse, "bench", **kw)
        return killed, resumed

    def warm_up(self, ctx: Ctx) -> None:
        # one uninterrupted run: the same write, commit and metrics path
        warehouse = ctx.path("warehouse-warm")
        shutil.rmtree(warehouse, ignore_errors=True)
        run_pipeline(
            ctx.spark, ctx.spark.read.parquet(ctx.warm), warehouse, "warm",
            table=self.table, n_buckets=self.n_buckets, chunk_size=self.n_buckets,
        )

    def check(self, ctx: Ctx, check: Check) -> None:
        # the salted crawl_small digest is the reference every resumed
        # table must reproduce; the url checks run on the first job's table
        check.digest = collect_digest(self.reference.extracted(ctx, ctx.pages))

    def job(self, ctx: Ctx, i: int) -> dict:
        warehouse = ctx.path(f"warehouse-{i}")
        killed, resumed = self._run(ctx, ctx.pages, warehouse)
        return {"warehouse": warehouse, "killed": killed, "resumed": resumed}

    def verify(self, ctx: Ctx, state: dict, check: Check) -> tuple[bool, float]:
        killed, resumed = state["killed"], state["resumed"]
        table = open_catalog(ctx.spark, state["warehouse"]).read(self.table)
        got = collect_digest(table) if self._checked else check.table(table)
        self._checked = True
        ok = check.same("write_resume table vs crawl_small", got)
        if resumed["skipped"] != len(killed["processed_buckets"]):
            ok = False
            check.miss(
                f"resume skipped {resumed['skipped']} buckets, "
                f"{len(killed['processed_buckets'])} were committed"
            )
        out_bytes = inputs.table_bytes(os.path.join(state["warehouse"], self.table, "data"))
        shutil.rmtree(state["warehouse"])
        return ok, out_bytes / len(ctx.rows)

    def harvest(self, ctx: Ctx, state: dict, spans: tracing.Tracer) -> dict:
        nodes = sm.status_nodes(ctx.spark, state["exec_first"], state["exec_last"])
        out = sm.summarize(nodes)
        own = spans.totals()
        windows = [
            (s[1], s[2]) for s in spans.spans if s[0] == "catalog.overwrite_buckets"
        ]
        writes = [
            n for n in sm.write_nodes(nodes)
            if any(a <= n["submitted"] <= b for a, b in windows)
        ]
        written_rows = sum(n["metrics"].get("numOutputRows", 0) for n in writes)
        out.update({
            "sources.catalog.overwrite_s": own.get("catalog.overwrite_buckets", 0.0),
            "sources.catalog.write_bytes": sum(n["metrics"].get("numOutputBytes", 0) for n in writes),
            "sources.catalog.files_written": sum(n["metrics"].get("numFiles", 0) for n in writes),
            "sources.catalog.job_commit_s": sum(n["metrics"].get("jobCommitTime", 0) for n in writes),
            "sources.catalog.metrics_s": own.get("catalog.write_metrics", 0.0),
            "sources.catalog.row_counts_s": own.get("catalog.bucket_row_counts", 0.0),
            "sources.catalog.commit_s": own.get("catalog.commit_bucket", 0.0),
            "sources.catalog.completed_s": own.get("catalog.completed_buckets", 0.0),
            "sources.catalog.chunks": spans.calls("catalog.overwrite_buckets"),
            "sources.catalog.buckets_skipped": state["resumed"]["skipped"],
            "sources.catalog.rows_rewritten_frac": written_rows / len(ctx.rows),
        })
        return out


WORKLOADS = {
    "crawl_small": lambda pages: Crawl("crawl_small", True, pages or 8000, 200, large=False),
    "crawl_large": lambda pages: Crawl("crawl_large", False, pages or 400, 40, large=True),
    "write_resume": lambda pages: WriteResume(pages or 8000, 200),
}
