"""Spans recorded from the benchmark's own files, around calls into the
program's public functions.

A `Tracer` rebinds a function on its module or class for the duration
of a ``with`` block, records one span per call (name, start, end,
parent) in memory, and restores every binding on exit.  A layer's self
time is its spans' durations minus the time of their direct child spans.

`kernel_replay` runs the kernel in process over the workload's pages
with every stage wrapped, including the module-level rebindings
(``blocks.parse_html``, ``page.render_blocks`` ...) through which one
stage calls the next.  `catalog_spans` wraps `ParquetCatalog` on the
driver.
"""

from __future__ import annotations

import time
from collections import Counter

from ocr_pipeline_spark.kernel import blocks, dom, page
from ocr_pipeline_spark.kernel.classify import VALID_TYPES
from ocr_pipeline_spark.sources.catalog import ParquetCatalog


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[list] = []  # [name, start, end, parent index]
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    def wrap(self, owner, attr: str, name: str, on_result=None):
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            idx = len(tracer.spans)
            tracer.spans.append(
                [name, tracer.clock(), None, tracer._stack[-1] if tracer._stack else -1]
            )
            tracer._stack.append(idx)
            try:
                result = original(*args, **kwargs)
            finally:
                tracer._stack.pop()
                tracer.spans[idx][2] = tracer.clock()
            if on_result:
                on_result(tracer, result)
            return result

        self._saved.append((owner, attr, original))
        setattr(owner, attr, traced)

    def __enter__(self) -> "Tracer":
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def totals(self) -> dict[str, float]:
        out: Counter = Counter()
        for name, start, end, _parent in self.spans:
            out[name] += end - start
        return dict(out)

    def self_times(self) -> dict[str, float]:
        out: Counter = Counter(self.totals())
        for name, start, end, parent in self.spans:
            if parent >= 0:
                out[self.spans[parent][0]] -= end - start
        return dict(out)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)


# --- kernel replay ------------------------------------------------------------
def _count_blocks(tracer, result):
    tracer.counts["blocks_out"] += len(result[0])


def _count_type(tracer, result):
    tracer.counts["n_" + str(result.get("type"))] += 1


def _count_page(tracer, result):
    markdown, _method, spans = result
    tracer.counts["spans_out"] += len(spans)
    tracer.counts["empty_pages"] += 0 if markdown else 1


def kernel_replay(rows: list[dict]) -> dict:
    """Per-layer kernel metrics over `rows`, run in this process."""
    with Tracer() as t:
        t.wrap(dom, "decode_html", "decode")
        t.wrap(dom, "_parse_html_stdlib", "stdlib")
        for module in (dom, blocks):
            t.wrap(module, "parse_html", "parse")
        t.wrap(page, "render_blocks", "render", _count_blocks)
        t.wrap(page, "classify_stats", "classify", _count_type)
        t.wrap(page, "clean_text", "clean")
        t.wrap(page, "describe_diagram_source", "describe")
        t.wrap(page, "finalize_page", "finalize", _count_page)
        t.wrap(page, "extract_page", "page")
        for row in rows:
            page.extract_page(
                row["html"], page.page_num_from_url(row["url"]), describe=True
            )
    own, total = t.self_times(), t.totals()
    kernel_s = total.get("page", 0.0)
    metrics = {
        "kernel.dom.decode_s": own.get("decode", 0.0),
        # stdlib fallbacks run inside parse and are part of its cost
        "kernel.dom.parse_s": own.get("parse", 0.0) + total.get("stdlib", 0.0),
        "kernel.dom.bytes_in": sum(len(r["html"]) for r in rows),
        "kernel.dom.stdlib_fallbacks": t.calls("stdlib"),
        "kernel.blocks.render_s": own.get("render", 0.0),
        "kernel.blocks.blocks_out": t.counts["blocks_out"],
        "kernel.classify.classify_s": total.get("classify", 0.0),
        "kernel.cleaning.clean_s": total.get("clean", 0.0),
        "kernel.describe.describe_s": total.get("describe", 0.0),
        "kernel.describe.calls": t.calls("describe"),
        "kernel.page.finalize_s": total.get("finalize", 0.0),
        "kernel.page.spans_out": t.counts["spans_out"],
        "kernel.page.empty_pages": t.counts["empty_pages"],
        "kernel.pages_per_s": len(rows) / kernel_s if kernel_s else 0.0,
        "kernel.total_s": kernel_s,
    }
    for kind in sorted(VALID_TYPES):
        metrics[f"kernel.classify.n_{kind}"] = t.counts["n_" + kind]
    return metrics


# --- catalog spans ----------------------------------------------------------------
CATALOG_METHODS = (
    "completed_buckets", "overwrite_buckets", "read", "write_metrics",
    "bucket_row_counts", "commit_bucket",
)


def catalog_spans(tracer: Tracer) -> None:
    """Wrap every ParquetCatalog method (use an epoch-clock tracer, so
    spans line up with Spark's stage and execution times)."""
    for method in CATALOG_METHODS:
        tracer.wrap(ParquetCatalog, method, f"catalog.{method}")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
