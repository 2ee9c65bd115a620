"""The kernel's layer ledger: perfbench's in-process replay must keep
attributing every stage.  `perfbench/tracing.py` rebinds the kernel's
stage functions by name (dom.parse_html, page.render_blocks,
page.clean_text, ...); a refactor that moves work out from under one of
those names shows up here as a missing key, a zero self-time or a gap
between the stage times and the kernel total.  Also pinned: the premise
of the kernel's per-page GC pause, that it creates no reference cycles."""

import gc
import importlib.util
import json
import os

from ocr_pipeline_spark.fixtures.gen_pages import generate_rows
from ocr_pipeline_spark.kernel.page import extract_page

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the stages whose times add up to kernel.total_s
STAGES = (
    "kernel.dom.decode_s",
    "kernel.dom.parse_s",
    "kernel.blocks.render_s",
    "kernel.classify.classify_s",
    "kernel.cleaning.clean_s",
    "kernel.describe.describe_s",
    "kernel.page.finalize_s",
)


def _tracing():
    """perfbench/tracing.py, loaded by path (read only, not imported as
    part of a package)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", os.path.join(ROOT, "perfbench", "tracing.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _replay(rows):
    # a cyclic-GC pause lands in whichever span is open; keep it out of
    # the ledger so the sum check measures attribution, not the collector
    gc.collect()
    gc.disable()
    try:
        return _tracing().kernel_replay(rows)
    finally:
        gc.enable()


def test_kernel_ledger_attributes_every_stage():
    metrics = _replay(generate_rows(100, 5))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = [
            m["name"] for m in json.load(fh)["per_layer"]
            if m["name"].startswith("kernel.")
        ]
    assert declared and not set(declared) - set(metrics)
    assert metrics["kernel.dom.stdlib_fallbacks"] == 0
    for key in (
        "kernel.dom.parse_s",
        "kernel.blocks.render_s",
        "kernel.cleaning.clean_s",
        "kernel.page.finalize_s",
    ):
        assert metrics[key] > 0, key
    total = metrics["kernel.total_s"]
    stages = sum(metrics[key] for key in STAGES)
    assert abs(total - stages) <= 0.1 * total, (stages, total)


# malformed pages that reach the kernel's rarer paths: raw text closed
# in another case, nested and layout tables, deep nesting, <br> cells
CYCLE_PROBES = [
    b"<SCRIPT>a</SCRIPT><table><thead><tr><th>a<th>b</thead>"
    b"<tbody><tr><td>1<br>2<td>|3|</tbody></table>",
    b"<table><tr><td><table><tr><td>in</table></table><pre>a --> b\nc</pre>",
    b"<div>" * 300 + b"deep" + b"<ul><li>" * 60 + b"<figure><img alt=x></figure>",
    b"<p>x<!-- open",
]


def test_kernel_creates_no_reference_cycles():
    """`page.extract_page` pauses the cyclic collector for a page on the
    premise that reference counting frees everything it builds."""
    rows = generate_rows(200, 23)
    extract_page(rows[0]["html"], describe=True)  # first-call caches
    gc.collect()
    gc.disable()
    try:
        for row in rows:
            extract_page(row["html"], describe=True)
        for html in CYCLE_PROBES:
            extract_page(html, describe=True)
        assert gc.collect() == 0
    finally:
        gc.enable()
    assert gc.isenabled()
