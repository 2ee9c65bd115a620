"""Page classification — the graft of the reference's Stage 1 contract.

Output record shape and taxonomy follow the reference's prompt contract
and parser normalization (reference src/qwen_processor.py:34-56,
196-241): ``type`` is whitelisted to
{text, table, diagram, flowchart, figure, mixed, document}, confidence
is a float defaulting to 0.5, and a ``method`` stamp identifies the
classifier.  The VLM is replaced by deterministic DOM statistics
(text / table / diagram char shares, figure counts) so the result is a
pure function of the page bytes.
"""

from __future__ import annotations

from ocr_pipeline_spark.kernel.blocks import PageStats

VALID_TYPES = frozenset(
    {"text", "table", "diagram", "flowchart", "figure", "mixed", "document"}
)
DIAGRAM_TYPES = frozenset({"diagram", "flowchart"})  # ref qwen_processor.py:287

METHOD = "dom-heuristic-v1"

# minimum chars for has_text; figure weight in the share computation
_HAS_TEXT_MIN = 80
_FIGURE_WEIGHT = 120
_CELL_WEIGHT = 12   # structural weight per table cell (short numeric cells
                    # carry more signal than their char count suggests)
_DOMINANT = 0.5     # share above which a single type wins
_SIGNIFICANT = 0.15  # share above which a modality counts toward "mixed"


def _confidence(share: float) -> float:
    return round(min(0.98, max(0.5, 0.5 + 0.48 * share)), 2)


def classify_stats(stats: PageStats) -> dict:
    """Deterministic classification record from page statistics."""
    fig_chars = _FIGURE_WEIGHT * stats.n_figures
    table_weight = stats.table_chars + _CELL_WEIGHT * getattr(stats, "n_table_cells", 0)
    content = stats.text_chars + table_weight + stats.diagram_chars + fig_chars

    has_text = stats.text_chars >= _HAS_TEXT_MIN
    has_tables = stats.n_data_tables > 0
    has_images = stats.n_figures > 0
    has_diagrams = stats.n_diagrams > 0

    if content == 0:
        # empty main content: same default the reference pads with
        # (ref stage2_ocr.py:85-91)
        return {
            "type": "mixed", "confidence": 0.5,
            "description": "empty page",
            "has_text": False, "has_images": has_images,
            "has_tables": False, "has_diagrams": has_diagrams,
            "method": METHOD,
        }

    shares = {
        "text": stats.text_chars / content,
        "table": table_weight / content,
        "diagram": stats.diagram_chars / content,
        "figure": fig_chars / content,
    }
    top_kind = max(shares, key=lambda k: (shares[k], k))
    top_share = shares[top_kind]
    # structural visual elements are significant by presence, not by chars
    # (the reference taxonomy's "mixed: text with significant visual
    # elements", qwen_processor.py:34-56)
    visual_present = has_tables or has_diagrams or has_images

    if top_kind == "diagram" and top_share >= _DOMINANT and stats.n_diagrams:
        page_type = "flowchart" if stats.flowchart_votes > 0 else "diagram"
        confidence = _confidence(top_share)
    elif top_kind == "table" and top_share >= _DOMINANT and stats.n_data_tables:
        page_type = "table"
        confidence = _confidence(top_share)
    elif top_kind == "figure" and top_share >= _DOMINANT and stats.n_figures:
        page_type = "figure"
        confidence = _confidence(top_share)
    elif has_text and visual_present:
        page_type = "mixed"
        visual_share = 1.0 - shares["text"]
        confidence = _confidence(
            min(1.0, 2.0 * min(shares["text"], visual_share) + 0.3)
        )
    elif top_kind == "text" or has_text:
        page_type = "text"
        confidence = _confidence(top_share)
    else:
        page_type = "mixed"
        confidence = _confidence(1.0 - top_share + _SIGNIFICANT)

    parts = []
    if has_text:
        parts.append("text")
    if has_tables:
        parts.append(f"{stats.n_data_tables} table(s)")
    if has_images:
        parts.append(f"{stats.n_figures} figure(s)")
    if has_diagrams:
        parts.append(f"{stats.n_diagrams} diagram(s)")
    description = f"{page_type} page with " + ", ".join(parts) if parts else page_type

    return {
        "type": page_type,
        "confidence": confidence,
        "description": description,
        "has_text": has_text,
        "has_images": has_images,
        "has_tables": has_tables,
        "has_diagrams": has_diagrams,
        "method": METHOD,
    }


def normalize_classification(record: dict | None) -> dict:
    """Defensive normalization — the graft of the reference's response
    parser (reference src/qwen_processor.py:196-241): whitelist the
    type (else 'mixed'), coerce confidence to float (else 0.5)."""
    record = dict(record or {})
    page_type = str(record.get("type", "mixed")).lower()
    record["type"] = page_type if page_type in VALID_TYPES else "mixed"
    try:
        record["confidence"] = float(record.get("confidence", 0.5))
    except (TypeError, ValueError):
        record["confidence"] = 0.5
    record.setdefault("method", METHOD)
    for flag in ("has_text", "has_images", "has_tables", "has_diagrams"):
        record[flag] = bool(record.get(flag, False))
    return record


# Extraction-strategy dispatch — the graft of the reference's prompt
# routing (reference src/stage2_ocr_worker.py:35-47): sub-0.7
# confidence always falls back to the safe 'mixed' strategy.
CONFIDENCE_FLOOR = 0.7

_STRATEGIES = {
    "text": "markdown",
    "document": "markdown",
    "table": "markdown",
    "mixed": "markdown",
    "figure": "figure",
    "diagram": "describe",
    "flowchart": "describe",
}


def dispatch_strategy(classification: dict | None) -> str:
    if classification is None:
        return _STRATEGIES["mixed"]
    if classification.get("confidence", 0.5) < CONFIDENCE_FLOOR:
        return _STRATEGIES["mixed"]
    return _STRATEGIES.get(classification.get("type", "mixed"), _STRATEGIES["mixed"])


def wants_description(classification: dict) -> bool:
    """T7 gate (ref qwen_processor.py:310-314, ocr_pipeline.py:273-277)."""
    page_type = str(classification.get("type", "")).lower()
    return page_type in DIAGRAM_TYPES or (
        page_type == "mixed" and bool(classification.get("has_diagrams"))
    )
