"""Deterministic diagram description — the graft of the reference's
Stage 1.5 (reference src/qwen_processor.py:290-347).

The reference batch-prompts a VLM for a prose description of each
diagram page; here the "description" is a pure function of the
diagram's own text: node labels, connection count, and flow hints are
parsed out of the ascii/mermaid/svg source.  Selectivity (only
diagram/flowchart pages, or mixed pages with diagrams) lives in the
caller — see classify.wants_description.
"""

from __future__ import annotations

import re


_NODE_LABEL_RE = re.compile(r"\[([^\[\]|]{1,60})\]|\(([^()|]{1,60})\)|\{([^{}|]{1,60})\}")
_ARROW_COUNT_RE = re.compile(r"-->|->>|=>|->|→")
_DIRECTION_HINTS = (
    ("graph td", "top-down"),
    ("graph lr", "left-to-right"),
    ("graph rl", "right-to-left"),
    ("graph bt", "bottom-up"),
)


def describe_diagram_source(source: str) -> str:
    """Deterministic prose for one diagram's text source."""
    labels: list[str] = []
    seen: set[str] = set()
    for m in _NODE_LABEL_RE.finditer(source):
        label = next(g for g in m.groups() if g is not None).strip()
        if label and label.lower() not in seen:
            seen.add(label.lower())
            labels.append(label)
    n_edges = len(_ARROW_COUNT_RE.findall(source))

    lower = source.lower()
    direction = next((d for hint, d in _DIRECTION_HINTS if hint in lower), "")
    kind = "flowchart" if ("flowchart" in lower or "graph " in lower) else "diagram"

    bits = [f"{kind.capitalize()} with {len(labels)} labeled node(s) and {n_edges} connection(s)"]
    if direction:
        bits.append(f"flowing {direction}")
    sentence = ", ".join(bits) + "."
    if labels:
        sentence += " Nodes: " + "; ".join(labels[:24]) + "."
    return sentence

