"""The deterministic text-cleaning operator chain (C1–C9).

Behavioral parity target: the reference's ``clean_result`` chain
(/root/reference/src/stage2_ocr.py:184-399).  The *order* of the steps
and every threshold below are observable semantics and are preserved
exactly; the implementation is our own.

Chain (applied in this fixed order by :func:`clean_text`):

    C1 strip_end_tokens        model end-of-text sentinels     (ref :200-203)
    C2 resolve_figure_tags     grounding tags -> figure refs   (ref :205-225)
    C3 drop_empty_tables       <table></table> artifacts       (ref :227-229)
    C4 frame_tables            blank lines around pipe tables  (ref :381-399)
    C5 normalize_bullets       bullet glyphs -> markdown dashes(ref :234-236)
    C6 dedupe_lines            >2 consecutive equal lines -> 2 (ref :254-272)
    C7 dedupe_paragraphs       fuzzy near-dup paragraph drop   (ref :275-346)
    C8 drop_integer_runs       >=5 bare-int paragraphs dropped (ref :349-378)
    C9 squeeze_blanks          3+ newlines -> 2, strip         (ref :248-249)

All functions are pure; no wall clock, no randomness, no locale
dependence.  C7 uses Python sets only for an order-free overlap *count*
so hash ordering cannot leak into the output.
"""

from __future__ import annotations

import re

# --- C1 ---------------------------------------------------------------
# Sentinel tokens emitted by generation engines (ref stage2_ocr.py:200-203).
_END_TOKENS = ("<｜end▁of▁sentence｜>", "<|im_end|>", "<|endoftext|>")


def strip_end_tokens(text: str) -> str:
    for tok in _END_TOKENS:
        text = text.replace(tok, "")
    return text


# --- C2 ---------------------------------------------------------------
# Grounding-tag grammar: <|ref|>LABEL<|/ref|><|det|>COORDS<|/det|>.
# An "image" label consumes the next figure name from the page's figure
# list; any other label is replaced by the label itself.  Orphaned
# fragments are stripped afterwards (ref stage2_ocr.py:205-225).
_GROUNDING_RE = re.compile(r"<\|ref\|>(.*?)<\|/ref\|><\|det\|>.*?<\|/det\|>", re.DOTALL)
_ORPHAN_REF_RE = re.compile(r"<\|ref\|>(.*?)<\|/ref\|>")
_ORPHAN_DET_RE = re.compile(r"<\|det\|>.*?<\|/det\|>", re.DOTALL)
_ORPHAN_FRAGMENT_RE = re.compile(r"<\|/?(?:ref|det)\|>[^<]*")


def resolve_figure_tags(text: str, figures: list[str] | None = None) -> str:
    figures = figures or []
    cursor = iter(figures)

    def _sub(m: re.Match) -> str:
        label = m.group(1)
        if label != "image":
            return label
        name = next(cursor, None)
        if name is None:
            return "\n\n[Figure]\n\n"
        return f"\n\n![Figure](figures/{name})\n\n"

    text = _GROUNDING_RE.sub(_sub, text)
    text = _ORPHAN_REF_RE.sub(r"\1", text)
    text = _ORPHAN_DET_RE.sub("", text)
    text = _ORPHAN_FRAGMENT_RE.sub("", text)
    return text


# --- C3 ---------------------------------------------------------------
_EMPTY_TABLE_RE = re.compile(r"<table>\s*</table>")
_JUNK_TABLE_RE = re.compile(r"<table>[^<]{0,10}</table>")


def drop_empty_tables(text: str) -> str:
    return _JUNK_TABLE_RE.sub("", _EMPTY_TABLE_RE.sub("", text))


# --- C4 ---------------------------------------------------------------
def frame_tables(text: str) -> str:
    """Ensure a blank line before and after every run of pipe-table rows.

    A table row is any line containing at least two ``|`` characters
    (ref stage2_ocr.py:381-399).
    """
    if "|" not in text:
        return text
    out: list[str] = []
    inside = False
    for line in text.split("\n"):
        is_row = line.count("|") >= 2
        if is_row != inside:  # a run of rows starts or ends here
            out.append("")
            inside = is_row
        out.append(line)
    return "\n".join(out)


# --- C5 ---------------------------------------------------------------
_BULLET_DOT_RE = re.compile(r"^(\s*)•\s*", re.MULTILINE)
_BULLET_RING_RE = re.compile(r"^(\s*)○\s*", re.MULTILINE)


def normalize_bullets(text: str) -> str:
    text = _BULLET_DOT_RE.sub(r"\1- ", text)
    text = _BULLET_RING_RE.sub(r"\1  - ", text)
    return text


# --- C6 ---------------------------------------------------------------
def dedupe_lines(text: str, max_repeats: int = 2) -> str:
    """Keep at most ``max_repeats`` consecutive copies of a non-empty line.

    Equality is on the stripped line; the original (unstripped) line is
    what gets emitted (ref stage2_ocr.py:254-272).
    """
    kept: list[str] = []
    anchor: str | None = None
    streak = 0
    for line in text.split("\n"):
        key = line.strip()
        if key and key == anchor:
            streak += 1
            if streak < max_repeats:
                kept.append(line)
        else:
            streak = 0
            anchor = key
            kept.append(line)
    return "\n".join(kept)


# --- C7 ---------------------------------------------------------------
_SHORT_PARA = 20       # chars; below this, exact-repeat collapsing applies
_OVERLAP_THRESHOLD = 0.8  # word-set overlap / max(len) above which = duplicate


def dedupe_paragraphs(text: str, max_short_repeats: int = 2) -> str:
    """Drop near-duplicate consecutive paragraphs.

    Semantics (ref stage2_ocr.py:275-346), preserved exactly:
      * paragraphs = ``\\n\\n`` splits; empty ones pass through and do
        NOT reset the short-repeat tracker;
      * stripped length < 20: exact consecutive repeats beyond 2 are
        dropped (tracker survives intervening empties);
      * length >= 20: compared against the most recent kept paragraph of
        length >= 20; if ``|words(prev) & words(curr)| / max(|words|)``
        exceeds 0.8 the pair is a duplicate and the *longer* one wins —
        when the current one wins it replaces the last kept paragraph
        (even if the long comparand sat earlier), mirroring the
        reference's observable behavior.
    """
    paragraphs = text.split("\n\n")
    kept: list[str] = []
    short_streak = 0
    last_short: str | None = None
    # cache of the most recent kept long paragraph (== what the backward
    # scan for a comparand would find) and its word set — pure speedup,
    # the tracked value is updated at exactly the points `kept` gains or
    # replaces a long paragraph
    comparand = ""
    prev_words: set[str] = set()

    for para in paragraphs:
        body = para.strip()

        if not body:
            kept.append(para)
            continue

        if len(body) < _SHORT_PARA:
            if body == last_short:
                short_streak += 1
                if short_streak <= max_short_repeats:
                    kept.append(para)
            else:
                short_streak = 1
                last_short = body
                kept.append(para)
            continue

        short_streak = 0
        last_short = None

        curr_words = set(body.lower().split())

        if not comparand or not prev_words or not curr_words:
            kept.append(para)
            comparand, prev_words = body, curr_words
            continue

        shared = len(prev_words & curr_words)
        similarity = shared / max(len(prev_words), len(curr_words))
        if similarity > _OVERLAP_THRESHOLD:
            if len(body) > len(comparand):
                kept[-1] = para
                comparand, prev_words = body, curr_words
        else:
            kept.append(para)
            comparand, prev_words = body, curr_words

    return "\n\n".join(kept)


# --- C8 ---------------------------------------------------------------
def drop_integer_runs(text: str, min_run: int = 5) -> str:
    """Drop runs of >= ``min_run`` consecutive bare-integer paragraphs.

    A bare integer is an all-digit stripped paragraph of <= 6 digits
    (ref stage2_ocr.py:349-378).
    """
    paragraphs = text.split("\n\n")
    bare = [p.strip().isdigit() and len(p.strip()) <= 6 for p in paragraphs]

    keep = [True] * len(paragraphs)
    i = 0
    n = len(paragraphs)
    while i < n:
        if not bare[i]:
            i += 1
            continue
        j = i
        while j < n and bare[j]:
            j += 1
        if j - i >= min_run:
            for k in range(i, j):
                keep[k] = False
        i = j

    return "\n\n".join(p for p, k in zip(paragraphs, keep) if k)


# --- C9 ---------------------------------------------------------------
# spelled with a literal prefix so the regex engine can scan ahead for it
_BLANK_RUN_RE = re.compile(r"\n\n\n+")


def squeeze_blanks(text: str) -> str:
    return _BLANK_RUN_RE.sub("\n\n", text).strip()


# --- the chain ---------------------------------------------------------
def clean_text(text: str, figures: list[str] | None = None) -> str:
    """Apply C1–C9 in the reference's exact order (ref stage2_ocr.py:184-251).

    The substring guards are exact no-op detectors: every C1/C2 sentinel
    contains "<|" or "<｜", every C3 artifact contains "<table>", every
    C5 glyph is literal — when absent, the step is the identity and the
    regex pass is skipped (hot path: DOM-extracted text never contains
    engine sentinels or grounding tags).
    """
    if not text:
        return ""
    if "<|" in text or "<｜" in text:
        text = strip_end_tokens(text)
        text = resolve_figure_tags(text, figures)
    if "<table>" in text:
        text = drop_empty_tables(text)
    text = frame_tables(text)
    if "•" in text or "○" in text:
        text = normalize_bullets(text)
    text = dedupe_lines(text)
    text = dedupe_paragraphs(text)
    text = drop_integer_runs(text)
    if "\n\n\n" in text:
        text = squeeze_blanks(text)
    else:
        text = text.strip()
    return text
