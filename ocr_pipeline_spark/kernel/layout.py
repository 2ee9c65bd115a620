"""XY-cut reading order over positioned text blocks.

The north-rule layout-parse path: the reference renders PDF pages to
images and lets the OCR model linearize layout implicitly
(reference src/stage2_ocr.py:406-442 feeds page images to the
model); codec-free, the graft recovers reading order EXPLICITLY with
the classic recursive XY-cut (Nagy & Seth 1984): alternately split the
page along the widest horizontal whitespace band (top block before
bottom block) then the widest vertical band (left column before right
column), recursing until no band wider than the threshold exists, then
fall back to top-to-bottom / left-to-right line order.

Pure, deterministic, stdlib-only — usable inside any Arrow kernel.
PDF coordinates (y grows UP the page): "top" means larger y.
"""

from __future__ import annotations

Box = tuple[float, float, float, float]  # x0, y0, x1, y1 (y up)


# Above this box count the recursive cut degrades to the global
# top-to-bottom/left-to-right sort: worst-case cutting is quadratic
# (each cut re-sorts its subgroups — a crafted staircase stream inside
# the 16 MB inflate cap could carry ~500k show ops and stall an
# executor for hours), and no real page has 10k text blocks.  Same
# degrade-not-hang policy as the decoder bomb guards.
MAX_XY_BOXES = 10_000


def xy_cut(
    boxes: list[Box],
    min_gap_x: float = 18.0,
    min_gap_y: float = 10.0,
) -> list[int]:
    """Indices of `boxes` in XY-cut reading order.

    A cut requires a whitespace band wider than the threshold across
    the WHOLE group's projection (interval merge), so tight line
    leading (~2pt at 12pt type) never splits a paragraph, while column
    gutters and section breaks do.  Horizontal cuts are tried first
    (title above columns separates before the columns do), matching
    the canonical algorithm.  Total and deterministic: ties and
    uncuttable groups order by (top DESC, left ASC, index ASC).
    """
    if len(boxes) > MAX_XY_BOXES:
        return sorted(
            range(len(boxes)),
            key=lambda i: (-boxes[i][3], boxes[i][0], i),
        )
    out: list[int] = []
    # explicit LIFO worklist, not recursion: a crafted staircase layout
    # where every cut peels one box off nests O(n) deep and would blow
    # Python's recursion limit around ~1500 boxes — hostile content
    # streams must degrade, never raise (same totality contract as the
    # warc/image parsers)
    work: list[list[int]] = [list(range(len(boxes)))]
    while work:
        ids = work.pop()
        if len(ids) <= 1:
            out.extend(ids)
            continue
        # horizontal band: merge y-projections scanning top -> bottom
        by_top = sorted(ids, key=lambda i: -boxes[i][3])
        groups: list[list[int]] = [[by_top[0]]]
        lo = boxes[by_top[0]][1]
        for i in by_top[1:]:
            y0, y1 = boxes[i][1], boxes[i][3]
            if y1 < lo - min_gap_y:
                groups.append([i])
                lo = y0
            else:
                groups[-1].append(i)
                lo = min(lo, y0)
        if len(groups) == 1:
            # vertical band: merge x-projections scanning left -> right
            by_left = sorted(ids, key=lambda i: boxes[i][0])
            groups = [[by_left[0]]]
            hi = boxes[by_left[0]][2]
            for i in by_left[1:]:
                x0, x1 = boxes[i][0], boxes[i][2]
                if x0 > hi + min_gap_x:
                    groups.append([i])
                    hi = x1
                else:
                    groups[-1].append(i)
                    hi = max(hi, x1)
        if len(groups) > 1:
            work.extend(reversed(groups))  # pop() order == reading order
            continue
        out.extend(sorted(ids, key=lambda i: (-boxes[i][3], boxes[i][0], i)))
    return out
