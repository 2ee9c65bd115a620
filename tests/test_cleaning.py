"""Unit tests for the C1–C9 cleaning chain.

Each threshold/branch asserted here is an observable semantic of the
reference chain (reference src/stage2_ocr.py:184-399) that the
graft preserves exactly.
"""

from ocr_pipeline_spark.kernel.cleaning import (
    clean_text,
    dedupe_lines,
    dedupe_paragraphs,
    drop_empty_tables,
    drop_integer_runs,
    frame_tables,
    normalize_bullets,
    resolve_figure_tags,
    squeeze_blanks,
    strip_end_tokens,
)


# --- C1 ---------------------------------------------------------------
def test_end_tokens_removed():
    s = "hello<|im_end|> world<|endoftext|>!<｜end▁of▁sentence｜>"
    assert strip_end_tokens(s) == "hello world!"


# --- C2 ---------------------------------------------------------------
def test_grounding_image_tags_consume_figures_in_order():
    s = "a <|ref|>image<|/ref|><|det|>[1,2]<|/det|> b <|ref|>image<|/ref|><|det|>x<|/det|> c"
    out = resolve_figure_tags(s, ["f1.png", "f2.png"])
    assert "![Figure](figures/f1.png)" in out
    assert "![Figure](figures/f2.png)" in out
    assert out.index("f1.png") < out.index("f2.png")


def test_grounding_image_without_figure_becomes_placeholder():
    s = "x <|ref|>image<|/ref|><|det|>[0]<|/det|> y"
    assert "[Figure]" in resolve_figure_tags(s, [])


def test_grounding_non_image_label_kept():
    s = "see <|ref|>Table 3<|/ref|><|det|>[9]<|/det|> here"
    assert resolve_figure_tags(s, []) == "see Table 3 here"


def test_orphan_tags_stripped():
    assert resolve_figure_tags("a <|ref|>x<|/ref|> b", []) == "a x b"
    assert resolve_figure_tags("a <|det|>junk<|/det|> b", []) == "a  b"
    assert "ref" not in resolve_figure_tags("tail <|/ref|>junk", [])


# --- C3 ---------------------------------------------------------------
def test_empty_and_junk_tables_dropped():
    assert drop_empty_tables("x <table>  </table> y") == "x  y"
    assert drop_empty_tables("x <table>ab</table> y") == "x  y"
    kept = "x <table>0123456789AB</table> y"  # 12 chars: above the 10-char junk cap
    assert drop_empty_tables(kept) == kept


# --- C4 ---------------------------------------------------------------
def test_tables_get_blank_line_framing():
    s = "before\n| a | b |\n| 1 | 2 |\nafter"
    out = frame_tables(s)
    assert out == "before\n\n| a | b |\n| 1 | 2 |\n\nafter"


def test_single_pipe_line_is_not_a_table_row():
    s = "a | b\nplain"
    assert frame_tables(s) == s


# --- C5 ---------------------------------------------------------------
def test_bullets_normalized_with_indent_preserved():
    assert normalize_bullets("• one\n  • two") == "- one\n  - two"
    assert normalize_bullets("○ sub") == "  - sub"


# --- C6 ---------------------------------------------------------------
def test_repeated_lines_kept_exactly_twice():
    s = "\n".join(["same line"] * 5 + ["tail"])
    assert dedupe_lines(s) == "same line\nsame line\ntail"


def test_blank_lines_not_collapsed_by_line_dedupe():
    s = "a\n\n\n\nb"
    assert dedupe_lines(s) == s


def test_two_repeats_untouched():
    s = "x\nx\ny"
    assert dedupe_lines(s) == s


# --- C7 ---------------------------------------------------------------
def test_short_paragraph_repeats_capped_at_two():
    s = "\n\n".join(["___"] * 4)
    assert dedupe_paragraphs(s) == "___\n\n___"


def test_long_near_duplicate_keeps_longer():
    p1 = "the quick brown fox jumps over the lazy dog near the river bank"
    p2 = p1 + " today"
    out = dedupe_paragraphs(p1 + "\n\n" + p2)
    assert out == p2
    # shorter duplicate after longer one is dropped
    out2 = dedupe_paragraphs(p2 + "\n\n" + p1)
    assert out2 == p2


def test_dissimilar_long_paragraphs_both_kept():
    p1 = "completely different words in this first paragraph about apples and orchards"
    p2 = "another topic entirely discussing spark shuffles partitions and skew salting"
    s = p1 + "\n\n" + p2
    assert dedupe_paragraphs(s) == s


def test_similarity_uses_max_denominator():
    # overlap/max <= 0.8 must be kept: 4 shared words, max set size 5
    p1 = "alpha beta gamma delta epsilon"
    p2 = "alpha beta gamma delta zeta omega theta iota kappa"
    s = p1 + "\n\n" + p2
    assert dedupe_paragraphs(s) == s


# --- C8 ---------------------------------------------------------------
def test_integer_run_of_five_removed():
    s = "\n\n".join(["intro text"] + [str(i) for i in range(4, 9)] + ["outro"])
    assert drop_integer_runs(s) == "intro text\n\noutro"


def test_integer_run_of_four_kept():
    s = "\n\n".join([str(i) for i in range(4, 8)])
    assert drop_integer_runs(s) == s


def test_seven_digit_numbers_are_not_bare_ints():
    s = "\n\n".join(["1234567"] * 6)
    assert drop_integer_runs(s) == s


# --- C9 ---------------------------------------------------------------
def test_blank_runs_squeezed_and_stripped():
    assert squeeze_blanks("\n\na\n\n\n\nb\n\n") == "a\n\nb"


# --- the chain -----------------------------------------------------------
def test_chain_empty_input():
    assert clean_text("") == ""
    assert clean_text(None) == ""  # type: ignore[arg-type]


def test_chain_is_idempotent_on_fixture():
    s = (
        "# Title\n\n• bullet\n\nline\nline\nline\nline\n\n"
        "| a | b |\n| 1 | 2 |\n\n4\n\n5\n\n6\n\n7\n\n8\n\nend."
    )
    once = clean_text(s)
    assert clean_text(once) == once


def test_chain_order_tables_framed_before_line_dedupe():
    # framing inserts blank lines; repeated table rows must still collapse
    s = "w\n| a | a |\n| a | a |\n| a | a |\n| a | a |\nz"
    out = clean_text(s)
    assert out.count("| a | a |") == 2
