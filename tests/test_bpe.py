"""X39 BPE tokenizer training — pure-kernel unit + property tests.

The distributed path is oracled end-to-end by the bpe_merges golden
witness (tests/test_entry_contract.py); these tests pin the kernel's
observable semantics directly.
"""

from __future__ import annotations

from collections.abc import Mapping

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_pipeline_spark.operators.bpe import learn_bpe

# Sennrich et al.'s classic example vocabulary (no EOW marker here:
# words encode independently, see operators/bpe.py docstring)
VOCAB = {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def encode_word(word: str, ranks: Mapping[tuple[str, str], int]) -> list[str]:
    """Encode one word with learned merges, lowest rank first (the
    standard BPE inference loop), left-to-right within a rank."""
    syms = list(word)
    while len(syms) >= 2:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def test_learn_bpe_classic_first_merges():
    merges = learn_bpe(VOCAB, n_merges=4)
    # "es" and "st" both score 9 (newest 6 + widest 3); the tie breaks
    # lexicographically -> ("e","s") first, then ("es","t") scores 9
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    # next best: "lo" at 7 (low 5 + lower 2)
    assert merges[2] == ("l", "o")
    assert merges[3] == ("lo", "w")


def test_learn_bpe_min_count_stop():
    # every pair unique -> best count 1 < min_count 2 -> no merges
    assert learn_bpe({"abc": 1, "xyz": 1}, n_merges=10) == []
    # weighted singleton crosses the threshold
    assert learn_bpe({"abc": 2}, n_merges=1) == [("a", "b")]


@given(
    st.dictionaries(
        st.text(st.characters(codec="utf-8", exclude_characters=" "),
                min_size=1, max_size=8),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=20,
    ),
    st.text(st.characters(codec="utf-8", exclude_characters=" "),
            max_size=16),
)
@settings(max_examples=200, deadline=None)
def test_encode_lossless_and_deterministic(vocab, word):
    """Tokens always rejoin to the exact word (encoding is lossless),
    and training + encoding are run-to-run deterministic."""
    merges = learn_bpe(vocab, n_merges=16)
    assert merges == learn_bpe(dict(sorted(vocab.items(), reverse=True)),
                               n_merges=16), "insertion-order independence"
    ranks = {p: i for i, p in enumerate(merges)}
    toks = encode_word(word, ranks)
    assert "".join(toks) == word
    assert toks == encode_word(word, ranks)


def test_training_words_compress():
    """Every training word's token count is <= its char count, and the
    corpus-weighted total strictly shrinks once merges exist."""
    merges = learn_bpe(VOCAB, n_merges=16)
    ranks = {p: i for i, p in enumerate(merges)}
    total_chars = sum(len(w) * c for w, c in VOCAB.items())
    total_toks = sum(len(encode_word(w, ranks)) * c for w, c in VOCAB.items())
    assert total_toks < total_chars
    for w in VOCAB:
        assert len(encode_word(w, ranks)) <= len(w)
