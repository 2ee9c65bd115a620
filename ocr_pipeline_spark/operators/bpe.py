"""Distributed BPE tokenizer training (X39).

The reference has no tokenizer stage (its corpus is page images —
reference src/stage2_ocr.py:406-442 ingests rendered PDFs); this
module extends the graft's training-data surface (SURVEY.md §2.8) with
the tokenizer-training step every LLM data pipeline runs over its
corpus.

Scale architecture — the shape SentencePiece / HF tokenizers use on
web-scale corpora, expressed Spark-first:

  1. **Weighted word count** — the only corpus-bound stage: one
     partial-aggregated groupBy (map-side combine collapses repeats
     before the shuffle), so the exchange carries |vocab| rows, not
     |corpus| tokens.
  2. **Merge learning** over the BOUNDED top-V weighted vocabulary.
     |vocab| ≪ corpus (V caps the driver transfer at a few MB
     regardless of corpus size), so the driver-side merge loop is the
     honest architecture, not a shortcut — pair statistics of a
     weighted vocab are EXACTLY the corpus's pair statistics.

Determinism (engine- and partitioning-independent, required for the
witness oracle): pair ties break on the lexicographically smallest
(left, right); vocabulary truncation orders by (count DESC, word ASC)
— no set iteration order anywhere.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "learn_bpe",
    "word_counts_df",
    "top_vocab",
    "train_bpe",
]


# --------------------------------------------------------------------------
# pure kernel (no Spark) — shared by the distributed path and the
# single-process witness twin (scripts/gen_witness.py)
# --------------------------------------------------------------------------
def learn_bpe(
    word_counts: Mapping[str, int], n_merges: int, min_count: int = 2
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from a weighted vocabulary.

    Symbols start as unicode characters (no end-of-word marker: words
    are encoded independently, so a marker would only rename the last
    symbol).  Each round merges the (left, right) pair with the highest
    corpus-weighted count; ties break on the lexicographically smallest
    pair.  Stops early when the best pair's count drops below
    ``min_count`` (merging a singleton pair is fixture noise, not
    vocabulary).
    """
    vocab: dict[tuple[str, ...], int] = {}
    for word, wc in word_counts.items():
        if len(word) >= 2:
            syms = tuple(word)
            vocab[syms] = vocab.get(syms, 0) + int(wc)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, wc in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + wc
        if not pairs:
            break
        # max count, then lexicographically smallest pair — a total
        # order, so the winner is unique and engine-independent
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < min_count:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, wc in vocab.items():
            out: list[str] = []
            i = 0
            n = len(syms)
            while i < n:
                if (
                    i < n - 1
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + wc
        vocab = new_vocab
    return merges


# --------------------------------------------------------------------------
# Spark operators
# --------------------------------------------------------------------------
def word_counts_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, wc) weighted vocabulary — the corpus-bound stage.

    One partial-aggregated shuffle: explode stays in the same stage as
    the scan, the hash aggregate combines map-side, and only distinct
    words cross the exchange."""
    return (
        docs.select(F.explode(F.split(text_col, " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )


def top_vocab(wc: DataFrame, vocab_cap: int) -> list[tuple[str, int]]:
    """Bounded driver transfer: top-``vocab_cap`` words by
    (wc DESC, word ASC) — a TakeOrdered, never a full sort; the result
    size is V rows regardless of corpus size."""
    rows = (
        wc.orderBy(F.desc("wc"), "word").limit(vocab_cap).collect()
    )
    return [(r["word"], r["wc"]) for r in rows]


def train_bpe(
    docs: DataFrame,
    n_merges: int = 64,
    vocab_cap: int = 20_000,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Distributed word count -> bounded vocab -> merge loop."""
    vocab = dict(top_vocab(word_counts_df(docs, text_col), vocab_cap))
    return learn_bpe(vocab, n_merges)

