"""Train the frozen BPE merge table for functions/bpe.py.

Classic Sennrich-style byte-pair encoding over the deterministic
synthetic corpus: words (functions/bpe._WORD_RE pieces, lowercased) end
with the </w> marker, and each round merges the globally most frequent
adjacent symbol pair (ties broken lexicographically so the table is
reproducible bit-for-bit).  Usage:

    python tools/train_bpe.py [n_merges] [n_pages]

Prints the ``MERGES`` literal to paste into functions/bpe.py —
regenerating it is a deliberate act, like the trained_v1 architecture
weights (CLAUDE.md).
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from page_segmentation_spark.datagen import make_page  # noqa: E402
from page_segmentation_spark.functions.bpe import _WORD_RE  # noqa: E402


def corpus_word_freqs(n_pages: int) -> Counter:
    freqs: Counter = Counter()
    for i in range(n_pages):
        text = make_page(i)["text"]
        for w in _WORD_RE.findall(text.lower()):
            freqs[w] += 1
    return freqs


def train(n_merges: int, n_pages: int):
    freqs = corpus_word_freqs(n_pages)
    vocab = {
        tuple(w[:-1]) + (w[-1] + "</w>",): c for w, c in freqs.items()
    }
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # deterministic argmax: max count, then lexicographically first
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        joined = best[0] + best[1]
        new_vocab = {}
        for syms, c in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(joined)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = c
        vocab = new_vocab
    return merges


def main() -> None:
    n_merges = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 300
    merges = train(n_merges, n_pages)
    print("MERGES: tuple = (")
    for a, b in merges:
        print(f"    ({a!r}, {b!r}),")
    print(")")


if __name__ == "__main__":
    main()
