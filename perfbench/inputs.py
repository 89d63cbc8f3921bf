"""Seeded input generators for the word-document workloads
(``er_resolve`` uses the package's own ``generate_transcripts``).

Everything is drawn from one ``numpy.random.Generator`` per workload,
so the same seed gives byte-identical inputs on any machine. The
program under test only ever sees the generated tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# a small technical vocabulary: long documents reuse most of its
# q-grams, so MinHash blocks are dense and candidate pairs far
# outnumber true matches (the link_dense / dedup_near shape)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 100  # words per document
RIGHT_FRAC = 0.25  # link_dense: right records per left record
DUP_FRAC = 0.1  # dedup_near: planted copies per document
MAX_WORD_EDITS = 3  # dedup_near: word edits per planted copy


def word_documents(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of ``MIN_WORDS..MAX_WORDS`` words drawn uniformly
    from ``VOCAB``."""
    lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for m in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + m]))
        pos += m
    return out


def link_inputs(seed: int, n_left: int):
    """``(left, right, source)``: ``left`` is ``n_left`` word documents;
    ``right`` is a seeded ``RIGHT_FRAC`` sample of them, each with one
    character deleted at a seeded position; ``source`` maps each right
    id to the left id it was copied from. Right ids do not overlap left
    ids."""
    rng = np.random.default_rng(seed)
    texts = word_documents(rng, n_left)
    left = pd.DataFrame({"id": np.arange(n_left, dtype=np.int64), "text": texts})
    n_right = int(n_left * RIGHT_FRAC)
    src = np.sort(rng.choice(n_left, n_right, replace=False))
    right_texts = []
    for s in src:
        t = texts[s]
        p = int(rng.integers(0, len(t)))
        right_texts.append(t[:p] + t[p + 1:])
    right_ids = np.arange(n_left, n_left + n_right, dtype=np.int64)
    right = pd.DataFrame({"id": right_ids, "text": right_texts})
    source = dict(zip(right_ids.tolist(), src.tolist()))
    return left, right, source


def _edit_words(rng: np.random.Generator, text: str, n_edits: int) -> str:
    words = text.split(" ")
    for _ in range(n_edits):
        op = int(rng.integers(0, 3))
        pos = int(rng.integers(0, len(words)))
        w = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if op == 0:
            words[pos] = w
        elif op == 1:
            words.insert(pos, w)
        elif len(words) > 1:
            del words[pos]
    return " ".join(words)


def dedup_inputs(seed: int, n_docs: int):
    """``(docs, planted)``: ``n_docs`` word documents plus
    ``DUP_FRAC * n_docs`` near-duplicate copies, each 1..``MAX_WORD_EDITS``
    word substitutions/insertions/deletions away from a seeded original.
    ``planted`` lists ``(original_id, copy_id)``; copy ids follow the
    originals, so every planted pair is already ``id_a < id_b``."""
    rng = np.random.default_rng(seed)
    texts = word_documents(rng, n_docs)
    n_dup = int(n_docs * DUP_FRAC)
    src = rng.choice(n_docs, n_dup, replace=False)
    copies = [
        _edit_words(rng, texts[s], int(rng.integers(1, MAX_WORD_EDITS + 1)))
        for s in src
    ]
    ids = np.arange(n_docs + n_dup, dtype=np.int64)
    docs = pd.DataFrame({"doc_id": ids, "text": texts + copies})
    planted = list(zip(src.tolist(), range(n_docs, n_docs + n_dup)))
    return docs, planted
