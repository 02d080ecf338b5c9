"""Seeded document corpus for the curation workload, with planted
duplicates whose fate the pipeline's output is checked against.

Originals are distinct random word sequences (40-90 words over a fixed
random vocabulary), so no two are near-duplicates of each other. Planted
on top, all with ids above every original:

    exact copies  an original re-cased and re-spaced: the same text after
                  normalization, removed by the exact stage
    near copies   an original with one middle word replaced by a word
                  outside the vocabulary: word-3-shingle Jaccard
                  (L-5)/(L+1) >= 0.85 against it, dropped by the near stage
    short docs    three unused words each: below min_words, dropped by the
                  quality filter

Every planted copy has a different original, so the pipeline keeps
exactly the originals.
"""

from __future__ import annotations

import os
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq


def _word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(lo, hi)))


def make_corpus(seed: int, n_originals: int, n_exact: int, n_near: int, n_short: int) -> tuple[list, dict]:
    """([(doc_id, text)], truth)."""
    rng = random.Random(seed)
    vocab = sorted({_word(rng, 3, 9) for _ in range(3000)})
    texts: list[str] = []
    seen: set[str] = set()
    while len(texts) < n_originals:
        t = " ".join(rng.choice(vocab) for _ in range(rng.randint(40, 90)))
        if t not in seen:
            seen.add(t)
            texts.append(t)
    docs = list(enumerate(texts))
    picks = rng.sample(range(n_originals), n_exact + n_near)
    exact_copies, near_copies = [], []
    for src in picks[:n_exact]:
        words = texts[src].split(" ")
        words[0] = words[0].upper()
        doc_id = len(docs)
        docs.append((doc_id, "  " + "   ".join(words) + "  "))
        exact_copies.append(doc_id)
    for src in picks[n_exact:]:
        words = texts[src].split(" ")
        words[len(words) // 2] = _word(rng, 10, 12)  # longer than any vocabulary word
        doc_id = len(docs)
        docs.append((doc_id, " ".join(words)))
        near_copies.append(doc_id)
    shorts = sorted({_word(rng, 13, 15) for _ in range(4 * n_short)})[: 3 * n_short]
    rng.shuffle(shorts)
    for i in range(n_short):
        docs.append((len(docs), " ".join(shorts[3 * i : 3 * i + 3])))
    truth = {
        "n_docs": len(docs),
        "originals": list(range(n_originals)),
        "exact_copies": exact_copies,
        "near_copies": near_copies,
    }
    return docs, truth


def write_corpus(path: str, docs: list) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {"doc_id": pa.array([d[0] for d in docs], pa.int64()), "text": pa.array([d[1] for d in docs])}
    )
    # several files, so the scan splits across cores like a real corpus
    step = max(1, len(docs) // 4)
    for i in range(0, len(docs), step):
        pq.write_table(table.slice(i, step), os.path.join(path, f"part-{i // step:05d}.parquet"))
