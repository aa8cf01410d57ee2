"""Seeded document corpus with planted duplicates and contamination.

Every document is made of lowercase letter words from a seeded
vocabulary that holds no stopword of any language the engine knows, so
each clean document passes ``quality_filter`` (enough tokens, no
repetition, no punctuation, English by the tie-break rule). On top of
the clean documents the generator plants, in known numbers:

- low-quality documents: too short, or one bigram repeated;
- exact duplicates: a clean document's text under a larger id;
- near duplicates: a clean document with its whitespace doubled (same
  shingles) or with one word appended (shingle Jaccard >= 0.99);
- contamination: evaluation probes that copy a clean document plus one
  appended word, next to probes that match nothing.

Sources of the planted copies are distinct clean documents, and every
copy has a larger id than its source, so the curation chain keeps
exactly the clean documents that no probe contaminates.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

_STOP = {
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "for",
    "der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu",
    "le", "les", "et", "est", "une", "dans", "que", "pour", "sur", "pas",
    "el", "los", "y", "es", "una", "en", "por", "con", "para", "como",
}


@dataclass
class Corpus:
    docs: pd.DataFrame  # (doc_id, text)
    probes: pd.DataFrame  # (doc_id, text), ids disjoint from docs
    #: ids the full chain must keep, ascending
    survivors: np.ndarray
    #: whitespace token count of each survivor, aligned with survivors
    survivor_tokens: np.ndarray
    n_exact: int
    n_near: int
    n_low: int
    n_contaminated: int


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(4, 11))
        w = "".join(rng.choice(letters, n))
        if w not in _STOP:
            words.add(w)
    return np.array(sorted(words))


def make_corpus(seed: int, n_clean: int) -> Corpus:
    """Build the corpus for ``seed``. Planted counts scale with
    ``n_clean``: 10% exact duplicates, 10% near duplicates, 5% low
    quality, 3% contaminated sources (+ as many unmatched probes).

    Clean documents have 30-80 words, except the sources of the
    one-word-appended copies, which have 150: their copies then share
    >= 0.99 of their shingles, and 16-permutation, 4-band LSH misses
    such a pair with probability ~5e-7, so the planted expectation
    holds for practically every seed."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 20_000)

    def text(n: int) -> list[str]:
        return list(vocab[rng.integers(0, len(vocab), n)])

    n_exact, n_near = n_clean // 10, n_clean // 10
    n_low, n_cont = n_clean // 20, max(1, n_clean * 3 // 100)
    # distinct clean sources for every planted copy
    src = rng.permutation(n_clean)[: n_exact + n_near + n_cont]
    src_exact = src[:n_exact]
    src_near = src[n_exact:n_exact + n_near]
    src_cont = src[n_exact + n_near:]
    long = set(src_near[0::2].tolist()) | set(src_cont.tolist())
    clean = [text(150 if i in long else int(rng.integers(30, 81)))
             for i in range(n_clean)]

    texts = [" ".join(t) for t in clean]
    for i in range(n_low):
        if i % 2:
            texts.append(" ".join(text(int(rng.integers(3, 15)))))
        else:
            pair = text(2)
            texts.append(" ".join(pair * 60))
    for s in src_exact:
        texts.append(texts[s])
    for j, s in enumerate(src_near):
        if j % 2:
            texts.append("  ".join(clean[s]))
        else:
            texts.append(" ".join(clean[s] + text(1)))
    docs = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                         "text": texts})

    probe_texts = [" ".join(clean[s] + text(1)) for s in src_cont]
    probe_texts += [" ".join(text(150)) for _ in range(n_cont)]
    probes = pd.DataFrame({
        "doc_id": np.arange(len(probe_texts), dtype=np.int64) + 10_000_000,
        "text": probe_texts,
    })

    survivors = np.setdiff1d(np.arange(n_clean), src_cont)
    return Corpus(
        docs=docs,
        probes=probes,
        survivors=survivors,
        survivor_tokens=np.array([len(clean[i]) for i in survivors], np.int64),
        n_exact=n_exact,
        n_near=n_near,
        n_low=n_low,
        n_contaminated=len(src_cont),
    )


def expected_pack(tokens: np.ndarray, token_budget: int) -> tuple[int, int]:
    """(total tokens, last bin id) of greedy sequential packing of
    documents with ``tokens`` counts in id order."""
    total = int(tokens.sum())
    return total, (total - int(tokens[-1])) // token_budget
