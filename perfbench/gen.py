"""Seeded input generator for the benchmark.

Everything the engine sees comes from here: a Zipf corpus (written as
parquet by the caller), query streams and append micro-batches. The same
``(seed, sizes)`` always yields the same inputs.

Vocabulary terms are lowercase letter strings, so the corpus tokenizer
(``[a-z0-9]+...``) and the whitespace query tokenizer both see exactly
the generated words: a document's length is its word count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def term(rank: int) -> str:
    """Vocabulary word of a 0-based Zipf rank ("qa", "qb", ... "qbaa")."""
    digits = []
    r = rank
    while True:
        digits.append(ALPHABET[r % 26])
        r //= 26
        if r == 0:
            break
    return "q" + "".join(reversed(digits))


class Vocabulary:
    """``size`` words with Zipf(s) occurrence probabilities by rank."""

    def __init__(self, size: int, s: float = 1.0):
        self.size = size
        self.words = np.array([term(r) for r in range(size)], dtype=object)
        w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w / w.sum())

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        """``n`` Zipf-distributed ranks."""
        return np.minimum(
            np.searchsorted(self.cdf, rng.random(n), side="right"), self.size - 1
        )


def corpus(
    vocab: Vocabulary, n_docs: int, seed: int, first_doc: int = 0,
    min_words: int = 20, max_words: int = 120,
) -> tuple[pd.DataFrame, int]:
    """-> (documents with the engine's source schema, Σ document length).

    ``first_doc`` offsets the (repo, path) keys so append batches never
    collide with earlier documents."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(min_words, max_words + 1, size=n_docs)
    words = vocab.words[vocab.sample(rng, int(lengths.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    content = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    ids = range(first_doc, first_doc + n_docs)
    pdf = pd.DataFrame({
        "repo": [f"org{i % 97}/repo{i % 1013}" for i in ids],
        "path": [f"src/f{i:09d}.txt" for i in ids],
        "commit": [f"{seed:08x}{i:032x}" for i in ids],
        "lang": ["text"] * n_docs,
        "content": content,
    })
    return pdf, int(lengths.sum())


def hot_queries(
    vocab: Vocabulary, seed: int, per_length: int, head: int, max_len: int = 12,
) -> list[str]:
    """``per_length`` distinct queries of each length 1..max_len, words
    drawn from the ``head`` most frequent ranks with the corpus' own Zipf
    weights (so the most frequent words, with the longest posting lists,
    appear the most)."""
    rng = np.random.default_rng([seed, 1])
    cdf = vocab.cdf[:head] / vocab.cdf[head - 1]
    out: list[str] = []
    seen: set[str] = set()
    for k in range(1, max_len + 1):
        made = 0
        while made < per_length:
            ranks = np.searchsorted(cdf, rng.random(k), side="right")
            q = " ".join(vocab.words[np.minimum(ranks, head - 1)])
            if q not in seen:
                seen.add(q)
                out.append(q)
                made += 1
    return out


def cold_queries(
    vocab: Vocabulary, seed: int, n: int, tail_start: int, max_len: int = 4,
) -> list[str]:
    """``n`` queries of 1..max_len words drawn uniformly from ranks
    ``tail_start..size``; no word repeats across the stream, so each one
    misses a term cache that starts empty. Lengths come in passes, each
    pass every length once in a seeded order, so every stretch of the
    stream has nearly the same mix of lengths whatever the seed."""
    rng = np.random.default_rng([seed, 2])
    passes = -(-n // max_len)
    lens = np.concatenate(
        [rng.permutation(np.arange(1, max_len + 1)) for _ in range(passes)])[:n]
    ranks = rng.choice(
        np.arange(tail_start, vocab.size), size=int(lens.sum()), replace=False
    )
    words = vocab.words[ranks]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    return [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]


def query_sets(
    vocab: Vocabulary, seed: int, n_sets: int, size: int, max_len: int = 4,
) -> list[list[tuple[str, str]]]:
    """``n_sets`` batches of ``size`` (query_id, query) pairs, words drawn
    by Zipf weight from the whole vocabulary."""
    rng = np.random.default_rng([seed, 3])
    sets = []
    for s in range(n_sets):
        batch = []
        for i in range(size):
            k = int(rng.integers(1, max_len + 1))
            batch.append((f"s{s}q{i:03d}", " ".join(vocab.words[vocab.sample(rng, k)])))
        sets.append(batch)
    return sets
