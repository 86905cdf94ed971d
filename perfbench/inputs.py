"""Seeded synthetic inputs for the benchmark.

Everything the program sees is drawn by ``--seed`` from a fixed
Zipf-weighted vocabulary: a corpus of multi-sentence documents (long
enough that the greedy chunker splits each into several chunks), batches
of fresh documents for appends, a pool of short queries, and a request
stream over that pool. The stream is either Zipf-skewed, so popular
queries repeat, or a shuffle of the pool, so no query repeats. The query
popularity exponent and the pool size are assumptions, not measurements
(see METRICS.md); the run reports the repeat share they give.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np

VOCAB_SIZE = 3000
WORD_ZIPF_S = 1.07
QUERY_ZIPF_S = 1.1
# The Zipf stream draws from the first queries of the pool only; the whole
# pool feeds the batch search, so recall averages over more queries.
STREAM_POOL = 64
SENTENCES_PER_DOC = (5, 10)
WORDS_PER_SENTENCE = (6, 15)
WORDS_PER_QUERY = (2, 7)
# One language for every seed: the seed draws documents and queries from
# it, so the index geometry (and with it recall) differs less between seeds.
VOCAB_SEED = 0
# Corpus doc ids are the file numbers 0..n_docs-1; appended ones start here.
APPEND_ID_BASE = 1_000_000


@dataclass
class Inputs:
    docs: list[str]
    append_batches: list[list[tuple[int, str]]]
    query_pool: list[str]
    query_stream: list[int]  # pool positions, in request order


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """Random words whose length grows with frequency rank, like natural
    language."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < VOCAB_SIZE:
        n = 2 + min(7, int(np.log2(len(words) + 2)))
        words.setdefault("".join(rng.choice(letters, size=n)), None)
    return list(words)


def make_inputs(
    seed: int,
    n_docs: int,
    n_append_batches: int,
    docs_per_append: int,
    pool_size: int,
    stream_len: int,
    repeats: bool,
) -> Inputs:
    vocab = _vocabulary(np.random.default_rng(VOCAB_SEED))
    rng = np.random.default_rng(seed)
    word_p = _zipf_weights(len(vocab), WORD_ZIPF_S)

    def words(lo_hi: tuple[int, int]) -> list[str]:
        idx = rng.choice(len(vocab), size=int(rng.integers(*lo_hi)), p=word_p)
        return [vocab[i] for i in idx]

    def doc() -> str:
        sentences = (
            " ".join(words(WORDS_PER_SENTENCE)).capitalize() + "."
            for _ in range(int(rng.integers(*SENTENCES_PER_DOC)))
        )
        return " ".join(sentences)

    docs = [doc() for _ in range(n_docs)]
    append_batches = [
        [
            (APPEND_ID_BASE + b * docs_per_append + i, doc())
            for i in range(docs_per_append)
        ]
        for b in range(n_append_batches)
    ]
    pool = list(dict.fromkeys(" ".join(words(WORDS_PER_QUERY)) for _ in range(pool_size * 2)))
    pool = pool[:pool_size]
    if repeats:
        stream = rng.choice(
            STREAM_POOL, size=stream_len, p=_zipf_weights(STREAM_POOL, QUERY_ZIPF_S)
        ).tolist()
    else:
        stream = rng.permutation(len(pool)).tolist()
    return Inputs(docs, append_batches, pool, stream)


def write_text_dir(docs: list[str], path: Path) -> None:
    path.mkdir(parents=True)
    for i, text in enumerate(docs):
        (path / f"doc_{i:05d}.txt").write_text(text, encoding="utf-8")


def repeat_share(texts: list[str], skip: int = 0) -> float:
    """Share of the requests after the first ``skip`` whose text already
    appeared earlier in the run; ``texts`` is in request order."""
    seen: set[str] = set(texts[:skip])
    repeats = 0
    for t in texts[skip:]:
        repeats += t in seen
        seen.add(t)
    n = len(texts) - skip
    return repeats / n if n > 0 else 0.0
