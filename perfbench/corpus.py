"""Seeded planted-topic corpus in plda text format.

Documents follow the LDA generative process over a Zipf vocabulary, so
the corpus has NYTimes-like statistics (a long-tailed vocabulary,
documents of a few hundred tokens) and topics a trainer can recover.
A flatter exponent and short documents give the token-poor,
wide-vocabulary shape instead.  Each planted topic mixes the Zipf
background with a boosted block of its own words; the mixture keeps the
global word frequencies Zipfian while giving every topic a distinct
signature.

The same ``(shape, seed)`` always produces the same bytes: every draw
comes from one ``numpy.random.Generator`` seeded with ``seed``, and the
writer emits words in a fixed order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

__all__ = ["CorpusShape", "Corpus", "generate", "write_plda_files"]


@dataclass(frozen=True)
class CorpusShape:
    vocab_size: int          # words the generator can draw from
    train_docs: int
    heldout_docs: int
    mean_doc_len: int        # tokens per document (Poisson mean)
    planted_topics: int      # topics in the generative process
    zipf_s: float = 1.07     # Zipf exponent of the background frequencies
    topic_weight: float = 0.6  # share of each topic's mass on its own block
    alpha: float = 0.1       # Dirichlet prior of the planted θ_d


@dataclass
class Corpus:
    """Documents as sorted ``(word_id, count)`` arrays per document."""

    words: list[str]
    doc_words: list[np.ndarray]
    doc_counts: list[np.ndarray]

    @property
    def tokens(self) -> int:
        return int(sum(int(c.sum()) for c in self.doc_counts))


def _word_names(vocab_size: int, rng: np.random.Generator) -> list[str]:
    # A stem of 2-8 lowercase letters, then the id in decimal digits.
    # Stems hold no digits, so a name splits back into exactly one
    # (stem, id) pair and names never collide.
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(2, 9, size=vocab_size)
    stems = rng.integers(0, 26, size=(vocab_size, 9))
    out = []
    for i in range(vocab_size):
        stem = letters[stems[i, : lens[i]]].tobytes().decode()
        out.append(f"{stem}{i}")
    return out


def _topic_cdfs(shape: CorpusShape, rng: np.random.Generator) -> np.ndarray:
    V, K = shape.vocab_size, shape.planted_topics
    ranks = np.arange(1, V + 1, dtype=np.float64)
    background = ranks ** -shape.zipf_s
    background /= background.sum()
    # Each topic owns a random block of words drawn from the whole rank
    # range, weighted by the background so the block is itself Zipfian.
    owner = rng.integers(0, K, size=V)
    cdfs = np.empty((K, V), dtype=np.float64)
    for k in range(K):
        block = np.where(owner == k, background, 0.0)
        block /= block.sum()
        phi = (1.0 - shape.topic_weight) * background + shape.topic_weight * block
        cdfs[k] = np.cumsum(phi)
        cdfs[k] /= cdfs[k][-1]
    return cdfs


def _draw_docs(n_docs: int, shape: CorpusShape, cdfs: np.ndarray,
               rng: np.random.Generator) -> tuple[list[np.ndarray], list[np.ndarray]]:
    K, V = cdfs.shape
    lens = np.maximum(rng.poisson(shape.mean_doc_len, size=n_docs), 1)
    theta = rng.dirichlet(np.full(K, shape.alpha), size=n_docs)
    doc_of = np.repeat(np.arange(n_docs), lens)
    # Topic per token: inverse-CDF on the document's θ.
    theta_cdf = np.cumsum(theta, axis=1)
    theta_cdf[:, -1] = 1.0
    u = rng.random(doc_of.shape[0])
    topic = (u[:, None] > theta_cdf[doc_of]).sum(axis=1)
    word = np.empty(doc_of.shape[0], dtype=np.int64)
    uw = rng.random(doc_of.shape[0])
    for k in range(K):
        sel = topic == k
        word[sel] = np.minimum(np.searchsorted(cdfs[k], uw[sel], side="right"), V - 1)
    keys, counts = np.unique(doc_of * V + word, return_counts=True)
    bounds = np.searchsorted(keys // V, np.arange(n_docs + 1))
    doc_words = [keys[bounds[d]:bounds[d + 1]] % V for d in range(n_docs)]
    doc_counts = [counts[bounds[d]:bounds[d + 1]] for d in range(n_docs)]
    return doc_words, doc_counts


def generate(shape: CorpusShape, seed: int) -> tuple[Corpus, Corpus]:
    """``(train, heldout)`` corpora drawn from one planted model."""
    rng = np.random.default_rng(seed)
    words = _word_names(shape.vocab_size, rng)
    cdfs = _topic_cdfs(shape, rng)
    train = Corpus(words, *_draw_docs(shape.train_docs, shape, cdfs, rng))
    heldout = Corpus(words, *_draw_docs(shape.heldout_docs, shape, cdfs, rng))
    return train, heldout


def write_plda_files(corpus: Corpus, directory: str, num_files: int) -> list[str]:
    """Write ``word count …`` lines, documents split evenly over
    ``num_files`` part files (line order = document order)."""
    os.makedirs(directory, exist_ok=True)
    words = corpus.words
    n = len(corpus.doc_words)
    cuts = np.linspace(0, n, num_files + 1).astype(int)
    paths = []
    for f in range(num_files):
        path = os.path.join(directory, f"part-{f:05d}.txt")
        with open(path, "w", encoding="utf-8") as out:
            for d in range(cuts[f], cuts[f + 1]):
                out.write(" ".join(
                    f"{words[w]} {c}"
                    for w, c in zip(corpus.doc_words[d].tolist(), corpus.doc_counts[d].tolist())
                ))
                out.write("\n")
        paths.append(path)
    return paths
