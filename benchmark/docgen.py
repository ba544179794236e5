"""Seeded documents table for the curation workload.

Vocabulary: ``N_CONTENT_WORDS`` lower-case pseudo-words built from a
fixed syllable table (drawn uniformly, so unrelated documents get
independent SimHash signatures) plus the eight English stopwords the
quality score counts. Each base document has 60-160 words in sentences
of 8-15 words, about 12% stopwords.

Planted shares (of all documents; the traffic dimension of the workload
is the duplicate share, exact plus near):

- ``EXACT_DUP_SHARE``: byte-identical copies of a passing base document;
- ``NEAR_DUP_SHARE``: a passing base document with its sentences rotated,
  i.e. the same bag of words in another order (SimHash Hamming distance 0,
  so the near-dup pass must find every one);
- ``FOREIGN_SHARE``: German-marker documents the language filter drops;
- ``LOW_QUALITY_SHARE``: short, punctuation-heavy upper-case documents the
  quality filter drops.

Exact-dup and near-dup groups use disjoint base documents. ``doc_id`` is a
seeded permutation, so the copy in a group is as likely as the original to
hold the lowest id.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

N_CONTENT_WORDS = 20_000
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
FOREIGN_SHARE = 0.04
LOW_QUALITY_SHARE = 0.04
STOPWORD_SHARE = 0.12

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")
GERMAN = ("der", "die", "und", "ist", "nicht", "das", "ein", "mit")
_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo fu ga ge gi go gu ka ke ki ko ku "
    "la le li lo lu ma me mi mo mu na ne ni no nu pa pe pi po pu ra re ri ro ru "
    "sa se si so su ta te ti to tu va ve vi vo vu za ze zi zo zu"
).split()


def vocabulary() -> np.ndarray:
    """The content vocabulary: distinct three-syllable pseudo-words with an
    ``x`` suffix, so none is a stopword or German marker."""
    n = len(_SYLLABLES)
    return np.array(
        [
            _SYLLABLES[i % n] + _SYLLABLES[(i // n) % n] + _SYLLABLES[i // (n * n)] + "x"
            for i in range(N_CONTENT_WORDS)
        ]
    )


@dataclass(frozen=True)
class Documents:
    """The generated table plus what was planted in it."""

    frame: pd.DataFrame  # doc_id (int64), text (str)
    exact_groups: list[list[int]]  # doc_ids sharing one text
    near_pairs: list[tuple[int, int]]  # (base doc_id, rotated doc_id)

    @property
    def planted_near_dup_share(self) -> float:
        return len(self.near_pairs) / len(self.frame)

    @property
    def planted_exact_dup_share(self) -> float:
        return sum(len(g) - 1 for g in self.exact_groups) / len(self.frame)


def _sentences(rng: np.random.Generator, vocab: np.ndarray) -> list[str]:
    n_words = int(rng.integers(60, 161))
    stop = rng.random(n_words) < STOPWORD_SHARE
    words = np.where(
        stop,
        np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), n_words)],
        vocab[rng.integers(0, len(vocab), n_words)],
    )
    out, i = [], 0
    while i < n_words:
        k = int(rng.integers(8, 16))
        out.append(" ".join(words[i : i + k]) + ".")
        i += k
    return out


def generate_documents(n_docs: int, seed: int) -> Documents:
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_foreign = int(n_docs * FOREIGN_SHARE)
    n_low = int(n_docs * LOW_QUALITY_SHARE)
    n_base = n_docs - n_exact - n_near - n_foreign - n_low
    if n_base < n_exact + n_near:
        raise ValueError(f"n_docs={n_docs} too small for the planted shares")

    base = [_sentences(rng, vocab) for _ in range(n_base)]
    texts = [" ".join(s) for s in base]
    # exact copies of bases [0, n_exact), rotations of [n_exact, n_exact + n_near)
    exact_src = list(range(n_exact))
    texts += [texts[i] for i in exact_src]
    near_src = list(range(n_exact, n_exact + n_near))
    texts += [" ".join(base[i][1:] + base[i][:1]) for i in near_src]
    for _ in range(n_foreign):
        g = np.array(GERMAN)[rng.integers(0, len(GERMAN), int(rng.integers(60, 120)))]
        texts.append(" ".join(g))
    for _ in range(n_low):
        w = vocab[rng.integers(0, len(vocab), int(rng.integers(4, 12)))]
        texts.append(" ".join(f"{x.upper()}!!" for x in w))

    ids = rng.permutation(n_docs).astype(np.int64)
    exact_groups = [
        sorted([int(ids[i]), int(ids[n_base + j])]) for j, i in enumerate(exact_src)
    ]
    near_pairs = [
        (int(ids[i]), int(ids[n_base + n_exact + j])) for j, i in enumerate(near_src)
    ]
    frame = pd.DataFrame({"doc_id": ids, "text": texts})
    return Documents(frame, exact_groups, near_pairs)
