"""Seeded text corpus with planted near-duplicate clusters.

The corpus is built in plain Python from ``seed`` so the engine only
ever sees the generated rows. Three kinds of document:

- background: Zipf-drawn words, no intended duplicates;
- planted clusters: one base document plus copies with a fraction of
  tokens substituted. Edit rates are drawn from ``EDIT_RATES``, which
  straddle the 0.8 word-3-shingle Jaccard threshold (about 4% edits
  sits on it), so some copies are true near-duplicates and some are
  not, and recall is measured where it can fail;
- boilerplate: many documents sharing one long template with a short
  unique tail. They share most shingles, so their LSH buckets hold more
  than ``max_bucket_size`` ids and the engine's drop path engages.
  A share of the planted clusters is a short body (5 to 15 words)
  wrapped in the same template: their minhash bands are mostly
  template shingles, so their pairs fall into those overfull buckets
  in most bands, and recall measures what dropping them costs.

``planted_pairs`` lists every within-cluster pair whose exact Jaccard
is at or above the threshold; recall is measured against it.
"""

from __future__ import annotations

import itertools
import random

EDIT_RATES = (0.01, 0.02, 0.03, 0.05, 0.07)
VOCAB = 5000
SHINGLE = 3  # words per shingle, the engine's default
CLUSTER_SHARE = 0.2  # share of docs in planted clusters
CLUSTER_SIZE = 4
BOILERPLATE_SHARE = 0.03
WRAPPED_SHARE = 0.25  # share of clusters wrapped in the boilerplate template


def shingles(text: str) -> set[str]:
    """Distinct word ``SHINGLE``-grams, the engine's ``token_shingles``
    semantics: a shorter document is one shingle of its full text."""
    toks = text.split(" ")
    return {" ".join(toks[i : i + SHINGLE]) for i in range(max(len(toks) - SHINGLE + 1, 1))}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)


def _words(rng: random.Random, k: int) -> list[str]:
    # Zipf-like: index = floor(VOCAB ** u) skews towards small ids
    return [f"w{int(VOCAB ** rng.random())}" for _ in range(k)]


def make_corpus(
    seed: int, n_docs: int, threshold: float
) -> tuple[list[tuple[int, str]], set[tuple[int, int]]]:
    """``(docs, planted_pairs)``: docs are ``(doc_id, text)`` with ids
    0..n_docs-1 in shuffled order; planted pairs are ``(a, b)``, a < b."""
    rng = random.Random(seed)
    n_cluster_docs = int(n_docs * CLUSTER_SHARE) // CLUSTER_SIZE * CLUSTER_SIZE
    n_boiler = int(n_docs * BOILERPLATE_SHARE)
    n_background = n_docs - n_cluster_docs - n_boiler
    template = " ".join(_words(rng, 80))

    texts: list[str] = []
    clusters: list[list[int]] = []
    for _ in range(n_cluster_docs // CLUSTER_SIZE):
        wrapped = rng.random() < WRAPPED_SHARE
        base = _words(rng, rng.randint(5, 15) if wrapped else rng.randint(60, 120))
        members = []
        for k in range(CLUSTER_SIZE):
            copy = list(base)
            if k:
                rate = rng.choice(EDIT_RATES)
                for i in rng.sample(range(len(copy)), max(1, round(rate * len(copy)))):
                    copy[i] = f"x{rng.randrange(VOCAB)}"
            members.append(len(texts))
            texts.append((template + " " if wrapped else "") + " ".join(copy))
        clusters.append(members)
    for _ in range(n_boiler):
        texts.append(template + " " + " ".join(_words(rng, 6)))
    for _ in range(n_background):
        texts.append(" ".join(_words(rng, rng.randint(30, 120))))

    ids = list(range(n_docs))
    rng.shuffle(ids)
    docs = list(zip(ids, texts))
    sh = [shingles(t) for t in texts]
    planted = set()
    for members in clusters:
        for i, j in itertools.combinations(members, 2):
            if jaccard(sh[i], sh[j]) >= threshold:
                planted.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return docs, planted
