"""Seeded inputs for the benchmark workloads, with planted ground truth.

Everything here is a pure function of ``seed``: the same seed gives
byte-identical inputs. The package under test never sees the truth
sets; the checks in ``checks.py`` compare its output against them.
"""

from __future__ import annotations

import csv
import random

import numpy as np

# The shape of the sf0.1 ``documents`` table: 10-100 words drawn from
# a 30-word vocabulary, so unrelated documents share almost no 3-word
# shingles and every high-Jaccard pair is one that was planted.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def people_csv(path: str, n_originals: int, seed: int) -> None:
    """Write a Febrl-shaped table (``datagen.make_people``) as CSV.

    Duplicates are ``rec-<N>-dup-<M>`` of original ``rec-<N>-org``; the
    state ``nsw`` holds ~29% of rows.
    """
    from sparklyclean_spark.datagen import COLUMNS, make_people

    rows = make_people(n_originals, seed=seed)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(COLUMNS)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])


def _edit(rng: random.Random, words: list[str], n_edits: int) -> list[str]:
    out = list(words)
    for _ in range(n_edits):
        i = rng.randrange(len(out))
        out[i] = rng.choice([w for w in VOCAB if w != out[i]])
    return out


def documents(n_docs: int, n_exact: int, n_near: int, seed: int):
    """``(rows, planted)``: documents plus planted duplicates.

    ``rows`` are ``(doc_id, text)``. The last ``n_exact + n_near`` ids
    are copies of lower-id originals of at least 40 words: exact copies
    (same text, different case and spacing, so only normalisation makes
    them equal) and near copies with one or two substituted words
    (3-shingle Jaccard well above 0.5). ``planted`` maps each copy id to
    its original id.
    """
    rng = random.Random(seed)
    texts = [
        [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        for _ in range(n_docs)
    ]
    rows = [(i, " ".join(t)) for i, t in enumerate(texts)]
    long_ids = [i for i, t in enumerate(texts) if len(t) >= 40]
    origins = rng.sample(long_ids, n_exact + n_near)
    planted = {}
    for j, src in enumerate(origins):
        new_id = n_docs + j
        if j < n_exact:
            text = "  ".join(texts[src]).upper()
        else:
            text = " ".join(_edit(rng, texts[src], rng.randint(1, 2)))
        rows.append((new_id, text))
        planted[new_id] = src
    return rows, planted


def embeddings(n_vecs: int, dim: int, n_near: int, seed: int):
    """``(ids, matrix)``: unit vectors around 10 label centres, then
    ``n_near`` near copies (cosine about 0.998) of random originals."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((10, dim))
    base = centres[rng.integers(0, 10, n_vecs)] + 1.5 * rng.standard_normal(
        (n_vecs, dim)
    )
    origins = rng.choice(n_vecs, n_near, replace=False)
    copies = base[origins] + 0.06 * np.linalg.norm(
        base[origins], axis=1, keepdims=True
    ) / np.sqrt(dim) * rng.standard_normal((n_near, dim))
    x = np.vstack([base, copies])
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return list(range(len(x))), x.astype(np.float32)


def shard(corpus, n_docs: int, n_near: int, seed: int):
    """``(rows, planted)``: a new shard of ``n_docs`` ``(doc_id, text)``
    rows whose last ``n_near`` are near copies of long corpus documents.
    Shard ids start above every corpus id; ``planted`` maps each copy
    id to the corpus id it copies."""
    rng = random.Random(seed * 7919 + 1)
    first = max(i for i, _ in corpus) + 1
    fresh, _ = documents(n_docs - n_near, 0, 0, seed + 1)
    rows = [(first + i, text) for i, text in fresh]
    long_docs = [(i, t.split()) for i, t in corpus if len(t.split()) >= 40]
    planted = {}
    for src, words in rng.sample(long_docs, n_near):
        planted[first + len(rows)] = src
        rows.append((first + len(rows), " ".join(_edit(rng, words, rng.randint(1, 2)))))
    return rows, planted
