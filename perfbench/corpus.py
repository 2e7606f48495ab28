"""Seeded input generators for the benchmark workloads.

Every input the engine sees is made here from the run's ``--seed``: the
base documents, the 16-variant derived corpus with its planted twins, the
edited second snapshot, the stream files and the embedding table.  Nothing
is read from outside the checkout, and nothing here calls the engine.

Text model, the shape of the suite's reference documents table: documents
are 20-100 tokens (every seed gets the same spread of lengths) drawn
uniformly from a 32-word lowercase vocabulary, single-space joined.  A
doc's *twin* drops its last three tokens, so a twin's exact shingle Jaccard
with its base is at least 13/16 and LSH finds it with probability
1 - 1e-14: a correct engine has twin recall exactly 1.  In sets of 100 docs
or more, 1 % of base docs copy the text of an earlier doc, so
exact-duplicate groups exist too.
"""

from __future__ import annotations

import hashlib
import string

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query scan batch index shard cache"
).split()
MIN_TOKENS, MAX_TOKENS = 20, 100
COPY_SHARE = 0.01
N_VARIANTS = 16
LETTERS = string.ascii_lowercase


def base_docs(n: int, seed: int) -> pd.DataFrame:
    """n base docs: doc_id, text, twin (text minus its last 3 tokens),
    copy_of (doc_id whose text this doc copies, or -1)."""
    rng = np.random.default_rng([seed, 1])
    # the same multiset of lengths for every seed, in seeded order: the seed
    # picks the content, never the amount of work
    lens = rng.permutation(MIN_TOKENS + np.arange(n) * (MAX_TOKENS - MIN_TOKENS + 1) // n)
    toks = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    ends = np.cumsum(lens)
    words = [VOCAB[t] for t in toks.tolist()]
    texts, twins = [], []
    start = 0
    for e in ends.tolist():
        texts.append(" ".join(words[start:e]))
        twins.append(" ".join(words[start : e - 3]))
        start = e
    copy_of = np.full(n, -1, dtype=np.int64)
    n_copies = int(n * COPY_SHARE)
    if n_copies:
        dst = rng.choice(np.arange(n // 2, n), size=n_copies, replace=False)
        src = rng.integers(0, n // 2, size=n_copies)
        for d, s in zip(dst.tolist(), src.tolist()):
            texts[d], twins[d], copy_of[d] = texts[s], twins[s], s
    return pd.DataFrame(
        {"doc_id": np.arange(n, dtype=np.int64), "text": texts, "twin": twins, "copy_of": copy_of}
    )


def variant_perms(seed: int, n_variants: int = N_VARIANTS) -> list[str]:
    """One letter permutation per variant: perm_k(c) = L[(pi(c) + s_k) % 26]
    with a seeded bijection pi and distinct shifts s_k, so any two variants
    map every letter differently and variants of one doc share no token."""
    if n_variants > len(LETTERS) - 1:
        raise ValueError(f"at most {len(LETTERS) - 1} variants")
    rng = np.random.default_rng([seed, 2])
    pi = rng.permutation(len(LETTERS))
    shifts = rng.choice(np.arange(1, len(LETTERS)), size=n_variants, replace=False)
    return [
        "".join(LETTERS[(pi[i] + s) % len(LETTERS)] for i in range(len(LETTERS)))
        for s in shifts.tolist()
    ]


def twin_pairs(base: pd.DataFrame, n_variants: int) -> list[tuple[str, str]]:
    """Planted (base url, twin url) pairs of the derived corpus."""
    return [
        (f"v{v:03d}d{d:08d}", f"v{v:03d}t{d:08d}")
        for v in range(n_variants)
        for d in base["doc_id"].tolist()
    ]


def derived_corpus(spark, base, perms: list[str]):
    """url, text over base(doc_id, text, twin) x variants: each variant
    translates the letters of the base doc and of its twin (one JVM char
    pass per row).  Urls are ``v<k>d<id>`` for bases, ``v<k>t<id>`` for twins."""
    from pyspark.sql import functions as F

    d = base.repartition(spark.sparkContext.defaultParallelism * 4)
    pm = spark.createDataFrame(list(enumerate(perms)), "v long, perm string")
    c = d.crossJoin(F.broadcast(pm))
    base_rows = c.select(
        F.format_string("v%03dd%08d", "v", "doc_id").alias("url"),
        F.expr(f"translate(text, '{LETTERS}', perm)").alias("text"),
    )
    twin_rows = c.select(
        F.format_string("v%03dt%08d", "v", "doc_id").alias("url"),
        F.expr(f"translate(twin, '{LETTERS}', perm)").alias("text"),
    )
    return base_rows.unionByName(twin_rows)


def flat_corpus(base: pd.DataFrame) -> pd.DataFrame:
    """url, text: base docs plus their twins, untranslated: the
    re-snapshot's v1 corpus."""
    b = pd.DataFrame({"url": [f"d{i:08d}" for i in base["doc_id"]], "text": base["text"]})
    t = pd.DataFrame({"url": [f"t{i:08d}" for i in base["doc_id"]], "text": base["twin"]})
    return pd.concat([b, t], ignore_index=True)


def churn_mask(urls: pd.Series, seed: int, share: float) -> np.ndarray:
    """Exactly round(share * len(urls)) urls, picked uniformly: those with
    the smallest keyed url hash."""
    key = str(seed).encode()
    h = np.array([
        int.from_bytes(hashlib.blake2b(u.encode(), digest_size=8, key=key).digest(), "little")
        for u in urls
    ], dtype=np.uint64)
    mask = np.zeros(len(h), dtype=bool)
    mask[np.argsort(h, kind="stable")[: round(share * len(h))]] = True
    return mask


def edit_text(text: str) -> str:
    """The v2 edit: append one vocabulary token, a content change that keeps
    the doc a near-duplicate of its v1 self."""
    return text + " " + VOCAB[len(text) % len(VOCAB)]


def embeddings(n: int, dim: int, seed: int, n_labels: int = 10) -> pd.DataFrame:
    """vec_id, embedding (unit float32 vectors around n_labels centroids)."""
    rng = np.random.default_rng([seed, 3])
    cent = rng.standard_normal((n_labels, dim))
    labels = rng.integers(0, n_labels, size=n)
    x = cent[labels] + 0.8 * rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(x.astype(np.float32))}
    )
