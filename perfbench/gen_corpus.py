"""Seeded documents/embeddings corpus shaped like the registry's sf0.1.

``documents``: short word-salad texts over a 31-word vocabulary (the
sf0.1 vocabulary), five languages and twenty sources. A share of the
documents are members of near-duplicate families: copies of a base
document with a few words replaced, so their 16-char shingle sets stay
above the 0.5 Jaccard threshold the dedup queries use.

``embeddings``: unit-norm 64-dim float32 vectors drawn around ten label
centroids, with near-duplicate families made by adding small noise to a
base vector.

Both tables are written with the declared schemas of
``sources.tables.SCHEMAS`` so the engine reads them exactly as it reads
the registry's fixtures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector customer the join dup"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
DIM = 64
N_LABELS = 10


def _doc_families(rng: np.random.Generator, n_docs: int, dup_frac: float) -> list[str]:
    texts: list[str] = []
    while len(texts) < n_docs:
        n_words = int(rng.integers(8, 90))
        words = list(rng.choice(VOCAB, size=n_words))
        texts.append(" ".join(words))
        if rng.random() < dup_frac:
            for _ in range(int(rng.integers(1, 4))):
                if len(texts) >= n_docs:
                    break
                w = list(words)
                for _ in range(max(1, n_words // 25)):
                    w[int(rng.integers(n_words))] = str(rng.choice(VOCAB))
                texts.append(" ".join(w))
    # families stay together in id space only by chance: shuffle
    order = rng.permutation(n_docs)
    return [texts[i] for i in order]


def documents_table(seed: int, n_docs: int, dup_frac: float = 0.15) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    texts = _doc_families(rng, n_docs, dup_frac)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int, dup_frac: float = 0.1) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    centroids = rng.normal(size=(N_LABELS, DIM))
    labels = rng.integers(N_LABELS, size=n_vecs)
    vecs = centroids[labels] * 0.3 + rng.normal(size=(n_vecs, DIM))
    dups = np.flatnonzero(rng.random(n_vecs) < dup_frac)
    base = rng.integers(n_vecs, size=len(dups))
    vecs[dups] = vecs[base] + rng.normal(scale=0.05, size=(len(dups), DIM))
    labels[dups] = labels[base]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.astype(np.float32).ravel()), DIM
    ).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_corpus(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``sf_dir``; return their row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents_table(seed, n_docs), f"{sf_dir}/documents.parquet")
    pq.write_table(embeddings_table(seed, n_vecs), f"{sf_dir}/embeddings.parquet")
    return {"documents": n_docs, "embeddings": n_vecs}
