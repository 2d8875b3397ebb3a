"""Seeded input generation for the benchmark workloads.

The corpus tables the engine reads (``documents``, ``embeddings``) are
made here from ``--seed``; the same seed gives byte-identical tables.
The engine only ever sees the written parquet files. (The op streams —
query terms, query vectors, takedown ids — are drawn in workloads.py
from the same seed.)

The corpus follows the shape of the engine's synthetic test tables:
documents are 10-89 tokens drawn from a 30-word vocabulary, about 5%
carry a ``dup`` marker, a few percent are near-copies (1-2 tokens
changed) or exact copies of an earlier document, so the dedup,
decontamination and curation stages all have real work. Embeddings are
64-d vectors around ten label centres; ``vec_id`` shares the document id
space, so one takedown id stream reaches every store.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DIM = 64
N_LABELS = 10

#: bumped whenever the generator's output for a given seed changes, so
#: references pinned from an older generator are refused instead of
#: silently compared
GENERATOR_VERSION = 1


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 90, size=n)
    toks = [list(vocab[rng.integers(0, len(vocab), size=k)]) for k in lens]
    # near-copies (1-2 substituted tokens) and exact copies of earlier
    # docs: the pairs the minhash / fuzzy-overlap stages must find
    for i in range(1, n):
        u = rng.random()
        if u < 0.03:
            src = list(toks[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 3))):
                src[int(rng.integers(0, len(src)))] = str(vocab[rng.integers(0, len(vocab))])
            toks[i] = src
        elif u < 0.032:
            toks[i] = list(toks[int(rng.integers(0, i))])
    dup = rng.random(n) < 0.05
    return [" ".join(t) + (" dup" if d else "") for t, d in zip(toks, dup)]


def _embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    centres = rng.normal(0.0, 0.09, size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, size=n).astype(np.int32)
    vecs = centres[labels] + rng.normal(0.0, 0.09, size=(n, DIM))
    return vecs.astype(np.float32), labels


def corpus_tables(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """The seeded corpus: ``documents`` and ``embeddings`` with ids
    ``0..n_docs-1``, rows stored in a seed-chosen order."""
    rng = np.random.default_rng([seed, n_docs, GENERATOR_VERSION])
    texts = _texts(rng, n_docs)
    langs = rng.choice(np.array(LANGS), size=n_docs, p=LANG_P)
    vecs, labels = _embeddings(rng, n_docs)
    order = rng.permutation(n_docs)
    ids = np.arange(n_docs, dtype=np.int64)[order]
    docs = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([texts[i] for i in ids], pa.string()),
            "lang": pa.array(langs[ids].tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
        }
    )
    emb = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs[ids].reshape(-1), pa.float32()), DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels[ids], pa.int32()),
        }
    )
    return {"documents": docs, "embeddings": emb}


def stamp_of(seed: int, n_docs: int) -> dict:
    """What a corpus is made from; ``reference.json`` records it, and a
    pinned reference whose stamp differs is refused."""
    return {"seed": seed, "n_docs": n_docs, "generator": GENERATOR_VERSION}


def write_inputs(out_dir: str, seed: int, n_docs: int) -> dict[str, pa.Table]:
    """Write the seeded corpus as ``<out_dir>/<table>.parquet`` and return
    the tables."""
    os.makedirs(out_dir, exist_ok=True)
    tables = corpus_tables(seed, n_docs)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, n_docs // 4))
    return tables


def user_bytes(text_or_vec) -> int:
    """Bytes of one user row as ingested: UTF-8 text or float32 vector,
    plus the 8-byte id."""
    if isinstance(text_or_vec, str):
        return 8 + len(text_or_vec.encode())
    return 8 + 4 * len(text_or_vec)
