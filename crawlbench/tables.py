"""Seeded input tables for the curation-query workload.

Writes the two tables the curation queries read, ``documents`` and
``embeddings``, as one parquet file each. They reproduce the shape of the
repository's sf0.1 test data (see TESTDATA.md): the same row counts, column
names and types, vocabulary, document lengths, language and source mix,
near-duplicate rate and unit-length 64-d embeddings. The benchmark
generates them instead of reading that data because it reads nothing
outside its checkout. Everything is a pure function of the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

N_DOCUMENTS = 5000
N_EMBEDDINGS = 2000
EMBED_DIM = 64
#: the test data's 30-word vocabulary
WORDS = ("the a join hash row batch scan column customer filter small slow "
         "merge order vector line table data agg value key stream window "
         "spark part group big sort query fast").split()
#: documents of 10-100 words, uniformly
MIN_WORDS, MAX_WORDS = 10, 100
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
#: share of documents that copy another document's text and append "dup";
#: two copies of the same document are exact duplicates of each other
DUP_SHARE = 0.05


def _documents(rng) -> pd.DataFrame:
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, N_DOCUMENTS)
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
             for k in lengths]
    copies = rng.choice(N_DOCUMENTS, int(DUP_SHARE * N_DOCUMENTS),
                        replace=False)
    originals = rng.integers(0, N_DOCUMENTS, len(copies))
    base = list(texts)
    for i, j in zip(copies, originals):
        texts[i] = base[j] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pd.DataFrame:
    vecs = rng.normal(0, 1, (N_EMBEDDINGS, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
    })


def build_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write both tables under ``out_dir``; returns name -> parquet path."""
    rng = np.random.default_rng(seed)
    frames = {"documents": _documents(rng), "embeddings": _embeddings(rng)}
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, df in frames.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(paths[name], index=False)
    return paths
