"""Seeded input tables for the operator layer.

The driver-contract queries read ``<dir>/documents.parquet`` and
``<dir>/embeddings.parquet``.  These are generated here from the seed with
the same schema and the same shape as the contract's gate-scale tables:
500 short documents of words from a 30-word vocabulary over five languages
and 20 sources, and 500 unit-length 64-dimensional vectors with one of ten
labels.  Random vectors of this size sit far below the cosine thresholds the
near-duplicate queries plant their duplicates at, so each query's answer is
decided by its planted rows, as on the contract's tables.
"""

from __future__ import annotations

import os
import random

N_DOCS = 500
N_VECTORS = 500
DIM = 64
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the value"
    " vector window"
).split()
LANGS = {"en": 44, "zh": 15, "es": 14, "de": 14, "fr": 13}
N_SOURCES = 20


def write(seed: int, path: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts = [" ".join(rng.choices(WORDS, k=rng.randint(8, 80))) for _ in range(N_DOCS)]
    langs = rng.choices(list(LANGS), weights=list(LANGS.values()), k=N_DOCS)
    documents = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    gen = np.random.default_rng(seed)
    vectors = gen.standard_normal((N_VECTORS, DIM))
    vectors /= np.linalg.norm(vectors, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(N_VECTORS), pa.int64()),
            "embedding": pa.array(list(vectors.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(gen.integers(0, 10, N_VECTORS), pa.int32()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(documents, os.path.join(path, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(path, "embeddings.parquet"))
