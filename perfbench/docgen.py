"""Documents and embeddings tables for the dedup-query workload.

The table contents are fixed (``CORPUS_SEED``), so the DuckDB oracle's
result hashes can be computed once and stored in ``oracle_hashes.json``:
the oracle needs about a minute for these queries, longer than a run may
take.  The run's seed decides the physical layout the program reads: the
row order and how the rows are split into parquet files.  Every query
result is order-insensitive, so the stored hashes hold for every seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240607
N_DOCS = 600
N_VECS = 600
DIM = 64
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def corpus() -> dict[str, pa.Table]:
    """Bags of words over a 30-word vocabulary, ~6% near duplicates (an
    earlier document plus ``dup`` tokens) and ~2% exact copies: the
    near-duplicate-heavy shape the dedup queries are built for."""
    rng = np.random.default_rng(CORPUS_SEED)
    texts: list[str] = []
    for i in range(N_DOCS):
        u = rng.random()
        if i > 10 and u < 0.06:
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        elif i > 10 and u < 0.08:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, size=n)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(k)] for k in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] + rng.normal(0, 0.8, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def write_tables(out_dir: str, seed: int) -> int:
    """Write each table as ``<name>.parquet/part-*.parquet`` with the rows
    shuffled and split by ``seed``; returns the total row count."""
    rng = np.random.default_rng([seed, 3])
    rows = 0
    for name, table in corpus().items():
        order = rng.permutation(table.num_rows)
        cuts = np.sort(rng.choice(np.arange(1, table.num_rows), size=int(rng.integers(1, 4)),
                                  replace=False))
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        for k, part in enumerate(np.split(order, cuts)):
            pq.write_table(table.take(part), os.path.join(d, f"part-{k}.parquet"))
        rows += table.num_rows
    return rows
