"""Seeded input generator: events, documents and embeddings parquet files.

The package reads these three tables from a directory (`events.parquet`,
`documents.parquet`, `embeddings.parquet`). Their shapes follow the
repository's synthetic test corpus (`TESTDATA.md`; README.md compares the
graph tables built from each): dense event ids with timestamps increasing over
January 2024, ~67 events per user spread uniformly over five event types,
exponential `value` (mean 50), documents drawn from a 31-word vocabulary,
and unit-norm 64-d embeddings. The rows of each table depend only on its
size; the seed sets the row order of every file, so every seed builds the
same graph and a run's work does not vary with its seed. The same
(n_events, seed) always gives byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
VOCAB = (
    "the a fast slow big small key value row column table part line data "
    "customer order sort scan merge join hash window group agg filter "
    "query batch stream vector spark dup"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
EMBED_DIM = 64
# id spaces stay below the package's near-copy offsets (10000 / 20000)
N_DOCS = 500
N_VECS = 500
GEN_VERSION = 2
CONTENT_SEED = 20240101


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    n_users = max(15, round(n * 0.015))
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(value),
        "props": pa.array([json.dumps({"k": int(x)}) for x in k], pa.string()),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB),
                                                int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)],
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _shuffled(rng: np.random.Generator, t: pa.Table) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def input_key(n_events: int, seed: int) -> str:
    """Directory name of one staged input set: everything that decides
    its bytes is in the name, so a stale set can never be reused."""
    return f"inputs_v{GEN_VERSION}_n{n_events}_s{seed}"


def stage_inputs(root: str, n_events: int, seed: int,
                 with_docs: bool = True) -> str:
    """Write the input set for (n_events, seed) under root; returns its
    directory. Each table's rows draw from their own child generator, so
    adding or sizing one table never changes another."""
    out = os.path.join(root, input_key(n_events, seed))
    os.makedirs(out, exist_ok=True)
    ev_rng, doc_rng, emb_rng = (
        np.random.default_rng(s)
        for s in np.random.SeedSequence(CONTENT_SEED).spawn(3)
    )
    order = np.random.default_rng(seed)
    tables = {"events": _shuffled(order, _events(ev_rng, n_events))}
    if with_docs:
        tables["documents"] = _shuffled(order, _documents(doc_rng, N_DOCS))
        tables["embeddings"] = _shuffled(order, _embeddings(emb_rng, N_VECS))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return out

