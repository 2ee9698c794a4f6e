"""Seeded corpus for the curate workload.

Writes documents.parquet, embeddings.parquet and events.parquet into a
directory, with the column names, types and value shapes the curation,
similarity and stream-gate query packs read:

  documents  doc_id, text, lang, source, n_chars -- bag-of-words texts over
             a 30-word vocabulary, 5% of them an exact copy of another
             document with " dup" appended (the near-duplicate signal)
  embeddings vec_id, embedding (64 unit-norm float32), label (10 classes)
  events     event_id, ts (TIMESTAMP micros, ascending from 2024-01-01),
             user_id, event_type, value, props

The same (seed, size) always gives the same rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def documents(rng, n):
    lengths = rng.integers(10, 101, size=n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), size=k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def events(rng, n):
    start_us = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
    gaps = rng.exponential(26.0, size=n) * 1e6
    ts = start_us + np.cumsum(gaps).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, size=n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })


def write(out_dir, seed, n_docs, n_vecs, n_events):
    """Generate the three tables into out_dir; returns total row count."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": documents(np.random.default_rng([seed, 1]), n_docs),
        "embeddings": embeddings(np.random.default_rng([seed, 2]), n_vecs),
        "events": events(np.random.default_rng([seed, 3]), n_events),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return sum(t.num_rows for t in tables.values())
