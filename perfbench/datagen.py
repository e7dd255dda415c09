"""Seeded synthetic inputs with the schema of the repository's sf test
tables ``events``, ``documents`` and ``embeddings``.

The constants below were read off the sf0.1 tables (100,000 events, 5,000
documents, 2,000 embeddings); ``BASELINE.md`` ("Input profile") lists the
statistics each one comes from.  Table sizes are the workloads' own.

Every table is a pure function of (seed, sizes): the same seed writes the
same bytes.  Only the three tables the benchmark's workloads read are made.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20
DUP_FRAC = 0.05  # share of documents that copy an earlier one (+ " dup")
DAYS = 30
EMB_DIM = 64


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """Message-log source: ids 0..n-1 in ts order over 30 days."""
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = DAYS * 86_400 * 1_000_000
    ts = t0 + np.sort(rng.integers(0, span_us, size=n))
    n_users = max(1, round(n * 0.015))
    value = np.round(rng.exponential(50.0, size=n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; DUP_FRAC of them copy an earlier original."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < DUP_FRAC:
            texts.append(texts[originals[rng.integers(len(originals))]] + " dup")
            continue
        words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
        texts.append(" ".join(words))
        originals.append(i)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors with a 10-way label."""
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n, dtype=np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, n_events: int, n_docs: int, n_emb: int) -> None:
    """Write events/documents/embeddings parquet files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per table, so resizing one leaves the others
    ss = np.random.SeedSequence(seed)
    r_ev, r_doc, r_emb = (np.random.default_rng(s) for s in ss.spawn(3))
    pq.write_table(events(r_ev, n_events), f"{out_dir}/events.parquet")
    pq.write_table(documents(r_doc, n_docs), f"{out_dir}/documents.parquet")
    pq.write_table(embeddings(r_emb, n_emb), f"{out_dir}/embeddings.parquet")
