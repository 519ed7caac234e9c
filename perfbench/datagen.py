"""Deterministic input tables for the benchmark.

Writes the three tables the workloads read, ``documents`` and ``embeddings``
(``llm_dedup``) and ``events`` (``bus_live``), as parquet files with the
schemas of FIXTURES.md and the row counts of its sf0.1 tier: 5,000
documents, 2,000 embeddings and 100,000 events.

The value distributions follow the sf0.1 fixtures, measured there:

- ``documents.text``: word counts uniform on 10..99 (fixtures: min 10,
  median 54, mean 54.1, max 100 with the appended word, flat histogram),
  words drawn uniformly from a 30-word vocabulary (each word 3.3-3.4% of
  all words). 5% of the documents (250 of 5,000) are near duplicates: the
  text of a random other document with the word ``dup`` appended, chains
  included. Two such copies of one source make an exact duplicate pair
  (fixtures: 243 of the 250 copy another document verbatim, 8
  exact-duplicate pairs, all among the copies; generated: 3 pairs).
  ``lang`` is en 44%, else de/es/fr/zh; ``source`` is ``src{doc_id % 20}``.
- ``embeddings``: 64-dim unit vectors with Gaussian directions and labels
  0..9 (fixtures: median pairwise cosine 0.00, 99.9th percentile 0.38, no
  label structure).
- ``events``: 30 days of ``ts`` from 2024-01-01 in ``event_id`` order, 1,500
  users, five event types in equal shares, ``value`` exponential with mean
  50 in cents (fixtures: median 34.77, 13% above 100), ``props`` of
  ``{"k": 0..99}``.

The tables are a pure function of ``GENERATOR_SEED``: every run reads
identical bytes; the benchmark's ``--seed`` varies op order and the events
``bus_live`` publishes, not the tables. They are written once into a cache
directory and then treated as read-only.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
# Bump when the generated bytes change, so stale caches are not reused.
GENERATOR_VERSION = 2

N_DOCS, N_EMBEDDINGS, N_EVENTS, N_USERS = 5_000, 2_000, 100_000, 1_500
DUP_SHARE = 0.05
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EVENT_TYPES = "click error purchase signup view".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64


def data_dir(cache_root: str) -> str:
    return os.path.join(cache_root, f"data-v{GENERATOR_VERSION}")


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
        for _ in range(N_DOCS)
    ]
    for dst in rng.choice(N_DOCS, int(N_DOCS * DUP_SHARE), replace=False):
        src = int(rng.integers(0, N_DOCS - 1))
        src += src >= dst  # any document but dst itself
        texts[dst] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
    })


def _events(rng: np.random.Generator) -> pa.Table:
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, N_EVENTS))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(base + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, N_EVENTS)],
    })


def _tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(GENERATOR_SEED)
    return {
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
        "events": _events(rng),
    }


def ensure_tables(cache_root: str) -> str:
    """Return the directory holding the tables, writing them first if
    absent. Writes to a sibling directory and renames, so an interrupted
    run never leaves a half-written table set behind."""
    target = data_dir(cache_root)
    if os.path.isdir(target):
        return target
    staging = f"{target}.tmp-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for name, table in _tables().items():
        pq.write_table(table, os.path.join(staging, f"{name}.parquet"))
    os.rename(staging, target)
    return target
