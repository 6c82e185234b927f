"""Seeded input generator for the benchmark.

Every table comes from ``numpy.random.default_rng([seed, stream])`` and is
written with pyarrow without pandas metadata, so one seed always yields
the same bytes. Shapes follow the fixtures the pipeline's own gates assume:

- ``events`` spans 30 days from 2024-01-01 (the incremental star entry
  needs a span over 19 days and rows on day 5 whose ``event_id % 11 == 0``),
  carries 2% late arrivals (timestamps 1-5 days behind their position in
  the export), and draws user ids from a Zipf(1.1) law over ``n // 20``
  users, so a few users own most events;
- ``documents`` draws words from the 31-word vocabulary of the sf0.1 test
  corpus; ``NEAR_DUP_FRAC`` of them copy an earlier document and append
  ``dup``, as the corpus's own near-duplicates do;
- ``embeddings`` are unit vectors of dimension 64 around 10 label centres.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHUNK_ROWS = 10_000  # rows per raw export chunk, as in the reference's exporter
SPAN_DAYS = 30
LATE_FRAC = 0.02
ZIPF_S = 1.1
NEAR_DUP_FRAC = 0.05
EMB_DIM = 64
N_LABELS = 10

# The distinct words of the sf0.1 `documents` corpus ("dup" marks its
# near-duplicates and is appended separately).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_P = (0.45, 0.25, 0.1, 0.05, 0.15)

_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def events_table(seed: int, n: int) -> pa.Table:
    """``n`` events in export order (event_id ascending)."""
    rng = _rng(seed, 1)
    offs = np.sort(rng.integers(0, SPAN_DAYS * _DAY_US, n))
    late = rng.random(n) < LATE_FRAC
    lag = rng.integers(_DAY_US, 5 * _DAY_US, n)
    offs = np.where(late, np.maximum(offs - lag, 0), offs)
    n_users = max(n // 20, 100)
    weights = 1.0 / np.arange(1, n_users + 1) ** ZIPF_S
    ranks = rng.choice(n_users, size=n, p=weights / weights.sum())
    users = rng.permutation(n_users)[ranks]
    types = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_P)
    values = np.round(rng.exponential(50.0, n), 2)
    ks = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(_START_US + offs, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[t] for t in types]),
            "value": pa.array(values),
            "props": pa.array([f'{{"k": {k}}}' for k in ks]),
        }
    )


def write_event_chunks(seed: int, n: int, out_dir: str) -> list[str]:
    """Land the events as ``CHUNK_ROWS``-row Parquet chunks; returns paths
    in export order."""
    table = events_table(seed, n)
    paths = []
    for i, start in enumerate(range(0, n, CHUNK_ROWS)):
        path = os.path.join(out_dir, f"chunk-{i:05d}.parquet")
        _write(table.slice(start, CHUNK_ROWS), path)
        paths.append(path)
    return paths


def documents_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, 2)
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for length in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + length]))
        pos += length
    dups = np.flatnonzero(rng.random(n) < NEAR_DUP_FRAC)
    for i in dups[dups > 0]:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[x] for x in langs]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, 3)
    centres = rng.standard_normal((N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = 0.3 * centres[labels] + rng.standard_normal((n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_corpus(seed: int, n_docs: int, n_vecs: int, out_dir: str) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` in the layout
    ``sources.read_table`` reads."""
    _write(documents_table(seed, n_docs), os.path.join(out_dir, "documents.parquet"))
    _write(embeddings_table(seed, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
