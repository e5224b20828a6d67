"""Seeded input generation.

Every table is a directory ``<name>.parquet/`` of ``part-NNNNN.parquet``
files, which both Spark (``spark.read.parquet(dir)``) and DuckDB
(``read_parquet('dir/*.parquet')``) read. The same seed gives
byte-identical files: all randomness comes from one ``numpy`` generator per
table, and pyarrow writes no wall-clock metadata. Timestamps are
TIMESTAMP(NANOS) at whole-microsecond values, the shape of the engine's own
test tables, so the loaders' nanosecond path is exercised and Spark and
DuckDB see the same instants.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: stable per-table sub-seeds, so adding a table never shifts another's data
_TABLE_SEEDS = {"documents": 1, "events": 2, "embeddings": 3}

#: every generated file gets this mtime plus its index in seconds: Spark's
#: file stream source orders files by mtime, so one micro-batch per file
#: replays the files in name order on every run
_MTIME_BASE = 1_700_000_000

_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def _rng(seed: int, table: str, salt: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _TABLE_SEEDS[table], salt])


def _zipf_ranks(rng: np.random.Generator, n_keys: int, a: float, size: int):
    p = np.arange(1, n_keys + 1, dtype=np.float64) ** -a
    return rng.choice(n_keys, size=size, p=p / p.sum())


def write_table(table: pa.Table, root: str, name: str, n_files: int) -> str:
    """Write ``table`` as ``n_files`` row-contiguous parts under
    ``root/name.parquet`` with fixed, increasing mtimes."""
    path = os.path.join(root, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), part)
        os.utime(part, (_MTIME_BASE + i, _MTIME_BASE + i))
    return path


def documents(seed: int, n_docs: int, vocab: int = 5000, zipf_a: float = 1.1) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)``: 10-59 tokens per
    document, drawn Zipf(``zipf_a``) from ``vocab`` tokens."""
    rng = _rng(seed, "documents")
    words = np.array([f"w{i}" for i in rng.permutation(vocab)])
    lens = rng.integers(10, 60, n_docs)
    tokens = words[_zipf_ranks(rng, vocab, zipf_a, int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(tokens[end - n : end]) for n, end in zip(lens, ends)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr", "zh"], n_docs).tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events(
    seed: int,
    n_events: int,
    span_s: int,
    n_keys: int = 5,
    zipf_a: float = 0.0,
    late_share: float = 0.0,
    max_late_s: int = 120,
    salt: int = 0,
) -> pa.Table:
    """``events(event_id, ts, user_id, event_type, value, props)`` in
    arrival order: event times rise over ``span_s`` seconds, except a
    ``late_share`` of events stamped 5 s to ``max_late_s`` earlier than
    their arrival position. ``event_type`` is Zipf(``zipf_a``) over
    ``n_keys`` keys (uniform at ``zipf_a=0``), with key names permuted by
    the seed so the hot keys differ from seed to seed. A different
    ``salt`` gives an independent table from the same seed."""
    rng = _rng(seed, "events", salt)
    arrival_us = np.sort(rng.integers(0, span_s * 1_000_000, n_events))
    late = rng.random(n_events) < late_share
    arrival_us[late] -= rng.integers(5_000_000, max_late_s * 1_000_000, late.sum())
    ts_ns = (np.maximum(arrival_us, 0) + _EPOCH_2024_US) * 1000
    names = np.array([f"tag{i}" for i in rng.permutation(n_keys)])
    keys = names[_zipf_ranks(rng, n_keys, zipf_a, n_events)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
            "event_type": keys.tolist(),
            "value": np.round(rng.random(n_events) * 200.0, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )


def embeddings(seed: int, n_vecs: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """``embeddings(vec_id, embedding float[dim], label)``: points around
    ``n_labels`` random centres, so k-means cells are well separated."""
    rng = _rng(seed, "embeddings")
    centres = rng.standard_normal((n_labels, dim))
    label = rng.integers(0, n_labels, n_vecs)
    vecs = (centres[label] + 0.5 * rng.standard_normal((n_vecs, dim))).astype(
        np.float32
    )
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
