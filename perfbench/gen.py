"""Seeded input generator.

Every table is drawn from ``numpy.random.default_rng([seed, table_no])``, so
one seed always yields the same bytes and the tables of one seed are
independent of each other. Schemas, value distributions and duplicate
structure follow the engine's sf0.1 fixture tables (``documents``,
``embeddings``, ``events``), measured once and recorded in
``perfbench/RECORD.json`` under ``fixture_sf0.1``; only row and key counts
are set per workload, for the time a run may take. The registry builders
and their DuckDB oracles run on the output unchanged.
"""
from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 31 words of the sf0.1 documents, each about equally frequent
VOCAB = np.array(
    (
        "a agg batch big column customer data dup fast filter group hash join "
        "key line merge order part query row scan slow small sort spark stream "
        "table the value vector window"
    ).split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_SHARES = np.array([0.412, 0.150, 0.149, 0.148, 0.141])  # sf0.1 documents
#: near-copies per document in sf0.1: 238 of 5,000 documents are one-word
#: edits of another (217 pairs, 9 triples and 1 quadruple under the
#: registry's MinHash check at Jaccard >= 0.5)
DOC_COPY_RATE = 238 / 5000
#: sf0.1 events: rows per user (mean of 1,500 users) and mean value
EVENT_ROWS_PER_KEY = 67
EVENT_VALUE_MEAN = 50.0
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
_DAY_US = 86_400_000_000
_STREAM_MTIME0 = 1_704_067_200  # file mtimes of the stream backlog, epoch s


@dataclass(frozen=True)
class Shape:
    """Input shape of one workload; recorded next to its results."""

    documents: int = 0
    doc_copy_rate: float = 0.0
    embeddings: int = 0
    stream_keys: int = 0
    stream_rows_per_key: int = 0
    stream_files: int = 0

    def record(self) -> dict:
        return {k: v for k, v in asdict(self).items() if v}


def _rng(seed: int, table_no: int) -> np.random.Generator:
    return np.random.default_rng([seed, table_no])


def _ts_us(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.timestamp("us"))


def documents(n: int, copy_rate: float, seed: int) -> pa.Table:
    """Documents of 10 to 100 words drawn uniformly from ``VOCAB``, as in
    sf0.1. ``copy_rate * n`` of them are near-copies of an original with one
    word appended or the last dropped, the edit sf0.1's near-duplicate
    pairs show. As in sf0.1, about 1 copy in 22 joins a cluster that
    already has a copy (sf0.1: 238 copies in 227 clusters); the cluster
    sizes are fixed by ``n``, only the documents are drawn from the seed.
    Unrelated documents share almost no word 3-grams."""
    r = _rng(seed, 3)
    n_copy = int(round(n * copy_rate))
    n_orig = n - n_copy
    n_joined = int(round(n_copy * 11 / 238))
    if n_copy - n_joined > n_orig:
        raise ValueError("copy_rate too high: too few originals")
    words: list[np.ndarray] = [
        VOCAB[r.integers(0, len(VOCAB), r.integers(10, 101))] for _ in range(n_orig)
    ]
    sources = r.choice(n_orig, n_copy - n_joined, replace=False)
    sources = np.concatenate([sources, sources[: n_joined]])
    for src in sources:
        w = words[src]
        if (r.random() < 0.5 and len(w) < 100) or len(w) <= 10:
            w = np.append(w, VOCAB[r.integers(0, len(VOCAB))])
        else:
            w = w[:-1]
        words.append(w)
    text = [" ".join(words[i]) for i in r.permutation(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(LANGS[r.choice(len(LANGS), n, p=LANG_SHARES)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )


def embeddings(n: int, seed: int, dim: int = 64) -> pa.Table:
    """Unit-norm isotropic Gaussian vectors, as in sf0.1: no near-copies;
    pairwise cosine ~ N(0, 1/dim), so only chance pairs pass the registry's
    0.4 threshold (sf0.1: 920 of 2,000 * 1,999 / 2 pairs)."""
    r = _rng(seed, 4)
    vecs = r.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n).astype(np.int32)),
        }
    )


def stream_feed(keys: int, rows_per_key: int, files: int, seed: int) -> list[pa.Table]:
    """A time-ordered event backlog over 30 days, split into ``files``
    consecutive slices. Like sf0.1 ``events``: keys drawn uniformly, values
    exponential with mean 50 rounded to cents, every timestamp distinct (so
    per-key order is total)."""
    r = _rng(seed, 5)
    n = keys * rows_per_key
    gaps = r.exponential(30 * _DAY_US / n, n).astype(np.int64) + 1
    ts = _T0_US + np.cumsum(gaps)
    entity = r.integers(0, keys, n).astype(np.int64)
    value = np.round(r.exponential(EVENT_VALUE_MEAN, n), 2)
    bounds = np.linspace(0, n, files + 1).astype(int)
    return [
        pa.table(
            {
                "entity": pa.array(entity[a:b]),
                "ts": _ts_us(ts[a:b]),
                "value": pa.array(value[a:b]),
            }
        )
        for a, b in zip(bounds[:-1], bounds[1:])
    ]


def write_inputs(out_dir: str, shape: Shape, seed: int) -> dict[str, int]:
    """Write every table ``shape`` asks for under ``out_dir`` (parquet, one
    file per table; the stream backlog as ``stream/part-NNNN.parquet``) and
    return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    tables = {}
    if shape.documents:
        tables["documents"] = documents(shape.documents, shape.doc_copy_rate, seed)
    if shape.embeddings:
        tables["embeddings"] = embeddings(shape.embeddings, seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    if shape.stream_files:
        sdir = os.path.join(out_dir, "stream")
        os.makedirs(sdir, exist_ok=True)
        feed = stream_feed(shape.stream_keys, shape.stream_rows_per_key, shape.stream_files, seed)
        for i, t in enumerate(feed):
            path = os.path.join(sdir, f"part-{i:04d}.parquet")
            pq.write_table(t, path)
            # the file source takes files in modification-time order: land
            # the backlog one second apart, oldest slice first
            os.utime(path, (_STREAM_MTIME0 + i, _STREAM_MTIME0 + i))
        rows["stream"] = sum(t.num_rows for t in feed)
    return rows
