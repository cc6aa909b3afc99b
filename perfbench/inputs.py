"""Seeded input generator: the events, documents and embeddings tables the
catalog reads, written as parquet with the same schemas as the engine's
testdata tables.

Everything derives from the seed: the ``event_id``/``doc_id``/``vec_id``
shifts (bar features are hashes of ``event_id``, so each seed gives a
different bar population of the same size), timestamps, symbols, document
texts, the corpus duplicate layout (which documents are verbatim tiled
copies, which are near-duplicates) and the embedding clusters.  The same
seed and sizes give byte-identical files.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the testdata corpus vocabulary (30 words); near-duplicates end in "dup"
VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark column agg value line group query a vector slow "
    "filter data big customer row"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
EMB_DIM = 64
N_LABELS = 10
#: 2024-01-01T00:00:00Z in microseconds; events span 30 days
T0_US = 1_704_067_200_000_000
SPAN_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class Sizes:
    events: int
    symbols: int
    docs: int
    vecs: int
    #: share of documents that are verbatim copies of another document
    dup_share: float


#: the oracle-check fixture: the testdata sf0.001 table sizes
FIXTURE = Sizes(events=1000, symbols=5, docs=500, vecs=500, dup_share=0.1)


def id_shift(seed: int) -> int:
    """Id offset for ``seed``; 10**6 ≡ 17 (mod 999983), so every seed below
    ~58K moves the bar-feature hashes to a different residue."""
    return 1 + seed * 1_000_000


def _symbols(n: int) -> list[str]:
    if n <= len(EVENT_TYPES):
        return list(EVENT_TYPES[:n])
    return [f"{EVENT_TYPES[i % 5]}{i // 5}" for i in range(n)]


def events_table(rng: np.random.Generator, n: int, n_symbols: int, shift: int) -> pa.Table:
    ts = np.sort(T0_US + rng.integers(0, SPAN_US, n))
    syms = np.array(_symbols(n_symbols), dtype=object)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64) + shift),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), type=pa.int64()),
            "event_type": pa.array(syms[rng.integers(0, n_symbols, n)].tolist(), type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int, dup_share: float, shift: int) -> pa.Table:
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    n_dup = int(round(n * dup_share))
    # the seed picks which slots hold verbatim copies (never slot 0)
    dup_slots = set(rng.choice(np.arange(1, n), size=min(n_dup, n - 1), replace=False).tolist())
    for i in range(n):
        if i in dup_slots:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 96)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64) + shift),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, shift: int) -> pa.Table:
    centers = rng.standard_normal((N_LABELS, EMB_DIM))
    label = rng.integers(0, N_LABELS, n)
    x = centers[label] * 0.3 + rng.standard_normal((n, EMB_DIM))
    # ~2% near-copies of an earlier vector, so the near-dup methods find pairs
    for i in np.flatnonzero(rng.random(n) < 0.02):
        if i > 0:
            x[i] = x[int(rng.integers(0, i))] + rng.standard_normal(EMB_DIM) * 1e-3
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64) + shift),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(label, type=pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, sizes: Sizes) -> dict:
    """Write ``events``/``documents``/``embeddings`` parquet files for
    ``seed`` into ``out_dir`` and return their description: sizes, row
    counts, symbol count and a sha256 digest over the file bytes."""
    os.makedirs(out_dir, exist_ok=True)
    shift = id_shift(seed)
    tables = {
        "events": events_table(np.random.default_rng([seed, 1]), sizes.events, sizes.symbols, shift),
        "documents": documents_table(np.random.default_rng([seed, 2]), sizes.docs, sizes.dup_share, shift),
        "embeddings": embeddings_table(np.random.default_rng([seed, 3]), sizes.vecs, shift),
    }
    digest = hashlib.sha256()
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as fh:
            digest.update(fh.read())
    info = {
        "seed": seed,
        "sizes": asdict(sizes),
        "rows": {name: t.num_rows for name, t in tables.items()},
        "symbols": len(set(tables["events"].column("event_type").to_pylist())),
        "digest": digest.hexdigest(),
    }
    with open(os.path.join(out_dir, "inputs.json"), "w") as fh:
        json.dump(info, fh, sort_keys=True)
    return info
