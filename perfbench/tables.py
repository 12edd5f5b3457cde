"""Seeded generator for the tables the analytic workload reads.

Same file layout, column names and types as the engine's sf-scaled test
tables (``<dir>/<name>.parquet``, one file each): ``events``,
``documents`` and ``embeddings``, with row counts proportional to the
scale factor (``events`` = 10^6 × sf, ``documents`` = ``embeddings`` =
5·10^4 × sf, users = 1.5·10^4 × sf).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_JAN_2024_US = 1_704_067_200 * 1_000_000
_MONTH_US = 30 * 86_400 * 1_000_000


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the three tables under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 2)
    n_docs = int(50_000 * sf)

    ts = np.sort(rng.integers(0, _MONTH_US, n_ev)) + _JAN_2024_US
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.gamma(2.0, 10.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(n))])
        for n in rng.integers(8, 100, n_docs)
    ]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    vecs = rng.normal(0.0, 0.125, (n_docs, 64)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs, dtype=np.int32)),
    })

    tables = {"events": events, "documents": documents, "embeddings": embeddings}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
