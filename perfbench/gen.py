"""Seeded input generator: writes the parquet tables the benchmarked
queries read, in the shape of the sf0.1 test data.

The same seed gives byte-identical tables.  Nothing here touches Spark:
inputs are built with numpy and written with pyarrow, so the program
under test only ever sees finished files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the sf0.1 vocabulary: 30 common words plus the "dup" marker token
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = np.array(["en", "zh", "fr", "es", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
N_NATIONS = 25
EMB_DIM = 64


def _docs(rng: np.random.Generator, n_docs: int, id_offset: int) -> pa.Table:
    n_tok = rng.integers(10, 101, n_docs)
    words = VOCAB[rng.integers(0, len(VOCAB), int(n_tok.sum()))]
    bounds = np.concatenate(([0], np.cumsum(n_tok)))
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    # ~5% of docs end in the "dup" marker; ~0.2% copy an earlier doc
    # verbatim, so exact dedup has positives as in sf0.1
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] += " dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.002):
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(id_offset + np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
            "source": pa.array(
                [f"src{s}" for s in rng.integers(0, N_SOURCES, n_docs)]
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _lineitem(rng: np.random.Generator, n_orders: int) -> pa.Table:
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    orderkey = np.repeat(1 + 4 * np.arange(n_orders), lines)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
            # integer-valued doubles, as in TPC-H: window sums stay exact
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        }
    )


def _nation() -> pa.Table:
    keys = np.arange(N_NATIONS)
    return pa.table(
        {
            "n_nationkey": pa.array(keys, pa.int64()),
            "n_name": pa.array([f"NATION_{k}" for k in keys]),
            "n_regionkey": pa.array(keys % 5, pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    v = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel(), pa.float32()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )


def doc_id_offset(seed: int) -> int:
    """Per-seed doc-id shift: point and triangle coordinates are derived
    from doc ids, so they move with the seed."""
    return (seed * 7919) % 1_000_000


def generate(
    out_dir: str, seed: int, n_docs: int, n_orders: int = 0, n_vecs: int = 0
) -> dict[str, int]:
    """Write documents (and lineitem/embeddings when asked, plus nation)
    under ``out_dir``; returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _docs(rng, n_docs, doc_id_offset(seed)),
        "nation": _nation(),
    }
    if n_orders:
        tables["lineitem"] = _lineitem(rng, n_orders)
    if n_vecs:
        tables["embeddings"] = _embeddings(rng, n_vecs)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
