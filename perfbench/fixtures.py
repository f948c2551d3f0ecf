"""The ``documents`` fixture table for the ``iterative`` workload.

Writes ``documents.parquet`` with the column names and types of the
repository's synthetic fixture (FIXTURES.md §4), so registry queries and
their DuckDB oracles run on it unchanged. Every value comes from a ``numpy``
generator seeded once, so the same ``(rows, seed)`` gives the same table.

Texts draw 8-79 words from the fixture's 30-word vocabulary. Unlike the
fixture, every ``DUP_EVERY``-th document copies an earlier text, so the dedup
operators find real clusters.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_EVERY = 20


def make_documents(rows: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(rows):
        if i % DUP_EVERY == DUP_EVERY - 1:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(DOC_WORDS), int(rng.integers(8, 80)))
            texts.append(" ".join(DOC_WORDS[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(rows), pa.int64()),
        "text": texts,
        "lang": ["en"] * rows,
        "source": [f"src{s}" for s in rng.integers(0, 20, rows)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(out_dir: Path, rows: int, seed: int) -> int:
    """Write ``<out_dir>/documents.parquet``; return its row count."""
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(make_documents(rows, seed), out_dir / "documents.parquet")
    return rows
