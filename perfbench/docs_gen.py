"""Deterministic ``documents`` table generator for the corpus workload.

Mirrors the shape of the engine's star-schema ``documents`` fixture
(FIXTURES.md section A): ``doc_id:int64, text:string, lang:string,
source:string, n_chars:int64``. Texts are 10-100 words drawn from a
30-word vocabulary; about 5% of documents are near duplicates of an
earlier one (its text plus the word ``dup``) and about 0.2% are exact
copies, which is what the dedup operators key on. The same seed and size
always give the same table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002


def generate(path: str, seed: int, n_docs: int) -> int:
    """Write ``n_docs`` documents to the parquet file ``path``; return the
    row count."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if i > 0 and kind[i] < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i > 0 and kind[i] < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(i))])
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(len(vocab), size=n_words)]))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path)
    return n_docs
