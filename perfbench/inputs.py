"""Seeded input generation for the benchmark workloads.

The TPC-H-ish tables reuse the recipe of ``tools/gen_testdata.py``
(row counts, value domains, vocabulary) with the seed taken from the
command line instead of its fixed 42. The document corpus reuses the
same 30-token vocabulary and 10..100-token length law, then plants
near-duplicates: copies of longer documents with one or two tokens
replaced, so MinHash banding, components and span removal have real
work to do.

Everything here is plain numpy/pyarrow: the program under test only
ever sees the files these functions write.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import types

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import gen_testdata  # noqa: E402

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
#: everything gen_testdata writes: the TPC-H-ish tables plus the
#: events, documents and embeddings tables the SQL views also cover
GEN_TABLES = (*TPCH_TABLES, "events", "documents", "embeddings")

#: share of the corpus that is a planted near-duplicate copy
NEAR_DUP_SHARE = 0.2
#: planted copies come only from documents at least this long, so one
#: or two replaced tokens keep the 3-shingle Jaccard above 0.8
NEAR_DUP_MIN_TOKENS = 40


class _SeededNumpy:
    """Stands in for ``numpy`` inside gen_testdata so its fixed
    ``default_rng(42)`` draws from the benchmark's seed instead."""

    def __init__(self, seed: int):
        self.random = types.SimpleNamespace(
            default_rng=lambda _fixed: np.random.default_rng(seed)
        )

    def __getattr__(self, name):
        return getattr(np, name)


def write_tpch(sf: float, seed: int, out: str) -> dict[str, int]:
    """Write the tables of ``tools/gen_testdata.py`` at scale ``sf``
    drawn from ``seed``; returns their row counts."""
    real = gen_testdata.np
    gen_testdata.np = _SeededNumpy(seed)
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            gen_testdata.generate(sf, out)
    finally:
        gen_testdata.np = real
    return {t: pq.ParquetFile(f"{out}/{t}.parquet").metadata.num_rows for t in GEN_TABLES}


def corpus_texts(n_docs: int, seed: int) -> tuple[list[str], int]:
    """``n_docs`` documents over gen_testdata's vocabulary, of which
    ``NEAR_DUP_SHARE`` are near-duplicate copies (1-2 tokens replaced)
    of longer documents, shuffled among the originals. Returns the
    texts and the number of planted copies."""
    rng = np.random.default_rng(seed)
    voc = np.array(gen_testdata.VOCAB)
    n_copies = int(n_docs * NEAR_DUP_SHARE)
    n_orig = n_docs - n_copies
    tok_counts = rng.integers(10, 101, n_orig)
    flat = rng.integers(0, len(voc), int(tok_counts.sum()))
    offs = np.concatenate([[0], np.cumsum(tok_counts)])
    docs = [list(voc[flat[offs[i] : offs[i + 1]]]) for i in range(n_orig)]
    long_ids = np.flatnonzero(tok_counts >= NEAR_DUP_MIN_TOKENS)
    # one copy per source: every planted component is a pair, so the
    # number of star-contraction rounds does not vary with the seed
    for src in rng.choice(long_ids, n_copies, replace=False):
        copy = list(docs[src])
        for pos in rng.choice(len(copy), int(rng.integers(1, 3)), replace=False):
            copy[pos] = voc[rng.integers(0, len(voc))]
        docs.append(copy)
    order = rng.permutation(n_docs)
    return [" ".join(docs[i]) for i in order], n_copies


def write_corpus(n_docs: int, seed: int, out: str) -> dict:
    """Write the ``documents`` table (doc_id, text) and return the input
    properties the pipelines' behaviour depends on."""
    texts, n_copies = corpus_texts(n_docs, seed)
    pq.write_table(
        pa.table({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}),
        out,
    )
    return {
        "documents": n_docs,
        "planted_near_dup_share": n_copies / n_docs,
        "vocabulary": len(gen_testdata.VOCAB),
        "tokens": sum(len(t.split()) for t in texts),
    }
