"""Output checks, run outside the timed region.

Frames are compared as (row count, column names, order-insensitive
value hash) with ``_hash_frame`` from ``tools/check_oracle.py``, the
same fingerprint the repository's oracle sweep uses. Each check
returns a list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import re
import sys

import duckdb
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_oracle import _dtype_mismatches, _hash_frame  # noqa: E402


def duckdb_over(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet file or directory."""
    con = duckdb.connect()
    for name, path in tables.items():
        src = f"{path}/**/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def compare(name: str, got, want) -> list[str]:
    """``got`` and ``want`` are pandas frames."""
    (n1, c1, h1), (n2, c2, h2) = _hash_frame(got), _hash_frame(want)
    if n1 != n2:
        return [f"{name}: {n1} rows, oracle {n2}"]
    if c1 != c2:
        return [f"{name}: columns {c1}, oracle {c2}"]
    if h1 != h2:
        return [f"{name}: value hash differs from the oracle ({n1} rows)"]
    bad = _dtype_mismatches(got, want)
    return [f"{name}: column kinds differ {bad}"] if bad else []


def read_parquet_dir(path: str):
    return pq.read_table(path).to_pandas()


def parquet_stats(path: str) -> tuple[int, int]:
    """(file count, bytes) of the parquet files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def fingerprint(pdf) -> str:
    n, cols, h = _hash_frame(pdf)
    return f"{n}:{','.join(cols)}:{h}"


# -- RAG search: recompute the reported values from the raw text -------


def _hash32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def chunk_vectors(
    docs, chunk_size: int = 32, overlap: int = 8, dim: int = 16, stride: int = 1000
) -> dict[int, list[float]]:
    """Python twin of ``plans.rag_index.hash_embed_chunks``: sliding
    whitespace-token windows, each a ``dim``-bucket count of
    md5-hashed tokens, keyed ``doc_id * stride + chunk_no``."""
    step = chunk_size - overlap
    vecs: dict[int, list[float]] = {}
    for doc_id, text in docs:
        toks = [t for t in re.split(r"\s+", text.strip()) if t] if text else []
        for no, start in enumerate(range(0, len(toks), step)):
            v = [0.0] * dim
            for t in toks[start : start + chunk_size]:
                v[_hash32(f"0:{t}") % dim] += 1.0
            vecs[doc_id * stride + no] = v
    return vecs


def _cosine(a, b) -> float | None:
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    if na == 0 or nb == 0:
        return None
    return sum(x * y for x, y in zip(a, b)) / (na * nb)


def check_rag_hits(hits, vecs: dict[int, list[float]], n_probes: int, k: int) -> list[str]:
    """Every hit names a real chunk other than its probe, carries the
    true cosine (to the 6 decimals the search rounds to), and each
    probe's hits are ranked 1..k by cosine descending. The search ranks
    by the unrounded cosine, so hits whose rounded cosines tie may come
    in either vec_id order. Which chunks are reachable depends on the
    trained IVF lists, which this check does not re-derive."""
    problems = []
    if len(hits) != n_probes * k:
        problems.append(f"rag: {len(hits)} hits, expected {n_probes} probes x {k}")
    for probe, grp in hits.groupby("probe_id"):
        grp = grp.sort_values("rank")
        if list(grp["rank"]) != list(range(1, len(grp) + 1)):
            problems.append(f"rag: probe {probe} ranks {list(grp['rank'])}")
        if list(grp["cosine"]) != sorted(grp["cosine"], reverse=True):
            problems.append(f"rag: probe {probe} hits not in cosine order")
        for vec_id, cos in zip(grp["vec_id"], grp["cosine"]):
            if vec_id == probe or vec_id not in vecs or probe not in vecs:
                problems.append(f"rag: probe {probe} hit {vec_id} is not a valid chunk")
                continue
            want = _cosine(vecs[probe], vecs[vec_id])
            if want is None or abs(round(want, 6) - cos) > 1e-6:
                problems.append(f"rag: probe {probe} hit {vec_id} cosine {cos}, true {want}")
    return problems
