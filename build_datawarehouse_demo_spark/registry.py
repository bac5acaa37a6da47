"""Query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus a DuckDB oracle SQL string.

This is the driver contract surface (``__spark_entry__.py`` delegates
here) and the line-by-line answer to SURVEY.md §2's inventory: each op
key from the survey appears as a registry key.

Determinism rules (so order-insensitive value hashes match the oracle):
- money aggregates go through DECIMAL(18,2) casts on BOTH sides, so
  sums are exact integers-in-disguise and bit-identical, then cast back
  to double;
- every computed column is aliased identically in Spark and SQL;
- row_number windows always carry a total order (natural key
  tiebreaks);
- LIMIT queries order by a unique key suffix.

Layout: one ``registry_<family>.py`` module per operator family (key
prefix), plus ``registry_common`` for the driver-fixture pins and the
oracle SQL fragments several families share. A key registers when its
module is imported, through a module-level ``@register("...")`` or
``register_sql("...")``; a key may be registered only once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _claim(name: str) -> None:
    if name in _QUERIES:
        raise ValueError(f"registry key {name!r} is already registered")


def register(name: str, oracle: str | None = None):
    def deco(fn):
        _claim(name)
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def register_sql(name: str, spark_sql: str, oracle: str | None = None) -> None:
    """Layer-B query: same text semantics on Spark SQL and DuckDB
    (SURVEY.md §2 layer B — the reference delegates full SQL to DuckDB,
    we delegate to Catalyst)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        _views(spark, sf_dir)
        return spark.sql(spark_sql)

    fn.__name__ = f"sql_{name}"
    _claim(name)
    _QUERIES[name] = fn
    _ORACLES[name] = oracle if oracle is not None else spark_sql


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)


def _views(spark: SparkSession, sf_dir: str) -> None:
    from build_datawarehouse_demo_spark.sources.readers import register_star_views

    register_star_views(spark, sf_dir)


_LOADED = False


def _rotation_rank() -> dict[str, int]:
    """Map each key to the LAST round it was green in a driver
    CORRECTNESS_r*.json file (0 = never green).

    Iteration order is a driver contract: each round's correctness pass
    truncates after the first 50 keys, so keys must rotate — round 1
    missed every extension family, round 2's extensions-first reorder
    missed 17 SQL keys (VERDICT.md round 2, "What's missing" #1).
    Ordering by last-green-round ascending self-maintains: err rows
    (e.g. r2's ml_kmeans_lloyd_step canonicalizer crash) and brand-new
    keys sort to the front, last round's green keys sink to the back,
    and every key gets a driver row within two rounds of its creation.
    Keys of equal rank sort by name, so the order does not depend on
    which module registers first.
    """
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rank: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
            data = json.load(open(path))
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for key, row in data.items():
            if isinstance(row, dict) and row.get("hash_match") and row.get("err") is None:
                rank[key] = max(rank.get(key, 0), rnd)
    return rank


def _load_all() -> None:
    """Import every family module (each key registers on import, once),
    then order the registry by rotation rank (see _rotation_rank)."""
    global _LOADED, _QUERIES, _ORACLES
    if _LOADED:
        return
    from build_datawarehouse_demo_spark import (  # noqa: F401
        registry_dedup,
        registry_graph,
        registry_joins,
        registry_parity,
        registry_pipelines,
        registry_sampling,
        registry_similarity,
        registry_sql,
        registry_star,
        registry_streaming,
        registry_text,
    )

    rank = _rotation_rank()
    ordered = sorted(_QUERIES, key=lambda k: (rank.get(k, 0), k))
    _QUERIES = {k: _QUERIES[k] for k in ordered}
    _ORACLES = {k: _ORACLES[k] for k in ordered if k in _ORACLES}
    _LOADED = True
