"""Registry hygiene. Each key registers once, at import of its family
module; a second registration of a key raises instead of silently
shadowing the first (round 7 hit exactly that when the dict was
last-wins: a near-duplicate session-window entry replaced the original
and was caught only by comparing decorator-name counts to registry
size). The decorator-name audit below stays as a second check.
"""

from __future__ import annotations

import collections
import glob
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "build_datawarehouse_demo_spark")


def _decorator_names() -> list[str]:
    names: list[str] = []
    for p in glob.glob(os.path.join(PKG, "registry_*.py")):
        src = open(p).read()
        names += re.findall(r'@register\(\s*\n?\s*"([a-z0-9_]+)"', src)
        names += re.findall(r'register_sql\(\s*\n?\s*"([a-z0-9_]+)"', src)
    return names


def test_no_duplicate_registry_names():
    names = _decorator_names()
    dups = [k for k, c in collections.Counter(names).items() if c > 1]
    assert not dups, (
        f"duplicate registry keys {dups}: the registry dict is last-wins, "
        "so one of each pair is silently shadowed — rename or remove"
    )


def test_registry_size_matches_registrations(spark):
    from build_datawarehouse_demo_spark import registry

    names = _decorator_names()
    q = registry.queries()
    assert len(q) == len(names), (
        f"{len(names)} registrations but {len(q)} registry keys — a "
        "collision or a registration function not wired into _load_all"
    )
    assert set(q) == set(names)


def test_every_query_has_an_oracle(spark):
    """Every entry is oracle-checked; genuinely non-SQL-expressible
    ops would go on an explicit allowlist here (currently empty — the
    full surface is hash-checked)."""
    from build_datawarehouse_demo_spark import registry

    rows_only_allowlist: set[str] = set()
    missing = set(registry.queries()) - set(registry.oracle_sql()) - rows_only_allowlist
    assert not missing, f"entries without an oracle: {sorted(missing)}"


def test_register_rejects_duplicate_key():
    from build_datawarehouse_demo_spark import registry

    registry.queries()
    probe = "zz_registry_hygiene_probe"

    def q(spark, sf_dir):
        return None

    try:
        registry.register(probe, oracle="SELECT 1")(q)
        with pytest.raises(ValueError, match=probe):
            registry.register(probe, oracle="SELECT 2")(q)
        with pytest.raises(ValueError, match=probe):
            registry.register_sql(probe, "SELECT 3")
        assert registry.oracle_sql()[probe] == "SELECT 1"
    finally:
        registry._QUERIES.pop(probe, None)
        registry._ORACLES.pop(probe, None)
    assert probe not in registry.queries()
    assert probe not in registry.oracle_sql()


def test_order_is_rotation_rank_then_key():
    """The driver truncates each run at 50 keys, so the order is a
    contract: last-green round ascending, ties by key name (not by
    which module happened to register first)."""
    from build_datawarehouse_demo_spark import registry

    rank = registry._rotation_rank()
    keys = list(registry.queries())
    assert keys == sorted(keys, key=lambda k: (rank.get(k, 0), k))
    assert list(registry.oracle_sql()) == keys


def test_family_layout():
    """Round-named files are only the re-export shims perfbench imports;
    no registry module imports a private name from another registry
    module except the shared registry_common."""
    import ast

    shims = {
        "registry_round7.py": {"_STAR_ORACLE", "_summarize_warehouse", "_yelp_fixture_from_driver_tables"},
        "registry_round9.py": {"neardup_full_chain_sql"},
    }
    rounds = {os.path.basename(p) for p in glob.glob(os.path.join(PKG, "registry_round*.py"))}
    assert rounds == set(shims)
    for p in glob.glob(os.path.join(PKG, "registry_*.py")):
        name = os.path.basename(p)
        tree = ast.parse(open(p).read())
        if name in shims:
            assert all(isinstance(n, ast.ImportFrom) for n in tree.body), name
            assert {a.name for n in tree.body for a in n.names} == shims[name]
            continue
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.ImportFrom)
                and (n.module or "").startswith("build_datawarehouse_demo_spark.registry_")
                and n.module != "build_datawarehouse_demo_spark.registry_common"
            ):
                private = [a.name for a in n.names if a.name.startswith("_")]
                assert not private, (name, n.module, private)
