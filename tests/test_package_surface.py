"""Package surface: one kernel per operator, one parquet writer.

Every operator ships exactly one implementation; the JVM expression
chains the fused kernels are pinned against live in
tests/jvm_reference.py, not behind a user-facing switch. Every parquet
write goes through `sources.writers.parquet_writer`, the one place the
on-disk layout is set.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import pkgutil

import build_datawarehouse_demo_spark as pkg


def _package_modules():
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        yield importlib.import_module(info.name)


def _package_functions():
    for mod in _package_modules():
        for name, obj in inspect.getmembers(mod):
            if getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                yield f"{mod.__name__}.{name}", obj
            elif inspect.isclass(obj):
                for meth, fn in inspect.getmembers(obj, inspect.isfunction):
                    yield f"{mod.__name__}.{name}.{meth}", fn


def test_no_function_takes_a_kernel_switch():
    offenders = [
        name
        for name, fn in _package_functions()
        if "kernel" in inspect.signature(fn).parameters
    ]
    assert offenders == []


def test_no_optimizer_barrier_left():
    """The barrier filter existed only to pin the JVM feature chains."""
    root = os.path.dirname(pkg.__file__)
    hits = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                src = open(os.path.join(dirpath, f)).read()
                hits += [f for marker in ("_barrier_keep", "__barrier") if marker in src]
    assert hits == []


#: package subtrees whose writes must go through the writer seam
_SEAM_SCOPE = ("operators", "plans", "sources", "streaming")
_SEAM = os.path.join("sources", "writers.py")


def _receivers(node):
    """The attribute names along a call chain, innermost last:
    ``df.write.mode("x").parquet(p)`` -> parquet, mode, write."""
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            yield node.attr
            node = node.value
        else:
            return


def _direct_parquet_writes(src: str) -> list[int]:
    """Line numbers where ``src`` builds a parquet writer directly: a
    ``.saveAsTable(``, or a ``.parquet(`` / ``.format("parquet")`` on a
    ``.write`` chain."""
    hits = []
    for node in ast.walk(ast.parse(src)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        attr = node.func.attr
        on_write = "write" in _receivers(node.func.value)
        is_parquet_format = attr == "format" and any(
            isinstance(a, ast.Constant) and a.value == "parquet" for a in node.args
        )
        if attr == "saveAsTable" or (on_write and (attr == "parquet" or is_parquet_format)):
            hits.append(node.lineno)
    return sorted(hits)


def test_seam_detector_flags_direct_writers():
    src = "\n".join(
        [
            "df.write.mode('overwrite').parquet(p)",
            "(df.write\n .format('parquet')\n .save(p))",
            "w.saveAsTable(t)",
            "spark.read.parquet(p)",
            "parquet_writer(df).mode('append').save(p)",
            "df.write.json(p)",
        ]
    )
    assert _direct_parquet_writes(src) == [1, 2, 5]


def test_parquet_writes_go_through_the_writer_seam():
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for sub in _SEAM_SCOPE:
        for dirpath, _, files in os.walk(os.path.join(root, sub)):
            for f in files:
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, root)
                if not f.endswith(".py") or rel == _SEAM:
                    continue
                with open(path) as fh:
                    offenders += [f"{rel}:{n}" for n in _direct_parquet_writes(fh.read())]
    assert offenders == []
