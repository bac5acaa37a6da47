"""Package surface: one kernel per operator.

Every operator ships exactly one implementation; the JVM expression
chains the fused kernels are pinned against live in
tests/jvm_reference.py, not behind a user-facing switch.
"""

from __future__ import annotations

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
