"""Package surface: one kernel per operator, one parquet writer, one
fold lifecycle.

Every operator ships exactly one implementation; the JVM expression
chains the fused kernels are pinned against live in
tests/jvm_reference.py, not behind a user-facing switch. Every parquet
write goes through `sources.writers.parquet_writer`, the one place the
on-disk layout is set. The incremental corpus pipelines record their
build parameters once, in the state, and share one keep-policy check,
one apply epilogue and one streaming state sink; no fold-side function
takes a build knob.
The MinHash near-dup pair pieces (Jaccard verify, rep -> member
re-expansion) are written once, in operators/dedup.py, and each corpus
pipeline has one build chain, shared by its one-shot build, its state
builder and its banding migration. Every eager materialization outside
session.py goes through one seam (session.materialize), and nothing
there reads the session-wide persistent-RDD set. Every public package
function has a caller outside tests/. Every package import in the
repo's scripts resolves.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import os
import pkgutil
import re

import pytest

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


#: the one module allowed to checkpoint and read the persistent-RDD set
#: itself; every other package module goes through session.materialize
_STAGE_SEAM = "session.py"


def _bypasses_stage_seam(src: str) -> list[int]:
    """Line numbers where ``src`` calls ``.localCheckpoint(`` itself or
    reads the session-wide persistent-RDD set (``getPersistentRDDs``)."""
    return sorted(
        n.lineno
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Attribute) and n.attr in ("localCheckpoint", "getPersistentRDDs")
    )


def test_stage_seam_detector_flags_bypasses():
    src = "\n".join(
        [
            "df.localCheckpoint()",
            "x = (df.select('a')\n .localCheckpoint(eager=True))",
            "ids = sc._jsc.sc().getPersistentRDDs().toList()",
            "materialize(df)",
            "df.checkpoint()",
            "'localCheckpoint() in a string'",
        ]
    )
    assert _bypasses_stage_seam(src) == [1, 2, 4]


def test_stage_boundaries_go_through_the_materialize_seam():
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for path in _py_files(root):
        rel = os.path.relpath(path, root)
        if rel != _STAGE_SEAM:
            with open(path) as fh:
                offenders += [f"{rel}:{n}" for n in _bypasses_stage_seam(fh.read())]
    assert offenders == []


#: package subtrees that hold the incremental fold lifecycle
_LIFECYCLE_SCOPE = ("plans", "streaming")
#: lifecycle steps both corpus pipelines share: each literal may appear
#: in exactly one function
_WRITTEN_ONCE = ("rank_col must be", "without a seeded n_survivors")
_STATE_SINKS = ("stream_clean_filter_state_append", "stream_training_data_state_append")


def _top_level_functions(src: str) -> dict:
    """name -> def node for each module-level function; a nested def
    counts as part of the function that encloses it."""
    return {
        node.name: node
        for node in ast.parse(src).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def _contains_literal(fn, text: str) -> bool:
    return any(
        isinstance(n, ast.Constant) and isinstance(n.value, str) and text in n.value
        for n in ast.walk(fn)
    )


def _calls_attr(fn, attr: str) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == attr
        for n in ast.walk(fn)
    )


def _functions_under(scope):
    """(relative module path, name, def node) for every top-level
    function in ``scope``: package subtrees or single module files."""
    root = os.path.dirname(pkg.__file__)
    for sub in scope:
        top = os.path.join(root, sub)
        paths = [top] if os.path.isfile(top) else [
            os.path.join(dirpath, f)
            for dirpath, _, files in os.walk(top)
            for f in sorted(files)
            if f.endswith(".py")
        ]
        for path in paths:
            with open(path) as fh:
                fns = _top_level_functions(fh.read())
            for name, fn in fns.items():
                yield os.path.relpath(path, root), name, fn


def test_written_once_detector_sees_fstrings_and_nested_defs():
    src = "\n".join(
        [
            "def a():",
            "    raise ValueError(f'rank_col must be one of {x}')",
            "def b():",
            "    def inner():",
            "        log.warning('x without a seeded n_survivors y')",
            "def c():",
            "    return 'unrelated'",
        ]
    )
    fns = _top_level_functions(src)
    assert sorted(fns) == ["a", "b", "c"]
    assert [n for n, fn in fns.items() if _contains_literal(fn, _WRITTEN_ONCE[0])] == ["a"]
    assert [n for n, fn in fns.items() if _contains_literal(fn, _WRITTEN_ONCE[1])] == ["b"]


@pytest.mark.parametrize("literal", _WRITTEN_ONCE)
def test_fold_lifecycle_step_written_once(literal):
    owners = [
        f"{rel}:{name}"
        for rel, name, fn in _functions_under(_LIFECYCLE_SCOPE)
        if _contains_literal(fn, literal)
    ]
    assert len(owners) == 1, owners


#: module -> the functions that fold into, migrate, compact or stream an
#: incremental state; every pipeline knob reaches them through the
#: state's ``params``
_FOLD_SIDE = {
    "plans/training_data.py": (
        "training_data_neardup_apply",
        "clean_filter_dedup_apply",
        "migrate_training_data_neardup_banding",
        "migrate_clean_filter_banding",
        "_banding_moves",
        "_migrated",
        "_apply_rep_candidates",
        "_refresh_spans",
        "_finish_fold",
        "compact_state",
    ),
    "streaming/sinks.py": ("_stream_state_append", *_STATE_SINKS),
}
_STATE_BUILDERS = ("training_data_neardup_state", "clean_filter_dedup_state")


def _arg_names(fn) -> set:
    a = fn.args
    return {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}


def test_fold_side_functions_take_no_build_knob():
    """The knobs a state is built with (every state-builder keyword but
    the input frame and its count: id/text columns, front filters,
    shingle size, Jaccard threshold, span, split and keep policy) are
    recorded in the state; no function that folds, migrates, compacts
    or streams it takes one again, or an open ``**knobs``."""
    fns = {
        (rel, name): fn
        for rel, name, fn in _functions_under(tuple(_FOLD_SIDE))
    }
    knobs = set().union(
        *(_arg_names(fns["plans/training_data.py", b]) for b in _STATE_BUILDERS)
    ) - {"df", "corpus_n"}
    assert {"id_col", "text_col", "shingle_k", "jaccard_threshold", "span_window",
            "val_frac", "rank_col", "soft_weights", "min_words"} <= knobs
    taken = {
        f"{rel}:{name}": sorted(_arg_names(fns[rel, name]) & knobs)
        + (["**" + fns[rel, name].args.kwarg.arg] if fns[rel, name].args.kwarg else [])
        for rel, names in _FOLD_SIDE.items()
        for name in names
    }
    assert {k: v for k, v in taken.items() if v} == {}


#: the MinHash near-dup pair algorithm and its callers; the member
#: re-expansion scan leaves out operators/similarity.py, whose cosine
#: re-expansion is a different algorithm
_PAIR_SCOPE = ("operators", "plans")
_EXPANSION_SCOPE = ("operators/dedup.py", "plans/training_data.py")


def _call_sites(scope, match):
    """``module:function`` once per call node in ``scope`` for which
    ``match(call)`` holds."""
    return [
        f"{rel}:{name}"
        for rel, name, fn in _functions_under(scope)
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and match(n)
    ]


def _call_named(call, name: str) -> bool:
    f = call.func
    return (isinstance(f, ast.Attribute) and f.attr == name) or (
        isinstance(f, ast.Name) and f.id == name
    )


def _mentions(node, *texts: str) -> bool:
    found = {n.value for n in ast.walk(node) if isinstance(n, ast.Constant)}
    return all(t in found for t in texts)


def test_minhash_pair_pieces_written_once():
    """One shingle-array Jaccard verify, one rep -> member re-expansion,
    and no signature-level collapse switch on the candidate stage."""
    from build_datawarehouse_demo_spark.operators.dedup import lsh_candidate_pairs

    verify = _call_sites(
        _PAIR_SCOPE,
        lambda c: _call_named(c, "array_intersect") and _mentions(c, "__sa", "__sb"),
    )
    assert verify == ["operators/dedup.py:jaccard_verify_pairs"], verify
    expansion = _call_sites(
        _EXPANSION_SCOPE,
        lambda c: _call_named(c, "alias")
        and any(isinstance(a, ast.Constant) and a.value == "__ia" for a in c.args),
    )
    assert expansion == ["operators/dedup.py:expand_rep_pairs"], expansion
    assert "collapse" not in inspect.signature(lsh_candidate_pairs).parameters


#: (one-shot build, state builder, banding migration) of each corpus pipeline
_PIPELINE_ENTRIES = (
    (
        "prepare_training_data_neardup",
        "training_data_neardup_state",
        "migrate_training_data_neardup_banding",
    ),
    ("prepare_clean_filter_dedup", "clean_filter_dedup_state", "migrate_clean_filter_banding"),
)


def _called_names(fn) -> set:
    return {
        n.func.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }


def test_one_build_chain_per_corpus_pipeline():
    """Each corpus pipeline's one-shot build calls no operators/dedup.py
    function itself; it, its state builder and its banding migration
    all run the one private body, which reaches the digest grouping and
    the components step. Outside that body the migration runs no dedup
    operator but the banding rule (minhash_auto_params), so no second,
    migration-only pair chain is left. Nothing in
    plans/training_data.py runs the stand-alone pair or span-removal
    operators, and minhash_dedup_pairs has no collapse switch."""
    from build_datawarehouse_demo_spark.operators import dedup
    from build_datawarehouse_demo_spark.plans import training_data

    fns = _top_level_functions(inspect.getsource(training_data))
    calls = {name: _called_names(fn) for name, fn in fns.items()}
    assert not set().union(*calls.values()) & {"minhash_dedup_pairs", "remove_duplicate_spans"}
    assert not {"_rebanded_collapse_frames", "_collapsed_pair_state"} & set(fns)

    def reached(name: str, seen: set) -> set:
        """Every name ``name`` calls, directly or through the module's
        functions outside ``seen``."""
        seen.add(name)
        out = set(calls[name])
        for c in calls[name] & set(fns) - seen:
            out |= reached(c, seen)
        return out

    dedup_fns = {
        name
        for name, obj in inspect.getmembers(dedup, inspect.isfunction)
        if obj.__module__ == dedup.__name__
    }
    for one_shot, builder, migration in _PIPELINE_ENTRIES:
        fn = fns[one_shot]
        assert not calls[one_shot] & dedup_fns, one_shot
        assert not any(
            isinstance(n, ast.ImportFrom) and (n.module or "").endswith("operators.dedup")
            for n in ast.walk(fn)
        ), one_shot
        (body,) = calls[one_shot] & calls[builder] & calls[migration] & set(fns)
        assert {"shingle_digest_groups", "connected_components_star"} <= reached(body, set())
        own = reached(migration, {body}) & dedup_fns
        assert own <= {"minhash_auto_params"}, (migration, own)
    assert "collapse" not in inspect.signature(dedup.minhash_dedup_pairs).parameters


def test_state_sinks_share_one_foreach_batch():
    """Both incremental-state sinks reach ``.foreachBatch(`` through the
    same single function; neither writes its own."""
    from build_datawarehouse_demo_spark.streaming import sinks

    fns = _top_level_functions(inspect.getsource(sinks))
    owners = set()
    for sink in _STATE_SINKS:
        assert not _calls_attr(fns[sink], "foreachBatch"), sink
        callees = {
            n.func.id
            for n in ast.walk(fns[sink])
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id in fns
        }
        owners |= {c for c in callees if _calls_attr(fns[c], "foreachBatch")}
    assert len(owners) == 1, owners


#: scripts outside the package that import its internals
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRIPTS = sorted(
    os.path.join("tools", f) for f in os.listdir(os.path.join(_REPO, "tools")) if f.endswith(".py")
) + ["bench.py"]


def _package_imports(src: str) -> list[tuple[str, str | None]]:
    """(module, name) for each ``from build_datawarehouse_demo_spark…
    import name`` in ``src``; (module, None) for a plain ``import``."""
    out = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == pkg.__name__:
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if a.name.split(".")[0] == pkg.__name__]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
        return name is None or hasattr(mod, name) or importlib.util.find_spec(f"{module}.{name}") is not None
    except ImportError:
        return False


def test_script_imports_resolve():
    """Every package import in tools/*.py and bench.py names something
    that exists — nothing in the suite runs those scripts, so a moved
    or renamed helper would otherwise break them silently."""
    missing = []
    for script in _SCRIPTS:
        with open(os.path.join(_REPO, script)) as fh:
            imports = _package_imports(fh.read())
        missing += [f"{script}: {m}.{n}" for m, n in imports if not _resolves(m, n)]
    assert missing == []


#: public package functions whose only callers are the users the docs
#: address: the S3-compatible object-store (MinIO) read path
#: (S3A_CHECKLIST.md, COVERAGE.md) and the optional-PIL image decoder
_ENTRY_POINTS = ("sources/readers.py:s3a_options", "operators/multimodal.py:decode_image")
#: a string naming code, as perfbench names the functions it traces
_DOTTED = re.compile(r"^[A-Za-z_][\w.]*$")


def _referenced_names(src: str) -> set:
    """Every name ``src`` uses: identifiers, attributes, imported names,
    and the parts of dotted-name strings that are not docstrings."""
    tree = ast.parse(src)
    docs = {
        id(n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    names = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docs
            and _DOTTED.match(n.value)
        ):
            names.update(n.value.split("."))
    return names


def _py_files(top: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(top)
        for f in sorted(files)
        if f.endswith(".py")
    ]


def test_reference_detector_skips_docstrings_and_sees_dotted_strings():
    src = "\n".join(
        [
            "def f():",
            "    'calls unused_in_doc'",
            "    return g(x.attr_ref)",
            "TARGETS = ['dedup.traced_fn', 'a sentence naming spoken_fn']",
            "from m import imported_fn",
        ]
    )
    names = _referenced_names(src)
    assert {"g", "attr_ref", "traced_fn", "dedup", "imported_fn"} <= names
    assert not {"unused_in_doc", "spoken_fn", "f"} & names


def test_every_public_package_function_has_a_non_test_caller():
    """A public package function is called (or imported, or traced by
    name) somewhere outside tests/ — the package, tools/, perfbench/,
    bench.py or the driver entry — or is a documented entry point.
    Registry keys (functions registered by a decorator call) are
    reached through the registry."""
    root = os.path.dirname(pkg.__file__)
    outside = _py_files(root) + _py_files(os.path.join(_REPO, "tools")) + [
        p for p in _py_files(os.path.join(_REPO, "perfbench")) if os.sep + "tests" + os.sep not in p
    ] + [os.path.join(_REPO, f) for f in ("bench.py", "__spark_entry__.py")]
    names = set()
    for path in outside:
        with open(path) as fh:
            names |= _referenced_names(fh.read())
    unreferenced = [
        f"{rel}:{name}"
        for rel, name, fn in _functions_under(("",))
        if not name.startswith("_")
        and not any(isinstance(d, ast.Call) for d in fn.decorator_list)
        and name not in names
    ]
    assert sorted(unreferenced) == sorted(_ENTRY_POINTS)
