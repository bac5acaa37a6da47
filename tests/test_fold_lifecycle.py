"""The fold lifecycle both incremental corpus pipelines share — the
keep-policy guard and the apply epilogue (survivor counter, banding
migration hook) — pinned on BOTH pipelines: the near-dup stack
(training_data_neardup_*) and the clean-filter stack
(clean_filter_dedup_*). Fixtures are a handful of documents."""

from __future__ import annotations

import logging

import pytest

from tests.test_incremental_state_skew import LOOSE, _corpus, _doc

_LOGGER = "build_datawarehouse_demo_spark.plans.training_data"


def _pipeline(name: str):
    """(state builder, apply, migration, knobs, a rank column) of one
    incremental pipeline, with documents that pass its front filter."""
    from build_datawarehouse_demo_spark.plans import training_data as td

    if name == "neardup":
        return (
            td.training_data_neardup_state,
            td.training_data_neardup_apply,
            td.migrate_training_data_neardup_banding,
            {},
            "quality",
        )
    return (
        td.clean_filter_dedup_state,
        td.clean_filter_dedup_apply,
        td.migrate_clean_filter_banding,
        dict(LOOSE),
        "n_ws_tokens",
    )


@pytest.fixture(scope="module")
def built(spark):
    """One min-id state per pipeline over four documents, plus a
    one-document batch — shared by every test here (applies return a
    new dict and never mutate the state they fold into)."""
    out = {}
    for name in ("neardup", "clean"):
        build, _, _, knobs, _ = _pipeline(name)
        state = build(_corpus(spark, [(i, _doc(i)) for i in range(4)]), corpus_n=4, **knobs)
        out[name] = (state, _corpus(spark, [(100, _doc(100))]))
    return out


@pytest.mark.parametrize("op", ["apply", "migration"])
@pytest.mark.parametrize("pipeline", ["neardup", "clean"])
def test_keep_policy_mismatch_raises(built, pipeline, op):
    """The keep policy is part of the state's identity: folding or
    migrating a min-id state with a rank column fails loudly, naming
    the call that disagreed."""
    _, apply, migrate, knobs, rank = _pipeline(pipeline)
    state, batch = built[pipeline]
    with pytest.raises(ValueError, match=f"keep-policy mismatch.*{op} called with"):
        if op == "apply":
            apply(batch, state, rank_col=rank, **knobs)
        else:
            migrate(state, corpus_n=10_000, rank_col=rank)


@pytest.mark.parametrize("pipeline", ["neardup", "clean"])
def test_migrate_banding_warns_without_seeded_counter(built, pipeline, caplog):
    """``migrate_banding=True`` on a state without ``n_survivors`` falls
    back to a corpus-sized count and says so; once seeded, the apply
    keeps the counter at O(batch) and stays silent."""
    _, apply, _, knobs, _ = _pipeline(pipeline)
    state, batch = built[pipeline]
    with caplog.at_level(logging.WARNING, logger=_LOGGER):
        apply(batch, state, migrate_banding=True, **knobs)
    assert any(
        "without a seeded n_survivors" in r.getMessage() for r in caplog.records
    )
    caplog.clear()
    seeded = {**state, "n_survivors": state["survivors"].count()}
    with caplog.at_level(logging.WARNING, logger=_LOGGER):
        st = apply(batch, seeded, migrate_banding=True, **knobs)
    assert not [r for r in caplog.records if "n_survivors" in r.getMessage()]
    assert st["n_survivors"] == st["survivors"].count()
