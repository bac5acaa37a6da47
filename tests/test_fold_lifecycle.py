"""The fold lifecycle both incremental corpus pipelines share — build
parameters recorded once in the state, the keep-policy check at the
build, the apply epilogue (survivor counter, banding migration hook) —
pinned on BOTH pipelines: the near-dup stack
(training_data_neardup_*) and the clean-filter stack
(clean_filter_dedup_*). Fixtures are a handful of documents."""

from __future__ import annotations

import logging

import pytest

from tests.test_incremental_state_skew import LOOSE, _corpus, _rows

_LOGGER = "build_datawarehouse_demo_spark.plans.training_data"


def _pipeline(name: str):
    """(state builder, apply, migration, one-shot build, front knobs) of
    one incremental pipeline; the knobs let the fixtures pass its front
    filter."""
    from build_datawarehouse_demo_spark.plans import training_data as td

    if name == "neardup":
        return (
            td.training_data_neardup_state,
            td.training_data_neardup_apply,
            td.migrate_training_data_neardup_banding,
            td.prepare_training_data_neardup,
            {},
        )
    return (
        td.clean_filter_dedup_state,
        td.clean_filter_dedup_apply,
        td.migrate_clean_filter_banding,
        td.prepare_clean_filter_dedup,
        dict(LOOSE),
    )


def _words(prefix: str, n: int) -> list[str]:
    return ["the" if i % 6 == 0 else f"{prefix}{i}x" for i in range(n)]


def _text(words: list[str]) -> str:
    return " ".join(words) + "."


#: docs 3 and 4 share exactly one 4-token window and no 5-token one;
#: batch doc 100 is a near-dup of doc 1 at jaccard ≈ 0.65 (k=3)
_SPAN = ["the", "shared1", "shared2", "shared3"]
_OLD = [
    (1, _text(_words("alpha", 30))),
    (2, _text(_words("filler", 24))),
    (3, _text(_words("cuniq", 12) + _SPAN + _words("ctail", 12)[1:])),
    (4, _text(_words("duniq", 12) + _SPAN + _words("dtail", 12)[1:])),
]
_BATCH = [
    (100, _text(_words("alpha", 30)[:24] + _words("btail", 7)[1:])),
    (101, _text(_words("fresh", 24))),
]


@pytest.fixture(scope="module")
def built(spark):
    """One min-id state per pipeline over four documents, plus a
    one-document batch — shared by the tests that fold at the default
    knobs (applies return a new dict and never mutate the state they
    fold into)."""
    out = {}
    for name in ("neardup", "clean"):
        build, *_, knobs = _pipeline(name)
        state = build(_corpus(spark, _OLD), corpus_n=4, **knobs)
        out[name] = (state, _corpus(spark, _BATCH[1:]))
    return out


@pytest.mark.parametrize("pipeline", ["neardup", "clean"])
def test_migrate_banding_warns_without_seeded_counter(built, pipeline, caplog):
    """``migrate_banding=True`` on a state without ``n_survivors`` falls
    back to a corpus-sized count and says so; once seeded, the apply
    keeps the counter at O(batch) and stays silent."""
    apply = _pipeline(pipeline)[1]
    state, batch = built[pipeline]
    with caplog.at_level(logging.WARNING, logger=_LOGGER):
        apply(batch, state, migrate_banding=True)
    assert any(
        "without a seeded n_survivors" in r.getMessage() for r in caplog.records
    )
    caplog.clear()
    seeded = {**state, "n_survivors": state["survivors"].count()}
    with caplog.at_level(logging.WARNING, logger=_LOGGER):
        st = apply(batch, seeded, migrate_banding=True)
    assert not [r for r in caplog.records if "n_survivors" in r.getMessage()]
    assert st["n_survivors"] == st["survivors"].count() == len(_OLD) + 1


def _persistent_rdd_ids(spark) -> set:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _checkpoint_leaf_ids(state: dict) -> set:
    """RDD ids of the checkpoint-backed leaves (LogicalRDD) of every
    frame in ``state``."""
    ids = set()
    for v in state.values():
        if hasattr(v, "_jdf"):
            leaves = v._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size()):
                if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD":
                    ids.add(leaves.apply(i).rdd().id())
    return ids


@pytest.mark.parametrize(
    "pipeline, step",
    [("neardup", "apply"), ("clean", "apply"), ("neardup", "migrate"), ("clean", "migrate")],
    ids=["neardup", "clean", "neardup-migrate", "clean-migrate"],
)
def test_fold_keeps_only_the_blocks_its_state_reads(built, spark, pipeline, step):
    """A fold owns the checkpoint blocks it makes: after a
    non-compacting apply, or a banding migration across a boundary
    (the build body rerun over the stored survivors), every RDD newly
    persisted is a checkpoint leaf of the returned state. The stage
    boundaries no state frame reads (component rounds, candidate
    pairs, the digest match, batch band keys, the rerun's digest
    grouping and reps) are freed when the step returns."""
    state, _ = built[pipeline]
    _, apply, migrate, *_ = _pipeline(pipeline)
    before = _persistent_rdd_ids(spark)
    if step == "apply":
        refreshed = apply(_corpus(spark, _BATCH), state)
    else:
        refreshed = migrate(state, corpus_n=2000)
        assert (refreshed["bands"], refreshed["rows"]) != (state["bands"], state["rows"])
    new = _persistent_rdd_ids(spark) - before
    leaves = _checkpoint_leaf_ids(refreshed)
    assert new and new <= leaves, sorted(new - leaves)


@pytest.mark.parametrize("pipeline", ["neardup", "clean"])
def test_folds_run_at_the_build_knobs(spark, pipeline):
    """A state built at non-default knobs (Jaccard threshold, span
    window, split fraction, the clean front's) folds a batch and
    migrates across a banding boundary without being given any knob
    again; both outputs equal the one-shot build at those knobs."""
    build, apply, migrate, one_shot, knobs = _pipeline(pipeline)
    knobs = dict(knobs, jaccard_threshold=0.5, val_frac=0.2)
    if pipeline == "neardup":
        knobs["span_window"] = 4
    all_rows = _corpus(spark, _OLD + _BATCH)

    state = build(_corpus(spark, _OLD), corpus_n=50, **knobs)
    folded = apply(_corpus(spark, _BATCH), state)
    want = _rows(one_shot(all_rows, corpus_n=50, **knobs))
    assert _rows(folded["output"]) == want
    # the near-dup merge only the 0.5 threshold finds
    assert 100 not in {r[0] for r in want}

    migrated = migrate(folded, corpus_n=2000)
    assert (migrated["bands"], migrated["rows"]) != (folded["bands"], folded["rows"])
    assert _rows(migrated["output"]) == _rows(one_shot(all_rows, corpus_n=2000, **knobs))


def _jobs_before_raise(spark, group: str, call, match: str) -> int:
    """Spark jobs ``call`` runs before it raises ValueError(``match``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=match):
            call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bad_keep_policy_rejected_before_any_spark_job(spark):
    """A keep policy a pipeline cannot run fails at the build, before
    the corpus count, the front scan or the pair state run a job."""
    from build_datawarehouse_demo_spark.plans import training_data as td

    docs = _corpus(spark, _OLD)
    both = dict(rank_col="clf_score", soft_weights=True, **LOOSE)
    cases = {
        "prepare_clean_both": (
            lambda: td.prepare_clean_filter_dedup(docs, **both),
            "mutually exclusive",
        ),
        "clean_state_both": (
            lambda: td.clean_filter_dedup_state(docs, corpus_n=4, **both),
            "mutually exclusive",
        ),
        "clean_state_rank": (
            lambda: td.clean_filter_dedup_state(docs, rank_col="quality", **LOOSE),
            "rank_col must be",
        ),
        "neardup_state_rank": (
            lambda: td.training_data_neardup_state(docs, rank_col="clf_score"),
            "rank_col must be",
        ),
    }
    jobs = {
        name: _jobs_before_raise(spark, f"keep_policy_{name}", call, match)
        for name, (call, match) in cases.items()
    }
    assert jobs == dict.fromkeys(cases, 0)
