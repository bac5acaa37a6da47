"""Incremental composed pipeline (VERDICT r9 item 3): refresh ≡ full
rebuild at the state's frozen banding parameters, including the cases
the fixture can't be trusted to contain — exact-dup redelivery, a new
doc bridging two old components (dropping an old representative), and
the span-stat ripple both from new grams and from a dropped rep's
grams leaving the corpus."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _corpus_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


# English-ish filler that passes the quality/langid filter: stopword
# ratio and 3-8 char mean word length both land in range.
def _doc(seed: int, n_words: int = 40) -> str:
    base = [
        "the", "quick", "brown", "fox", "jumps", "over", "a", "lazy",
        "dog", "and", "runs", "to", "its", "warm", "den", "of", "stone",
        "is", "near", "the", "old", "mill", "by", "a", "clear", "stream",
    ]
    out = []
    for i in range(n_words):
        w = base[(seed * 7 + i * 3) % len(base)]
        out.append(w if (seed + i) % 5 else w + str((seed * 11 + i) % 97))
    return " ".join(out)


def _run_full(docs, corpus_n):
    from build_datawarehouse_demo_spark.plans.training_data import (
        prepare_training_data_neardup,
    )

    return prepare_training_data_neardup(docs, corpus_n=corpus_n)


def _build_and_apply(spark, old_rows, new_rows):
    from build_datawarehouse_demo_spark.plans.training_data import (
        training_data_neardup_apply,
        training_data_neardup_state,
    )

    old = _corpus_df(spark, old_rows)
    new = _corpus_df(spark, new_rows)
    n_old = old.count()
    state = training_data_neardup_state(old, corpus_n=n_old)
    inc = training_data_neardup_apply(new, state)["output"]
    return state, inc, n_old


def test_incremental_equals_full_rebuild_on_fixture(spark):
    """The registry entry's contract on the real fixture: state on the
    first 3/4 of documents (monotone-id append), batch = last 1/4,
    refreshed output == full rebuild over the union at the frozen
    banding."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        training_data_neardup_apply,
        training_data_neardup_state,
    )
    from build_datawarehouse_demo_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    n = docs.count()
    split_at = (3 * n) // 4
    old = docs.filter(F.col("doc_id") < split_at)
    new = docs.filter(F.col("doc_id") >= split_at)
    n_old = old.count()
    state = training_data_neardup_state(old, corpus_n=n_old)
    inc = training_data_neardup_apply(new, state)["output"]
    full = _run_full(docs, corpus_n=n_old)
    got, want = _collect_sorted(inc), _collect_sorted(full)
    assert len(want) > 0
    assert got == want


def test_incremental_bridge_drops_old_rep_and_respans(spark):
    """A new doc near-dup of TWO old docs that are not near-dups of
    each other merges their components: the larger-id old rep must be
    DROPPED from the refreshed output, and span stats must ripple both
    ways (the dropped rep's grams leave; the new docs' grams arrive).
    Checked against the full rebuild, plus explicit structure asserts
    so fixture drift can't make this vacuous."""
    # exactly-controlled shingle sets (all tokens unique except the
    # 'the' sprinkle that keeps langid/quality green): core = 60
    # tokens -> 58 distinct shingles; A/B = core + 12 unique-tail
    # tokens -> 68 shingles. J(A,B) = 58/78 ≈ 0.744 < 0.8 (not dups);
    # X = bare core: J(X,A) = J(X,B) = 58/68 ≈ 0.853 ≥ 0.8 (bridges).
    core = " ".join("the" if i % 6 == 0 else f"core{i}x" for i in range(60))
    tail_a = " ".join(f"taila{i}y" for i in range(12))
    tail_b = " ".join(f"tailb{i}z" for i in range(12))
    old_rows = [
        (2, core + " " + tail_a),   # rep A
        (3, core + " " + tail_b),   # rep B
        (5, _doc(7)),
        (6, _doc(9)),
        (7, _doc(13)),
        # a duplicated 5-token span shared by two old docs, so the
        # span machinery is live before the refresh
        (8, _doc(21, 20) + " alpha beta gamma delta epsilon zeta"),
        (9, _doc(23, 20) + " alpha beta gamma delta epsilon zeta"),
    ]
    new_rows = [(1000, core)]
    state, inc, n_old = _build_and_apply(spark, old_rows, new_rows)
    full = _run_full(_corpus_df(spark, old_rows + new_rows), corpus_n=n_old)
    got, want = _collect_sorted(inc), _collect_sorted(full)
    assert got == want
    ids = {r[0] for r in got}
    # the bridge: 2 survives as the merged component's min, 3 dropped,
    # the new doc folded into the existing component
    assert 2 in ids and 3 not in ids and 1000 not in ids
    # state had both as reps before the refresh
    assert {r[0] for r in state["rep_ids"].collect()} >= {2, 3}


def test_incremental_new_grams_cut_spans_in_old_doc(spark):
    """A new doc repeating an old doc's 5-token window makes that span
    duplicated: the refreshed OLD doc must lose the span (it is not
    the owner iff owner id is smaller — here the old doc owns it, so
    the NEW doc's copy is cut instead), matching the full rebuild."""
    span = "omega sigma lambda kappa theta"
    old_rows = [
        (2, _doc(31, 24) + " " + span),
        (4, _doc(33)),
        (6, _doc(37)),
    ]
    new_rows = [(1000, _doc(41, 24) + " " + span)]
    state, inc, n_old = _build_and_apply(spark, old_rows, new_rows)
    full = _run_full(_corpus_df(spark, old_rows + new_rows), corpus_n=n_old)
    assert _collect_sorted(inc) == _collect_sorted(full)
    by_id = {r["doc_id"]: r for r in inc.collect()}
    # old doc 2 owns the span (min id) — keeps it; new doc loses it
    assert by_id[2]["n_tokens_removed"] == 0
    assert by_id[1000]["n_tokens_removed"] >= 5
    # and doc 2's row was RE-CHECKED, not stale-reused: its gram became
    # duplicated, so it is in the affected set; the values still match
    # the pre-refresh ones because it owns the span
    assert span in by_id[2]["cleaned_text"]
    assert span not in by_id[1000]["cleaned_text"]


def test_incremental_redelivery_is_idempotent(spark):
    """Re-applying the same batch against the refreshed state is a
    no-op: every redelivered doc exact-drops on the stored digests
    (the ivf_index_append idempotence contract for the pipeline)."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        training_data_neardup_apply,
    )

    old_rows = [(i, _doc(i)) for i in range(2, 12)]
    new_rows = [(1000, _doc(50)), (1001, _doc(51))]
    spark_new = _corpus_df(spark, new_rows)
    from build_datawarehouse_demo_spark.plans.training_data import (
        training_data_neardup_state,
    )

    state = training_data_neardup_state(_corpus_df(spark, old_rows), corpus_n=10)
    state2 = training_data_neardup_apply(spark_new, state)
    state3 = training_data_neardup_apply(spark_new, state2)
    out2 = _collect_sorted(state2["output"])
    out3 = _collect_sorted(state3["output"])
    assert out2 == out3
    assert _collect_sorted(state2["rep_ids"]) == _collect_sorted(state3["rep_ids"])
    assert state2["survivors"].count() == state3["survivors"].count()
    # both delivered docs actually made it in the first time
    assert {1000, 1001} <= {r[0] for r in state2["rep_ids"].collect()}


def test_incremental_exact_dup_of_old_doc_drops(spark):
    """A new doc whose cleaned text equals a stored survivor's drops at
    the exact stage — and the union-rebuild comparison still holds
    (monotone ids: the old copy is the keeper both ways)."""
    dup_text = _doc(5)
    old_rows = [(2, dup_text), (3, _doc(6)), (4, _doc(8))]
    new_rows = [(1000, dup_text), (1001, _doc(60))]
    state, inc, n_old = _build_and_apply(spark, old_rows, new_rows)
    full = _run_full(_corpus_df(spark, old_rows + new_rows), corpus_n=n_old)
    assert _collect_sorted(inc) == _collect_sorted(full)
    ids = {r[0] for r in inc.collect()}
    assert 1000 not in ids and 2 in ids and 1001 in ids
