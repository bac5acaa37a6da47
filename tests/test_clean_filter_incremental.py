"""Incremental modern cleaning stack (VERDICT r12 item 3): refresh ≡
full rebuild at the state's frozen banding, including the graph cases
a fixture split can't be trusted to contain — exact-copy redelivery
(idempotent output) and a new doc BRIDGING two old components (the
only way a refresh can drop an old representative, since mixed
components always keep an old min id under the monotone-id append
contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

#: filter knobs opened wide so every crafted doc survives the front and
#: the test controls the near-dup graph purely through shingle overlap
LOOSE = dict(
    min_words_per_line=1,
    min_sentences=1,
    min_words=1,
    min_stopword_hits=0,
    max_top_gram_char_frac=(1.0, 1.0, 1.0),
    clf_threshold=-1.0,
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _doc(tokens):
    return " ".join(tokens) + "."


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _full(df, corpus_n):
    from build_datawarehouse_demo_spark.plans.training_data import (
        prepare_clean_filter_dedup,
    )

    return prepare_clean_filter_dedup(df, corpus_n=corpus_n, **LOOSE)


def _state_apply(spark, old_rows, new_rows):
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_state,
        prepare_clean_filter_dedup_incremental,
    )

    old = _corpus(spark, old_rows)
    new = _corpus(spark, new_rows)
    n_old = old.count()
    state = clean_filter_dedup_state(old, corpus_n=n_old, **LOOSE)
    inc = prepare_clean_filter_dedup_incremental(new, state, **LOOSE)
    return state, inc, n_old


def test_incremental_equals_full_rebuild_on_fixture(spark):
    """The registry entry's exact contract: state on the first 3/4 of
    the pageified driver fixture, apply the last 1/4, compare to the
    full batch chain over the union at the frozen banding."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_state,
        prepare_clean_filter_dedup,
        prepare_clean_filter_dedup_incremental,
    )
    from build_datawarehouse_demo_spark.registry_common import (
        _CLF_T,
        _GQ_MINW,
        _GQ_STOP,
        _QC_DIM,
        _TOPG,
        pageify,
    )

    docs = pageify(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    )
    knobs = dict(
        min_words=_GQ_MINW,
        min_stopword_hits=_GQ_STOP,
        max_top_gram_char_frac=_TOPG,
        clf_dim=_QC_DIM,
        clf_threshold=_CLF_T,
    )
    n = docs.count()
    split_at = (3 * n) // 4
    old = docs.filter(F.col("doc_id") < split_at)
    new = docs.filter(F.col("doc_id") >= split_at)
    n_old = old.count()
    state = clean_filter_dedup_state(old, corpus_n=n_old, **knobs)
    inc = prepare_clean_filter_dedup_incremental(new, state, **knobs)
    full = prepare_clean_filter_dedup(docs, corpus_n=n_old, **knobs)
    assert _sorted_rows(inc) == _sorted_rows(full)
    assert inc.count() > 0


def test_redelivered_exact_copy_is_output_idempotent(spark):
    """A refresh batch consisting ONLY of exact copies of stored
    documents (new ids — the redelivery shape) must leave the output
    rows identical to the pre-refresh output: each copy pairs with its
    original at jaccard 1.0 and loses the rep race to the smaller
    stored id."""
    toks = [[f"w{d}_{i}" for i in range(40)] for d in range(4)]
    old_rows = [(d, _doc(toks[d])) for d in range(4)]
    new_rows = [(100 + d, _doc(toks[d])) for d in range(4)]
    state, inc, n_old = _state_apply(spark, old_rows, new_rows)
    assert _sorted_rows(inc) == _sorted_rows(state["output"])
    # and the refresh equals the rebuild over the union, as always
    full = _full(_corpus(spark, old_rows + new_rows), n_old)
    assert _sorted_rows(inc) == _sorted_rows(full)


def test_bridge_doc_drops_an_old_representative(spark):
    """B and C are old singleton reps (3-gram jaccard ~0.71, below the
    0.8 threshold); new doc D overlaps both at ~0.80, bridging them
    into one component whose min is B — so the refresh must DROP C
    from the output while keeping B, and still equal the rebuild."""
    # 4-7 char tokens: Gopher quality's mean-word-length rule (3..10
    # chars) is NOT opened by the knobs, so 2-char tokens would drop
    # every crafted doc at the front (caught on first run)
    p = [f"ptok{i:02d}" for i in range(50)]
    b_t = [f"btok{i}" for i in range(10)]
    c_t = [f"ctok{i}" for i in range(10)]
    B = p + b_t
    C = p + c_t
    # (5, 8) split measured on the CLEANED text: jaccard(B,D) =
    # jaccard(C,D) = 0.803, jaccard(B,C) = 0.706 (tools run r13)
    D = p + b_t[:5] + c_t[:8]
    uniq = [[f"utok{d}_{i}" for i in range(30)] for d in range(3)]
    old_rows = [(1, _doc(B)), (2, _doc(C))] + [
        (3 + d, _doc(uniq[d])) for d in range(3)
    ]
    new_rows = [(50, _doc(D))]
    state, inc, n_old = _state_apply(spark, old_rows, new_rows)
    old_ids = {r[0] for r in _sorted_rows(state["output"])}
    assert {1, 2} <= old_ids  # both reps pre-refresh
    inc_ids = {r[0] for r in _sorted_rows(inc)}
    assert 1 in inc_ids and 2 not in inc_ids  # C dropped by the bridge
    assert 50 not in inc_ids  # D joined the component, min is old
    full = _full(_corpus(spark, old_rows + new_rows), n_old)
    assert _sorted_rows(inc) == _sorted_rows(full)


def test_new_near_dup_of_singleton_rep_keeps_old_rep(spark):
    """A new doc near-dupping ONE old singleton rep extends that
    component; the old rep keeps its slot (old id < new id), the new
    doc contributes no row, and refresh equals rebuild."""
    base = [f"ttok{i}" for i in range(60)]
    variant = base[:54] + [f"xtok{i}" for i in range(6)]
    uniq = [[f"vtok{d}_{i}" for i in range(30)] for d in range(2)]
    old_rows = [(1, _doc(base))] + [(2 + d, _doc(uniq[d])) for d in range(2)]
    new_rows = [(70, _doc(variant)), (71, _doc([f"ztok{i}" for i in range(25)]))]
    state, inc, n_old = _state_apply(spark, old_rows, new_rows)
    inc_ids = {r[0] for r in _sorted_rows(inc)}
    assert 1 in inc_ids and 70 not in inc_ids and 71 in inc_ids
    full = _full(_corpus(spark, old_rows + new_rows), n_old)
    assert _sorted_rows(inc) == _sorted_rows(full)


def test_duplicate_heavy_refresh_batch(spark):
    """The re-crawl shape: a refresh batch where 90% of rows are exact
    copies of ONE new document. The apply's new-new candidates route
    through the defended lsh_candidate_pairs (r13 pre-collapse), so the
    batch's banding intermediate contracts to one representative while
    the OUTPUT still equals the full rebuild — one rep for the whole
    hot group, every copy absorbed into its component."""
    k = 90
    hot = [f"htok{i}" for i in range(40)]
    uniq_old = [[f"otok{d}_{i}" for i in range(30)] for d in range(5)]
    old_rows = [(d, _doc(uniq_old[d])) for d in range(5)]
    new_rows = [(100 + j, _doc(hot)) for j in range(k)]
    new_rows += [(100 + k, _doc([f"ntok{i}" for i in range(30)]))]
    state, inc, n_old = _state_apply(spark, old_rows, new_rows)
    inc_ids = {r[0] for r in _sorted_rows(inc)}
    # exactly one rep (min id 100) for the hot group, the unique new
    # doc kept, every old singleton untouched
    assert 100 in inc_ids and 100 + k in inc_ids
    assert not any(100 < i < 100 + k for i in inc_ids)
    assert {0, 1, 2, 3, 4} <= inc_ids
    full = _full(_corpus(spark, old_rows + new_rows), n_old)
    assert _sorted_rows(inc) == _sorted_rows(full)
