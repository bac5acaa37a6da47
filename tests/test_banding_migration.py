"""Frozen-banding migration (r15, VERDICT r14 item 2): when the corpus
outgrows the state's build-time auto-params point, the state's LSH
banding is re-trained at reps-only cost — reps re-signed at the new
(bands, rows), band keys and pairs swapped, components and output
rebuilt from the new pairs — and a subsequent apply at the migrated
banding is identical to a full rebuild at the NEW params."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.test_incremental_state_skew import LOOSE, _corpus, _rows


def _doc(i, n=22):
    return " ".join(f"m{i}_{j}" for j in range(n)) + "."


def test_migration_matches_full_rebuild_at_new_params(spark):
    """Build at corpus_n=50 → (3, 2); fold a batch; migrate at
    corpus_n=2000 → (6, 4); fold another batch. After migration the
    output equals a full rebuild at the NEW params, both immediately
    and after the post-migration apply — including near-dup and
    exact-copy families that must re-pair under the new banding."""
    from build_datawarehouse_demo_spark.operators.dedup import minhash_auto_params
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_apply,
        clean_filter_dedup_state,
        migrate_clean_filter_banding,
        prepare_clean_filter_dedup,
    )

    assert minhash_auto_params(50) != minhash_auto_params(2000)

    # 4+-char words: the Gopher mean-word-length rule (3.0..10.0) is
    # hard-coded in the front, LOOSE or not
    base = [f"word{j}" for j in range(40)]
    near = base[:36] + ["xtra1", "xtra2", "xtra3", "xtra4"]
    old_rows = [(i, _doc(i)) for i in range(5)]
    old_rows += [(5, " ".join(base) + "."), (6, " ".join(base) + ".")]  # exact pair
    b1 = [(100, " ".join(near) + "."), (101, _doc(101))]
    b2 = [(200, _doc(200)), (201, " ".join(base[:38] + ["ynew1", "ynew2"]) + ".")]

    old = _corpus(spark, old_rows)
    state = clean_filter_dedup_state(old, corpus_n=50, **LOOSE)
    assert (state["bands"], state["rows"]) == minhash_auto_params(50)
    state = clean_filter_dedup_apply(_corpus(spark, b1), state)

    migrated = migrate_clean_filter_banding(state, corpus_n=2000)
    assert (migrated["bands"], migrated["rows"]) == minhash_auto_params(2000)
    # untouched frames pass through; band keys re-signed at the new
    # band count (one row per rep per band)
    assert _rows(migrated["dg_members"]) == _rows(state["dg_members"])
    assert _rows(migrated["rep_digests"]) == _rows(state["rep_digests"])
    n_reps = migrated["rep_digests"].count()
    assert migrated["band_keys"].count() == n_reps * migrated["bands"]

    # migrated output == full rebuild at the NEW params, immediately
    full_mid = prepare_clean_filter_dedup(
        _corpus(spark, old_rows + b1), corpus_n=2000, **LOOSE
    )
    assert _rows(migrated["output"]) == _rows(full_mid)

    # ... and after the next apply (the oracle contract)
    state2 = clean_filter_dedup_apply(_corpus(spark, b2), migrated)
    full = prepare_clean_filter_dedup(
        _corpus(spark, old_rows + b1 + b2), corpus_n=2000, **LOOSE
    )
    assert _rows(state2["output"]) == _rows(full)
    # the near-dup family (5, 6, 100, 201) still collapses to min id 5
    # under the re-trained banding
    ids = {r[0] for r in _rows(state2["output"])}
    assert 5 in ids and 6 not in ids and 100 not in ids and 201 not in ids


def test_migration_is_noop_when_params_unchanged(spark):
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_state,
        migrate_clean_filter_banding,
    )

    old = _corpus(spark, [(i, _doc(i)) for i in range(4)])
    state = clean_filter_dedup_state(old, corpus_n=50, **LOOSE)
    migrated = migrate_clean_filter_banding(state, corpus_n=60)  # same params
    assert migrated is state  # no recompute, no new frames


def test_migration_composes_with_compaction(spark, tmp_path):
    """Migrate then compact: the migrated frames land in bucketed
    tables like any other state generation, and a post-compaction
    apply still matches the rebuild at the new params."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_apply,
        clean_filter_dedup_state,
        compact_state,
        migrate_clean_filter_banding,
        prepare_clean_filter_dedup,
    )

    old_rows = [(i, _doc(i)) for i in range(6)]
    b1 = [(100, _doc(100))]
    state = clean_filter_dedup_state(_corpus(spark, old_rows), corpus_n=50, **LOOSE)
    state = migrate_clean_filter_banding(state, corpus_n=2000)
    state = compact_state(state, "mig_cmp_test", base_path=str(tmp_path))
    state = clean_filter_dedup_apply(_corpus(spark, b1), state)
    full = prepare_clean_filter_dedup(
        _corpus(spark, old_rows + b1), corpus_n=2000, **LOOSE
    )
    assert _rows(state["output"]) == _rows(full)


def test_apply_migrate_banding_flag_rebands_at_boundary(spark):
    """migrate_banding=True on the BATCH apply (r17, VERDICT r16 item
    4): folding across the ~100-doc auto-params boundary with the flag
    on leaves the state re-banded at the grown corpus size and the
    output identical to a full rebuild at the NEW params — the same
    staleness loop the streaming sink's per-fold hook closes, without
    the caller remembering migrate_clean_filter_banding itself. The
    optional n_survivors counter (seeded once) supplies the corpus
    size and is maintained per fold at O(batch) cost."""
    from build_datawarehouse_demo_spark.operators.dedup import minhash_auto_params
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_apply,
        clean_filter_dedup_state,
        prepare_clean_filter_dedup,
    )

    old_rows = [
        (i, " ".join(f"bm{i}_{j}" for j in range(20)) + ".") for i in range(80)
    ]
    b1 = [
        (100 + i, " ".join(f"y1_{i}_{j}" for j in range(20)) + ".")
        for i in range(15)
    ]
    b2 = [
        (200 + i, " ".join(f"y2_{i}_{j}" for j in range(20)) + ".")
        for i in range(14)
    ]
    # near-dup of old doc 10 arriving after the boundary crossing
    b2.append((250, " ".join(f"bm10_{j}" for j in range(18)) + " qq1 qq2."))

    state = clean_filter_dedup_state(
        _corpus(spark, old_rows), corpus_n=len(old_rows), **LOOSE
    )
    state["n_survivors"] = state["survivors"].count()
    p0 = (state["bands"], state["rows"])

    st1 = clean_filter_dedup_apply(
        _corpus(spark, b1), state, migrate_banding=True
    )
    # 95 survivors: below the boundary, the hook is a no-op
    assert st1["n_survivors"] == 95
    assert (st1["bands"], st1["rows"]) == p0

    st2 = clean_filter_dedup_apply(
        _corpus(spark, b2), st1, migrate_banding=True
    )
    n_final = st2["survivors"].count()
    assert st2["n_survivors"] == n_final == 110
    assert (st2["bands"], st2["rows"]) == minhash_auto_params(n_final) != p0

    full = prepare_clean_filter_dedup(
        _corpus(spark, old_rows + b1 + b2), corpus_n=n_final, **LOOSE
    )
    assert _rows(st2["output"]) == _rows(full)


def test_neardup_apply_migrate_banding_flag(spark):
    """The neardup-pipeline twin of the apply-level migration flag
    (span stage included): one fold crossing the auto-params boundary
    with migrate_banding=True — and WITHOUT a seeded n_survivors, so
    the one-count fallback path is exercised — ends at the new params
    with output identical to the full rebuild there."""
    from build_datawarehouse_demo_spark.operators.dedup import minhash_auto_params
    from build_datawarehouse_demo_spark.plans.training_data import (
        prepare_training_data_neardup,
        training_data_neardup_apply,
        training_data_neardup_state,
    )
    from tests.test_incremental_state_skew import _doc as _endoc

    old_rows = [(i, _endoc(i)) for i in range(80)]
    batch = [(100 + i, _endoc(100 + i)) for i in range(30)]
    state = training_data_neardup_state(
        _corpus(spark, old_rows), corpus_n=len(old_rows)
    )
    p0 = (state["bands"], state["rows"])
    st = training_data_neardup_apply(
        _corpus(spark, batch), state, migrate_banding=True
    )
    n_final = st["survivors"].count()
    assert n_final > 100  # the boundary was crossed
    assert (st["bands"], st["rows"]) == minhash_auto_params(n_final) != p0
    full = prepare_training_data_neardup(
        _corpus(spark, old_rows + batch), corpus_n=n_final
    )
    assert _rows(st["output"]) == _rows(full)
