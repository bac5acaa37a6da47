"""State compaction for the incremental curation lanes (r15, VERDICT
r14 item 1): the refresh functions' append-only discipline returns
lazy `stored ∪ checkpointed-delta` unions, so a long-lived state grows
one union + one retained checkpoint-block set per fold. compact_state
writes the frames to bucketed parquet tables and reloads — plan depth
resets to a 1-deep table scan, values unchanged, and the superseded
checkpoint blocks become releasable (nothing references them once the
caller drops the pre-compaction dict).
"""

from __future__ import annotations

from tests.test_incremental_state_skew import LOOSE, _corpus, _rows


def _plan(df):
    return df._jdf.queryExecution().analyzed().toString()


def _union_depth(df) -> int:
    return _plan(df).count("Union")


def _batch(base_id: int, n: int = 4):
    return [
        (base_id + i, " ".join(f"tok{base_id}_{i}_{j}" for j in range(20)) + ".")
        for i in range(n)
    ] + [(base_id + n, "copyme " + " ".join(f"dup{j}" for j in range(19)) + ".")]


def test_compacted_folds_keep_plan_depth_constant_and_rebuild_parity(
    spark, tmp_path
):
    """Three folds with a compaction after each: every state frame's
    plan stays a ZERO-union bucketed-table scan after each cycle (the
    constant-depth contract), and the output matches a full rebuild at
    the frozen banding at EVERY step — compaction is value-lossless."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_apply,
        clean_filter_dedup_state,
        prepare_clean_filter_dedup,
    )

    old_rows = _batch(0, 6)
    old = _corpus(spark, old_rows)
    n_old = old.count()
    state = clean_filter_dedup_state(old, corpus_n=n_old, **LOOSE)

    frames = ("survivors", "band_keys", "dg_members", "rep_digests", "pairs", "output")
    all_rows = list(old_rows)
    depths_after_compact = []
    for fold in range(3):
        rows = _batch(100 * (fold + 1))
        all_rows += rows
        state = clean_filter_dedup_apply(
            _corpus(spark, rows),
            state,
            compact_to=f"cmp_test_f{fold}",
            compact_path=str(tmp_path / f"f{fold}"),
        )
        # every frame is now a table scan: no Union, no checkpoint leaf
        for key in frames:
            p = _plan(state[key])
            assert _union_depth(state[key]) == 0, (fold, key, p)
            assert "LogicalRDD" not in p and "ExistingRDD" not in p, (fold, key)
        depths_after_compact.append(
            sum(_union_depth(state[k]) for k in frames)
        )
        # rebuild parity THROUGH the compaction, at every step
        full = prepare_clean_filter_dedup(
            _corpus(spark, all_rows), corpus_n=n_old, **LOOSE
        )
        assert _rows(state["output"]) == _rows(full), fold

    # constant across >= 3 fold+compact cycles (trivially all zero)
    assert depths_after_compact == [0, 0, 0]

    # a fold WITHOUT compaction grows exactly the documented one thin
    # union on the collapse frames — compaction is what resets it
    state_nc = clean_filter_dedup_apply(
        _corpus(spark, _batch(900)), state
    )
    for key in ("band_keys", "dg_members", "rep_digests", "pairs"):
        assert _union_depth(state_nc[key]) >= 1, key


def test_compaction_buckets_frames_on_their_join_keys(spark, tmp_path):
    """The compacted tables are BUCKETED, 8 buckets each, on the key
    each frame's refresh consumer joins on (band_keys by (band,
    band_key), dg_members by __rep) — the durable layout the state
    docstrings promise for the 100 TB run."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_state,
        compact_state,
    )

    old = _corpus(spark, _batch(0, 6))
    state = clean_filter_dedup_state(old, corpus_n=old.count(), **LOOSE)
    frames = ("band_keys", "dg_members", "rep_digests", "pairs", "output")
    expected = {key: _rows(state[key]) for key in frames}
    compacted = compact_state(state, "cmp_bucket_test", base_path=str(tmp_path))
    # find the generation-stamped table names back from the catalog
    tables = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("cmp_bucket_test_")
    }

    def table_for(frame):
        return next(t for t in tables if t.endswith("_" + frame))

    # bucket spec survives in the catalog (DESCRIBE EXTENDED)
    def bucket_line(table):
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        return {r.col_name: r.data_type for r in rows}

    bk = bucket_line(table_for("band_keys"))
    assert "Bucket Columns" in bk and "band" in bk["Bucket Columns"]
    dg = bucket_line(table_for("dg_members"))
    assert "__rep" in dg["Bucket Columns"]
    assert {bucket_line(table_for(f))["Num Buckets"] for f in frames} == {"8"}
    # values identical to the source frames
    for key in frames:
        assert _rows(compacted[key]) == expected[key], key
    # scalars pass through
    assert compacted["bands"] == state["bands"]
    assert compacted["rows"] == state["rows"]
    # the retire contract: once the new generation is written,
    # compaction unpersists the superseded state's checkpoint blocks,
    # so reading the OLD dict's frames now fails on the missing blocks
    import pytest
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        state["band_keys"].count()


def _prefix_tables(spark, prefix):
    return sorted(
        t.name for t in spark.catalog.listTables() if t.name.startswith(prefix + "_g")
    )


def test_compaction_gc_drops_superseded_generations(spark, tmp_path):
    """Generation GC (r16, VERDICT r15 item 3): across 3 fold+compact
    cycles on ONE prefix the warehouse holds exactly one generation's
    tables — constant table count, the older generations' tables AND
    their external files dropped once the new generation is committed
    — and the generation number is seeded from the catalog (monotone
    1, 2, 3), so a restarted process can never overwrite a live
    predecessor generation. Output stays rebuild-exact with GC on."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_apply,
        clean_filter_dedup_state,
        prepare_clean_filter_dedup,
    )

    old_rows = _batch(0, 6)
    old = _corpus(spark, old_rows)
    n_old = old.count()
    state = clean_filter_dedup_state(old, corpus_n=n_old, **LOOSE)

    all_rows = list(old_rows)
    counts = []
    for fold in range(3):
        rows = _batch(100 * (fold + 1))
        all_rows += rows
        state = clean_filter_dedup_apply(
            _corpus(spark, rows),
            state,
            compact_to="cmp_gcgen",
            compact_path=str(tmp_path / f"p{fold}"),
        )
        tables = _prefix_tables(spark, "cmp_gcgen")
        counts.append(len(tables))
        # only the newest generation remains, catalog-seeded monotone
        assert tables and all(f"_g{fold + 1}_" in t for t in tables), tables
        if fold > 0:
            prev = tmp_path / f"p{fold - 1}"
            leftover = list(prev.glob("cmp_gcgen_*"))
            assert not leftover, leftover
    # constant warehouse footprint across cycles
    assert len(set(counts)) == 1 and counts[0] > 0, counts
    full = prepare_clean_filter_dedup(
        _corpus(spark, all_rows), corpus_n=n_old, **LOOSE
    )
    assert _rows(state["output"]) == _rows(full)


def test_compaction_seeds_generation_past_orphaned_directories(spark):
    """The restart case (r15 ADVICE, hit live by the r16 outlier
    tool): with the default in-memory catalog a NEW process sees no
    tables, but the previous process's managed table directories
    survive in the warehouse — saveAsTable hard-fails on an existing
    location (LOCATION_ALREADY_EXISTS), so the generation seeds past
    orphaned directories from the filesystem scan, and GC removes the
    orphan once the new generation is committed."""
    import os
    from urllib.parse import urlparse

    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_state,
        compact_state,
    )

    import shutil

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    # pre-clean: managed cmp_orphan_* directories PERSIST in the
    # warehouse across pytest invocations (that persistence is the
    # very thing under test) — start from a known slate
    for name in os.listdir(wh):
        if name.startswith("cmp_orphan_g"):
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
    for t in list(spark.catalog.listTables()):
        if t.name.startswith("cmp_orphan_g"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    orphan = os.path.join(wh, "cmp_orphan_g1_survivors")
    os.makedirs(orphan, exist_ok=True)
    state = clean_filter_dedup_state(
        _corpus(spark, _batch(0, 6)), corpus_n=7, **LOOSE
    )
    want = _rows(state["output"])
    c = compact_state(state, "cmp_orphan")
    tables = _prefix_tables(spark, "cmp_orphan")
    assert tables and all("_g2_" in t for t in tables), tables
    assert not os.path.isdir(orphan), "orphaned generation dir not GC'd"
    assert _rows(c["output"]) == want


def test_compaction_retires_superseded_checkpoint_blocks(spark, tmp_path):
    """Compaction's phase 2: once the new generation's tables are
    written, the superseded state's checkpoint-backed leaves are
    unpersisted DETERMINISTICALLY (measured: the driver never GCs the
    old plans within a folding session, so ContextCleaner-based
    release simply does not happen). Pinned: across 3 fold+compact
    cycles the persistent-RDD count returns to (or below) the
    post-build baseline instead of growing one block set per fold —
    the build's own checkpoints are retired by the first fold's
    compaction, so the count must not exceed the baseline."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_apply,
        clean_filter_dedup_state,
    )

    sc = spark.sparkContext

    def n_persistent():
        return sc._jsc.sc().getPersistentRDDs().size()

    old = _corpus(spark, _batch(0, 6))
    state = clean_filter_dedup_state(old, corpus_n=old.count(), **LOOSE)
    state["output"].count()
    baseline = n_persistent()

    counts = []
    for fold in range(3):
        state = clean_filter_dedup_apply(
            _corpus(spark, _batch(100 * (fold + 1))),
            state,
            compact_to=f"cmp_gc_f{fold}",
            compact_path=str(tmp_path / f"g{fold}"),
        )
        counts.append(n_persistent())
    state["output"].count()
    # no growth across cycles: every fold's deltas AND the previous
    # generation's blocks were retired at compaction time
    assert counts == sorted(counts, reverse=True) or max(counts) <= baseline, (
        baseline,
        counts,
    )
    assert counts[-1] <= baseline, (baseline, counts)


def test_compacting_apply_leaves_other_threads_blocks_alone(
    spark, tmp_path, monkeypatch
):
    """A compacting apply frees only the blocks its own fold made: an
    RDD another thread checkpoints while the fold runs (the thread is
    started and joined mid-fold, so the windows overlap) is still
    persisted and readable after the apply returns."""
    import threading

    from build_datawarehouse_demo_spark.plans import training_data as td

    state = td.clean_filter_dedup_state(
        _corpus(spark, _batch(0, 6)), corpus_n=7, **LOOSE
    )
    other = {}

    def checkpoint_elsewhere():
        other["df"] = spark.range(50).localCheckpoint()

    fold_candidates = td._apply_rep_candidates

    def mid_fold(*args):
        t = threading.Thread(target=checkpoint_elsewhere)
        t.start()
        t.join()
        return fold_candidates(*args)

    monkeypatch.setattr(td, "_apply_rep_candidates", mid_fold)
    refreshed = td.clean_filter_dedup_apply(
        _corpus(spark, _batch(500)),
        state,
        compact_to="cmp_other_thread",
        compact_path=str(tmp_path / "o"),
    )
    leaf = other["df"]._jdf.queryExecution().analyzed().collectLeaves().apply(0)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    assert leaf.rdd().id() in {int(i) for i in persisted}
    assert other["df"].count() == 50
    assert refreshed["output"].count() > 0


def test_compaction_mixed_case_prefix_seeds_and_gcs(spark, tmp_path):
    """Mixed-case compact_to (r16 ADVICE): Spark lowercases catalog
    identifiers, so generation discovery must match case-insensitively
    — otherwise _next_generation returns 1 forever, the second
    compaction tries to overwrite the table the state is still
    reading, and GC never fires. Two compaction cycles under a
    MixedCase prefix must produce generations 1 then 2, leave exactly
    one generation after GC, and keep rebuild parity."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        _prefix_generations,
        clean_filter_dedup_apply,
        clean_filter_dedup_state,
        compact_state,
        prepare_clean_filter_dedup,
    )

    old_rows = _batch(0, 5)
    state = clean_filter_dedup_state(
        _corpus(spark, old_rows), corpus_n=len(old_rows), **LOOSE
    )
    state = compact_state(state, "MixedCase_STATE", base_path=str(tmp_path))
    assert _prefix_generations(spark, "mixedcase_state", str(tmp_path)) == [1]

    rows2 = _batch(300)
    state = clean_filter_dedup_apply(_corpus(spark, rows2), state)
    state = compact_state(state, "MixedCase_STATE", base_path=str(tmp_path))
    # seeded past generation 1, which the GC then dropped
    assert _prefix_generations(spark, "MixedCase_STATE", str(tmp_path)) == [2]

    full = prepare_clean_filter_dedup(
        _corpus(spark, old_rows + rows2), corpus_n=len(old_rows), **LOOSE
    )
    assert _rows(state["output"]) == _rows(full)


def test_compaction_gc_with_scheme_qualified_base_path(spark, tmp_path):
    """The Hadoop-FS generation handling (r17) must treat an
    EXPLICITLY scheme-qualified base_path ('file:///...') exactly like
    a bare posix path — the same code path an s3a:// or hdfs:// root
    takes. Two compactions under a file:// root: seeding advances past
    generation 1, GC leaves exactly one generation of directories, and
    rebuild parity holds."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        _prefix_generations,
        clean_filter_dedup_apply,
        clean_filter_dedup_state,
        compact_state,
        prepare_clean_filter_dedup,
    )

    root = f"file://{tmp_path}/gen_store"
    old_rows = _batch(0, 5)
    state = clean_filter_dedup_state(
        _corpus(spark, old_rows), corpus_n=len(old_rows), **LOOSE
    )
    state = compact_state(state, "uri_state", base_path=root)
    assert _prefix_generations(spark, "uri_state", root) == [1]

    rows2 = _batch(400)
    state = clean_filter_dedup_apply(_corpus(spark, rows2), state)
    state = compact_state(state, "uri_state", base_path=root)
    assert _prefix_generations(spark, "uri_state", root) == [2]

    import os

    names = os.listdir(f"{tmp_path}/gen_store")
    gens = {n.split("_g", 1)[1].split("_", 1)[0] for n in names}
    assert gens == {"2"}, names

    full = prepare_clean_filter_dedup(
        _corpus(spark, old_rows + rows2), corpus_n=len(old_rows), **LOOSE
    )
    assert _rows(state["output"]) == _rows(full)


def test_compaction_gc_superseded_false_defers_all_gc(spark, tmp_path):
    """The streaming sinks' retry-safety contract (r17 ADVICE): the
    write half of compaction the sinks run before their holder swap
    (_write_generation) performs NO generation GC and retires no block
    — every prior generation's tables and files survive the write (so
    a foreachBatch retry chain that crashes before the holder swap any
    number of times always finds the generation the unswapped holder
    reads) — and a later gc_generations trims to exactly the newest."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        _prefix_generations,
        _write_generation,
        clean_filter_dedup_state,
        gc_generations,
    )

    root = str(tmp_path / "nogc")
    state = clean_filter_dedup_state(
        _corpus(spark, _batch(0, 5)), corpus_n=6, **LOOSE
    )
    c1 = _write_generation(state, "cmp_nogc", root)
    c2 = _write_generation(c1, "cmp_nogc", root)
    c3 = _write_generation(c2, "cmp_nogc", root)
    # all three generations retained — the consecutive-retry window is
    # covered no matter how many re-compactions precede the swap
    assert _prefix_generations(spark, "cmp_nogc", root) == [1, 2, 3]
    want = _rows(state["output"])
    assert _rows(c1["output"]) == want
    assert _rows(c2["output"]) == want and _rows(c3["output"]) == want
    # the post-swap GC half then trims to the newest generation only
    gc_generations(spark, "cmp_nogc", base_path=root)
    assert _prefix_generations(spark, "cmp_nogc", root) == [3]
    assert _rows(c3["output"]) == want


def test_migrate_banding_warns_exactly_when_counter_unseeded(spark, caplog):
    """The r17 ADVICE observability fix: ``migrate_banding=True``
    without a seeded ``n_survivors`` counter falls back to a
    corpus-sized count and must WARN (naming the seed instruction);
    with the counter seeded the fold is silent."""
    import logging

    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_apply,
        clean_filter_dedup_state,
    )

    state = clean_filter_dedup_state(
        _corpus(spark, _batch(0, 5)), corpus_n=6, **LOOSE
    )
    logger = "build_datawarehouse_demo_spark.plans.training_data"
    with caplog.at_level(logging.WARNING, logger=logger):
        state = clean_filter_dedup_apply(
            _corpus(spark, _batch(100)), state, migrate_banding=True
        )
    assert any("n_survivors" in r.message for r in caplog.records)
    caplog.clear()
    state["n_survivors"] = state["survivors"].count()
    with caplog.at_level(logging.WARNING, logger=logger):
        clean_filter_dedup_apply(
            _corpus(spark, _batch(200)), state, migrate_banding=True
        )
    assert not [r for r in caplog.records if "n_survivors" in r.message]
