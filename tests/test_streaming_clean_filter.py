"""Streaming incremental cleaning stack (r14): micro-batches folded
into clean_filter_dedup_state through the checkpointed sink must leave
the output identical to the full batch pipeline over the union —
including a same-id redelivery (dropped by the survivor anti-join) and
out-of-order ids across batches (a later batch carrying a smaller id
that takes over a component rep slot)."""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import functions as F

from tests.test_incremental_state_skew import LOOSE


SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)


def _run_stream(spark, tmp_path, old_rows, batches, **sink_opts):
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_state,
    )
    from build_datawarehouse_demo_spark.streaming.sinks import (
        stream_clean_filter_state_append,
    )

    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    holder = {"state": clean_filter_dedup_state(old, corpus_n=len(old_rows), **LOOSE)}
    feed = str(tmp_path / "feed")
    for i, b in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(b, "doc_id long, text string").coalesce(1).write.mode(
            mode
        ).parquet(feed)
    q = stream_clean_filter_state_append(
        spark.readStream.format("parquet")
        .schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(feed),
        holder,
        checkpoint_dir=str(tmp_path / "ckpt"),
        **sink_opts,
    )
    assert q.awaitTermination(180)
    return holder["state"]


def test_stream_equals_batch_with_redelivery_and_id_interleave(spark, tmp_path):
    from build_datawarehouse_demo_spark.plans.training_data import (
        prepare_clean_filter_dedup,
    )

    base = [f"btok{i}" for i in range(50)]
    near = base[:46] + [f"n{i}" for i in range(4)]  # near-dup of base
    old_rows = [(i, " ".join(f"o{i}_{j}" for j in range(25)) + ".") for i in range(5)]
    old_rows += [(5, " ".join(base) + ".")]
    # batch 1: large ids, one survivor to redeliver, one near-dup of a
    # stored doc; batch 2: a SMALLER id near-dup that takes over the
    # component rep slot, plus the batch-1 doc redelivered verbatim
    b1 = [
        (200, " ".join(near) + "."),
        (201, " ".join(f"f1_{j}" for j in range(20)) + "."),
    ]
    b2 = [
        (100, " ".join(base[:48] + ["q1", "q2"]) + "."),  # near-dup, id < 200
        (201, " ".join(f"f1_{j}" for j in range(20)) + "."),  # same-id redelivery
        (202, " ".join(f"f2_{j}" for j in range(20)) + "."),
    ]
    state = _run_stream(spark, tmp_path, old_rows, [b1, b2])

    distinct_new = b1 + [b2[0], b2[2]]
    full = prepare_clean_filter_dedup(
        spark.createDataFrame(old_rows + distinct_new, "doc_id long, text string"),
        corpus_n=len(old_rows),
        **LOOSE,
    )
    got = sorted(tuple(r) for r in state["output"].collect())
    want = sorted(tuple(r) for r in full.collect())
    assert got == want and len(got) > 0
    ids = {r[0] for r in got}
    # the redelivered doc appears exactly once; the near-dup family
    # (5, 100, 200) collapsed to its min id 5
    assert 201 in ids and 202 in ids
    assert 5 in ids and 100 not in ids and 200 not in ids


def test_stream_fold_of_fully_redelivered_batch_is_noop(spark, tmp_path):
    """A micro-batch consisting ONLY of already-folded documents (the
    pure at-least-once replay) must leave the state output unchanged —
    the survivor anti-join empties the fold."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_state,
    )

    old_rows = [(i, " ".join(f"r{i}_{j}" for j in range(22)) + ".") for i in range(4)]
    b1 = [(50, " ".join(f"nn_{j}" for j in range(20)) + ".")]
    state = _run_stream(spark, tmp_path, old_rows, [b1, b1])
    spark_old = spark.createDataFrame(old_rows + b1, "doc_id long, text string")
    want = clean_filter_dedup_state(spark_old, corpus_n=len(old_rows), **LOOSE)
    assert sorted(tuple(r) for r in state["output"].collect()) == sorted(
        tuple(r) for r in want["output"].collect()
    )
    assert state["survivors"].count() == len(old_rows) + 1


def test_stream_compaction_hook_keeps_state_flat_and_correct(spark, tmp_path):
    """compact_every=1 (r15 ADVICE): every fold compacts the refreshed
    state to bucketed tables and retires the superseded blocks, so
    after the stream drains the state frames are ZERO-union table
    scans (no per-fold plan growth) and the output still equals the
    full batch rebuild over the union."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        prepare_clean_filter_dedup,
    )

    old_rows = [(i, " ".join(f"c{i}_{j}" for j in range(22)) + ".") for i in range(4)]
    b1 = [(50, " ".join(f"s1_{j}" for j in range(20)) + ".")]
    b2 = [(60, " ".join(f"s2_{j}" for j in range(20)) + ".")]
    state = _run_stream(
        spark,
        tmp_path,
        old_rows,
        [b1, b2],
        compact_every=1,
        compact_to="strm_cmp_test",
        compact_path=str(tmp_path / "cmp"),
    )
    for key in ("survivors", "band_keys", "dg_members", "rep_digests", "pairs", "output"):
        p = state[key]._jdf.queryExecution().analyzed().toString()
        assert "Union" not in p and "LogicalRDD" not in p, key
    full = prepare_clean_filter_dedup(
        spark.createDataFrame(old_rows + b1 + b2, "doc_id long, text string"),
        corpus_n=len(old_rows),
        **LOOSE,
    )
    assert sorted(tuple(r) for r in state["output"].collect()) == sorted(
        tuple(r) for r in full.collect()
    )


def test_stream_migration_hook_rebands_at_boundary(spark, tmp_path):
    """migrate_banding=True (r16, VERDICT r15 item 4): a stream whose
    survivor count crosses the minhash_auto_params boundary at 100
    docs MID-STREAM must end with the banding re-trained to the new
    corpus size — batch 1 leaves the count under the boundary (the
    migration hook is a no-op there), batch 2 crosses it — and the
    final output hash-matches the full batch rebuild at the NEW
    params. A near-dup pair spanning old/new keeps the pair set
    non-trivial through the re-sign."""
    from build_datawarehouse_demo_spark.operators.dedup import minhash_auto_params
    from build_datawarehouse_demo_spark.plans.training_data import (
        prepare_clean_filter_dedup,
    )

    old_rows = [
        (i, " ".join(f"m{i}_{j}" for j in range(20)) + ".") for i in range(80)
    ]
    b1 = [
        (100 + i, " ".join(f"x1_{i}_{j}" for j in range(20)) + ".")
        for i in range(15)
    ]
    b2 = [
        (200 + i, " ".join(f"x2_{i}_{j}" for j in range(20)) + ".")
        for i in range(14)
    ]
    # near-dup of old doc 10 arriving after the boundary crossing
    b2.append((250, " ".join(f"m10_{j}" for j in range(18)) + " zz1 zz2."))
    state = _run_stream(
        spark, tmp_path, old_rows, [b1, b2], migrate_banding=True
    )
    n_final = state["survivors"].count()
    assert n_final == 110
    # the incremental survivor counter (r17: seeded once at wiring,
    # += fold delta) tracks the frame count exactly
    assert state["n_survivors"] == n_final
    # mid-stream: after batch 1 the count (95) is below the boundary
    assert minhash_auto_params(95) == minhash_auto_params(80)
    # the state was re-banded to the grown corpus's params
    assert (state["bands"], state["rows"]) == minhash_auto_params(n_final)
    assert (state["bands"], state["rows"]) != minhash_auto_params(len(old_rows))
    full = prepare_clean_filter_dedup(
        spark.createDataFrame(old_rows + b1 + b2, "doc_id long, text string"),
        corpus_n=n_final,
        **LOOSE,
    )
    assert sorted(tuple(r) for r in state["output"].collect()) == sorted(
        tuple(r) for r in full.collect()
    )


def _settled_persistent_rdd_ids(sc) -> set[int]:
    """Ids of the persistent RDDs once unreferenced ones are cleaned.
    A dropped DataFrame's cached or ``localCheckpoint`` RDD stays
    registered until Python releases its py4j proxies, the JVM collects
    the RDD, and Spark's ContextCleaner (polling every 100 ms) unpersists
    it — so a bare count races that cleanup. Collect on both sides and
    poll until the set holds still for two rounds. Only ids cross over:
    a py4j proxy held here would itself keep its RDD alive."""
    import gc
    import time

    prev = None
    for _ in range(40):
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.25)
        cur = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
        if cur == prev:
            return cur
        prev = cur
    return prev


def _describe_rdds(sc, ids) -> list[str]:
    """Name and creation call site of each persistent RDD in ``ids``."""
    rdds = sc._jsc.getPersistentRDDs()
    out = []
    for i in sorted(ids):
        r = rdds.get(i)
        if r is not None:
            out.append(f"{i} {r.rdd().name()} @ {r.rdd().getCreationSite()}")
    return out


def test_stream_soak_compaction_gc_and_cadence_across_restarts(spark, tmp_path):
    """Lifetime soak (r16, VERDICT r15 item 6 + the batch_id cadence
    ADVICE): 20 micro-batches across 4 stream RESTARTS from one
    checkpoint, compact_every=5, migration hook on (a no-op at this
    corpus size — the per-fold trigger path is exercised 20 times).
    After every restart's drain (each ends on a compacting batch_id):
    state frames are zero-union table scans, the warehouse holds
    exactly ONE generation of state tables (generation GC), retained
    persistent-RDD count is back at or below the post-build baseline,
    and the output equals the full batch rebuild — the lifetime
    contract the sink's docstring sells, proven at every compaction
    point. The batch_id-derived cadence is what makes compaction fire
    on batches 4/9/14/19 ACROSS restarts; a closure counter would
    reset to 0 at each restart and never fire."""
    import pyspark.sql.types as T

    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_state,
        prepare_clean_filter_dedup,
    )
    from build_datawarehouse_demo_spark.streaming.sinks import (
        stream_clean_filter_state_append,
    )

    sc = spark.sparkContext

    old_rows = [
        (i, " ".join(f"sk{i}_{j}" for j in range(20)) + ".") for i in range(4)
    ]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    holder = {"state": clean_filter_dedup_state(old, corpus_n=len(old_rows), **LOOSE)}
    holder["state"]["output"].count()
    base_ids = _settled_persistent_rdd_ids(sc)
    baseline = len(base_ids)

    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    all_rows = list(old_rows)
    frames = ("survivors", "band_keys", "dg_members", "rep_digests", "pairs", "output")
    for session in range(4):
        for b in range(5):
            i = session * 5 + b
            row = [(50 + i, " ".join(f"s{i}_{j}" for j in range(20)) + ".")]
            all_rows += row
            mode = "overwrite" if i == 0 else "append"
            spark.createDataFrame(row, "doc_id long, text string").coalesce(
                1
            ).write.mode(mode).parquet(feed)
        q = stream_clean_filter_state_append(
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(feed),
            holder,
            checkpoint_dir=ckpt,
            compact_every=5,
            compact_to="soak_cmp",
            compact_path=str(tmp_path / f"cmp{session}"),
            migrate_banding=True,
        )
        assert q.awaitTermination(300), session
        state = holder["state"]
        # incremental survivor counter equals the frame count at every
        # compaction point, across restarts with the same holder (r17)
        assert state["n_survivors"] == state["survivors"].count(), session
        # the drain ended on batch_id 4/9/14/19 -> compacted state
        for key in frames:
            p = state[key]._jdf.queryExecution().analyzed().toString()
            assert "Union" not in p and "LogicalRDD" not in p, (session, key)
        # one generation only: warehouse table count is constant
        gens = {
            t.name.split("_g", 1)[1].split("_", 1)[0]
            for t in spark.catalog.listTables()
            if t.name.startswith("soak_cmp_g")
        }
        assert len(gens) == 1, (session, gens)
        # retained blocks bounded: back at/below the post-build baseline
        ids = _settled_persistent_rdd_ids(sc)
        assert len(ids) <= baseline, (
            session, baseline, len(ids), _describe_rdds(sc, ids - base_ids)
        )
        # rebuild parity at this compaction point
        full = prepare_clean_filter_dedup(
            spark.createDataFrame(all_rows, "doc_id long, text string"),
            corpus_n=len(old_rows),
            **LOOSE,
        )
        assert sorted(tuple(r) for r in state["output"].collect()) == sorted(
            tuple(r) for r in full.collect()
        ), session


def test_stream_compact_every_requires_prefix(spark):
    import pytest

    from build_datawarehouse_demo_spark.streaming.sinks import (
        stream_clean_filter_state_append,
    )

    with pytest.raises(ValueError, match="compact_to"):
        stream_clean_filter_state_append(
            spark.readStream.format("rate").load(),
            {"state": {}},
            checkpoint_dir="/tmp/never",
            compact_every=2,
        )
