"""Streaming dedup (streaming/dedup.py): duplicates redelivered across
DIFFERENT micro-batches must still collapse to one row — that is the
property watermark-bounded keyed state buys over per-batch distinct."""

from __future__ import annotations

import tempfile

from build_datawarehouse_demo_spark.sources.readers import read_parquet
from build_datawarehouse_demo_spark.streaming.dedup import dedup_event_stream
from tests.stream_harness import read_event_stream, run_stream_to_memory

SF_DIR = "/root/testdata/sf0.001"

COLS = ["event_id", "user_id", "event_type", "ts", "value"]


def test_event_id_determines_payload_in_testdata(spark):
    """The streaming_dedup_ids oracle (whole-row DISTINCT over a
    doubled input) is equivalent to dropDuplicates(['event_id']) only
    while event_id determines the payload. dropDuplicates keeps an
    ARBITRARY row per key, so a genuine key collision (same id,
    different payload) would make the entry nondeterministic and the
    oracle wrong — pin the invariant so regenerated testdata that
    breaks it fails loudly here, not as a driver hash mismatch."""
    from pyspark.sql import functions as F

    for sf in ("sf0.001", "sf0.01"):
        ev = read_parquet(spark, f"/root/testdata/{sf}/events.parquet")
        row = ev.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("n_ids"),
        ).collect()[0]
        assert row.n == row.n_ids, f"{sf}: duplicate event_id in testdata"


def test_stream_dedup_across_batches_equals_batch(spark):
    ev = read_parquet(spark, f"{SF_DIR}/events.parquet").select(*COLS)
    with tempfile.TemporaryDirectory() as tmpdir:
        # two identical files -> with maxFilesPerTrigger=1 every event is
        # redelivered in a LATER micro-batch, so only cross-batch state
        # can drop the copies.
        ev.coalesce(1).write.mode("overwrite").parquet(tmpdir)
        ev.coalesce(1).write.mode("append").parquet(tmpdir)

        batch = dedup_event_stream(spark.read.parquet(tmpdir).select(*COLS))
        stream = dedup_event_stream(
            read_event_stream(spark, tmpdir, max_files_per_trigger=1).select(*COLS)
        )
        assert stream.isStreaming
        run_stream_to_memory(stream, "dedup_out", output_mode="append")
        got = {tuple(r) for r in spark.sql("SELECT * FROM dedup_out").collect()}
        want = {tuple(r) for r in batch.collect()}
        n_input = spark.read.parquet(tmpdir).count()
        assert len(want) * 2 == n_input  # every row really was duplicated
        assert got == want and len(got) > 0


def test_stream_neardup_across_batches_equals_batch(spark):
    """Streaming NEAR-dup dedup (VERDICT r8 item 5): near-duplicate
    documents — same SimHash signature, not necessarily same bytes or
    id — redelivered in LATER micro-batches still collapse to one
    survivor per signature, and the surviving signature set equals the
    deterministic batch twin's. Also pins narrow ≡ exploded signature
    equivalence against the batch simhash operator."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from build_datawarehouse_demo_spark.operators.dedup import simhash
    from build_datawarehouse_demo_spark.streaming.dedup import (
        neardup_document_stream,
        simhash_narrow,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    # doc 2 = doc 1 word-permuted (same distinct-token set -> identical
    # signature); doc 4 = doc 3 re-ordered; doc 5 unrelated
    rows1 = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank", "2024-01-01 10:00:00"),
        (3, "alpha beta gamma delta epsilon zeta eta theta", "2024-01-01 10:00:30"),
    ]
    rows2 = [
        (2, "quick the brown fox jumps over lazy the dog near river the bank", "2024-01-01 10:01:00"),
        (4, "theta eta zeta epsilon delta gamma beta alpha", "2024-01-01 10:01:30"),
        (5, "completely different content about spark streaming state stores", "2024-01-01 10:02:00"),
    ]
    schema = "doc_id long, text string, ts string"

    def mk(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    # narrow == exploded signature on the union (the contract the
    # registry entry re-verifies corpus-wide)
    union = mk(rows1 + rows2)
    narrow = {r.doc_id: r.simhash for r in simhash_narrow(union).collect()}
    exploded = {r.doc_id: r.simhash for r in simhash(union).collect()}
    assert narrow == exploded
    assert narrow[1] == narrow[2] and narrow[3] == narrow[4]
    assert len({narrow[1], narrow[3], narrow[5]}) == 3

    with tempfile.TemporaryDirectory() as tmpdir:
        mk(rows1).coalesce(1).write.mode("overwrite").parquet(tmpdir)
        mk(rows2).coalesce(1).write.mode("append").parquet(tmpdir)
        sch = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        stream = neardup_document_stream(
            spark.readStream.format("parquet")
            .schema(sch)
            .option("maxFilesPerTrigger", "1")
            .load(tmpdir)
        )
        assert stream.isStreaming
        run_stream_to_memory(stream, "neardup_out", output_mode="append")
        got = spark.sql("SELECT * FROM neardup_out").collect()
        batch = neardup_document_stream(spark.read.parquet(tmpdir)).collect()
        # one survivor per signature on both forms; identical signature
        # sets; batch survivor is the min id of its cluster
        assert sorted(r.simhash for r in got) == sorted(r.simhash for r in batch)
        assert len(got) == 3
        assert {r.doc_id for r in batch} == {1, 3, 5}
        assert {(r.simhash, r.cluster_size) for r in batch} == {
            (narrow[1], 2), (narrow[3], 2), (narrow[5], 1)
        }


def test_stream_pipeline_front_across_batches_equals_batch(spark):
    """The composed streaming front-half (VERDICT r9 item 4:
    prepare_document_stream = clean → langid → quality filter →
    near-dup collapse as ONE query): junk documents are filtered
    in-stream, near-duplicate survivors redelivered in LATER
    micro-batches still collapse, and the surviving signature set
    equals the deterministic batch twin's (the registry entry
    streaming_pipeline_front_batch carries the corpus-wide oracle)."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from build_datawarehouse_demo_spark.streaming.dedup import (
        prepare_document_stream,
    )

    rows1 = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank", "2024-01-01 10:00:00"),
        (3, "alpha beta gamma delta epsilon zeta eta theta and the old mill is near", "2024-01-01 10:00:30"),
        # junk: no language hit -> pred_lang 'und' -> filtered BOTH ways
        (6, "zzz9 qqq8 xxx7 vvv6 kkk5 mmm4 nnn3 ppp2", "2024-01-01 10:00:45"),
    ]
    rows2 = [
        # near-dup of 1 (word permutation, same distinct-token set),
        # delivered in a LATER micro-batch — only cross-batch state drops it
        (2, "quick the brown fox jumps over lazy the dog near river the bank", "2024-01-01 10:01:00"),
        (5, "a completely different story about the spark streaming state stores and the sinks", "2024-01-01 10:02:00"),
    ]
    schema = "doc_id long, text string, ts string"

    def mk(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    with tempfile.TemporaryDirectory() as tmpdir:
        mk(rows1).coalesce(1).write.mode("overwrite").parquet(tmpdir)
        mk(rows2).coalesce(1).write.mode("append").parquet(tmpdir)
        sch = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        stream = prepare_document_stream(
            spark.readStream.format("parquet")
            .schema(sch)
            .option("maxFilesPerTrigger", "1")
            .load(tmpdir)
        )
        assert stream.isStreaming
        run_stream_to_memory(stream, "front_out", output_mode="append")
        got = spark.sql("SELECT * FROM front_out").collect()
        batch = prepare_document_stream(spark.read.parquet(tmpdir)).collect()
        # junk filtered on both forms; near-dup collapsed across batches
        assert {r.doc_id for r in got} <= {1, 2, 3, 5}
        assert {r.doc_id for r in batch} == {1, 3, 5}
        assert sorted(r.simhash for r in got) == sorted(r.simhash for r in batch)
        by_id = {r.doc_id: r for r in batch}
        assert by_id[1].cluster_size == 2  # docs 1+2 one cluster
        # feature columns ride through the stream
        assert all(r.pred_lang == "en" and r.quality >= 0.3 for r in got)


def test_simhash_narrow_wide_signature_parity(spark):
    """The narrow signature's hash60 path (bits > 32 — what the
    auto-width lane uses past ~2M docs) must match the batch exploded
    operator bit-for-bit, same as the 32-bit path; and widths past the
    60-bit source hash are rejected on both forms."""
    import pytest
    from pyspark.sql import functions as F

    from build_datawarehouse_demo_spark.operators.dedup import simhash
    from build_datawarehouse_demo_spark.streaming.dedup import simhash_narrow

    df = spark.createDataFrame(
        [(i, f"token{i % 7} alpha beta gamma delta w{i % 13} z{i % 3}") for i in range(60)],
        "doc_id long, text string",
    )
    for bits in (40, 60):
        narrow = {r.doc_id: r.simhash for r in simhash_narrow(df, bits=bits).collect()}
        batch = {r.doc_id: r.simhash for r in simhash(df, bits=bits).collect()}
        assert narrow == batch, bits
    with pytest.raises(ValueError, match="60"):
        simhash_narrow(df, bits=61)
