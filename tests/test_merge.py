"""File-level MERGE over partitioned parquet: blast radius (only
touched partitions rewritten — file-listing asserted), idempotent
replay, last-change-wins ordering, full-partition delete."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.merge import merge_into_partitioned_parquet


def _target(spark, path: str) -> None:
    rows = [
        # (id, part, v)
        (1, 1, 10.0),
        (2, 1, 20.0),
        (3, 2, 30.0),
        (4, 2, 40.0),
        (5, 3, 50.0),
    ]
    df = spark.createDataFrame(rows, "id long, part int, v double")
    df.write.mode("overwrite").partitionBy("part").parquet(path)


def _state(spark, path: str) -> set:
    return {
        (r.id, r.part, r.v) for r in spark.read.parquet(path).collect()
    }


def _part_files(path: str, part: int) -> dict[str, float]:
    d = os.path.join(path, f"part={part}")
    if not os.path.isdir(d):
        return {}
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


def test_merge_rewrites_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    _target(spark, path)
    before_p2 = _part_files(path, 2)
    before_p3 = _part_files(path, 3)
    assert before_p2 and before_p3

    feed = spark.createDataFrame(
        [(1, 1, 11.0, "U", 1), (6, 1, 60.0, "U", 1), (2, 1, 0.0, "D", 1)],
        "id long, part int, v double, op string, seq int",
    )
    touched = merge_into_partitioned_parquet(
        spark, path, feed, ["id"], ["seq", "id"], "part"
    )
    assert touched == [1]
    assert _state(spark, path) == {
        (1, 1, 11.0),  # updated
        (6, 1, 60.0),  # inserted
        (3, 2, 30.0),
        (4, 2, 40.0),
        (5, 3, 50.0),
    }
    # untouched partitions: exact same files, untouched mtimes
    assert _part_files(path, 2) == before_p2
    assert _part_files(path, 3) == before_p3


def test_merge_is_idempotent_on_replay(spark, tmp_path):
    path = str(tmp_path / "t")
    _target(spark, path)
    feed = spark.createDataFrame(
        [(3, 2, 33.0, "U", 1), (4, 2, 0.0, "D", 1)],
        "id long, part int, v double, op string, seq int",
    )
    merge_into_partitioned_parquet(spark, path, feed, ["id"], ["seq", "id"], "part")
    first = _state(spark, path)
    merge_into_partitioned_parquet(spark, path, feed, ["id"], ["seq", "id"], "part")
    assert _state(spark, path) == first == {
        (1, 1, 10.0),
        (2, 1, 20.0),
        (3, 2, 33.0),
        (5, 3, 50.0),
    }


def test_merge_last_change_wins_within_feed(spark, tmp_path):
    path = str(tmp_path / "t")
    _target(spark, path)
    feed = spark.createDataFrame(
        [
            (5, 3, 51.0, "U", 1),
            (5, 3, 52.0, "U", 2),  # later seq wins
            (1, 1, 0.0, "D", 1),
            (1, 1, 12.0, "U", 2),  # delete then re-insert: survives
            (2, 1, 21.0, "U", 1),
            (2, 1, 0.0, "D", 2),  # update then delete: gone
        ],
        "id long, part int, v double, op string, seq int",
    )
    merge_into_partitioned_parquet(spark, path, feed, ["id"], ["seq", "id"], "part")
    assert _state(spark, path) == {
        (1, 1, 12.0),
        (3, 2, 30.0),
        (4, 2, 40.0),
        (5, 3, 52.0),
    }


def test_merge_drops_fully_deleted_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    _target(spark, path)
    feed = spark.createDataFrame(
        [(5, 3, 0.0, "D", 1)],
        "id long, part int, v double, op string, seq int",
    )
    merge_into_partitioned_parquet(spark, path, feed, ["id"], ["seq", "id"], "part")
    # partition 3 emitted no rows: dynamic overwrite alone would keep
    # its stale files — the operator must remove the directory
    assert _part_files(path, 3) == {}
    assert _state(spark, path) == {
        (1, 1, 10.0),
        (2, 1, 20.0),
        (3, 2, 30.0),
        (4, 2, 40.0),
    }


def test_merge_empty_feed_is_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    _target(spark, path)
    before = {p: _part_files(path, p) for p in (1, 2, 3)}
    feed = spark.createDataFrame(
        [], "id long, part int, v double, op string, seq int"
    )
    assert merge_into_partitioned_parquet(
        spark, path, feed, ["id"], ["seq", "id"], "part"
    ) == []
    assert {p: _part_files(path, p) for p in (1, 2, 3)} == before


def test_merge_creates_new_partition_for_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    _target(spark, path)
    feed = spark.createDataFrame(
        [(9, 7, 90.0, "U", 1)],  # partition 7 does not exist yet
        "id long, part int, v double, op string, seq int",
    )
    touched = merge_into_partitioned_parquet(
        spark, path, feed, ["id"], ["seq", "id"], "part"
    )
    assert touched == [7]
    assert _part_files(path, 7)
    assert (9, 7, 90.0) in _state(spark, path)
    assert len(_state(spark, path)) == 6


def test_merge_version_aware_rejects_stale_changes(spark, tmp_path):
    """version_aware: a change older (by order_cols) than the stored
    row must lose — updates AND deletes — while genuinely newer
    changes still win. The target carries the order column."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 1, 10.0, 5), (2, 1, 20.0, 5), (3, 2, 30.0, 5)],
        "id long, part int, v double, seq int",
    )
    base.write.mode("overwrite").partitionBy("part").parquet(path)

    feed = spark.createDataFrame(
        [
            (1, 1, 11.0, "U", 3),  # stale update: loses to seq 5
            (2, 1, 0.0, "D", 4),   # stale delete: loses
            (3, 2, 33.0, "U", 9),  # newer update: wins
            (4, 2, 40.0, "U", 1),  # new key: inserts
        ],
        "id long, part int, v double, op string, seq int",
    )
    merge_into_partitioned_parquet(
        spark, path, feed, ["id"], ["seq", "id"], "part", version_aware=True
    )
    got = {(r.id, r.part, r.v, r.seq) for r in spark.read.parquet(path).collect()}
    assert got == {
        (1, 1, 10.0, 5),
        (2, 1, 20.0, 5),
        (3, 2, 33.0, 9),
        (4, 2, 40.0, 1),
    }


def test_merge_version_aware_delete_then_stale_update_across_batches(spark, tmp_path):
    """The tombstone case (round-7 ADVICE): a delete in one batch must
    PERSIST so a stale (lower-seq) update arriving in a LATER batch
    still loses — without stored tombstones the delete erases the
    key's order value and the stale update re-inserts the deleted key.
    Also: a genuinely NEWER update must supersede the tombstone (and
    clear it from the store)."""
    from build_datawarehouse_demo_spark.operators.merge import (
        tombstone_store_path,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 1, 10.0, 1), (2, 1, 20.0, 1), (9, 1, 90.0, 1)],
        "id long, part int, v double, seq int",
    )
    base.write.mode("overwrite").partitionBy("part").parquet(path)

    args = (["id"], ["seq", "id"], "part")
    # batch 1: delete keys 1 and 2 at seq 10 (key 9 stays live)
    merge_into_partitioned_parquet(
        spark,
        path,
        spark.createDataFrame(
            [(1, 1, 0.0, "D", 10), (2, 1, 0.0, "D", 10)],
            "id long, part int, v double, op string, seq int",
        ),
        *args,
        version_aware=True,
    )
    assert _state(spark, path) == {(9, 1, 90.0)}
    # tombstones persisted in the sibling store, not the data dir
    tombs = {
        (r.id, r.seq)
        for r in spark.read.parquet(tombstone_store_path(path)).collect()
    }
    assert tombs == {(1, 10), (2, 10)}

    # batch 2 (out of order): stale update for key 1 (seq 5 < 10) must
    # lose to the tombstone; newer update for key 2 (seq 20) must win
    merge_into_partitioned_parquet(
        spark,
        path,
        spark.createDataFrame(
            [(1, 1, 99.0, "U", 5), (2, 1, 22.0, "U", 20)],
            "id long, part int, v double, op string, seq int",
        ),
        *args,
        version_aware=True,
    )
    got = {(r.id, r.v, r.seq) for r in spark.read.parquet(path).collect()}
    assert got == {(2, 22.0, 20), (9, 90.0, 1)}
    # key 2's tombstone was superseded and cleared; key 1's remains
    tombs = {
        (r.id, r.seq)
        for r in spark.read.parquet(tombstone_store_path(path)).collect()
    }
    assert tombs == {(1, 10)}


def test_merge_tombstone_retention_bounds_store(spark, tmp_path):
    """VERDICT r7 item 3: the tombstone store must not grow forever.
    With tombstone_retention=H, a tombstone survives while the feed
    watermark (max order seen) stays within H of its order — a stale
    update inside that horizon still loses — and is dropped once the
    watermark passes order+H, after which an out-of-order change
    beyond the horizon is DOCUMENTED UNDEFINED (this test pins the
    actual behavior: it resurrects; the bounded promise is the point,
    same as a watermarked stream dropping late rows)."""
    import pytest

    from build_datawarehouse_demo_spark.operators.merge import (
        tombstone_store_path,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 1, 10.0, 1), (9, 1, 90.0, 1)],
        "id long, part int, v double, seq int",
    )
    base.write.mode("overwrite").partitionBy("part").parquet(path)
    args = (["id"], ["seq", "id"], "part")

    def feed(*rows):
        return spark.createDataFrame(
            list(rows), "id long, part int, v double, op string, seq int"
        )

    # delete key 1 at seq 10; horizon 5; watermark 10 -> tombstone kept
    merge_into_partitioned_parquet(
        spark, path, feed((1, 1, 0.0, "D", 10)), *args,
        version_aware=True, tombstone_retention=5,
    )
    tombs = {
        (r.id, r.seq)
        for r in spark.read.parquet(tombstone_store_path(path)).collect()
    }
    assert tombs == {(1, 10)}

    # stale update INSIDE the horizon (seq 9, watermark 9): still loses
    merge_into_partitioned_parquet(
        spark, path, feed((1, 1, 99.0, "U", 9)), *args,
        version_aware=True, tombstone_retention=5,
    )
    assert {r.id for r in spark.read.parquet(path).collect()} == {9}

    # watermark advances to 20: 10 < 20-5 -> tombstone dropped (BOUNDED
    # store — the whole point of the horizon)
    merge_into_partitioned_parquet(
        spark, path, feed((9, 1, 91.0, "U", 20)), *args,
        version_aware=True, tombstone_retention=5,
    )
    import os as _os

    store = tombstone_store_path(path)
    tomb_rows = (
        spark.read.parquet(store).collect() if _os.path.isdir(store) and
        any(f.startswith("part=") for f in _os.listdir(store)) else []
    )
    assert tomb_rows == []

    # beyond the horizon the contract is explicitly UNDEFINED — the
    # stale update now resurrects the key (documented, not asserted
    # away: this is the price of the bounded store)
    merge_into_partitioned_parquet(
        spark, path, feed((1, 1, 77.0, "U", 9)), *args,
        version_aware=True, tombstone_retention=5,
    )
    assert (1, 1, 77.0) in _state(spark, path)

    # retention without version_aware is a contract error
    with pytest.raises(ValueError, match="version_aware"):
        merge_into_partitioned_parquet(
            spark, path, feed((1, 1, 1.0, "U", 30)), *args,
            tombstone_retention=5,
        )


def test_merge_mode_mixing_fails_loudly(spark, tmp_path):
    """Round-7 ADVICE: a version_aware target has a persisted sibling
    tombstone store; a later non-version_aware merge would silently
    ignore it (deleted keys resurrect, stale store lingers) — it must
    raise instead."""
    import pytest

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 1, 10.0, 1)], "id long, part int, v double, seq int"
    )
    base.write.mode("overwrite").partitionBy("part").parquet(path)
    merge_into_partitioned_parquet(
        spark,
        path,
        spark.createDataFrame(
            [(1, 1, 0.0, "D", 10)],
            "id long, part int, v double, op string, seq int",
        ),
        ["id"],
        ["seq", "id"],
        "part",
        version_aware=True,
    )
    with pytest.raises(ValueError, match="tombstone store"):
        merge_into_partitioned_parquet(
            spark,
            path,
            spark.createDataFrame(
                [(1, 1, 5.0, "U", 2)],
                "id long, part int, v double, op string, seq int",
            ),
            ["id"],
            ["seq", "id"],
            "part",
        )
    # review finding r8: version_aware=True with op_col=None ALSO skips
    # the store (pure-upsert contest) — equally loud
    with pytest.raises(ValueError, match="tombstone store"):
        merge_into_partitioned_parquet(
            spark,
            path,
            spark.createDataFrame(
                [(1, 1, 5.0, 2)], "id long, part int, v double, seq int"
            ),
            ["id"],
            ["seq", "id"],
            "part",
            op_col=None,
            version_aware=True,
        )


def test_merge_blast_radius_guard(spark, tmp_path):
    """max_touched_partitions makes the driver-side collect of touched
    partition values an explicit, loudly-enforced contract."""
    import pytest

    path = str(tmp_path / "t")
    _target(spark, path)
    feed = spark.createDataFrame(
        [(100 + i, 100 + i, 1.0, "U", 1) for i in range(8)],
        "id long, part int, v double, op string, seq int",
    )
    with pytest.raises(ValueError, match="blast-radius"):
        merge_into_partitioned_parquet(
            spark,
            path,
            feed,
            ["id"],
            ["seq", "id"],
            "part",
            max_touched_partitions=5,
        )
    # under the cap it proceeds
    touched = merge_into_partitioned_parquet(
        spark, path, feed, ["id"], ["seq", "id"], "part", max_touched_partitions=8
    )
    assert len(touched) == 8


def test_stream_merge_version_aware_out_of_order_batches(spark, tmp_path):
    """Micro-batches delivered OUT of per-key order: batch files are
    processed oldest-file-first, but file 0 carries the NEWER seq.
    version_aware=True must converge to the per-key max-seq state
    anyway."""
    import tempfile

    from build_datawarehouse_demo_spark.streaming.sinks import (
        stream_merge_to_partitioned_parquet,
    )

    feed_dir = str(tmp_path / "feed")
    target = str(tmp_path / "target")
    # file 00000: newer changes; file 00001: stale ones
    spark.createDataFrame(
        [(1, 1, 100.0, "U", 10), (2, 1, 200.0, "U", 10)],
        "id long, part int, v double, op string, seq int",
    ).coalesce(1).write.mode("overwrite").parquet(feed_dir)
    spark.createDataFrame(
        [(1, 1, 1.0, "U", 2), (2, 1, 0.0, "D", 3), (3, 2, 30.0, "U", 1)],
        "id long, part int, v double, op string, seq int",
    ).coalesce(1).write.mode("append").parquet(feed_dir)

    feed = (
        spark.readStream.schema("id long, part int, v double, op string, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    q = stream_merge_to_partitioned_parquet(
        feed,
        target,
        key_cols=["id"],
        order_cols=["seq", "id"],
        partition_col="part",
        checkpoint_dir=str(tmp_path / "ckpt"),
        version_aware=True,
    )
    q.awaitTermination(120)
    got = {(r.id, r.v, r.seq) for r in spark.read.parquet(target).collect()}
    assert got == {(1, 100.0, 10), (2, 200.0, 10), (3, 30.0, 1)}


def test_stream_merge_delete_survives_later_stale_batch(spark, tmp_path):
    """Cross-batch tombstone through the streaming sink: batch 1
    deletes a key, batch 2 carries a STALE update for it — the key
    must stay deleted (batch-slicing independence for deletes, the
    exact failure the ADVICE flagged)."""
    from build_datawarehouse_demo_spark.streaming.sinks import (
        stream_merge_to_partitioned_parquet,
    )

    feed_dir = str(tmp_path / "feed")
    target = str(tmp_path / "target")
    # file 00000: upsert then delete (newer); file 00001: stale update
    spark.createDataFrame(
        [(1, 1, 10.0, "U", 1), (1, 1, 0.0, "D", 10), (2, 1, 20.0, "U", 1)],
        "id long, part int, v double, op string, seq int",
    ).coalesce(1).write.mode("overwrite").parquet(feed_dir)
    spark.createDataFrame(
        [(1, 1, 55.0, "U", 5)],
        "id long, part int, v double, op string, seq int",
    ).coalesce(1).write.mode("append").parquet(feed_dir)

    feed = (
        spark.readStream.schema("id long, part int, v double, op string, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    q = stream_merge_to_partitioned_parquet(
        feed,
        target,
        key_cols=["id"],
        order_cols=["seq", "id"],
        partition_col="part",
        checkpoint_dir=str(tmp_path / "ckpt"),
        version_aware=True,
    )
    q.awaitTermination(120)
    got = {(r.id, r.v, r.seq) for r in spark.read.parquet(target).collect()}
    assert got == {(2, 20.0, 1)}


def test_merge_delete_all_rows_keeps_table_readable(spark, tmp_path):
    """r20 (found by the hypothesis merge model): a feed that deletes
    the table's LAST rows removes every partition directory — the path
    must stay readable (empty, schema intact) and a later merge must
    bootstrap state correctly from it."""
    from build_datawarehouse_demo_spark.operators.merge import (
        merge_into_partitioned_parquet,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(0, 1, 5.0)], "id long, part int, v double"
    ).write.mode("overwrite").partitionBy("part").parquet(path)

    feed = spark.createDataFrame(
        [(0, 1, 0.0, "D", 1)], "id long, part int, v double, op string, seq int"
    )
    merge_into_partitioned_parquet(spark, path, feed, ["id"], ["seq", "id"], "part")

    back = spark.read.parquet(path)
    assert back.count() == 0
    assert set(back.columns) == {"id", "part", "v"}

    feed2 = spark.createDataFrame(
        [(7, 2, 9.0, "U", 1)], "id long, part int, v double, op string, seq int"
    )
    merge_into_partitioned_parquet(spark, path, feed2, ["id"], ["seq", "id"], "part")
    rows = {(r.id, r.part, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {(7, 2, 9.0)}


def test_merge_delete_all_rows_escapes_partition_path(spark, tmp_path):
    """Partition values needing Hive path escaping (space, ':' and '%'):
    deleting a partition's rows removes Spark's ESCAPED directory, and
    the schema anchor left after the last delete lands in the escaped
    directory, so readback keeps the schema and the partition value."""
    from build_datawarehouse_demo_spark.operators.merge import (
        merge_into_partitioned_parquet,
    )

    odd = "a b:c%"
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(0, odd, 5.0), (1, "plain", 6.0)], "id long, part string, v double"
    ).write.mode("overwrite").partitionBy("part").parquet(path)

    def delete(i, part):
        feed = spark.createDataFrame(
            [(i, part, 0.0, "D", 1)],
            "id long, part string, v double, op string, seq int",
        )
        merge_into_partitioned_parquet(spark, path, feed, ["id"], ["seq", "id"], "part")

    delete(1, "plain")
    assert {(r.id, r.part) for r in spark.read.parquet(path).collect()} == {(0, odd)}
    delete(0, odd)

    back = spark.read.parquet(path)
    assert back.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in back.schema.fields] == [
        ("id", "bigint"), ("v", "double"), ("part", "string"),
    ]
    # the anchor file sits in the partition directory Spark itself
    # names for `odd`, so partition discovery reads the value back
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    from urllib.parse import unquote

    (anchor,) = back.inputFiles()  # a URI: path characters %-encoded
    part_dir = unquote(anchor).rsplit("/", 2)[-2]
    assert part_dir == "part=a b%3Ac%25"
    assert utils.unescapePathName(part_dir.split("=", 1)[1]) == odd
