"""SCD2 history semantics + incremental-rollup ≡ full-rebuild."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.scd import (
    scd2_apply,
    scd2_bootstrap,
    upsert,
)
from build_datawarehouse_demo_spark.plans.rollup import (
    incremental_rollup_update,
    rollup_events_hourly,
)
from build_datawarehouse_demo_spark.sources.readers import read_parquet

SF_DIR = "/root/testdata/sf0.001"


def _ts(s):
    return dt.datetime.fromisoformat(s)


def scd2_as_of(history, ts: str):
    """Point-in-time view: the version of every key valid at ``ts``."""
    t = F.lit(ts).cast("timestamp")
    return history.filter((F.col("valid_from") <= t) & (F.col("valid_to") > t))


def test_upsert_overwrites_and_keeps(spark):
    cur = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    got = {(r.k, r.v) for r in upsert(cur, upd, "k").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_scd2_close_insert_and_point_in_time(spark):
    snap = spark.createDataFrame(
        [(1, "alice", _ts("2020-01-01 00:00:00")), (2, "bob", _ts("2020-01-01 00:00:00"))],
        "k long, name string, effective_ts timestamp",
    )
    hist = scd2_bootstrap(snap)
    upd = spark.createDataFrame(
        [(1, "alicia", _ts("2021-06-01 00:00:00")), (2, "bob", _ts("2021-06-01 00:00:00"))],
        "k long, name string, effective_ts timestamp",
    )
    hist2 = scd2_apply(hist, upd, key="k", tracked_cols=("name",))
    rows = sorted(
        ((r.k, r.name, r.is_current) for r in hist2.collect())
    )
    # key 2 unchanged -> no new version; key 1 gets closed + new row
    assert rows == [(1, "alice", False), (1, "alicia", True), (2, "bob", True)]
    asof_2020 = {(r.k, r.name) for r in scd2_as_of(hist2, "2020-07-01 00:00:00").collect()}
    asof_2022 = {(r.k, r.name) for r in scd2_as_of(hist2, "2022-01-01 00:00:00").collect()}
    assert asof_2020 == {(1, "alice"), (2, "bob")}
    assert asof_2022 == {(1, "alicia"), (2, "bob")}


def test_incremental_rollup_equals_full_rebuild(spark):
    events = read_parquet(spark, f"{SF_DIR}/events.parquet")
    cutoff = "2024-01-15 06:30:00"  # mid-range of the Jan-2024 events
    old, new = events.filter(F.col("ts") < F.lit(cutoff).cast("timestamp")), events
    # first run on the old half, then incremental update with the full set
    r1 = incremental_rollup_update(None, old)
    r2 = incremental_rollup_update(r1, new)
    full = rollup_events_hourly(events)
    assert {tuple(r) for r in r2.collect()} == {tuple(r) for r in full.collect()}


def test_incremental_rollup_unaligned_tolerance(spark):
    """Advisor repro (ADVICE round 1, high): a late event within a
    30-min tolerance on 1-hour buckets must not shrink its bucket —
    the cutoff has to floor to the bucket boundary."""
    base = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:05:00"), "click", 1.0),
            (2, _ts("2024-01-01 10:20:00"), "click", 1.0),
            (3, _ts("2024-01-01 11:10:00"), "click", 1.0),
        ],
        "event_id long, ts timestamp, event_type string, value double",
    )
    # late event lands at 10:40 — inside the 30-min tolerance measured
    # from the 11:00 high-water bucket, but BEFORE 11:00 - 30min = 10:30
    late = spark.createDataFrame(
        [(4, _ts("2024-01-01 10:40:00"), "click", 1.0)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    r1 = incremental_rollup_update(None, base)
    r2 = incremental_rollup_update(
        r1, base.unionAll(late), late_tolerance=dt.timedelta(minutes=30)
    )
    full = rollup_events_hourly(base.unionAll(late))
    assert {tuple(r) for r in r2.collect()} == {tuple(r) for r in full.collect()}
    # the 10:00 bucket specifically must count all 3 of its events
    got = {
        (r.window_start, r.n_events)
        for r in r2.filter(F.col("window_start") == F.lit("2024-01-01 10:00:00").cast("timestamp")).collect()
    }
    assert got == {(_ts("2024-01-01 10:00:00"), 3)}


def test_incremental_rollup_bootstrap_none(spark):
    events = read_parquet(spark, f"{SF_DIR}/events.parquet")
    r = incremental_rollup_update(None, events)
    assert {tuple(x) for x in r.collect()} == {
        tuple(x) for x in rollup_events_hourly(events).collect()
    }


def test_apply_cdc_changes_last_wins_and_tombstones(spark):
    from build_datawarehouse_demo_spark.operators.scd import apply_cdc_changes

    feed = spark.createDataFrame(
        [
            # key 1: U then U — last price wins
            (1, "U", 1, 10.0),
            (1, "U", 2, 20.0),
            # key 2: U then D — disappears
            (2, "U", 1, 5.0),
            (2, "D", 2, None),
            # key 3: D then U — resurrected by the later upsert
            (3, "D", 1, None),
            (3, "U", 2, 7.0),
            # key 4: same seq would be ambiguous; unique seq is the contract
            (4, "U", 9, 1.0),
        ],
        "k long, op string, seq long, price double",
    )
    got = {
        r["k"]: r["price"]
        for r in apply_cdc_changes(feed, key_cols=["k"], order_cols=["seq"]).collect()
    }
    assert got == {1: 20.0, 3: 7.0, 4: 1.0}
