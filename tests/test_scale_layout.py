"""Physical-layout features that only matter at scale: bucketed joins
(no exchange), partitioned writes with dynamic partition pruning.

These are plan-shape assertions — the local data is tiny, but the plan
is what would execute on the 1000-executor cluster.
"""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.sources.writers import save_table


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    big = spark.range(50000).selectExpr("id AS k", "id * 2 AS v1")
    other = spark.range(50000).selectExpr("id AS k", "id * 3 AS v2")
    with tempfile.TemporaryDirectory() as d:
        save_table(big, "bt_big", bucket_by=(8, ("k",)), path=f"{d}/big")
        save_table(other, "bt_other", bucket_by=(8, ("k",)), path=f"{d}/other")
        yield "bt_big", "bt_other"
        for t in ("bt_big", "bt_other"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    a, b = bucketed_tables
    joined = spark.table(a).join(spark.table(b), "k")
    # force the sort-merge path so bucketing (not broadcast) is what
    # eliminates the exchange
    joined = spark.table(a).hint("merge").join(spark.table(b), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert joined.count() == 50000


def test_registered_bucketed_join_plan_is_shuffle_free(spark):
    """The registry entry join_bucketed_shuffle_free must deliver what
    its name claims: a sort-merge join with ZERO exchanges — the
    write-time bucket layout replaces the runtime shuffle (VERDICT
    round 2, item 6)."""
    from build_datawarehouse_demo_spark import registry

    q = registry.queries()["join_bucketed_shuffle_free"]
    df = q(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "Exchange" not in plan, plan[:2000]
    assert df.count() > 0
    for t in ("bj_lineitem", "bj_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_partitioned_write_enables_partition_pruning(spark):
    df = spark.range(10000).selectExpr("id", "CAST(id % 7 AS STRING) AS dt")
    with tempfile.TemporaryDirectory() as d:
        save_table(df, "pp_events", partition_by=("dt",), path=f"{d}/pp")
        pruned = spark.table("pp_events").filter(F.col("dt") == "3")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # partition filter must appear as PartitionFilters, not a scan
        # over all partitions + post-filter
        assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters", 1)[1][:200]
        assert pruned.count() == 10000 // 7 + (1 if 3 < 10000 % 7 else 0)
        spark.sql("DROP TABLE IF EXISTS pp_events")


def test_dynamic_partition_pruning_in_plan(spark):
    fact = spark.range(20000).selectExpr("id", "CAST(id % 10 AS STRING) AS dt")
    with tempfile.TemporaryDirectory() as d:
        save_table(fact, "dpp_fact", partition_by=("dt",), path=f"{d}/f")
        dim = spark.createDataFrame([("3", "x"), ("5", "y")], "dt string, tag string")
        dim.createOrReplaceTempView("dpp_dim")
        q = spark.sql(
            "SELECT count(*) AS n FROM dpp_fact f JOIN dpp_dim d ON f.dt = d.dt WHERE d.tag = 'x'"
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        assert q.collect()[0].n == 2000
        spark.sql("DROP TABLE IF EXISTS dpp_fact")


def test_registered_dpp_join_plan_prunes_at_runtime(spark):
    from build_datawarehouse_demo_spark.registry import queries

    q = queries()["join_partitioned_dpp"](spark, "/root/testdata/sf0.001")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # the join keeps only in-window weekday dates: non-empty, <= 5
    # distinct dates in a 31-day window
    n = q.count()
    assert 1 <= n <= 5


def test_clustered_write_files_cover_disjoint_ranges(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from build_datawarehouse_demo_spark.sources.writers import write_clustered

    df = spark.range(20000).selectExpr("id", "CAST(id % 9973 AS LONG) AS k")
    path = str(tmp_path / "clustered")
    write_clustered(df, path, ("k",), n_files=6)
    ranges = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(1).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 4  # range partitioner may merge tiny bounds
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping clustered files: {(lo1, hi1)} vs {(lo2, hi2)}"


def test_bloom_runtime_filter_injected_and_scoped(spark):
    """join_bloom_runtime_filter must really carry the injected
    might_contain() filter on the fact side, and its tuned injection
    thresholds must stay in the newSession clone — never the caller's
    session."""
    from build_datawarehouse_demo_spark import registry

    before = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    df = registry.queries()["join_bloom_runtime_filter"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan, plan[:2000]
    assert df.count() > 0
    after = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    assert after == before


def test_zorder_write_compact_in_both_dims(spark, tmp_path):
    """Z-ordered files must stay compact in BOTH dimensions: each
    file's min/max span should cover a small fraction of the global
    range for x AND y — a single-column sort can only deliver that
    for its own column (the control assertion shows exactly that)."""
    import glob

    import pyarrow.parquet as pq

    from build_datawarehouse_demo_spark.sources.writers import write_clustered, write_zordered

    n = 1 << 14
    # x walks the range, y is a decorrelated permutation of it
    df = spark.range(n).selectExpr("id AS x", f"CAST((id * 48271) % {n} AS LONG) AS y")

    def spans(path, colnames):
        out = {c: [] for c in colnames}
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            for c in colnames:
                i = names.index(c)
                sts = [md.row_group(rg).column(i).statistics for rg in range(md.num_row_groups)]
                out[c].append((min(s.min for s in sts), max(s.max for s in sts)))
        return out

    zpath = str(tmp_path / "zorder")
    write_zordered(df, zpath, "x", "y", n_files=16, bits=16)
    zs = spans(zpath, ["x", "y"])
    assert len(zs["x"]) >= 8
    for c in ("x", "y"):
        avg_span = sum(hi - lo for lo, hi in zs[c]) / len(zs[c])
        assert avg_span < 0.5 * n, f"z-order not compact in {c}: avg span {avg_span}"

    # control: x-only clustering leaves y spans ~ full range
    cpath = str(tmp_path / "xonly")
    write_clustered(df, cpath, ("x",), n_files=16)
    cs = spans(cpath, ["y"])
    avg_y = sum(hi - lo for lo, hi in cs["y"]) / len(cs["y"])
    assert avg_y > 0.9 * n, f"control unexpectedly compact in y: {avg_y}"


def test_clean_filter_front_arrow_is_narrow(spark):
    """The modern-cleaning-stack front (clean_filter_survivors, one
    fused Arrow kernel) must stay NARROW: ONE MapInPandas over the
    scan, zero Exchange, zero join — and ship only (id, text) into the
    Python boundary (columns are pruned before it)."""
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_survivors,
    )

    df = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog.\nanother "
                "line with the same terminal punctuation style here.", "x")
            for i in range(10)
        ],
        "doc_id long, text string, extra string",
    )
    qe = clean_filter_survivors(
        df, min_words=3, min_stopword_hits=1, clf_threshold=0.0
    )._jdf.queryExecution()
    physical = qe.executedPlan().toString()
    assert "Exchange" not in physical, physical[:2000]
    assert "Join" not in physical, physical[:2000]
    assert physical.count("MapInPandas") == 1, physical[:2000]
    # the explicit (id, text) select prunes every other column before
    # the Python boundary: neither the MapInPandas argument list nor
    # the Project feeding it may reference `extra` (the scan line
    # legitimately lists the source's full schema)
    above_scan = physical.split("Scan", 1)[0]
    assert "extra" not in above_scan, physical[:2000]
