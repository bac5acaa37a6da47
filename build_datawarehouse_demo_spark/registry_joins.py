"""Join keys (``join_*``, ``skew_*``): equi, lookup, as-of, interval,
range, fuzzy, bucketed, dynamic-partition-pruned and bloom-filtered
joins, and the salted and AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.registry import register
from build_datawarehouse_demo_spark.registry_common import (
    _bucketed_scratch_dir,
    _t,
)


def _ensure_bucketed_join_tables(spark, sf_dir: str, force: bool = False) -> None:
    """Write the bucketed+sorted fact tables once per (session, sf_dir).

    The write-once half of the bucketed-join amortization story: the
    shuffle is paid at ingest (join_bucketed_build, always-write) and
    every later join is exchange-free (join_bucketed_shuffle_free,
    which skips the write when this session already built the same
    sf_dir). A different sf_dir invalidates and rebuilds — the memo is
    a single slot, mirroring register_star_views."""
    from build_datawarehouse_demo_spark.sources.writers import save_table

    if not force and getattr(spark, "_graft_bj_key", None) == sf_dir:
        return
    base = _bucketed_scratch_dir()
    li = _t(spark, sf_dir, "lineitem", rebalance=False).select(
        "l_orderkey", "l_linenumber"
    )
    orders = _t(spark, sf_dir, "orders", rebalance=False).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    save_table(li, "bj_lineitem", bucket_by=(8, ("l_orderkey",)), path=f"{base}/li")
    save_table(orders, "bj_orders", bucket_by=(8, ("o_orderkey",)), path=f"{base}/o")
    spark._graft_bj_key = sf_dir


def _ensure_dpp_events(spark, sf_dir: str) -> None:
    """Write events partitioned by event_date once per (session,
    sf_dir) — the layout half of the dynamic-partition-pruning story
    (join_partitioned_dpp), same single-slot memo contract as
    _ensure_bucketed_join_tables."""
    from build_datawarehouse_demo_spark.sources.writers import save_table

    if getattr(spark, "_graft_dpp_key", None) == sf_dir:
        return
    ev = _t(spark, sf_dir, "events", rebalance=False).withColumn(
        "event_date", F.to_date("ts")
    )
    save_table(
        ev,
        "dpp_events",
        partition_by=("event_date",),
        path=f"{_bucketed_scratch_dir()}/dpp_events",
    )
    spark._graft_dpp_key = sf_dir


# ------------------------------------------------------------------
# skew mitigation (operators/skew.py) — result-identical to the
# plain join/agg, only the physical distribution changes, so the
# plain SQL IS the oracle.
# ------------------------------------------------------------------

@register(
    "skew_salted_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, s.s_name
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_suppkey").alias("suppkey")
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    return salted_join(li, sup, "suppkey").select("l_orderkey", "l_linenumber", "s_name")


@register(
    "skew_salted_count",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def q_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.skew import salted_count_per_key

    return salted_count_per_key(_t(spark, sf_dir, "events"), "event_type").select(
        "event_type", "n"
    )


# ------------------------------------------------------------------
# custom operators Spark lacks natively
# ------------------------------------------------------------------

@register(
    "join_asof",
    oracle="""
    WITH b AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, b.o_orderkey AS last_orderkey,
           b.o_orderdate AS asof_time
    FROM events e
    ASOF LEFT JOIN b ON e.user_id = b.o_custkey AND e.ts >= b.o_orderdate
    """,
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of join via union + carry-forward window (operators/
    # asof.py) — checked against DuckDB's native ASOF JOIN. The
    # build side is pre-aggregated to unique (key, time) so "latest
    # row" is well-defined in both engines.
    from build_datawarehouse_demo_spark.operators.asof import asof_join
    from build_datawarehouse_demo_spark.sources.readers import read_parquet

    # no rebalance, no pre-agg groupBy: the window's
    # hashpartitioning(user_id) is the operator's ONE shuffle;
    # duplicate (key, date) build rows resolve to max orderkey via
    # build_order instead of an aggregation exchange.
    events = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", F.col("user_id"), "ts"
    )
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        F.col("o_orderkey").alias("last_orderkey"),
    )
    out = asof_join(
        events,
        orders,
        key="user_id",
        probe_time="ts",
        build_time="o_orderdate",
        build_cols=("last_orderkey",),
        build_order=("last_orderkey",),
    )
    return out.select("event_id", "user_id", "last_orderkey", "asof_time")


@register(
    "join_range_bucketed",
    oracle="""
    WITH bands AS (
      SELECT CAST(range AS INTEGER) AS band_id,
             CAST(range * 60000 AS DOUBLE) AS lo,
             CAST((range + 1) * 60000 AS DOUBLE) AS hi
      FROM range(12)
    )
    SELECT o.o_orderkey, b.band_id
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # interval-containment join rewritten as a grid-bucket
    # equi-join (operators/asof.py:range_join_bucketed); the oracle
    # states the naive inequality-join semantics.
    from build_datawarehouse_demo_spark.operators.asof import range_join_bucketed

    bands = spark.range(12).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * 60000).cast("double").alias("lo"),
        ((F.col("id") + 1) * 60000).cast("double").alias("hi"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = range_join_bucketed(orders, bands, "o_totalprice", "lo", "hi", bucket_width=20000.0)
    return out.select("o_orderkey", "band_id")


@register(
    "join_bucketed_build",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    """,
)
def q_bucketed_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the INGEST half of the bucketed fact-fact join: always
    # writes both bucketed+sorted tables (the one shuffle the
    # layout ever pays), then reads the orders side back through
    # the catalog so the oracle checks the persisted round-trip.
    # join_bucketed_shuffle_free is the amortized steady state.
    _ensure_bucketed_join_tables(spark, sf_dir, force=True)
    return spark.table("bj_orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "join_bucketed_shuffle_free",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # THE canonical 100 TB fact-fact join (VERDICT round 2 item 6):
    # write both sides bucketed+sorted on the join key, and the
    # sort-merge join needs NO exchange on either side — the
    # shuffle is paid once at write time and amortized over every
    # later join. tests/test_scale_layout.py plan-asserts zero
    # Exchange under this entry's join. The merge hint forces the
    # sort-merge path so bucketing, not a broadcast, is what
    # eliminates the exchanges. The build is memoized per
    # (session, sf_dir) — join_bucketed_build is the always-write
    # half — so repeated runs time the join alone, which is
    # exactly the amortized steady state the layout buys.
    _ensure_bucketed_join_tables(spark, sf_dir)
    return (
        spark.table("bj_lineitem")
        .hint("merge")
        .join(
            spark.table("bj_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_linenumber", "o_custkey", "o_totalprice")
    )


@register(
    "join_partitioned_dpp",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE (CAST(ts AS DATE) - DATE '1970-01-01') % 7 = 2
      AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'
    GROUP BY 1
    """,
)
def q_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dynamic partition pruning: the fact is WRITTEN partitioned by
    # event_date (memoized, the same write-once amortization as the
    # bucketed join); the dim filter (day-of-week) is not knowable
    # at compile time, so Catalyst injects a dynamicpruning
    # subquery that reuses the dim broadcast to skip fact
    # partitions at RUNTIME — at 100 TB the scan reads ~1/7 of the
    # partitions instead of all of them. tests/test_scale_layout.py
    # plan-asserts the dynamicpruning expression under this entry.
    # Day-of-week is epoch-day % 7 (engine-neutral: Spark and
    # DuckDB weekday numbering conventions differ).
    _ensure_dpp_events(spark, sf_dir)
    dim = spark.sql(
        "SELECT d AS event_date, datediff(d, DATE'1970-01-01') % 7 AS dow "
        "FROM (SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-31')) AS d)"
    )
    return (
        spark.table("dpp_events")
        .join(dim.filter("dow = 2"), "event_date")
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
            "n_events",
            "sum_value",
        )
    )


# ------------------------------------------------------------------
# §2.3 joins
# ------------------------------------------------------------------

@register(
    "join_inner_single_key",
    oracle="""
    WITH ex AS (
      SELECT p_partkey, trim(w) AS word
      FROM part, unnest(string_split(p_name, ' ')) AS t(w)
      WHERE w IS NOT NULL AND trim(w) <> ''
    ),
    dim AS (
      SELECT CAST(row_number() OVER (ORDER BY word) AS INTEGER) AS word_id, word
      FROM (SELECT DISTINCT word FROM ex)
    )
    SELECT e.p_partkey, d.word_id, e.word FROM ex e JOIN dim d USING (word)
    """,
)
def q_join_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the category-bridge pattern: explode + dedup dim + surrogate
    # key + broadcast join back (reference transformation.py:149-168).
    from build_datawarehouse_demo_spark.operators.flatten import explode_delimited
    from build_datawarehouse_demo_spark.operators.joins import broadcast_dim_join
    from build_datawarehouse_demo_spark.operators.keys import surrogate_key_rownum

    ex = explode_delimited(
        _t(spark, sf_dir, "part", rebalance=False), "p_name", "word", keep_cols=("p_partkey",), sep=" "
    )
    dim = surrogate_key_rownum(
        ex.select("word").dropDuplicates(), order_by=("word",), key_col="word_id"
    )
    return broadcast_dim_join(ex, dim, on="word").select("p_partkey", "word_id", "word")


@register(
    "join_inner_multi_key",
    oracle="""
    WITH dim AS (
      SELECT CAST(row_number() OVER (ORDER BY p_brand, p_type) AS INTEGER) AS combo_id,
             p_brand, p_type
      FROM (SELECT DISTINCT p_brand, p_type FROM part)
    )
    SELECT p.p_partkey, d.combo_id
    FROM part p JOIN dim d ON p.p_brand = d.p_brand AND p.p_type = d.p_type
    """,
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-key attribute-bridge join (reference transformation.py:191-196)
    from build_datawarehouse_demo_spark.operators.joins import broadcast_dim_join
    from build_datawarehouse_demo_spark.operators.keys import surrogate_key_rownum

    part = _t(spark, sf_dir, "part", rebalance=False)
    dim = surrogate_key_rownum(
        part.select("p_brand", "p_type").dropDuplicates(),
        order_by=("p_brand", "p_type"),
        key_col="combo_id",
    )
    return broadcast_dim_join(part, dim, on=["p_brand", "p_type"]).select("p_partkey", "combo_id")


@register(
    "join_left_single_key",
    oracle="""
    SELECT o.o_orderkey, rich.c_name
    FROM orders o
    LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000) rich
      ON o.o_custkey = rich.c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    # left join keeping misses as nulls
    # (reference transformation.py:396,406).
    from build_datawarehouse_demo_spark.operators.joins import broadcast_dim_join

    orders = _t(spark, sf_dir, "orders", rebalance=False).select("o_orderkey", "o_custkey")
    rich = (
        _t(spark, sf_dir, "customer", rebalance=False)
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("o_custkey"), "c_name")
    )
    return broadcast_dim_join(orders, rich, on="o_custkey", how="left").select(
        "o_orderkey", "c_name"
    )


@register(
    "join_lookup_date_inner",
    oracle="""
    WITH spine AS (
      SELECT CAST(datediff('day', DATE '2024-01-01', CAST(d AS DATE)) AS INTEGER) AS datetime_id,
             strftime(d, '%Y-%m-%d') AS date_key
      FROM generate_series(DATE '2024-01-01', DATE '2024-01-15', INTERVAL 1 DAY) AS t(d)
    )
    SELECT e.event_id, s.datetime_id
    FROM events e JOIN spine s ON strftime(e.ts, '%Y-%m-%d') = s.date_key
    """,
)
def q_date_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dict-lookup join, drop-miss mode — the checkin pattern
    # (reference transformation.py:249,266-269), declared as a
    # broadcast hash join.
    from build_datawarehouse_demo_spark.operators.joins import resolve_datetime_id
    from build_datawarehouse_demo_spark.sources.generators import gen_date_range

    spine = gen_date_range(spark, "2024-01-01", "2024-01-15")
    out = resolve_datetime_id(
        _t(spark, sf_dir, "events", rebalance=False), spine, F.date_format("ts", "yyyy-MM-dd"), drop_miss=True
    )
    return out.select("event_id", "datetime_id")


@register(
    "join_lookup_date_left",
    oracle="""
    WITH spine AS (
      SELECT CAST(datediff('day', DATE '2024-01-01', CAST(d AS DATE)) AS INTEGER) AS datetime_id,
             strftime(d, '%Y-%m-%d') AS date_key
      FROM generate_series(DATE '2024-01-01', DATE '2024-01-15', INTERVAL 1 DAY) AS t(d)
    )
    SELECT e.event_id, s.datetime_id
    FROM events e LEFT JOIN spine s ON strftime(e.ts, '%Y-%m-%d') = s.date_key
    """,
)
def q_date_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keep-null mode — the review/tip/weather pattern
    # (reference transformation.py:334-351,423-436,453-470).
    from build_datawarehouse_demo_spark.operators.joins import resolve_datetime_id
    from build_datawarehouse_demo_spark.sources.generators import gen_date_range

    spine = gen_date_range(spark, "2024-01-01", "2024-01-15")
    out = resolve_datetime_id(
        _t(spark, sf_dir, "events", rebalance=False), spine, F.date_format("ts", "yyyy-MM-dd"), drop_miss=False
    )
    return out.select("event_id", "datetime_id")


# ------------------------------------------------------------------
# set-similarity join with prefix filtering
# ------------------------------------------------------------------

@register(
    "join_fuzzy_jaccard_prefix",
    oracle=r"""
    WITH lt AS (
      SELECT doc_id AS l_id,
             list_distinct(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                       x -> x <> '')) AS ts
      FROM documents
    ),
    rt AS (
      SELECT doc_id AS r_id,
             list_distinct(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                       x -> x <> '')) AS ts
      FROM documents WHERE doc_id % 7 = 0
    ),
    pairs AS (
      SELECT l_id, r_id,
             len(list_intersect(lt.ts, rt.ts)) AS n_inter,
             len(lt.ts) AS nl, len(rt.ts) AS nr
      FROM lt, rt
      WHERE len(lt.ts) > 0 AND len(rt.ts) > 0
    )
    SELECT l_id, r_id, CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_inter AS DOUBLE) / (nl + nr - n_inter) AS jaccard
    FROM pairs
    WHERE CAST(n_inter AS DOUBLE) / (nl + nr - n_inter) >= 0.9
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table token-set Jaccard join at t=0.9 via prefix
    filtering (operators/fuzzy_join.py): equi-joins on rare-first
    prefix tokens replace the cross product; the oracle computes
    the quadratic truth directly, so lossless-ness is what the
    hash-match proves."""
    from build_datawarehouse_demo_spark.operators.fuzzy_join import (
        fuzzy_jaccard_join,
    )

    docs = _t(spark, sf_dir, "documents")
    left = docs.select(F.col("doc_id").alias("l_id"), "text")
    right = docs.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("r_id"), "text"
    )
    return fuzzy_jaccard_join(left, right, threshold=0.9)


# ------------------------------------------------------------------
# forward as-of join (next-reading lookup)
# ------------------------------------------------------------------

@register(
    "join_asof_forward",
    oracle="""
    WITH b AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS next_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, b.next_orderkey,
           b.o_orderdate AS asof_time
    FROM events e
    ASOF LEFT JOIN b ON e.user_id = b.o_custkey AND e.ts <= b.o_orderdate
    """,
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/asof.py, direction=
    "forward"): each event annotated with the EARLIEST order at or
    after it — the next-reading/next-version lookup, checked
    against DuckDB's native forward ASOF JOIN. Same one-shuffle
    union+carry shape as the backward form, with first() looking
    down an unbounded-following frame instead of last() up a
    preceding one."""
    from build_datawarehouse_demo_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events", rebalance=False).select(
        "event_id", F.col("user_id"), "ts"
    )
    orders = _t(spark, sf_dir, "orders", rebalance=False).select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        F.col("o_orderkey").alias("next_orderkey"),
    )
    return asof_join(
        events,
        orders,
        key="user_id",
        probe_time="ts",
        build_time="o_orderdate",
        build_cols=("next_orderkey",),
        build_order=("next_orderkey",),
        direction="forward",
    ).select("event_id", "user_id", "next_orderkey", "asof_time")


# ------------------------------------------------------------------
# AQE skew-join: runtime hot-partition splitting
# ------------------------------------------------------------------

@register(
    "join_skew_aqe",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 8 THEN 1 ELSE l_orderkey END AS k,
             l_quantity
      FROM lineitem
    ),
    dim AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 10 >= 8
      UNION ALL SELECT 1
    )
    SELECT (f.k = 1) AS hot,
           count(*) AS n_items,
           CAST(sum(CAST(f.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM fact f JOIN dim d ON d.k = f.k
    GROUP BY (f.k = 1)
    """,
)
def q_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join split: 80% of lineitem collapses onto one hot
    key, and Spark splits that reduce partition at RUNTIME from the
    real shuffle sizes (SortMergeJoin(skew=true), asserted in
    tests/test_skew_keys.py) — the engine-native complement to the
    manual salting ops (operators/skew.py). Thresholds are tuned
    down to fire at test scale inside a newSession clone; at real
    scale the defaults (256 MB / factor 5) do the same job.

    Pattern constraint worth knowing: the join children must reach
    the SMJ as PLAIN shuffle stages — an aggregate (e.g. distinct)
    between shuffle and join breaks AQE's skew pattern-match, so
    the dim side is built as filter+union instead (measured: the
    distinct form never splits).
    """
    s2 = spark.newSession()
    for key, val in {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
    }.items():
        s2.conf.set(key, val)
    fact = _t(s2, sf_dir, "lineitem").select(
        F.when((F.col("l_orderkey") % 10) < 8, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_quantity",
    )
    dim = (
        _t(s2, sf_dir, "orders", rebalance=False)
        .where((F.col("o_orderkey") % 10) >= 8)
        .select(F.col("o_orderkey").alias("k"))
        .union(s2.range(1, 2).select(F.col("id").alias("k")))
    )
    return (
        fact.join(dim, "k")
        .groupBy((F.col("k") == 1).alias("hot"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


# ------------------------------------------------------------------
# runtime row-level filtering (injected bloom filter)
# ------------------------------------------------------------------

@register(
    "join_bloom_runtime_filter",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join with an INJECTED runtime bloom filter: Spark
    builds a bloom filter from the selective (filtered) orders side
    and applies might_contain() on lineitem BEFORE its shuffle —
    at 100 TB this drops most fact rows pre-exchange, the same IO
    win dynamic partition pruning gives a partitioned layout, but
    for arbitrary (unpartitioned) join keys.

    Config scope: a ``newSession()`` clone shares the JVM/context
    but carries its own SQLConf, so the injection thresholds (tuned
    down to fire at test scale) and the broadcast opt-out never
    leak into the caller's session or the bench's other plans.
    tests/test_scale_layout.py asserts might_contain is really in
    this plan.
    """
    s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
    # force the shuffle-join shape the filter exists for (a
    # broadcast build already reaches every executor; bloom
    # injection targets exchanges)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = _t(s2, sf_dir, "lineitem", rebalance=False)
    orders = _t(s2, sf_dir, "orders", rebalance=False).where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


# ------------------------------------------------------------------
# edit-distance (Levenshtein) band join — data-cleaning twin of the
# token-set fuzzy join; the reference's entity-name domain
# (reference transformation.py:143-168) is where users reach
# for edit distance rather than Jaccard
# ------------------------------------------------------------------

@register(
    "join_levenshtein_band",
    oracle="""
    WITH v AS (SELECT DISTINCT c_name FROM customer WHERE c_name IS NOT NULL)
    SELECT a.c_name AS lval, b.c_name AS rval,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM v a JOIN v b
      ON a.c_name < b.c_name
     AND abs(length(a.c_name) - length(b.c_name)) <= 1
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_levenshtein_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join customer names on edit distance <= 1 via Ed-Join
    prefix filtering (operators/fuzzy_join.py:levenshtein_band_join)
    — the oracle computes the quadratic truth directly, so a hash
    match proves the banded plan lossless on this input."""
    from build_datawarehouse_demo_spark.operators.fuzzy_join import (
        levenshtein_band_join,
    )

    cust = _t(spark, sf_dir, "customer")
    return levenshtein_band_join(
        cust, cust, max_distance=1, left_col="c_name", right_col="c_name"
    )


# ------------------------------------------------------------------
# UNKEYED interval-overlap join — the inequality-join shape that is
# a nested-loop O(n*m) unless gridded; completes the temporal-join
# family next to asof (point->latest) and range (point-in-interval)
# ------------------------------------------------------------------
@register(
    "join_interval_overlap",
    oracle="""
    WITH v AS (
      SELECT event_id AS l_id, epoch_us(ts) AS l_lo,
             epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS l_hi
      FROM events WHERE event_type = 'view'
    ),
    c AS (
      SELECT event_id AS r_id, epoch_us(ts) AS r_lo,
             epoch_us(ts) + CAST(floor(value * 30000000) AS BIGINT) AS r_hi
      FROM events WHERE event_type = 'click'
    )
    SELECT l_id, r_id,
           CAST(least(l_hi, r_hi) - greatest(l_lo, r_lo) AS BIGINT) AS overlap_us
    FROM v JOIN c ON l_lo < r_hi AND r_lo < l_hi
    """,
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view-session × click-session overlap pairs (sessions =
    [ts, ts + value-scaled length)). The oracle is the quadratic
    inequality join (DuckDB's IEJoin executes it); the Spark plan
    is the gridded equi-join of
    operators/asof.py:interval_overlap_join — each overlapping
    pair claimed exactly once by its overlap-start cell, so no
    dedup exchange. A hash match proves the grid decomposition
    lossless and duplicate-free."""
    from build_datawarehouse_demo_spark.operators.asof import (
        interval_overlap_join,
    )

    ev = _t(spark, sf_dir, "events", rebalance=False)
    # ts arrives TIMESTAMP_NTZ; unix_micros needs TIMESTAMP. A tz
    # offset shifts BOTH sides' endpoints uniformly, and the output
    # carries only ids + durations — tz-invariant by construction.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("l_id"),
        us.alias("l_lo"),
        (us + F.floor(F.col("value") * 60_000_000).cast("long")).alias("l_hi"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("r_id"),
        us.alias("r_lo"),
        (us + F.floor(F.col("value") * 30_000_000).cast("long")).alias("r_hi"),
    )
    pairs = interval_overlap_join(
        views, clicks, "l_lo", "l_hi", "r_lo", "r_hi", bucket_width=7.2e9
    )
    return pairs.select(
        "l_id",
        "r_id",
        (F.least("l_hi", "r_hi") - F.greatest("l_lo", "r_lo"))
        .cast("bigint")
        .alias("overlap_us"),
    )


# ------------------------------------------------------------------
# tolerance-bounded as-of join — pandas merge_asof's `tolerance`
# in the one-shuffle union+carry formulation: matches farther than
# the bound null out as if absent
# ------------------------------------------------------------------
@register(
    "join_asof_tolerance",
    oracle="""
    WITH b AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    a AS (
      SELECT e.event_id, e.user_id, e.ts, b.o_orderkey, b.o_orderdate
      FROM events e
      ASOF LEFT JOIN b ON e.user_id = b.o_custkey AND e.ts >= b.o_orderdate
    )
    SELECT event_id, user_id,
           CASE WHEN o_orderdate + INTERVAL 30 DAY >= ts
                THEN o_orderkey END AS last_orderkey,
           CASE WHEN o_orderdate + INTERVAL 30 DAY >= ts
                THEN o_orderdate END AS asof_time
    FROM a
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_asof with a 30-day lookback bound: an order more than
    30 days before the event is no match (stale quotes / expired
    sessions semantics). Same one-exchange plan — the bound is a
    per-row predicate on the carried payload (operators/asof.py),
    checked against DuckDB's native ASOF JOIN + CASE."""
    from build_datawarehouse_demo_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events", rebalance=False).select(
        "event_id", F.col("user_id"), "ts"
    )
    orders = _t(spark, sf_dir, "orders", rebalance=False).select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        F.col("o_orderkey").alias("last_orderkey"),
    )
    out = asof_join(
        events,
        orders,
        key="user_id",
        probe_time="ts",
        build_time="o_orderdate",
        build_cols=("last_orderkey",),
        build_order=("last_orderkey",),
        tolerance=F.expr("INTERVAL '30' DAY"),
    )
    return out.select("event_id", "user_id", "last_orderkey", "asof_time")


# ------------------------------------------------------------------
# as-of NEAREST — completes the asof family (backward r4, forward
# r6, tolerance r7): pandas merge_asof(direction='nearest') parity
# with the backward-wins-ties rule
# ------------------------------------------------------------------
@register(
    "join_asof_nearest",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, epoch_us(ts) AS pt
      FROM events WHERE event_type = 'view'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, epoch_us(ts) AS bt
      FROM events WHERE event_type = 'click'
    ),
    j AS (
      SELECT v.event_id, v.user_id, v.pt, c.click_id, c.bt,
             row_number() OVER (PARTITION BY v.event_id
                 ORDER BY abs(c.bt - v.pt), c.bt, c.click_id DESC) AS rn
      FROM v LEFT JOIN c ON c.user_id = v.user_id
    )
    SELECT event_id, user_id, CAST(pt AS BIGINT) AS ts_us,
           click_id AS nearest_click_id, CAST(bt AS BIGINT) AS nearest_ts_us
    FROM j WHERE rn = 1
    """,
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest click (either direction in time) per view event per
    user: asof_join(direction='nearest') — backward and forward
    carries off ONE exchange, closer |Δt| wins, backward wins
    exact-distance ties, max click_id wins same-instant ties
    (build_order). The oracle states the same choice as a
    row_number over the full per-key cross — quadratic there,
    one shuffle here."""
    from build_datawarehouse_demo_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events", rebalance=False)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", us.alias("ts_us")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id"),
        us.alias("click_us"),
        F.col("event_id").alias("nearest_click_id"),
    )
    out = asof_join(
        views,
        clicks,
        key="user_id",
        probe_time="ts_us",
        build_time="click_us",
        build_cols=("nearest_click_id",),
        build_order=("nearest_click_id",),
        direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        "nearest_click_id",
        F.col("asof_time").alias("nearest_ts_us"),
    )
