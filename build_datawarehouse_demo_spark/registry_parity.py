"""Relational parity keys: the reference's scan, projection, filter,
explode, function, generator, aggregate, set-op, sink and source
operators, plus the row-level analytics (funnel, retention, basket,
data-quality and profiling) and the UDF/UDTF surface.

Every op is oracle-checked: identical aliases on both sides, money
through DECIMAL(18,2), row_number windows with a total order.
"""

from __future__ import annotations

import os
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from build_datawarehouse_demo_spark.registry import register
from build_datawarehouse_demo_spark.registry_common import (
    _bucketed_scratch_dir,
    _t,
    _TOK,
)


# ------------------------------------------------------------------
# exact + approximate distribution statistics
# ------------------------------------------------------------------

@register(
    "agg_percentile_exact",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.90), 6) AS p90,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact interpolated percentiles: both engines implement the
    # standard (n-1)p linear interpolation — verified equal to
    # 1e-9 before registering; rounded to 6dp for safety.
    o = _t(spark, sf_dir, "orders", rebalance=False)
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.90)), 6).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_approx_stats",
    # Bounds-invariant oracle (VERDICT.md round 2 item 1b): the
    # sketch VALUES are engine-specific, but their documented error
    # bounds are guarantees, not flakes — HLL++ at default
    # rsd=0.05 (bound checked at 3×rsd), KLL/GK percentile at
    # accuracy=10000 (rank error n/10000, checked against the
    # exact 0.49/0.51 quantile envelope). Spark emits the exact
    # counts plus in-bounds booleans; DuckDB emits ITS exact
    # counts and literal TRUEs. A sketch outside bounds
    # hash-mismatches, so accuracy is actually asserted — which
    # the old rows-only registration never did.
    oracle="""
    SELECT count(DISTINCT l_orderkey) AS exact_orders,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS orders_in_bounds,
           TRUE AS parts_in_bounds,
           TRUE AS median_in_bounds
    FROM lineitem
    """,
)
def q_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    raw = li.agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey").alias("__approx_orders"),
        F.approx_count_distinct("l_partkey").alias("__approx_parts"),
        F.percentile_approx(
            "l_extendedprice", F.lit(0.5), F.lit(10000)
        ).alias("__approx_median"),
        F.percentile("l_extendedprice", F.lit(0.49)).alias("__q49"),
        F.percentile("l_extendedprice", F.lit(0.51)).alias("__q51"),
    )

    def in_bounds(approx, exact):
        return (
            F.abs(approx.cast("double") / exact.cast("double") - F.lit(1.0))
            <= F.lit(0.15)
        )

    return raw.select(
        "exact_orders",
        "exact_parts",
        in_bounds(F.col("__approx_orders"), F.col("exact_orders")).alias(
            "orders_in_bounds"
        ),
        in_bounds(F.col("__approx_parts"), F.col("exact_parts")).alias(
            "parts_in_bounds"
        ),
        (
            (F.col("__approx_median") >= F.col("__q49"))
            & (F.col("__approx_median") <= F.col("__q51"))
        ).alias("median_in_bounds"),
    )


@register(
    "agg_histogram_fixed",
    oracle="""
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
           count(*) AS n,
           CAST(min(value) AS DOUBLE) AS lo,
           CAST(max(value) AS DOUBLE) AS hi
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed-width value histogram — only bin keys shuffle; the
    # floor(value/width) binning is the same IEEE double op on
    # both engines.
    from build_datawarehouse_demo_spark.operators.profiling import histogram_fixed

    return histogram_fixed(
        _t(spark, sf_dir, "events", rebalance=False), "value", bin_width=50.0
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
    "o_orderdate_str",
]


@register(
    "profile_table_stats",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, count(*) AS n_rows,
           count(*) FILTER ({c} IS NULL) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_value,
           CAST(max({c}) AS VARCHAR) AS max_value
    FROM (SELECT *, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_str
          FROM orders)
    """
        for c in _PROFILE_COLS
    ),
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the "what is in this table" pass: one agg row (multi-DISTINCT
    # via Expand — the exact-answer cost; profile_columns documents
    # the HLL escape hatch for 100 TB) exploded to a row per
    # column. The timestamp column is pre-formatted to a sortable
    # string so min/max stringification is engine-neutral.
    from build_datawarehouse_demo_spark.operators.profiling import profile_columns

    orders = _t(spark, sf_dir, "orders", rebalance=False).withColumn(
        "o_orderdate_str", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    )
    return profile_columns(orders, _PROFILE_COLS)


# ------------------------------------------------------------------
# vectorized UDF surface (SURVEY.md §2.10)
# ------------------------------------------------------------------

@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) AS net
    FROM lineitem WHERE l_suppkey <= 10
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched scalar pandas UDF; per-row IEEE arithmetic is
    # bit-identical to the SQL expression, so the oracle is exact.
    from build_datawarehouse_demo_spark.operators.udfs import net_price

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net"),
    )


@register(
    "udf_grouped_zscore",
    oracle="""
    SELECT c_mktsegment, id, acctbal,
           round(COALESCE((acctbal - avg(acctbal) OVER w)
                          / nullif(stddev_samp(acctbal) OVER w, 0), 0.0), 6) AS zscore
    FROM (SELECT c_mktsegment, c_custkey AS id, c_acctbal AS acctbal FROM customer)
    WINDOW w AS (PARTITION BY c_mktsegment)
    """,
)
def q_udf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grouped-map applyInPandas (per-group pandas frame in/out);
    # z-scores rounded to 6dp because pandas uses pairwise
    # summation for mean/std while SQL engines sum sequentially —
    # equal to ~1e-15, identical after rounding.
    from build_datawarehouse_demo_spark.operators.udfs import grouped_zscore

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment"), F.col("c_custkey").alias("id"), F.col("c_acctbal").alias("acctbal")
    )
    out = grouped_zscore(cust, "c_mktsegment", "acctbal")
    return out.withColumn("zscore", F.round("zscore", 6))


@register(
    "udf_grouped_agg_weighted_mean",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wmean
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_udf_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grouped-aggregate pandas UDF (Σwx/Σw); rounded for the same
    # summation-order reason as above.
    from build_datawarehouse_demo_spark.operators.udfs import weighted_mean

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_mean("l_extendedprice", "l_quantity"), 6).alias("wmean")
    )


#: fixture-writer scratch under the checkout (gitignored)
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


@register(
    "gen_date_range",
    oracle="""
    SELECT CAST(datediff('day', DATE '1992-01-01', CAST(d AS DATE)) AS INTEGER) AS datetime_id,
           d AS full_timestamp,
           CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_id,
           dayname(d) AS day_of_week,
           CAST(dayofmonth(d) AS INTEGER) AS day_of_month,
           CAST(month(d) AS INTEGER) AS month,
           CAST(year(d) AS INTEGER) AS year,
           CAST(quarter(d) AS INTEGER) AS quarter,
           CAST(0 AS INTEGER) AS hour_id,
           strftime(d, '%Y-%m-%d') AS full_date
    FROM generate_series(DATE '1992-01-01', DATE '2000-12-31', INTERVAL 1 DAY) AS t(d)
    """,
)
def q_gen_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # calendar spine (reference transformation.py:89-137).
    # full_date surfaces as a string: pandas DATE handling differs
    # between Spark-Arrow (datetime.date) and DuckDB (datetime64),
    # which would break the value hash on identical data.
    from build_datawarehouse_demo_spark.sources.generators import gen_date_range

    return gen_date_range(spark, "1992-01-01", "2000-12-31").withColumn(
        "full_date", F.col("full_date").cast("string")
    )


@register(
    "gen_range_small",
    oracle="""
    SELECT CAST(range AS INTEGER) AS hour_id,
           printf('%02d', range) AS hour_of_day
    FROM range(24)
    """,
)
def q_gen_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hour dim (reference transformation.py:118-125)
    from build_datawarehouse_demo_spark.sources.generators import gen_hour_dim

    return gen_hour_dim(spark)


@register("src_json_scan", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_src_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON-lines scan with explicit schema
    # (reference transformation.py:53-75): round-trip the
    # nation table through newline-delimited JSON and scan it back.
    from build_datawarehouse_demo_spark.sources.readers import read_json_lines

    path = f"{SCRATCH}/nation_jsonl"
    _t(spark, sf_dir, "nation", rebalance=False).coalesce(1).write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return read_json_lines(spark, path, schema).select("n_nationkey", "n_name", "n_regionkey")


@register("src_csv_scan", oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")
def q_src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CSV scan with header + explicit schema
    # (reference transformation.py:77-87).
    from build_datawarehouse_demo_spark.sources.readers import read_csv

    path = f"{SCRATCH}/supplier_csv"
    _t(spark, sf_dir, "supplier", rebalance=False).coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    return read_csv(spark, path, schema).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


@register("src_orc_scan", oracle="SELECT r_regionkey, r_name FROM region")
def q_src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORC round-trip: Spark's second built-in columnar format, same
    # pushdown/pruning behavior as parquet — the raw zone is format-
    # agnostic (SURVEY §2.1: any Spark-readable path is ingestable).
    from build_datawarehouse_demo_spark.sources.readers import read_orc

    path = f"{SCRATCH}/region_orc"
    _t(spark, sf_dir, "region", rebalance=False).coalesce(1).write.mode("overwrite").orc(path)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    return read_orc(spark, path, schema).select("r_regionkey", "r_name")


@register(
    "sink_partitioned_prune",
    oracle="SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click'",
)
def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hive-style partitionBy write + partition-PRUNED read: the
    # filter on the partition column eliminates directories at
    # planning time (PartitionFilters in the scan, asserted in
    # tests/test_scale_layout.py) — at 100 TB this is the difference
    # between scanning one event_type and scanning all of them.
    path = f"{SCRATCH}/events_by_type"
    _t(spark, sf_dir, "events", rebalance=False).select("event_id", "user_id", "event_type").write.mode(
        "overwrite"
    ).partitionBy("event_type").parquet(path)
    return (
        spark.read.parquet(path)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "event_type")
    )


@register(
    "sink_compact_small_files",
    oracle="SELECT doc_id, text, lang, source FROM documents",
)
def q_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the small-files remediation op: a fragmented ingest output
    # (64 tiny files) is compacted to ceil(bytes/target) files via
    # a shuffle-free coalesce rewrite; sizes come from a Hadoop FS
    # listing so the same code works on s3a/hdfs. The entry
    # round-trips the COMPACTED copy so the oracle checks content
    # preservation; test_sources.py asserts the file-count drop.
    from build_datawarehouse_demo_spark.sources.writers import compact_parquet_dir

    frag = f"{SCRATCH}/docs_fragmented"
    compacted = f"{SCRATCH}/docs_compacted"
    _t(spark, sf_dir, "documents", rebalance=False).select(
        "doc_id", "text", "lang", "source"
    ).repartition(64).write.mode("overwrite").parquet(frag)
    compact_parquet_dir(spark, frag, compacted, target_file_bytes=32 * 1024 * 1024)
    return spark.read.parquet(compacted).select("doc_id", "text", "lang", "source")


@register(
    "sink_clustered_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
    """,
)
def q_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # clustered (range-partitioned + sorted) layout: each written
    # file covers a near-disjoint l_shipdate range, so the
    # time-range filter skips whole files via parquet min/max —
    # the single-key clustering answer where partition pruning is
    # too coarse. test_scale_layout.py asserts the per-file stat
    # ranges are pairwise disjoint.
    from build_datawarehouse_demo_spark.sources.writers import write_clustered

    path = f"{SCRATCH}/lineitem_clustered"
    li = _t(spark, sf_dir, "lineitem", rebalance=False).select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )
    write_clustered(li, path, ("l_shipdate",), n_files=8)
    return spark.read.parquet(path).filter(
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
    )


@register(
    "sink_table_overwrite",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY p_brand) AS INTEGER) AS brand_id, p_brand
    FROM (SELECT DISTINCT p_brand FROM part)
    """,
)
def q_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CREATE OR REPLACE TABLE ... AS SELECT with empty-skip
    # (reference transformation.py:517-547): write the brand
    # dim as a catalog table, then read it back from the catalog.
    from build_datawarehouse_demo_spark.operators.keys import surrogate_key_rownum
    from build_datawarehouse_demo_spark.sources.writers import save_table

    dim = surrogate_key_rownum(
        _t(spark, sf_dir, "part", rebalance=False).select("p_brand").dropDuplicates(),
        order_by=("p_brand",),
        key_col="brand_id",
    ).select("brand_id", "p_brand")
    save_table(dim, "bdw_dim_brand_sink", path=f"{SCRATCH}/warehouse/bdw_dim_brand_sink")
    return spark.table("bdw_dim_brand_sink")


@register(
    "meta_show_tables",
    oracle="""
    SELECT t AS tableName FROM (VALUES ('customer'),('documents'),('embeddings'),
      ('events'),('lineitem'),('nation'),('orders'),('part'),('region'),('supplier')) v(t)
    """,
)
def q_show_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SHOW TABLES (reference test_sql.py:8) over the
    # registered star views, filtered to the known set so the
    # result is independent of other session state.
    from build_datawarehouse_demo_spark.sources.catalog import show_tables
    from build_datawarehouse_demo_spark.sources.readers import STAR_TABLE_NAMES, register_star_views

    register_star_views(spark, sf_dir)
    return (
        show_tables(spark)
        .filter(F.col("tableName").isin(list(STAR_TABLE_NAMES)))
        .select("tableName")
    )


# ------------------------------------------------------------------
# §2.2 projections / filters
# ------------------------------------------------------------------

@register(
    "proj_select_rename",
    oracle="""
    SELECT c_custkey AS customer_id, c_name AS name, c_acctbal AS acctbal
    FROM customer WHERE c_acctbal > 1000
    """,
)
def q_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    # projection + bulk rename + predicate
    # (reference transformation.py:143-145,293-300); filter and
    # projection push to the parquet scan via Catalyst.
    return (
        _t(spark, sf_dir, "customer", rebalance=False)
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .filter(F.col("acctbal") > 1000)
    )


@register(
    "filter_notnull_nonempty",
    oracle="SELECT doc_id, lang FROM documents WHERE text IS NOT NULL AND text <> ''",
)
def q_filter_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (reference transformation.py:151,393,403)
    from build_datawarehouse_demo_spark.operators.flatten import filter_not_null_not_empty

    return filter_not_null_not_empty(_t(spark, sf_dir, "documents", rebalance=False), "text").select("doc_id", "lang")


@register(
    "filter_dropna_subset",
    oracle="""
    WITH spine AS (
      SELECT CAST(datediff('day', DATE '1995-01-01', CAST(d AS DATE)) AS INTEGER) AS datetime_id,
             strftime(d, '%Y-%m-%d') AS date_key
      FROM generate_series(DATE '1995-01-01', DATE '1995-12-31', INTERVAL 1 DAY) AS t(d)
    )
    SELECT l.l_orderkey, l.l_linenumber, s.datetime_id
    FROM lineitem l LEFT JOIN spine s ON strftime(l.l_shipdate, '%Y-%m-%d') = s.date_key
    WHERE s.datetime_id IS NOT NULL
    """,
)
def q_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    # left-join then drop unresolved rows — the checkin date pattern
    # (reference transformation.py:263-269).
    from build_datawarehouse_demo_spark.operators.joins import resolve_datetime_id
    from build_datawarehouse_demo_spark.sources.generators import gen_date_range

    spine = gen_date_range(spark, "1995-01-01", "1995-12-31")
    out = resolve_datetime_id(
        _t(spark, sf_dir, "lineitem", rebalance=False),
        spine,
        F.date_format("l_shipdate", "yyyy-MM-dd"),
        drop_miss=False,
    )
    return out.na.drop(subset=["datetime_id"]).select("l_orderkey", "l_linenumber", "datetime_id")


# ------------------------------------------------------------------
# §2.4 distinct / dedup
# ------------------------------------------------------------------

@register(
    "agg_distinct_full_row",
    oracle="SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # drop_duplicates() dim builds (reference transformation.py:159,187,301)
    return _t(spark, sf_dir, "orders", rebalance=False).select("o_orderpriority", "o_orderstatus").dropDuplicates()


@register(
    "agg_distinct_subset",
    oracle="""
    SELECT DISTINCT CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_id,
           CAST(dayofmonth(o_orderdate) AS INTEGER) AS day,
           CAST(month(o_orderdate) AS INTEGER) AS month,
           CAST(year(o_orderdate) AS INTEGER) AS year
    FROM orders
    """,
)
def q_distinct_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    # drop_duplicates(subset=['date_id']) for dim_date
    # (reference transformation.py:127-131). The non-key
    # columns are functionally dependent on date_id, so Spark's
    # arbitrary-row-per-key semantics are deterministic here —
    # exactly the situation in the reference.
    return (
        _t(spark, sf_dir, "orders", rebalance=False)
        .select(
            F.date_format("o_orderdate", "yyyyMMdd").cast("int").alias("date_id"),
            F.dayofmonth("o_orderdate").alias("day"),
            F.month("o_orderdate").alias("month"),
            F.year("o_orderdate").alias("year"),
        )
        .dropDuplicates(["date_id"])
    )


# ------------------------------------------------------------------
# §2.6 set operations
# ------------------------------------------------------------------

@register(
    "setop_union_all",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pd.concat chunk reassembly (reference transformation.py:71,364)
    orders = _t(spark, sf_dir, "orders", rebalance=False)
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderstatus")
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderstatus"
    )
    return a.unionAll(b)


# ------------------------------------------------------------------
# §2.7 unnesting / flattening
# ------------------------------------------------------------------

@register(
    "explode_split_tokens",
    oracle="""
    SELECT doc_id, trim(w) AS token
    FROM documents, unnest(string_split(text, ' ')) AS t(w)
    WHERE w IS NOT NULL AND trim(w) <> ''
    """,
)
def q_explode_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # delimited-string explode (categories/elite/friends,
    # reference transformation.py:149-155,389-403).
    from build_datawarehouse_demo_spark.operators.flatten import explode_delimited

    return explode_delimited(
        _t(spark, sf_dir, "documents", rebalance=False), "text", "token", keep_cols=("doc_id",), sep=" "
    )


@register(
    "explode_map_props",
    oracle="""
    SELECT e.event_id, t.key AS attribute_name,
           json_extract_string(e.props, '$.' || t.key) AS attribute_value
    FROM events e, unnest(json_keys(e.props)) AS t(key)
    """,
)
def q_explode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # map explode (business attributes,
    # reference transformation.py:174-182): parse the JSON
    # props into MapType then explode — no row loop.
    from build_datawarehouse_demo_spark.operators.flatten import explode_map

    ev = _t(spark, sf_dir, "events", rebalance=False).withColumn(
        "props_map", F.from_json("props", T.MapType(T.StringType(), T.StringType()))
    )
    return explode_map(
        ev, "props_map", keep_cols=("event_id",), key_alias="attribute_name", value_alias="attribute_value"
    )


@register(
    "explode_json_array",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             '[{"identifier":"' || o_orderstatus || '","params":"p' || (o_orderkey % 5)
               || '","type":"t1"},{"identifier":"x-' || o_orderpriority
               || '","params":"q' || (o_orderkey % 3) || '","type":"t2"}]' AS j
      FROM orders
    ),
    ex AS (SELECT o_orderkey, unnest(CAST(j AS JSON[])) AS el FROM src)
    SELECT o_orderkey,
           json_extract_string(el, '$.identifier') AS identifier,
           json_extract_string(el, '$.params') AS params,
           json_extract_string(el, '$.type') AS type
    FROM ex
    """,
)
def q_explode_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON-string array-of-objects explode (covid highlights,
    # reference transformation.py:304-322): from_json +
    # explode_outer + struct-field access; malformed input → null
    # element, matching the reference's try/except.
    from build_datawarehouse_demo_spark.operators.flatten import explode_json_array

    schema = T.StructType(
        [
            T.StructField("identifier", T.StringType()),
            T.StructField("params", T.StringType()),
            T.StructField("type", T.StringType()),
        ]
    )
    src = _t(spark, sf_dir, "orders", rebalance=False).select(
        "o_orderkey",
        F.concat(
            F.lit('[{"identifier":"'),
            F.col("o_orderstatus"),
            F.lit('","params":"p'),
            (F.col("o_orderkey") % 5).cast("string"),
            F.lit('","type":"t1"},{"identifier":"x-'),
            F.col("o_orderpriority"),
            F.lit('","params":"q'),
            (F.col("o_orderkey") % 3).cast("string"),
            F.lit('","type":"t2"}]'),
        ).alias("j"),
    )
    out = explode_json_array(src, "j", schema, keep_cols=("o_orderkey",), element_alias="el")
    return out.select(
        "o_orderkey",
        F.col("el.identifier").alias("identifier"),
        F.col("el.params").alias("params"),
        F.col("el.type").alias("type"),
    )


@register(
    "explode_map_hours_parse",
    oracle="""
    SELECT event_id, 'monday' AS day_of_week,
           printf('%d:00', hour(ts)) AS open_time,
           printf('%d:00', hour(ts) + 8) AS close_time,
           CAST(hour(ts) AS INTEGER) AS open_hour_id,
           CAST((hour(ts) + 8) % 24 AS INTEGER) AS close_hour_id
    FROM events
    """,
)
def q_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    # {day: "H:M-H:M"} parse with the %24 wrap, emitting the
    # reference's exact column set incl. raw open_time/close_time
    # (reference transformation.py:201-229). Hour-range map
    # synthesized from event timestamps; parse path is the real op.
    from build_datawarehouse_demo_spark.operators.flatten import parse_hour_ranges

    ev = _t(spark, sf_dir, "events", rebalance=False).select(
        "event_id",
        F.create_map(
            F.lit("monday"),
            F.format_string(
                "%d:00-%d:00", F.hour("ts"), (F.hour("ts") + F.lit(8)).cast("int")
            ),
        ).alias("hours"),
    )
    return parse_hour_ranges(ev, "hours", keep_cols=("event_id",))


# ------------------------------------------------------------------
# §2.8 scalar function kit
# ------------------------------------------------------------------

@register(
    "fn_scalar_kit",
    oracle="""
    SELECT o_orderkey,
           CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_id,
           dayname(o_orderdate) AS weekday,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS padded,
           trim('  ' || o_orderstatus || ' ') AS trimmed,
           o_orderkey % 7 AS mod7
    FROM orders
    """,
)
def q_fn_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the §2.8 scalar inventory: strftime formats, day-name, quarter,
    # zero-pad, trim, cast, modulo
    # (reference transformation.py:100-135,123,181,210,260).
    return _t(spark, sf_dir, "orders", rebalance=False).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyyMMdd").cast("int").alias("date_id"),
        F.date_format("o_orderdate", "EEEE").alias("weekday"),
        F.quarter("o_orderdate").alias("qtr"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded"),
        F.trim(F.concat(F.lit("  "), F.col("o_orderstatus"), F.lit(" "))).alias("trimmed"),
        F.pmod(F.col("o_orderkey"), F.lit(7)).alias("mod7"),
    )


@register(
    "fn_json_parse",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
    FROM events
    """,
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # json.loads + .get() field access
    # (reference transformation.py:310,317-319).
    return _t(spark, sf_dir, "events", rebalance=False).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


@register(
    "fn_to_timestamp_coerce",
    oracle="""
    SELECT event_id, TRY_CAST(trim(raw) AS TIMESTAMP) AS parsed
    FROM (SELECT event_id, ' ' || strftime(ts, '%Y-%m-%d %H:%M:%S')
             || CASE WHEN event_id % 100 = 0 THEN '-bad' ELSE '' END AS raw
          FROM events)
    """,
)
def q_fn_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pd.to_datetime(errors='coerce') null-on-failure semantics
    # (reference transformation.py:260): 1% of rows corrupted,
    # parse must yield null for them, values for the rest.
    ev = _t(spark, sf_dir, "events", rebalance=False).select(
        "event_id",
        F.concat(
            F.lit(" "),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
            F.when(F.col("event_id") % 100 == 0, F.lit("-bad")).otherwise(F.lit("")),
        ).alias("raw"),
    )
    # try_to_timestamp: Spark 4 runs ANSI mode by default, where a
    # plain to_timestamp throws on malformed input; try_ gives the
    # null-on-failure the reference relied on.
    return ev.select(
        "event_id", F.try_to_timestamp(F.trim(F.col("raw"))).alias("parsed")
    )


# ------------------------------------------------------------------
# Spark 4 API surface: UDTF, VARIANT, HLL sketches, mapInArrow
# ------------------------------------------------------------------

@register(
    "udtf_tokenize_positions",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, i - 1 AS pos, w[i] AS token, length(w[i]) AS n_chars
    FROM tok, unnest(generate_series(1, len(w))) AS t(i)
    """,
)
def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join — the Spark 4 table-function
    escape hatch for one-to-many Python logic."""
    from build_datawarehouse_demo_spark.operators.udfs import (
        make_tokenize_positions_udtf,
    )

    spark.udtf.register("tokenize_positions", make_tokenize_positions_udtf())
    _t(spark, sf_dir, "documents", rebalance=False).createOrReplaceTempView(
        "udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token, t.n_chars
        FROM udtf_docs d, LATERAL tokenize_positions(d.text) t
        WHERE d.text IS NOT NULL
        """
    )


@register(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS within_bounds
    FROM events
    GROUP BY event_type
    """,
)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Spark 4 hll_* functions): build one
    sketch per (event_type, day), union the days, estimate — the
    incremental-stats pattern where a 100 TB history keeps only
    per-partition sketch bytes and distinct counts stay queryable
    without rescanning raw data.

    Bounds-invariant oracle (same discipline as agg_approx_stats):
    both engines emit the exact count and a boolean asserting the
    merged estimate sits within 3x the documented rsd for
    lgConfigK=12 (1.04/sqrt(2^12) ~ 1.6%) — a guarantee, not a
    flake; a sketch out of bounds hash-mismatches."""
    ev = _t(spark, sf_dir, "events", rebalance=False)
    lg_k = 12
    eps = 3 * 1.04 / (2**lg_k) ** 0.5
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(eps)
        ).alias("within_bounds"),
    )


@register(
    "udf_arrow_map",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * x))), 6) AS l2_norm
    FROM embeddings
    """,
)
def q_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow kernel over raw Arrow buffers (see
    operators/udfs.py:embedding_norms_arrow)."""
    from build_datawarehouse_demo_spark.operators.udfs import (
        embedding_norms_arrow,
    )

    return embedding_norms_arrow(_t(spark, sf_dir, "embeddings"))


# ------------------------------------------------------------------
# scalar kits: higher-order array functions, date truncation
# ------------------------------------------------------------------

@register(
    "fn_array_kit",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           round(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE)), (a, b) -> a + b), 6) AS sum_all,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val
    FROM embeddings
    """,
)
def q_array_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform/filter/aggregate/
    array_max) — the expression-level surface the dedup/similarity
    operators build on, exercised directly. list_reduce in DuckDB
    folds left like F.aggregate, so the sums match bit-for-bit
    before the 6dp rounding."""
    emb = _t(spark, sf_dir, "embeddings", rebalance=False)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double")),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
            6,
        ).alias("sum_all"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
    )


@register(
    "agg_corr_regression",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qp,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics: correlation, sample covariance, and
    OLS slope/intercept per group — both engines use one-pass
    co-moment updates whose drift sits far below 6dp at this
    scale (parity probed before registration)."""
    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("covar_qp"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6).alias(
            "intercept"
        ),
    )


@register(
    "fn_date_trunc_kit",
    oracle="""
    SELECT event_id,
           date_trunc('hour', ts) AS ts_hour,
           date_trunc('day', ts) AS ts_day,
           date_trunc('week', ts) AS ts_week,
           date_trunc('month', ts) AS ts_month,
           date_trunc('quarter', ts) AS ts_quarter
    FROM events
    """,
)
def q_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc across the grains a rollup hierarchy uses;
    identical semantics both engines (Monday weeks, calendar
    quarters), emitted as timestamps (never DATE — the known
    cross-engine pandas conversion trap)."""
    ev = _t(spark, sf_dir, "events", rebalance=False)
    return ev.select(
        "event_id",
        *[
            F.date_trunc(g, "ts").alias(f"ts_{g}")
            for g in ("hour", "day", "week", "month", "quarter")
        ],
    )


# ------------------------------------------------------------------
# custom Python Data Source (Spark 4 DataSource API)
# ------------------------------------------------------------------

@register(
    "src_python_datasource",
    oracle="""
    SELECT i AS id, CAST(i % 10 AS INTEGER) AS bucket,
           md5(CAST(i AS VARCHAR)) AS payload
    FROM generate_series(0, 999) AS t(i)
    WHERE i % 10 < 3
    """,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-parallel custom Python source (sources/
    python_datasource.py) — rows are pure functions of id, so the
    oracle regenerates them; the filter runs Spark-side on the
    source output."""
    from build_datawarehouse_demo_spark.sources.python_datasource import (
        SyntheticDocsDataSource,
    )

    try:
        spark.dataSource.register(SyntheticDocsDataSource)
    except Exception as exc:
        # tolerate only the same-session re-register collision; a
        # missing DataSource API or a broken source class must
        # propagate here, not as an opaque .load() failure later
        if "already" not in str(exc).lower():
            raise
    return (
        spark.read.format("synthetic_docs")
        .option("rows", "1000")
        .option("partitions", "8")
        .load()
        .where(F.col("bucket") < 3)
    )


# ------------------------------------------------------------------
# scale layout: Z-order clustered write + 2-D box scan
# ------------------------------------------------------------------

@register(
    "sink_zorder_scan",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem
    WHERE l_orderkey <= 3000 AND l_partkey <= 400
    """,
)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout (sources/writers.py:write_zordered): one
    Morton sort keeps files compact in BOTH l_orderkey and
    l_partkey, so the 2-D box filter skips most files via parquet
    min/max — what no single-column clustering can give both dims
    at once."""
    from build_datawarehouse_demo_spark.sources.writers import write_zordered

    path = f"{SCRATCH}/lineitem_zorder"
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    write_zordered(li, path, "l_orderkey", "l_partkey", n_files=16)
    return spark.read.parquet(path).where(
        (F.col("l_orderkey") <= 3000) & (F.col("l_partkey") <= 400)
    )


# ------------------------------------------------------------------
# event analytics: rolling time window, funnel, retention, quantiles
# ------------------------------------------------------------------

@register(
    "agg_rolling_time_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum_7d,
           count(*) OVER w AS n_7d
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
    )
    """,
)
def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 7-day rolling sum/count — RANGE frame over epoch
    MICROseconds on both engines (identical peer semantics at
    equal timestamps; interval-literal frames differ between
    engines, numeric frames don't). DECIMAL(18,2) in-window sum:
    exact regardless of frame evaluation order. One exchange on
    user_id."""
    from pyspark.sql import Window

    # ts is TIMESTAMP_NTZ in the driver parquet; unix_micros needs
    # TIMESTAMP. The cast's tz interpretation shifts every epoch by
    # the same constant, and RANGE frames depend only on
    # differences, so the frames are tz-invariant.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-604_800_000_000, 0)
    )
    ev = _t(spark, sf_dir, "events", rebalance=False)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("roll_sum_7d"),
        F.count(F.lit(1)).over(w).alias("n_7d"),
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: users counted at a
    stage only if it happened strictly AFTER their earliest
    previous stage. Each stage is an agg + join on user_id (the
    |users|-row stage tables broadcast against the event scan);
    the three stage counts cross-join as 1-row aggregates — the
    broadcast-scalar pattern from text.py's corpus stats."""
    ev = _t(spark, sf_dir, "events", rebalance=False)
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
        )
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH firstd AS (
      SELECT user_id, min(CAST(day(ts) AS INTEGER)) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(day(e.ts) AS INTEGER) - f.cohort_day AS day_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN firstd f ON f.user_id = e.user_id
    GROUP BY 1, 2
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: cohort = first active day per
    user, cell = distinct users from that cohort active at each
    day offset. Two aggs + one broadcast join of the |users|-row
    cohort table."""
    ev = _t(spark, sf_dir, "events", rebalance=False).select(
        "user_id", F.dayofmonth("ts").cast("int").alias("d")
    )
    firstd = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        ev.join(F.broadcast(firstd), "user_id")
        .groupBy(
            "cohort_day", (F.col("d") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "agg_percentiles_grouped",
    oracle="""
    SELECT event_type,
           round(CAST(quantile_cont(CAST(value AS DOUBLE), 0.25) AS DOUBLE), 6) AS p25,
           round(CAST(quantile_cont(CAST(value AS DOUBLE), 0.50) AS DOUBLE), 6) AS p50,
           round(CAST(quantile_cont(CAST(value AS DOUBLE), 0.75) AS DOUBLE), 6) AS p75,
           round(CAST(quantile_cont(CAST(value AS DOUBLE), 0.99) AS DOUBLE), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linear-interpolation percentiles per group — Spark's
    `percentile` (not approx_percentile) matches DuckDB's
    quantile_cont definition bit-for-bit modulo summation, so 6
    decimals is safe. The exact twin of agg_approx_stats' sketch
    path: use this when groups fit a sort, the sketch when they
    don't."""
    ev = _t(spark, sf_dir, "events", rebalance=False)
    qs = {"p25": 0.25, "p50": 0.50, "p75": 0.75, "p99": 0.99}
    return ev.groupBy("event_type").agg(
        *[
            F.round(
                F.expr(f"percentile(CAST(value AS DOUBLE), {q})"), 6
            ).alias(name)
            for name, q in qs.items()
        ]
    )


@register(
    "proj_unpivot_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           CAST(l_quantity AS DOUBLE) AS val
    FROM lineitem WHERE l_orderkey % 10 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
    FROM lineitem WHERE l_orderkey % 10 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE)
    FROM lineitem WHERE l_orderkey % 10 = 0
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape via the native unpivot (melt) operator
    — a generator over the scan, zero shuffle; the oracle states
    the UNION ALL equivalent."""
    li = (
        _t(spark, sf_dir, "lineitem", rebalance=False)
        .where(F.col("l_orderkey") % 10 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("l_quantity"),
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
            F.col("l_discount").cast("double").alias("l_discount"),
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )


@register(
    "dq_constraint_check",
    oracle="""
    WITH wide AS (
      SELECT
        count(CASE WHEN o_custkey IS NULL THEN 1 END) AS nn_cust,
        count(o_orderkey) - count(DISTINCT o_orderkey) AS uq_key,
        count(CASE WHEN o_totalprice IS NOT NULL
                    AND o_totalprice NOT BETWEEN 0 AND 600000 THEN 1 END) AS rg_price,
        count(CASE WHEN o_orderstatus IS NOT NULL
                    AND o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS av_status
      FROM orders
    )
    SELECT 'not_null:o_custkey' AS constraint, CAST(nn_cust AS BIGINT) AS n_violations FROM wide
    UNION ALL SELECT 'unique:o_orderkey', CAST(uq_key AS BIGINT) FROM wide
    UNION ALL SELECT 'range:o_totalprice', CAST(rg_price AS BIGINT) FROM wide
    UNION ALL SELECT 'accepted_values:o_orderstatus', CAST(av_status AS BIGINT) FROM wide
    """,
)
def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style declarative DQ checks in one aggregation pass
    (operators/profiling.py:constraint_violations): not-null,
    uniqueness, range, accepted-values — all conditional aggregates
    over a single scan, stacked to long form executor-side."""
    from build_datawarehouse_demo_spark.operators.profiling import (
        constraint_violations,
    )

    return constraint_violations(
        _t(spark, sf_dir, "orders", rebalance=False),
        not_null=["o_custkey"],
        unique=["o_orderkey"],
        ranges={"o_totalprice": (0, 600000)},
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
    )


@register(
    "dq_referential_check",
    oracle="""
    SELECT 'orders.o_custkey -> customer.c_custkey' AS fk,
           count(*) AS n_orphans
    FROM orders o
    WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
      )
    """,
)
def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity DQ check: orphan-FK count as a
    LEFT ANTI join (the fact side streams; the key side is just its
    distinct keys, broadcast when dim-sized). Completes the
    declarative DQ family next to dq_constraint_check."""
    orders = _t(spark, sf_dir, "orders", rebalance=False)
    cust_keys = _t(spark, sf_dir, "customer", rebalance=False).select(
        "c_custkey"
    ).distinct()
    orphans = (
        orders.where(F.col("o_custkey").isNotNull())
        .join(
            F.broadcast(cust_keys),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    return orphans.select(
        F.lit("orders.o_custkey -> customer.c_custkey").alias("fk"),
        "n_orphans",
    )


@register(
    "assoc_brand_pairs",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           count(*) AS n_orders
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    """,
)
def q_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair counting (the size-2 frequent-itemset
    core): distinct (order, brand) baskets, per-order self-join
    with an ordering predicate (each unordered pair once), support
    count per pair. Scale shape: one shuffle on the basket key;
    per-key fanout is C(basket_size, 2) — baskets are small, so
    the join output stays linear in orders; the 25-brand dim keeps
    the result bounded. FP-growth territory starts where pair
    counting stops being enough — this is the SQL-expressible
    foundation."""
    li = _t(spark, sf_dir, "lineitem", rebalance=False).select(
        "l_orderkey", "l_partkey"
    )
    part = _t(spark, sf_dir, "part", rebalance=False).select(
        "p_partkey", "p_brand"
    )
    basket = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = basket.select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand_a")
    )
    b = basket.select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand_b")
    )
    return (
        a.join(b, "ok")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ------------------------------------------------------------------
# equi-depth histogram — the skew-proof profile twin of
# agg_histogram_fixed: boundaries at exact interpolated quantiles,
# ~n/8 rows per bucket whatever the distribution
# ------------------------------------------------------------------
@register(
    "agg_histogram_equidepth",
    oracle="""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice,
               [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cs
      FROM orders
    )
    SELECT len(list_filter(c.cs, x -> o.o_totalprice > x)) AS bucket_id,
           count(*) AS n_rows,
           round(min(o_totalprice), 6) AS lo_value,
           round(max(o_totalprice), 6) AS hi_value
    FROM orders o, cuts c
    WHERE o.o_totalprice IS NOT NULL
    GROUP BY 1
    """,
)
def q_hist_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bucket equi-depth histogram of order totals
    (operators/profiling.py:histogram_equidepth): one agg for all
    cutpoints, broadcast back, array-expression bucket assignment,
    hash agg — two passes, no collect. Oracle = DuckDB
    quantile_cont (same linear interpolation as F.percentile) +
    the same count-of-cuts-below assignment."""
    from build_datawarehouse_demo_spark.operators.profiling import (
        histogram_equidepth,
    )

    return histogram_equidepth(
        _t(spark, sf_dir, "orders", rebalance=False), "o_totalprice", buckets=8
    )


# ------------------------------------------------------------------
# schema-evolution read — mergeSchema across parquet batches with
# different columns: the ingest reality of any long-lived table
# ------------------------------------------------------------------
@register(
    "src_parquet_schema_merge",
    oracle="""
    SELECT p_partkey, p_name,
           CAST(NULL AS DOUBLE) AS p_retailprice,
           CAST(NULL AS INTEGER) AS p_size
    FROM part
    UNION ALL
    SELECT p_partkey, NULL, p_retailprice, p_size FROM part
    """,
)
def q_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two parquet batches with DIFFERENT schemas land in one
    directory (v1: key+name; v2: key+price+size — the add-a-column
    evolution every ingest pipeline hits); a mergeSchema read
    unifies them, nulling each batch's missing columns. Scale
    note: mergeSchema pays a footer read per file at planning —
    fine per-directory, use explicit schemas at million-file
    scale."""
    import os
    import shutil

    base = os.path.join(_bucketed_scratch_dir(), "schema_merge")
    shutil.rmtree(base, ignore_errors=True)
    part = _t(spark, sf_dir, "part", rebalance=False)
    part.select("p_partkey", "p_name").write.mode("overwrite").parquet(base)
    part.select("p_partkey", "p_retailprice", "p_size").write.mode(
        "append"
    ).parquet(base)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(base)
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
    )


# ------------------------------------------------------------------
# regexp scalar kit — completes the §2.8 scalar-function surface
# with the pattern family every ETL reaches for (extract / replace
# / count / boolean match), on patterns where Java-regex (Spark)
# and RE2 (the oracle engine) semantics coincide
# ------------------------------------------------------------------
@register(
    "fn_regexp_kit",
    oracle="""
    SELECT c_custkey,
           coalesce(regexp_extract(c_name, '([0-9]+)$', 1), '') AS trailing_digits,
           regexp_replace(c_name, '0+', '0', 'g') AS squeezed,
           CAST(length(c_name) - length(regexp_replace(c_name, '0', '', 'g'))
                AS BIGINT) AS n_zeros,
           (c_name SIMILAR TO '.*[13579]') AS ends_odd
    FROM customer
    """,
)
def q_regexp_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract (trailing digit run), global regexp_replace
    (squeeze zero runs), occurrence counting (via length delta —
    identical in both engines, unlike regexp_count's engine-
    specific overlap rules), and boolean tail match (rlike vs
    SIMILAR TO). Narrow scalar expressions only — one scan, zero
    shuffles."""
    cust = _t(spark, sf_dir, "customer", rebalance=False)
    name = F.col("c_name")
    return cust.select(
        "c_custkey",
        F.regexp_extract(name, r"([0-9]+)$", 1).alias("trailing_digits"),
        F.regexp_replace(name, "0+", "0").alias("squeezed"),
        (F.length(name) - F.length(F.regexp_replace(name, "0", "")))
        .cast("bigint")
        .alias("n_zeros"),
        name.rlike("[13579]$").alias("ends_odd"),
    )


# ------------------------------------------------------------------
# client-boundary fetch round-trip (VERDICT r9 item 6): sink_fetch_df
# was the one §2.1 op with pytest-only evidence — this closes it
# with an oracle row by driving the REAL fetch path (spark.sql ->
# Arrow toPandas) and handing the fetched frame back, so the hash
# check proves the client boundary preserves values and types.
# ------------------------------------------------------------------
@register(
    "sink_fetch_df_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
)
def q_fetch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fetch_df (sources/catalog.py:19; reference fetchdf(),
    reference test_sql.py:8,14) exercised end-to-end: SQL
    over the registered star views, Arrow transfer to pandas at
    the driver, then re-ingested so the driver's value hash
    verifies the round-trip. The client boundary only — never an
    operator; the re-ingest exists purely to surface the fetched
    values to the correctness gate."""
    from build_datawarehouse_demo_spark.sources.catalog import fetch_df
    from build_datawarehouse_demo_spark.sources.readers import (
        register_star_views,
    )

    register_star_views(spark, sf_dir)
    pdf = fetch_df(
        spark,
        "SELECT n_nationkey, n_name, n_regionkey "
        "FROM nation ORDER BY n_nationkey",
    )
    return spark.createDataFrame(pdf)


@register(
    "profile_corpus_report",
    oracle=f"""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(len({_TOK})) AS BIGINT) AS n_tokens,
           round(avg(len({_TOK})), 6) AS avg_tokens,
           CAST(sum(len(text)) AS BIGINT) AS n_chars,
           count(DISTINCT md5(text)) AS n_distinct_texts,
           CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
             / count(*) AS dup_rate
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus health report
    (operators/profiling.py:corpus_report): doc/token/char volumes,
    mean length, and the exact-duplicate rate off the md5 digest —
    one scan, one bounded-key aggregate."""
    from build_datawarehouse_demo_spark.operators.profiling import corpus_report

    return corpus_report(_t(spark, sf_dir, "documents"))


_SO_N = 8


@register(
    "profile_source_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT source, {_TOK} AS w FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT DISTINCT source,
             array_to_string(w[i.i : i.i + {_SO_N - 1}], ' ') AS gram
      FROM tok, unnest(range(1, len(w) - {_SO_N} + 2)) AS i(i)
      WHERE len(w) >= {_SO_N}
    ),
    sizes AS (SELECT source, count(*) AS n_grams_a FROM g GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared
      FROM g a JOIN g b ON a.gram = b.gram AND a.source <> b.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.n_shared, s.n_grams_a,
           CAST(p.n_shared AS DOUBLE) / s.n_grams_a AS containment
    FROM pairs p JOIN sizes s ON s.source = p.source_a
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source {_SO_N}-gram containment matrix
    (operators/profiling.py:source_overlap_report): how much of
    each source's distinct n-gram content appears in every other
    source — the slice-level duplication governance view. Exact
    cross-source duplicate TEXTS are zero at this fixture (texts
    are corpus-unique), which is exactly why the report measures
    n-gram containment: shared boilerplate grams across sources
    are real and nonzero."""
    from build_datawarehouse_demo_spark.operators.profiling import (
        source_overlap_report,
    )

    return source_overlap_report(_t(spark, sf_dir, "documents"), n=_SO_N)
