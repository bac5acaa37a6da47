"""The full warehouse build — the Spark re-expression of the
reference's EP2 (`python transformation.py`,
/root/reference/transformation.py:602-697).

Input: a dict of raw DataFrames keyed like the reference's datasets
(/root/reference/transformation.py:29-36): business, checkin, review,
user, covid_features, tip, temperature, precipitation — schemas per
FIXTURES.md. Any subset may be present; missing datasets simply skip
their tables, matching the reference's empty-input early returns
(/root/reference/transformation.py:242,284,328,368,418,448,485).

Output: the ~20-table star schema of SURVEY.md §1.1 as lazy
DataFrames over one Catalyst DAG, with ONE eager step: fact_checkins'
contiguous surrogate ids (operators/keys.surrogate_key_scalable) need
every partition's row count before the first id can be assigned, so
build_warehouse persists the resolved check-ins and collects those
counts inside the call when a checkin dataset is present. Everything
else executes only when the caller materializes (writers.save_tables)
or queries.

Where the reference fanned out a thread pool over eager pandas
transforms (/root/reference/transformation.py:615-637), here each
transform is a lazy lineage over a shared broadcast calendar spine;
Spark's scheduler provides the parallelism.

Faithful-vs-fixed: transform_review in the reference probes its date
lookup with a mismatched format ('%Y%m%d' keys vs '%Y-%m-%d' probes,
/root/reference/transformation.py:336 vs :348) so every review lands a
null datetime_id. We implement the evident intent — consistent format,
like its tip transform (/root/reference/transformation.py:425,433).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from build_datawarehouse_demo_spark.operators.flatten import (
    explode_delimited,
    explode_json_array,
    explode_map,
    filter_not_null_not_empty,
    parse_hour_ranges,
)
from build_datawarehouse_demo_spark.operators.joins import broadcast_dim_join, resolve_datetime_id
from build_datawarehouse_demo_spark.operators.keys import surrogate_key_rownum
from build_datawarehouse_demo_spark.sources.generators import gen_date_range, gen_hour_dim

HIGHLIGHT_SCHEMA = T.StructType(
    [
        T.StructField("identifier", T.StringType()),
        T.StructField("params", T.StringType()),
        T.StructField("type", T.StringType()),
    ]
)

COVID_RENAMES = {
    # reference snake_casing (/root/reference/transformation.py:293-300)
    "Grubhub enabled": "grubhub_enabled",
    "Request a Quote Enabled": "request_a_quote_enabled",
    "Covid Banner": "covid_banner",
    "Temporary Closed Until": "temporary_closed_until",
    "Virtual Services Offered": "virtual_services_offered",
}


def build_warehouse(
    spark: SparkSession,
    raw: dict[str, DataFrame],
    start_date: str = "1948-09-06",
    end_date: str = "2025-12-31",
) -> dict[str, DataFrame]:
    """The star schema's tables, keyed by table name, from the ``raw``
    datasets present, over a calendar spine from ``start_date`` to
    ``end_date``. Lazy except for one step: with a ``checkin`` dataset,
    fact_checkins' contiguous ids (surrogate_key_scalable) persist the
    resolved check-ins and collect their per-partition counts here,
    because each partition's id offset is the sum of the counts before
    it."""
    out: dict[str, DataFrame] = {}

    # conformed dims (/root/reference/transformation.py:610-612)
    dim_datetime = gen_date_range(spark, start_date, end_date)
    out["dim_datetime"] = dim_datetime
    out["dim_hour"] = gen_hour_dim(spark)
    # dim_date: one row per date_id with the date parts, under the
    # reference's create_dim_date column names (`day`, `day_of_week` —
    # /root/reference/transformation.py:127-137); parts are
    # functionally dependent on date_id, and the spine has one row per
    # day with an injective date_id (yyyymmdd), so no dedup (no shuffle).
    out["dim_date"] = dim_datetime.select(
        "date_id",
        "full_date",
        "year",
        "month",
        F.col("day_of_month").alias("day"),
        "day_of_week",
        "quarter",
    )

    if (business := raw.get("business")) is not None:
        out.update(_business_tables(business))
    if (user := raw.get("user")) is not None:
        out.update(_user_tables(user))
    if (review := raw.get("review")) is not None:
        out["fact_reviews"] = _fact_reviews(review, dim_datetime)
    if (checkin := raw.get("checkin")) is not None:
        out["fact_checkins"] = _fact_checkins(checkin, dim_datetime)
    if (tip := raw.get("tip")) is not None:
        out["fact_tips"] = _fact_tips(tip, dim_datetime)
    if (covid := raw.get("covid_features")) is not None:
        out.update(_covid_tables(covid))
    if (temp := raw.get("temperature")) is not None:
        # renames per the reference (/root/reference/transformation.py:
        # 460-466): also keeps 'min'/'max' out of SQL-keyword territory
        out["dim_temperature"] = _weather_table(
            temp,
            dim_datetime,
            {
                "min": "min_temperature",
                "max": "max_temperature",
                "normal_min": "normal_min_temperature",
                "normal_max": "normal_max_temperature",
            },
        )
    if (precip := raw.get("precipitation")) is not None:
        # (/root/reference/transformation.py:496-500)
        out["dim_precipitation"] = _weather_table(
            precip,
            dim_datetime,
            {"precipitation": "precipitation", "precipitation_normal": "normal_precipitation"},
        )
    return out


def _business_tables(business: DataFrame) -> dict[str, DataFrame]:
    """dim_business + category/attribute bridges + hours fact
    (/root/reference/transformation.py:140-238)."""
    dim_business = business.select(
        "business_id",
        "name",
        "address",
        "city",
        "state",
        "postal_code",
        "latitude",
        "longitude",
        "stars",
        "review_count",
        "is_open",
    ).dropDuplicates()

    # categories: "A, B, C" string -> dim + bridge
    # (/root/reference/transformation.py:149-168)
    cat = explode_delimited(
        filter_not_null_not_empty(business, "categories"),
        "categories",
        "category_name",
        keep_cols=("business_id",),
    )
    dim_category = surrogate_key_rownum(
        cat.select("category_name").dropDuplicates(),
        order_by=("category_name",),
        key_col="category_id",
    )
    fact_business_categories = broadcast_dim_join(cat, dim_category, on="category_name").select(
        "business_id", "category_id"
    )

    # attributes map -> dim + bridge
    # (/root/reference/transformation.py:171-198)
    attrs = explode_map(
        business.filter(F.col("attributes").isNotNull()),
        "attributes",
        keep_cols=("business_id",),
        key_alias="attribute_name",
        value_alias="attribute_value",
    ).withColumn("attribute_value", F.col("attribute_value").cast("string"))
    dim_attribute = surrogate_key_rownum(
        attrs.select("attribute_name", "attribute_value").dropDuplicates(),
        order_by=("attribute_name", "attribute_value"),
        key_col="attribute_id",
    )
    fact_business_attributes = broadcast_dim_join(
        attrs, dim_attribute, on=["attribute_name", "attribute_value"]
    ).select("business_id", "attribute_id")

    # hours map -> per-day open/close fact with %24 wrap; unparseable
    # rows dropped (/root/reference/transformation.py:201-225)
    fact_business_hours = parse_hour_ranges(
        business.filter(F.col("hours").isNotNull()), "hours", keep_cols=("business_id",)
    )

    return {
        "dim_business": dim_business,
        "dim_category": dim_category,
        "fact_business_categories": fact_business_categories,
        "dim_attribute": dim_attribute,
        "fact_business_attributes": fact_business_attributes,
        "fact_business_hours": fact_business_hours,
    }


def _user_tables(user: DataFrame) -> dict[str, DataFrame]:
    """dim_user + elite/friend dims and bridges
    (/root/reference/transformation.py:366-413)."""
    dim_user = user.select(
        "user_id",
        "name",
        "review_count",
        F.to_timestamp("yelping_since").alias("yelping_since"),
        "useful",
        "funny",
        "cool",
        "fans",
        "average_stars",
    ).dropDuplicates()

    elite = explode_delimited(user, "elite", "elite_year", keep_cols=("user_id",))
    dim_elite = surrogate_key_rownum(
        elite.select("elite_year").dropDuplicates(), order_by=("elite_year",), key_col="elite_id"
    )
    fact_user_elite = elite.join(dim_elite, "elite_year", "left").select("user_id", "elite_id")

    friends = explode_delimited(user, "friends", "friend_name", keep_cols=("user_id",))
    dim_friend = surrogate_key_rownum(
        friends.select("friend_name").dropDuplicates(),
        order_by=("friend_name",),
        key_col="friend_id",
    )
    fact_user_friend = friends.join(dim_friend, "friend_name", "left").select(
        "user_id", "friend_id"
    )

    return {
        "dim_user": dim_user,
        "dim_elite": dim_elite,
        "fact_user_elite": fact_user_elite,
        "dim_friend": dim_friend,
        "fact_user_friend": fact_user_friend,
    }


def _fact_reviews(review: DataFrame, dim_datetime: DataFrame) -> DataFrame:
    """(/root/reference/transformation.py:326-364) — keep-null date
    resolution (intent semantics, see module docstring)."""
    base = review.select(
        "review_id",
        "business_id",
        "user_id",
        "stars",
        "useful",
        "funny",
        "cool",
        "text",
        F.to_timestamp("date").alias("review_ts"),
    )
    return resolve_datetime_id(
        base,
        dim_datetime,
        F.date_format("review_ts", "yyyy-MM-dd"),
        drop_miss=False,
    )


def _fact_checkins(checkin: DataFrame, dim_datetime: DataFrame) -> DataFrame:
    """CSV-string of timestamps -> one row each; bad timestamps null out
    (errors='coerce') and unmatched dates are DROPPED
    (/root/reference/transformation.py:240-280)."""
    exploded = explode_delimited(checkin, "date", "checkin_raw", keep_cols=("business_id",), sep=",")
    parsed = exploded.withColumn(
        "checkin_ts", F.try_to_timestamp(F.trim(F.col("checkin_raw")))
    ).na.drop(subset=["checkin_ts"])
    resolved = resolve_datetime_id(
        parsed,
        dim_datetime,
        F.date_format("checkin_ts", "yyyy-MM-dd"),
        drop_miss=True,
    ).select("business_id", "checkin_ts", "datetime_id")
    # checkin_id surrogate (/root/reference/transformation.py:276-277):
    # fact-scale, so the scalable contiguous-id op, not a global window.
    from build_datawarehouse_demo_spark.operators.keys import surrogate_key_scalable

    return surrogate_key_scalable(resolved, key_col="checkin_id")


def _fact_tips(tip: DataFrame, dim_datetime: DataFrame) -> DataFrame:
    """(/root/reference/transformation.py:416-444) — keep-null misses."""
    base = tip.select(
        "business_id",
        "user_id",
        "text",
        "compliment_count",
        F.to_timestamp("date").alias("tip_ts"),
    )
    return resolve_datetime_id(
        base, dim_datetime, F.date_format("tip_ts", "yyyy-MM-dd"), drop_miss=False
    )


def _covid_tables(covid: DataFrame) -> dict[str, DataFrame]:
    """COVID flags fact + highlights dim
    (/root/reference/transformation.py:282-324)."""
    renames = {k: v for k, v in COVID_RENAMES.items() if k in covid.columns}
    flags = covid.withColumnsRenamed(renames)
    fact_cols = ["business_id", *renames.values()]
    fact_covid_features = flags.select(*fact_cols).dropDuplicates()

    highlights = explode_json_array(
        covid.filter(F.col("highlights").isNotNull()),
        "highlights",
        HIGHLIGHT_SCHEMA,
        keep_cols=("business_id",),
        element_alias="h",
        outer=False,
    ).select(
        "business_id",
        F.col("h.identifier").alias("identifier"),
        F.col("h.params").alias("params"),
        F.col("h.type").alias("type"),
    )
    dim_highlights = surrogate_key_rownum(
        highlights.select("identifier", "params", "type").dropDuplicates(),
        order_by=("identifier", "params", "type"),
        key_col="highlight_id",
    )
    # bridge preserves the reference's business↔highlight association
    # (/root/reference/transformation.py:304-325 keeps business_id per
    # highlight row); without it "which businesses offer highlight X"
    # would be unanswerable from the warehouse.
    fact_business_highlights = broadcast_dim_join(
        highlights, dim_highlights, on=["identifier", "params", "type"]
    ).select("business_id", "highlight_id")
    return {
        "fact_covid_features": fact_covid_features,
        "dim_highlights": dim_highlights,
        "fact_business_highlights": fact_business_highlights,
    }


def _weather_table(
    weather: DataFrame, dim_datetime: DataFrame, value_cols: dict[str, str]
) -> DataFrame:
    """Climate CSV -> datetime-resolved dim, keep-null misses
    (/root/reference/transformation.py:446-514). `date` arrives as a
    yyyymmdd int (stringified before lookup at :453).

    Values go through try_cast: real NOAA precipitation columns carry
    'T' for trace amounts (FIXTURES.md §8) — those become null instead
    of aborting the job under ANSI mode.
    """
    base = weather.select(
        F.col("date").cast("string").alias("__w_date"),
        *[F.col(src).try_cast("double").alias(dst) for src, dst in value_cols.items()],
    )
    # same date-resolution join as every other fact — keep-null mode,
    # spine keyed yyyyMMdd (the weather CSVs carry int dates)
    return resolve_datetime_id(
        base, dim_datetime, F.col("__w_date"), fmt="yyyyMMdd", drop_miss=False
    ).drop("__w_date")
