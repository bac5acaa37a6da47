"""End-to-end star-schema build over a Yelp-shaped synthetic fixture
(FIXTURES.md §1-8) — the Spark re-expression of the reference's EP2
(/root/reference/transformation.py:602-697)."""

from __future__ import annotations

import pytest

from build_datawarehouse_demo_spark.plans.star_schema import build_warehouse

EXPECTED_TABLES = {
    "dim_datetime",
    "dim_date",
    "dim_hour",
    "dim_business",
    "dim_category",
    "fact_business_categories",
    "dim_attribute",
    "fact_business_attributes",
    "fact_business_hours",
    "dim_user",
    "dim_elite",
    "fact_user_elite",
    "dim_friend",
    "fact_user_friend",
    "fact_reviews",
    "fact_checkins",
    "fact_tips",
    "fact_covid_features",
    "dim_highlights",
    "fact_business_highlights",
    "dim_temperature",
    "dim_precipitation",
}


@pytest.fixture(scope="module")
def raw(spark):
    business = spark.createDataFrame(
        [
            (
                "b1", "Cafe One", "1 Main St", "Vegas", "NV", "89101", 36.1, -115.1, 4.5, 10, 1,
                "Restaurants, Cafes",
                {"WiFi": "free", "HasTV": "True"},
                {"Monday": "9:0-22:0", "Tuesday": "20:0-26:0"},
            ),
            (
                "b2", "Bar Two", "2 Side St", "Vegas", "NV", "89102", 36.2, -115.2, 3.0, 5, 0,
                None, None, {"Friday": "garbage"},
            ),
        ],
        "business_id string, name string, address string, city string, state string, "
        "postal_code string, latitude double, longitude double, stars double, "
        "review_count int, is_open int, categories string, "
        "attributes map<string,string>, hours map<string,string>",
    )
    checkin = spark.createDataFrame(
        [
            ("b1", "2016-04-26 19:49:16, 2016-08-30 18:36:57, not-a-date"),
            ("b2", "1900-01-01 00:00:00"),  # before spine start -> dropped
        ],
        "business_id string, date string",
    )
    review = spark.createDataFrame(
        [
            ("r1", "b1", "u1", 5.0, 1, 0, 0, "great", "2018-07-07 22:09:11"),
            ("r2", "b2", "u2", 2.0, 0, 0, 0, "meh", "2030-01-01 00:00:00"),  # outside spine -> null id
        ],
        "review_id string, business_id string, user_id string, stars double, "
        "useful int, funny int, cool int, text string, date string",
    )
    user = spark.createDataFrame(
        [
            ("u1", "Ann", 10, "2015-01-01 00:00:00", 1, 2, 3, 4, 4.2, "2015,2016", "u2,u3"),
            ("u2", "Bob", 5, "2016-02-02 00:00:00", 0, 0, 0, 0, 3.0, "", ""),
        ],
        "user_id string, name string, review_count int, yelping_since string, "
        "useful int, funny int, cool int, fans int, average_stars double, "
        "elite string, friends string",
    )
    covid = spark.createDataFrame(
        [
            ("b1", "TRUE", "FALSE", "banner", "FALSE", "TRUE",
             '[{"identifier":"h1","params":"p1","type":"t1"}]'),
            ("b2", "FALSE", "FALSE", "", "FALSE", "FALSE", "not json"),
        ],
        "business_id string, `Grubhub enabled` string, `Request a Quote Enabled` string, "
        "`Covid Banner` string, `Temporary Closed Until` string, "
        "`Virtual Services Offered` string, highlights string",
    )
    tip = spark.createDataFrame(
        [("nice", 1, "b1", "u1", "2019-05-05 12:00:00")],
        "text string, compliment_count int, business_id string, user_id string, date string",
    )
    temperature = spark.createDataFrame(
        [(20160426, 60.0, 90.0, 55.0, 88.0), (19000101, 1.0, 2.0, 1.0, 2.0)],
        "date int, min double, max double, normal_min double, normal_max double",
    )
    precipitation = spark.createDataFrame(
        [(20160426, 0.1, 0.2)], "date int, precipitation double, precipitation_normal double"
    )
    return {
        "business": business,
        "checkin": checkin,
        "review": review,
        "user": user,
        "covid_features": covid,
        "tip": tip,
        "temperature": temperature,
        "precipitation": precipitation,
    }


@pytest.fixture(scope="module")
def wh(spark, raw):
    return build_warehouse(spark, raw)


def test_all_tables_present(wh):
    assert set(wh) == EXPECTED_TABLES


def test_category_bridge(wh):
    cats = {r.category_name: r.category_id for r in wh["dim_category"].collect()}
    assert set(cats) == {"Cafes", "Restaurants"}
    bridge = {(r.business_id, r.category_id) for r in wh["fact_business_categories"].collect()}
    assert bridge == {("b1", cats["Restaurants"]), ("b1", cats["Cafes"])}


def test_hours_wrap_and_skip(wh):
    rows = {(r.business_id, r.day_of_week, r.open_hour_id, r.close_hour_id)
            for r in wh["fact_business_hours"].collect()}
    assert rows == {("b1", "Monday", 9, 22), ("b1", "Tuesday", 20, 2)}
    # reference column set (/root/reference/transformation.py:215-229)
    assert set(wh["fact_business_hours"].columns) == {
        "business_id", "day_of_week", "open_time", "close_time",
        "open_hour_id", "close_hour_id",
    }


def test_checkins_drop_miss_and_bad_dates(wh):
    rows = wh["fact_checkins"].collect()
    assert len(rows) == 2  # bad date dropped, out-of-spine dropped
    assert all(r.business_id == "b1" and r.datetime_id is not None for r in rows)


def test_reviews_keep_null_miss(wh):
    rows = {r.review_id: r.datetime_id for r in wh["fact_reviews"].collect()}
    assert rows["r1"] is not None and rows["r2"] is None


def test_user_bridges(wh):
    elite = {r.elite_year for r in wh["dim_elite"].collect()}
    assert elite == {"2015", "2016"}
    friends = {r.friend_name for r in wh["dim_friend"].collect()}
    assert friends == {"u2", "u3"}
    assert wh["fact_user_elite"].count() == 2
    assert wh["fact_user_friend"].count() == 2


def test_covid_highlights_malformed_skipped(wh):
    hl = wh["dim_highlights"].collect()
    assert [(h.identifier, h.params, h.type) for h in hl] == [("h1", "p1", "t1")]
    flags = {r.business_id: r.grubhub_enabled for r in wh["fact_covid_features"].collect()}
    assert flags == {"b1": "TRUE", "b2": "FALSE"}
    bridge = {(r.business_id, r.highlight_id) for r in wh["fact_business_highlights"].collect()}
    assert bridge == {("b1", hl[0].highlight_id)}


def test_checkins_have_contiguous_ids(wh):
    ids = sorted(r.checkin_id for r in wh["fact_checkins"].collect())
    assert ids == [1, 2]


def test_weather_reference_column_names(wh):
    assert set(wh["dim_temperature"].columns) == {
        "min_temperature",
        "max_temperature",
        "normal_min_temperature",
        "normal_max_temperature",
        "datetime_id",
    }
    assert set(wh["dim_precipitation"].columns) == {
        "precipitation",
        "normal_precipitation",
        "datetime_id",
    }


def test_weather_left_join(wh):
    temps = {r.datetime_id is not None for r in wh["dim_temperature"].collect()}
    assert temps == {True, False}  # 2016 matched, 1900-pre-spine... in spine? spine starts 1948
    assert wh["dim_precipitation"].count() == 1


def test_datetime_spine_matches_reference_range(wh):
    first = wh["dim_datetime"].orderBy("datetime_id").first()
    assert str(first.full_date) == "1948-09-06" and first.datetime_id == 0


def test_build_and_write_leaves_no_cached_rdds(spark, raw):
    """Cache hygiene (VERDICT round 1, item 6): surrogate_key_scalable
    pins a frame per fact build; materializing the warehouse through
    save_tables must release every pin — repeated builds in one session
    must not accumulate cached blocks."""
    import tempfile

    from build_datawarehouse_demo_spark.operators import keys
    from build_datawarehouse_demo_spark.sources.writers import save_tables

    from build_datawarehouse_demo_spark.plans.star_schema import build_warehouse

    # drain pins from earlier module fixtures so the baseline is clean
    keys.release_pinned_caches()
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    wh2 = build_warehouse(spark, {"checkin": raw["checkin"]})
    assert len(keys._PINNED) == 1  # fact_checkins pinned during build
    with tempfile.TemporaryDirectory() as d:
        save_tables({"fact_checkins_hygiene": wh2["fact_checkins"]}, base_path=d)
        assert keys._PINNED == []
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == baseline
        spark.sql("DROP TABLE IF EXISTS fact_checkins_hygiene")


def test_split_save_releases_only_written_frames_pin(spark):
    """Scoped release: writing one surrogate-keyed frame must NOT
    unpersist the pin of another, unwritten one — its id stability
    still depends on that cache."""
    import tempfile

    from build_datawarehouse_demo_spark.operators import keys
    from build_datawarehouse_demo_spark.operators.keys import surrogate_key_scalable
    from build_datawarehouse_demo_spark.sources.writers import save_tables

    keys.release_pinned_caches()
    a = surrogate_key_scalable(spark.range(50).selectExpr("id AS x"), key_col="ka")
    b = surrogate_key_scalable(spark.range(30).selectExpr("id AS y"), key_col="kb")
    assert len(keys._PINNED) == 2
    with tempfile.TemporaryDirectory() as d:
        save_tables({"pin_scope_a": a}, base_path=d)
        assert len(keys._PINNED) == 1  # b's pin survives a's write
        save_tables({"pin_scope_b": b}, base_path=d)
        assert keys._PINNED == []
        for t in ("pin_scope_a", "pin_scope_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_save_of_derived_frame_with_outstanding_pin_logs_not_raises(spark):
    """Writing a frame DERIVED from surrogate_key_scalable's output has
    no pin association; with another pin outstanding the leak-log path
    fires — it must log, never raise (round-3 regression: the debug
    message referenced an out-of-scope variable and save_table blew up
    exactly when a pin was outstanding)."""
    import tempfile

    from build_datawarehouse_demo_spark.operators import keys
    from build_datawarehouse_demo_spark.operators.keys import surrogate_key_scalable
    from build_datawarehouse_demo_spark.sources.writers import save_table

    keys.release_pinned_caches()
    keyed = surrogate_key_scalable(spark.range(40).selectExpr("id AS x"), key_col="k")
    derived = keyed.select("k", "x")  # not the exact returned frame
    with tempfile.TemporaryDirectory() as d:
        save_table(derived, "pin_leak_derived", path=f"{d}/t")
        assert len(keys._PINNED) == 1  # pin survives (observable leak)
        assert keys.outstanding_pins() == 1
        spark.sql("DROP TABLE IF EXISTS pin_leak_derived")
    keys.release_pinned_caches()


def test_dim_date_reference_column_names(wh):
    # reference create_dim_date (/root/reference/transformation.py:127-137)
    assert set(wh["dim_date"].columns) == {
        "date_id",
        "full_date",
        "year",
        "month",
        "day",
        "day_of_week",
        "quarter",
    }
    assert set(wh["dim_hour"].columns) == {"hour_id", "hour_of_day"}


def test_dim_date_plans_no_exchange(wh):
    """The spine already has one row per date_id, so dim_date is a
    narrow projection of it: no dedup shuffle."""
    plan = wh["dim_date"]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize("dates", [(), ("2020-02-25", "2020-03-03")])
def test_dim_date_rows_equal_deduplicated_spine(spark, dates):
    """Dropping the dedup changes no row: dim_date equals the
    dropDuplicates(["date_id"]) projection of the spine, for the
    default range and for a short one across a leap day."""
    from pyspark.sql import functions as F

    from build_datawarehouse_demo_spark.sources.generators import gen_date_range

    got = build_warehouse(spark, {}, *dates)["dim_date"]
    old = (
        gen_date_range(spark, *dates)
        .select(
            "date_id",
            "full_date",
            "year",
            "month",
            F.col("day_of_month").alias("day"),
            "day_of_week",
            "quarter",
        )
        .dropDuplicates(["date_id"])
    )
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(tuple(r) for r in old.collect())
    assert len(rows) == (28241 if not dates else 8)


def test_no_fact_scale_global_windows_in_warehouse_build(wh):
    """VERDICT r5 item 2: global (partition-less) windows are only
    legal over DIM derivations. Mechanical pin: every Window node with
    an empty partitionSpec in every warehouse table's plan must have an
    aggregation/distinct boundary BELOW it (the dim build collapses
    cardinality before the window), so raw fact-scale rows can never
    flow through a single-partition window. The one fact-scale
    surrogate (checkins) uses surrogate_key_scalable, which plans no
    Window at all."""

    def kids(node):
        out = [node.children().apply(i) for i in range(node.children().length())]
        if node.nodeName() == "AdaptiveSparkPlan":
            out.append(node.initialPlan())
        return out

    def subtree_names(node, out):
        out.append(node.nodeName())
        for c in kids(node):
            subtree_names(c, out)
        return out

    def check(node, table, found):
        name = node.nodeName()
        if "Window" in name:
            try:
                is_global = node.partitionSpec().isEmpty()
            except Exception:
                is_global = True
            if is_global:
                below = subtree_names(node, [])[1:]
                assert any("Aggregate" in n for n in below), (
                    f"{table}: global Window over non-aggregated input: {below}"
                )
                found.append(table)
        for c in kids(node):
            check(c, table, found)

    found: list = []
    for table, df in wh.items():
        check(df._jdf.queryExecution().executedPlan(), table, found)
    # sanity: the audit actually saw the dim windows (surrogate_key_rownum
    # sites exist in this build) — an empty `found` would mean the walk
    # silently stopped matching node names
    assert found, "no global Window found at all — walker is broken?"
