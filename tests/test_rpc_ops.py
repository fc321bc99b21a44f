"""InfluxRPC-equivalent operators over a two-measurement database —
modeled on the reference's query_tests/src/influxrpc/ modules."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from influxdb_iox_spark.database import Database
from influxdb_iox_spark.operators.metadata import (
    field_columns,
    schema_pivot,
    series_cardinality,
    table_names,
    tag_keys,
    tag_values,
)
from influxdb_iox_spark.operators.series import (
    Aggregate,
    frame_series,
    read_filter,
    read_group,
    read_window_aggregate,
)
from influxdb_iox_spark.plans.predicate import Predicate
from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
from influxdb_iox_spark.sources.store import TableStore

H2O = IoxSchema.build(
    ["state", "city"],
    {"temp": InfluxColumnType.FIELD_FLOAT, "reading": InfluxColumnType.FIELD_FLOAT},
)
O2 = IoxSchema.build(["state"], {"reading": InfluxColumnType.FIELD_FLOAT})


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory):
    store = TableStore(str(tmp_path_factory.mktemp("rpcdb")))
    h2o = spark.createDataFrame(
        [
            ("MA", "Boston", 70.4, None, 50),
            ("MA", "Boston", 72.0, 1.0, 150),
            ("MA", "Cambridge", 80.5, 2.0, 50),
            ("CA", "LA", 90.0, 3.0, 200),
        ],
        "state string, city string, temp double, reading double, time long",
    )
    store.write_chunk(h2o, "h2o", H2O)
    o2 = spark.createDataFrame(
        [("MA", 50.4, 100), ("CA", 51.0, 300)],
        "state string, reading double, time long",
    )
    store.write_chunk(o2, "o2", O2)
    d = Database("db", store, spark)
    d.register_table("h2o", H2O)
    d.register_table("o2", O2)
    return d


def test_table_names(db):
    assert table_names(db) == ["h2o", "o2"]
    # predicate restricting time to h2o-only rows
    assert table_names(db, Predicate().with_range(150, 250)) == ["h2o"]
    assert table_names(db, Predicate().with_range(10_000, 20_000)) == []


def test_tag_keys(db):
    assert tag_keys(db, "h2o") == ["city", "state"]
    assert tag_keys(db, "o2") == ["state"]
    assert tag_keys(db, "h2o", Predicate().with_range(0, 10)) == []


def test_tag_keys_legacy_chunk_without_catalog_falls_back_to_scan(
    spark, tmp_path
):
    """A chunk registered before the tag catalog existed has NO entry for a
    tag.  The metadata fast path must treat that as UNKNOWN and resolve via
    a scan (the reference falls back when metadata-only evaluation is
    unknown) — NOT include the tag blindly: here ``city`` is null in every
    row, so non-null StringSet semantics exclude it."""
    import dataclasses

    store = TableStore(str(tmp_path / "legacy"))
    df = spark.createDataFrame(
        [("MA", None, 70.4, 1.0, 50), ("CA", None, 90.0, 2.0, 200)],
        "state string, city string, temp double, reading double, time long",
    )
    meta = store.write_chunk(df, "h2o", H2O, register=False)
    # simulate a legacy manifest record: no tag catalog at all
    store._append_manifest("h2o", dataclasses.replace(meta, tag_values={}))
    d = Database("legacydb", store, spark)
    d.register_table("h2o", H2O)
    assert tag_keys(d, "h2o") == ["state"]  # city is all-null -> excluded


def test_tag_values(db):
    assert tag_values(db, "h2o", "city") == ["Boston", "Cambridge", "LA"]
    assert tag_values(db, "h2o", "city", Predicate().with_range(0, 100)) == [
        "Boston",
        "Cambridge",
    ]
    with pytest.raises(ValueError):
        tag_values(db, "h2o", "temp")  # field col -> error (tag_values.rs:225)
    # tag_values.rs:47-59: a column not present at all -> empty, not error
    assert tag_values(db, "h2o", "tag_not_in_chunks") == []
    # tag_values.rs:207-223: predicate filtering out every row -> empty
    assert (
        tag_values(
            db, "h2o", "state",
            Predicate().with_range(0, 100).with_expr(F.col("state") == "CA"),
        )
        == []
    )


def test_field_columns(db):
    out = field_columns(db, "h2o")
    assert {f["name"]: f["last_timestamp"] for f in out} == {"temp": 200, "reading": 200}
    # restrict to early window: only rows at t=50 → reading all-null there... (Boston t=50 reading null, Cambridge 2.0)
    out = field_columns(db, "h2o", Predicate().with_range(0, 60))
    assert {f["name"]: f["last_timestamp"] for f in out} == {"temp": 50, "reading": 50}
    # field_columns.rs:100-117: a field with NO non-null row inside the
    # predicate window is excluded from the list entirely
    out = field_columns(
        db, "h2o",
        Predicate().with_range(0, 60).with_expr(F.col("city") == "Boston"),
    )
    assert {f["name"]: f["last_timestamp"] for f in out} == {"temp": 50}


def test_series_cardinality(db):
    """One series per (tag combo, field with >=1 non-null row) — the
    SeriesFrame count a read_filter would stream (beyond-ref: the
    reference's RPC is unimplemented!, service.rs:560-566)."""
    # h2o: temp live in all 3 tag combos; reading live in (Boston,MA),
    # (Cambridge,MA), (LA,CA) -> 3 + 3 = 6
    assert series_cardinality(db, "h2o") == 6
    # o2: 2 states x 1 field
    assert series_cardinality(db, "o2") == 2
    # predicate restriction: t in [0, 60) -> h2o rows at t=50 only:
    # temp in (Boston,MA)+(Cambridge,MA); reading only (Cambridge,MA)
    assert series_cardinality(db, "h2o", Predicate().with_range(0, 60)) == 3
    assert series_cardinality(db, "h2o", Predicate().with_range(10_000, 20_000)) == 0


def test_schema_pivot(db, spark):
    df = spark.createDataFrame(
        [(1.0, None), (2.0, None)], "a double, b double"
    )
    assert schema_pivot(df) == ["a"]


def test_read_filter_sorted_series(db):
    df = read_filter(db, "h2o")
    rows = [tuple(r) for r in df.collect()]
    # canonical sorted-by-name order: tags=(city,state), fields=(reading,temp);
    # sorted by (city, state, time) so each series is contiguous
    assert df.columns == ["city", "state", "reading", "temp", "time"]
    assert rows[0][:2] == ("Boston", "MA") and rows[0][4] == 50
    assert rows[1][:2] == ("Boston", "MA") and rows[1][4] == 150
    assert rows[2][:2] == ("Cambridge", "MA")
    assert rows[3][:2] == ("LA", "CA")


def test_read_filter_field_projection(db):
    pred = Predicate().fields("temp")
    assert read_filter(db, "h2o", pred).columns == ["city", "state", "temp", "time"]


def test_read_filter_pred_nonexistent_column_is_empty(db):
    """read_filter.rs:222-231: a predicate on a column the table lacks
    yields an empty result, NOT an analysis error."""
    pred = Predicate().with_expr(F.col("tag_not_in_h2o") == "foo")
    assert read_filter(db, "h2o", pred).count() == 0


def test_read_filter_pred_good_and_nonexistent_columns_is_empty(db):
    """read_filter.rs:275-286: AND of a satisfiable expr and a
    missing-column expr can never be true -> empty."""
    pred = (
        Predicate()
        .with_expr(F.col("state") == "MA")
        .with_expr(F.col("tag_not_in_h2o") == "foo")
    )
    assert read_filter(db, "h2o", pred).count() == 0


def test_read_filter_pred_missing_column_in_or_keeps_live_branch(db):
    """DataFusion rewrites a missing column to NULL, so a DISJUNCTION over
    a missing and a present column still returns the rows matching the
    present branch (`missing = 'x' OR state = 'MA'` over h2o -> the MA
    rows), unlike the pure-AND case which stays empty."""
    pred = Predicate().with_expr(
        (F.col("tag_not_in_h2o") == "foo") | (F.col("state") == "MA")
    )
    assert read_filter(db, "h2o", pred).count() == 3  # the MA rows


def test_read_filter_pred_two_missing_columns_or_present(db):
    pred = Predicate().with_expr(
        (F.col("no_col_a") == "x")
        | (F.col("no_col_b") == "y")
        | (F.col("city") == "LA")
    )
    assert read_filter(db, "h2o", pred).count() == 1


def test_read_filter_pred_missing_column_isnull_matches_all(db):
    """`missing IS NULL` is TRUE for every row under the NULL rewrite —
    the sharpest way to distinguish NULL substitution from empty-result
    shortcutting."""
    pred = Predicate().with_expr(F.col("tag_not_in_h2o").isNull())
    assert read_filter(db, "h2o", pred).count() == 4


def test_read_filter_pred_no_columns(db):
    """read_filter.rs:233-273: a column-less predicate (lit = lit) passes
    every row."""
    pred = Predicate().with_expr(F.lit("foo") == F.lit("foo"))
    assert read_filter(db, "h2o", pred).count() == 4


def test_read_group(db):
    df = read_group(db, "h2o", Aggregate.SUM, group_columns=["state"])
    rows = {(r.state, r.city): r for r in df.collect()}
    assert rows[("MA", "Boston")].temp == pytest.approx(142.4)
    # plain aggregates emit ONE shared time column = max(time) of the group
    # (AggExprs::try_new plain branch influxrpc.rs:1340-1359; make_agg_expr
    # rewrites agg(time) to MAX, :1409-1423)
    assert rows[("MA", "Boston")].time == 150
    assert rows[("CA", "LA")].time == 200


def test_read_group_data_pred_reference_case(db):
    """read_group.rs:102-125 test_read_group_data_pred: predicate
    city=LA AND time in [190,210), SUM grouped by state -> one row with
    temp summed and time = the matching point's timestamp."""
    pred = Predicate().with_range(190, 210).with_expr(F.col("city") == "LA")
    df = read_group(db, "h2o", Aggregate.SUM, group_columns=["state"], predicate=pred)
    rows = df.collect()
    got = [(r.state, r.city, r.temp, r.time) for r in rows]
    assert got == [("CA", "LA", 90.0, 200)]


def test_read_group_mean_shared_time(db):
    """read_group.rs:245-294 shape: MEAN also carries the shared max(time)."""
    df = read_group(db, "h2o", Aggregate.MEAN, group_columns=[])
    row = {(r.state, r.city): r for r in df.collect()}[("MA", "Boston")]
    assert row.temp == pytest.approx(71.2)
    assert row.time == 150


def test_read_group_selector_last(db):
    df = read_group(db, "h2o", Aggregate.LAST, group_columns=["state"])
    row = {(r.state, r.city): r for r in df.collect()}[("MA", "Boston")]
    assert (row.temp, row.temp_time) == (72.0, 150)
    assert (row.reading, row.reading_time) == (1.0, 150)


def test_read_window_aggregate(db):
    df = read_window_aggregate(db, "h2o", Aggregate.MEAN, every_ns=100)
    rows = {(r.state, r.city, r.time): r.temp for r in df.collect()}
    # t=50 → window (0,100] reported as 100; t=150 → 200; t=200 → 300
    assert rows[("MA", "Boston", 100)] == pytest.approx(70.4)
    assert rows[("MA", "Boston", 200)] == pytest.approx(72.0)
    assert rows[("CA", "LA", 300)] == pytest.approx(90.0)


def test_frame_series(db):
    df = read_filter(db, "h2o")
    frames = list(frame_series(df, "h2o", ["city", "state"]))
    assert [f.tags for f in frames] == [
        {"city": "Boston", "state": "MA"},
        {"city": "Cambridge", "state": "MA"},
        {"city": "LA", "state": "CA"},
    ]
    assert [len(f.rows) for f in frames] == [2, 1, 1]


def test_frame_series_distributed_matches_driver_framing(db, spark):
    from influxdb_iox_spark.operators.series import frame_series_distributed

    df = read_filter(db, "h2o")
    want = {
        tuple(sorted(f.tags.items())): list(zip(*f.rows.to_pydict().values()))
        for f in frame_series(df, "h2o", ["city", "state"])
    }
    out = frame_series_distributed(df, "h2o", ["city", "state"])
    assert out.columns == ["city", "state", "reading", "temp", "time", "n_rows"]
    got = {}
    for r in out.collect():
        key = tuple(sorted({"city": r.city, "state": r.state}.items()))
        got[key] = [
            (r.city, r.state, r.reading[i], r.temp[i], r.time[i])
            for i in range(r.n_rows)
        ]
    assert got == want
    # no driver funnel: the plan is exchange -> sort-within -> mapInPandas
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_frame_series_distributed_carries_series_across_arrow_batches(db, spark):
    """A series longer than one Arrow batch must come back as ONE frame."""
    from influxdb_iox_spark.operators.series import frame_series_distributed

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        n = 100
        df = spark.range(n).select(
            F.lit("west").alias("region"),
            (F.col("id") % 3).cast("string").alias("host"),
            F.col("id").cast("double").alias("usage"),
            F.col("id").alias("time"),
        )
        out = frame_series_distributed(df, "cpu", ["region", "host"]).collect()
        assert len(out) == 3  # one frame per (region, host) series
        by_host = {r.host: r for r in out}
        for h in ("0", "1", "2"):
            r = by_host[h]
            assert r.n_rows == len(r.time) == len(r.usage)
            assert list(r.time) == sorted(r.time)  # time-ordered within frame
        assert sum(r.n_rows for r in out) == n
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_frame_series_distributed_tagless_table(spark):
    """A measurement with zero tag columns (legal in line protocol) is one
    series: the distributed framing must return exactly one frame instead of
    raising on repartition()."""
    from influxdb_iox_spark.operators.series import frame_series_distributed

    df = (
        spark.range(50)
        .select(
            F.col("id").cast("double").alias("value"),
            F.col("id").alias("time"),
        )
        .repartition(4)
    )
    out = frame_series_distributed(df, "m", []).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_rows == 50
    assert list(r.time) == sorted(r.time)


def test_read_window_aggregate_months(db):
    """Calendar-month WindowEvery over the rpc fixture: all rows land in the
    Jan-1970 window (ns epochs 50..200), stop boundary = 1970-02-01."""
    from influxdb_iox_spark.operators.series import read_window_aggregate_months

    df = read_window_aggregate_months(db, "h2o", Aggregate.MEAN, every_months=1)
    feb1_ns = 31 * 86400 * 10**9
    rows = {(r.state, r.city, r.time): r.temp for r in df.collect()}
    assert rows[("MA", "Boston", feb1_ns)] == pytest.approx((70.4 + 72.0) / 2)
    assert rows[("CA", "LA", feb1_ns)] == pytest.approx(90.0)
    # negative offset shifts the grid by -1 month: stop becomes 1970-01-01
    df2 = read_window_aggregate_months(
        db, "h2o", Aggregate.COUNT, every_months=2, offset_months=-1
    )
    # t'=t+1mo=Feb; trunc2(1970*12+1 -> even) = Jan; stop = Jan+2mo-1mo = Feb
    stops = {r.time for r in df2.collect()}
    assert stops == {feb1_ns}


def test_read_filter_series_order_with_null_tags(spark, tmp_path):
    """read_filter.rs:418-520 test_read_filter_data_plan_order
    (MeasurementsSortableTags): rows order by (tags..., time) with ABSENT
    tag values (nulls) sorting before present ones — Spark's ASC
    nulls-first default matches the reference's series-key ordering."""
    from influxdb_iox_spark.sources.store import TableStore

    schema = IoxSchema.build(
        ["city", "state", "zz_tag"],
        {"other": InfluxColumnType.FIELD_FLOAT, "temp": InfluxColumnType.FIELD_FLOAT},
    )
    store = TableStore(str(tmp_path / "order"))
    rows = [
        ("Kingston", "MA", "A", None, 70.1, 800),
        ("Kingston", "MA", "B", None, 70.2, 100),
        ("Boston", "CA", None, None, 70.3, 250),
        ("Boston", "MA", "A", None, 70.4, 1000),
        ("Boston", "MA", None, 5.0, 70.5, 250),
    ]
    store.write_chunk(
        spark.createDataFrame(
            rows,
            "city string, state string, zz_tag string, other double, "
            "temp double, time long",
        ),
        "h2o", schema,
    )
    db = Database("order", store, spark)
    db.register_table("h2o", schema)
    out = [
        (r.city, r.state, r.zz_tag, r.other, r.temp, r.time)
        for r in read_filter(db, "h2o").collect()
    ]
    assert out == [
        ("Boston", "CA", None, None, 70.3, 250),
        ("Boston", "MA", None, 5.0, 70.5, 250),
        ("Boston", "MA", "A", None, 70.4, 1000),
        ("Kingston", "MA", "A", None, 70.1, 800),
        ("Kingston", "MA", "B", None, 70.2, 100),
    ]


def test_read_filter_all_measurements(db):
    """read_filter.rs:76-136 test_read_filter_data_no_pred: one wire
    read_filter call returns series from EVERY measurement (h2o and o2),
    each sorted by its own series key; a per-table-unsatisfiable predicate
    drops that table's series without erroring."""
    from influxdb_iox_spark.rpc import InfluxRpc

    rpc = InfluxRpc(db)
    frames = list(rpc.read_filter_frames_all())
    tables = [f.table for f in frames]
    assert tables == sorted(tables)
    assert set(tables) == {"h2o", "o2"}
    assert sum(len(f.rows) for f in frames if f.table == "h2o") == 4
    assert sum(len(f.rows) for f in frames if f.table == "o2") == 2

    # predicate on a column only h2o has: o2 contributes nothing, no error
    pred = Predicate().with_expr(F.col("city") == "Boston")
    by_table = rpc.read_filter_all(pred)
    assert by_table["h2o"].count() == 2
    assert by_table["o2"].count() == 0

    # table-scoped predicate restricts the set
    only = rpc.read_filter_all(Predicate().tables("o2"))
    assert list(only) == ["o2"]


def test_read_filter_all_field_projection_missing_field(db):
    """A wire field projection (_field pseudo-tag) spans every measurement;
    a table having NONE of the requested fields yields an empty result, not
    an unresolved-column error."""
    from influxdb_iox_spark.rpc import InfluxRpc

    rpc = InfluxRpc(db)
    by_table = rpc.read_filter_all(Predicate().fields("temp"))
    assert by_table["h2o"].count() == 4
    assert "temp" in by_table["h2o"].columns
    assert by_table["o2"].count() == 0  # o2 has no temp field


def _many_nulls_rpc(spark, tmp_path):
    """The TwoMeasurementsManyNulls fixture (scenarios.rs): two chunks,
    sparse city/county/borough tags across h2o + o2."""
    from influxdb_iox_spark.rpc import InfluxRpc

    h2o_s = IoxSchema.build(
        ["state", "city", "county"], {"temp": InfluxColumnType.FIELD_FLOAT}
    )
    o2_s = IoxSchema.build(
        ["state", "city", "borough"], {"temp": InfluxColumnType.FIELD_FLOAT}
    )
    store = TableStore(str(tmp_path / "nulls"))
    store.write_chunk(
        spark.createDataFrame(
            [
                ("CA", "LA", "LA", 70.4, 100),
                ("MA", "Boston", "Suffolk", 72.4, 250),
            ],
            "state string, city string, county string, temp double, time long",
        ),
        "h2o", h2o_s,
    )
    o2_ddl = "state string, city string, borough string, temp double, time long"
    store.write_chunk(
        spark.createDataFrame(
            [("MA", "Boston", None, 50.4, 200), ("CA", None, None, 79.0, 300)],
            o2_ddl,
        ),
        "o2", o2_s,
    )
    store.write_chunk(
        spark.createDataFrame(
            [
                ("NY", None, None, 60.8, 400),
                ("NY", "NYC", None, 61.0, 500),
                ("NY", "NYC", "Brooklyn", 61.0, 600),
            ],
            o2_ddl,
        ),
        "o2", o2_s,
    )
    db = Database("nulls", store, spark)
    db.register_table("h2o", h2o_s)
    db.register_table("o2", o2_s)
    return InfluxRpc(db)


def test_tag_keys_many_nulls_battery(spark, tmp_path):
    """The TwoMeasurementsManyNulls tag_keys battery (tag_keys.rs:50-121):
    sparse tags across two measurements; each predicate combination keeps
    only keys with >= 1 matching NON-NULL row, and the un-scoped call
    unions keys across measurements."""
    rpc = _many_nulls_rpc(spark, tmp_path)

    # :50 no predicate -> union across measurements
    assert rpc.tag_keys_all() == ["borough", "city", "county", "state"]
    # :57 timestamp range [150,201): only o2@200 matches -> city,state
    assert rpc.tag_keys_all(Predicate().with_range(150, 201)) == ["city", "state"]
    # :65 state=MA -> h2o Boston row (county) + o2@200 -> city,county,state
    assert rpc.tag_keys_all(
        Predicate().with_expr(F.col("state") == "MA")
    ) == ["city", "county", "state"]
    # :74 ts+pred -> only o2@200 -> city,state
    assert rpc.tag_keys_all(
        Predicate().with_range(150, 201).with_expr(F.col("state") == "MA")
    ) == ["city", "state"]
    # :84 table o2 -> borough,city,state
    assert rpc.tag_keys_all(Predicate().tables("o2")) == ["borough", "city", "state"]
    # :91 table+ts -> o2@200 only -> city,state
    assert rpc.tag_keys_all(
        Predicate().tables("o2").with_range(150, 201)
    ) == ["city", "state"]
    # :101 table+state=NY -> rows 400-600 -> borough,city,state
    assert rpc.tag_keys_all(
        Predicate().tables("o2").with_expr(F.col("state") == "NY")
    ) == ["borough", "city", "state"]
    # :111 table+ts[1,550)+state=NY -> rows 400,500 -> city,state
    assert rpc.tag_keys_all(
        Predicate().tables("o2").with_range(1, 550).with_expr(F.col("state") == "NY")
    ) == ["city", "state"]


def test_tag_values_many_nulls_battery(spark, tmp_path):
    """The TwoMeasurementsManyNulls tag_values battery
    (tag_values.rs:47-244): distinct non-null values of one tag under every
    predicate combination, unioned across measurements."""
    rpc = _many_nulls_rpc(spark, tmp_path)

    # :48 a tag in no chunk -> empty set
    assert rpc.tag_values_all("tag_not_in_chunks") == []
    # :62 no predicate, state -> union across h2o+o2
    assert rpc.tag_values_all("state") == ["CA", "MA", "NY"]
    # :75 no predicate, city
    assert rpc.tag_values_all("city") == ["Boston", "LA", "NYC"]
    # :88 ts [50,201): h2o@100 + o2@200 -> CA, MA
    assert rpc.tag_values_all("state", Predicate().with_range(50, 201)) == [
        "CA", "MA"
    ]
    # :101 state=MA -> city Boston only
    assert rpc.tag_values_all(
        "city", Predicate().with_expr(F.col("state") == "MA")
    ) == ["Boston"]
    # :116 ts [150,301) + state=MA -> MA
    assert rpc.tag_values_all(
        "state", Predicate().with_range(150, 301).with_expr(F.col("state") == "MA")
    ) == ["MA"]
    # :131 table h2o -> CA, MA
    assert rpc.tag_values_all("state", Predicate().tables("h2o")) == ["CA", "MA"]
    # :144 table o2, city -> Boston, NYC
    assert rpc.tag_values_all("city", Predicate().tables("o2")) == [
        "Boston", "NYC"
    ]
    # :157 table o2 + ts [50,201) -> MA
    assert rpc.tag_values_all(
        "state", Predicate().tables("o2").with_range(50, 201)
    ) == ["MA"]
    # :173 table o2 + state=NY -> NY
    assert rpc.tag_values_all(
        "state", Predicate().tables("o2").with_expr(F.col("state") == "NY")
    ) == ["NY"]
    # :189 table o2 + ts [1,550) + state=NY -> NY
    assert rpc.tag_values_all(
        "state",
        Predicate().tables("o2").with_range(1, 550).with_expr(F.col("state") == "NY"),
    ) == ["NY"]
    # :205 ts [1,300) filters out every NY row -> empty
    assert rpc.tag_values_all(
        "state",
        Predicate().tables("o2").with_range(1, 300).with_expr(F.col("state") == "NY"),
    ) == []
    # :223 a FIELD column errors on the single-measurement call (the
    # reference's planner error); the bucket-wide union instead SKIPS
    # field-typed siblings (documented in tag_values_all) -> empty set
    with pytest.raises(Exception, match="not a tag"):
        rpc.tag_values("h2o", "temp")
    assert rpc.tag_values_all("temp") == []


def test_table_names_half_open_battery(spark, tmp_path):
    """table_names.rs:47-74 over the TwoMeasurements fixture: the half-open
    [start, end) boundary decides whether disk@200 exists."""
    cpu_s = IoxSchema.build(["region"], {"user": InfluxColumnType.FIELD_FLOAT})
    disk_s = IoxSchema.build(["region"], {"bytes": InfluxColumnType.FIELD_INTEGER})
    store = TableStore(str(tmp_path / "two"))
    store.write_chunk(
        spark.createDataFrame(
            [("west", 23.2, 100), ("west", 21.0, 150)],
            "region string, user double, time long",
        ),
        "cpu", cpu_s,
    )
    store.write_chunk(
        spark.createDataFrame(
            [("east", 99, 200)], "region string, bytes long, time long"
        ),
        "disk", disk_s,
    )
    db = Database("two", store, spark)
    db.register_table("cpu", cpu_s)
    db.register_table("disk", disk_s)

    assert table_names(db) == ["cpu", "disk"]
    assert table_names(db, Predicate().with_range(0, 201)) == ["cpu", "disk"]
    assert table_names(db, Predicate().with_range(0, 200)) == ["cpu"]  # 200 excluded
    assert table_names(db, Predicate().with_range(50, 101)) == ["cpu"]
    assert table_names(db, Predicate().with_range(250, 300)) == []


def test_tag_keys_excludes_all_null_tag_without_row_constraints(spark, tmp_path):
    """A registered tag that is NULL in every written row must NOT appear in
    tag_keys even on the metadata fast path (no row constraints): the
    per-chunk tag catalog records [] for it, distinguishing 'tag exists in
    the schema' from 'tag has >= 1 non-null value' (the reference's
    StringSet semantics)."""
    schema = IoxSchema.build(
        ["state", "ghost"], {"temp": InfluxColumnType.FIELD_FLOAT}
    )
    store = TableStore(str(tmp_path / "ghost"))
    store.write_chunk(
        spark.createDataFrame(
            [("MA", None, 70.0, 100)],
            "state string, ghost string, temp double, time long",
        ),
        "h2o", schema,
    )
    db = Database("ghost", store, spark)
    db.register_table("h2o", schema)
    # fast path (no predicate) and scan path (vacuous range) agree
    assert tag_keys(db, "h2o") == ["state"]
    assert tag_keys(db, "h2o", Predicate().with_range(0, 10**18)) == ["state"]


def test_tag_values_all_measurements(db):
    """Bucket-wide tag_values: union across measurements that have the tag;
    tables lacking it (or where it names a field) contribute nothing."""
    from influxdb_iox_spark.rpc import InfluxRpc

    rpc = InfluxRpc(db)
    # 'state' exists in both h2o and o2
    assert rpc.tag_values_all("state") == ["CA", "MA"]
    # 'city' exists only in h2o; o2 contributes the empty set
    assert rpc.tag_values_all("city") == ["Boston", "Cambridge", "LA"]
    # table list scopes contributors
    assert rpc.tag_values_all("state", Predicate().tables("o2")) == ["CA", "MA"]
    # row constraints apply per table
    assert rpc.tag_values_all("city", Predicate().with_range(0, 100)) == [
        "Boston", "Cambridge",
    ]
    # 'temp' is a FIELD in h2o -> h2o skipped, o2 lacks it -> empty union
    assert rpc.tag_values_all("temp") == []


def _multi_series_rpc(spark, tmp_path):
    """TwoMeasurementsMultiSeries (read_filter.rs:14-35): h2o + o2, data
    inserted OUT of series order (the fixture swaps lines) so result
    ordering is earned by the sort, not by insertion luck."""
    from influxdb_iox_spark.rpc import InfluxRpc

    h2o_s = IoxSchema.build(
        ["state", "city"], {"temp": InfluxColumnType.FIELD_FLOAT}
    )
    o2_s = IoxSchema.build(
        ["state", "city"],
        {"temp": InfluxColumnType.FIELD_FLOAT, "reading": InfluxColumnType.FIELD_FLOAT},
    )
    store = TableStore(str(tmp_path / "multi"))
    store.write_chunk(
        spark.createDataFrame(
            [
                ("CA", "LA", 90.0, 200),       # swapped to front
                ("MA", "Boston", 72.4, 250),
                ("MA", "Boston", 70.4, 100),
                ("CA", "LA", 90.0, 350),
            ],
            "state string, city string, temp double, time long",
        ),
        "h2o", h2o_s,
    )
    store.write_chunk(
        spark.createDataFrame(
            [
                ("MA", "Boston", 53.4, 51.0, 250),  # swapped
                ("MA", "Boston", 50.4, 50.0, 100),
            ],
            "state string, city string, temp double, reading double, time long",
        ),
        "o2", o2_s,
    )
    db = Database("multi", store, spark)
    db.register_table("h2o", h2o_s)
    db.register_table("o2", o2_s)
    return InfluxRpc(db)


def test_read_filter_pred_using_regex_match(spark, tmp_path):
    """read_filter.rs test_read_filter_data_pred_using_regex_match: ts
    [200,300) + state =~ /C.*/ keeps only the (LA, CA) series row @200,
    arriving through the WIRE predicate tree (regex node -> rlike)."""
    from influxdb_iox_spark.plans.rpc_expr import rpc_predicate_to_predicate

    rpc = _multi_series_rpc(spark, tmp_path)
    node = {
        "node_type": "comparison",
        "op": "regex_match",
        "children": [
            {"node_type": "tag_ref", "value": "state"},
            {"node_type": "regex", "value": "C.*"},
        ],
    }
    pred = rpc_predicate_to_predicate(node, Predicate().with_range(200, 300))
    frames = list(rpc.read_filter_frames("h2o", pred))
    assert len(frames) == 1
    tags, rows = frames[0].tags, frames[0].rows
    assert tags == {"city": "LA", "state": "CA"}
    assert [(r["temp"], r["time"]) for r in rows.to_pylist()] == [(90.0, 200)]
    # o2 has no C* state rows in range -> no frames
    assert list(rpc.read_filter_frames("o2", pred)) == []


def test_read_filter_pred_using_regex_not_match(spark, tmp_path):
    """read_filter.rs test_read_filter_data_pred_using_regex_not_match:
    the negated regex keeps the MA series of BOTH measurements @250."""
    from influxdb_iox_spark.plans.rpc_expr import rpc_predicate_to_predicate

    rpc = _multi_series_rpc(spark, tmp_path)
    node = {
        "node_type": "comparison",
        "op": "not_regex_match",
        "children": [
            {"node_type": "tag_ref", "value": "state"},
            {"node_type": "regex", "value": "C.*"},
        ],
    }
    pred = rpc_predicate_to_predicate(node, Predicate().with_range(200, 300))
    h2o = list(rpc.read_filter_frames("h2o", pred))
    assert len(h2o) == 1
    assert h2o[0].tags == {"city": "Boston", "state": "MA"}
    assert [(r["temp"], r["time"]) for r in h2o[0].rows.to_pylist()] == [(72.4, 250)]
    o2 = list(rpc.read_filter_frames("o2", pred))
    assert len(o2) == 1
    assert o2[0].tags == {"city": "Boston", "state": "MA"}
    assert [(r["reading"], r["temp"], r["time"]) for r in o2[0].rows.to_pylist()] == [
        (51.0, 53.4, 250)
    ]


# -- TwoMeasurementsMultiSeries goldens (read_filter.rs:14-35 fixture) -------


H2O_MS = IoxSchema.build(
    ["state", "city"], {"temp": InfluxColumnType.FIELD_FLOAT}
)
O2_MS = IoxSchema.build(
    ["state", "city"],
    {"temp": InfluxColumnType.FIELD_FLOAT, "reading": InfluxColumnType.FIELD_FLOAT},
)


@pytest.fixture(scope="module")
def multi_series_db(spark, tmp_path_factory):
    """The reference's exact TwoMeasurementsMultiSeries line protocol
    (read_filter.rs:14-35), including its deliberate out-of-series-order
    insertion."""
    from influxdb_iox_spark.streaming.ingest import LineProtocolIngest

    store = TableStore(str(tmp_path_factory.mktemp("msdb")))
    lines = [
        "h2o,state=CA,city=LA temp=90.0 200",      # swapped rows, as in
        "h2o,state=MA,city=Boston temp=72.4 250",  # scenarios lp_lines.swap
        "h2o,state=MA,city=Boston temp=70.4 100",
        "h2o,state=CA,city=LA temp=90.0 350",
        "o2,state=MA,city=Boston temp=53.4,reading=51 250",
        "o2,state=MA,city=Boston temp=50.4,reading=50 100",
    ]
    d = Database("msdb", store, spark)
    for table, schema in (("h2o", H2O_MS), ("o2", O2_MS)):
        d.register_table(table, schema)
        own = [ln for ln in lines if ln.startswith(table + ",")]
        LineProtocolIngest(store, table, schema).ingest_lines_df(
            spark.createDataFrame([(ln,) for ln in own], ["value"])
        )
    return d


def test_read_filter_data_filter_eq_and_noteq(multi_series_db):
    """read_filter.rs:138-176: a time range + state=CA keeps exactly the
    LA@200 row; state!=MA yields the SAME result (golden twins)."""
    for expr in (F.col("state") == "CA", F.col("state") != "MA"):
        pred = Predicate().with_range(200, 300).with_expr(expr)
        rows = [
            (r.city, r.state, r.temp, r.time)
            for r in read_filter(multi_series_db, "h2o", pred).collect()
        ]
        assert rows == [("LA", "CA", 90.0, 200)]


def test_read_filter_data_filter_fields(multi_series_db):
    """read_filter.rs:179-219: a `_field` restriction to other_temp keeps
    only tables/rows carrying that field; here NO table has other_temp, so
    both come back empty with tag+time schema (the multi-measurement
    projection rule)."""
    pred = Predicate().fields("other_temp")
    pred.with_expr(F.col("state") == "MA")
    for table in ("h2o", "o2"):
        out = read_filter(multi_series_db, table, pred)
        assert out.count() == 0
        assert "temp" not in out.columns  # field projection applied


def test_read_filter_regex_match_golden(multi_series_db):
    """read_filter.rs:288-314: regex match 'C.*' on state within
    [200,300) keeps exactly the CA row."""
    pred = Predicate().with_range(200, 300).with_expr(F.col("state").rlike("C.*"))
    rows = [
        (r.city, r.state, r.temp, r.time)
        for r in read_filter(multi_series_db, "h2o", pred).collect()
    ]
    assert rows == [("LA", "CA", 90.0, 200)]


def test_read_filter_regex_not_match_golden(multi_series_db):
    """read_filter.rs:317-359: not-match 'C.*' keeps the MA rows in both
    measurements."""
    pred = Predicate().with_range(200, 300).with_expr(~F.col("state").rlike("C.*"))
    h2o = [
        (r.city, r.state, r.temp, r.time)
        for r in read_filter(multi_series_db, "h2o", pred).collect()
    ]
    assert h2o == [("Boston", "MA", 72.4, 250)]
    o2 = [
        (r.city, r.state, r.reading, r.temp, r.time)
        for r in read_filter(multi_series_db, "o2", pred).collect()
    ]
    assert o2 == [("Boston", "MA", 51.0, 53.4, 250)]


def test_read_filter_or_over_missing_column_returns_correct_rows(multi_series_db):
    """read_filter.rs:362-415 test_read_filter_data_pred_unsupported_in_scan
    — with a twist the reference itself documents: its expected output is
    KNOWN INCORRECT (influxdb_iox issue #883 — `(state='CA') OR
    (reading>0)` drops the h2o CA rows because the pushdown can't handle
    the cross-column OR).  Our schema-aware NULL substitution evaluates
    the OR with real three-valued logic, so the h2o CA rows ARE returned —
    asserting the CORRECT semantics, divergence documented here."""
    pred = Predicate().with_expr(
        (F.col("state") == "CA") | (F.col("reading") > 0)
    )
    h2o = [
        (r.city, r.state, r.temp, r.time)
        for r in read_filter(multi_series_db, "h2o", pred).collect()
    ]
    # reading is missing in h2o -> NULL > 0 is NULL; state='CA' keeps CA rows
    assert h2o == [("LA", "CA", 90.0, 200), ("LA", "CA", 90.0, 350)]
    o2 = [
        (r.city, r.state, r.reading, r.temp, r.time)
        for r in read_filter(multi_series_db, "o2", pred).collect()
    ]
    assert o2 == [
        ("Boston", "MA", 50.0, 50.4, 100),
        ("Boston", "MA", 51.0, 53.4, 250),
    ]
