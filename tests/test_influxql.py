"""InfluxQL front-end: parser unit tests (pure Python, no Spark) and
planner tests lowering onto small in-memory measurements.

Grammar reference: the public InfluxQL spec
(https://docs.influxdata.com/influxdb/v1/query_language/spec/); the
planner lowers onto the operators the reference's storage RPC menu
already exercises (see influxql/planner.py docstring for the documented
output-framing divergences)."""

from __future__ import annotations

import pytest

from influxdb_iox_spark.influxql import (
    FillOption,
    InfluxQLParseError,
    Measurement,
    execute,
    parse,
)
from influxdb_iox_spark.influxql.ast_nodes import (
    BinaryExpr,
    Call,
    Literal,
    SelectStatement,
    ShowStatement,
    VarRef,
)
from influxdb_iox_spark.influxql.parser import duration_to_ns
from influxdb_iox_spark.influxql.planner import InfluxQLPlanError

S = 10**9
H = 3600 * S


# -- parser ------------------------------------------------------------------


def test_duration_parsing():
    assert duration_to_ns("1h") == H
    assert duration_to_ns("1h30m") == H + 1800 * S
    assert duration_to_ns("90s") == 90 * S
    assert duration_to_ns("100ms") == 100 * 10**6
    assert duration_to_ns("5u") == 5000
    assert duration_to_ns("5us") == 5000
    assert duration_to_ns("7ns") == 7
    assert duration_to_ns("2w") == 14 * 86400 * S
    with pytest.raises(InfluxQLParseError):
        duration_to_ns("1x")


def test_parse_basic_select():
    s = parse("SELECT mean(value) FROM events")
    assert isinstance(s, SelectStatement)
    assert s.measurement == "events"
    assert s.projections[0].expr == Call("mean", (VarRef("value"),))


def test_parse_full_select():
    s = parse(
        "SELECT MEAN(value) AS avg_v, COUNT(value) FROM events "
        "WHERE time >= 1000 AND time < 2000 AND event_type = 'click' "
        "GROUP BY time(1h, 30m), event_type FILL(previous) "
        "ORDER BY time DESC LIMIT 10 OFFSET 2 SLIMIT 3 SOFFSET 1"
    )
    assert s.projections[0].alias == "avg_v"
    assert s.projections[1].expr.func == "count"
    assert s.group_by_time_ns == H
    assert s.group_by_offset_ns == 1800 * S
    assert s.group_by_tags == ["event_type"]
    assert s.fill is FillOption.PREVIOUS
    assert s.order_desc and s.limit == 10 and s.offset == 2
    assert s.slimit == 3 and s.soffset == 1
    # where tree: ((time>=1000 AND time<2000) AND event_type='click')
    w = s.where
    assert isinstance(w, BinaryExpr) and w.op == "AND"
    assert w.right == BinaryExpr("=", VarRef("event_type"), Literal("string", "click"))


def test_parse_quoted_identifiers_and_strings():
    s = parse('SELECT "value" FROM "my measurement" WHERE "tag k" = \'a\\\'b\'')
    assert s.measurement == "my measurement"
    assert s.where == BinaryExpr("=", VarRef("tag k"), Literal("string", "a'b"))


def test_parse_regex_conditions():
    s = parse(r"SELECT value FROM m WHERE host =~ /^web-\d+/ AND dc !~ /eu\/west/")
    w = s.where
    assert w.op == "AND"
    assert w.left == BinaryExpr("=~", VarRef("host"), Literal("regex", r"^web-\d+"))
    # \/ unescapes to /
    assert w.right == BinaryExpr("!~", VarRef("dc"), Literal("regex", "eu/west"))


def test_parse_now_arithmetic():
    s = parse("SELECT value FROM m WHERE time > now() - 1h")
    w = s.where
    assert w.op == ">"
    assert w.right == Call("now_offset", (Literal("int", -H),))


def test_parse_negative_window_offset():
    s = parse("SELECT sum(v) FROM m GROUP BY time(1h, -30m)")
    assert s.group_by_offset_ns == -1800 * S


def test_parse_fill_value():
    s = parse("SELECT sum(v) FROM m GROUP BY time(1m) FILL(3.5)")
    assert s.fill is FillOption.VALUE and s.fill_value == 3.5


def test_parse_show_statements():
    assert parse("SHOW MEASUREMENTS") == ShowStatement("measurements")
    assert parse("SHOW TAG KEYS FROM events") == ShowStatement(
        "tag keys", measurement="events"
    )
    assert parse('SHOW TAG VALUES FROM events WITH KEY = "event_type"') == (
        ShowStatement("tag values", measurement="events", with_key="event_type")
    )
    assert parse("SHOW FIELD KEYS") == ShowStatement("field keys")


def test_parse_errors():
    for bad in (
        "SELECT",
        "SELECT value",
        "SELECT value FROM",
        "SELECT value FROM m WHERE host =~ 'notregex'",
        "SELECT value FROM m trailing garbage",
        "SELECT value FROM m WHERE host =~ /unterminated",
    ):
        with pytest.raises(InfluxQLParseError):
            parse(bad)


def test_parse_rfc3339_time_strings():
    s = parse("SELECT value FROM m WHERE time >= '2026-01-01T00:00:00Z'")
    assert s.where.right == Literal("string", "2026-01-01T00:00:00Z")


# -- planner -----------------------------------------------------------------


@pytest.fixture(scope="module")
def catalog(spark):
    rows = [
        # tag host, fields v (float) + n (int), time ns
        ("a", 1.0, 1, 0 * H + 10 * S),
        ("a", 2.0, 2, 0 * H + 20 * S),
        ("a", 4.0, 4, 1 * H + 10 * S),
        ("a", 8.0, 8, 3 * H + 10 * S),
        ("b", 10.0, 10, 0 * H + 10 * S),
        ("b", 30.0, 30, 2 * H + 10 * S),
        (None, 5.0, 5, 0 * H + 10 * S),
    ]
    df = spark.createDataFrame(
        rows, "host string, v double, n long, time long"
    )
    return {"cpu": Measurement(df=df, tags=("host",), fields=("v", "n"))}


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_plan_raw_select(catalog):
    out = execute(
        "SELECT v FROM cpu WHERE host = 'a' AND time < 2h ORDER BY time DESC",
        catalog,
    )
    # un-grouped raw select: time + projected columns only (tags appear
    # when grouped — InfluxQL's series framing, relationally)
    assert _rows(out) == [
        (H + 10 * S, 4.0),
        (20 * S, 2.0),
        (10 * S, 1.0),
    ]


def test_plan_raw_wildcard_and_columns(catalog):
    out = execute("SELECT * FROM cpu WHERE host = 'b'", catalog)
    assert out.columns == ["time", "v", "n"]
    assert _rows(out) == [(10 * S, 10.0, 10), (2 * H + 10 * S, 30.0, 30)]


def test_plan_mean_group_by_tag(catalog):
    out = execute("SELECT MEAN(v) FROM cpu GROUP BY host", catalog)
    assert out.columns == ["host", "mean"]
    got = dict((r[0], r[1]) for r in _rows(out))
    assert got["a"] == pytest.approx(3.75)
    assert got["b"] == pytest.approx(20.0)
    assert got[None] == pytest.approx(5.0)


def test_plan_count_sum_multiple(catalog):
    out = execute(
        "SELECT COUNT(v), SUM(n) AS total FROM cpu WHERE host = 'a'", catalog
    )
    assert out.columns == ["count", "total"]
    assert _rows(out) == [(4, 15)]


def test_plan_group_by_time_reports_bucket_start(catalog):
    out = execute(
        "SELECT SUM(v) FROM cpu WHERE host = 'a' GROUP BY time(1h)", catalog
    )
    assert out.columns == ["time", "sum"]
    assert _rows(out) == [(0, 3.0), (H, 4.0), (3 * H, 8.0)]


def test_plan_fill_null_and_previous(catalog):
    base = "SELECT SUM(v) FROM cpu WHERE host = 'a' GROUP BY time(1h)"
    nulled = execute(base + " FILL(null)", catalog)
    assert _rows(nulled) == [(0, 3.0), (H, 4.0), (2 * H, None), (3 * H, 8.0)]
    prev = execute(base + " FILL(previous)", catalog)
    assert _rows(prev) == [(0, 3.0), (H, 4.0), (2 * H, 4.0), (3 * H, 8.0)]
    valued = execute(base + " FILL(0)", catalog)
    assert _rows(valued) == [(0, 3.0), (H, 4.0), (2 * H, 0.0), (3 * H, 8.0)]


def test_plan_selector_last_carries_time(catalog):
    out = execute("SELECT LAST(v) FROM cpu GROUP BY host", catalog)
    assert out.columns == ["host", "time", "last"]
    got = {r[0]: (r[1], r[2]) for r in _rows(out)}
    assert got["a"] == (3 * H + 10 * S, 8.0)
    assert got["b"] == (2 * H + 10 * S, 30.0)


def test_plan_selector_in_buckets(catalog):
    out = execute(
        "SELECT FIRST(v) FROM cpu WHERE host = 'a' GROUP BY time(1h)", catalog
    )
    assert _rows(out) == [(0, 1.0), (H, 4.0), (3 * H, 8.0)]


def test_plan_spread_median_stddev(catalog):
    out = execute(
        "SELECT SPREAD(v), MEDIAN(v) FROM cpu WHERE host = 'a'", catalog
    )
    assert out.columns == ["spread", "median"]
    assert _rows(out) == [(7.0, 3.0)]


def test_plan_percentile_nearest_rank(catalog):
    out = execute(
        "SELECT PERCENTILE(v, 50) FROM cpu GROUP BY host", catalog
    )
    got = {r[0]: r[1] for r in _rows(out)}
    # nearest-rank: ceil(0.5*4)=2nd of [1,2,4,8] -> 2
    assert got["a"] == 2.0
    assert got["b"] == 10.0


def test_plan_distinct(catalog):
    out = execute("SELECT DISTINCT(n) FROM cpu WHERE host = 'a'", catalog)
    assert out.columns == ["distinct"]
    assert [r[0] for r in _rows(out)] == [1, 2, 4, 8]


def test_plan_top_with_rank(catalog):
    out = execute("SELECT TOP(v, 2) FROM cpu GROUP BY host", catalog)
    assert out.columns == ["host", "time", "top", "rank"]
    got = [(r[0], r[2], r[3]) for r in _rows(out)]
    assert ("a", 8.0, 1) in got and ("a", 4.0, 2) in got
    assert ("b", 30.0, 1) in got


def test_plan_difference_and_derivative(catalog):
    out = execute(
        "SELECT DIFFERENCE(v) FROM cpu WHERE host = 'a'", catalog
    )
    assert out.columns == ["time", "difference"]
    assert [r[1] for r in _rows(out)] == [1.0, 2.0, 4.0]
    # derivative per hour: dv/dt * 1h
    out2 = execute(
        "SELECT DERIVATIVE(v, 1h) FROM cpu WHERE host = 'a'", catalog
    )
    vals = [r[1] for r in _rows(out2)]
    assert vals[0] == pytest.approx(1.0 * 360)  # 1.0 over 10s, per hour
    assert vals[1] == pytest.approx(2.0 / 3590 * 3600)


def test_plan_moving_average_warmup(catalog):
    out = execute(
        "SELECT MOVING_AVERAGE(v, 2) FROM cpu WHERE host = 'a'", catalog
    )
    # first point suppressed (needs 2), then pairwise means
    assert [r[1] for r in _rows(out)] == [1.5, 3.0, 6.0]


def test_plan_cumulative_sum(catalog):
    out = execute("SELECT CUMULATIVE_SUM(v) FROM cpu WHERE host = 'a'", catalog)
    assert [r[1] for r in _rows(out)] == [1.0, 3.0, 7.0, 15.0]


def test_plan_elapsed_unit(catalog):
    out = execute("SELECT ELAPSED(v, 1s) FROM cpu WHERE host = 'a'", catalog)
    assert [r[1] for r in _rows(out)] == [10, 3590, 7200]


def test_plan_limit_per_series_and_global(catalog):
    per = execute("SELECT v FROM cpu GROUP BY host LIMIT 1", catalog)
    assert set(_rows(per)) == {
        ("a", 10 * S, 1.0), ("b", 10 * S, 10.0), (None, 10 * S, 5.0)
    }
    glob = execute("SELECT v FROM cpu LIMIT 2 OFFSET 1", catalog)
    assert len(_rows(glob)) == 2


def test_plan_slimit(catalog):
    out = execute("SELECT v FROM cpu GROUP BY host SLIMIT 1", catalog)
    # first series in tag order is host='a' (nulls last)
    assert {r[0] for r in _rows(out)} == {"a"}
    out2 = execute("SELECT v FROM cpu GROUP BY host SLIMIT 1 SOFFSET 2", catalog)
    assert {r[0] for r in _rows(out2)} == {None}


def test_plan_regex_tag_filter(catalog):
    out = execute("SELECT COUNT(v) FROM cpu WHERE host =~ /^[ab]$/", catalog)
    assert _rows(out) == [(6,)]


def test_plan_now_window(catalog, spark):
    out = execute(
        "SELECT COUNT(v) FROM cpu WHERE time > now() - 1h AND time < now() + 1h",
        catalog,
        now_ns=2 * H,
    )
    # points in (1h, 3h): the 1h+10s and 2h+10s ones (now() caps nothing
    # by itself — stock InfluxQL only implies an upper bound for GROUP BY
    # time, which we do not fabricate)
    assert _rows(out) == [(2,)]


def test_plan_rfc3339_bound(catalog):
    # epoch 0 == 1970-01-01; everything is >= it
    out = execute(
        "SELECT COUNT(v) FROM cpu WHERE time >= '1970-01-01T00:00:00Z'",
        catalog,
    )
    assert _rows(out) == [(7,)]


def test_plan_show_statements(catalog):
    assert _rows(execute("SHOW MEASUREMENTS", catalog)) == [("cpu",)]
    assert _rows(execute("SHOW TAG KEYS", catalog)) == [("cpu", "host")]
    fk = _rows(execute("SHOW FIELD KEYS FROM cpu", catalog))
    assert ("cpu", "v", "float") in fk and ("cpu", "n", "integer") in fk
    tv = _rows(
        execute('SHOW TAG VALUES FROM cpu WITH KEY = "host"', catalog)
    )
    assert tv == [("host", "a"), ("host", "b")]


def test_plan_show_series_and_databases(catalog):
    got = [r[0] for r in _rows(execute("SHOW SERIES FROM cpu", catalog))]
    assert got == ["cpu", "cpu,host=a", "cpu,host=b"]
    dbs = _rows(execute("SHOW DATABASES", catalog, databases=["db0", "db1"]))
    assert dbs == [("db0",), ("db1",)]
    rp = _rows(execute("SHOW RETENTION POLICIES ON db0", catalog))
    assert rp == [("autogen", "0s", "168h0m0s", 1, True)]


def test_plan_show_tag_values_in_and_regex(catalog):
    tv = _rows(
        execute('SHOW TAG VALUES FROM cpu WITH KEY IN ("host")', catalog)
    )
    assert tv == [("host", "a"), ("host", "b")]
    tv2 = _rows(execute("SHOW TAG VALUES WITH KEY =~ /^ho/", catalog))
    assert tv2 == [("host", "a"), ("host", "b")]


def test_plan_show_limit_offset(catalog):
    got = _rows(execute("SHOW SERIES FROM cpu LIMIT 1 OFFSET 1", catalog))
    assert got == [("cpu,host=a",)]


def test_plan_errors(catalog):
    for bad, exc in (
        ("SELECT v, MEAN(v) FROM cpu", InfluxQLPlanError),  # mixed raw+agg
        ("SELECT HOLT_WINTERS(v, 1, 1) FROM cpu", InfluxQLPlanError),
        ("SELECT MEAN(v) FROM nosuch", InfluxQLPlanError),
        ("SELECT MEAN(nosuch) FROM cpu", InfluxQLPlanError),
        ("SELECT v FROM cpu GROUP BY nosuchtag", InfluxQLPlanError),
        ("SELECT v FROM cpu GROUP BY time(1h)", InfluxQLPlanError),  # raw+time
        ("SELECT v FROM cpu SLIMIT 2", InfluxQLPlanError),  # slimit w/o tags
        # transform-of-aggregate needs GROUP BY time()
        ("SELECT DERIVATIVE(MEAN(v)) FROM cpu", InfluxQLPlanError),
        # carry-fill of a transformed series manufactures rates — rejected
        (
            "SELECT DERIVATIVE(MEAN(v)) FROM cpu GROUP BY time(1h) FILL(previous)",
            InfluxQLPlanError,
        ),
        ("SELECT MEAN(v) + v FROM cpu", InfluxQLPlanError),  # agg + raw mix
    ):
        with pytest.raises(exc):
            execute(bad, catalog)


def test_plan_projection_arithmetic_raw(catalog):
    out = execute(
        "SELECT v * 2 + 1 AS scaled, abs(v - 3) FROM cpu WHERE host = 'a'",
        catalog,
    )
    assert out.columns == ["time", "scaled", "abs"]
    assert [(r[1], r[2]) for r in _rows(out)] == [
        (3.0, 2.0),
        (5.0, 1.0),
        (9.0, 1.0),
        (17.0, 5.0),
    ]


def test_plan_math_functions(catalog):
    out = execute(
        "SELECT sqrt(v), round(v / 3), pow(v, 2) FROM cpu WHERE host = 'b'",
        catalog,
    )
    rows = _rows(out)
    assert rows[0][1] == pytest.approx(10.0**0.5)
    assert rows[0][2] == pytest.approx(3.0)  # round(10/3)
    assert rows[1][3] == pytest.approx(900.0)


def test_plan_unary_minus_and_modulo(catalog):
    out = execute("SELECT -v, n % 3 FROM cpu WHERE host = 'a'", catalog)
    assert [(r[1], r[2]) for r in _rows(out)] == [
        (-1.0, 1),
        (-2.0, 2),
        (-4.0, 1),
        (-8.0, 2),
    ]


def test_plan_arithmetic_over_aggregates(catalog):
    out = execute(
        "SELECT MEAN(v) * 100 AS pct, SUM(v) / COUNT(v) AS check "
        "FROM cpu GROUP BY host",
        catalog,
    )
    got = {r[0]: (r[1], r[2]) for r in _rows(out)}
    assert got["a"] == (pytest.approx(375.0), pytest.approx(3.75))
    assert got["b"] == (pytest.approx(2000.0), pytest.approx(20.0))


def test_plan_shared_subaggregate_dedupes(catalog):
    # mean(v) appears twice; the plan computes ONE mean
    out = execute(
        "SELECT MEAN(v) + MEAN(v) AS double_mean FROM cpu WHERE host = 'b'",
        catalog,
    )
    assert _rows(out) == [(40.0,)]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("avg(") <= 2  # partial+final of one agg


def test_plan_count_distinct(catalog):
    out = execute(
        "SELECT COUNT(DISTINCT(n)) AS u FROM cpu", catalog
    )
    assert _rows(out) == [(7,)]


def test_plan_derivative_of_mean(catalog):
    # Grafana staple: bucketed mean, then per-bucket-step derivative.
    # host a hourly means: 0h->1.5, 1h->4, 3h->8.  derivative default
    # unit = the group interval (1h): (4-1.5)/1 = 2.5, (8-4)/2h = 2.0
    out = execute(
        "SELECT DERIVATIVE(MEAN(v)) FROM cpu WHERE host = 'a' "
        "GROUP BY time(1h)",
        catalog,
    )
    assert out.columns == ["time", "derivative"]
    assert [(r[0], r[1]) for r in _rows(out)] == [
        (H, pytest.approx(2.5)),
        (3 * H, pytest.approx(2.0)),
    ]


def test_plan_difference_of_count_with_tags(catalog):
    out = execute(
        "SELECT DIFFERENCE(COUNT(v)) AS dc FROM cpu "
        "GROUP BY time(1h), host",
        catalog,
    )
    got = [(r[0], r[1], r[2]) for r in _rows(out)]
    # host a counts: 0h->2, 1h->1, 3h->1 -> diffs -1, 0
    assert ("a", H, -1) in got and ("a", 3 * H, 0) in got
    # host b counts: 0h->1, 2h->1 -> diff 0
    assert ("b", 2 * H, 0) in got


def test_plan_moving_average_of_mean(catalog):
    out = execute(
        "SELECT MOVING_AVERAGE(MEAN(v), 2) FROM cpu WHERE host = 'a' "
        "GROUP BY time(1h)",
        catalog,
    )
    # means 1.5, 4, 8 -> pairwise 2.75, 6.0
    assert [r[1] for r in _rows(out)] == [
        pytest.approx(2.75),
        pytest.approx(6.0),
    ]


def test_plan_transform_of_agg_fill_null_grid(catalog):
    out = execute(
        "SELECT DIFFERENCE(SUM(v)) AS d FROM cpu WHERE host = 'a' "
        "GROUP BY time(1h) FILL(null)",
        catalog,
    )
    # sums 0h->3, 1h->4, 3h->8: diffs at 1h (1.0) and 3h (4.0); the
    # fill(null) grid re-materializes the empty 2h bucket as a null row
    assert _rows(out) == [(H, 1.0), (2 * H, None), (3 * H, 4.0)]


def test_plan_arithmetic_around_transform(catalog):
    out = execute(
        "SELECT CUMULATIVE_SUM(v) * 10 FROM cpu WHERE host = 'a'",
        catalog,
    )
    assert [r[1] for r in _rows(out)] == [10.0, 30.0, 70.0, 150.0]


def test_plan_non_negative_derivative(catalog):
    # host a values rise monotonically -> all emitted; add a fall via
    # host-b union is overkill: check count matches derivative's
    out = execute(
        "SELECT NON_NEGATIVE_DERIVATIVE(v, 1s) FROM cpu WHERE host = 'a'",
        catalog,
    )
    vals = [r[1] for r in _rows(out)]
    assert len(vals) == 3 and all(v >= 0 for v in vals)


def test_plan_where_field_arithmetic(catalog):
    out = execute("SELECT v FROM cpu WHERE v * 2 > 8 AND host = 'a'", catalog)
    assert [r[1] for r in _rows(out)] == [8.0]


def test_parse_from_targets():
    s = parse("SELECT max(hm) FROM (SELECT mean(v) AS hm FROM cpu GROUP BY time(1h), host) GROUP BY host")
    assert s.measurement is None and s.from_sub.measurement == "cpu"
    assert s.from_sub.group_by_time_ns == H
    s2 = parse("SELECT count(v) FROM /^c/")
    assert s2.from_regex == "^c"
    s3 = parse("SELECT v FROM cpu, mem")
    assert s3.from_names == ["cpu", "mem"]
    with pytest.raises(InfluxQLParseError):
        parse("SELECT v FROM cpu, /re/")  # mixed multi-target


def test_plan_subquery_max_of_hourly_mean(catalog):
    out = execute(
        "SELECT MAX(hm) FROM (SELECT MEAN(v) AS hm FROM cpu "
        "GROUP BY time(1h), host) GROUP BY host",
        catalog,
    )
    got = {r[0]: r[1] for r in _rows(out)}
    # host a hourly means: 1.5, 4, 8 -> max 8; host b: 10, 30 -> 30
    assert got["a"] == pytest.approx(8.0)
    assert got["b"] == pytest.approx(30.0)


def test_plan_subquery_transform_outer(catalog):
    # difference over the inner bucketed sums, computed by the OUTER query
    out = execute(
        "SELECT DIFFERENCE(s) FROM (SELECT SUM(v) AS s FROM cpu "
        "WHERE host = 'a' GROUP BY time(1h))",
        catalog,
    )
    assert [r[1] for r in _rows(out)] == [1.0, 4.0]


def test_plan_subquery_where_on_inner_alias(catalog):
    out = execute(
        "SELECT COUNT(s) FROM (SELECT SUM(v) AS s FROM cpu "
        "GROUP BY time(1h), host) WHERE s > 5",
        catalog,
    )
    # sums: a->(3,4,8), b->(10,30), null->(5): >5 leaves 8,10,30
    assert _rows(out) == [(3,)]


def test_plan_regex_from_unions_measurements(catalog, spark):
    rows = [("x", 100.0, 7 * S)]
    mem = spark.createDataFrame(rows, "host string, v double, time long")
    cat2 = dict(catalog)
    cat2["mem"] = Measurement(df=mem, tags=("host",), fields=("v",))
    out = execute("SELECT COUNT(v) AS n FROM /^(cpu|mem)$/", cat2)
    assert out.columns == ["measurement", "n"]
    assert set(_rows(out)) == {("cpu", 7), ("mem", 1)}


def test_plan_multi_from_names(catalog, spark):
    mem = spark.createDataFrame(
        [("x", 100.0, 7 * S)], "host string, v double, time long"
    )
    cat2 = dict(catalog)
    cat2["mem"] = Measurement(df=mem, tags=("host",), fields=("v",))
    out = execute("SELECT v FROM cpu, mem WHERE v >= 30", cat2)
    assert set(_rows(out)) == {("cpu", 2 * H + 10 * S, 30.0), ("mem", 7 * S, 100.0)}


def test_plan_stays_jvm_side(catalog):
    """No Python row paths: the lowered plans must be pure Catalyst
    (no EvalPython / InPandas nodes)."""
    for q in (
        "SELECT MEAN(v) FROM cpu GROUP BY time(1h), host FILL(previous)",
        "SELECT DIFFERENCE(v) FROM cpu GROUP BY host",
        "SELECT TOP(v, 2) FROM cpu GROUP BY host",
        # tz(): from/to_utc_timestamp are JVM intrinsics, zero Python
        "SELECT MEAN(v) FROM cpu WHERE time >= 0 AND time < 1d "
        "GROUP BY time(1h) FILL(null) tz('America/Chicago')",
    ):
        plan = execute(q, catalog)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan and "InPandas" not in plan


# -- INTO writeback ----------------------------------------------------------


def test_parse_into():
    s = parse("SELECT mean(v) INTO cpu_1h FROM cpu GROUP BY time(1h), host")
    assert s.into == "cpu_1h" and s.measurement == "cpu"


def test_run_into_writes_chunk_and_upserts(spark, tmp_path, catalog):
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.ast_nodes import SelectStatement
    from influxdb_iox_spark.influxql.planner import run_into
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "into_store"))
    db = Database("db", store, spark)
    stmt = parse(
        "SELECT SUM(v) AS s INTO cpu_hourly FROM cpu GROUP BY time(1h), host"
    )
    n = run_into(stmt, catalog, db)
    assert n == 6  # buckets: a->(0h,1h,3h), b->(0h,2h), null host->0h
    # destination registered and queryable through the dedup scan
    got = {
        (r["host"], r["time"]): r["s"]
        for r in db.table("cpu_hourly").collect()
    }
    assert got[("a", 0)] == 3.0 and got[("a", 3 * H)] == 8.0
    # re-run: identical buckets re-emit; PK dedup keeps one copy
    n2 = run_into(stmt, catalog, db)
    assert n2 == n
    assert db.table("cpu_hourly").count() == n


def test_execute_rejects_into_without_database(catalog):
    with pytest.raises(InfluxQLPlanError):
        execute("SELECT mean(v) INTO d FROM cpu GROUP BY time(1h)", catalog)


# -- ADVICE r8 regressions: resolved-tag framing, empty-catalog SHOW ---------


def test_v1_raw_select_projecting_tag_is_one_series(catalog):
    """SELECT value, host FROM cpu (no GROUP BY) must frame as ONE
    series with host as a plain column — stock v1 only hoists columns
    into the series tag set when the statement grouped by them."""
    from influxdb_iox_spark.influxql.v1_api import run_statements

    env = run_statements("SELECT v, host FROM cpu WHERE host = 'a'", catalog)
    series = env["results"][0]["series"]
    assert len(series) == 1
    s = series[0]
    assert s["name"] == "cpu"
    assert "tags" not in s
    assert s["columns"] == ["time", "v", "host"]
    assert len(s["values"]) == 4


def test_v1_grouped_select_still_frames_tags(catalog):
    from influxdb_iox_spark.influxql.v1_api import run_statements

    env = run_statements("SELECT MEAN(v) FROM cpu GROUP BY host", catalog)
    series = env["results"][0]["series"]
    tags = {s["tags"]["host"] for s in series}
    assert tags == {"a", "b", None}
    for s in series:
        assert s["columns"] == ["mean"]


def test_show_statements_on_empty_database():
    """Fresh-server probes (Grafana datasource check) issue SHOW
    DATABASES / RETENTION POLICIES / MEASUREMENTS before any write
    lands — they must succeed with an empty catalog."""
    from influxdb_iox_spark.influxql.v1_api import run_statements

    env = run_statements(
        "SHOW DATABASES; SHOW RETENTION POLICIES; SHOW MEASUREMENTS; "
        "SHOW SERIES; SHOW TAG KEYS",
        {},
        databases=["mydb"],
    )
    for r in env["results"]:
        assert "error" not in r, r
    assert env["results"][0]["series"][0]["values"] == [["mydb"]]
    assert env["results"][1]["series"][0]["columns"][0] == "name"
    assert "series" not in env["results"][2]  # zero measurements


def test_run_into_aliased_field_named_like_tag_stays_field(
    spark, tmp_path, catalog
):
    """SELECT mean(v) AS host INTO dst: the alias collides with cpu's
    tag name, but the statement grouped by nothing — the column must be
    written as a FIELD (double), not silently become a destination tag."""
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.planner import run_into
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "into_alias_store"))
    db = Database("db", store, spark)
    stmt = parse(
        "SELECT MEAN(v) AS host INTO dst FROM cpu GROUP BY time(1h)"
    )
    n = run_into(stmt, catalog, db)
    assert n > 0
    sch = db.table_schema("dst")
    assert "host" not in sch.tag_columns
    assert dict(db.table("dst").dtypes)["host"] == "double"


def test_multi_from_orders_by_resolved_tags_only(catalog, spark):
    """mem carries a FIELD named host (colliding with cpu's TAG): the
    union must order by (measurement, time) for this ungrouped select,
    not by the field's values."""
    mem = spark.createDataFrame(
        [("z9", 1.0, 10 * S), ("a1", 2.0, 20 * S)],
        "host string, v double, time long",
    )
    cat2 = dict(catalog)
    cat2["mem"] = Measurement(df=mem, tags=(), fields=("host", "v"))
    out = execute("SELECT host, v FROM cpu, mem WHERE v <= 2", cat2)
    mem_rows = [t for t in _rows(out) if t[0] == "mem"]
    # time order (z9 first), NOT host-value order (a1 first)
    assert [r[out.columns.index("host")] for r in mem_rows] == ["z9", "a1"]


# -- fill across the WHERE-clause time range (round 9) ------------------------


def test_where_time_range_extraction():
    from influxdb_iox_spark.influxql.planner import _where_time_range

    now = 100 * H

    def rng(q):
        return _where_time_range(parse(q).where, now)

    assert rng("SELECT v FROM m WHERE time >= 1h AND time < 3h") == (H, 3 * H)
    assert rng("SELECT v FROM m WHERE time > 1h AND time <= 3h") == (
        H + 1,
        3 * H + 1,
    )
    assert rng("SELECT v FROM m WHERE time = 2h") == (2 * H, 2 * H + 1)
    assert rng("SELECT v FROM m WHERE time > now() - 1h") == (99 * H + 1, None)
    # tightest bound wins under AND; non-time terms contribute nothing
    assert rng(
        "SELECT v FROM m WHERE time >= 1h AND time >= 2h AND host = 'a'"
    ) == (2 * H, None)
    # OR cannot pin a contiguous range
    assert rng("SELECT v FROM m WHERE time >= 1h OR time < 3h") == (None, None)


def test_plan_fill_range_leading_and_trailing_buckets(catalog):
    """Stock v1: fill buckets span the WHERE time range, so sparse series
    get leading AND trailing empty buckets (host b observed only at 2h
    inside [1h, 4h))."""
    base = (
        "SELECT SUM(v) FROM cpu WHERE host = 'b' AND time >= 1h "
        "AND time < 4h GROUP BY time(1h)"
    )
    nulled = execute(base + " FILL(null)", catalog)
    assert _rows(nulled) == [(H, None), (2 * H, 30.0), (3 * H, None)]
    prev = execute(base + " FILL(previous)", catalog)
    # leading bucket has no previous value -> stays null (stock)
    assert _rows(prev) == [(H, None), (2 * H, 30.0), (3 * H, 30.0)]


def test_plan_fill_range_linear_edges_stay_null(catalog):
    out = execute(
        "SELECT SUM(v) FROM cpu WHERE host = 'a' AND time >= 0 "
        "AND time < 5h GROUP BY time(1h) FILL(linear)",
        catalog,
    )
    # sums 0h->3, 1h->4, 3h->8; 2h interpolates to 6; the trailing 4h
    # bucket has no following neighbor -> null, never extrapolated
    assert _rows(out) == [
        (0, 3.0),
        (H, 4.0),
        (2 * H, 6.0),
        (3 * H, 8.0),
        (4 * H, None),
    ]


def test_plan_fill_range_lower_bound_defaults_to_now(catalog):
    out = execute(
        "SELECT SUM(v) FROM cpu WHERE host = 'a' AND time >= 0 "
        "GROUP BY time(1h) FILL(null)",
        catalog,
        now_ns=5 * H,
    )
    # implicit upper bound now()=5h -> grid 0h..4h
    assert _rows(out) == [
        (0, 3.0),
        (H, 4.0),
        (2 * H, None),
        (3 * H, 8.0),
        (4 * H, None),
    ]


def test_plan_fill_range_respects_group_offset(catalog):
    out = execute(
        "SELECT SUM(v) FROM cpu WHERE host = 'a' AND time >= 30m "
        "AND time < 3h GROUP BY time(1h, 30m) FILL(null)",
        catalog,
    )
    # offset grid: floor(30m)=30m .. floor(3h-1ns)=2h30m
    assert _rows(out) == [
        (1800 * S, 4.0),
        (5400 * S, None),
        (9000 * S, None),
    ]


def test_plan_fill_without_time_bound_keeps_observed_extent(catalog):
    out = execute(
        "SELECT SUM(v) FROM cpu WHERE host = 'a' GROUP BY time(1h) "
        "FILL(null)",
        catalog,
    )
    assert _rows(out) == [(0, 3.0), (H, 4.0), (2 * H, None), (3 * H, 8.0)]


# -- tz() clause (round 9) -----------------------------------------------------


def _utc_ns(iso: str) -> int:
    import datetime as dt

    return int(
        dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
    ) * S


def test_parse_tz_clause():
    s = parse("SELECT mean(v) FROM m GROUP BY time(1d) tz('America/Chicago')")
    assert s.tz == "America/Chicago"
    assert s.group_by_time_ns == 24 * H
    with pytest.raises(InfluxQLParseError):
        parse("SELECT v FROM m tz(America/Chicago)")  # unquoted zone


def test_plan_tz_unknown_zone_rejected(catalog):
    with pytest.raises(InfluxQLPlanError):
        execute(
            "SELECT SUM(v) FROM cpu GROUP BY time(1h) tz('Not/AZone')",
            catalog,
        )


@pytest.fixture(scope="module")
def dst_catalog(spark):
    """Points straddling America/Chicago's 2024 spring-forward
    (2024-03-10T08:00Z) and fall-back (2024-11-03T07:00Z)."""
    rows = [
        ("a", 1.0, _utc_ns("2024-03-10T07:00:00Z")),  # 01:00 CST, Mar 10
        ("a", 2.0, _utc_ns("2024-03-10T09:00:00Z")),  # 04:00 CDT, Mar 10
        ("a", 4.0, _utc_ns("2024-03-11T06:00:00Z")),  # 01:00 CDT, Mar 11
        ("a", 8.0, _utc_ns("2024-11-03T05:30:00Z")),  # 00:30 CDT, Nov 3
        ("a", 16.0, _utc_ns("2024-11-04T05:30:00Z")),  # 23:30 CST, Nov 3!
        ("a", 32.0, _utc_ns("2024-11-04T06:30:00Z")),  # 00:30 CST, Nov 4
    ]
    df = spark.createDataFrame(rows, "host string, v double, time long")
    return {"cpu": Measurement(df=df, tags=("host",), fields=("v",))}


def test_plan_tz_daily_buckets_spring_forward(dst_catalog):
    """The local Mar 10 bucket is 23 UTC hours (spring forward): both
    Mar 10 points land in it; bucket starts are local midnights, i.e.
    06:00Z before the change and 05:00Z after."""
    out = execute(
        "SELECT SUM(v) AS s FROM cpu WHERE time < '2024-06-01' "
        "GROUP BY time(1d) tz('America/Chicago')",
        dst_catalog,
    )
    assert _rows(out) == [
        (_utc_ns("2024-03-10T06:00:00Z"), 3.0),
        (_utc_ns("2024-03-11T05:00:00Z"), 4.0),
    ]


def test_plan_tz_daily_buckets_fall_back(dst_catalog):
    """The local Nov 3 bucket is 25 UTC hours (fall back): the point at
    2024-11-04T05:30Z is local Nov 3 23:30 CST and belongs to Nov 3."""
    out = execute(
        "SELECT SUM(v) AS s FROM cpu WHERE time >= '2024-10-01' "
        "AND time < '2024-12-01' GROUP BY time(1d) tz('America/Chicago')",
        dst_catalog,
    )
    assert _rows(out) == [
        (_utc_ns("2024-11-03T05:00:00Z"), 24.0),  # 8 + 16, 25h bucket
        (_utc_ns("2024-11-04T06:00:00Z"), 32.0),
    ]


def test_plan_tz_fill_grid_local_midnights(dst_catalog):
    """fill() with tz(): the grid is uniform in the LOCAL frame, so the
    materialized empty buckets sit at local midnights even across the
    spring-forward (Mar 9 at 06:00Z, Mar 11 at 05:00Z)."""
    out = execute(
        "SELECT SUM(v) AS s FROM cpu WHERE time >= '2024-03-09T06:00:00Z'"
        " AND time < '2024-03-11T05:00:00Z'"
        " GROUP BY time(1d) FILL(null) tz('America/Chicago')",
        dst_catalog,
    )
    assert _rows(out) == [
        (_utc_ns("2024-03-09T06:00:00Z"), None),
        (_utc_ns("2024-03-10T06:00:00Z"), 3.0),
    ]


def test_v1_tz_renders_zone_offset(dst_catalog):
    from influxdb_iox_spark.influxql.v1_api import run_statements

    env = run_statements(
        "SELECT SUM(v) AS s FROM cpu WHERE time < '2024-06-01' "
        "GROUP BY time(1d) tz('America/Chicago')",
        dst_catalog,
    )
    vals = env["results"][0]["series"][0]["values"]
    assert vals[0][0] == "2024-03-10T00:00:00-06:00"
    assert vals[1][0] == "2024-03-11T00:00:00-05:00"


# -- DELETE statement (round 9: lowered onto the r7 tombstones) ---------------


def test_parse_delete():
    from influxdb_iox_spark.influxql.ast_nodes import DeleteStatement

    s = parse("DELETE FROM cpu WHERE host = 'a' AND time < 2h")
    assert isinstance(s, DeleteStatement)
    assert s.from_names == ["cpu"] and s.where is not None
    assert parse("DELETE WHERE time < 5").from_names is None
    assert parse("DELETE FROM /^c/").from_regex == "^c"
    for bad in (
        "DELETE FROM (SELECT v FROM m)",
        "DELETE FROM cpu trailing",
    ):
        with pytest.raises(InfluxQLParseError):
            parse(bad)


def test_run_delete_tombstones_rows(spark, tmp_path):
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.planner import run_delete
    from influxdb_iox_spark.influxql.v1_api import catalog_from_database
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "del_store"))
    db = Database("db", store, spark)
    sch = IoxSchema.build(["host"], {"v": InfluxColumnType.FIELD_FLOAT})
    rows = [
        ("a", 1.0, 10 * S), ("a", 2.0, 2 * H), ("b", 3.0, 10 * S),
    ]
    store.write_chunk(
        spark.createDataFrame(rows, "host string, v double, time long"),
        "cpu", sch,
    )
    db.register_table("cpu", sch)

    stmt = parse("DELETE FROM cpu WHERE host = 'a' AND time < 1h")
    assert run_delete(stmt, catalog_from_database(db), db) == ["cpu"]
    left = {(r["host"], r["time"]) for r in db.table("cpu").collect()}
    assert left == {("a", 2 * H), ("b", 10 * S)}

    # restrictions: fields and OR rejected, regex conditions rejected
    for bad in (
        "DELETE FROM cpu WHERE v = 1",
        "DELETE FROM cpu WHERE host = 'a' OR host = 'b'",
        "DELETE FROM cpu WHERE host =~ /a/",
    ):
        with pytest.raises(InfluxQLPlanError):
            run_delete(parse(bad), catalog_from_database(db), db)

    # bare DELETE FROM m = everything (explicit all-time tombstone)
    run_delete(parse("DELETE FROM cpu"), catalog_from_database(db), db)
    assert db.table("cpu").count() == 0


def test_v1_delete_post_only(spark, tmp_path):
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.v1_api import (
        catalog_from_database,
        run_statements,
    )
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "del_http_store"))
    db = Database("db", store, spark)
    sch = IoxSchema.build(["host"], {"v": InfluxColumnType.FIELD_FLOAT})
    store.write_chunk(
        spark.createDataFrame(
            [("a", 1.0, 10 * S)], "host string, v double, time long"
        ),
        "cpu", sch,
    )
    db.register_table("cpu", sch)
    env = run_statements(
        "DELETE FROM cpu WHERE host = 'a'",
        catalog_from_database(db),
        database=db,
        read_only=True,
    )
    assert "POST" in env["results"][0]["error"]
    assert db.table("cpu").count() == 1  # GET did not delete
    env2 = run_statements(
        "DELETE FROM cpu WHERE host = 'a'",
        catalog_from_database(db),
        database=db,
    )
    assert env2["results"][0] == {"statement_id": 0}
    assert db.table("cpu").count() == 0


def test_parse_drop_measurement_and_show_with():
    from influxdb_iox_spark.influxql.ast_nodes import DropMeasurement

    assert parse("DROP MEASUREMENT cpu") == DropMeasurement("cpu")
    s = parse("SHOW MEASUREMENTS WITH MEASUREMENT =~ /^c/")
    assert s.what == "measurements" and s.with_measurement_regex == "^c"
    s2 = parse("SHOW MEASUREMENTS WITH MEASUREMENT = cpu")
    assert s2.with_measurement == "cpu"


def test_show_measurements_with_filter(catalog, spark):
    mem = spark.createDataFrame(
        [("x", 1.0, 7 * S)], "host string, v double, time long"
    )
    cat2 = dict(catalog)
    cat2["mem"] = Measurement(df=mem, tags=("host",), fields=("v",))
    out = execute("SHOW MEASUREMENTS WITH MEASUREMENT =~ /^c/", cat2)
    assert _rows(out) == [("cpu",)]
    out2 = execute("SHOW MEASUREMENTS WITH MEASUREMENT = mem", cat2)
    assert _rows(out2) == [("mem",)]


def test_v1_drop_measurement(spark, tmp_path):
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.v1_api import (
        catalog_from_database,
        run_statements,
    )
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "dropm_store"))
    db = Database("db", store, spark)
    sch = IoxSchema.build(["host"], {"v": InfluxColumnType.FIELD_FLOAT})
    store.write_chunk(
        spark.createDataFrame(
            [("a", 1.0, 10 * S)], "host string, v double, time long"
        ),
        "cpu", sch,
    )
    db.register_table("cpu", sch)
    env = run_statements(
        "DROP MEASUREMENT cpu", catalog_from_database(db),
        database=db, read_only=True,
    )
    assert "POST" in env["results"][0]["error"]
    env2 = run_statements(
        "DROP MEASUREMENT cpu", catalog_from_database(db), database=db
    )
    assert env2["results"][0] == {"statement_id": 0}
    assert "cpu" not in db.table_names()
    assert store.manifest("cpu") == []


# -- WHERE on SHOW statements (round 9: Grafana variable queries) --------------


def test_show_tag_values_where(catalog):
    out = execute(
        "SHOW TAG VALUES FROM cpu WITH KEY = host "
        "WHERE time >= 1h AND time < 3h",
        catalog,
    )
    # only hosts with points in [1h, 3h): a (1h10s) and b (2h10s)
    assert _rows(out) == [("host", "a"), ("host", "b")]
    out2 = execute(
        "SHOW TAG VALUES FROM cpu WITH KEY = host WHERE v > 9",
        catalog,
    )
    assert _rows(out2) == [("host", "b")]


def test_show_series_where(catalog):
    out = execute("SHOW SERIES WHERE time >= 3h", catalog)
    assert _rows(out) == [("cpu,host=a",)]


def test_show_tag_keys_where(catalog, spark):
    # mem has tag zone but NO rows in range -> key absent under WHERE
    mem = spark.createDataFrame(
        [("z1", 1.0, 10 * S)], "zone string, v double, time long"
    )
    cat2 = dict(catalog)
    cat2["mem"] = Measurement(df=mem, tags=("zone",), fields=("v",))
    out = execute("SHOW TAG KEYS WHERE time >= 1h", cat2)
    assert _rows(out) == [("cpu", "host")]
    # without WHERE, the metadata fast path lists both
    out2 = execute("SHOW TAG KEYS", cat2)
    assert set(_rows(out2)) == {("cpu", "host"), ("mem", "zone")}


def test_show_where_rejected_on_metadata_only():
    with pytest.raises(InfluxQLParseError):
        parse("SHOW DATABASES WHERE time > 0")


def test_plan_wildcard_aggregates(catalog):
    """mean(*) / count(*) expand to one call per FIELD, named
    <func>_<field> in sorted field order (stock behavior)."""
    out = execute("SELECT MEAN(*) FROM cpu WHERE host = 'a'", catalog)
    assert out.columns == ["mean_n", "mean_v"]
    assert _rows(out) == [(3.75, 3.75)]
    out2 = execute(
        "SELECT COUNT(*) FROM cpu GROUP BY time(1h), host", catalog
    )
    assert out2.columns == ["host", "time", "count_n", "count_v"]
    got = {(r[0], r[1]): (r[2], r[3]) for r in _rows(out2)}
    assert got[("a", 0)] == (2, 2) and got[("b", 2 * H)] == (1, 1)
    with pytest.raises(InfluxQLPlanError):
        execute("SELECT MEAN(*) AS x FROM cpu", catalog)


def test_fill_grid_bucket_cap(catalog, monkeypatch):
    """max-select-buckets: a huge WHERE range at a tiny interval must be
    rejected at PLAN time, before the grid materializes."""
    from influxdb_iox_spark.influxql import planner

    monkeypatch.setattr(planner, "MAX_SELECT_BUCKETS", 100)
    with pytest.raises(InfluxQLPlanError, match="max-select-buckets"):
        execute(
            "SELECT SUM(v) FROM cpu WHERE time >= 0 AND time < 200h "
            "GROUP BY time(1h) FILL(null)",
            catalog,
        )
    # inside the cap still plans
    out = execute(
        "SELECT SUM(v) FROM cpu WHERE time >= 0 AND time < 90h "
        "GROUP BY time(1h) FILL(null)",
        catalog,
    )
    assert len(_rows(out)) == 90


def test_plan_tag_only_select_returns_no_rows(catalog):
    """Stock: a SELECT referencing no FIELD returns no data (tags alone
    do not identify points); schema is preserved."""
    out = execute("SELECT host FROM cpu", catalog)
    assert out.columns == ["time", "host"]
    assert _rows(out) == []
    # a field anywhere in the projection restores rows
    assert len(_rows(execute("SELECT host, v FROM cpu", catalog))) == 7


def test_parser_never_crashes_on_garbage():
    """Robustness: arbitrary token soup must raise InfluxQLParseError
    (or parse), never IndexError/AttributeError/RecursionError."""
    import itertools
    import random

    rng = random.Random(0xC0FFEE)
    vocab = [
        "SELECT", "FROM", "WHERE", "GROUP", "BY", "time", "(", ")", ",",
        "'a'", '"q id"', "1h", "*", "=~", "/re/", "AND", "OR", "=", "<",
        "now()", "-", "fill", "previous", "LIMIT", "5", "tz", "DELETE",
        "SHOW", "TAG", "KEYS", "VALUES", "MEASUREMENTS", "INTO", ";", ".",
        "mean", "v", "cpu", "::", "!~", "%", "+", "DROP", "CONTINUOUS",
        "QUERY", "BEGIN", "END", "RESAMPLE", "EVERY", "FOR", "ON",
    ]
    for _ in range(400):
        text = " ".join(
            rng.choice(vocab) for _ in range(rng.randint(1, 12))
        )
        try:
            parse(text)
        except InfluxQLParseError:
            pass  # the only acceptable failure mode


def test_v1_database_ddl_onboarding(spark, tmp_path):
    """Client-library onboarding: CREATE DATABASE <our db> and CREATE
    RETENTION POLICY succeed idempotently over POST; other names error
    per-statement; DROP DATABASE empties every measurement."""
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.v1_api import (
        catalog_from_database,
        run_statements,
    )
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "ddl_store"))
    db = Database("mydb", store, spark)
    sch = IoxSchema.build(["host"], {"v": InfluxColumnType.FIELD_FLOAT})
    store.write_chunk(
        spark.createDataFrame(
            [("a", 1.0, 10 * S)], "host string, v double, time long"
        ),
        "cpu", sch,
    )
    db.register_table("cpu", sch)
    env = run_statements(
        "CREATE DATABASE mydb; "
        "CREATE RETENTION POLICY rp ON mydb DURATION 30d REPLICATION 1; "
        "CREATE DATABASE otherdb",
        catalog_from_database(db),
        databases=["mydb"],
        database=db,
    )
    assert env["results"][0] == {"statement_id": 0}
    assert env["results"][1] == {"statement_id": 1}
    assert "otherdb" in env["results"][2]["error"]
    # GET refuses the DDL
    env_get = run_statements(
        "CREATE DATABASE mydb",
        catalog_from_database(db),
        databases=["mydb"],
        database=db,
        read_only=True,
    )
    assert "POST" in env_get["results"][0]["error"]
    env2 = run_statements(
        "DROP DATABASE mydb",
        catalog_from_database(db),
        databases=["mydb"],
        database=db,
        resolve_database={"mydb": db}.get,
    )
    assert env2["results"][0] == {"statement_id": 0}
    assert db.table_names() == []


def test_show_cardinality_family(catalog, spark):
    mem = spark.createDataFrame(
        [("z1", 1.0, 10 * S), ("z2", 2.0, 20 * S)],
        "zone string, v double, time long",
    )
    cat2 = dict(catalog)
    cat2["mem"] = Measurement(df=mem, tags=("zone",), fields=("v",))
    assert _rows(execute("SHOW MEASUREMENT CARDINALITY", cat2)) == [(2,)]
    # series: cpu hosts a, b, null-host -> 3 keys; mem zones z1, z2 -> 2
    assert _rows(execute("SHOW SERIES CARDINALITY", cat2)) == [(5,)]
    assert _rows(execute("SHOW SERIES EXACT CARDINALITY FROM cpu", cat2)) == [(3,)]
    assert _rows(execute("SHOW TAG KEY CARDINALITY", cat2)) == [
        ("cpu", 1), ("mem", 1)
    ]
    assert _rows(execute("SHOW FIELD KEY CARDINALITY FROM cpu", cat2)) == [
        ("cpu", 2)
    ]
    assert _rows(
        execute("SHOW TAG VALUES CARDINALITY WITH KEY = host", cat2)
    ) == [(2,)]


def test_explain_statement(catalog):
    from influxdb_iox_spark.influxql.v1_api import run_statements

    env = run_statements(
        "EXPLAIN SELECT MEAN(v) FROM cpu GROUP BY time(1h), host",
        catalog,
    )
    s = env["results"][0]["series"][0]
    assert s["columns"] == ["QUERY PLAN"]
    text = "\n".join(v[0] for v in s["values"])
    assert "HashAggregate" in text and "EvalPython" not in text

    env2 = run_statements(
        "EXPLAIN ANALYZE SELECT COUNT(v) FROM cpu", catalog
    )
    text2 = "\n".join(
        v[0] for v in env2["results"][0]["series"][0]["values"]
    )
    assert "HashAggregate" in text2
    # the printed plan is the one that ran: final, with its metrics
    assert "isFinalPlan=true" in text2
    assert "number of output rows: " in text2


def test_parse_explain():
    from influxdb_iox_spark.influxql.ast_nodes import ExplainStatement

    s = parse("EXPLAIN ANALYZE SELECT v FROM m")
    assert isinstance(s, ExplainStatement) and s.analyze
    assert parse("EXPLAIN SELECT v FROM m").analyze is False
    with pytest.raises(InfluxQLParseError):
        parse("EXPLAIN SHOW MEASUREMENTS")


def test_parse_into_qualified_targets():
    """Stock CQ destinations are fully qualified (db.rp.measurement);
    single-database + lifecycle retention here, so the measurement
    segment is the target and qualifiers are accepted and ignored."""
    assert parse(
        'SELECT mean(v) INTO "db"."autogen"."m1" FROM m GROUP BY time(1h)'
    ).into == "m1"
    assert parse(
        "SELECT mean(v) INTO db.autogen.m1 FROM m GROUP BY time(1h)"
    ).into == "m1"
    with pytest.raises(InfluxQLParseError):
        parse("SELECT mean(v) INTO a.b.c.d FROM m GROUP BY time(1h)")


# -- parser conformance edges (round 9, pure Python) ---------------------------


def test_parse_number_literal_forms():
    s = parse("SELECT v FROM m WHERE x = 1.5e3 AND y = .5 AND z = 2E-2")
    vals = []

    def walk(n):
        if isinstance(n, BinaryExpr):
            walk(n.left)
            walk(n.right)
        elif isinstance(n, Literal):
            vals.append(n.value)

    walk(s.where)
    assert vals == [1500.0, 0.5, 0.02]


def test_parse_string_escapes_in_where():
    s = parse(r"SELECT v FROM m WHERE t = 'a\'b' AND u = 'c\\d'")
    assert s.where.left.right.value == "a'b"
    assert s.where.right.right.value == "c\\d"  # \\ unescapes to one backslash


def test_parse_keyword_case_insensitivity():
    s = parse(
        "select Mean(v) from m where time >= 1h group by time(1h), host "
        "fill(Previous) order by time desc slimit 2"
    )
    assert s.group_by_time_ns == H and s.fill is FillOption.PREVIOUS
    assert s.order_desc and s.slimit == 2


def test_parse_semicolon_tolerance():
    assert parse("SELECT v FROM m;").measurement == "m"


def test_parse_dotted_measurement_stays_single_token():
    # unquoted dotted names lex as one identifier; FROM keeps them whole
    # (only INTO splits qualifiers, per stock CQ destinations)
    s = parse("SELECT v FROM system.cpu")
    assert s.measurement == "system.cpu"


def test_render_csv_pure():
    from influxdb_iox_spark.influxql.v1_api import render_csv

    env = {
        "results": [
            {
                "statement_id": 0,
                "series": [
                    {
                        "name": "cpu",
                        "tags": {"host": "a,b", "dc": "x"},
                        "columns": ["time", "n"],
                        "values": [[1, 2], [3, None]],
                    }
                ],
            },
            {"statement_id": 1, "error": "nope"},  # contributes no rows
        ]
    }
    text = render_csv(env).decode()
    lines = text.strip().splitlines()
    assert lines[0] == "name,tags,time,n"
    # tag set flattened sorted, csv-quoted because it contains a comma
    assert lines[1] == 'cpu,"dc=x,host=a,b",1,2'
    assert lines[2] == 'cpu,"dc=x,host=a,b",3,'


def test_chunk_batches_lookahead():
    from influxdb_iox_spark.influxql.v1_api import _batches

    out = list(_batches(iter(range(5)), 2))
    assert out == [([0, 1], True), ([2, 3], True), ([4], False)]
    # exact multiple: the final batch is KNOWN final, no empty trailer
    out2 = list(_batches(iter(range(4)), 2))
    assert out2 == [([0, 1], True), ([2, 3], False)]
    assert list(_batches(iter([]), 3)) == [([], False)]


# -- MODE / INTEGRAL / SAMPLE (round 10) --------------------------------------


def test_mode_smallest_tie(catalog):
    # host a: 1,2,4,8 each once -> tie -> smallest (1.0); b: 10,30 -> 10.0
    out = execute("SELECT MODE(v) FROM cpu GROUP BY host", catalog)
    assert _rows(out) == [(None, 5.0), ("a", 1.0), ("b", 10.0)]
    # composes with other plain aggregates in ONE hash aggregate
    out = execute("SELECT MODE(v), COUNT(v) FROM cpu GROUP BY host", catalog)
    assert _rows(out) == [(None, 5.0, 1), ("a", 1.0, 4), ("b", 10.0, 2)]


def test_mode_repeated_value(spark):
    df = spark.createDataFrame(
        [("a", 2.0, 10 * S), ("a", 2.0, 20 * S), ("a", 9.0, 30 * S)],
        "host string, v double, time long",
    )
    cat = {"cpu": Measurement(df=df, tags=("host",), fields=("v",))}
    out = execute("SELECT MODE(v) FROM cpu GROUP BY host", cat)
    assert _rows(out) == [("a", 2.0)]


def test_integral_per_series(catalog):
    # a: (1+2)/2*10 + (2+4)/2*3590 + (4+8)/2*7200 = 15+10770+43200 = 53985
    # b: (10+30)/2*7200 = 144000;  null host: single point -> 0
    out = execute("SELECT INTEGRAL(v) FROM cpu GROUP BY host", catalog)
    assert _rows(out) == [(None, 0.0), ("a", 53985.0), ("b", 144000.0)]
    # explicit unit: value*minutes
    out = execute("SELECT INTEGRAL(v, 1m) FROM cpu GROUP BY host", catalog)
    assert _rows(out) == [
        (None, 0.0), ("a", 53985.0 / 60), ("b", 144000.0 / 60)
    ]


def test_integral_group_by_time(catalog):
    # within-bucket trapezoids only (terms crossing a boundary excluded):
    # host a, 1h buckets: bucket 0 has (10s,1),(20s,2) -> 15; buckets with
    # a single point -> 0
    out = execute(
        "SELECT INTEGRAL(v) FROM cpu WHERE host = 'a' "
        "GROUP BY time(1h), host FILL(none)",
        catalog,
    )
    rows = _rows(out)
    assert ("a", 0, 15.0) in rows
    assert all(r[2] == 0.0 for r in rows if r[1] != 0)


def test_sample_deterministic(catalog):
    out1 = _rows(execute("SELECT SAMPLE(v, 2) FROM cpu GROUP BY host", catalog))
    out2 = _rows(execute("SELECT SAMPLE(v, 2) FROM cpu GROUP BY host", catalog))
    assert out1 == out2  # deterministic pick
    by_host: dict = {}
    for host, t, v in out1:
        by_host.setdefault(host, []).append((t, v))
    assert len(by_host["a"]) == 2 and len(by_host["b"]) == 2
    assert len(by_host[None]) == 1
    # sampled points are real points (original time+value pairs)
    orig = {
        ("a", 10 * S, 1.0), ("a", 20 * S, 2.0), ("a", H + 10 * S, 4.0),
        ("a", 3 * H + 10 * S, 8.0), ("b", 10 * S, 10.0),
        ("b", 2 * H + 10 * S, 30.0), (None, 10 * S, 5.0),
    }
    assert {(h, t, v) for h, t, v in out1} <= orig


def test_sample_global_no_tags(catalog):
    out = _rows(execute("SELECT SAMPLE(v, 3) FROM cpu", catalog))
    assert len(out) == 3
    # ordered by time in the output
    assert [r[0] for r in out] == sorted(r[0] for r in out)


def test_integral_sample_errors(catalog):
    with pytest.raises(InfluxQLPlanError):
        execute("SELECT SAMPLE(v, 0) FROM cpu", catalog)
    with pytest.raises(InfluxQLPlanError):
        execute("SELECT INTEGRAL(v, 5) FROM cpu", catalog)  # unit not duration
    with pytest.raises(InfluxQLPlanError):
        execute("SELECT INTEGRAL(v), MEAN(v) FROM cpu", catalog)


def test_show_stats_and_diagnostics(spark, tmp_path):
    """Stock 1.x ops statements over the engine's own metadata: SHOW STATS
    (manifest chunk counters, no scans) and SHOW DIAGNOSTICS (build/
    runtime/system series); FOR '<component>' filters by series name."""
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.v1_api import (
        catalog_from_database,
        run_statements,
    )
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "stats_store"))
    db = Database("statsdb", store, spark)
    sch = IoxSchema.build(["host"], {"v": InfluxColumnType.FIELD_FLOAT})
    store.write_chunk(
        spark.createDataFrame(
            [("a", 1.0, 10 * S), ("b", 2.0, 20 * S)],
            "host string, v double, time long",
        ),
        "cpu", sch,
    )
    db.register_table("cpu", sch)
    env = run_statements(
        "SHOW STATS", catalog_from_database(db), database=db
    )
    series = env["results"][0]["series"]
    by_name = {}
    for s in series:
        by_name.setdefault(s["name"], []).append(s)
    assert by_name["database"][0]["values"] == [[1]]
    shard = by_name["shard"][0]
    assert shard["tags"]["measurement"] == "cpu"
    ncols = dict(zip(shard["columns"], shard["values"][0]))
    assert ncols["numChunks"] == 1 and ncols["numRows"] == 2
    # FOR filter
    env = run_statements(
        "SHOW STATS FOR 'database'", catalog_from_database(db), database=db
    )
    assert [s["name"] for s in env["results"][0]["series"]] == ["database"]

    env = run_statements(
        "SHOW DIAGNOSTICS", catalog_from_database(db), database=db,
        now_ns=1_700_000_000 * S,
    )
    names = [s["name"] for s in env["results"][0]["series"]]
    assert names == ["build", "runtime", "system"]
    env = run_statements(
        "SHOW DIAGNOSTICS FOR 'build'", catalog_from_database(db),
        database=db,
    )
    assert env["results"][0]["series"][0]["values"] == [["1.8-iox-spark"]]
    # database-less endpoint -> per-statement error, not a crash
    env = run_statements("SHOW STATS", catalog_from_database(db))
    assert "not available" in env["results"][0]["error"]


def test_parse_drop_series_and_retention_ddl():
    from influxdb_iox_spark.influxql.ast_nodes import (
        AlterRetentionPolicy,
        CreateRetentionPolicy,
        DropRetentionPolicy,
        DropSeries,
    )

    s = parse("DROP SERIES FROM cpu WHERE host = 'a'")
    assert isinstance(s, DropSeries) and s.from_names == ["cpu"]
    assert parse("DROP SERIES FROM /^c/").from_regex == "^c"
    assert parse("ALTER RETENTION POLICY rp ON db DURATION 1d DEFAULT") == (
        AlterRetentionPolicy(
            "rp", "db", duration_ns=86_400 * 10**9, default=True
        )
    )
    assert parse(
        "CREATE RETENTION POLICY rp ON db DURATION INF REPLICATION 3 "
        "SHARD DURATION 1h"
    ) == CreateRetentionPolicy("rp", "db", duration_ns=0, default=False)
    assert parse("DROP RETENTION POLICY rp ON db") == DropRetentionPolicy(
        "rp", "db"
    )


def test_run_drop_series(spark, tmp_path):
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.planner import run_drop_series
    from influxdb_iox_spark.influxql.v1_api import catalog_from_database
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "ds_store"))
    db = Database("db", store, spark)
    sch = IoxSchema.build(["host"], {"v": InfluxColumnType.FIELD_FLOAT})
    rows = [
        ("a", 1.0, 10 * S), ("a", 2.0, 2 * H), ("b", 3.0, 10 * S),
    ]
    store.write_chunk(
        spark.createDataFrame(rows, "host string, v double, time long"),
        "cpu", sch,
    )
    db.register_table("cpu", sch)

    # whole series vanishes across ALL time (unlike a range DELETE)
    stmt = parse("DROP SERIES FROM cpu WHERE host = 'a'")
    assert run_drop_series(stmt, catalog_from_database(db), db) == ["cpu"]
    left = {(r["host"], r["time"]) for r in db.table("cpu").collect()}
    assert left == {("b", 10 * S)}

    # stock restriction: DROP SERIES takes no time conditions
    with pytest.raises(InfluxQLPlanError):
        run_drop_series(
            parse("DROP SERIES FROM cpu WHERE time < 1h"),
            catalog_from_database(db), db,
        )


def test_show_shards_and_shard_groups(spark, tmp_path):
    """Stock 1.x placement statements mapped onto the engine's analogues:
    chunk = shard, partition key = shard group; times from manifest
    stats (metadata only), expiry from the default retention policy."""
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.v1_api import (
        catalog_from_database,
        run_statements,
    )
    from influxdb_iox_spark.retention import RetentionRegistry
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "shards_store"))
    db = Database("sharddb", store, spark)
    sch = IoxSchema.build(["host"], {"v": InfluxColumnType.FIELD_FLOAT})
    for pk, t0 in (("2024-01-01", 100), ("2024-01-02", 86_500)):
        store.write_chunk(
            spark.createDataFrame(
                [("a", 1.0, t0 * S), ("b", 2.0, (t0 + 60) * S)],
                "host string, v double, time long",
            ),
            "cpu", sch, partition_key=pk,
        )
    db.register_table("cpu", sch)
    RetentionRegistry(store.base_dir).set_policy(
        "two_weeks", 14 * 24 * 3600 * S, default=True
    )

    env = run_statements(
        "SHOW SHARD GROUPS", catalog_from_database(db), database=db
    )
    s = env["results"][0]["series"][0]
    assert s["columns"][:3] == ["id", "database", "retention_policy"]
    assert [v[0] for v in s["values"]] == [1, 2]
    assert all(v[1] == "sharddb" and v[2] == "two_weeks" for v in s["values"])
    # start_time comes from the DATA's time stats (100 s epoch), not the
    # partition-key label
    assert s["values"][0][3] == "1970-01-01T00:01:40Z"
    env = run_statements(
        "SHOW SHARDS", catalog_from_database(db), database=db
    )
    s = env["results"][0]["series"][0]
    assert s["name"] == "sharddb"
    assert len(s["values"]) == 2  # one row per chunk
    ids = [v[0] for v in s["values"]]
    # exposed ids are the globally-unique (table, chunk) hashes, not the
    # raw per-table chunk ids (those collide across tables)
    from influxdb_iox_spark.influxql.v1_api import _shard_id

    chunk_ids = sorted(c.chunk_id for c in store.manifest("cpu"))
    assert ids == [_shard_id("cpu", cid) for cid in chunk_ids]
    assert len(set(ids)) == 2
    row = dict(zip(s["columns"], s["values"][0]))
    assert row["shard_group"] == 1 and row["owners"] == ""
    assert row["start_time"].startswith("1970-01-01T00:01:40")
    assert row["expiry_time"] > row["end_time"]  # RFC3339 sorts
    # database-less endpoint -> per-statement error, not a crash
    env = run_statements("SHOW SHARDS", catalog_from_database(db))
    assert "not available" in env["results"][0]["error"]


def test_drop_shard(spark, tmp_path):
    """DROP SHARD <id> (stock ops statement): drops one chunk by id via
    the manifest tombstone path; unknown ids succeed silently (stock);
    GET endpoint rejects it."""
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.v1_api import (
        catalog_from_database,
        run_statements,
    )
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "ds_store"))
    db = Database("dsdb", store, spark)
    sch = IoxSchema.build(["host"], {"v": InfluxColumnType.FIELD_FLOAT})
    for t0 in (100, 200):
        store.write_chunk(
            spark.createDataFrame(
                [("a", 1.0, t0 * S)], "host string, v double, time long"
            ),
            "cpu", sch,
        )
    db.register_table("cpu", sch)
    ids = [c.chunk_id for c in store.manifest("cpu")]
    assert len(ids) == 2
    env = run_statements(
        f"DROP SHARD {ids[0]}", catalog_from_database(db), database=db
    )
    assert "error" not in env["results"][0]
    assert [c.chunk_id for c in store.manifest("cpu")] == [ids[1]]
    # unknown id: silent success (stock)
    env = run_statements(
        "DROP SHARD 999999", catalog_from_database(db), database=db
    )
    assert "error" not in env["results"][0]
    # read-only endpoint refuses
    env = run_statements(
        f"DROP SHARD {ids[1]}", catalog_from_database(db), database=db,
        read_only=True,
    )
    assert "requires a POST" in env["results"][0]["error"]


def test_drop_shard_cross_table_ids(spark, tmp_path):
    """Chunk ids are allocated per table and collide across tables; the
    exposed SHOW SHARDS id is the globally-unique (table, chunk) hash,
    DROP SHARD of that hash drops exactly one chunk, and DROP SHARD of
    a bare colliding chunk id refuses instead of silently deleting
    same-id chunks from unrelated tables."""
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.influxql.v1_api import (
        _shard_id,
        catalog_from_database,
        run_statements,
    )
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "xt_store"))
    db = Database("xtdb", store, spark)
    sch = IoxSchema.build(["host"], {"v": InfluxColumnType.FIELD_FLOAT})
    for t in ("cpu", "mem"):
        store.write_chunk(
            spark.createDataFrame(
                [("a", 1.0, 100 * S)], "host string, v double, time long"
            ),
            t, sch,
        )
        db.register_table(t, sch)
    cpu_id = store.manifest("cpu")[0].chunk_id
    mem_id = store.manifest("mem")[0].chunk_id
    assert cpu_id == mem_id  # the collision under test

    # SHOW SHARDS emits one unique id per chunk despite the collision
    env = run_statements(
        "SHOW SHARDS", catalog_from_database(db), database=db
    )
    shown = [v[0] for v in env["results"][0]["series"][0]["values"]]
    assert len(shown) == 2 and len(set(shown)) == 2

    # bare colliding chunk id -> refused, nothing deleted
    env = run_statements(
        f"DROP SHARD {cpu_id}", catalog_from_database(db), database=db
    )
    assert "ambiguous" in env["results"][0]["error"]
    assert len(store.manifest("cpu")) == 1 and len(store.manifest("mem")) == 1

    # the exposed hash id drops exactly its own (table, chunk)
    env = run_statements(
        f"DROP SHARD {_shard_id('mem', mem_id)}",
        catalog_from_database(db), database=db,
    )
    assert "error" not in env["results"][0]
    assert len(store.manifest("cpu")) == 1
    assert len(store.manifest("mem")) == 0
