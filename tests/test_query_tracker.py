"""SHOW QUERIES / KILL QUERY: the job-group-backed live-query registry.

Stock 1.x interrupts statements at its executor's cooperative points; the
Spark translation cancels the statement's job group, which kills every
running stage cluster-wide (query_tracker.py docstring)."""

from __future__ import annotations

import json
import threading
import time
import urllib.parse
import urllib.request

import pytest

from influxdb_iox_spark.query_tracker import QueryTracker, format_duration_ns


def test_format_duration_ns():
    assert format_duration_ns(7) == "7ns"
    assert format_duration_ns(7_000) == "7µs"
    assert format_duration_ns(7_000_000) == "7ms"
    assert format_duration_ns(7 * 10**9) == "7s"
    assert format_duration_ns(90 * 10**9) == "1m30s"
    assert format_duration_ns(3_700 * 10**9) == "1h1m40s"


def test_tracker_bookkeeping(spark):
    t = QueryTracker(spark)
    qid = t.begin("SELECT 1", "db0")
    rows = t.list()
    assert len(rows) == 1
    assert rows[0][0] == qid and rows[0][1] == "SELECT 1"
    assert rows[0][2] == "db0" and rows[0][4] == "running"
    assert not t.kill(qid + 999)  # unknown id
    t.end(qid)
    assert t.list() == []
    # the thread's job-group tag is cleared so later work is untagged
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_logfmt_rendering():
    from influxdb_iox_spark.query_tracker import logfmt

    line = logfmt(
        {
            "event": "query_end",
            "qid": 3,
            "db": "my db",
            "rows": None,  # dropped
            "query": 'SELECT "v" FROM m',
        }
    )
    assert line == (
        'event=query_end qid=3 db="my db" query="SELECT \\"v\\" FROM m"'
    )
    assert logfmt({"empty": ""}) == 'empty=""'


def test_tracker_emits_structured_log_lines(spark):
    """One query_end logfmt line per statement with the fields an ops
    pipeline needs (id, db, group, duration, rows, status); kills emit
    query_kill + a killed status on end (the reference's logfmt/trogging
    surface, per-query)."""
    lines: list[str] = []
    t = QueryTracker(spark, log=lines.append)
    qid = t.begin("SELECT 1", "db0")
    t.end(qid, rows=42)
    assert len(lines) == 1
    fields = dict(
        kv.split("=", 1) for kv in lines[0].split(" ") if '"' not in kv
    )
    assert fields["event"] == "query_end"
    assert fields["qid"] == str(qid)
    assert fields["db"] == "db0"
    assert fields["group"] == f"influxql-q{qid}"
    assert fields["rows"] == "42"
    assert fields["status"] == "ok"
    assert "duration_ns=" in lines[0] and 'query="SELECT 1"' in lines[0]
    # kill path: a query_kill line, then killed status at end
    qid2 = t.begin("SELECT 2", "db0")
    assert t.kill(qid2)
    t.end(qid2)
    assert sum("event=query_kill" in ln for ln in lines) == 1
    assert "status=killed" in lines[-1]
    # error status overrides
    qid3 = t.begin("SELECT 3", None)
    t.end(qid3, status="error")
    assert "status=error" in lines[-1] and "db=" not in lines[-1].split(
        "duration"
    )[0].replace('db=""', "")


@pytest.mark.parametrize("construction", ["single", "multi"])
def test_http_query_logs_row_count(spark, tmp_path, construction):
    """The v1 endpoint wires envelope row counts into the query_end line
    (captured via the default stdlib logger, the production sink), and a
    request rejected for a bad epoch ends with status=error — on both
    server constructions."""
    import logging

    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.http_api import IoxHttpServer, _HttpError
    from influxdb_iox_spark.rpc_management import IoxMultiDbHttpServer, IoxServer
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore

    records: list[str] = []

    class _Cap(logging.Handler):
        def emit(self, rec):
            records.append(rec.getMessage())

    logger = logging.getLogger("influxdb_iox_spark.query")
    h = _Cap()
    logger.addHandler(h)
    logger.setLevel(logging.INFO)
    try:
        if construction == "single":
            cpu = IoxSchema.build(
                ["region"], {"user": InfluxColumnType.FIELD_FLOAT}
            )
            store = TableStore(str(tmp_path / "log_store"))
            db = Database("db0", store, spark)
            db.register_table("cpu", cpu)
            store.write_chunk(
                spark.createDataFrame(
                    [("west", 1.0, 100), ("east", 2.0, 200)],
                    "region string, user double, time long",
                ),
                "cpu", cpu, partition_key="p",
            )
            api = IoxHttpServer(db, {}, db_name="db0")
            selected = None  # db-less: the server's one database
        else:
            server = IoxServer(spark, str(tmp_path / "iox"))
            server.create_database(
                {"name": "db0", "partition_template": {"parts": [{"table": {}}]}}
            )
            server.write_lp("db0", "cpu,region=west user=1.0 100\ncpu,region=east user=2.0 200")
            api = IoxMultiDbHttpServer(server)
            selected = "db0"
        api.handle_v1_query(selected, "SELECT user FROM cpu", None)
        end_lines = [r for r in records if "event=query_end" in r]
        assert end_lines and "rows=2" in end_lines[-1]
        assert "status=ok" in end_lines[-1] and "db=db0" in end_lines[-1]

        with pytest.raises(_HttpError) as e:
            api.handle_v1_query(selected, "SELECT user FROM cpu", "fortnight")
        assert e.value.status == 400
        end_lines = [r for r in records if "event=query_end" in r]
        assert "status=error" in end_lines[-1]
    finally:
        logger.removeHandler(h)


def test_kill_cancels_running_spark_job(spark):
    """A long aggregate started under begin() dies promptly on kill() —
    the cancelled job group raises into the executing thread."""
    from pyspark import inheritable_thread_target
    from pyspark.sql import functions as F

    t = QueryTracker(spark)
    state: dict = {}
    started = threading.Event()

    def victim():
        qid = t.begin("SELECT slow FROM huge", "db0")
        state["qid"] = qid
        df = (
            spark.range(3_000_000_000)
            .select(F.sum(F.sha2(F.col("id").cast("string"), 256).substr(1, 2).cast("long")))
        )
        started.set()
        t0 = time.monotonic()
        try:
            df.collect()
            state["outcome"] = "completed"
        except Exception as e:
            state["outcome"] = "cancelled"
            state["error"] = str(e)[:200]
        state["elapsed"] = time.monotonic() - t0
        t.end(qid)

    th = threading.Thread(target=inheritable_thread_target(spark)(victim))
    th.start()
    assert started.wait(60)
    # cancelJobGroup only affects SUBMITTED jobs: wait until the victim's
    # job is actually active, then kill (and re-kill while it lives, in
    # case a stage squeaked in between — stock KILL has the same race)
    tracker_api = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline and not tracker_api.getActiveJobsIds():
        time.sleep(0.1)
    while th.is_alive() and time.monotonic() < deadline:
        t.kill(state["qid"])  # False once the victim ended (raced) — fine
        th.join(timeout=1.0)
    assert not th.is_alive()
    assert state["outcome"] == "cancelled", state


@pytest.fixture()
def tracked_server(spark, tmp_path):
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.http_api import IoxHttpServer
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore
    from influxdb_iox_spark.streaming.ingest import LineProtocolIngest

    cpu = IoxSchema.build(["region"], {"user": InfluxColumnType.FIELD_FLOAT})
    store = TableStore(str(tmp_path / "qt_store"))
    db = Database("db0", store, spark)
    db.register_table("cpu", cpu)
    ing = LineProtocolIngest(store, "cpu", cpu)
    api = IoxHttpServer(db, {"cpu": ing}, db_name="db0")
    port = api.start()
    yield f"http://127.0.0.1:{port}", api
    api.stop()


def _post_query(base, q, **params):
    data = urllib.parse.urlencode({"q": q, **params}).encode()
    req = urllib.request.Request(f"{base}/query", data=data)
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


def test_http_show_queries_lists_itself(tracked_server):
    base, api = tracked_server
    env = _post_query(base, "SHOW QUERIES")
    series = env["results"][0]["series"]
    assert series[0]["columns"] == [
        "qid", "query", "database", "duration", "status",
    ]
    rows = series[0]["values"]
    # the SHOW QUERIES request itself is the (only) tracked statement
    assert len(rows) == 1 and rows[0][1] == "SHOW QUERIES"
    assert rows[0][2] == "db0" and rows[0][4] == "running"
    # and it is gone once the request completed
    assert api.tracker.list() == []


def test_http_kill_query_errors(tracked_server):
    base, _ = tracked_server
    env = _post_query(base, "KILL QUERY 424242")
    assert "no such query id" in env["results"][0]["error"]
    # GET route: KILL is a mutation, POST required (read_only gate)
    q = urllib.parse.quote("KILL QUERY 1")
    with urllib.request.urlopen(
        f"{base}/query?q={q}", timeout=120
    ) as r:
        env = json.loads(r.read())
    assert "POST" in env["results"][0]["error"]


def test_http_kill_query_admin_gated(spark, tmp_path):
    from influxdb_iox_spark.auth import UserRegistry
    from influxdb_iox_spark.database import Database
    from influxdb_iox_spark.http_api import IoxHttpServer
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
    from influxdb_iox_spark.sources.store import TableStore
    from influxdb_iox_spark.streaming.ingest import LineProtocolIngest

    cpu = IoxSchema.build(["region"], {"user": InfluxColumnType.FIELD_FLOAT})
    store = TableStore(str(tmp_path / "qt2_store"))
    db = Database("db0", store, spark)
    db.register_table("cpu", cpu)
    reg = UserRegistry()
    reg.create_user("root", "pw", admin=True)
    reg.create_user("bob", "b", admin=False)
    reg.grant("read", "db0", "bob")
    api = IoxHttpServer(
        db, {"cpu": LineProtocolIngest(store, "cpu", cpu)},
        db_name="db0", users=reg,
    )
    port = api.start()
    base = f"http://127.0.0.1:{port}"
    try:
        env = _post_query(base, "SHOW QUERIES", u="bob", p="b")
        assert "not authorized" in env["results"][0]["error"]
        env = _post_query(base, "KILL QUERY 1", u="bob", p="b")
        assert "not authorized" in env["results"][0]["error"]
        env = _post_query(base, "SHOW QUERIES", u="root", p="pw")
        assert env["results"][0]["series"][0]["values"][0][1] == "SHOW QUERIES"
    finally:
        api.stop()
