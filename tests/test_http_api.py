"""HTTP surface round-trip: write line protocol over POST, read it back over
the query endpoint (ref src/influxdb_ioxd/http.rs:364-370,462,595)."""

from __future__ import annotations

import gzip
import json
import urllib.error
import urllib.request

import pytest

from influxdb_iox_spark.database import Database
from influxdb_iox_spark.http_api import IoxHttpServer, org_and_bucket_to_database
from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
from influxdb_iox_spark.sources.store import TableStore
from influxdb_iox_spark.streaming.ingest import LineProtocolIngest

CPU = IoxSchema.build(["region"], {"user": InfluxColumnType.FIELD_FLOAT})


@pytest.fixture()
def server(spark, tmp_path):
    store = TableStore(str(tmp_path / "http_store"))
    db = Database("myorg_mybucket", store, spark)
    db.register_table("cpu", CPU)
    ing = LineProtocolIngest(store, "cpu", CPU)
    api = IoxHttpServer(db, {"cpu": ing}, db_name="myorg_mybucket")
    port = api.start()
    yield f"http://127.0.0.1:{port}"
    api.stop()


def _post(url, body: bytes, headers=None):
    req = urllib.request.Request(url, data=body, headers=headers or {})
    return urllib.request.urlopen(req, timeout=120)


def test_health(server):
    with urllib.request.urlopen(f"{server}/health", timeout=30) as r:
        assert r.status == 200 and r.read() == b"OK"


def test_write_then_query_roundtrip(server):
    assert org_and_bucket_to_database("myorg", "mybucket") == "myorg_mybucket"
    lines = b"cpu,region=west user=23.2 100\ncpu,region=east user=5.0 200\n"
    with _post(f"{server}/api/v2/write?org=myorg&bucket=mybucket", lines) as r:
        assert r.status == 204

    q = "SELECT region, user, time FROM cpu ORDER BY time"
    url = f"{server}/iox/api/v1/databases/myorg_mybucket/query?q={urllib.request.quote(q)}&format=json"
    with urllib.request.urlopen(url, timeout=120) as r:
        assert r.status == 200
        rows = json.loads(r.read())
    assert rows == [
        {"region": "west", "user": 23.2, "time": 100},
        {"region": "east", "user": 5.0, "time": 200},
    ]

    # csv format too
    url_csv = url.replace("format=json", "format=csv")
    with urllib.request.urlopen(url_csv, timeout=120) as r:
        text = r.read().decode()
    assert text.splitlines()[0] == "region,user,time"
    assert len(text.splitlines()) == 3


def test_gzip_write(server):
    body = gzip.compress(b"cpu,region=south user=1.5 300\n")
    with _post(
        f"{server}/api/v2/write?org=myorg&bucket=mybucket",
        body,
        {"Content-Encoding": "gzip"},
    ) as r:
        assert r.status == 204
    q = "SELECT COUNT(*) AS n FROM cpu WHERE region = 'south'"
    url = f"{server}/iox/api/v1/databases/myorg_mybucket/query?q={urllib.request.quote(q)}&format=json"
    with urllib.request.urlopen(url, timeout=120) as r:
        assert json.loads(r.read()) == [{"n": 1}]


def test_write_unknown_database_404(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{server}/api/v2/write?org=no&bucket=such", b"cpu user=1 1\n")
    assert e.value.code == 404


def test_write_malformed_lines_400(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(
            f"{server}/api/v2/write?org=myorg&bucket=mybucket",
            b"cpu,region=west user=notanum 100\n",
        )
    assert e.value.code == 400


def test_write_bad_gzip_400(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(
            f"{server}/api/v2/write?org=myorg&bucket=mybucket",
            b"this is not gzip",
            {"Content-Encoding": "gzip"},
        )
    assert e.value.code == 400
    assert b"gzip" in e.value.read()


def test_write_non_utf8_body_400(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(
            f"{server}/api/v2/write?org=myorg&bucket=mybucket",
            b"cpu,region=west user=1 100\n\xff\xfe\x80",
        )
    assert e.value.code == 400
    assert b"UTF-8" in e.value.read()


def test_query_row_cap_413(spark, tmp_path):
    """An unbounded SELECT over HTTP must not collect past max_rows."""
    store = TableStore(str(tmp_path / "cap_store"))
    db = Database("myorg_mybucket", store, spark)
    db.register_table("cpu", CPU)
    ing = LineProtocolIngest(store, "cpu", CPU)
    api = IoxHttpServer(db, {"cpu": ing}, db_name="myorg_mybucket", max_rows=5)
    port = api.start()
    try:
        base = f"http://127.0.0.1:{port}"
        lines = "\n".join(
            f"cpu,region=r{i} user={i}.0 {i * 100}" for i in range(8)
        ).encode()
        with _post(f"{base}/api/v2/write?org=myorg&bucket=mybucket", lines) as r:
            assert r.status == 204
        q = urllib.request.quote("SELECT * FROM cpu")
        url = f"{base}/iox/api/v1/databases/myorg_mybucket/query?q={q}&format=json"
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(url, timeout=120)
        assert e.value.code == 413
        assert b"max_rows" in e.value.read()
        # under the cap still works
        q2 = urllib.request.quote("SELECT * FROM cpu LIMIT 3")
        url2 = f"{base}/iox/api/v1/databases/myorg_mybucket/query?q={q2}&format=json"
        with urllib.request.urlopen(url2, timeout=120) as r:
            assert len(json.loads(r.read())) == 3
    finally:
        api.stop()


def test_query_missing_q_400(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(
            f"{server}/iox/api/v1/databases/myorg_mybucket/query?format=json",
            timeout=30,
        )
    assert e.value.code == 400


def test_write_is_all_or_nothing_across_measurements(spark, tmp_path):
    """A request whose lines fail validation for ONE measurement persists
    NOTHING for any measurement (two-phase parse-then-write)."""
    import json as _json

    store = TableStore(str(tmp_path / "two_phase"))
    db = Database("myorg_mybucket", store, spark)
    mem = IoxSchema.build(["host"], {"free": InfluxColumnType.FIELD_FLOAT})
    db.register_table("cpu", CPU)
    db.register_table("mem", mem)
    api = IoxHttpServer(
        db,
        {
            "mem": LineProtocolIngest(store, "mem", mem),
            "cpu": LineProtocolIngest(store, "cpu", CPU),
        },
        db_name="myorg_mybucket",
    )
    port = api.start()
    try:
        body = b"mem,host=h1 free=1.0 100\ncpu,region=west user=true 200\n"
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(
                f"http://127.0.0.1:{port}/api/v2/write?org=myorg&bucket=mybucket",
                body,
            )
        assert e.value.code == 400
        # the valid mem line must NOT have been committed
        assert store.manifest("mem") == []
        assert store.manifest("cpu") == []
    finally:
        api.stop()


def test_metrics_endpoint(server):
    """GET /metrics (http.rs:366,678): Prometheus exposition of the ingest
    counters (incremented only by ACCEPTED writes), http_requests_total by
    (path, status), and the store's pruning access metrics."""
    lines = b"cpu,region=west user=23.2 100\ncpu,region=east user=5.0 200\n"
    with _post(f"{server}/api/v2/write?org=myorg&bucket=mybucket", lines) as r:
        assert r.status == 204
    # a rejected write must NOT count into ingest_*
    try:
        _post(f"{server}/api/v2/write?org=myorg&bucket=mybucket", b"not a line")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400

    with urllib.request.urlopen(f"{server}/metrics", timeout=30) as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/plain")
        text = r.read().decode()
    assert 'ingest_lines_total{db_name="myorg_mybucket"} 2' in text
    assert f'ingest_points_bytes_total{{db_name="myorg_mybucket"}} {len(lines)}' in text
    assert '# TYPE ingest_lines_total counter' in text
    assert 'http_requests_total{path="/api/v2/write",status="204"} 1' in text
    assert 'http_requests_total{path="/api/v2/write",status="400"} 1' in text


def test_error_body_shape(server):
    """end_to_end_cases/http.rs:15 — error replies carry the v2 JSON body
    `{"error": ..., "error_code": 100}`."""
    try:
        _post(f"{server}/api/v2/write?org=nope&bucket=nada", b"m f=1 1")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404
        body = json.loads(e.read())
        assert body["error_code"] == 100
        assert "not found" in body["error"]


# -- v1 /query (InfluxQL) ----------------------------------------------------


def _write_v1_fixture(server):
    lines = (
        b"cpu,region=west user=1.0 1000000000\n"
        b"cpu,region=west user=3.0 2000000000\n"
        b"cpu,region=east user=10.0 1500000000\n"
    )
    with _post(f"{server}/api/v2/write?org=myorg&bucket=mybucket", lines) as r:
        assert r.status == 204


def test_v1_query_envelope_grouped(server):
    _write_v1_fixture(server)
    q = "SELECT MEAN(user) FROM cpu GROUP BY region"
    url = f"{server}/query?db=myorg_mybucket&q={urllib.request.quote(q)}"
    with urllib.request.urlopen(url, timeout=120) as r:
        assert r.status == 200
        env = json.loads(r.read())
    series = env["results"][0]["series"]
    by_tag = {s["tags"]["region"]: s for s in series}
    assert by_tag["west"]["name"] == "cpu"
    assert by_tag["west"]["columns"] == ["mean"]
    assert by_tag["west"]["values"] == [[2.0]]
    assert by_tag["east"]["values"] == [[10.0]]


def test_v1_query_epoch_and_rfc3339(server):
    _write_v1_fixture(server)
    q = "SELECT user FROM cpu WHERE region = 'west'"
    base = f"{server}/query?db=myorg_mybucket&q={urllib.request.quote(q)}"
    with urllib.request.urlopen(base + "&epoch=ms", timeout=120) as r:
        env = json.loads(r.read())
    vals = env["results"][0]["series"][0]["values"]
    assert vals == [[1000, 1.0], [2000, 3.0]]
    with urllib.request.urlopen(base, timeout=120) as r:
        env2 = json.loads(r.read())
    assert env2["results"][0]["series"][0]["values"][0][0] == (
        "1970-01-01T00:00:01Z"
    )


def test_v1_query_multi_statement_and_error(server):
    _write_v1_fixture(server)
    q = "SELECT COUNT(user) FROM cpu; SELECT nope(user) FROM cpu"
    url = f"{server}/query?db=myorg_mybucket&q={urllib.request.quote(q)}"
    with urllib.request.urlopen(url, timeout=120) as r:
        env = json.loads(r.read())
    assert env["results"][0]["statement_id"] == 0
    assert env["results"][0]["series"][0]["values"] == [[3]]
    assert env["results"][1]["statement_id"] == 1
    assert "unsupported function" in env["results"][1]["error"]


def test_v1_query_show_statements(server):
    _write_v1_fixture(server)
    for q, expect in (
        ("SHOW MEASUREMENTS", ("measurements", ["name"], [["cpu"]])),
        ("SHOW DATABASES", ("databases", ["name"], [["myorg_mybucket"]])),
    ):
        url = f"{server}/query?q={urllib.request.quote(q)}"
        with urllib.request.urlopen(url, timeout=120) as r:
            env = json.loads(r.read())
        s = env["results"][0]["series"][0]
        assert (s["name"], s["columns"], s["values"]) == expect
    url = f"{server}/query?q={urllib.request.quote('SHOW TAG KEYS FROM cpu')}"
    with urllib.request.urlopen(url, timeout=120) as r:
        env = json.loads(r.read())
    s = env["results"][0]["series"][0]
    assert s["name"] == "cpu" and s["columns"] == ["tagKey"]
    assert s["values"] == [["region"]]


def test_v1_query_post_form(server):
    _write_v1_fixture(server)
    from urllib.parse import urlencode

    data = urlencode(
        {"db": "myorg_mybucket", "q": "SELECT COUNT(user) FROM cpu"}
    ).encode()
    with _post(f"{server}/query", data) as r:
        env = json.loads(r.read())
    assert env["results"][0]["series"][0]["values"] == [[3]]


def test_v1_query_unknown_db_404(server):
    url = f"{server}/query?db=nope&q={urllib.request.quote('SELECT 1 FROM cpu')}"
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(url, timeout=30)
    assert e.value.code == 404


def test_v1_query_into_writeback(server):
    _write_v1_fixture(server)
    from urllib.parse import urlencode

    q = (
        "SELECT MEAN(user) AS m INTO cpu_hourly FROM cpu "
        "GROUP BY time(1h), region"
    )
    # stock 1.x requires POST for INTO: the GET route must refuse the
    # write (side-effecting GETs are unsafe behind caches/prefetchers)
    url = f"{server}/query?db=myorg_mybucket&q={urllib.request.quote(q)}"
    with urllib.request.urlopen(url, timeout=120) as r:
        env_get = json.loads(r.read())
    assert "POST" in env_get["results"][0]["error"]
    data = urlencode({"db": "myorg_mybucket", "q": q}).encode()
    with _post(f"{server}/query", data) as r:
        env = json.loads(r.read())
    s = env["results"][0]["series"][0]
    assert s["name"] == "result" and s["columns"] == ["time", "written"]
    assert s["values"][0][1] == 2  # west 0h bucket, east 0h bucket
    # destination readable through the same endpoint
    q2 = "SELECT m FROM cpu_hourly GROUP BY region"
    with urllib.request.urlopen(
        f"{server}/query?db=myorg_mybucket&q={urllib.request.quote(q2)}&epoch=s",
        timeout=120,
    ) as r:
        env2 = json.loads(r.read())
    by_tag = {
        s["tags"]["region"]: s["values"] for s in env2["results"][0]["series"]
    }
    assert by_tag["west"] == [[0, 2.0]] and by_tag["east"] == [[0, 10.0]]


def test_v1_query_csv_accept(server):
    _write_v1_fixture(server)
    q = "SELECT COUNT(user) AS n FROM cpu GROUP BY region"
    req = urllib.request.Request(
        f"{server}/query?db=myorg_mybucket&q={urllib.request.quote(q)}",
        headers={"Accept": "application/csv"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        assert r.headers["Content-Type"] == "application/csv"
        body = r.read().decode()
    lines = body.strip().splitlines()
    assert lines[0] == "name,tags,n"
    assert sorted(lines[1:]) == ["cpu,region=east,1", "cpu,region=west,2"]


def test_v1_query_chunked_streams_past_max_rows(spark, tmp_path):
    """chunked=true streams the whole result in chunk_size batches with
    stock partial flags — exempt from the max_rows cap because driver
    memory is bounded by toLocalIterator, not a full collect."""
    store = TableStore(str(tmp_path / "chunk_store"))
    db = Database("myorg_mybucket", store, spark)
    db.register_table("cpu", CPU)
    ing = LineProtocolIngest(store, "cpu", CPU)
    api = IoxHttpServer(db, {"cpu": ing}, db_name="myorg_mybucket", max_rows=5)
    port = api.start()
    try:
        base = f"http://127.0.0.1:{port}"
        lines = "\n".join(
            f"cpu,region=west user={i}.0 {i * 100}" for i in range(12)
        ).encode()
        with _post(f"{base}/api/v2/write?org=myorg&bucket=mybucket", lines) as r:
            assert r.status == 204
        q = urllib.request.quote("SELECT user FROM cpu ORDER BY time")
        url = (
            f"{base}/query?db=myorg_mybucket&q={q}&epoch=ns"
            "&chunked=true&chunk_size=5"
        )
        with urllib.request.urlopen(url, timeout=120) as r:
            docs = [
                json.loads(ln) for ln in r.read().decode().splitlines() if ln
            ]
        # 12 rows in chunks of 5 -> 3 chunks; first two partial
        assert len(docs) == 3
        assert docs[0]["results"][0]["partial"] is True
        assert docs[0]["results"][0]["series"][0]["partial"] is True
        assert "partial" not in docs[2]["results"][0]
        values = [
            v
            for d in docs
            for s in d["results"][0]["series"]
            for v in s["values"]
        ]
        assert [v[1] for v in values] == [float(i) for i in range(12)]
        # series name repeats per continuation chunk
        assert {s["name"] for d in docs for s in d["results"][0]["series"]} == {"cpu"}
    finally:
        api.stop()


def test_v1_write_endpoint_with_precision(server):
    """POST /write?db=...&precision=s — the 1.x client-library write
    path: timestamps scale to ns before the partition key derives, and
    the full 1.x loop (create db, write, query) round-trips."""
    from urllib.parse import urlencode

    # the classic onboarding sequence a 1.x client performs
    data = urlencode({"q": "CREATE DATABASE myorg_mybucket"}).encode()
    with _post(f"{server}/query", data) as r:
        assert r.status == 200
    lines = b"cpu,region=west user=1.5 100\ncpu,region=west user=2.5 200\n"
    with _post(f"{server}/write?db=myorg_mybucket&precision=s", lines) as r:
        assert r.status == 204
    q = "SELECT user FROM cpu ORDER BY time"
    with urllib.request.urlopen(
        f"{server}/query?db=myorg_mybucket&q={urllib.request.quote(q)}&epoch=s",
        timeout=120,
    ) as r:
        env = json.loads(r.read())
    vals = env["results"][0]["series"][0]["values"]
    assert vals == [[100, 1.5], [200, 2.5]]  # seconds preserved end-to-end

    # bad precision -> 400; unknown db -> 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{server}/write?db=myorg_mybucket&precision=xx", lines)
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{server}/write?db=nope", lines)
    assert e.value.code == 404


def test_ping_endpoint(server):
    with urllib.request.urlopen(f"{server}/ping", timeout=30) as r:
        assert r.status == 204
        assert "iox-spark" in r.headers["X-Influxdb-Version"]


# -- v1 auth (round 10) -------------------------------------------------------


def test_check_http_auth_unit():
    from influxdb_iox_spark.http_api import check_http_auth
    import base64

    users = {"alice": "s3cret"}
    # anonymous server: everything passes
    assert check_http_auth(None, None)
    assert check_http_auth({}, "Basic garbage")
    # u/p params
    assert check_http_auth(users, None, "alice", "s3cret")
    assert not check_http_auth(users, None, "alice", "wrong")
    assert not check_http_auth(users, None, "bob", "s3cret")
    assert not check_http_auth(users, None, None, "s3cret")
    # explicit params take precedence over a (valid) header
    good = "Basic " + base64.b64encode(b"alice:s3cret").decode()
    assert not check_http_auth(users, good, "alice", "wrong")
    # Basic auth
    assert check_http_auth(users, good)
    assert not check_http_auth(
        users, "Basic " + base64.b64encode(b"alice:wrong").decode()
    )
    assert not check_http_auth(users, "Basic not-base64!!")
    # 1.8 Token form
    assert check_http_auth(users, "Token alice:s3cret")
    assert not check_http_auth(users, "Token alice:nope")
    # missing credentials entirely
    assert not check_http_auth(users, None)


@pytest.fixture()
def auth_server(spark, tmp_path):
    store = TableStore(str(tmp_path / "auth_store"))
    db = Database("myorg_mybucket", store, spark)
    db.register_table("cpu", CPU)
    ing = LineProtocolIngest(store, "cpu", CPU)
    api = IoxHttpServer(
        db, {"cpu": ing}, db_name="myorg_mybucket",
        users={"alice": "s3cret"},
    )
    port = api.start()
    yield f"http://127.0.0.1:{port}"
    api.stop()


def _status_of(url, body=None, headers=None):
    try:
        req = urllib.request.Request(url, data=body, headers=headers or {})
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status
    except urllib.error.HTTPError as e:
        return e.code


def test_auth_configured_routes(auth_server):
    import base64

    lines = b"cpu,region=west user=1.0 100"
    wr = "/api/v2/write?org=myorg&bucket=mybucket"
    # no credentials -> 401 with the stock envelope
    try:
        _post(f"{auth_server}{wr}", lines)
        assert False, "expected 401"
    except urllib.error.HTTPError as e:
        assert e.code == 401
        assert "authorization failed" in json.loads(e.read())["error"]
    # u/p params ok
    assert _status_of(
        f"{auth_server}{wr}&u=alice&p=s3cret", body=lines
    ) == 204
    # Basic header ok
    basic = "Basic " + base64.b64encode(b"alice:s3cret").decode()
    assert _status_of(
        f"{auth_server}{wr}", body=lines, headers={"Authorization": basic}
    ) == 204
    # wrong password -> 401 on query too
    q = urllib.request.quote("SELECT user FROM cpu")
    assert _status_of(f"{auth_server}/query?q={q}&u=alice&p=bad") == 401
    assert _status_of(f"{auth_server}/query?q={q}&u=alice&p=s3cret") == 200
    # iox query route guarded as well
    iox = f"/iox/api/v1/databases/myorg_mybucket/query?q={q}&format=json"
    assert _status_of(f"{auth_server}{iox}") == 401
    assert _status_of(f"{auth_server}{iox}&u=alice&p=s3cret") == 200
    # health/ping stay open, stock behavior
    assert _status_of(f"{auth_server}/health") == 200
    assert _status_of(f"{auth_server}/ping") == 204


def test_anonymous_server_unaffected(server):
    # default servers stay unauthenticated (reference parity)
    lines = b"cpu,region=west user=1.0 100"
    assert _status_of(
        f"{server}/api/v2/write?org=myorg&bucket=mybucket", body=lines
    ) == 204


# -- both constructions: the fixed-database facade and the live server ------


@pytest.fixture(params=["single", "multi"])
def either_server(request, spark, tmp_path):
    """Base URL of database myorg_mybucket (table cpu) served by
    IoxHttpServer over a fixed database, or by IoxMultiDbHttpServer over
    an IoxServer."""
    if request.param == "single":
        store = TableStore(str(tmp_path / "http_store"))
        db = Database("myorg_mybucket", store, spark)
        db.register_table("cpu", CPU)
        api = IoxHttpServer(
            db, {"cpu": LineProtocolIngest(store, "cpu", CPU)},
            db_name="myorg_mybucket",
        )
    else:
        from influxdb_iox_spark.rpc_management import (
            IoxMultiDbHttpServer,
            IoxServer,
        )

        server = IoxServer(spark, str(tmp_path / "iox"))
        server.create_database(
            {"name": "myorg_mybucket",
             "partition_template": {"parts": [{"table": {}}]}}
        )
        api = IoxMultiDbHttpServer(server)
    port = api.start()
    yield f"http://127.0.0.1:{port}"
    api.stop()


def _sql(base, q):
    url = (f"{base}/iox/api/v1/databases/myorg_mybucket/query"
           f"?q={urllib.request.quote(q)}&format=json")
    with urllib.request.urlopen(url, timeout=120) as r:
        return json.loads(r.read())


def test_precision_truncates_server_time(either_server):
    """A point without a timestamp gets the server clock truncated to
    the request's precision, on both write routes."""
    import time

    before = time.time_ns()
    with _post(f"{either_server}/api/v2/write?org=myorg&bucket=mybucket"
               "&precision=s", b"cpu,region=west user=1.0") as r:
        assert r.status == 204
    with _post(f"{either_server}/write?db=myorg_mybucket&precision=ms",
               b"cpu,region=east user=2.0\n") as r:
        assert r.status == 204
    after = time.time_ns()
    rows = {r["region"]: r["time"] for r in _sql(either_server, "SELECT region, time FROM cpu")}
    assert rows["west"] % 10**9 == 0
    assert before // 10**9 * 10**9 <= rows["west"] <= after
    assert rows["east"] % 10**6 == 0
    assert before // 10**6 * 10**6 <= rows["east"] <= after


def test_delete_then_query(either_server):
    """POST /api/v2/delete answers 204 and the deleted rows are gone
    from the next query."""
    lines = b"cpu,region=west user=1.0 100\ncpu,region=east user=2.0 200\n"
    with _post(f"{either_server}/api/v2/write?org=myorg&bucket=mybucket", lines) as r:
        assert r.status == 204
    body = json.dumps({
        "start": "1970-01-01T00:00:00Z",
        "stop": "1970-01-01T00:00:01Z",
        "predicate": 'region="west"',
    }).encode()
    with _post(f"{either_server}/api/v2/delete?org=myorg&bucket=mybucket", body) as r:
        assert r.status == 204
    assert _sql(either_server, "SELECT region FROM cpu") == [{"region": "east"}]


def test_request_counts_exact_under_concurrent_handlers(server):
    """Handler threads count replies under the metrics lock: with more
    clients than cores and a tiny switch interval, http_requests_total
    still equals the number of requests sent."""
    import sys
    import threading

    clients, per_client = 12, 20

    def hit():
        for _ in range(per_client):
            with urllib.request.urlopen(f"{server}/health", timeout=30) as r:
                r.read()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hit) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    with urllib.request.urlopen(f"{server}/metrics", timeout=30) as r:
        text = r.read().decode()
    want = clients * per_client
    assert f'http_requests_total{{path="/health",status="200"}} {want}' in text
