"""Storage-gRPC wire contract tests.

Port of /root/reference/tests/end_to_end_cases/storage_api.rs: the same
five-measurement scenario (scenario.rs:117-180), the same requests, the
same expected frames/string-sets — but through OUR wire stack: protobuf
request bytes (hand-rolled codec) → Flight DoAction on a real gRPC socket
→ protobuf response bytes decoded back.  A codec round-trip battery guards
byte-level compatibility of the protowire layer itself.
"""

from __future__ import annotations

import pytest

pytest.importorskip("pyarrow.flight")

from influxdb_iox_spark import storage_proto as sp
from influxdb_iox_spark.database import Database
from influxdb_iox_spark.protowire import decode_message, encode_message
from influxdb_iox_spark.rpc_storage import StorageFlightServer, StorageClient
from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
from influxdb_iox_spark.sources.store import TableStore

NS = 1_000_000_000  # scenario.ns_since_epoch
ORG, BUCKET = 0x1111, 0x2222
DB_NAME = f"{ORG:016x}_{BUCKET:016x}"


def _read_source():
    return sp.make_read_source(ORG, BUCKET, partition_id=0xFFFFFFFF)


def _range():
    return {"start": NS, "end": NS + 10}


def _tag_predicate(key: str, value: str) -> dict:
    """make_tag_predicate: ``key = value`` as a wire Node tree."""
    return {
        "root": {
            "node_type": sp.NT_COMPARISON,
            "comparison": sp.CMP_EQUAL,
            "children": [
                {"node_type": sp.NT_TAG_REF, "tag_ref_value": key.encode()},
                {"node_type": sp.NT_LITERAL, "string_value": value},
            ],
        }
    }


def _regex_predicate(key: str, pattern: str) -> dict:
    return {
        "root": {
            "node_type": sp.NT_COMPARISON,
            "comparison": sp.CMP_REGEX,
            "children": [
                {"node_type": sp.NT_TAG_REF, "tag_ref_value": key.encode()},
                {"node_type": sp.NT_LITERAL, "regex_value": pattern},
            ],
        }
    }


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    """The storage_api.rs scenario data (scenario.rs:117-180) in a
    TableStore-backed database, served over the Flight gRPC socket."""
    store = TableStore(str(tmp_path_factory.mktemp("storage_grpc")))
    db = Database(DB_NAME, store, spark)

    cpu = IoxSchema.build(
        ["host", "region"], {"value": InfluxColumnType.FIELD_FLOAT}
    )
    cpu_df = spark.createDataFrame(
        [
            ("server01", "us-west", 0.64, NS),
            ("server01", None, 27.99, NS + 1),
            ("server02", "us-west", 3.89, NS + 2),
            ("server01", "us-east", 1234567.891011, NS + 3),
            ("server01", "us-west", 0.000003, NS + 4),
        ],
        "host string, region string, value double, time long",
    )
    store.write_chunk(cpu_df, "cpu_load_short", cpu)
    db.register_table("cpu_load_short", cpu)

    system = IoxSchema.build(["host"], {"uptime": InfluxColumnType.FIELD_INTEGER})
    store.write_chunk(
        spark.createDataFrame(
            [("server03", 1303385, NS + 5)], "host string, uptime long, time long"
        ),
        "system",
        system,
    )
    db.register_table("system", system)

    swap = IoxSchema.build(
        ["host", "name"],
        {"in": InfluxColumnType.FIELD_INTEGER, "out": InfluxColumnType.FIELD_INTEGER},
    )
    store.write_chunk(
        spark.createDataFrame(
            [("server01", "disk0", 3, 4, NS + 6)],
            "host string, name string, in long, out long, time long",
        ),
        "swap",
        swap,
    )
    db.register_table("swap", swap)

    status = IoxSchema.build([], {"active": InfluxColumnType.FIELD_BOOLEAN})
    store.write_chunk(
        spark.createDataFrame([(True, NS + 7)], "active boolean, time long"),
        "status",
        status,
    )
    db.register_table("status", status)

    attributes = IoxSchema.build([], {"color": InfluxColumnType.FIELD_STRING})
    store.write_chunk(
        spark.createDataFrame([("blue", NS + 8)], "color string, time long"),
        "attributes",
        attributes,
    )
    db.register_table("attributes", attributes)

    srv = StorageFlightServer({DB_NAME: db})
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def client(server):
    c = StorageClient(server.port)
    yield c
    c.close()


def _dump_frames(responses: list[dict]) -> list[str]:
    """storage_api.rs dump_data_frames-style rendering for exact compare."""
    out = []
    for resp in responses:
        for frame in resp.get("frames", []):
            if frame.get("series"):
                s = frame["series"]
                tags = ",".join(
                    f"{t['key'].decode()}={t['value'].decode()}" for t in s["tags"]
                )
                out.append(f"SeriesFrame, tags: {tags}, type: {s.get('data_type', 0)}")
            for key, label in (
                ("float_points", "FloatPointsFrame"),
                ("integer_points", "IntegerPointsFrame"),
                ("boolean_points", "BooleanPointsFrame"),
                ("string_points", "StringPointsFrame"),
            ):
                if frame.get(key):
                    p = frame[key]
                    ts = [t - NS for t in p["timestamps"]]  # substitute_nanos
                    out.append(f"{label}, timestamps: {ts}, values: {p['values']}")
            if frame.get("group"):
                g = frame["group"]
                keys = ",".join(k.decode() for k in g["tag_keys"])
                vals = ",".join(v.decode() for v in g["partition_key_vals"])
                out.append(f"GroupFrame, tag_keys: {keys}, partition_key_vals: {vals}")
    return out


def test_capabilities_endpoint(client):
    resp = client.call("Capabilities", {}, {}, sp.CAPABILITIES_RESPONSE)
    caps = {e["key"]: e["value"]["features"] for e in resp[0]["caps"]}
    assert len(caps) == 2  # storage_api.rs:47-53
    assert "WindowAggregate" in caps and "Group" in caps


def test_read_filter_endpoint(client):
    """storage_api.rs:55-101 expected frames, bit for bit (ns-shifted)."""
    req = {
        "read_source": _read_source(),
        "range": _range(),
        "predicate": _tag_predicate("host", "server01"),
    }
    resp = client.call("ReadFilter", req, sp.READ_FILTER_REQUEST, sp.READ_RESPONSE)
    assert _dump_frames(resp) == [
        "SeriesFrame, tags: _field=value,_measurement=cpu_load_short,host=server01, type: 0",
        "FloatPointsFrame, timestamps: [1], values: [27.99]",
        "SeriesFrame, tags: _field=value,_measurement=cpu_load_short,host=server01,region=us-east, type: 0",
        "FloatPointsFrame, timestamps: [3], values: [1234567.891011]",
        "SeriesFrame, tags: _field=value,_measurement=cpu_load_short,host=server01,region=us-west, type: 0",
        "FloatPointsFrame, timestamps: [0, 4], values: [0.64, 3e-06]",
        "SeriesFrame, tags: _field=in,_measurement=swap,host=server01,name=disk0, type: 1",
        "IntegerPointsFrame, timestamps: [6], values: [3]",
        "SeriesFrame, tags: _field=out,_measurement=swap,host=server01,name=disk0, type: 1",
        "IntegerPointsFrame, timestamps: [6], values: [4]",
    ]


def test_read_filter_regex_operator(client):
    """storage_api.rs:298-338 regex_operator_test: regex predicate over the
    full scenario restricts to matching hosts."""
    req = {
        "read_source": _read_source(),
        "range": {"start": NS, "end": NS + 10},
        "predicate": _regex_predicate("host", "server0[12]"),
    }
    resp = client.call("ReadFilter", req, sp.READ_FILTER_REQUEST, sp.READ_RESPONSE)
    dumped = _dump_frames(resp)
    hosts = {
        ln.split("host=")[1].split(",")[0].split(" ")[0].rstrip(",")
        for ln in dumped
        if "host=" in ln
    }
    assert hosts == {"server01", "server02"}
    assert not any("server03" in ln for ln in dumped)


def test_tag_keys_endpoint(client):
    req = {
        "tags_source": _read_source(),
        "range": _range(),
        "predicate": _tag_predicate("host", "server01"),
    }
    resp = client.call("TagKeys", req, sp.TAG_KEYS_REQUEST, sp.STRING_VALUES_RESPONSE)
    # storage_api.rs:124: _m(0x00), host, name, region, _f(0xff)
    assert resp[0]["values"] == [b"\x00", b"host", b"name", b"region", b"\xff"]


def test_tag_values_endpoint(client):
    req = {
        "tags_source": _read_source(),
        "range": _range(),
        "predicate": _tag_predicate("host", "server01"),
        "tag_key": b"host",
    }
    resp = client.call(
        "TagValues", req, sp.TAG_VALUES_REQUEST, sp.STRING_VALUES_RESPONSE
    )
    assert resp[0]["values"] == [b"server01"]  # storage_api.rs:153


def test_tag_values_measurement_pseudo_key(client):
    """tag_key=\\x00 lists measurement names (service.rs:482-502); with a
    general predicate it errors (NotYetImplemented in the reference)."""
    import pyarrow.flight as fl

    req = {"tags_source": _read_source(), "range": _range(), "tag_key": b"\x00"}
    resp = client.call(
        "TagValues", req, sp.TAG_VALUES_REQUEST, sp.STRING_VALUES_RESPONSE
    )
    assert resp[0]["values"] == [
        b"attributes", b"cpu_load_short", b"status", b"swap", b"system"
    ]
    bad = dict(req, predicate=_tag_predicate("host", "server01"))
    with pytest.raises(fl.FlightServerError, match="general predicate"):
        client.call("TagValues", bad, sp.TAG_VALUES_REQUEST, sp.STRING_VALUES_RESPONSE)


def test_tag_values_field_pseudo_key(client):
    """tag_key=\\xff lists field names under the predicate
    (service.rs:504-525)."""
    req = {
        "tags_source": _read_source(),
        "range": _range(),
        "predicate": _tag_predicate("host", "server01"),
        "tag_key": b"\xff",
    }
    resp = client.call(
        "TagValues", req, sp.TAG_VALUES_REQUEST, sp.STRING_VALUES_RESPONSE
    )
    assert resp[0]["values"] == [b"in", b"out", b"value"]


def test_measurement_names_endpoint(client):
    req = {"source": _read_source(), "range": _range()}
    resp = client.call(
        "MeasurementNames", req, sp.MEASUREMENT_NAMES_REQUEST,
        sp.STRING_VALUES_RESPONSE,
    )
    # storage_api.rs:182-186
    assert resp[0]["values"] == [
        b"attributes", b"cpu_load_short", b"status", b"swap", b"system"
    ]


def test_measurement_tag_keys_endpoint(client):
    req = {
        "source": _read_source(),
        "measurement": "cpu_load_short",
        "range": _range(),
        "predicate": _tag_predicate("host", "server01"),
    }
    resp = client.call(
        "MeasurementTagKeys", req, sp.MEASUREMENT_TAG_KEYS_REQUEST,
        sp.STRING_VALUES_RESPONSE,
    )
    # storage_api.rs:221: _m(0x00), host, region, _f(0xff)
    assert resp[0]["values"] == [b"\x00", b"host", b"region", b"\xff"]


def test_measurement_tag_values_endpoint(client):
    req = {
        "source": _read_source(),
        "measurement": "cpu_load_short",
        "tag_key": "host",
        "range": _range(),
        "predicate": _tag_predicate("host", "server01"),
    }
    resp = client.call(
        "MeasurementTagValues", req, sp.MEASUREMENT_TAG_VALUES_REQUEST,
        sp.STRING_VALUES_RESPONSE,
    )
    assert resp[0]["values"] == [b"server01"]  # storage_api.rs:258


def test_measurement_fields_endpoint(client):
    req = {
        "source": _read_source(),
        "measurement": "cpu_load_short",
        "range": _range(),
        "predicate": _tag_predicate("host", "server01"),
    }
    resp = client.call(
        "MeasurementFields", req, sp.MEASUREMENT_FIELDS_REQUEST,
        sp.MEASUREMENT_FIELDS_RESPONSE,
    )
    fields = resp[0]["fields"]
    assert len(fields) == 1  # storage_api.rs:289-294
    assert fields[0]["key"] == "value"
    assert fields[0]["type"] == sp.FT_FLOAT
    assert fields[0]["timestamp"] == NS + 4


def test_read_group_sum_agg(client):
    """storage_api.rs:482-535 shape: group by host, SUM aggregate."""
    req = {
        "read_source": _read_source(),
        "range": _range(),
        "predicate": _tag_predicate("host", "server01"),
        "group_keys": ["host"],
        "group": sp.GROUP_BY,
        "aggregate": {"type": 1},  # SUM
    }
    resp = client.call("ReadGroup", req, sp.READ_GROUP_REQUEST, sp.READ_RESPONSE)
    dumped = _dump_frames(resp)
    assert dumped[0] == "GroupFrame, tag_keys: host, partition_key_vals: server01"
    # cpu_load_short host=server01 splits by region: null, us-east, us-west
    sums = [ln for ln in dumped if ln.startswith("FloatPointsFrame")]
    assert "[27.99]" in sums[0]
    assert "[1234567.891011]" in sums[1]
    assert "[0.640003]" in sums[2]  # 0.64 + 0.000003


def test_read_group_rejects_hints(client):
    import pyarrow.flight as fl

    req = {
        "read_source": _read_source(),
        "range": _range(),
        "group": sp.GROUP_BY,
        "hints": 42,
    }
    with pytest.raises(fl.FlightServerError, match="hints"):
        client.call("ReadGroup", req, sp.READ_GROUP_REQUEST, sp.READ_RESPONSE)


def test_read_window_aggregate(client):
    """storage_api.rs:591-666 shape: 2ns windows, SUM over the cpu series."""
    req = {
        "read_source": _read_source(),
        "range": _range(),
        "predicate": _tag_predicate("host", "server01"),
        "window_every": 2,
        "aggregate": [{"type": 1}],  # SUM
    }
    resp = client.call(
        "ReadWindowAggregate", req, sp.READ_WINDOW_AGGREGATE_REQUEST,
        sp.READ_RESPONSE,
    )
    dumped = _dump_frames(resp)
    # host=server01 no-region series: value 27.99 at ns+1 → window end ns+2
    assert (
        "SeriesFrame, tags: _field=value,_measurement=cpu_load_short,host=server01, type: 0"
        in dumped
    )
    i = dumped.index(
        "SeriesFrame, tags: _field=value,_measurement=cpu_load_short,host=server01, type: 0"
    )
    assert dumped[i + 1] == "FloatPointsFrame, timestamps: [2], values: [27.99]"


def test_read_window_aggregate_requires_one_aggregate(client):
    import pyarrow.flight as fl

    req = {"read_source": _read_source(), "range": _range(), "window_every": 2}
    with pytest.raises(fl.FlightServerError, match="Exactly one aggregate"):
        client.call(
            "ReadWindowAggregate", req, sp.READ_WINDOW_AGGREGATE_REQUEST,
            sp.READ_RESPONSE,
        )


def test_read_series_cardinality(client):
    """BEYOND the reference (service.rs:560-566 punts with unimplemented!):
    the count equals the number of SeriesFrames read_filter streams.
    Scenario series: cpu 4 (server01+null/us-east/us-west, server02),
    system 1, swap 2 (in+out), status 1, attributes 1 → 9."""
    req = {
        "read_series_cardinality_source": _read_source(),
        "range": _range(),
    }
    resp = client.call(
        "ReadSeriesCardinality", req, sp.READ_SERIES_CARDINALITY_REQUEST,
        sp.INT64_VALUES_RESPONSE,
    )
    assert resp[0]["values"] == [9]
    # under the host=server01 predicate it matches the read_filter framing
    # battery above: 3 cpu series + 2 swap series
    pred_req = dict(req, predicate=_tag_predicate("host", "server01"))
    resp = client.call(
        "ReadSeriesCardinality", pred_req, sp.READ_SERIES_CARDINALITY_REQUEST,
        sp.INT64_VALUES_RESPONSE,
    )
    assert resp[0]["values"] == [5]


def test_unknown_database_errors(client):
    import pyarrow.flight as fl

    req = {"read_source": sp.make_read_source(0xDEAD, 0xBEEF), "range": _range()}
    with pytest.raises(fl.FlightServerError, match="not found"):
        client.call("ReadFilter", req, sp.READ_FILTER_REQUEST, sp.READ_RESPONSE)


# -- codec battery (no Spark, no socket) ------------------------------------


def test_codec_roundtrip_every_request():
    cases = [
        (
            {
                "read_source": _read_source(),
                "range": _range(),
                "predicate": _tag_predicate("host", "server01"),
            },
            sp.READ_FILTER_REQUEST,
        ),
        (
            {
                "read_source": _read_source(),
                "range": _range(),
                "group_keys": ["host", "region"],
                "group": sp.GROUP_BY,
                "aggregate": {"type": 6},
                "hints": 0,
            },
            sp.READ_GROUP_REQUEST,
        ),
        (
            {
                "read_source": _read_source(),
                "range": _range(),
                "window_every": 120,
                "offset": -30,
                "aggregate": [{"type": 7}],
                "window": {
                    "every": {"months": 3, "negative": False},
                    "offset": {"months": 1, "negative": True},
                },
            },
            sp.READ_WINDOW_AGGREGATE_REQUEST,
        ),
        (
            {
                "tags_source": _read_source(),
                "range": _range(),
                "tag_key": b"\xff",
            },
            sp.TAG_VALUES_REQUEST,
        ),
        (
            {
                "source": _read_source(),
                "measurement": "m",
                "tag_key": "k",
                "range": _range(),
            },
            sp.MEASUREMENT_TAG_VALUES_REQUEST,
        ),
    ]
    def subset(expected, got):
        """decoded fills proto3 defaults; every explicitly-set leaf of the
        input must survive the round trip exactly."""
        if isinstance(expected, dict):
            assert isinstance(got, dict), (expected, got)
            for k, v in expected.items():
                subset(v, got[k])
        elif isinstance(expected, list):
            assert len(expected) == len(got), (expected, got)
            for e, g in zip(expected, got):
                subset(e, g)
        else:
            assert expected == got, (expected, got)

    for msg, schema in cases:
        subset(msg, decode_message(encode_message(msg, schema), schema))


def test_codec_negative_and_large_varints():
    node = {"node_type": sp.NT_LITERAL, "int_value": -(2**40)}
    out = decode_message(encode_message(node, sp.NODE), sp.NODE)
    assert out["int_value"] == -(2**40)
    node = {"node_type": sp.NT_LITERAL, "uint_value": 2**63 + 17}
    out = decode_message(encode_message(node, sp.NODE), sp.NODE)
    assert out["uint_value"] == 2**63 + 17


def test_codec_packed_and_unpacked_repeated():
    msg = {"timestamps": [1, -5, 2**40], "values": [1.5, -2.5, 0.0]}
    data = encode_message(msg, sp.FLOAT_POINTS)
    assert decode_message(data, sp.FLOAT_POINTS) == msg
    # unpacked encoding of the same ints must decode identically
    from influxdb_iox_spark.protowire import encode_varint
    import struct

    unpacked = b"".join(
        encode_varint((1 << 3) | 1) + struct.pack("<q", v) for v in [1, -5, 2**40]
    )
    assert decode_message(unpacked, sp.FLOAT_POINTS)["timestamps"] == [1, -5, 2**40]


def test_codec_nested_node_tree():
    tree = {
        "root": {
            "node_type": sp.NT_LOGICAL,
            "logical": sp.LOGICAL_OR,
            "children": [
                _tag_predicate("a", "x")["root"],
                _tag_predicate("b", "y")["root"],
            ],
        }
    }
    decoded = decode_message(encode_message(tree, sp.PREDICATE), sp.PREDICATE)
    d = sp.node_to_dict(decoded["root"])
    assert d["node_type"] == "logical" and d["op"] == "or"
    assert d["children"][0]["children"][0] == {"node_type": "tag_ref", "value": "a"}
    assert d["children"][1]["children"][1] == {"node_type": "literal", "value": "y"}


def test_read_group_no_predicate_sum(client):
    """pred=None path through the numeric-field restriction (sum skips the
    boolean/string measurements instead of failing the whole request)."""
    req = {
        "read_source": _read_source(),
        "group_keys": ["host"],
        "group": sp.GROUP_BY,
        "aggregate": {"type": 1},  # SUM
    }
    resp = client.call("ReadGroup", req, sp.READ_GROUP_REQUEST, sp.READ_RESPONSE)
    dumped = _dump_frames(resp)
    # system (integer) contributes; status/attributes (bool/string) are skipped
    assert any("_measurement=system" in ln for ln in dumped)
    assert not any("_measurement=status" in ln for ln in dumped)


def test_read_group_none_with_keys_rejected(client):
    """expr.rs:526-537 InvalidGroupNone: Group::None plus group keys is a
    client error."""
    import pyarrow.flight as fl

    req = {
        "read_source": _read_source(),
        "range": _range(),
        "group": sp.GROUP_NONE,
        "group_keys": ["host"],
    }
    with pytest.raises(fl.FlightServerError, match="group none"):
        client.call("ReadGroup", req, sp.READ_GROUP_REQUEST, sp.READ_RESPONSE)


def test_read_group_unknown_key_rejected(client):
    """influxrpc.rs:1265-1299 GroupColumnNotFound: a group key that is not
    a tag of a planned measurement fails the request."""
    import pyarrow.flight as fl

    req = {
        "read_source": _read_source(),
        "range": _range(),
        "group": sp.GROUP_BY,
        "group_keys": ["no_such_tag"],
        "aggregate": {"type": 1},
    }
    with pytest.raises(fl.FlightServerError, match="no_such_tag"):
        client.call("ReadGroup", req, sp.READ_GROUP_REQUEST, sp.READ_RESPONSE)


def test_window_aggregate_empty_window_rejected(client):
    """expr.rs:546-590 EmptyWindow: no window message and zero legacy
    fields is a client error (window_bounds with every=0 would divide the
    timeline into nothing)."""
    import pyarrow.flight as fl

    req = {
        "read_source": _read_source(),
        "range": _range(),
        "aggregate": [{"type": 1}],
    }
    with pytest.raises(fl.FlightServerError, match="window"):
        client.call(
            "ReadWindowAggregate", req, sp.READ_WINDOW_AGGREGATE_REQUEST,
            sp.READ_RESPONSE,
        )


def test_window_aggregate_legacy_fields_win_over_window(client):
    """expr.rs:546-590: non-zero legacy WindowEvery takes precedence and
    the window message is ignored."""
    req_legacy = {
        "read_source": _read_source(),
        "range": _range(),
        "predicate": _tag_predicate("host", "server01"),
        "window_every": 2,
        "aggregate": [{"type": 1}],
    }
    req_both = dict(req_legacy)
    req_both["window"] = {"every": {"nsecs": 7}}  # must be ignored
    a = client.call(
        "ReadWindowAggregate", req_legacy, sp.READ_WINDOW_AGGREGATE_REQUEST,
        sp.READ_RESPONSE,
    )
    b = client.call(
        "ReadWindowAggregate", req_both, sp.READ_WINDOW_AGGREGATE_REQUEST,
        sp.READ_RESPONSE,
    )
    assert a == b


def test_codec_numpy_packed_matches_list():
    """A NumPy array in a repeated double / sfixed64 / fixed64 field packs
    from its buffer to the same bytes as the equal list; varint kinds take
    NumPy values through the per-value loop."""
    import numpy as np

    from influxdb_iox_spark.protowire import Field

    ts = [1, -5, 2**40, -(2**63), 2**63 - 1]
    floats = [1.5, -2.5, 0.0, float("inf"), 1e-300]
    ints = [0, -7, 2**40]
    unsigned = {1: Field("u", "fixed64", repeated=True)}
    cases = [
        (sp.FLOAT_POINTS, {"timestamps": ts, "values": floats},
         {"timestamps": np.array(ts, dtype=np.int64),
          "values": np.array(floats, dtype=np.float64)}),
        # non-native dtypes widen exactly as the per-value path converts
        (sp.FLOAT_POINTS, {"timestamps": [3, 4], "values": [0.5, -1.25]},
         {"timestamps": np.array([3, 4], dtype=">i4"),
          "values": np.array([0.5, -1.25], dtype=np.float32)}),
        (sp.INTEGER_POINTS, {"timestamps": ts[:3], "values": ints},
         {"timestamps": np.array(ts[:3]), "values": np.array(ints)}),
        (unsigned, {"u": [0, 1, 2**64 - 1]},
         {"u": np.array([0, 1, 2**64 - 1], dtype=np.uint64)}),
    ]
    for schema, as_list, as_array in cases:
        data = encode_message(as_list, schema)
        assert encode_message(as_array, schema) == data
        assert decode_message(data, schema) == as_list
    empty = {"timestamps": np.array([], dtype=np.int64), "values": np.array([])}
    assert encode_message(empty, sp.FLOAT_POINTS) == b""


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn ran), from the status store."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_filter_job_and_exchange_counts(spark, tmp_path):
    """Counters noise cannot move, over a store with one overlapping chunk:
    planning the scan opens the overlapping chunks without a Spark job, the
    served ReadFilter plan has no range-partition (global sort) exchange,
    and a whole ReadFilter request runs at most 2 jobs (the dedup shuffle
    and the Arrow collect)."""
    from influxdb_iox_spark.operators.series import read_filter
    from influxdb_iox_spark.rpc import InfluxRpc
    from influxdb_iox_spark.rpc_storage import StorageService

    schema = IoxSchema.build(["host"], {"usage": InfluxColumnType.FIELD_FLOAT})
    store = TableStore(str(tmp_path / "store"))
    cols = "host string, usage double, time long"
    store.write_chunk(
        spark.createDataFrame([("a", 1.0, NS), ("b", 2.0, NS + 1)], cols), "cpu", schema
    )
    store.write_chunk(  # overlaps the first chunk
        spark.createDataFrame([("a", 3.0, NS), ("c", 4.0, NS + 2)], cols), "cpu", schema
    )
    store.write_chunk(  # clean: later than both
        spark.createDataFrame([("a", 5.0, NS + 100)], cols), "cpu", schema
    )
    db = Database(DB_NAME, store, spark)
    db.register_table("cpu", schema)

    scanned, jobs = _jobs_run(spark, lambda: store.scan(spark, "cpu", schema))
    assert jobs == 0
    rows = scanned.select("host", "usage", "time").collect()
    assert sorted(tuple(r) for r in rows) == [
        ("a", 3.0, NS), ("a", 5.0, NS + 100), ("b", 2.0, NS + 1), ("c", 4.0, NS + 2),
    ]

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString().lower()

    served = InfluxRpc(db).read_filter_all()["cpu"]
    assert "rangepartitioning" not in plan(served)
    assert "rangepartitioning" in plan(read_filter(db, "cpu"))  # the sorted twin

    req = encode_message(
        {"read_source": _read_source(), "range": {"start": NS, "end": NS + 200}},
        sp.READ_FILTER_REQUEST,
    )
    service = StorageService({DB_NAME: db})
    out, jobs = _jobs_run(spark, lambda: list(service.call("ReadFilter", req)))
    assert jobs <= 2
    frames = [decode_message(m, sp.READ_RESPONSE)["frames"] for m in out]
    assert [f[1]["float_points"]["values"] for f in frames] == [[3.0, 5.0], [2.0], [4.0]]
