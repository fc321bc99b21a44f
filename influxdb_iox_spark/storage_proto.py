"""Storage-gRPC message schemas + converters (wire ↔ engine types).

Byte-faithful descriptors for the reference's storage API protos:

- /root/reference/generated_types/protos/influxdata/platform/storage/
  predicate.proto (Node/Predicate trees)
- .../storage_common.proto (requests, ReadResponse frames, string sets)
- .../storage_common_idpe.proto (ReadSeriesCardinality, Int64Values)
- .../com/github/influxdata/idpe/storage/read/source.proto (ReadSource)

plus the converters the reference implements in
src/influxdb_ioxd/rpc/storage/expr.rs (wire Node tree → query predicate;
here → the dict tree plans/rpc_expr.py already translates) and data.rs
(series → ReadResponse frames, with the _measurement/_field pseudo-tags).
"""

from __future__ import annotations

import pyarrow as pa

from influxdb_iox_spark.protowire import Field, decode_message, encode_message

# -- predicate.proto --------------------------------------------------------

# Node is recursive: build the dict then patch the self-reference.
NODE: dict[int, Field] = {}
NODE.update(
    {
        1: Field("node_type", "enum"),
        2: Field("children", "message", NODE, repeated=True),
        3: Field("string_value", "string"),
        4: Field("bool_value", "bool"),
        5: Field("int_value", "int64"),
        6: Field("uint_value", "uint64"),
        7: Field("float_value", "double"),
        8: Field("regex_value", "string"),
        9: Field("tag_ref_value", "bytes"),
        10: Field("field_ref_value", "string"),
        11: Field("logical", "enum"),
        12: Field("comparison", "enum"),
    }
)

PREDICATE = {1: Field("root", "message", NODE)}

# Node.Type / Node.Comparison / Node.Logical enums (predicate.proto:11-37)
NT_LOGICAL, NT_COMPARISON, NT_PAREN, NT_TAG_REF, NT_LITERAL, NT_FIELD_REF = range(6)
(
    CMP_EQUAL,
    CMP_NOT_EQUAL,
    CMP_STARTS_WITH,
    CMP_REGEX,
    CMP_NOT_REGEX,
    CMP_LT,
    CMP_LTE,
    CMP_GT,
    CMP_GTE,
) = range(9)
LOGICAL_AND, LOGICAL_OR = 0, 1

# -- common sub-messages ----------------------------------------------------

ANY = {1: Field("type_url", "string"), 2: Field("value", "bytes")}
READ_SOURCE = {
    1: Field("org_id", "uint64"),
    2: Field("bucket_id", "uint64"),
    3: Field("partition_id", "uint64"),
}
TIMESTAMP_RANGE = {1: Field("start", "int64"), 2: Field("end", "int64")}
AGGREGATE = {1: Field("type", "enum")}
DURATION = {
    1: Field("nsecs", "int64"),
    2: Field("months", "int64"),
    3: Field("negative", "bool"),
}
WINDOW = {
    1: Field("every", "message", DURATION),
    2: Field("offset", "message", DURATION),
}

# Aggregate.AggregateType (storage_common.proto:55-67) → engine Aggregate
AGG_NAMES = ["none", "sum", "count", "min", "max", "first", "last", "mean"]

# -- requests (storage_common.proto / storage_common_idpe.proto) ------------

READ_FILTER_REQUEST = {
    1: Field("read_source", "message", ANY),
    2: Field("range", "message", TIMESTAMP_RANGE),
    3: Field("predicate", "message", PREDICATE),
}
READ_GROUP_REQUEST = {
    1: Field("read_source", "message", ANY),
    2: Field("range", "message", TIMESTAMP_RANGE),
    3: Field("predicate", "message", PREDICATE),
    4: Field("group_keys", "string", repeated=True),
    5: Field("group", "enum"),
    6: Field("aggregate", "message", AGGREGATE),
    7: Field("hints", "fixed32"),
}
GROUP_NONE, GROUP_BY = 0, 2

READ_WINDOW_AGGREGATE_REQUEST = {
    1: Field("read_source", "message", ANY),
    2: Field("range", "message", TIMESTAMP_RANGE),
    3: Field("predicate", "message", PREDICATE),
    4: Field("window_every", "int64"),
    5: Field("aggregate", "message", AGGREGATE, repeated=True),
    6: Field("offset", "int64"),
    7: Field("window", "message", WINDOW),
}
TAG_KEYS_REQUEST = {
    1: Field("tags_source", "message", ANY),
    2: Field("range", "message", TIMESTAMP_RANGE),
    3: Field("predicate", "message", PREDICATE),
}
TAG_VALUES_REQUEST = {
    1: Field("tags_source", "message", ANY),
    2: Field("range", "message", TIMESTAMP_RANGE),
    3: Field("predicate", "message", PREDICATE),
    4: Field("tag_key", "bytes"),
}
MEASUREMENT_NAMES_REQUEST = {
    1: Field("source", "message", ANY),
    2: Field("range", "message", TIMESTAMP_RANGE),
    3: Field("predicate", "message", PREDICATE),
}
MEASUREMENT_TAG_KEYS_REQUEST = {
    1: Field("source", "message", ANY),
    2: Field("measurement", "string"),
    3: Field("range", "message", TIMESTAMP_RANGE),
    4: Field("predicate", "message", PREDICATE),
}
MEASUREMENT_TAG_VALUES_REQUEST = {
    1: Field("source", "message", ANY),
    2: Field("measurement", "string"),
    3: Field("tag_key", "string"),
    4: Field("range", "message", TIMESTAMP_RANGE),
    5: Field("predicate", "message", PREDICATE),
}
MEASUREMENT_FIELDS_REQUEST = {
    1: Field("source", "message", ANY),
    2: Field("measurement", "string"),
    3: Field("range", "message", TIMESTAMP_RANGE),
    4: Field("predicate", "message", PREDICATE),
}
READ_SERIES_CARDINALITY_REQUEST = {
    1: Field("read_series_cardinality_source", "message", ANY),
    2: Field("range", "message", TIMESTAMP_RANGE),
    3: Field("predicate", "message", PREDICATE),
}

# -- responses --------------------------------------------------------------

STRING_VALUES_RESPONSE = {1: Field("values", "bytes", repeated=True)}
INT64_VALUES_RESPONSE = {1: Field("values", "int64", repeated=True)}

TAG = {1: Field("key", "bytes"), 2: Field("value", "bytes")}
GROUP_FRAME = {
    1: Field("tag_keys", "bytes", repeated=True),
    2: Field("partition_key_vals", "bytes", repeated=True),
}
SERIES_FRAME = {
    1: Field("tags", "message", TAG, repeated=True),
    2: Field("data_type", "enum"),
}
_POINTS = lambda kind: {  # noqa: E731 — tiny schema factory
    1: Field("timestamps", "sfixed64", repeated=True),
    2: Field("values", kind, repeated=True),
}
FLOAT_POINTS = _POINTS("double")
INTEGER_POINTS = _POINTS("int64")
UNSIGNED_POINTS = _POINTS("uint64")
BOOLEAN_POINTS = _POINTS("bool")
STRING_POINTS = _POINTS("string")

FRAME = {
    7: Field("group", "message", GROUP_FRAME),
    1: Field("series", "message", SERIES_FRAME),
    2: Field("float_points", "message", FLOAT_POINTS),
    3: Field("integer_points", "message", INTEGER_POINTS),
    4: Field("unsigned_points", "message", UNSIGNED_POINTS),
    5: Field("boolean_points", "message", BOOLEAN_POINTS),
    6: Field("string_points", "message", STRING_POINTS),
}
READ_RESPONSE = {1: Field("frames", "message", FRAME, repeated=True)}

# ReadResponse.DataType (storage_common.proto:84-90)
DT_FLOAT, DT_INTEGER, DT_UNSIGNED, DT_BOOLEAN, DT_STRING = range(5)

MESSAGE_FIELD = {
    1: Field("key", "string"),
    2: Field("type", "enum"),
    3: Field("timestamp", "sfixed64"),
}
MEASUREMENT_FIELDS_RESPONSE = {
    1: Field("fields", "message", MESSAGE_FIELD, repeated=True)
}
# MeasurementFieldsResponse.FieldType (storage_common.proto:224-231)
FT_FLOAT, FT_INTEGER, FT_UNSIGNED, FT_STRING, FT_BOOLEAN, FT_UNDEFINED = range(6)

CAPABILITY = {1: Field("features", "string", repeated=True)}
_CAPS_ENTRY = {1: Field("key", "string"), 2: Field("value", "message", CAPABILITY)}
CAPABILITIES_RESPONSE = {1: Field("caps", "message", _CAPS_ENTRY, repeated=True)}

# -- converters: wire Node tree → rpc_expr dict tree ------------------------

_CMP_OPS = {
    CMP_EQUAL: "eq",
    CMP_NOT_EQUAL: "not_eq",
    CMP_LT: "lt",
    CMP_LTE: "lte",
    CMP_GT: "gt",
    CMP_GTE: "gte",
    CMP_REGEX: "regex_match",
    CMP_NOT_REGEX: "not_regex_match",
    CMP_STARTS_WITH: "starts_with",  # rejected downstream, like the reference
}


def node_to_dict(node: dict) -> dict:
    """Wire Node → the dict tree plans/rpc_expr.py translates (the expr.rs
    AddRpcNode equivalent).  Paren nodes unwrap; literal oneof collapses to
    a single value; tag refs decode latin-1 so the \\x00/\\xff pseudo-tag
    key bytes survive as the one-char strings rpc_expr matches on."""
    nt = node.get("node_type", 0)
    if nt == NT_PAREN:
        children = node.get("children") or []
        if len(children) != 1:
            raise ValueError("paren expression must have exactly one child")
        return node_to_dict(children[0])
    if nt == NT_TAG_REF:
        return {
            "node_type": "tag_ref",
            "value": (node.get("tag_ref_value") or b"").decode("latin-1"),
        }
    if nt == NT_FIELD_REF:
        return {"node_type": "field_ref", "value": node.get("field_ref_value", "")}
    if nt == NT_LITERAL:
        if node.get("regex_value"):
            return {"node_type": "regex", "value": node["regex_value"]}
        for key in ("string_value", "int_value", "uint_value", "float_value"):
            v = node.get(key)
            if v:  # proto3 cannot distinguish absent from zero — same as ref
                return {"node_type": "literal", "value": v}
        if node.get("bool_value"):
            return {"node_type": "literal", "value": True}
        # all-defaults literal: zero/empty — pick int 0 deterministically
        return {"node_type": "literal", "value": 0}
    if nt == NT_COMPARISON:
        op = _CMP_OPS.get(node.get("comparison", 0))
        return {
            "node_type": "comparison",
            "op": op,
            "children": [node_to_dict(c) for c in node.get("children") or []],
        }
    if nt == NT_LOGICAL:
        op = "and" if node.get("logical", 0) == LOGICAL_AND else "or"
        return {
            "node_type": "logical",
            "op": op,
            "children": [node_to_dict(c) for c in node.get("children") or []],
        }
    raise ValueError(f"unknown wire node type {nt}")


def request_predicate(req: dict):
    """Range + predicate of a decoded request → engine Predicate
    (input.rs + expr.rs composition)."""
    from influxdb_iox_spark.plans.predicate import Predicate
    from influxdb_iox_spark.plans.rpc_expr import rpc_predicate_to_predicate

    pred = Predicate()
    rng = req.get("range")
    if rng and (rng.get("start") or rng.get("end")):
        pred.with_range(rng.get("start", 0), rng.get("end", 0))
    wire_pred = req.get("predicate")
    root = wire_pred.get("root") if wire_pred else None
    if root is not None:
        pred = rpc_predicate_to_predicate(node_to_dict(root), pred)
    return pred


def read_source_db(req: dict, field: str = "read_source") -> str:
    """org_id-bucket_id database name from the request's Any-wrapped
    ReadSource (input.rs:24-46; the reference renders org/bucket ids)."""
    any_msg = req.get(field)
    if not any_msg or not any_msg.get("value"):
        return ""
    src = decode_message(any_msg["value"], READ_SOURCE)
    return f"{src.get('org_id', 0):016x}_{src.get('bucket_id', 0):016x}"


def make_read_source(org_id: int, bucket_id: int, partition_id: int = 0) -> dict:
    """Any-wrapped ReadSource for building requests (test/client side)."""
    value = encode_message(
        {"org_id": org_id, "bucket_id": bucket_id, "partition_id": partition_id},
        READ_SOURCE,
    )
    return {
        "type_url": "type.googleapis.com/com.github.influxdata.idpe.storage.read.ReadSource",
        "value": value,
    }


# -- converters: series → ReadResponse frames (data.rs) ---------------------

_SPARK_DT = {
    "double": (DT_FLOAT, "float_points"),
    "float": (DT_FLOAT, "float_points"),
    "bigint": (DT_INTEGER, "integer_points"),
    "int": (DT_INTEGER, "integer_points"),
    "boolean": (DT_BOOLEAN, "boolean_points"),
    "string": (DT_STRING, "string_points"),
}

_SPARK_FT = {
    "double": FT_FLOAT,
    "float": FT_FLOAT,
    "bigint": FT_INTEGER,
    "int": FT_INTEGER,
    "boolean": FT_BOOLEAN,
    "string": FT_STRING,
}


def spark_field_type(dtype: str) -> int:
    return _SPARK_FT.get(dtype, FT_UNDEFINED)


def series_to_frames(
    table: str,
    tags: dict[str, str],
    rows: pa.Table,
    field_dtypes: dict[str, str],
    time_column: str = "time",
) -> list[dict]:
    """One series (``rows``: its Arrow rows in time order) → [SeriesFrame,
    PointsFrame] per non-all-null field (data.rs:58-77 series_set_to_frames
    + :145-220 field_to_data).

    Tags gain the _field/_measurement pseudo-tags first, exactly like
    convert_tags (data.rs:226-251); an all-null field contributes no
    frames (data.rs:160-165).  Timestamps and float values stay NumPy
    arrays, which ``encode_message`` packs without a per-point loop."""
    frames: list[dict] = []
    times = rows.column(time_column)
    for fld, dtype in field_dtypes.items():
        values = rows.column(fld)
        if values.null_count == len(values):
            continue  # all-null field: contributes no series (data.rs:160)
        timestamps = times
        if values.null_count:
            valid = values.is_valid()
            values, timestamps = values.filter(valid), times.filter(valid)
        dt, points_key = _SPARK_DT[dtype]
        wire_tags = [
            {"key": b"_field", "value": fld.encode()},
            {"key": b"_measurement", "value": table.encode()},
        ] + [
            {"key": k.encode(), "value": str(v).encode()}
            for k, v in tags.items()
            if v is not None
        ]
        frames.append({"series": {"tags": wire_tags, "data_type": dt}})
        frames.append(
            {
                points_key: {
                    "timestamps": timestamps.to_numpy(),
                    "values": values.to_numpy()
                    if points_key == "float_points"
                    else values.to_pylist(),
                }
            }
        )
    return frames


def group_to_frame(tag_keys: list[str], partition_key_vals: list[str]) -> dict:
    """GroupFrame (data.rs:106-122 group_description_to_frames)."""
    return {
        "group": {
            "tag_keys": [k.encode() for k in tag_keys],
            "partition_key_vals": [
                (v if v is not None else "").encode() for v in partition_key_vals
            ],
        }
    }


def tag_keys_to_byte_vecs(keys: list[str]) -> list[bytes]:
    """Add the \\x00 (_measurement) / \\xff (_field) pseudo-keys in their
    canonical first/last sort positions (data.rs:46-56)."""
    return [b"\x00", *[k.encode() for k in keys], b"\xff"]
