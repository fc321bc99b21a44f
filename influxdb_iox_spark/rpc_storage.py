"""Storage-gRPC wire transport: the reference's Storage service served
over Arrow Flight DoAction with protobuf request/response payloads.

Reference: /root/reference/generated_types/protos/influxdata/platform/
storage/service.proto (the 11-RPC Storage service) routed exactly like
src/influxdb_ioxd/rpc/storage/service.rs:218-771.  grpcio is unavailable
here, but pyarrow's Flight server IS a gRPC server on a real socket — each
Storage RPC maps to a Flight action whose type is the RPC name and whose
body is the protobuf-encoded request (byte-compatible with the reference's
protos via the protowire codec); each streamed response message comes back
as one Flight Result payload, mirroring tonic's `stream ReadResponse`.

The TRUE tonic method paths
(``/influxdata.platform.storage.Storage/ReadFilter`` …) are also served,
by ``rpc_h2.GrpcH2Server`` — a hand-rolled h2c gRPC endpoint (RFC
7540/7541 in ``h2wire.py``) dispatching to this same StorageService, so
the wire surface a stock storage client dials exists without grpcio.

Semantics ported from service.rs:

- db routing: Any-wrapped ReadSource → org/bucket ids →
  ``{org:016x}_{bucket:016x}`` database name (input.rs:24-46, id.rs
  Display, data_types/src/names.rs org_and_bucket_to_database)
- ReadFilter/ReadGroup/ReadWindowAggregate stream one ReadResponse per
  series (data.rs series_set_item_to_read_response framing)
- TagKeys prepends \\x00 and appends \\xff pseudo-keys (data.rs:46-56)
- TagValues special-cases tag_key=\\x00 (measurement names; predicate →
  error, service.rs:482-492) and \\xff (field names, service.rs:504-525)
- ReadGroup rejects non-zero hints (service.rs:286-288); window aggregate
  requires exactly one Aggregate (expr.rs:31-33)
- ReadSeriesCardinality is unimplemented, like service.rs:560-566
- Capabilities returns the hard-coded map of service.rs:567-604
"""

from __future__ import annotations

try:
    import pyarrow.flight as _flight

    _FLIGHT_AVAILABLE = True
except ImportError:  # pragma: no cover - flight ships with our pyarrow
    _flight = None
    _FLIGHT_AVAILABLE = False

import pyarrow as pa

from influxdb_iox_spark import storage_proto as sp
from influxdb_iox_spark.database import Database
from influxdb_iox_spark.operators.series import Aggregate, frame_series
from influxdb_iox_spark.protowire import decode_message, encode_message
from influxdb_iox_spark.rpc import InfluxRpc

TAG_KEY_MEASUREMENT = b"\x00"
TAG_KEY_FIELD = b"\xff"

# service.rs:567-604 hard-coded capability list
CAPABILITIES = {
    "WindowAggregate": ["Count", "Sum", "Min", "Max", "Mean"],
    "Group": ["First", "Last", "Min", "Max"],
}


class StorageRpcError(Exception):
    pass


class StorageService:
    """Transport-independent request handling: protobuf request bytes in,
    iterator of protobuf response-message bytes out.  The Flight server
    below is a thin adapter; tests can call this directly for the
    contract battery without a socket."""

    def __init__(self, databases: dict[str, Database]):
        self.rpcs = {name: InfluxRpc(db) for name, db in databases.items()}

    # -- helpers ----------------------------------------------------------
    def _rpc(self, req: dict, field: str = "read_source") -> InfluxRpc:
        name = sp.read_source_db(req, field)
        rpc = self.rpcs.get(name)
        if rpc is None:
            raise StorageRpcError(f"database {name!r} not found")
        return rpc

    @staticmethod
    def _field_dtypes(rpc: InfluxRpc, table: str, df) -> dict[str, str]:
        schema = rpc.db.table_schema(table)
        dtypes = dict(df.dtypes)
        return {f: dtypes[f] for f in schema.field_columns if f in dtypes}

    _NUMERIC_ONLY_AGGS = frozenset({Aggregate.SUM, Aggregate.MEAN})
    _NUMERIC_DTYPES = frozenset({"double", "float", "bigint", "int"})

    def _agg_predicate(self, rpc: InfluxRpc, table: str, pred, agg):
        """Restrict the field projection to aggregate-compatible columns:
        SUM/MEAN are numeric-only (a boolean or string field would make the
        whole multi-measurement plan fail, exactly as sum(bool) errors in
        any SQL engine — the reference's planner likewise only aggregates
        fields valid for the aggregate).  Returns (predicate, has_fields)."""
        if agg not in self._NUMERIC_ONLY_AGGS:
            return pred, True
        import copy

        schema = rpc.db.table_schema(table)
        by_name = {f.name: f.dataType.simpleString() for f in schema.struct.fields}
        requested = (
            pred.field_columns if pred and pred.field_columns else schema.field_columns
        )
        fields = [
            f
            for f in requested
            if f in schema.field_columns and by_name.get(f) in self._NUMERIC_DTYPES
        ]
        if not fields:
            return pred, False
        if pred is None:
            from influxdb_iox_spark.plans.predicate import Predicate

            p = Predicate()
        else:
            p = copy.copy(pred)
        p.field_columns = fields
        return p, True

    def _series_responses(self, rpc, table, df, ordered_tags):
        """One encoded ReadResponse per series (data.rs framing)."""
        schema = rpc.db.table_schema(table)
        field_dtypes = self._field_dtypes(rpc, table, df)
        for sf in frame_series(df, table, ordered_tags, schema.time_column):
            frames = sp.series_to_frames(
                table, sf.tags, sf.rows, field_dtypes, schema.time_column
            )
            if frames:
                yield encode_message({"frames": frames}, sp.READ_RESPONSE)

    # -- the 11 RPCs ------------------------------------------------------
    def ReadFilter(self, body: bytes):
        req = decode_message(body, sp.READ_FILTER_REQUEST)
        rpc = self._rpc(req)
        pred = sp.request_predicate(req)
        for table, df in rpc.read_filter_all(pred).items():
            yield from self._series_responses(
                rpc, table, df, rpc.db.table_schema(table).tag_columns
            )

    def ReadGroup(self, body: bytes):
        req = decode_message(body, sp.READ_GROUP_REQUEST)
        if req.get("hints"):
            raise StorageRpcError(
                f"Unexpected hints value on read_group request: {req['hints']}"
            )
        rpc = self._rpc(req)
        pred = sp.request_predicate(req)
        group_keys = req.get("group_keys") or []
        # Group::None with grouping keys is a client error
        # (expr.rs:526-537 InvalidGroupNone)
        if req.get("group", sp.GROUP_NONE) == sp.GROUP_NONE and group_keys:
            raise StorageRpcError(
                f"Invalid group none with {len(group_keys)} group keys"
            )
        agg_msg = req.get("aggregate")
        agg = Aggregate(sp.AGG_NAMES[(agg_msg or {}).get("type", 0)])
        for t in sorted(rpc.db.schemas):
            if pred is not None and not pred.should_scan_table(t):
                continue
            schema = rpc.db.table_schema(t)
            table_pred, has_fields = self._agg_predicate(rpc, t, pred, agg)
            if not has_fields:
                continue  # no aggregate-compatible field in this table
            # a group key that is not a tag of a planned measurement fails
            # the whole request (influxrpc.rs:1265-1299 GroupColumnNotFound)
            keys = list(group_keys)
            missing = [g for g in keys if g not in schema.tag_columns]
            if missing:
                raise StorageRpcError(
                    f"group column '{missing[0]}' not found in tag columns: "
                    f"{', '.join(schema.tag_columns)} of table '{t}'"
                )
            df = rpc.read_group(t, agg, keys, table_pred)
            ordered = [*keys, *[c for c in schema.tag_columns if c not in keys]]
            field_dtypes = self._field_dtypes(rpc, t, df)
            last_group = object()
            for sf in frame_series(df, t, ordered, schema.time_column):
                gvals = tuple(sf.tags.get(k) for k in keys)
                if gvals != last_group:
                    last_group = gvals
                    yield encode_message(
                        {"frames": [sp.group_to_frame(keys, list(gvals))]},
                        sp.READ_RESPONSE,
                    )
                if agg is Aggregate.NONE:
                    frames = sp.series_to_frames(
                        t, sf.tags, sf.rows, field_dtypes, schema.time_column
                    )
                else:
                    frames = self._agg_series_frames(
                        t, sf, field_dtypes, agg, schema.time_column
                    )
                if frames:
                    yield encode_message({"frames": frames}, sp.READ_RESPONSE)

    @staticmethod
    def _agg_series_frames(table, sf, field_dtypes, agg, time_column):
        """Aggregated (one-point-per-series) framing: selector aggregates
        carry their own timestamp (<field>_time from the selector struct,
        selectors.rs (value,time) pairs); plain aggregates carry the shared
        agg(time)-as-MAX column the reference's plan emits
        (influxrpc.rs:1340-1359, make_agg_expr :1409-1423)."""
        frames = []
        first = sf.rows.slice(0, 1)
        row = first.to_pylist()[0]
        for fld, dtype in field_dtypes.items():
            if row.get(fld) is None:
                continue
            ts = row.get(f"{fld}_time")
            if ts is None:
                ts = row.get(time_column)  # shared max(time) of plain aggs
            point = pa.table(
                {
                    time_column: pa.array([ts if ts is not None else 0], pa.int64()),
                    fld: first.column(fld),
                }
            )
            frames.extend(
                sp.series_to_frames(table, sf.tags, point, {fld: dtype}, time_column)
            )
        return frames

    def ReadWindowAggregate(self, body: bytes):
        req = decode_message(body, sp.READ_WINDOW_AGGREGATE_REQUEST)
        rpc = self._rpc(req)
        pred = sp.request_predicate(req)
        aggs = req.get("aggregate") or []
        if len(aggs) != 1:
            raise StorageRpcError(
                f"Exactly one aggregate is supported, but {len(aggs)} were supplied"
            )
        agg = Aggregate(sp.AGG_NAMES[aggs[0].get("type", 0)])
        # Window resolution (expr.rs:546-590): the legacy nanosecond
        # WindowEvery/Offset fields take PRECEDENCE — a window message is
        # ignored when either is non-zero; the window message applies only
        # when both are zero, its `every` must be non-zero (ForbidZero);
        # and no window at all is a client error (EmptyWindow).
        window = req.get("window")
        legacy_every = req.get("window_every", 0)
        legacy_offset = req.get("offset", 0)
        months = None
        if legacy_every or legacy_offset:
            every_ns, offset_ns = legacy_every, legacy_offset
        elif window:
            ev = window.get("every") or {}
            off = window.get("offset") or {}
            if ev.get("months"):
                months = ev["months"] * (-1 if ev.get("negative") else 1)
                off_months = off.get("months", 0) * (
                    -1 if off.get("negative") else 1
                )
            else:
                every_ns = ev.get("nsecs", 0)
                offset_ns = off.get("nsecs", 0)
                if not every_ns:
                    raise StorageRpcError(
                        "window every duration must be greater than zero"
                    )
        else:
            raise StorageRpcError(
                "window aggregate request with no window specified"
            )
        for t in sorted(rpc.db.schemas):
            if pred is not None and not pred.should_scan_table(t):
                continue
            table_pred, has_fields = self._agg_predicate(rpc, t, pred, agg)
            if not has_fields:
                continue  # no aggregate-compatible field in this table
            if months is not None:
                df = rpc.read_window_aggregate_months(
                    t, agg, months, off_months, table_pred
                )
            else:
                df = rpc.read_window_aggregate(
                    t, agg, every_ns, offset_ns, table_pred
                )
            yield from self._series_responses(
                rpc, t, df, rpc.db.table_schema(t).tag_columns
            )

    def TagKeys(self, body: bytes):
        req = decode_message(body, sp.TAG_KEYS_REQUEST)
        rpc = self._rpc(req, "tags_source")
        pred = sp.request_predicate(req)
        keys = rpc.tag_keys_all(pred)
        yield encode_message(
            {"values": sp.tag_keys_to_byte_vecs(keys)}, sp.STRING_VALUES_RESPONSE
        )

    def TagValues(self, body: bytes):
        req = decode_message(body, sp.TAG_VALUES_REQUEST)
        rpc = self._rpc(req, "tags_source")
        pred = sp.request_predicate(req)
        tag_key = req.get("tag_key", b"")
        if tag_key == TAG_KEY_MEASUREMENT:
            # service.rs:482-492: measurement-names mode refuses a general
            # predicate (the range is allowed)
            if (req.get("predicate") or {}).get("root"):
                raise StorageRpcError(
                    "tag_value for a measurement, with general predicate"
                )
            values = rpc.table_names(pred)
        elif tag_key == TAG_KEY_FIELD:
            names: set[str] = set()
            for t in sorted(rpc.db.schemas):
                if pred is not None and not pred.should_scan_table(t):
                    continue
                names.update(f["name"] for f in rpc.field_columns(t, pred))
            values = sorted(names)
        else:
            values = rpc.tag_values_all(tag_key.decode("utf-8"), pred)
        yield encode_message(
            {"values": [v.encode() for v in values]}, sp.STRING_VALUES_RESPONSE
        )

    def MeasurementNames(self, body: bytes):
        req = decode_message(body, sp.MEASUREMENT_NAMES_REQUEST)
        rpc = self._rpc(req, "source")
        pred = sp.request_predicate(req)
        yield encode_message(
            {"values": [t.encode() for t in rpc.table_names(pred)]},
            sp.STRING_VALUES_RESPONSE,
        )

    def MeasurementTagKeys(self, body: bytes):
        req = decode_message(body, sp.MEASUREMENT_TAG_KEYS_REQUEST)
        rpc = self._rpc(req, "source")
        pred = sp.request_predicate(req)
        keys = rpc.tag_keys(req["measurement"], pred)
        yield encode_message(
            {"values": sp.tag_keys_to_byte_vecs(keys)}, sp.STRING_VALUES_RESPONSE
        )

    def MeasurementTagValues(self, body: bytes):
        req = decode_message(body, sp.MEASUREMENT_TAG_VALUES_REQUEST)
        rpc = self._rpc(req, "source")
        pred = sp.request_predicate(req)
        values = rpc.tag_values(req["measurement"], req["tag_key"], pred)
        yield encode_message(
            {"values": [v.encode() for v in values]}, sp.STRING_VALUES_RESPONSE
        )

    def MeasurementFields(self, body: bytes):
        req = decode_message(body, sp.MEASUREMENT_FIELDS_REQUEST)
        rpc = self._rpc(req, "source")
        pred = sp.request_predicate(req)
        table = req["measurement"]
        fields = rpc.field_columns(table, pred)
        yield encode_message(
            {
                "fields": [
                    {
                        "key": f["name"],
                        "type": sp.spark_field_type(f["data_type"]),
                        "timestamp": f["last_timestamp"],
                    }
                    for f in fields
                ]
            },
            sp.MEASUREMENT_FIELDS_RESPONSE,
        )

    def ReadSeriesCardinality(self, body: bytes):
        """BEYOND the reference (service.rs:560-566 is unimplemented!):
        streams one Int64ValuesResponse with the bucket-wide series count
        — the number of SeriesFrames a read_filter with the same
        predicate would return (semantics on metadata.series_cardinality)."""
        req = decode_message(body, sp.READ_SERIES_CARDINALITY_REQUEST)
        rpc = self._rpc(req, "read_series_cardinality_source")
        pred = sp.request_predicate(req)
        yield encode_message(
            {"values": [rpc.series_cardinality(pred)]}, sp.INT64_VALUES_RESPONSE
        )

    def Capabilities(self, body: bytes):
        yield encode_message(
            {
                "caps": [
                    {"key": k, "value": {"features": v}}
                    for k, v in CAPABILITIES.items()
                ]
            },
            sp.CAPABILITIES_RESPONSE,
        )

    RPC_NAMES = (
        "ReadFilter",
        "ReadGroup",
        "ReadWindowAggregate",
        "TagKeys",
        "TagValues",
        "ReadSeriesCardinality",
        "Capabilities",
        "MeasurementNames",
        "MeasurementTagKeys",
        "MeasurementTagValues",
        "MeasurementFields",
    )

    def call(self, rpc_name: str, body: bytes):
        if rpc_name not in self.RPC_NAMES:
            raise StorageRpcError(f"unknown storage RPC {rpc_name!r}")
        return getattr(self, rpc_name)(body)


if _FLIGHT_AVAILABLE:

    class StorageFlightServer(_flight.FlightServerBase):
        """The Storage service on a real gRPC socket (Flight DoAction).

        ``list_actions`` advertises the 11 RPCs; ``do_action`` routes
        ``action.type`` (the RPC name) to StorageService and streams each
        protobuf response message as one Result payload."""

        def __init__(
            self,
            databases: dict[str, Database],
            location: str = "grpc://127.0.0.1:0",
        ):
            super().__init__(location)
            self.service = StorageService(databases)

        def list_actions(self, context):
            return [(name, f"storage.Storage/{name}") for name in StorageService.RPC_NAMES]

        def do_action(self, context, action):
            try:
                yield from self.service.call(
                    action.type, action.body.to_pybytes()
                )
            except StorageRpcError as e:
                raise _flight.FlightServerError(str(e)) from e

    class StorageClient:
        """Minimal client: encodes requests, calls the gRPC action, decodes
        the streamed responses (the test-side of the contract)."""

        def __init__(self, port: int, host: str = "127.0.0.1"):
            self._client = _flight.connect(f"grpc://{host}:{port}")

        def call_raw(self, rpc_name: str, body: bytes) -> list[bytes]:
            action = _flight.Action(rpc_name, body)
            return [r.body.to_pybytes() for r in self._client.do_action(action)]

        def call(self, rpc_name: str, request: dict, req_schema, resp_schema) -> list[dict]:
            out = self.call_raw(rpc_name, encode_message(request, req_schema))
            return [decode_message(b, resp_schema) for b in out]

        def close(self):
            self._client.close()
