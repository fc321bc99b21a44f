"""Arrow Flight do_get: SQL in a ticket, record batches out.

Reference: /root/reference/src/influxdb_ioxd/rpc/flight.rs — the Ticket body
is JSON ``{"database_name": ..., "sql_query": ...}`` (:113-118 ReadInfo);
``do_get`` (:158-211) plans the SQL, executes, and streams the result as a
schema message followed by record batches.

Spark-first: the query runs through ``Database.query`` (the dedup-correct
SQL surface); the result ships as Arrow via ``DataFrame.toArrow`` into
pyarrow's Flight server, which handles the IPC framing the reference builds
by hand.  Like the reference (its TODO at :157), results are collected then
streamed — the transport is the client-facing data plane, not an intra-query
exchange.
"""

from __future__ import annotations

import json

try:
    import pyarrow.flight as _flight

    _FLIGHT_AVAILABLE = True
except ImportError:  # pragma: no cover - flight is compiled into our pyarrow
    _flight = None
    _FLIGHT_AVAILABLE = False

from influxdb_iox_spark.database import Database

if _FLIGHT_AVAILABLE:

    class IoxFlightServer(_flight.FlightServerBase):
        """Single-database Flight endpoint (grpc://host:port, port 0 = pick)."""

        def __init__(
            self,
            database: Database,
            db_name: str = "org_bucket",
            location: str = "grpc://127.0.0.1:0",
        ):
            super().__init__(location)
            self.database = database
            self.db_name = db_name

        def do_get(self, context, ticket):
            return serve_sql_ticket(
                ticket, lambda name: self.database if name == self.db_name else None
            )


def decode_read_info(ticket: bytes) -> tuple[str, str]:
    """``(database_name, sql)`` of a JSON ReadInfo ticket body; a ticket
    that is not such a body raises ``ValueError``."""
    try:
        info = json.loads(ticket.decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError) as e:
        raise ValueError(f"invalid ticket: {e}") from e
    name = sql = None
    if isinstance(info, dict):
        name, sql = info.get("database_name"), info.get("sql_query")
    if not name or sql is None:
        raise ValueError("ticket must carry database_name and sql_query")
    return name, sql


def serve_sql_ticket(ticket, lookup):
    """Flight ``do_get`` body: decode the JSON ReadInfo ticket, resolve
    its database through ``lookup`` (name → Database or None), run the
    SQL and stream the result."""
    try:
        name, sql = decode_read_info(ticket.ticket)
    except ValueError as e:
        raise _flight.FlightServerError(str(e)) from e
    database = lookup(name)
    if database is None:
        raise _flight.FlightUnavailableError(f"database {name!r} not found")
    return _flight.RecordBatchStream(database.query(sql).toArrow())


def flight_ticket(database_name: str, sql_query: str) -> bytes:
    """Serialize the reference's ReadInfo ticket body (flight.rs:113-118)."""
    return json.dumps(
        {"database_name": database_name, "sql_query": sql_query}
    ).encode("utf-8")
