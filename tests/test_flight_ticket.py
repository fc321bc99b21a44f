"""The one ReadInfo ticket decoder behind both Flight transports
(pyarrow ``IoxFlightServer`` and the h2 ``GrpcH2Server``)."""

from __future__ import annotations

import pytest

from influxdb_iox_spark.rpc_flight import decode_read_info, flight_ticket


def test_round_trips_flight_ticket():
    assert decode_read_info(flight_ticket("db", "SELECT 1")) == ("db", "SELECT 1")


@pytest.mark.parametrize(
    "ticket, message",
    [
        (b"\xff", "invalid ticket"),
        (b"{", "invalid ticket"),
        # valid JSON that is not an object: a client error, not a crash
        (b"[1]", "must carry database_name and sql_query"),
        (b'"db"', "must carry database_name and sql_query"),
        (b'{"database_name": "db"}', "must carry database_name and sql_query"),
        (b'{"database_name": "", "sql_query": "x"}', "must carry"),
    ],
    ids=["not-utf8", "not-json", "json-array", "json-string", "no-sql", "empty-name"],
)
def test_rejects_malformed_tickets(ticket, message):
    with pytest.raises(ValueError, match=message):
        decode_read_info(ticket)
