"""The HTTP write and query API: the reference's most-used entry points
as a stdlib server over ``LineProtocolIngest`` + ``Database.query``.

Reference: /root/reference/src/influxdb_ioxd/http.rs —
routes :364-370 (``POST /api/v2/write``, ``GET /health``,
``GET /iox/api/v1/databases/:name/query``), write handler :462-560
(org+bucket → db name via ``org_bucket``, body = line protocol, optional
gzip, points without timestamps get server wall-clock ns, 204 on success),
query handler :595-660 (``q`` + ``format`` ∈ {pretty, csv, json}).  Like
the reference's router, every route resolves its database per request.

``IoxHttpServer`` is the one server: it defines every route, and serves
one fixed database.  ``rpc_management.IoxMultiDbHttpServer`` serves an
IoxServer's live database set by overriding only the three database
hooks (lookup by name, the name list, the write/delete commit).

Spark-first notes: the handler only *routes* — parsing and ingest run as
the same distributed ``mapInArrow`` pipeline as every other ingest path, and
queries run through the dedup-correct SQL surface.  The stdlib
ThreadingHTTPServer is deliberate: the server is a thin control plane in
front of Spark jobs, not a data plane (Flight/gRPC data planes are out of
scope, SURVEY §2.1).
"""

from __future__ import annotations

import gzip
import io
import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from influxdb_iox_spark.database import Database
from influxdb_iox_spark.sources.line_protocol import LineProtocolError
from influxdb_iox_spark.streaming.ingest import LineProtocolIngest, commit_lines


QUERY_FORMATS = ("json", "csv", "pretty")


def org_and_bucket_to_database(org: str, bucket: str) -> str:
    """http.rs write path: db name = '<org>_<bucket>'."""
    return f"{org}_{bucket}"


class IoxHttpServer:
    """The HTTP API over one fixed database.

    ``ingests`` maps measurement name → LineProtocolIngest; a write request
    fans its lines out to every registered measurement's ingest (the
    distributed parser routes/filters per measurement).  Lines of
    unregistered measurements are ignored, mirroring a schema-gated
    deployment; malformed lines fail the request with 400.

    Routes reach databases only through the hooks ``_database``,
    ``_database_names``, ``_commit_write`` and ``_commit_delete``;
    ``db_name`` is the database a db-less v1 request selects.
    """

    #: query results beyond this many rows get a 413 instead of an
    #: unbounded driver collect (see handle_query)
    DEFAULT_MAX_ROWS = 10_000

    def __init__(
        self,
        database: Database,
        ingests: dict[str, LineProtocolIngest],
        db_name: str = "org_bucket",
        max_rows: int = DEFAULT_MAX_ROWS,
        users: dict[str, str] | None = None,
    ):
        self.database = database
        self.ingests = dict(ingests)
        # The store's manifest append / chunk-id allocation are single-writer
        # (atomic-rename safe against crashes, not concurrent writers), so
        # writes from the threaded HTTP server serialize here.
        self._write_lock = threading.Lock()
        self._init_api(database.spark, db_name, max_rows, users)

    def _init_api(
        self, spark, db_name: str | None, max_rows: int,
        users: dict[str, str] | None,
    ) -> None:
        self.db_name = db_name
        self.max_rows = max_rows
        #: user -> password; None = anonymous access (reference default).
        #: When set, /query /write and the v2 data routes require matching
        #: u/p params, HTTP Basic, or 1.8 Token credentials (401 otherwise);
        #: /health /ping /metrics stay open like stock.  Pass an
        #: auth.UserRegistry instead of a plain dict to additionally get
        #: stock per-statement privileges + the user-management statements
        #: (CREATE USER / GRANT / …); a plain dict keeps the pre-registry
        #: behavior (any authenticated user can do everything).
        self.users = users
        self.registry = users if hasattr(users, "create_user") else None
        # SHOW QUERIES / KILL QUERY: job-group-backed live-query registry
        from influxdb_iox_spark.query_tracker import QueryTracker
        from influxdb_iox_spark.subscriptions import SubscriptionRegistry

        self.tracker = QueryTracker(spark)
        # CREATE/DROP/SHOW SUBSCRIPTION + async best-effort forwarding of
        # accepted writes (subscriptions.py)
        self.subscriptions = SubscriptionRegistry()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        # Prometheus-style counters, the surface of the reference's
        # GET /metrics route (src/influxdb_ioxd/http.rs:366,678 and the
        # ingest counter family server/src/lib.rs:336-400).  ingest_*
        # count only ACCEPTED writes (the reference increments success
        # counters after the write lands); http_requests_total is labeled
        # by (path, status).
        self.metrics: dict[str, int] = {
            "ingest_lines_total": 0,
            "ingest_points_bytes_total": 0,
        }
        self.request_counts: dict[tuple[str, int], int] = {}
        self._metrics_lock = threading.Lock()  # handler threads write concurrently

    # -- database hooks ----------------------------------------------------
    def _database(self, name: str | None) -> Database | None:
        """The Database called ``name``, or None."""
        return self.database if name == self.db_name else None

    def _database_names(self) -> list[str]:
        """Every database name (SHOW DATABASES, DDL targets)."""
        return [self.db_name]

    def _commit_write(self, name: str, text: str) -> int:
        """Commit ns line protocol to database ``name`` all-or-nothing;
        returns the number of lines written."""
        lines = [(ln,) for ln in text.splitlines() if ln.strip()]
        if lines:
            lines_df = self.database.spark.createDataFrame(lines, "value string")
            with self._write_lock:
                commit_lines(self.ingests.values(), lines_df)
        return len(lines)

    def _commit_delete(self, name: str, tables: list[str], dp) -> None:
        """Apply DeletePredicate ``dp`` to ``tables`` of database ``name``."""
        with self._write_lock:
            for t in tables:
                self.database.store.delete_predicate(t, dp)

    # -- lifecycle ---------------------------------------------------------
    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Start serving on a daemon thread; returns the bound port."""
        handler = _make_handler(self)
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        self.subscriptions.stop()

    # -- handlers ----------------------------------------------------------
    #: write-API precision units -> ns multiplier (v1 /write precision
    #: and v2 /api/v2/write precision share the same menu)
    PRECISION_NS = {
        "ns": 1, "n": 1, "u": 1_000, "us": 1_000, "µ": 1_000,
        "ms": 1_000_000, "s": 1_000_000_000,
        "m": 60 * 1_000_000_000, "h": 3_600 * 1_000_000_000,
    }

    def handle_write(
        self, org: str, bucket: str, body: bytes,
        precision: str | None = None,
    ) -> None:
        name = org_and_bucket_to_database(org, bucket)
        self._do_write(name, body, precision)

    def handle_write_v1(
        self, db: str | None, body: bytes, precision: str | None = None
    ) -> None:
        """POST /write?db=...&precision=... — the InfluxDB 1.x write API
        every 1.x client library targets; same all-or-nothing ingest as
        the v2 route, timestamps scaled from the requested precision."""
        if not db:
            raise _HttpError(400, "db parameter is required")
        self._do_write(db, body, precision)

    def _do_write(
        self, name: str, body: bytes, precision: str | None = None
    ) -> None:
        if self._database(name) is None:
            raise _HttpError(404, f"database {name!r} not found")
        factor = self.PRECISION_NS.get(precision or "ns")
        if factor is None:
            raise _HttpError(400, f"invalid precision {precision!r}")
        if factor != 1:
            # ns text from here on: the commit, write-buffer replicas,
            # shard forwarding and subscribers all see what is stored
            body = _scale_lp_timestamps(body, factor, time.time_ns())
        n = self._commit_write(name, body.decode("utf-8"))
        with self._metrics_lock:
            self.metrics["ingest_lines_total"] += n
            self.metrics["ingest_points_bytes_total"] += len(body)
        # accepted (no exception) -> mirror to subscribers, O(1) enqueue
        self.subscriptions.notify_write(name, body)

    def handle_delete(self, org: str, bucket: str, body: bytes) -> None:
        """POST /api/v2/delete — the public InfluxDB 2 delete API: JSON
        body ``{"start": RFC3339, "stop": RFC3339, "predicate":
        'tag="v" AND ...'}``.  ``_measurement`` conjuncts select target
        tables (``=`` picks, ``!=`` excludes); without one, the delete
        applies to every registered table, exactly like the platform
        API.  Start/stop are REQUIRED (the API's contract — an unbounded
        delete must be spelled out as a full-range one)."""
        from influxdb_iox_spark.plans.predicate import DeletePredicate

        name = org_and_bucket_to_database(org, bucket)
        database = self._database(name)
        if database is None:
            raise _HttpError(404, f"database {name!r} not found")
        try:
            doc = json.loads(body.decode("utf-8"))
        except (UnicodeDecodeError, json.JSONDecodeError) as e:
            raise _HttpError(400, f"invalid JSON body: {e}")
        start = _rfc3339_ns(doc.get("start"), "start")
        stop = _rfc3339_ns(doc.get("stop"), "stop")
        try:
            dp = DeletePredicate.parse(doc.get("predicate") or "", start=start, stop=stop)
        except ValueError as e:
            raise _HttpError(400, f"invalid predicate: {e}")
        picked = {
            e.value for e in dp.exprs if e.column == "_measurement" and e.op == "="
        }
        excluded = {
            e.value for e in dp.exprs if e.column == "_measurement" and e.op == "!="
        }
        rest = [e for e in dp.exprs if e.column != "_measurement"]
        dp = DeletePredicate(start=start, stop=stop, exprs=rest)
        # CONJUNCTION semantics (a row has ONE measurement): two distinct
        # `_measurement =` conjuncts match no row at all, and a picked
        # measurement that is also excluded cancels — deleting from the
        # union instead would destroy rows the predicate never matched
        if len(picked) > 1:
            tables: list[str] = []
        elif picked:
            tables = sorted(picked - excluded)
        else:
            tables = [t for t in sorted(database.schemas) if t not in excluded]
        unknown = [t for t in tables if t not in database.schemas]
        if unknown:
            raise _HttpError(404, f"measurement(s) not found: {unknown}")
        self._commit_delete(name, tables, dp)

    def render_metrics(self) -> bytes:
        """Prometheus text exposition of the server counters + the store's
        pruning access metrics (GET /metrics, http.rs:678 handle_metrics)."""
        label = f'{{db_name="{self.db_name}"}}' if self.db_name else ""
        out = []
        with self._metrics_lock:
            metrics = sorted(self.metrics.items())
            request_counts = sorted(self.request_counts.items())
        for name, v in metrics:
            out.append(f"# TYPE {name} counter")
            out.append(f"{name}{label} {v}")
        for (path, status), v in request_counts:
            out.append(
                f'http_requests_total{{path="{path}",status="{status}"}} {v}'
            )
        for db_name in self._database_names():
            store = self._database(db_name).store
            for table, fams in sorted(store.prune_metrics.items()):
                for fam, v in sorted(fams.items()):
                    out.append(
                        f'{fam}{{db_name="{db_name}",table_name="{table}"}} {v}'
                    )
        return ("\n".join(out) + "\n").encode()

    def handle_query(self, name: str, q: str, fmt: str) -> tuple[bytes, str]:
        """Collects on the driver by design (control-plane facade), but the
        collect is BOUNDED: results beyond ``max_rows`` rows raise 413 so a
        ``SELECT * FROM <big table>`` over HTTP cannot OOM the driver — the
        client must add a LIMIT (or page).  Cluster-scale result delivery
        belongs to the Flight path, which streams record batches."""
        database = self._database(name)
        if database is None:
            raise _HttpError(404, f"database {name!r} not found")
        if fmt not in QUERY_FORMATS:
            # reject before planning/executing — an unknown format must not
            # cost a full Spark job + driver collect
            raise _HttpError(400, f"unknown format {fmt!r}")
        df = database.query(q)
        rows = df.limit(self.max_rows + 1).collect()
        if len(rows) > self.max_rows:
            raise _HttpError(
                413,
                f"result exceeds max_rows={self.max_rows}; "
                "add a LIMIT clause or page the query",
            )
        cols = df.columns
        return render_query_result(cols, rows, fmt)

    def _v1_database(self, db: str | None) -> tuple[str | None, Database | None]:
        """A v1 request's (selected name, Database): ``db`` or else the
        default database.  None selected is allowed (SHOW DATABASES and
        other db-less statements); an unknown one is a 404."""
        selected = db or self.db_name
        database = self._database(selected) if selected else None
        if selected and database is None:
            raise _HttpError(404, f"database not found: {selected}")
        return selected, database

    def _v1_statement_args(self, selected: str | None, database) -> dict:
        """run_statements keyword arguments.  Builds the catalog, so it
        runs inside the tracked query (its scans join the job group)."""
        from influxdb_iox_spark.influxql.v1_api import catalog_from_database

        return dict(
            catalog=catalog_from_database(database) if database is not None else {},
            databases=self._database_names(),
            database=database,
            resolve_database=self._database,
            selected_db=selected,
            max_rows=self.max_rows,
            registry=self.registry,
            tracker=self.tracker,
            subscriptions=self.subscriptions,
        )

    def handle_v1_query(
        self, db: str | None, q: str, epoch: str | None,
        read_only: bool = False,
        accept: str | None = None,
        identity: str | None = None,
    ) -> tuple[bytes, str]:
        """GET/POST /query — the InfluxDB 1.x API (InfluxQL in, the
        results/series JSON envelope out).  Statement errors land inside
        the envelope (stock behavior); only transport-level problems
        (unknown db, bad epoch) are HTTP errors.  ``read_only`` is set by
        the GET route: stock 1.x requires POST for SELECT ... INTO (a
        side-effecting GET is unsafe behind caches/proxies/prefetchers),
        so INTO on GET is rejected with the stock-style message.
        ``identity``: the authenticated username (per-statement privilege
        checks when a UserRegistry is configured)."""
        from influxdb_iox_spark.influxql.v1_api import render_csv, run_statements

        selected, database = self._v1_database(db)
        want_csv = accept is not None and "application/csv" in accept
        if want_csv and epoch is None:
            epoch = "ns"  # stock CSV renders time as epoch ns by default
        qid = self.tracker.begin(q, selected)
        try:
            envelope = run_statements(
                q, epoch=epoch, read_only=read_only, identity=identity,
                **self._v1_statement_args(selected, database),
            )
        except ValueError as e:  # bad epoch
            self.tracker.end(qid, status="error")
            raise _HttpError(400, str(e))
        except BaseException:
            self.tracker.end(qid, status="error")
            raise
        else:
            self.tracker.end(qid, rows=_envelope_rows(envelope))
        if want_csv:
            return render_csv(envelope), "application/csv"
        return json.dumps(envelope).encode(), "application/json"

    def iter_v1_query_chunks(
        self, db: str | None, q: str, epoch: str | None,
        chunk_size: int, read_only: bool = False,
        identity: str | None = None,
    ):
        """chunked=true: an iterator of envelope documents (one per
        chunk), streamed by the handler over HTTP chunked transfer.
        SELECTs ride DataFrame.toLocalIterator, so the driver never
        holds more than chunk_size rows + one partition — which is why
        chunked responses are exempt from the max_rows cap."""
        from influxdb_iox_spark.influxql.v1_api import (
            _EPOCH_DIV,
            run_statements_chunked,
        )

        selected, database = self._v1_database(db)
        if chunk_size <= 0:
            raise _HttpError(400, "chunk_size must be positive")
        if epoch is not None and epoch not in _EPOCH_DIV:
            raise _HttpError(400, f"invalid epoch {epoch!r}")

        def _tracked():
            # begin() inside the generator: the job-group tag must land on
            # the CONSUMING thread (the handler streams the chunks), and
            # end() must run however iteration stops
            qid = self.tracker.begin(q, selected)
            rows = 0
            try:
                for env in run_statements_chunked(
                    q, epoch=epoch, chunk_size=chunk_size,
                    read_only=read_only, identity=identity,
                    **self._v1_statement_args(selected, database),
                ):
                    rows += _envelope_rows(env)
                    yield env
            except BaseException:
                self.tracker.end(qid, rows=rows, status="error")
                raise
            else:
                self.tracker.end(qid, rows=rows)

        return _tracked()


_LP_TS = re.compile(rb"^(.*) (-?\d+)[ \t]*(\r?)$")


def _scale_lp_timestamps(body: bytes, factor: int, now_ns: int) -> bytes:
    """Line protocol in the write API's ``precision`` unit → ns text.

    Each line's trailing timestamp token is multiplied by ``factor``; a
    line without one is stamped with ``now_ns`` truncated to the
    precision (stock behavior).  The timestamp, when present, is always
    the final whitespace-separated integer token of a line — quoted field
    strings cannot end a line unescaped, so the anchored regex cannot
    misfire inside one.  Blank and comment lines pass through.
    CRLF-terminated lines (Windows clients, HTTP tooling) scale too — the
    split is on \\n, so the \\r rides as line tail and is preserved."""
    stamp = str(now_ns // factor * factor).encode()
    out = []
    for line in body.split(b"\n"):
        m = _LP_TS.match(line)
        if m:
            line = (
                m.group(1) + b" "
                + str(int(m.group(2)) * factor).encode() + m.group(3)
            )
        elif line.strip() and not line.lstrip().startswith(b"#"):
            tail = b"\r" if line.endswith(b"\r") else b""
            line = line.rstrip() + b" " + stamp + tail
        out.append(line)
    return b"\n".join(out)


def _rfc3339_ns(value, param: str) -> int:
    """RFC3339 timestamp → ns since epoch; required (400 when absent or
    unparseable), like the platform delete API.  FULL ns precision: the
    fractional seconds are parsed separately because fromisoformat
    truncates past µs — a delete boundary off by up to 999 ns would
    destroy (or spare) rows the user did not ask about."""
    from datetime import datetime, timezone

    if not value:
        raise _HttpError(400, f"{param} is required (RFC3339 timestamp)")
    text = str(value).replace("Z", "+00:00")
    frac_ns = 0
    m = re.search(r"\.(\d+)", text)
    if m:
        digits = m.group(1)[:9]
        frac_ns = int(digits.ljust(9, "0"))
        text = text[: m.start()] + text[m.end():]  # strip the fraction
    try:
        dt = datetime.fromisoformat(text)
    except ValueError as e:
        raise _HttpError(400, f"invalid {param}: {e}")
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    delta = dt - datetime(1970, 1, 1, tzinfo=timezone.utc)
    # integer arithmetic — float .timestamp() would round µs at ~2e15
    return (delta.days * 86400 + delta.seconds) * 10**9 + frac_ns


def render_query_result(cols, rows, fmt: str) -> tuple[bytes, str]:
    """Render a collected result in one of the v2 query formats."""
    if fmt == "json":
        out = json.dumps([dict(zip(cols, [_json_val(v) for v in r])) for r in rows])
        return out.encode(), "application/json"
    if fmt == "csv":
        import csv

        buf = io.StringIO()
        w = csv.writer(buf)
        w.writerow(cols)
        for r in rows:
            w.writerow(list(r))
        return buf.getvalue().encode(), "text/csv"
    if fmt == "pretty":
        # render from the already-collected rows (one execution), with
        # Spark SQL's NULL/true/false conventions
        def _cell(v):
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "true" if v else "false"
            return str(v)

        cells = [[_cell(v) for v in r] for r in rows]
        widths = [
            max(len(c), *(len(row[i]) for row in cells)) if cells else len(c)
            for i, c in enumerate(cols)
        ]
        sep = "+-" + "-+-".join("-" * w for w in widths) + "-+"
        def _line(vals):
            return "| " + " | ".join(v.ljust(w) for v, w in zip(vals, widths)) + " |"
        out = [sep, _line(cols), sep, *[_line(r) for r in cells], sep]
        return ("\n".join(out) + "\n").encode(), "text/plain"
    raise AssertionError(
        f"format {fmt!r} passed validation but has no renderer"
    )  # unreachable: QUERY_FORMATS is checked before execution



def _json_val(v):
    return v if v is None or isinstance(v, (bool, int, float, str)) else str(v)


class _HttpError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def _envelope_rows(envelope: dict) -> int:
    """Total value rows across a v1 JSON envelope (the query_end log
    line's rows field)."""
    return sum(
        len(s.get("values", []))
        for r in envelope.get("results", [])
        for s in r.get("series", []) or []
    )


def check_http_auth(
    users: dict[str, str] | None,
    auth_header: str | None,
    u: str | None = None,
    p: str | None = None,
) -> bool:
    """Stock 1.x credential check.  ``users`` None/empty → anonymous OK
    (the v0 reference ships unauthenticated); configured → the request
    must carry matching credentials via ``u``/``p`` query params, HTTP
    Basic, or the 1.8 ``Authorization: Token user:pass`` form.  Explicit
    u/p params take precedence over the header (stock order)."""
    from influxdb_iox_spark.auth import verify_credentials

    if not users:
        return True
    if u is not None or p is not None:
        return verify_credentials(users, u, p or "")
    if auth_header:
        scheme, _, rest = auth_header.partition(" ")
        if scheme.lower() == "basic":
            import base64

            try:
                decoded = base64.b64decode(rest.strip()).decode("utf-8")
            except Exception:
                return False
            user, _, pw = decoded.partition(":")
            return verify_credentials(users, user, pw)
        if scheme.lower() == "token":
            user, _, pw = rest.strip().partition(":")
            return verify_credentials(users, user, pw)
    return False


def _make_handler(api: IoxHttpServer):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test output
            pass

        def _authorize(self, *param_sources) -> str | None:
            """401 unless the request carries valid credentials (no-op
            when no users are configured).  ``param_sources``: parse_qs
            dicts searched in order for u/p (form first on POST).
            Returns the authenticated username (None = anonymous mode)."""
            from influxdb_iox_spark.auth import http_identity

            def pick(k):
                for src in param_sources:
                    v = (src.get(k) or [None])[0]
                    if v is not None:
                        return v
                return None

            ok, ident = http_identity(
                api.users, self.headers.get("Authorization"),
                pick("u"), pick("p"),
            )
            if not ok:
                raise _HttpError(401, "authorization failed")
            return ident

        def _request_span(self, name: str, db: str | None):
            """Per-request tracing span, continuing an external trace
            when the request carries W3C traceparent / Jaeger
            uber-trace-id headers (the reference extracts the same
            headers into its tracing stack via trogging; spans and the
            tracker's query_end lines share the trace id)."""
            from influxdb_iox_spark.tracing import (
                Span,
                extract_trace_context,
            )

            ctx = extract_trace_context(self.headers)
            return Span(
                name,
                trace_id=ctx[0] if ctx else None,
                parent_id=ctx[1] if ctx else None,
                db=db or api.db_name,
            )

        def _require_write(self, ident: str | None, db: str | None):
            """403 unless ``ident`` may write ``db`` (no-op without a
            configured UserRegistry — dict-auth servers keep the
            any-authenticated-user behavior)."""
            if api.registry and not api.registry.can(ident, db, "write"):
                raise _HttpError(
                    403,
                    f"user {ident or '<anonymous>'} is not authorized to "
                    f"write to database {db!r}",
                )

        def _reply_error(self, status: int, message: str):
            # v2 API error-body shape (end_to_end_cases/http.rs:15: a 400
            # carries `{"error": ..., "error_code": 100}`); the message text
            # rides inside so clients can match on substrings.
            body = json.dumps({"error": message, "error_code": 100}).encode()
            self._reply(status, body, "application/json")

        def _count(self, status: int):
            key = (urlparse(self.path).path, status)
            with api._metrics_lock:
                api.request_counts[key] = api.request_counts.get(key, 0) + 1

        def _reply(
            self, status: int, body: bytes = b"", ctype: str = "text/plain",
            headers_extra=(),
        ):
            self._count(status)
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            for k, v in headers_extra:
                self.send_header(k, v)
            self.end_headers()
            if body:
                self.wfile.write(body)

        def _reply_chunked(self, docs):
            """Stream newline-separated JSON documents with HTTP/1.1
            chunked transfer encoding (stock's chunked=true framing)."""
            self._count(200)
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()
            for doc in docs:
                payload = (json.dumps(doc) + "\n").encode()
                self.wfile.write(f"{len(payload):x}\r\n".encode())
                self.wfile.write(payload + b"\r\n")
            self.wfile.write(b"0\r\n\r\n")

        def do_GET(self):
            u = urlparse(self.path)
            try:
                if u.path == "/health":
                    self._reply(200, b"OK")
                    return
                if u.path == "/ping":
                    # stock 1.x liveness probe: 204 + version header
                    # (clients check it before anything else)
                    self._reply(
                        204, b"",
                        headers_extra=[("X-Influxdb-Version", "1.8-iox-spark")],
                    )
                    return
                if u.path == "/metrics":
                    self._reply(200, api.render_metrics(), "text/plain; version=0.0.4")
                    return
                if u.path == "/query":
                    qs = parse_qs(u.query)
                    ident = self._authorize(qs)
                    q = (qs.get("q") or [None])[0]
                    if not q:
                        raise _HttpError(400, "missing q parameter")
                    db = (qs.get("db") or [None])[0]
                    epoch = (qs.get("epoch") or [None])[0]
                    with self._request_span("http_query_get", db):
                        if (qs.get("chunked") or [""])[0].lower() in (
                            "true", "1",
                        ):
                            size = int(
                                (qs.get("chunk_size") or ["10000"])[0]
                            )
                            self._reply_chunked(
                                api.iter_v1_query_chunks(
                                    db, q, epoch, size, read_only=True,
                                    identity=ident,
                                )
                            )
                            return
                        body, ctype = api.handle_v1_query(
                            db, q, epoch, read_only=True,
                            accept=self.headers.get("Accept"),
                            identity=ident,
                        )
                    self._reply(200, body, ctype)
                    return
                parts = u.path.strip("/").split("/")
                # /iox/api/v1/databases/:name/query
                if (
                    len(parts) == 6
                    and parts[:4] == ["iox", "api", "v1", "databases"]
                    and parts[5] == "query"
                ):
                    qs = parse_qs(u.query)
                    self._authorize(qs)
                    q = (qs.get("q") or [None])[0]
                    if not q:
                        raise _HttpError(400, "missing q parameter")
                    fmt = (qs.get("format") or ["json"])[0]
                    # db name arrives percent-encoded (the client quotes
                    # it so names containing '/' survive path routing)
                    db_seg = unquote(parts[4])
                    body, ctype = api.handle_query(db_seg, q, fmt)
                    self._reply(200, body, ctype)
                    return
                self._reply(404, b"not found")
            except _HttpError as e:
                self._reply_error(e.status, str(e))
            except Exception as e:  # planner/readback errors -> 400 like ref
                self._reply_error(400, str(e))

        def do_POST(self):
            u = urlparse(self.path)
            try:
                if u.path == "/query":
                    # v1 clients POST form-encoded q (Grafana does)
                    length = int(self.headers.get("Content-Length", 0))
                    form = parse_qs(self.rfile.read(length).decode("utf-8"))
                    qs = parse_qs(u.query)
                    ident = self._authorize(form, qs)
                    def param(k):
                        return (form.get(k) or qs.get(k) or [None])[0]
                    q = param("q")
                    if not q:
                        raise _HttpError(400, "missing q parameter")
                    with self._request_span("http_query_post", param("db")):
                        if (param("chunked") or "").lower() in ("true", "1"):
                            size = int(param("chunk_size") or "10000")
                            self._reply_chunked(
                                api.iter_v1_query_chunks(
                                    param("db"), q, param("epoch"), size,
                                    identity=ident,
                                )
                            )
                            return
                        body, ctype = api.handle_v1_query(
                            param("db"), q, param("epoch"),
                            accept=self.headers.get("Accept"),
                            identity=ident,
                        )
                    self._reply(200, body, ctype)
                    return
                if u.path not in ("/api/v2/write", "/api/v2/delete", "/write"):
                    self._reply(404, b"not found")
                    return
                qs = parse_qs(u.query)
                ident = self._authorize(qs)
                if u.path == "/write":
                    self._require_write(
                        ident, (qs.get("db") or [api.db_name])[0]
                    )
                else:
                    org = (qs.get("org") or [None])[0]
                    bucket = (qs.get("bucket") or [None])[0]
                    if org and bucket:
                        self._require_write(
                            ident, org_and_bucket_to_database(org, bucket)
                        )
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                if self.headers.get("Content-Encoding") == "gzip":
                    try:
                        body = gzip.decompress(body)
                    except (OSError, EOFError) as e:
                        # BadGzipFile is an OSError subclass; truncated
                        # streams raise EOFError.  Malformed request body is
                        # the client's fault -> 400 (http.rs returns 4xx).
                        raise _HttpError(400, f"invalid gzip body: {e}")
                try:
                    body.decode("utf-8")
                except UnicodeDecodeError as e:
                    raise _HttpError(400, f"body is not valid UTF-8: {e}")
                if u.path == "/write":
                    # the InfluxDB 1.x write API (db + precision params;
                    # rp accepted and ignored — retention is
                    # lifecycle-rule driven)
                    api.handle_write_v1(
                        (qs.get("db") or [None])[0],
                        body,
                        (qs.get("precision") or [None])[0],
                    )
                    self._reply(204)
                    return
                org = (qs.get("org") or [None])[0]
                bucket = (qs.get("bucket") or [None])[0]
                if not org or not bucket:
                    raise _HttpError(400, "org and bucket are required")
                if u.path == "/api/v2/delete":
                    api.handle_delete(org, bucket, body)
                else:
                    api.handle_write(
                        org, bucket, body,
                        (qs.get("precision") or [None])[0],
                    )
                self._reply(204)
            except _HttpError as e:
                self._reply_error(e.status, str(e))
            except LineProtocolError as e:
                self._reply_error(400, str(e))
            except Exception as e:
                # Spark surfaces parse errors wrapped in Py4J/PythonException
                msg = str(e)
                status = 400 if "LineProtocolError" in msg else 500
                self._reply(status, msg.encode()[:2000])

    return Handler
