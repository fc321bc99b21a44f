"""Served-path benchmark of influxdb_iox_spark: client bytes to client bytes.

Run from the repository root:

    python3 perfbench/run.py --workload storage_read --seed 1 --seconds 40 --trace 0

The server (``server.py``) runs in its own process with Spark at
``local[<cpu count>]``; this process is the load generator.  Each workload
is a closed loop with a fixed number of requests per run, set by
``--seconds``.  Every response is checked against the seeded generator's
own answer outside the timed region.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it holds the run's conditions.

End-to-end metrics name roles common to both workloads:

=========  ==========================  =================================
role       storage_read                ingest_mixed
=========  ==========================  =================================
main       gRPC ReadFilter             POST /api/v2/write (1,000 lines)
side       gRPC ReadWindowAggregate    GET /query InfluxQL, after each write
flight     Flight SQL DoGet raw rows   Flight SQL DoGet raw rows, after each write
=========  ==========================  =================================
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from urllib.parse import quote

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import workload as wl  # noqa: E402
from tracing import (  # noqa: E402
    ATTRS, END, NAME, PARENT, REQUEST, RTYPE, START, covered, match_requests, self_times,
)

ROLES = {
    "storage_read": {"main": "read_filter", "side": "window_agg", "flight": "flight_sql"},
    "ingest_mixed": {"main": "write", "side": "influxql", "flight": "flight_sql"},
}
#: requests per second of --seconds: storage_read cycles (one request of
#: each role) and ingest_mixed bodies per writer
CYCLES_PER_S = 0.55
BODIES_PER_WRITER_PER_S = 0.3
#: untimed storage_read cycles first; the JIT keeps shortening latencies
#: well past the first few requests
WARMUP_CYCLES = 3
SERVER_READY_S = 150
SERVER_STOP_S = 60
OP_TIMEOUT_S = 60

# -- per-layer metrics ---------------------------------------------------------

STORE_READ = ("read_filter", "window_agg", "influxql", "flight_sql")
STORAGE = ("read_filter", "window_agg")
RTYPES = ("read_filter", "window_agg", "flight_sql", "write", "influxql")
SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_bytes")
#: share of a request type's traced latency that may fall outside every
#: layer span before the trace is flagged as not explaining it
UNATTRIBUTED_MAX = 0.10
#: (name, unit, better, request types); a name gets a ".<type>" suffix
#: when the layer serves more than one request type
LAYERS = [
    ("store.scan_s", "s", "lower", STORE_READ),
    ("store.scans", "count", "lower", STORE_READ),
    ("store.chunks_per_scan", "count", "lower", STORE_READ),
    ("store.overlap_chunk_reads", "count", "lower", STORE_READ),
    ("store.write_s", "s", "lower", ("write",)),
    ("store.chunks_written", "count", "lower", ("write",)),
    ("store.bytes_written", "bytes", "lower", ("write",)),
    ("store.register_s", "s", "lower", ("write",)),
    ("ingest.parse_s", "s", "lower", ("write",)),
    ("ingest.lines", "count", "higher", ("write",)),
    ("http_api.write_s", "s", "lower", ("write",)),
    ("http_api.write_self_s", "s", "lower", ("write",)),
    ("http_api.query_s", "s", "lower", ("influxql",)),
    ("influxql.run_s", "s", "lower", ("influxql",)),
    ("influxql.parse_s", "s", "lower", ("influxql",)),
    ("influxql.plan_s", "s", "lower", ("influxql",)),
    ("database.register_views_s", "s", "lower", ("flight_sql",)),
    ("database.view_cache_hit_ratio", "ratio", "higher", ("flight_sql",)),
    ("rpc.plan_s", "s", "lower", STORAGE),
    ("series.frame_s", "s", "lower", STORAGE),
    ("series.rows", "count", "lower", STORAGE),
    ("series.frames", "count", "lower", STORAGE),
    ("proto.frames_s", "s", "lower", STORAGE),
    ("proto.encode_s", "s", "lower", STORAGE),
    ("proto.response_bytes", "bytes", "lower", STORAGE),
    ("rpc_storage.call_s", "s", "lower", STORAGE),
    ("rpc_storage.self_s", "s", "lower", STORAGE),
    ("rpc_storage.first_response_s", "s", "lower", STORAGE),
    ("rpc_storage.stream_s", "s", "lower", STORAGE),
    ("rpc_flight.do_get_s", "s", "lower", ("flight_sql",)),
    ("rpc_flight.rows", "count", "lower", ("flight_sql",)),
    *[(f"spark.{c}", "bytes" if c == "shuffle_bytes" else "s" if c.endswith("_s") else "count",
       "lower", RTYPES) for c in SPARK],
]
END_TO_END = [
    ("setup_s", "s", "lower"),
    *[(f"{role}_{stat}_ms", "ms", "lower") for role in ("main", "side", "flight")
      for stat in ("p50", "tail")],
    ("points_per_s", "points/s", "higher"),
    ("store_bytes_per_lp_byte", "ratio", "lower"),
]


def cycles(seconds: int) -> int:
    return max(1, round(seconds * CYCLES_PER_S))


def bodies_per_writer(seconds: int) -> int:
    return max(2, round(seconds * BODIES_PER_WRITER_PER_S))


def tail_percentiles(workload: str, seconds: int) -> dict[str, int]:
    """Per role, the highest percentile with at least 10 of the run's
    fixed number of samples beyond it."""
    n = cycles(seconds) if workload == "storage_read" else wl.WRITERS * bodies_per_writer(seconds)
    return dict.fromkeys(("main", "side", "flight"), wl.tail_percentile(n))


def layer_names() -> list[tuple[str, str, str, str, str]]:
    """(metric name, base name, request type, unit, better) of every
    per-layer metric a traced run prints."""
    return [
        (f"{base}.{rt}" if len(rts) > 1 else base, base, rt, unit, better)
        for base, unit, better, rts in LAYERS
        for rt in rts
    ]


# -- one request -----------------------------------------------------------------


@dataclass
class Op:
    role: str
    rtype: str
    start: int
    end: int
    out: object = None
    error: str | None = None
    traced: bool | None = None  # None: a warm-up request
    points: int = 0
    check: object = None  # checks the response; returns an error text or None

    @property
    def ms(self) -> float:
        return (self.end - self.start) / 1e6


def timed(role, rtype, fn, check, traced=False) -> Op:
    start = time.perf_counter_ns()
    try:
        out, err = fn(), None
    except Exception as e:  # an error is a failed op, not a crashed run
        out, err = None, f"{type(e).__name__}: {e}"
    return Op(role, rtype, start, time.perf_counter_ns(), out, err, traced, check=check)


def run_checks(ops) -> None:
    """Outside the timed region: turn each response into an error or a
    point count, then drop it."""
    for op in ops:
        if op.error is None and op.check is not None:
            try:
                op.error, op.points = op.check(op)
            except Exception as e:
                op.error = f"check raised {type(e).__name__}: {e}"
        op.out = op.check = None


def close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


# -- transports ------------------------------------------------------------------


def flight_connect(port: int):
    import pyarrow.flight as fl

    return fl.connect(f"grpc://127.0.0.1:{port}")


def storage_call(client, name: str, body: bytes) -> list[bytes]:
    import pyarrow.flight as fl

    return [r.body.to_pybytes() for r in client.do_action(fl.Action(name, body))]


def flight_get(client, db: str, sql: str):
    import pyarrow.flight as fl

    ticket = json.dumps({"database_name": db, "sql_query": sql}).encode()
    return client.do_get(fl.Ticket(ticket)).read_all()


def http_call(port: int, method: str, path: str, body: bytes | None = None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=OP_TIMEOUT_S)
    try:
        conn.request(method, path, body=body)
        resp = conn.getresponse()
        data = resp.read()
    finally:
        conn.close()
    if resp.status not in (200, 204):
        raise RuntimeError(f"HTTP {resp.status}: {data[:300]!r}")
    return data


def flight_sql(hosts) -> str:
    names = ", ".join(f"'{h}'" for h in hosts)
    return f"SELECT host, usage, temp, time FROM {wl.MEASUREMENT} WHERE host IN ({names})"


def influxql(t0: int, t1: int) -> str:
    return (
        f"SELECT mean(usage) FROM {wl.MEASUREMENT} WHERE time >= {t0} AND time < {t1} "
        "GROUP BY time(1h), region"
    )


# -- response checks ------------------------------------------------------------


def decode_series(responses) -> dict[tuple[str, str], list[tuple[int, float]]]:
    """ReadResponse messages -> (host, field) -> [(timestamp, value)]."""
    from influxdb_iox_spark import storage_proto as sp
    from influxdb_iox_spark.protowire import decode_message

    out: dict[tuple[str, str], list] = {}
    key = None
    for raw in responses:
        # decoded messages carry every field, None where absent
        for frame in decode_message(raw, sp.READ_RESPONSE)["frames"]:
            if frame["series"] is not None:
                tags = {t["key"]: t["value"] for t in frame["series"]["tags"]}
                key = (tags[b"host"].decode(), tags[b"_field"].decode())
            elif frame["float_points"] is not None:
                pts = frame["float_points"]
                out.setdefault(key, []).extend(zip(pts["timestamps"], pts["values"]))
            else:
                raise ValueError(f"unexpected frame {frame}")
    return out


def check_read_filter(expected):
    def check(op):
        got = {
            k: (len(pts), sum(v for _, v in pts), sum(t for t, _ in pts))
            for k, pts in decode_series(op.out).items()
        }
        if got.keys() != expected.keys():
            return f"read_filter: series {sorted(got)[:3]}… != expected", 0
        for k, (n, vs, ts) in expected.items():
            g = got[k]
            if g[0] != n or g[2] != ts or not close(g[1], vs):
                return f"read_filter {k}: got {g}, want {(n, vs, ts)}", 0
        return None, sum(g[0] for g in got.values())
    return check


def check_window_agg(expected, every: int):
    """Window aggregates are stamped with each window's end."""
    want = {k: {w + every: m for w, m in ws.items()} for k, ws in expected.items()}

    def check(op):
        got = decode_series(op.out)
        stamped = {k: dict(pts) for k, pts in got.items()}
        if any(len(stamped[k]) != len(pts) for k, pts in got.items()) or not same_windows(
            stamped, want
        ):
            return "window_agg: per-window means differ from expected", 0
        return None, sum(len(p) for p in got.values())
    return check


def flight_sums(table, t0: int) -> tuple[int, float, float, int]:
    import pyarrow as pa

    col = table.column("time")
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    d = table.to_pydict()
    return (
        table.num_rows,
        sum(d["usage"]),
        sum(d["temp"]),
        sum(t - t0 for t in col.to_pylist()),
    )


def sums_match(got, want) -> bool:
    """(rows, usage sum, temp sum, time sum): counts exact, sums close."""
    return (got[0], got[3]) == (want[0], want[3]) and close(got[1], want[1]) and close(
        got[2], want[2])


def influxql_values(body: bytes) -> dict[str, dict[int, float]]:
    """/query JSON (epoch=ns) -> region -> {window start: mean}, non-null only."""
    doc = json.loads(body)
    res = doc["results"][0]
    if "error" in res:
        raise ValueError(res["error"])
    out: dict[str, dict[int, float]] = {}
    for s in res.get("series", []):
        region = s["tags"]["region"]
        ti, mi = s["columns"].index("time"), s["columns"].index("mean")
        vals = {row[ti]: row[mi] for row in s["values"] if row[mi] is not None}
        if vals:
            out[region] = vals
    return out


def same_windows(got, want) -> bool:
    """Same series, same window stamps, values equal up to rounding."""
    return got.keys() == want.keys() and all(
        g.keys() == want[r].keys() and all(close(g[t], want[r][t]) for t in g)
        for r, g in got.items()
    )


# -- the server process ------------------------------------------------------------


class ServerProcess:
    """server.py in its own session; stops it and every process it started."""

    def __init__(self, workload: str, seed: int, trace: int, work: str):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            PYSPARK_PYTHON=sys.executable,
            SPARK_DRIVER_MEM="2g",
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=tmp,
            # no hsperfdata file under /tmp: the run writes only inside the checkout
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        self.log_path = os.path.join(work, "server.log")
        self._log = open(self.log_path, "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--workload", workload,
             "--seed", str(seed), "--work", work, "--trace", str(trace)],
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, start_new_session=True,
        )
        self._msgs: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH "):
                self._msgs.put(json.loads(line[len("PERFBENCH "):]))
        self._msgs.put(None)

    def expect(self, kind: str, timeout: float) -> dict:
        try:
            msg = self._msgs.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"server sent no {kind!r} within {timeout} s") from None
        if msg is None or msg.get("kind") != kind:
            raise RuntimeError(f"server: expected {kind!r}, got {msg!r}")
        return msg

    def command(self, cmd: dict, reply: str, timeout: float) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.expect(reply, timeout)

    def log_tail(self, n: int = 40) -> str:
        with open(self.log_path, "rb") as f:
            return b"\n".join(f.read().splitlines()[-n:]).decode(errors="replace")

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=SERVER_STOP_S)
        except subprocess.TimeoutExpired:
            pass
        # the JVM and Python workers live in the server's process group
        deadline = time.monotonic() + 20
        sig = signal.SIGTERM if self.proc.poll() is None else 0
        while True:
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            if time.monotonic() > deadline:
                sig = signal.SIGKILL
            time.sleep(0.2)
        self.proc.wait()
        self._reader.join(timeout=5)
        self._log.close()


# -- workloads ---------------------------------------------------------------------


def run_storage_read(args, srv, ready) -> tuple[list[Op], list[Op], dict, int]:
    from influxdb_iox_spark import storage_proto as sp
    from influxdb_iox_spark.protowire import encode_message

    spec = wl.ReadStore(args.seed)
    p = ready["ports"]
    source = sp.make_read_source(p["org"], p["bucket"], partition_id=0xFFFFFFFF)
    rng = {"start": spec.t0, "end": spec.t_end}
    pred = {"root": {
        "node_type": sp.NT_COMPARISON,
        "comparison": sp.CMP_REGEX,
        "children": [
            {"node_type": sp.NT_TAG_REF, "tag_ref_value": b"host"},
            {"node_type": sp.NT_LITERAL, "regex_value": wl.host_regex(spec.filter_hosts)},
        ],
    }}
    rf = encode_message({"read_source": source, "range": rng, "predicate": pred},
                        sp.READ_FILTER_REQUEST)
    wa = encode_message(
        {"read_source": source, "range": rng, "window_every": wl.HOUR,
         "aggregate": [{"type": sp.AGG_NAMES.index("mean")}]},
        sp.READ_WINDOW_AGGREGATE_REQUEST,
    )
    sql = flight_sql(spec.flight_hosts)
    want_flight = spec.flight_expected()

    def check_flight(op):
        got = flight_sums(op.out, spec.t0)
        if not sums_match(got, want_flight):
            return f"flight_sql: got {got}, want {want_flight}", 0
        return None, 2 * got[0]

    checks = {
        "main": check_read_filter(spec.read_filter_expected()),
        "side": check_window_agg(spec.window_agg_expected(), wl.HOUR),
        "flight": check_flight,
    }
    storage = flight_connect(p["storage"])
    flight = flight_connect(p["flight"])
    calls = {
        "main": lambda: storage_call(storage, "ReadFilter", rf),
        "side": lambda: storage_call(storage, "ReadWindowAggregate", wa),
        "flight": lambda: flight_get(flight, p["db"], sql),
    }
    roles = ROLES["storage_read"]

    def cycle(traced):
        return [timed(r, roles[r], calls[r], checks[r], traced) for r in ("main", "side", "flight")]

    try:
        warm = [op for _ in range(WARMUP_CYCLES) for op in cycle(None)]
        ops: list[Op] = []
        for i in range(cycles(args.seconds)):
            # traced and untraced cycles alternate, so drift cancels out of
            # the tracing overhead
            traced = bool(args.trace) and i % 2 == 1
            if args.trace:
                srv.command({"cmd": "trace", "on": traced}, "ok", OP_TIMEOUT_S)
            ops += cycle(traced)
    finally:
        storage.close()
        flight.close()
    run_checks(warm + ops)
    lp_bytes = len(wl.body(spec.points)) + len(wl.body(spec.replay))
    return warm, ops, wl.store_totals(spec.points, spec.t0), lp_bytes


def run_ingest_mixed(args, srv, ready) -> tuple[list[Op], list[Op], dict, int]:
    p = ready["ports"]
    n = bodies_per_writer(args.seconds)
    plan = wl.IngestPlan(args.seed, bodies_per_writer=n)
    q_path = f"/query?db={p['db']}&epoch=ns&q={quote(influxql(plan.t0, plan.t_end))}"
    w_path = "/api/v2/write?org=org&bucket=bucket"
    sql = flight_sql(plan.flight_hosts)
    roles = ROLES["ingest_mixed"]
    log: list[list[tuple[int, int, bool]]] = [[] for _ in range(wl.WRITERS)]
    ops_by_writer: list[list[Op]] = [[] for _ in range(wl.WRITERS)]
    # a traced run steps the writers body by body, tracing every other
    # body, so traced and untraced requests see the same store growth
    gate = threading.Barrier(wl.WRITERS + 1, timeout=3 * OP_TIMEOUT_S) if args.trace else None
    flights = [flight_connect(p["flight"]) for _ in range(wl.WRITERS)]

    def writer(w):
        """Post each body, then read back over Flight and InfluxQL: reads
        that follow a catalog change and overlap the other writer's write."""
        for i, b in enumerate(plan.bodies[w]):
            if gate is not None:
                gate.wait()  # main sets tracing for body i
                gate.wait()
            traced = bool(args.trace) and i % 2 == 1
            op = timed("main", roles["main"], lambda: http_call(p["http"], "POST", w_path, b.data),
                       None, traced)
            op.points = len(b.points) * len(wl.FIELDS)
            log[w].append((op.start, op.end, op.error is None))
            ops_by_writer[w] += [
                op,
                timed("flight", roles["flight"], lambda: flight_get(flights[w], p["db"], sql),
                      None, traced),
                timed("side", roles["side"], lambda: http_call(p["http"], "GET", q_path), None,
                      traced),
            ]

    try:
        # warm-up reads of the still empty store
        warm = [timed("side", roles["side"], lambda: http_call(p["http"], "GET", q_path), None),
                timed("flight", roles["flight"], lambda: flight_get(flights[0], p["db"], sql),
                      None)]
        threads = [threading.Thread(target=writer, args=(w,)) for w in range(wl.WRITERS)]
        for t in threads:
            t.start()
        for i in range(n if gate is not None else 0):
            gate.wait()
            srv.command({"cmd": "trace", "on": i % 2 == 1}, "ok", OP_TIMEOUT_S)
            gate.wait()
        for t in threads:
            t.join()
    finally:
        if gate is not None:
            gate.abort()  # on an error, releases writers still at the gate
        for c in flights:
            c.close()

    # which writes each read could have seen: per writer, at least those
    # acknowledged before it was sent, at most those sent before it returned
    def prefixes(op):
        lo = tuple(sum(1 for s, e, ok in lg if ok and e <= op.start) for lg in log)
        hi = tuple(sum(1 for s, e, ok in lg if s <= op.end) for lg in log)
        return wl.candidate_prefixes(lo, hi)

    def check_influxql(op):
        got = influxql_values(op.out)
        if any(same_windows(got, plan.influxql_expected(pf)) for pf in prefixes(op)):
            return None, sum(len(v) for v in got.values())
        return f"influxql: {got} matches no visible write prefix", 0

    def check_flight(op):
        got = flight_sums(op.out, plan.t0)
        if any(sums_match(got, plan.flight_expected(pf)) for pf in prefixes(op)):
            return None, 2 * got[0]
        return f"flight_sql: {got} matches no visible write prefix", 0

    checks = {"side": check_influxql, "flight": check_flight}
    ops = [op for w in ops_by_writer for op in w]
    for op in warm + ops:
        op.check = checks.get(op.role)
    run_checks(warm + ops)
    acked = [b for w in range(wl.WRITERS) for b, (_, _, ok) in zip(plan.bodies[w], log[w]) if ok]
    points = [pt for b in acked if b.replay_of is None for pt in b.points]
    lp_bytes = sum(len(b.data) for b in acked)
    return warm, ops, wl.store_totals(points, plan.t0), lp_bytes


# -- metrics -------------------------------------------------------------------------


def end_to_end(workload, seconds, ops, ready, stopped, lp_bytes) -> dict:
    m = {"setup_s": (ready["setup_s"], "s")}
    tail = tail_percentiles(workload, seconds)
    for role in ("main", "side", "flight"):
        lat = [op.ms for op in ops if op.role == role]
        m[f"{role}_p50_ms"] = (wl.median(lat), "ms")
        m[f"{role}_tail_ms"] = (wl.percentile(lat, tail[role]), "ms")
    if workload == "ingest_mixed":
        # acked points over the time at least one write was in flight
        w = [op for op in ops if op.role == "main"]
        write_s = covered([(op.start, op.end) for op in w]) / 1e9
        m["points_per_s"] = (sum(op.points for op in w if op.error is None) / write_s, "points/s")
    else:
        busy_s = sum(op.end - op.start for op in ops) / 1e9
        m["points_per_s"] = (sum(op.points for op in ops) / busy_s, "points/s")
    m["store_bytes_per_lp_byte"] = (stopped["store"]["bytes_on_disk"] / lp_bytes, "ratio")
    return m


def request_values(spans, idxs, selfs, op) -> dict[str, float]:
    """Per-layer values of one traced request from its spans."""
    by: dict[str, list[int]] = {}
    for i in idxs:
        by.setdefault(spans[i][NAME], []).append(i)

    def dur(name):
        return sum(spans[i][END] - spans[i][START] for i in by.get(name, [])) / 1e9

    def count(name):
        return len(by.get(name, []))

    def attr(name, key):
        return sum(spans[i][ATTRS].get(key, 0) for i in by.get(name, []))

    root = next(i for i in idxs if spans[i][PARENT] is None)
    views = by.get("database.register_views", [])
    misses = {spans[i][PARENT] for i in by.get("database.reregister", [])}
    prunes = count("store.prune")
    v = {
        "store.scan_s": dur("store.scan"),
        "store.scans": count("store.scan"),
        "store.chunks_per_scan": attr("store.prune", "chunks") / prunes if prunes else 0,
        "store.overlap_chunk_reads": count("store.read_chunk"),
        "store.write_s": dur("store.write"),
        "store.chunks_written": attr("store.write", "chunks"),
        "store.bytes_written": attr("store.write", "bytes"),
        "store.register_s": dur("store.register"),
        "ingest.parse_s": dur("ingest.parse"),
        "ingest.lines": attr("http_api.write", "lines"),
        "http_api.write_s": dur("http_api.write"),
        "http_api.write_self_s": sum(selfs[i] for i in by.get("http_api.write", [])) / 1e9,
        "http_api.query_s": dur("http_api.query"),
        "influxql.run_s": dur("influxql.run"),
        "influxql.parse_s": dur("influxql.parse"),
        "influxql.plan_s": dur("influxql.plan"),
        "database.register_views_s": dur("database.register_views"),
        "database.views": len(views),
        "database.view_hits": sum(1 for i in views if i not in misses),
        "rpc.plan_s": dur("rpc.plan"),
        "series.frame_s": dur("series.frame"),
        "series.rows": attr("series.frame", "rows"),
        "series.frames": sum(1 for i in by.get("series.frame", []) if "rows" in spans[i][ATTRS]),
        "proto.frames_s": dur("proto.frames"),
        "proto.encode_s": dur("proto.encode"),
        "proto.response_bytes": attr("proto.encode", "bytes"),
        "rpc_flight.do_get_s": dur("rpc_flight.do_get"),
        "rpc_flight.rows": op.points // 2 if op.rtype == "flight_sql" else 0,
    }
    if spans[root][NAME] == "rpc_storage.call":
        v["rpc_storage.call_s"] = dur("rpc_storage.call")
        v["rpc_storage.self_s"] = selfs[root] / 1e9
        v["rpc_storage.stream_s"] = dur("rpc_storage.stream")
        first = spans[root][ATTRS].get("first_ns")
        v["rpc_storage.first_response_s"] = (first - spans[root][START]) / 1e9 if first else 0
    return v


def per_layer(ops, stopped) -> tuple[dict, dict]:
    """Per-layer metrics (medians over traced requests) and the trace's
    own conditions: overhead, self-time closure, counter repeatability."""
    spans = stopped["spans"]
    traced = [op for op in ops if op.traced]
    roots = [(i, sp[RTYPE], sp[START], sp[END]) for i, sp in enumerate(spans)
             if sp[PARENT] is None and sp[END] is not None]
    clients = [(k, op.rtype, op.start, op.end) for k, op in enumerate(traced)]
    match = match_requests(clients, roots)
    selfs = self_times(spans)
    members: dict[int, list[int]] = {}
    for i, sp in enumerate(spans):
        members.setdefault(sp[REQUEST], []).append(i)

    values: dict[str, list[dict]] = {rt: [] for rt in RTYPES}
    unattributed: dict[str, list[float]] = {rt: [] for rt in RTYPES}
    server_share: dict[str, list[float]] = {rt: [] for rt in RTYPES}
    counters: dict[str, list[dict]] = {rt: [] for rt in RTYPES}
    for root, k in match.items():
        op = traced[k]
        req = spans[root][REQUEST]
        idxs = members[req]
        values[op.rtype].append(request_values(spans, idxs, selfs, op))
        server = (max(spans[root][START], op.start), min(spans[root][END], op.end))
        client_self = (op.end - op.start) - covered([server])
        server_share[op.rtype].append(covered([server]) / (op.end - op.start))
        # the latency no layer span explains: the request root's own time
        # (transport, handler) and the client's outside the server's
        unattributed[op.rtype].append((client_self + selfs[root]) / (op.end - op.start))
        counters[op.rtype].append(
            stopped.get("spark", {}).get(op.rtype, {}).get(str(req), dict.fromkeys(SPARK, 0)))

    metrics = {}
    for name, base, rt, unit, _better in layer_names():
        if base == "database.view_cache_hit_ratio":
            views = sum(v["database.views"] for v in values[rt])
            val = sum(v["database.view_hits"] for v in values[rt]) / views if views else 0.0
        elif base.startswith("spark."):
            xs = [c[base[len("spark."):]] for c in counters[rt]]
            val = wl.median(xs) if xs else 0.0
        else:
            xs = [v.get(base, 0) for v in values[rt]]
            val = wl.median(xs) if xs else 0.0
        metrics[name] = {"value": val, "unit": unit}

    conditions = {"traced_requests": {rt: len(v) for rt, v in values.items() if v},
                  "unmatched_server_requests": len(roots) - len(match),
                  "unattributed_share_of_latency": {rt: round(wl.median(c), 4)
                                                    for rt, c in unattributed.items() if c},
                  "unattributed_over_limit": sorted(
                      rt for rt, c in unattributed.items() if c and wl.median(c) > UNATTRIBUTED_MAX),
                  "server_share_of_latency": {rt: round(wl.median(c), 4)
                                              for rt, c in server_share.items() if c},
                  "tracing_overhead": {}, "spark_counts_repeat_within_run": {}}
    for rt in RTYPES:
        on = [op.ms for op in ops if op.rtype == rt and op.traced]
        off = [op.ms for op in ops if op.rtype == rt and op.traced is False]
        if on and off:
            conditions["tracing_overhead"][rt] = {
                "traced_p50_ms": round(wl.median(on), 3),
                "untraced_p50_ms": round(wl.median(off), 3),
                "ratio": round(wl.median(on) / wl.median(off), 4),
            }
        if counters[rt]:
            conditions["spark_counts_repeat_within_run"][rt] = {
                c: len({x[c] for x in counters[rt]}) == 1 for c in SPARK
            }
    return metrics, conditions


# -- main ------------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "influxdb_iox_spark", "http_api.py")):
        print(f"perfbench: no influxdb_iox_spark package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = os.getloadavg()
    marks = [time.perf_counter()]
    srv = ServerProcess(args.workload, args.seed, args.trace, work)
    try:
        ready = srv.expect("ready", SERVER_READY_S)
        marks.append(time.perf_counter())
        runner = run_storage_read if args.workload == "storage_read" else run_ingest_mixed
        warm, ops, store_want, lp_bytes = runner(args, srv, ready)
        marks.append(time.perf_counter())
        stopped = srv.command({"cmd": "stop"}, "stopped", SERVER_STOP_S)
        marks.append(time.perf_counter())
        if args.trace:
            with open(stopped["spans"]) as f:
                stopped["spans"] = json.load(f)
    except Exception:
        traceback.print_exc()
        print("--- server log tail ---\n" + srv.log_tail(), file=sys.stderr)
        return 1
    finally:
        srv.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    load_after = os.getloadavg()
    marks.append(time.perf_counter())

    store = stopped["store"]
    store_ok = (
        all(store[k] == store_want[k] for k in ("rows", "keys", "time"))
        and close(store["usage"], store_want["usage"])
        and close(store["temp"], store_want["temp"])
    )
    failures = [op.error for op in warm + ops if op.error]
    if not store_ok:
        failures.append(f"store reopened fresh: got {store}, want {store_want}")
    attempted = len(warm) + len(ops) + 1  # + the reopened-store check
    lat = {role: sorted(op.ms for op in ops if op.role == role) for role in ("main", "side", "flight")}
    conditions = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cpu_count": os.cpu_count(),
        "spark_master": ready["master"],
        "trace": bool(args.trace),
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "roles": ROLES[args.workload],
        "samples": {role: len(xs) for role, xs in lat.items()},
        "latency_ms_min_p25_p50_p75_max": {
            role: [round(wl.percentile(xs, p), 1) for p in (1, 25, 50, 75, 100)]
            for role, xs in lat.items() if xs
        },
        "tail_percentile": tail_percentiles(args.workload, args.seconds),
        "spark_session_s": round(ready["session_s"], 3),
        "phases_s": dict(zip(("until_ready", "requests", "stop_and_check", "shutdown"),
                             (round(b - a, 2) for a, b in zip(marks, marks[1:])))),
        "ops_failed_frac": len(failures) / attempted,
        "failures": failures[:5],
        "store_after_run": store,
    }
    if args.trace:
        metrics, trace_conditions = per_layer(ops, stopped)
        conditions.update(trace_conditions)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in
                   end_to_end(args.workload, args.seconds, ops, ready, stopped, lp_bytes).items()}
    print(json.dumps({"conditions": conditions}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
