"""Server process of the served-path benchmark.

``run.py`` starts it as its own process, so the load generator never
shares this interpreter's GIL.  It builds the workload's starting store,
serves one database over ``IoxHttpServer`` (HTTP ``/api/v2/write`` and
``/query``), ``StorageFlightServer`` (storage gRPC) and ``IoxFlightServer``
(Flight SQL ``DoGet``), prints one ``PERFBENCH {...}`` line with the ports
and the set-up time, and then obeys one JSON command per stdin line:

- ``{"cmd": "trace", "on": true}`` turns span recording on or off;
- ``{"cmd": "stop"}`` shuts the servers down, checks the store from a
  fresh ``TableStore``, reads Spark's counters and writes the spans out.

Usage: python3 perfbench/server.py --workload storage_read --seed 1 \
    --work .perfbench_work/x [--trace 1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from urllib.parse import urlparse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import workload as wl  # noqa: E402
from tracing import Tracer  # noqa: E402

ORG, BUCKET = 0x5EED, 0xBE7C
STORAGE_DB = f"{ORG:016x}_{BUCKET:016x}"
HTTP_DB = "org_bucket"  # what org=org&bucket=bucket routes to
STORAGE_RTYPES = {"ReadFilter": "read_filter", "ReadWindowAggregate": "window_agg"}
HTTP_RTYPES = {"/api/v2/write": "write", "/query": "influxql"}
JOB_TAG = "perfbench"


def emit(kind: str, **payload) -> None:
    print("PERFBENCH " + json.dumps({"kind": kind, **payload}), flush=True)


class Server:
    def __init__(self, args):
        from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
        from influxdb_iox_spark.session import get_spark

        self.args = args
        self.work = os.path.abspath(args.work)
        self.store_dir = os.path.join(self.work, "store")
        self.ncpu = os.cpu_count() or 1
        self.master = f"local[{self.ncpu}]"
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=self.master,
            shuffle_partitions=self.ncpu,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # the traced run reads per-request counters from the status
                # store; keep every job and stage of the run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.session_s = time.perf_counter() - t
        self.schema = IoxSchema.build(
            ["host", "region"], {f: InfluxColumnType.FIELD_FLOAT for f in wl.FIELDS}
        )
        self.tracer = Tracer()

    # -- set-up --------------------------------------------------------------
    def _lines(self, points):
        return self.spark.createDataFrame([(p.line(),) for p in points], "value string")

    def _ingest(self, path, batches, template=None):
        from influxdb_iox_spark.sources.store import TableStore
        from influxdb_iox_spark.streaming.ingest import LineProtocolIngest

        ing = LineProtocolIngest(TableStore(path), wl.MEASUREMENT, self.schema, template)
        for points in batches:
            ing.ingest_lines_df(self._lines(points))

    def setup(self) -> float:
        """Build the starting store once; return the time it took.

        storage_read: the preload (appends under an hourly partition
        template, then the replay chunk) into the served store.
        ingest_mixed: the served store starts empty, so set-up writes the
        warm-up body into a scratch store."""
        from influxdb_iox_spark.streaming.ingest import PartitionTemplate

        if self.args.workload == "storage_read":
            spec = wl.ReadStore(self.args.seed)
            batches = [spec.points, spec.replay]
            template = PartitionTemplate([("time_format", "%Y-%m-%d %H")])
            path = self.store_dir
        else:
            spec = wl.IngestPlan(self.args.seed, bodies_per_writer=1)
            batches, template = [spec.warmup], None
            path = os.path.join(self.work, "scratch")
        t = time.perf_counter()
        self._ingest(path, batches, template)
        took = time.perf_counter() - t
        shutil.rmtree(os.path.join(self.work, "scratch"), ignore_errors=True)
        os.makedirs(self.store_dir, exist_ok=True)
        return took

    def start(self) -> dict:
        from influxdb_iox_spark.database import Database
        from influxdb_iox_spark.http_api import IoxHttpServer
        from influxdb_iox_spark.rpc_flight import IoxFlightServer
        from influxdb_iox_spark.rpc_storage import StorageFlightServer
        from influxdb_iox_spark.sources.store import TableStore
        from influxdb_iox_spark.streaming.ingest import LineProtocolIngest

        store = TableStore(self.store_dir)
        db = Database(HTTP_DB, store, self.spark)
        db.register_table(wl.MEASUREMENT, self.schema)
        sdb = Database(STORAGE_DB, store, self.spark)
        sdb.register_table(wl.MEASUREMENT, self.schema)
        ing = LineProtocolIngest(store, wl.MEASUREMENT, self.schema)
        self.http = IoxHttpServer(db, {wl.MEASUREMENT: ing}, db_name=HTTP_DB)
        http_port = self.http.start()
        self.storage = StorageFlightServer({STORAGE_DB: sdb})
        self.flight = IoxFlightServer(db, db_name=HTTP_DB)
        return {
            "http": http_port,
            "storage": self.storage.port,
            "flight": self.flight.port,
            "org": ORG,
            "bucket": BUCKET,
            "db": HTTP_DB,
        }

    # -- tracing -------------------------------------------------------------
    def install_tracing(self) -> None:
        """Wrap each layer's entry points where the program looks them up."""
        from pyspark.sql.classic.dataframe import DataFrame

        from influxdb_iox_spark import database, http_api, rpc_flight, rpc_storage
        from influxdb_iox_spark import storage_proto
        from influxdb_iox_spark.influxql import v1_api
        from influxdb_iox_spark.rpc import InfluxRpc
        from influxdb_iox_spark.sources.store import TableStore
        from influxdb_iox_spark.streaming.ingest import LineProtocolIngest

        t = self.tracer
        sc = self.spark.sparkContext
        # job tags are per thread: set while a request runs on this thread
        t.on_root_enter = lambda rt, req: sc.addJobTag(f"{JOB_TAG}-{rt}-{req}")
        t.on_root_exit = lambda rt, req: sc.removeJobTag(f"{JOB_TAG}-{rt}-{req}")

        # request roots, one per transport; gRPC sends each storage
        # response message while the generator is suspended
        t.patch(rpc_storage.StorageFlightServer, "do_action", "rpc_storage.call", "gen",
                rtype=lambda _self, _ctx, action: STORAGE_RTYPES.get(action.type, action.type),
                suspended="rpc_storage.stream")
        t.patch(rpc_flight.IoxFlightServer, "do_get", "rpc_flight.do_get", rtype="flight_sql")
        make_handler = http_api._make_handler

        def traced_handler(api):
            cls = make_handler(api)
            for method in ("do_GET", "do_POST"):
                t.patch(cls, method, "http.request", rtype=lambda h: HTTP_RTYPES.get(
                    urlparse(h.path).path, "http_other"))
            return cls

        http_api._make_handler = traced_handler

        # layers
        t.patch(http_api.IoxHttpServer, "_do_write", "http_api.write",
                attrs=lambda a, _out: {"lines": sum(1 for ln in a[2].splitlines() if ln.strip())})
        t.patch(http_api.IoxHttpServer, "handle_v1_query", "http_api.query")
        t.patch(LineProtocolIngest, "parse_lines_df", "ingest.parse")
        t.patch(v1_api, "run_statements", "influxql.run")
        t.patch(v1_api, "parse", "influxql.parse")
        t.patch(v1_api, "plan_select_with_tags", "influxql.plan")
        t.patch(database.Database, "query", "database.query")
        t.patch(database.Database, "register_views", "database.register_views")
        # register_views builds system_chunks first thing on a cache miss only
        t.patch(database.Database, "system_chunks", "database.reregister")
        t.patch(InfluxRpc, "read_filter_all", "rpc.plan")
        t.patch(InfluxRpc, "read_window_aggregate", "rpc.plan")
        t.patch(rpc_storage, "frame_series", "series.frame", "pull",
                attrs=lambda _a, sf: {"rows": len(sf.rows)})
        t.patch(storage_proto, "series_to_frames", "proto.frames")
        t.patch(rpc_storage, "encode_message", "proto.encode",
                attrs=lambda _a, out: {"bytes": len(out)})
        # the Flight result's Spark job runs inside toArrow
        t.patch(DataFrame, "toArrow", "spark.to_arrow")
        t.patch(TableStore, "scan", "store.scan")
        t.patch(TableStore, "prune_chunks", "store.prune",
                attrs=lambda _a, out: {"chunks": len(out)})
        t.patch(TableStore, "read_chunk", "store.read_chunk")
        t.patch(TableStore, "write_chunks_partitioned", "store.write",
                attrs=lambda _a, out: {"chunks": len(out),
                                       "bytes": sum(m.estimated_bytes or 0 for m in out)})
        t.patch(TableStore, "register_chunks", "store.register")

    def spark_counters(self) -> dict:
        """Per traced request: jobs, completed stages and tasks, executor
        run and CPU time, shuffle bytes written — from Spark's status
        store, grouped by the job tag each request root set."""
        sc = self.spark.sparkContext
        status = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        stages = {}
        for sd in _scala_iter(status.stageList(None, False, False, no_quantiles, None)):
            stages[sd.stageId()] = (
                str(sd.status()) == "COMPLETE",
                sd.numCompleteTasks(),
                sd.executorRunTime() / 1e3,
                sd.executorCpuTime() / 1e9,
                sd.shuffleWriteBytes(),
            )
        out: dict[str, dict[str, dict]] = {}
        for job in _scala_iter(status.jobsList(None)):
            tags = [x for x in str(job.jobTags().mkString("\x1f")).split("\x1f")
                    if x.startswith(JOB_TAG + "-")]
            if not tags:
                continue
            _, rtype, req = tags[0].rsplit("-", 2)
            acc = out.setdefault(rtype, {}).setdefault(req, {"jobs": 0, "stage_ids": set()})
            acc["jobs"] += 1
            ids = str(job.stageIds().mkString(","))
            acc["stage_ids"].update(int(x) for x in ids.split(",") if x)
        for reqs in out.values():
            for acc in reqs.values():
                done = [stages[s] for s in acc.pop("stage_ids") if s in stages and stages[s][0]]
                acc.update(
                    stages=len(done),
                    tasks=sum(d[1] for d in done),
                    executor_run_s=sum(d[2] for d in done),
                    executor_cpu_s=sum(d[3] for d in done),
                    shuffle_bytes=sum(d[4] for d in done),
                )
        return out

    # -- shutdown ------------------------------------------------------------
    def verify_store(self) -> dict:
        """Reopen the store with a fresh TableStore and Database and report
        what a new reader sees: rows, distinct (host, time) keys, value
        sums (time as offsets from the seed's epoch), registered chunks,
        chunk directories no manifest entry names, and bytes on disk."""
        from pyspark.sql import functions as F

        from influxdb_iox_spark.database import Database
        from influxdb_iox_spark.sources.store import TableStore

        store = TableStore(self.store_dir)
        db = Database("verify", store, self.spark)
        db.register_table(wl.MEASUREMENT, self.schema)
        row = db.table(wl.MEASUREMENT).agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("host", "time").alias("keys"),
            F.sum("usage").alias("usage"),
            F.sum("temp").alias("temp"),
            F.sum(F.col("time") - F.lit(wl.epoch(self.args.seed))).alias("time"),
        ).collect()[0]
        chunks = store.manifest(wl.MEASUREMENT) if wl.MEASUREMENT in store.tables() else []
        registered = {os.path.normpath(c.path) for c in chunks}
        table_dir = os.path.join(self.store_dir, wl.MEASUREMENT)
        on_disk = {
            os.path.normpath(os.path.join(wl.MEASUREMENT, d))
            for d in (os.listdir(table_dir) if os.path.isdir(table_dir) else [])
            if d.startswith("chunk-")
        }
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dirs, files in os.walk(self.store_dir)
            for f in files
        )
        return {
            "rows": row["rows"],
            "keys": row["keys"],
            "usage": row["usage"] or 0.0,
            "temp": row["temp"] or 0.0,
            "time": row["time"] or 0,
            "chunks": len(chunks),
            "orphan_chunks": len(on_disk - registered),
            "bytes_on_disk": size,
        }

    def stop(self) -> dict:
        self.tracer.enabled = False
        self.http.stop()
        self.storage.shutdown()
        self.flight.shutdown()
        out = {"store": self.verify_store()}
        if self.args.trace:
            out["spark"] = self.spark_counters()
            path = os.path.join(self.work, "spans.json")
            with open(path, "w") as f:
                json.dump(self.tracer.spans, f)
            out["spans"] = path
        return out


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("storage_read", "ingest_mixed"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    srv = Server(args)
    try:
        setup = srv.setup()
        if args.trace:
            srv.install_tracing()
        ports = srv.start()
        emit("ready", ports=ports, setup_s=setup, session_s=srv.session_s, master=srv.master)
        for line in sys.stdin:
            cmd = json.loads(line)
            if cmd["cmd"] == "trace":
                srv.tracer.enabled = bool(cmd["on"])
                emit("ok")
            elif cmd["cmd"] == "stop":
                emit("stopped", **srv.stop())
                break
    finally:
        srv.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
