"""TableStore.scan's plan cache: an unchanged chunk set is planned once and
reused by every read frontend, every catalog mutation yields a different
cache key (so a later read answers exactly like a fresh store), and reads
racing writes stay read-your-writes."""

from __future__ import annotations

import sys
import threading

import pytest

from influxdb_iox_spark.database import Database
from influxdb_iox_spark.plans.predicate import DeleteExpr, DeletePredicate, Predicate
from influxdb_iox_spark.plans.reorg import compact_chunks
from influxdb_iox_spark.rpc import InfluxRpc
from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
from influxdb_iox_spark.sources import store as store_mod
from influxdb_iox_spark.sources.store import TableStore
from influxdb_iox_spark.streaming.ingest import LineProtocolIngest, commit_lines

CPU = IoxSchema.build(["host"], {"usage": InfluxColumnType.FIELD_FLOAT})
DDL = "host string, usage double, time long"


def _write(spark, store, rows, schema=CPU):
    return store.write_chunk(spark.createDataFrame(rows, DDL), "cpu", schema)


def make_store(spark, path) -> TableStore:
    """Two overlapping chunks (one dedup group), two clean chunks."""
    store = TableStore(str(path))
    _write(spark, store, [("a", 1.0, 100), ("b", 2.0, 150)])
    _write(spark, store, [("a", 9.0, 100), ("c", 3.0, 120)])  # upserts (a,100)
    _write(spark, store, [("d", 40.0, 1_000), ("e", 50.0, 1_100)])
    _write(spark, store, [("f", 6.0, 5_000)])
    return store


def answer(df) -> tuple:
    return tuple(df.columns), sorted(str(tuple(r)) for r in df.collect())


def reads(db: Database) -> list[tuple]:
    return [answer(db.table("cpu")), answer(db.table("cpu", Predicate().with_range(0, 2_000)))]


def _mut_write(spark, store, db):
    _write(spark, store, [("a", 7.0, 150), ("g", 8.0, 160)])


def _mut_delete(spark, store, db):
    store.delete_predicate("cpu", DeletePredicate(exprs=[DeleteExpr("host", "=", "a")]))


def _mut_compact(spark, store, db):
    # the overlap group folds into one clean chunk: same rows, new plan; the
    # retired input files are gone, so a stale plan would fail to read
    compact_chunks(spark, store, "cpu", CPU, [c.chunk_id for c in store.manifest("cpu")[:2]])


def _mut_drop(spark, store, db):
    store.drop_chunks("cpu", [store.manifest("cpu")[2].chunk_id])


def _mut_gc_retired(spark, store, db):
    store.drop_chunks("cpu", [store.manifest("cpu")[3].chunk_id], defer_delete_seconds=3600)
    assert store.gc_retired("cpu", grace_seconds=0) == 1


WIDER = IoxSchema.build(
    ["host"],
    {"usage": InfluxColumnType.FIELD_FLOAT, "extra": InfluxColumnType.FIELD_INTEGER},
)


def _mut_register_table(spark, store, db):
    db.register_table("cpu", WIDER)


@pytest.mark.parametrize(
    "mutate",
    [_mut_write, _mut_delete, _mut_compact, _mut_drop, _mut_gc_retired, _mut_register_table],
    ids=["write", "delete_predicate", "compact_chunks", "drop_chunks", "gc_retired",
         "register_table"],
)
def test_mutation_changes_the_cached_plan(spark, tmp_path, mutate):
    """Read through a long-lived Database (populating the plan cache),
    mutate, read again: the answer equals a fresh TableStore's."""
    store = make_store(spark, tmp_path / "s")
    db = Database("db", store, spark)
    db.register_table("cpu", CPU)
    before = reads(db)
    assert reads(db) == before  # second read served from the cache

    mutate(spark, store, db)
    fresh = Database("fresh", TableStore(store.base_dir), spark)
    fresh.register_table("cpu", db.table_schema("cpu"))
    expected = reads(fresh)
    assert reads(db) == expected
    if mutate is not _mut_compact:  # compaction keeps the answer
        assert expected != before


def test_hit_reads_no_chunk_and_a_third_of_the_py4j_calls(spark, tmp_path, monkeypatch):
    """An identical second scan reuses the merged plan: no chunk is opened,
    at most a third of the first scan's py4j round trips, and the pruning
    metrics advance exactly as on a miss."""
    store = make_store(spark, tmp_path / "s")
    store.delete_predicate("cpu", DeletePredicate(exprs=[DeleteExpr("host", "=", "b")]))
    _write(spark, store, [("h", 7.0, 9_000)])  # not under the tombstone

    chunk_reads = []
    read_chunk = TableStore.read_chunk
    monkeypatch.setattr(
        TableStore, "read_chunk",
        lambda self, *a: chunk_reads.append(a) or read_chunk(self, *a),
    )
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command
    monkeypatch.setattr(
        client, "send_command", lambda *a, **k: calls.append(1) or send(*a, **k)
    )

    def scan():
        # the time range prunes the 9_000 chunk, usage < 10 the clean
        # (d, e) chunk on its field stats
        pred = Predicate().with_range(0, 6_000).with_col_range("usage", hi=10.0, hi_open=True)
        metrics_before = {k: dict(v) for k, v in store.prune_metrics.items()}
        del calls[:], chunk_reads[:]
        df = store.scan(spark, "cpu", CPU, pred)
        py4j, reads = len(calls), len(chunk_reads)
        delta = {
            k: v - metrics_before.get("cpu", {}).get(k, 0)
            for k, v in store.prune_metrics["cpu"].items()
        }
        return df, py4j, reads, delta

    miss, miss_calls, miss_reads, miss_delta = scan()
    hit, hit_calls, hit_reads, hit_delta = scan()
    assert miss_reads == 2 and hit_reads == 0
    assert hit_calls * 3 <= miss_calls, (hit_calls, miss_calls)
    assert hit_delta == miss_delta == {
        "query_access_pruned_chunks_total": 2, "query_access_pruned_rows_total": 3,
    }
    assert answer(hit) == answer(miss)
    assert sorted(r.host for r in hit.collect()) == ["a", "c", "f"]


def test_plan_cache_is_bounded_lru(spark, tmp_path, monkeypatch):
    """Past the bound the least recently used plan is dropped."""
    monkeypatch.setattr(store_mod, "SCAN_PLAN_CACHE_SIZE", 2)
    store = make_store(spark, tmp_path / "s")
    preds = [Predicate().with_range(lo, hi) for lo, hi in [(0, 500), (900, 1_200), (4_000, 6_000)]]
    for p in preds[:2]:
        store.scan(spark, "cpu", CPU, p)
    store.scan(spark, "cpu", CPU, preds[0])  # preds[1] is now the oldest
    store.scan(spark, "cpu", CPU, preds[2])
    assert len(store._scan_plans) == 2
    built = []
    plan_scan = TableStore._plan_scan
    monkeypatch.setattr(
        TableStore, "_plan_scan", lambda self, *a: built.append(1) or plan_scan(self, *a)
    )
    for p in [preds[0], preds[2], preds[1]]:
        store.scan(spark, "cpu", CPU, p)
    assert len(built) == 1  # only the evicted chunk set is planned again


def test_reads_racing_writes_see_a_committed_prefix(spark, tmp_path):
    """ReadFilter threads against one writer committing bodies: every
    answer is the union of some committed prefix of bodies, never older
    than the writes acknowledged before the read was sent."""
    store = TableStore(str(tmp_path / "s"))
    db = Database("db", store, spark)
    db.register_table("cpu", CPU)
    ing = LineProtocolIngest(store, "cpu", CPU)
    rpc = InfluxRpc(db)
    bodies = [
        [f"cpu,host=h{k} usage={i}.5 {1_000 * i + k}" for k in range(3)] for i in range(5)
    ]
    prefixes = [
        sorted(
            (f"h{k}", 1_000 * i + k, i + 0.5) for i in range(n) for k in range(3)
        )
        for n in range(len(bodies) + 1)
    ]
    acked = [0]
    done = threading.Event()
    errors: list = []

    def writer():
        try:
            for i, body in enumerate(bodies):
                commit_lines([ing], spark.createDataFrame([(ln,) for ln in body], "value string"))
                acked[0] = i + 1
        except Exception as e:  # surfaced by the main thread
            errors.append(e)
        finally:
            done.set()

    def reader():
        try:
            while True:
                last = done.is_set()
                sent_after = acked[0]
                got = sorted(
                    (r["host"], r["time"], r["usage"])
                    for f in rpc.read_filter_frames_all(Predicate())
                    for r in f.rows.to_pylist()
                )
                assert got in prefixes, got
                assert prefixes.index(got) >= sent_after, (prefixes.index(got), sent_after)
                if last:
                    assert got == prefixes[-1]
                    return
        except Exception as e:
            errors.append(e)

    # more threads than cores, switching often: a lost cache update or a
    # torn LRU shows as an error or a stale answer
    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader) for _ in range(4)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors
    assert not any(t.is_alive() for t in threads)
