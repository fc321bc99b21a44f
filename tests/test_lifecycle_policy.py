"""Lifecycle policy + tag catalog + RPC facade."""

from __future__ import annotations

from influxdb_iox_spark.database import Database
from influxdb_iox_spark.rpc import InfluxRpc
from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
from influxdb_iox_spark.sources.store import TableStore
from influxdb_iox_spark.streaming.lifecycle import LifecyclePolicy, LifecycleRules

CPU = IoxSchema.build(["region"], {"user": InfluxColumnType.FIELD_FLOAT})
S = 1_000_000_000


def build(spark, tmp_path):
    store = TableStore(str(tmp_path))
    c0 = spark.createDataFrame(
        [("west", 1.0, 100 * S), ("east", 2.0, 200 * S)],
        "region string, user double, time long",
    )
    c1 = spark.createDataFrame(
        [("west", 3.0, 100 * S), ("west", 4.0, 900 * S)],
        "region string, user double, time long",
    )
    store.write_chunk(c0, "cpu", CPU)
    store.write_chunk(c1, "cpu", CPU)
    db = Database("db", store, spark)
    db.register_table("cpu", CPU)
    return store, db


def test_tag_catalog_fast_path(spark, tmp_path):
    store, db = build(spark, tmp_path)
    assert store.catalog_tag_values("cpu", "region") == ["east", "west"]
    rpc = InfluxRpc(db)
    # metadata-only path (no Spark job needed) must agree with scan path
    assert rpc.tag_values("cpu", "region") == ["east", "west"]


def test_policy_compact_then_persist(spark, tmp_path):
    store, db = build(spark, tmp_path)
    policy = LifecyclePolicy(
        spark, store, {"cpu": CPU},
        LifecycleRules(late_arrive_window_seconds=300),
    )
    assert policy.max_seen_time_ns("cpu") == 900 * S
    before = sorted(
        tuple(r) for r in db.table("cpu").select("region", "user", "time").collect()
    )
    report = policy.check_for_work()
    assert report["cpu"]["compacted"]  # the two overlapping chunks merged
    assert report["cpu"]["persisted"]  # split at 900s - 300s = 600s
    after_chunks = store.manifest("cpu")
    # 3 unique rows: cold chunk (<= 600s: west@100, east@200) + hot (west@900)
    assert sorted(c.row_count for c in after_chunks) == [1, 2]
    after = sorted(
        tuple(r) for r in db.table("cpu").select("region", "user", "time").collect()
    )
    assert after == before  # scenario-dual equality across lifecycle moves


def test_rpc_facade_data_ops(spark, tmp_path):
    from influxdb_iox_spark.operators.series import Aggregate

    store, db = build(spark, tmp_path)
    rpc = InfluxRpc(db)
    out = {r.region: r.user for r in rpc.read_group("cpu", Aggregate.SUM).collect()}
    # west@100 deduped to chunk 1's 3.0 (last chunk wins) + west@900 = 7.0
    assert out == {"east": 2.0, "west": 7.0}
    frames = list(rpc.read_filter_frames("cpu"))
    assert [f.tags["region"] for f in frames] == ["east", "west"]


def test_policy_never_mints_empty_partition_keys(spark, tmp_path):
    """Compact/persist group WITHIN partition keys: after a sweep, every
    chunk still carries its partition's key (no ""-key chunks that
    partition-filtered scans must conservatively include forever)."""
    store = TableStore(str(tmp_path / "pk"))
    for key, t in [("2020-09-13", 100 * S), ("2020-09-14", 86400 * S + 100 * S)]:
        for v in (1.0, 2.0):  # two overlapping chunks per partition
            df = spark.createDataFrame(
                [("west", v, t)], "region string, user double, time long"
            )
            store.write_chunk(df, "cpu", CPU, partition_key=key)
    policy = LifecyclePolicy(
        spark, store, {"cpu": CPU}, LifecycleRules(late_arrive_window_seconds=1)
    )
    policy.check_for_work()
    keys = {c.partition_key for c in store.manifest("cpu")}
    assert "" not in keys
    assert keys <= {"2020-09-13", "2020-09-14"}


def test_partition_key_floors_negative_time(spark):
    """Pre-1970 ns must floor to the previous µs/day, not round toward 1970:
    t = -1ns belongs to 1969-12-31, never 1970-01-01."""
    from influxdb_iox_spark.streaming.ingest import PartitionTemplate

    df = spark.createDataFrame([(-1,), (-86_400 * S - 1,)], "time long")
    keys = [
        r.k
        for r in df.select(
            PartitionTemplate().key_column("cpu", "time").alias("k")
        ).collect()
    ]
    assert keys == ["1969-12-31", "1969-12-30"]


def test_drop_chunks_deferred_gc(spark, tmp_path):
    import os

    store = TableStore(str(tmp_path / "gc"))
    df = spark.createDataFrame([("west", 1.0, 100)], "region string, user double, time long")
    meta = store.write_chunk(df, "cpu", CPU)
    chunk_dir = os.path.join(store.base_dir, meta.path)
    store.drop_chunks("cpu", [meta.chunk_id], defer_delete_seconds=3600)
    # manifest no longer lists it, but the files survive the grace period
    assert store.manifest("cpu") == []
    assert os.path.isdir(chunk_dir)
    assert store.gc_retired("cpu", 3600) == 0
    assert store.gc_retired("cpu", 0) == 1  # grace elapsed -> reclaimed
    assert not os.path.isdir(chunk_dir)


def test_rpc_distributed_frames_match_driver_frames(spark, tmp_path):
    store, db = build(spark, tmp_path)
    rpc = InfluxRpc(db)
    driver = {
        tuple(sorted(f.tags.items())): list(zip(*f.rows.to_pydict().values()))
        for f in rpc.read_filter_frames("cpu")
    }
    dist = {}
    for r in rpc.read_filter_frames_distributed("cpu").collect():
        key = tuple(sorted({"region": r.region}.items()))
        dist[key] = [
            (r.region, r.user[i], r.time[i]) for i in range(r.n_rows)
        ]
    assert dist == driver


def test_reorg_pool_isolates_interactive_queries_under_fair():
    """A long compaction-style job in the 'reorg' pool must not starve an
    interactive query in the default pool when the scheduler runs FAIR.

    Runs in a subprocess: scheduler mode is fixed at SparkContext creation,
    so the shared FIFO test session cannot host this.  In the child, a
    64-task sleep job occupies the reorg pool (via the same _reorg_pool
    context compact_chunks/persist_split use); a trivial default-pool query
    issued mid-flight must complete in a small fraction of the reorg job's
    remaining runtime.
    """
    import subprocess
    import sys

    child = r"""
import threading, time
from influxdb_iox_spark.session import get_spark
from influxdb_iox_spark.plans.reorg import _reorg_pool

spark = get_spark(
    app_name="fair-test", master="local[4]", shuffle_partitions=4,
    extra_conf={"spark.scheduler.mode": "FAIR"},
)
sc = spark.sparkContext
assert sc.getConf().get("spark.scheduler.mode") == "FAIR"

done_at = {}

def reorg_job():
    with _reorg_pool(spark):
        assert sc.getLocalProperty("spark.scheduler.pool") == "reorg"
        def slow(it):
            time.sleep(0.5)
            return it
        spark.sparkContext.parallelize(range(64), 64).mapPartitions(slow).count()
    done_at["reorg"] = time.perf_counter()

t = threading.Thread(target=reorg_job)
t0 = time.perf_counter()
t.start()
time.sleep(2.0)  # let the reorg job occupy the cluster
q0 = time.perf_counter()
n = spark.range(1000).count()
q_elapsed = time.perf_counter() - q0
t.join()
reorg_elapsed = done_at["reorg"] - t0
assert n == 1000
# 64 tasks x 0.5s / 4 cores ~ 8s of reorg runtime; the interactive query
# must not wait for it (FIFO would queue it behind ~6s of remaining tasks)
assert q_elapsed < 0.5 * (reorg_elapsed - 2.0), (q_elapsed, reorg_elapsed)
print(f"OK interactive={q_elapsed:.2f}s reorg={reorg_elapsed:.2f}s")
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", child],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "OK interactive=" in proc.stdout


def test_byte_based_lifecycle_rules(spark, tmp_path):
    """Byte twins of the row rules: a group over compact_max_group_bytes is
    skipped; exceeding buffer_size_soft overrides min_age so persistence
    drains eagerly (database_rules.rs buffer_size_soft)."""
    from influxdb_iox_spark.streaming.lifecycle import (
        LifecyclePolicy,
        LifecycleRules,
    )

    store = TableStore(str(tmp_path / "bytes"))
    for v in (1.0, 2.0):
        df = spark.createDataFrame(
            [("west", v, 100)], "region string, user double, time long"
        )
        store.write_chunk(df, "cpu", CPU, partition_key="p1")
    assert all(c.estimated_bytes > 0 for c in store.manifest("cpu"))

    # group bytes cap: 1 byte cap -> no compaction happens
    pol = LifecyclePolicy(
        spark, store, {"cpu": CPU},
        LifecycleRules(compact_max_group_bytes=1),
    )
    assert pol.maybe_compact("cpu") == []
    # permissive cap -> compacts the overlapping pair
    pol2 = LifecyclePolicy(spark, store, {"cpu": CPU}, LifecycleRules())
    assert len(pol2.maybe_compact("cpu")) == 1

    # soft byte limit overrides min_age for persistence
    store2 = TableStore(str(tmp_path / "soft"))
    df = spark.createDataFrame(
        [("west", 1.0, 100), ("west", 2.0, 10_000_000_000_000)],
        "region string, user double, time long",
    )
    store2.write_chunk(df, "cpu", CPU, partition_key="p1")
    age_gated = LifecyclePolicy(
        spark, store2, {"cpu": CPU},
        LifecycleRules(min_age_seconds=3600),
    )
    assert age_gated.maybe_persist("cpu") == []  # too young
    pressured = LifecyclePolicy(
        spark, store2, {"cpu": CPU},
        LifecycleRules(min_age_seconds=3600, buffer_size_soft=1),
    )
    assert len(pressured.maybe_persist("cpu")) == 1  # pressure wins


def test_persist_split_cold_output_not_repersisted(spark, tmp_path):
    """The cold output of a persist-split is marked persisted and must not
    re-qualify as a candidate on the next sweep (no re-split churn, and its
    bytes are not pending-buffer pressure for buffer_size_soft)."""
    from influxdb_iox_spark.streaming.lifecycle import (
        LifecyclePolicy,
        LifecycleRules,
    )

    store = TableStore(str(tmp_path / "repersist"))
    df = spark.createDataFrame(
        [("west", 1.0, 100), ("west", 2.0, 10_000_000_000_000)],
        "region string, user double, time long",
    )
    store.write_chunk(df, "cpu", CPU, partition_key="p1")
    pol = LifecyclePolicy(spark, store, {"cpu": CPU}, LifecycleRules())
    assert len(pol.maybe_persist("cpu")) == 1
    cold = [c for c in store.manifest("cpu") if c.persisted]
    assert len(cold) == 1
    # second sweep: nothing to do — the cold chunk does not re-qualify
    assert pol.maybe_persist("cpu") == []
    # and its bytes do not trip the soft limit
    pressured = LifecyclePolicy(
        spark, store, {"cpu": CPU},
        LifecycleRules(min_age_seconds=3600, buffer_size_soft=1),
    )
    assert pressured.maybe_persist("cpu") == []


def test_compact_preserves_persisted_flag(spark, tmp_path):
    """Compacting fully-drained (persisted) chunks yields a persisted chunk;
    mixing in an unpersisted chunk clears the flag — otherwise the policy
    would re-persist already-drained data every sweep."""
    from influxdb_iox_spark.plans.reorg import compact_chunks

    store = TableStore(str(tmp_path / "pflag"))
    ddl = "region string, user double, time long"
    m1 = store.write_chunk(
        spark.createDataFrame([("west", 1.0, 100)], ddl), "cpu", CPU,
        partition_key="p1", persisted=True,
    )
    m2 = store.write_chunk(
        spark.createDataFrame([("west", 2.0, 100)], ddl), "cpu", CPU,
        partition_key="p1", persisted=True,
    )
    merged = compact_chunks(spark, store, "cpu", CPU, [m1.chunk_id, m2.chunk_id])
    assert merged.persisted is True

    m3 = store.write_chunk(
        spark.createDataFrame([("west", 3.0, 100)], ddl), "cpu", CPU,
        partition_key="p1",
    )
    merged2 = compact_chunks(
        spark, store, "cpu", CPU, [merged.chunk_id, m3.chunk_id]
    )
    assert merged2.persisted is False


def test_scan_pins_no_spark_storage_memory(spark, tmp_path):
    """Pins SCALE.md round-9's claim that the reference's
    maybe_free_memory (lifecycle/src/policy.rs:55-130) has nothing to
    evict here: the scan path holds chunk data in NO Spark storage
    blocks (no cache/persist anywhere), so the only in-memory copy is
    the OS page cache, whose kernel LRU IS the unload-persisted-chunks
    arm of the reference sweep.  If a future change caches chunk frames,
    this fails and the eviction design must be revisited."""
    store = TableStore(str(tmp_path / "nopin"))
    db = Database("db", store, spark)
    ddl = "region string, user double, time long"
    for i in range(3):
        store.write_chunk(
            spark.createDataFrame([("west", float(i), 100 + i)], ddl),
            "cpu",
            CPU,
        )
    db.register_table("cpu", CPU)
    jsc = spark.sparkContext._jsc.sc()
    # other tests' localCheckpoints may still be pinned in this shared
    # session; the claim is about the SCAN path, so compare before/after
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    cache_empty_before = (
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )
    # scan + collect twice (a long-lived server's steady state)
    assert db.table("cpu").count() == 3
    assert db.table("cpu").count() == 3
    after = {info.id() for info in jsc.getRDDStorageInfo()}
    assert after - before == set()
    if cache_empty_before:
        # scans must not register anything in the SQL cache manager
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
