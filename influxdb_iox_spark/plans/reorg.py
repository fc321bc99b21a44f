"""Reorganization plans: compact and persist-split — the lifecycle jobs.

Reference: ReorgPlanner (/root/reference/query/src/frontend/reorg.rs —
compact_plan :64-100, split_plan :146) and StreamSplitExec
(query/src/exec/split.rs:36-56): partition 0 receives rows where the split
expression is TRUE, partition 1 receives FALSE **and NULL** rows.

Spark-first: a compact is read-overlapping-chunks → dedup → PK-sort → write
one chunk; a split is two filtered writes off one cached upstream.  The
lifecycle driver (when to compact/persist, reference
lifecycle/src/policy.rs:187,291) is a policy loop over the manifest.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


@contextmanager
def _reorg_pool(spark: SparkSession):
    """Run reorg jobs in their own scheduler pool so background compaction
    never starves interactive queries — the Spark twin of the reference's
    separate reorg executor (query/src/exec/task.rs DedicatedExecutor;
    weight pools via spark.scheduler.mode=FAIR)."""
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "reorg")
    try:
        yield
    finally:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

from influxdb_iox_spark.database import Database
from influxdb_iox_spark.operators.dedup import DEDUP_ORDER_COLUMN, deduplicate
from influxdb_iox_spark.operators.overlap import group_potential_duplicates
from influxdb_iox_spark.schema import IoxSchema, merge_chunk_frames
from influxdb_iox_spark.sources.store import ChunkMeta, TableStore


def compact_chunks(
    spark: SparkSession,
    store: TableStore,
    table: str,
    schema: IoxSchema,
    chunk_ids: list[int] | None = None,
) -> ChunkMeta:
    """Merge chunks → dedup → sort by PK → ONE new chunk; retire the inputs.

    The Spark ReorgPlanner.compact_plan (reorg.rs:64-100).  After a compact,
    the group's PK ranges no longer overlap anything retired, so subsequent
    scans take the no-dedup fast path — same effect as the reference moving
    chunks to a clean read-buffer chunk.
    """
    import time as _time

    chunks = store.manifest(table)
    if chunk_ids is not None:
        chunks = [c for c in chunks if c.chunk_id in chunk_ids]
    if not chunks:
        raise ValueError(f"no chunks to compact for {table!r}")

    partition_key = (
        chunks[0].partition_key if len({c.partition_key for c in chunks}) == 1 else ""
    )
    ids = [c.chunk_id for c in chunks]
    t0 = _time.perf_counter()
    try:
        with _reorg_pool(spark):
            # delete tombstones fold PHYSICALLY here: each input chunk is
            # filtered by its applicable tombstones (before dedup, same
            # order as the scan path), so the compacted output no longer
            # contains the deleted rows.  GC is restricted to the
            # tombstones THIS job applied, and any tombstone registered
            # mid-job (snapshotting our inputs but unapplied) is
            # re-pointed at the output so the delete stays effective —
            # unrestricted GC would silently lose it (review finding).
            tomb = store._tombstones_for_chunks(table, chunks)
            applied = {tid for lst in tomb.values() for tid, _ in lst}

            ordered = [
                store.apply_tombstones(
                    store.read_chunk(spark, m, schema), m.chunk_id, tomb,
                    schema.time_column,
                ).withColumn(DEDUP_ORDER_COLUMN, F.lit(m.chunk_id))
                for m in sorted(chunks, key=lambda m: m.chunk_id)
            ]
            df = deduplicate(
                merge_chunk_frames(ordered),
                schema.tag_columns,
                schema.field_columns,
                schema.time_column,
            )
            meta = store.write_chunk(
                df, table, schema, partition_key=partition_key, dedup_batch=False,
                # the merge of fully-drained inputs is itself drained; losing
                # the flag would let the policy re-persist already-persisted
                # data every sweep
                persisted=all(c.persisted for c in chunks),
            )
            store.drop_chunks(table, ids)
            store.retarget_tombstones(table, ids, [meta.chunk_id], applied)
            store.gc_tombstones(table, only_ids=applied)
    except Exception:
        store.record_operation(
            "CompactChunks", table, partition_key, ids, "Error",
            int((_time.perf_counter() - t0) * 1e9),
            f"Compacting chunks {ids} of table '{table}'",
        )
        raise
    store.record_operation(
        "CompactChunks", table, partition_key, ids, "Complete",
        int((_time.perf_counter() - t0) * 1e9),
        f"Compacting chunks {ids} of table '{table}'",
    )
    return meta


def compact_overlapping(
    spark: SparkSession, store: TableStore, table: str, schema: IoxSchema
) -> list[ChunkMeta]:
    """Compact every overlapping chunk group (the policy loop's main move —
    lifecycle/src/policy.rs:187 maybe_compact_chunks).

    Groups are formed WITHIN each partition key, like the reference's
    per-partition lifecycle: cross-partition compaction would produce chunks
    with an unknown partition key that partition-filtered scans must then
    conservatively include forever.
    """
    by_part: dict[str, list] = {}
    for c in store.manifest(table):
        by_part.setdefault(c.partition_key, []).append(c)
    out = []
    for chunks in by_part.values():
        groups = group_potential_duplicates(chunks, schema.primary_key)
        for g in groups:
            if len(g) > 1:
                out.append(
                    compact_chunks(
                        spark, store, table, schema, [chunks[i].chunk_id for i in g]
                    )
                )
    return out


def split_frame(df: DataFrame, split_expr: Column) -> tuple[DataFrame, DataFrame]:
    """StreamSplit semantics (split.rs:36-56): (TRUE rows, FALSE-or-NULL rows).

    Used by persist: rows with ``time <= split_time`` go to the persist
    stream, the rest (including NULL-evaluating rows) stay hot.
    """
    hot = df.filter(~split_expr | split_expr.isNull())
    cold = df.filter(split_expr)
    return cold, hot


def persist_split(
    spark: SparkSession,
    store: TableStore,
    table: str,
    schema: IoxSchema,
    split_time_ns: int,
    chunk_ids: list[int] | None = None,
) -> tuple[ChunkMeta | None, ChunkMeta | None]:
    """ReorgPlanner.split_plan (reorg.rs:146): compact the inputs, then write
    rows with time <= split_time as the persisted chunk and the remainder as
    the new hot chunk.  Returns (persisted, hot) chunk metas (None if empty).
    """
    import time as _time

    chunks = store.manifest(table)
    if chunk_ids is not None:
        chunks = [c for c in chunks if c.chunk_id in chunk_ids]
    if not chunks:
        return None, None
    _ids = [c.chunk_id for c in chunks]
    _pkey = (
        chunks[0].partition_key if len({c.partition_key for c in chunks}) == 1 else ""
    )
    _t0 = _time.perf_counter()
    try:
        return _persist_split_inner(
            spark, store, table, schema, split_time_ns, chunks, _ids, _pkey, _t0
        )
    except Exception:
        store.record_operation(
            "PersistChunks", table, _pkey, _ids, "Error",
            int((_time.perf_counter() - _t0) * 1e9),
            f"Persisting chunks {_ids} of table '{table}' split at {split_time_ns}",
        )
        raise


def _persist_split_inner(
    spark, store, table, schema, split_time_ns, chunks, _ids, _pkey, _t0
):
    import time as _time

    with _reorg_pool(spark):
        # persist rewrites its inputs too — fold tombstones exactly like
        # compact_chunks (shared helper, same mid-job retarget + scoped GC)
        tomb = store._tombstones_for_chunks(table, chunks)
        applied = {tid for lst in tomb.values() for tid, _ in lst}

        ordered = [
            store.apply_tombstones(
                store.read_chunk(spark, m, schema), m.chunk_id, tomb,
                schema.time_column,
            ).withColumn(DEDUP_ORDER_COLUMN, F.lit(m.chunk_id))
            for m in sorted(chunks, key=lambda m: m.chunk_id)
        ]
        df = deduplicate(
            merge_chunk_frames(ordered),
            schema.tag_columns,
            schema.field_columns,
            schema.time_column,
        ).cache()
        try:
            cold, hot = split_frame(
                df, F.col(schema.time_column) <= F.lit(split_time_ns)
            )
            # Thread the source partition key through (the reference
            # reorganizes within one partition — reorg.rs operates on a
            # single partition's chunks); "" would make prune_chunks treat
            # the outputs as belonging to no partition.
            partition_key = _pkey
            cold_meta = hot_meta = None
            if cold.limit(1).count():
                cold_meta = store.write_chunk(
                    cold, table, schema, partition_key=partition_key,
                    dedup_batch=False, persisted=True,
                )
            if hot.limit(1).count():
                hot_meta = store.write_chunk(
                    hot, table, schema, partition_key=partition_key, dedup_batch=False
                )
            store.drop_chunks(table, [c.chunk_id for c in chunks])
            successors = [
                m.chunk_id for m in (cold_meta, hot_meta) if m is not None
            ]
            store.retarget_tombstones(
                table, [c.chunk_id for c in chunks], successors, applied
            )
            store.gc_tombstones(table, only_ids=applied)
            store.record_operation(
                "PersistChunks", table, _pkey, _ids, "Complete",
                int((_time.perf_counter() - _t0) * 1e9),
                f"Persisting chunks {_ids} of table '{table}' "
                f"split at {split_time_ns}",
            )
            return cold_meta, hot_meta
        finally:
            df.unpersist()
