"""Database: named tables over a TableStore + SQL surface + system tables.

The Spark twin of the reference's ``Db``/``QueryDatabase``
(/root/reference/query/src/lib.rs:51-68 — ``partition_keys()``,
``table_schema()``, ``chunks(predicate)``) and catalog registration for the
SQL frontend (query/src/frontend/sql.rs:83-93, catalog "public"/"iox" at
query/src/exec/context.rs:33-35).  ``spark.sql`` is the DataFusion-equivalent
SQL engine; registering each table's dedup-correct scan as a temp view gives
the whole SQL surface (joins, unions, information_schema) for free.

System tables (server/src/db/system_tables.rs): ``system.chunks`` /
``system.columns`` are built from the manifest — small driver-side frames.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import Row

from weakref import WeakKeyDictionary

from influxdb_iox_spark.plans.predicate import Predicate
from influxdb_iox_spark.schema import IoxSchema
from influxdb_iox_spark.sources.store import TableStore

# Temp views are SESSION-global, so the "views are current" cache must be
# keyed by session, not by Database instance: with two Databases sharing one
# SparkSession, B's registration overwrites A's views and an instance-local
# flag on A would never notice.  Maps session -> (store dir, version) of the
# LAST registration in that session; any other registrant invalidates.
_VIEW_REGISTRY: WeakKeyDictionary = WeakKeyDictionary()


@dataclass
class Database:
    name: str
    store: TableStore
    spark: SparkSession
    schemas: dict[str, IoxSchema] = field(default_factory=dict)
    #: table -> PersistenceWindows (sequence-exact persist bookkeeping,
    #: fed by the write-buffer consumer; rebuilt on replay like the
    #: reference's in-memory tracker)
    persistence_windows: dict = field(default_factory=dict)
    #: table -> (cells DataFrame, meta) series-cardinality rollups
    #: (pipeline/cardinality.py): once registered, ReadSeriesCardinality
    #: answers from the sketch cells whenever they cover the predicate —
    #: the reference's metadata-first posture (influxrpc.rs:244-293) —
    #: with the exact rescan as the fallback and the opt-in exact path.
    series_rollups: dict = field(default_factory=dict)

    # -- catalog ----------------------------------------------------------
    def register_table(self, table: str, schema: IoxSchema) -> None:
        self.schemas[table] = schema

    def register_series_rollup(self, path: str) -> str:
        """Adopt a persisted series-cardinality rollup
        (``pipeline/cardinality.save_series_rollup``) for metadata-first
        cardinality answers.  Returns the table it covers.

        The registry stores the PATH, not a DataFrame: rollup maintenance
        (``update_rollup`` / ``rebuild_cells``) OVERWRITES the cells
        directory, and a DataFrame captured at registration would hold
        the old file listing — every later query would fail on deleted
        files.  ``rollup_cells`` re-reads per query (a parquet listing of
        a KB-sized table — negligible), so registered rollups stay live
        across maintenance."""
        from influxdb_iox_spark.pipeline.cardinality import load_rollup

        _cells, meta = load_rollup(self.spark, path)
        if meta.get("kind") != "hll_series_rollup":
            raise ValueError(
                f"{path!r} is not a series rollup (kind={meta.get('kind')!r})"
            )
        self.series_rollups[meta["table"]] = (path, meta)
        return meta["table"]

    def rollup_cells(self, table: str) -> "DataFrame":
        """Fresh cells DataFrame for a registered series rollup (re-read
        per call; see register_series_rollup)."""
        import os as _os

        path, _meta = self.series_rollups[table]
        return self.spark.read.parquet(_os.path.join(path, "cells"))

    def drop_table(self, table: str) -> int:
        """DROP MEASUREMENT: drop every chunk (manifest tombstones +
        file deletion via the store's normal crash-safe path) and
        deregister the schema.  Returns the number of chunks dropped."""
        ids = [c.chunk_id for c in self.store.manifest(table)]
        if ids:
            self.store.drop_chunks(table, ids)
        # drop_chunks leaves an (all-tombstoned) manifest log, which
        # would keep the table listed; wiping removes every manifest
        # artifact so the name disappears (PreservedCatalog::wipe twin)
        self.store.wipe_manifest(table)
        self.schemas.pop(table, None)
        return len(ids)

    # -- ingest bookkeeping ------------------------------------------------
    def record_ingest(
        self,
        table: str,
        sequencer_id: int | None,
        sequence_number: int | None,
        row_count: int,
        min_time: int,
        max_time: int,
        late_arrival_seconds: float = 300.0,
        received_at: float | None = None,
    ) -> None:
        """Feed one applied batch into the table's PersistenceWindows
        (persistence_windows.rs add_range) — the write-buffer consumer
        calls this per payload so persist decisions can be
        sequence-exact.  ``late_arrival_seconds`` configures the window
        on first touch only."""
        from influxdb_iox_spark.streaming.persistence_windows import (
            PersistenceWindows,
        )

        w = self.persistence_windows.get(table)
        if w is None:
            w = self.persistence_windows[table] = PersistenceWindows(
                late_arrival_seconds
            )
        w.add_range(
            sequencer_id, sequence_number, row_count, min_time, max_time,
            received_at=received_at,
        )

    def table_names(self) -> list[str]:
        return sorted(set(self.schemas) | set(self.store.tables()))

    def table_schema(self, table: str) -> IoxSchema:
        return self.schemas[table]

    def partition_keys(self, table: str) -> list[str]:
        return sorted({c.partition_key for c in self.store.manifest(table)})

    # -- scan + SQL -------------------------------------------------------
    def table(self, table: str, predicate: Predicate | None = None) -> DataFrame:
        """Dedup-correct DataFrame for one measurement."""
        return self.store.scan(self.spark, table, self.schemas[table], predicate)

    def register_views(self, force: bool = False) -> None:
        """(Re)register every table's dedup-correct scan + system tables as
        temp views.  The per-table plan cost is carried by the store's scan
        plan cache (``TableStore.scan``), which every read frontend shares;
        this registration check only avoids re-registering the session's
        temp views and rebuilding the system tables.  It is keyed on the
        store's catalog_version, so a serving path (HTTP/Flight) issuing
        many queries re-registers only after a write/compaction actually
        changed the manifest — or after ANOTHER Database registered its
        views into the same session (see _VIEW_REGISTRY)."""
        version = (
            self.store.base_dir,
            self.store.catalog_version(),
            tuple(sorted(self.schemas)),
        )
        if not force and _VIEW_REGISTRY.get(self.spark) == version:
            return
        for t in self.schemas:
            self.table(t).createOrReplaceTempView(t)
        self.system_chunks().createOrReplaceTempView("system_chunks")
        self.system_columns().createOrReplaceTempView("system_columns")
        self.system_chunk_columns().createOrReplaceTempView("system_chunk_columns")
        self.system_operations().createOrReplaceTempView("system_operations")
        self.system_persistence_windows().createOrReplaceTempView(
            "system_persistence_windows"
        )
        self.system_cardinality_rollups().createOrReplaceTempView(
            "system_cardinality_rollups"
        )
        self.information_schema_tables().createOrReplaceTempView(
            "information_schema_tables"
        )
        self.information_schema_columns().createOrReplaceTempView(
            "information_schema_columns"
        )
        _VIEW_REGISTRY[self.spark] = version

    def query(self, sql: str) -> DataFrame:
        """SQL frontend — the ``spark.sql`` twin of SqlQueryPlanner::query."""
        self.register_views()
        return self.spark.sql(sql)

    # -- system tables ----------------------------------------------------
    def system_chunks(self) -> DataFrame:
        rows = [
            Row(
                table_name=c.table,
                chunk_id=c.chunk_id,
                partition_key=c.partition_key,
                storage="ObjectStoreOnly",
                row_count=c.row_count,
                sorted_by=",".join(c.sorted_by),
                estimated_bytes=c.estimated_bytes,
            )
            for t in self.store.tables()
            for c in self.store.manifest(t)
        ]
        schema = (
            "table_name string, chunk_id long, partition_key string, "
            "storage string, row_count long, sorted_by string, "
            "estimated_bytes long"
        )
        return self.spark.createDataFrame(rows, schema)

    def system_cardinality_rollups(self) -> DataFrame:
        """system.cardinality_rollups — one row per REGISTERED series
        rollup (beyond the reference, same posture as the other system
        tables: the operator-observable answer to "which cardinality
        statements get the metadata-first sketch path, and at what
        error").  n_cells is counted from the KB-sized cell table, never
        raw data."""
        from influxdb_iox_spark.pipeline.cardinality import DEFAULT_LGK

        # ONE default for both columns: lgk and rse_pct must describe the
        # same sketch (round-14 advice — lgk=0 next to lgk-12's error).
        rows = [
            Row(
                table_name=t,
                keys=",".join(
                    k for k in (meta.get("keys") or []) if k != "__bucket"
                ),
                bucket_ns=meta.get("bucket_ns"),
                lgk=int(lgk),
                rse_pct=round(104.0 / (2 ** (lgk / 2)), 3),
                n_cells=self.rollup_cells(t).count(),
            )
            for t, (_path, meta) in sorted(self.series_rollups.items())
            for lgk in [meta.get("lgk", DEFAULT_LGK)]
        ]
        schema = (
            "table_name string, keys string, bucket_ns long, lgk int, "
            "rse_pct double, n_cells long"
        )
        return self.spark.createDataFrame(rows, schema)

    def system_persistence_windows(self) -> DataFrame:
        """system.persistence_windows — the live per-window sequence
        bookkeeping (persistence_windows.rs:24-74): one row per
        (table, window, sequencer) with its min/max sequence, data-time
        range, and age.  Operators read it to see exactly which sequence
        ranges are still unpersistable and which shard is lagging."""
        rows = []
        for table, w in sorted(self.persistence_windows.items()):
            w.rotate()
            for r in w.summary_rows():
                rows.append({"table_name": table, **r})  # dict = match-by-name
        schema = (
            "table_name string, state string, sequencer_id int, "
            "min_sequence long, max_sequence long, row_count long, "
            "min_time long, max_time long, age_seconds double"
        )
        return self.spark.createDataFrame(rows, schema)

    def system_operations(self) -> DataFrame:
        """system.operations — background-job history
        (server/src/db/system_tables.rs:465-559 OperationsTable; columns
        follow operations_schema:494-504, with the job kind and table name
        added and cpu_time omitted — Spark does not expose per-job cpu)."""
        rows = [
            Row(
                id=o["id"],
                status=o["status"],
                job=o["job"],
                table_name=o["table_name"],
                partition_key=o["partition_key"],
                chunk_ids=",".join(str(i) for i in o["chunk_ids"]),
                wall_time_used=o["wall_nanos"],
                description=o["description"],
            )
            for o in self.store.operations()
        ]
        schema = (
            "id string, status string, job string, table_name string, "
            "partition_key string, chunk_ids string, wall_time_used long, "
            "description string"
        )
        return self.spark.createDataFrame(rows, schema)

    def system_chunk_columns(self) -> DataFrame:
        """system.chunk_columns (server/src/db/system_tables.rs:373-461
        assemble_chunk_columns): one row per (chunk, column) with min/max
        stats and estimated byte sizes.

        Built ENTIRELY from the manifest (min/max and per-column compressed
        sizes are recorded at write time) — no parquet footers are opened,
        so view re-registration after a write stays O(manifest) instead of
        O(total files) driver I/O.  Chunks registered before column_bytes
        existed show their stat columns without sizes."""
        rows = []
        for t in self.store.tables():
            for c in self.store.manifest(t):
                # legacy chunks (registered before column_bytes existed) get
                # NULL sizes, keeping "unknown" distinct from zero — the
                # same encoding min_value/max_value use
                sizes = (
                    dict(c.column_bytes)
                    if c.column_bytes
                    else {name: None for name in c.stats}
                )
                for name in sorted(sizes):
                    rng = c.stats.get(name)
                    has = rng is not None and rng[0] is not None
                    rows.append(
                        Row(
                            partition_key=c.partition_key,
                            chunk_id=c.chunk_id,
                            table_name=t,
                            column_name=name,
                            storage="ObjectStoreOnly",
                            row_count=c.row_count,
                            min_value=str(rng[0]) if has else None,
                            max_value=str(rng[1]) if has else None,
                            estimated_bytes=sizes[name],
                        )
                    )
        schema = (
            "partition_key string, chunk_id long, table_name string, "
            "column_name string, storage string, row_count long, "
            "min_value string, max_value string, estimated_bytes long"
        )
        return self.spark.createDataFrame(rows, schema)

    # -- information schema ------------------------------------------------
    #: reference type rendering (internal_types/src/schema.rs:569-592 —
    #: tags are dictionary-encoded utf8, time is ns timestamps), so the
    #: information_schema goldens compare value-exact against
    #: query_tests/src/sql.rs:183-235.
    _ARROW_TYPE_NAMES = {
        "tag": "Dictionary(Int32, Utf8)",
        "field::float": "Float64",
        "field::integer": "Int64",
        "field::uinteger": "UInt64",
        "field::string": "Utf8",
        "field::boolean": "Boolean",
        "timestamp": "Timestamp(Nanosecond, None)",
    }

    def information_schema_tables(self) -> DataFrame:
        """information_schema.tables (sql.rs:183-207 golden; the
        all_chunks_dropped case keys on a fully-dropped table STILL being
        listed).  Spark temp views have no schema namespace, so the view
        registers flat as ``information_schema_tables`` — the same
        flattening system tables use (``system_chunks``)."""
        rows = [
            Row(
                table_catalog="public",
                table_schema="iox",
                table_name=t,
                table_type="BASE TABLE",
            )
            for t in self.table_names()
        ]
        rows += [
            Row(
                table_catalog="public",
                table_schema="system",
                table_name=n,
                table_type="BASE TABLE",
            )
            for n in ("chunk_columns", "chunks", "columns", "operations")
        ]
        rows += [
            Row(
                table_catalog="public",
                table_schema="information_schema",
                table_name=n,
                table_type="VIEW",
            )
            for n in ("columns", "tables")
        ]
        return self.spark.createDataFrame(
            rows,
            "table_catalog string, table_schema string, table_name string, "
            "table_type string",
        )

    def information_schema_columns(self) -> DataFrame:
        """information_schema.columns (sql.rs:209-235 golden): one row per
        user-table column in canonical (sorted) order with the
        reference's Arrow type renderings; time is the one non-nullable
        column."""
        from influxdb_iox_spark.schema import column_type

        rows = []
        for t, s in sorted(self.schemas.items()):
            for i, f in enumerate(s.struct.fields):
                ct = column_type(f)
                rows.append(
                    Row(
                        table_catalog="public",
                        table_schema="iox",
                        table_name=t,
                        column_name=f.name,
                        ordinal_position=i,
                        is_nullable="YES" if f.nullable else "NO",
                        data_type=self._ARROW_TYPE_NAMES.get(
                            ct.value if ct else "", str(f.dataType)
                        ),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position long, is_nullable string, "
            "data_type string",
        )

    def system_columns(self) -> DataFrame:
        from influxdb_iox_spark.schema import column_type

        rows = [
            Row(table_name=t, column_name=f.name, column_type=(ct.value if ct else ""))
            for t, s in sorted(self.schemas.items())
            for f in s.struct.fields
            for ct in [column_type(f)]
        ]
        return self.spark.createDataFrame(
            rows, "table_name string, column_name string, column_type string"
        )
