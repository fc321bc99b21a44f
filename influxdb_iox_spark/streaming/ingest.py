"""Structured Streaming ingest: line protocol → store chunks.

The Spark twin of the reference's write path (§3.3 of SURVEY.md):
HTTP write → parse → shard/partition → mutable-buffer append
(/root/reference/server/src/db.rs:627-676; entry/src/entry.rs:85) becomes

    readStream(text) → distributed_parse (mapInPandas)
      → withWatermark(late_arrive_window)      (persistence_windows/:24-74)
      → foreachBatch: partition-key → write_chunk per partition

Each micro-batch becomes one (or a few, one per partition key) sorted
parquet chunks with manifest stats — i.e. every micro-batch is a "closed
mutable buffer chunk" the moment it lands, and the compaction job
(plans/reorg.py) plays the lifecycle role.  Late/duplicate data is safe
because every read path dedups overlapping chunks; the watermark only
bounds streaming-state growth, it never drops rows into the void (IOx
likewise accepts late rows into new chunks).

Partition-key template mirrors database_rules.rs:233-248 TemplatePart:
table name / column value / strftime of time.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from influxdb_iox_spark.schema import IoxSchema
from influxdb_iox_spark.sources.line_protocol import distributed_parse
from influxdb_iox_spark.sources.store import TableStore


@dataclass
class PartitionTemplate:
    """data_types/src/database_rules.rs:233-248 — parts are concatenated with
    '-': TimeFormat(strftime), Column(name), Table."""

    parts: list[tuple[str, str]] = field(default_factory=lambda: [("time_format", "%Y-%m-%d")])

    def key_column(self, table: str, time_column: str) -> F.Column:
        exprs = []
        for kind, arg in self.parts:
            if kind == "time_format":
                from influxdb_iox_spark.schema import ns_to_us_floor

                # one shared floor-semantics ns→µs (see schema.ns_to_us_floor)
                # so partition keys agree with view timestamps and window
                # bounds, including for pre-1970 data.
                ts = F.timestamp_micros(ns_to_us_floor(time_column))
                exprs.append(F.date_format(ts, _strftime_to_spark(arg)))
            elif kind == "column":
                exprs.append(F.coalesce(F.col(arg).cast("string"), F.lit("")))
            elif kind == "table":
                exprs.append(F.lit(table))
            else:
                raise ValueError(f"unknown template part {kind!r}")
        return F.concat_ws("-", *exprs)


def _strftime_to_spark(fmt: str) -> str:
    """Map the common strftime directives to Spark datetime patterns."""
    table = {
        "%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH", "%M": "mm", "%S": "ss",
    }
    out = fmt
    for k, v in table.items():
        out = out.replace(k, v)
    return out


class LineProtocolIngest:
    def __init__(
        self,
        store: TableStore,
        table: str,
        schema: IoxSchema,
        template: PartitionTemplate | None = None,
        default_time_ns: int = 0,
    ):
        self.store = store
        self.table = table
        self.schema = schema
        self.template = template or PartitionTemplate()
        self.default_time_ns = default_time_ns

    # -- batch ingest -----------------------------------------------------
    def ingest_lines_df(self, lines_df: DataFrame, parse_counter=None) -> list:
        """Parse a batch of raw lines and append one chunk per partition key.

        Used directly for bulk loads and from foreachBatch for streams.

        The parsed batch is materialized ONCE with ``localCheckpoint`` before
        fanning out to its consumers (the partitioned bulk write plus the
        grouped tag-catalog aggregation) — without it, the Python parse
        stage would re-execute for each consumer.
        ``localCheckpoint`` rather than ``cache()``: a cached
        InMemoryRelation freezes its pre-AQE plan and every downstream stage
        inherits the micro-task partitioning (see SCALE.md).

        ``parse_counter``: optional Spark accumulator forwarded to
        ``distributed_parse`` — counts physical parse executions (tests
        assert exactly one pass per input partition regardless of key count).
        """
        return self.write_parsed(self.parse_lines_df(lines_df, parse_counter))

    def parse_lines_df(
        self,
        lines_df: DataFrame,
        parse_counter=None,
        default_time_ns: int | None = None,
    ) -> DataFrame:
        """Phase 1: parse + materialize (localCheckpoint) WITHOUT writing.

        Parse/validation errors surface here, before any chunk lands — a
        multi-measurement caller (``commit_lines``) can parse every
        measurement first and only then commit, so a rejected request
        persists nothing.  Timestamps are ns; a line without one gets
        ``default_time_ns``.
        """
        parsed = distributed_parse(
            lines_df, self.schema, self.table,
            self.default_time_ns if default_time_ns is None else default_time_ns,
            batch_counter=parse_counter,
        )
        return parsed.withColumn(
            "__part_key", self.template.key_column(self.table, self.schema.time_column)
        ).localCheckpoint(eager=True)

    def write_parsed(self, keyed: DataFrame, register: bool = True) -> list:
        """Phase 2: append one chunk per partition key from a parsed batch.

        Runs as ONE Spark write job regardless of how many partition keys
        the batch spans (``TableStore.write_chunks_partitioned``): a bulk
        backfill covering N days no longer issues N sequential write jobs +
        N tag-catalog jobs — it is one partitionBy write, one grouped
        tag-catalog aggregation, and driver-side renames.

        With ``register=False`` the chunks are written but not yet visible;
        the caller registers them later (``TableStore.register_chunks``) —
        used by ``commit_lines`` to make a multi-measurement request's
        visibility all-or-nothing.
        """
        return self.store.write_chunks_partitioned(
            keyed, self.table, self.schema, key_col="__part_key",
            seq_column="__seq", register=register,
        )

    # -- streaming ingest -------------------------------------------------
    def start_stream(
        self,
        spark: SparkSession,
        source_dir: str,
        checkpoint_dir: str,
        trigger_once: bool = False,
    ):
        """File-based text stream of line protocol → chunks.

        (Kafka/socket sources drop in by replacing the reader.)  The
        micro-batch boundary IS the chunk boundary; dedup-on-read makes
        replays (same data re-delivered after checkpoint loss) harmless —
        the reference makes the same guarantee via sequence-tracked replay
        (server/src/db.rs:518 perform_replay).
        """
        lines = spark.readStream.format("text").load(source_dir)

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.ingest_lines_df(batch_df)

        writer = (
            lines.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def commit_lines(ingests, lines_df: DataFrame) -> None:
    """All-or-nothing commit of one batch of line protocol (one ``value``
    string column) into every table of ``ingests``, like the reference's
    write handler:

    1. parse and validate the batch for EVERY table (an error raises and
       nothing is persisted);
    2. write every table's chunk files without registering them;
    3. register all manifest entries.

    A failure in 1-2 leaves at most unreferenced chunk directories
    (GC-able) and NOTHING visible to queries.  Lines without a timestamp
    get the commit's wall-clock ns.  The caller serializes commits to one
    store: manifest append and chunk-id allocation are single-writer."""
    now = time.time_ns()
    parsed = [(ing, ing.parse_lines_df(lines_df, default_time_ns=now)) for ing in ingests]
    written = [(ing, ing.write_parsed(keyed, register=False)) for ing, keyed in parsed]
    for ing, metas in written:
        ing.store.register_chunks(ing.table, metas)
