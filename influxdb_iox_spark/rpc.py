"""InfluxRPC facade — the 7 storage-gRPC operations as one API class.

The Spark twin of the reference's storage service + planner pairing
(/root/reference/src/influxdb_ioxd/rpc/storage/service.rs:218-771 routing into
query/src/frontend/influxrpc.rs).  Each method takes a Predicate and returns a
DataFrame (or driver-side list for metadata ops), matching the reference's
plan-then-execute split: the method builds the declarative plan, Spark executes
it when the caller acts.  The data plans served to the wire
(``read_filter_all``, ``read_group``, ``read_window_aggregate*``) are
UNORDERED: ``operators/series.frame_series`` orders each result on the
driver while framing it.

Metadata ops consult the store's tag catalog first (the metadata-only fast
path of influxrpc.rs:244-293,353-421 backed by chunk metadata; here a
per-chunk tag-values manifest maintained at write time) and fall back to
scans only when the predicate makes metadata insufficient.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from influxdb_iox_spark.database import Database
from influxdb_iox_spark.operators import metadata as md
from influxdb_iox_spark.operators import series as se
from influxdb_iox_spark.plans.predicate import Predicate


@dataclass
class InfluxRpc:
    db: Database

    # -- metadata menu ----------------------------------------------------
    def table_names(self, predicate: Predicate | None = None) -> list[str]:
        return md.table_names(self.db, predicate)

    def tag_keys(self, table: str, predicate: Predicate | None = None) -> list[str]:
        return md.tag_keys(self.db, table, predicate)

    def tag_keys_all(self, predicate: Predicate | None = None) -> list[str]:
        """The wire tag_keys with no measurement filter unions keys across
        EVERY measurement in the bucket (tag_keys.rs:50-54 expects h2o's
        county plus o2's borough in one answer); the predicate's table list
        scopes which measurements contribute, and row constraints keep only
        keys with a matching non-null row (StringSet union semantics).
        Like read_filter_all, iterates REGISTERED tables — a store table
        never registered has no schema and contributes nothing."""
        keys: set[str] = set()
        for t in sorted(self.db.schemas):
            if predicate is not None and not predicate.should_scan_table(t):
                continue
            keys.update(md.tag_keys(self.db, t, predicate))
        return sorted(keys)

    def tag_values(
        self, table: str, tag: str, predicate: Predicate | None = None
    ) -> list[str]:
        # metadata-only fast path: a predicate with no row constraints is
        # answered from the tag catalog without any Spark job; a
        # partition_key-only predicate narrows the catalog to that
        # partition's chunks.
        if predicate is None or (predicate.range is None and not predicate.exprs):
            vals = self.db.store.catalog_tag_values(
                table, tag, None if predicate is None else predicate.partition_key
            )
            if vals is not None:
                return vals
        return md.tag_values(self.db, table, tag, predicate)

    def tag_values_all(
        self, tag: str, predicate: Predicate | None = None
    ) -> list[str]:
        """The wire tag_values with no measurement filter unions one tag's
        values across every measurement that HAS the tag (tables lacking it
        contribute the empty set — tag_values.rs:47-59 semantics per
        table); the predicate's table list scopes contributors.  Tables
        where the tag names a FIELD are skipped rather than erroring: in a
        bucket-wide union the reference's planner error applies to a
        single-measurement request, not to sibling measurements."""
        values: set[str] = set()
        for t in sorted(self.db.schemas):
            if predicate is not None and not predicate.should_scan_table(t):
                continue
            schema = self.db.table_schema(t)
            if tag in schema.field_columns or tag == schema.time_column:
                continue
            values.update(self.tag_values(t, tag, predicate))
        return sorted(values)

    def field_columns(
        self, table: str, predicate: Predicate | None = None
    ) -> list[dict]:
        return md.field_columns(self.db, table, predicate)

    def series_cardinality(
        self, predicate: Predicate | None = None, exact: bool = False
    ) -> int:
        """Bucket-wide series cardinality — the sum over measurements of
        distinct (tag set, live field) series (beyond the reference:
        service.rs:560-566 is unimplemented!; semantics documented on
        operators/metadata.series_cardinality).  Tables with a registered
        series rollup answer from sketch cells when the predicate is
        coverable (metadata-first); ``exact=True`` forces the rescan."""
        total = 0
        for t in sorted(self.db.schemas):
            if predicate is not None and not predicate.should_scan_table(t):
                continue
            total += md.series_cardinality(self.db, t, predicate, exact=exact)
        return total

    # -- data menu --------------------------------------------------------
    def read_filter(self, table: str, predicate: Predicate | None = None) -> DataFrame:
        return se.read_filter(self.db, table, predicate)

    def read_filter_all(
        self, predicate: Predicate | None = None
    ) -> dict[str, DataFrame]:
        """The wire read_filter spans EVERY measurement in the bucket
        (service.rs:218 routes one request into per-table plans;
        read_filter.rs test_read_filter_data_no_pred expects h2o AND o2
        series): table -> unordered (tags…, fields…, time) DataFrame.

        Only the predicate's TABLE list removes entries from the dict; a
        predicate referencing columns or fields a table lacks keeps the
        entry but it holds no rows (read_filter.rs:222) — use
        ``read_filter_frames_all`` if empty tables should disappear.
        Iterates registered tables (those with schemas): a store table
        never registered has no schema to plan against."""
        out: dict[str, DataFrame] = {}
        for t in sorted(self.db.schemas):
            if predicate is not None and not predicate.should_scan_table(t):
                continue
            out[t] = se.read_filter_projection(self.db, t, predicate)
        return out

    def read_filter_frames_all(self, predicate: Predicate | None = None):
        """Driver-side frames across every measurement, tables in name
        order — the full SeriesSet stream of one wire read_filter call."""
        for t, df in self.read_filter_all(predicate).items():
            schema = self.db.table_schema(t)
            yield from se.frame_series(df, t, schema.tag_columns, schema.time_column)

    def read_group(
        self,
        table: str,
        agg: se.Aggregate,
        group_columns: list[str] | None = None,
        predicate: Predicate | None = None,
    ) -> DataFrame:
        return se.read_group_plan(self.db, table, agg, group_columns, predicate)

    def read_window_aggregate(
        self,
        table: str,
        agg: se.Aggregate,
        every_ns: int,
        offset_ns: int = 0,
        predicate: Predicate | None = None,
    ) -> DataFrame:
        return se.read_window_aggregate_plan(
            self.db, table, agg, every_ns, offset_ns, predicate
        )

    def read_window_aggregate_months(
        self,
        table: str,
        agg: se.Aggregate,
        every_months: int,
        offset_months: int = 0,
        predicate: Predicate | None = None,
    ) -> DataFrame:
        """Calendar-month WindowEvery (Duration::Variable, incl. negative
        offsets)."""
        return se.read_window_aggregate_months_plan(
            self.db, table, agg, every_months, offset_months, predicate
        )

    # -- series framing (exec/seriesset.rs) -------------------------------
    def read_filter_frames(self, table: str, predicate: Predicate | None = None):
        """Driver-side frames from one Arrow collect — for a local
        consumer.  Cluster-scale consumers should use
        ``read_filter_frames_distributed``."""
        df = se.read_filter_projection(self.db, table, predicate)
        schema = self.db.table_schema(table)
        return se.frame_series(df, table, schema.tag_columns, schema.time_column)

    def read_filter_frames_distributed(
        self, table: str, predicate: Predicate | None = None
    ) -> DataFrame:
        """One row per series (tags + columnar arrays), produced entirely on
        executors — no driver iterator, no global sort (see
        operators/series.frame_series_distributed)."""
        schema = self.db.table_schema(table)
        df = se.read_filter_projection(self.db, table, predicate)
        return se.frame_series_distributed(
            df, table, schema.tag_columns, [schema.time_column]
        )
