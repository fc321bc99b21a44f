"""Series operators: read_filter / read_group / read_window_aggregate +
series framing — the data half of the InfluxRPC menu.

Reference: /root/reference/query/src/frontend/influxrpc.rs —
read_filter :524-552,813-891; read_group :558-607,934-995 (SQL-equivalent
spelled out at :898-927); read_window_aggregate :611-650,1026-1100
(SQL-equivalent at :1006-1018); aggregate enum query/src/group_by.rs:32-66;
series-set framing query/src/exec/seriesset.rs:69-120.

Plan shapes are the reference's SQL-equivalents expressed as DataFrame ops:

  read_filter:            SELECT tags…, fields…, time WHERE p ORDER BY tags…, time
  read_group(agg):        SELECT tags…, agg(field)… GROUP BY tags ORDER BY group-prefix, tags
  read_window_aggregate:  SELECT tags…, window_bounds(time), agg(field)…
                          GROUP BY tags…, window ORDER BY tags…, window

Each shape has one plan function (``*_plan``, or ``read_filter_projection``)
that returns the rows UNORDERED, and a sorted twin that adds the ORDER BY for
direct callers.  The served path (``InfluxRpc`` → ``rpc_storage``) takes the
unordered plans: ``frame_series`` collects the result once as Arrow and sorts
it on the driver, so a request runs no range-partition exchange and no
sampling job.

Scale note: ``frame_series`` holds a whole response on the driver as Arrow
columns (tens of bytes per row) — the served responses are bounded by the
request's predicate.  A consumer that must not funnel rows through the
driver uses ``frame_series_distributed``, which frames series on executors
(``repartition(tags) + sortWithinPartitions``).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from enum import Enum

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F

from influxdb_iox_spark.database import Database
from influxdb_iox_spark.functions.time import window_bounds
from influxdb_iox_spark.operators.selectors import (
    selector_first,
    selector_last,
    selector_max,
    selector_min,
)
from influxdb_iox_spark.plans.predicate import Predicate


class Aggregate(str, Enum):
    """query/src/group_by.rs:32-66."""

    NONE = "none"
    SUM = "sum"
    COUNT = "count"
    MIN = "min"
    MAX = "max"
    FIRST = "first"
    LAST = "last"
    MEAN = "mean"


_PLAIN_AGGS = {
    Aggregate.SUM: F.sum,
    Aggregate.COUNT: F.count,
    Aggregate.MIN: F.min,
    Aggregate.MAX: F.max,
    Aggregate.MEAN: F.avg,
}
_SELECTOR_AGGS = {
    Aggregate.FIRST: selector_first,
    Aggregate.LAST: selector_last,
    Aggregate.MIN: selector_min,
    Aggregate.MAX: selector_max,
}


def _field_agg(agg: Aggregate, fld: str, time_col: str, selector: bool) -> list[Column]:
    """Aggregate expressions for one field.

    Selector aggregates (first/last and selector-style min/max) produce the
    (value, time) pair the reference's selector UDAFs return
    (query/src/func/selectors.rs:56-160); plain aggs produce a single value.
    """
    if selector and agg in _SELECTOR_AGGS:
        s = _SELECTOR_AGGS[agg](fld, time_col)
        return [
            s.getField("value").alias(fld),
            s.getField("time").alias(f"{fld}_time"),
        ]
    if agg in _PLAIN_AGGS:
        return [_PLAIN_AGGS[agg](F.col(fld)).alias(fld)]
    raise ValueError(f"unsupported aggregate {agg}")


def read_filter_projection(
    db: Database, table: str, predicate: Predicate | None = None
) -> DataFrame:
    """The (tags…, fields…, time) projection, UNSORTED — the read_filter
    plan, shared by the served path, ``read_filter`` and the
    distributed framing path (each consumer picks its own ordering).

    A field projection is intersected with the table's OWN fields: the wire
    predicate's ``_field`` list spans every measurement of the request, so
    a table having none of the requested fields yields an empty result
    (tags + time schema), never an unresolved-column error — the
    multi-measurement semantics read_filter_all relies on."""
    schema = db.table_schema(table)
    requested = (
        predicate.field_columns if predicate and predicate.field_columns else None
    )
    if requested is not None:
        fields = [f for f in requested if f in schema.field_columns]
        if not fields:
            cols = [*schema.tag_columns, schema.time_column]
            return db.table(table, predicate).select(*cols).limit(0)
    else:
        fields = schema.field_columns
    cols = [*schema.tag_columns, *fields, schema.time_column]
    return db.table(table, predicate).select(*cols)


def read_filter(
    db: Database, table: str, predicate: Predicate | None = None
) -> DataFrame:
    """All matching rows as series: (tags…, fields…, time), sorted by
    (tags…, time) so each series is contiguous (influxrpc.rs:524-552)."""
    schema = db.table_schema(table)
    df = read_filter_projection(db, table, predicate)
    return df.orderBy(*schema.tag_columns, schema.time_column)


def _group_order(schema, group_columns: list[str] | None) -> list[str]:
    """Group columns first, remaining tags after — prefix reordering
    (influxrpc.rs:1265-1299)."""
    group_columns = group_columns or []
    return [*group_columns, *[t for t in schema.tag_columns if t not in group_columns]]


def read_group_plan(
    db: Database,
    table: str,
    agg: Aggregate,
    group_columns: list[str] | None = None,
    predicate: Predicate | None = None,
) -> DataFrame:
    """Per-series aggregate, unordered (influxrpc.rs:558-607;
    SQL-equivalent :898-927).  agg=NONE degrades to the read_filter
    projection (influxrpc.rs:580-597)."""
    schema = db.table_schema(table)
    if agg is Aggregate.NONE:
        return read_filter_projection(db, table, predicate)

    fields = predicate.field_columns if predicate and predicate.field_columns else None
    fields = fields or schema.field_columns
    df = db.table(table, predicate)
    aggs: list[Column] = []
    for fld in fields:
        aggs.extend(_field_agg(agg, fld, schema.time_column, selector=True))
    if agg in (Aggregate.SUM, Aggregate.COUNT, Aggregate.MEAN):
        # plain aggregates carry ONE shared timestamp column: agg(time)
        # rewritten to MAX (the group's last timestamp — AggExprs::try_new
        # plain branch chains schema.time_iter(), influxrpc.rs:1340-1359,
        # and make_agg_expr maps the time column to Max, :1409-1423).
        # Selector aggregates instead carry per-field <field>_time pairs.
        aggs.append(F.max(F.col(schema.time_column)).alias(schema.time_column))
    return df.groupBy(*_group_order(schema, group_columns)).agg(*aggs)


def read_group(
    db: Database,
    table: str,
    agg: Aggregate,
    group_columns: list[str] | None = None,
    predicate: Predicate | None = None,
) -> DataFrame:
    """``read_group_plan`` ordered by the group-column prefix, then the
    remaining tags (and time, for agg=NONE)."""
    schema = db.table_schema(table)
    order = _group_order(schema, group_columns)
    if agg is Aggregate.NONE:
        order = [*order, schema.time_column]
    df = read_group_plan(db, table, agg, group_columns, predicate)
    # a tag-less measurement aggregates to one global row — orderBy would
    # reject an empty column list
    return df.orderBy(*order) if order else df


def _window_plan(
    db: Database,
    table: str,
    agg: Aggregate,
    bucket: Column,
    predicate: Predicate | None,
) -> DataFrame:
    """GROUP BY (all tags, bucket) with one aggregate per field, unordered."""
    schema = db.table_schema(table)
    fields = predicate.field_columns if predicate and predicate.field_columns else None
    fields = fields or schema.field_columns
    # FIRST/LAST are selectors even per-window (value at earliest/latest
    # timestamp INSIDE the window, plus that timestamp); sum/count/min/max/
    # mean stay plain per the reference's window aggregate menu.
    selector = agg in (Aggregate.FIRST, Aggregate.LAST)
    aggs: list[Column] = []
    for fld in fields:
        aggs.extend(_field_agg(agg, fld, schema.time_column, selector=selector))
    return db.table(table, predicate).groupBy(*schema.tag_columns, bucket).agg(*aggs)


def read_window_aggregate_plan(
    db: Database,
    table: str,
    agg: Aggregate,
    every_ns: int,
    offset_ns: int = 0,
    predicate: Predicate | None = None,
    time_alias: str = "time",
) -> DataFrame:
    """GROUP BY (all tags, window) with the window's END boundary reported as
    ``time``, unordered (influxrpc.rs:611-650; SQL-equivalent :1006-1018;
    stop-boundary semantics query/src/func/window.rs:44-47)."""
    time_column = db.table_schema(table).time_column
    bucket = window_bounds(time_column, every_ns, offset_ns).alias(time_alias)
    return _window_plan(db, table, agg, bucket, predicate)


def read_window_aggregate(
    db: Database,
    table: str,
    agg: Aggregate,
    every_ns: int,
    offset_ns: int = 0,
    predicate: Predicate | None = None,
    time_alias: str = "time",
) -> DataFrame:
    """``read_window_aggregate_plan`` ordered by (tags…, window)."""
    df = read_window_aggregate_plan(
        db, table, agg, every_ns, offset_ns, predicate, time_alias
    )
    return df.orderBy(*db.table_schema(table).tag_columns, time_alias)


def read_window_aggregate_months_plan(
    db: Database,
    table: str,
    agg: Aggregate,
    every_months: int,
    offset_months: int = 0,
    predicate: Predicate | None = None,
    time_alias: str = "time",
) -> DataFrame:
    """read_window_aggregate_plan with CALENDAR-MONTH windows — the
    Duration::Variable arm of the reference's WindowEvery
    (query/src/group_by.rs:70-76 feeding influxrpc.rs:611-650); offsets may
    be negative (from_months_with_negative)."""
    from influxdb_iox_spark.functions.time import month_window_bounds_struct

    time_column = db.table_schema(table).time_column
    bucket = (
        month_window_bounds_struct(time_column, every_months, offset_months)
        .getField("stop")
        .alias(time_alias)
    )
    return _window_plan(db, table, agg, bucket, predicate)


def read_window_aggregate_months(
    db: Database,
    table: str,
    agg: Aggregate,
    every_months: int,
    offset_months: int = 0,
    predicate: Predicate | None = None,
    time_alias: str = "time",
) -> DataFrame:
    """``read_window_aggregate_months_plan`` ordered by (tags…, window)."""
    df = read_window_aggregate_months_plan(
        db, table, agg, every_months, offset_months, predicate, time_alias
    )
    return df.orderBy(*db.table_schema(table).tag_columns, time_alias)


# ---------------------------------------------------------------------------
# Series framing (exec/seriesset.rs:69-120)
# ---------------------------------------------------------------------------


@dataclass
class SeriesFrame:
    """One series: fixed tag values + its rows (the SeriesSet equivalent)."""

    table: str
    tags: dict[str, str]
    rows: pa.Table  # the series' rows, every column, in time order


def frame_series_distributed(
    df: DataFrame,
    table: str,
    tag_columns: list[str],
    order_columns: list[str] | None = None,
) -> DataFrame:
    """Distributed series framing: one output row per series.

    The scale path of ``frame_series`` (exec/seriesset.rs:69-120): instead of
    collecting every row on the driver,
    ``repartition(*tags)`` keeps each series wholly on one executor,
    ``sortWithinPartitions(tags…, time)`` makes its rows contiguous (no
    global exchange / range-sampling pass), and a ``mapInPandas`` pass frames
    consecutive runs — carrying the possibly-split last series across Arrow
    batch boundaries within a partition.

    Output: tag columns + each remaining column as an array (rows in time
    order) + ``n_rows`` — the columnar equivalent of ``SeriesFrame``.
    """
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    order_columns = order_columns or ["time"]
    other_cols = [c for c in df.columns if c not in tag_columns]
    out_schema = StructType(
        [df.schema[t] for t in tag_columns]
        + [
            StructField(c, ArrayType(df.schema[c].dataType), True)
            for c in other_cols
        ]
        + [StructField("n_rows", LongType(), False)]
    )
    out_cols = [*tag_columns, *other_cols, "n_rows"]

    def frames(batches):
        import pandas as pd

        def emit(groups):
            rows = []
            for g in groups:
                r = {t: g.iloc[0][t] for t in tag_columns}
                for c in other_cols:
                    r[c] = list(g[c])
                r["n_rows"] = len(g)
                rows.append(r)
            return pd.DataFrame(rows, columns=out_cols)

        buf = None  # tail group of the previous batch (series may continue)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if buf is not None:
                pdf = pd.concat([buf, pdf], ignore_index=True)
                buf = None
            keys = pdf[tag_columns].astype(object)
            # null-safe change detection (NaN != NaN would split null runs)
            keys = keys.where(keys.notna(), "\0__null__")
            grp = (keys != keys.shift()).any(axis=1).cumsum()
            parts = [g for _, g in pdf.groupby(grp, sort=False)]
            buf = parts.pop()  # hold back: may continue in the next batch
            if parts:
                yield emit(parts)
        if buf is not None and len(buf):
            yield emit([buf])

    if tag_columns:
        part = df.repartition(*tag_columns).sortWithinPartitions(
            *tag_columns, *order_columns
        )
    else:
        # tag-less measurement (legal in line protocol): the whole input is
        # ONE series — repartition() with no columns would raise, and any
        # multi-partition layout would emit one frame per partition.
        part = df.coalesce(1).sortWithinPartitions(*order_columns)
    return part.mapInPandas(frames, schema=out_schema)


def series_limit(
    df: DataFrame,
    tag_columns: list[str],
    n: int,
    offset: int = 0,
) -> DataFrame:
    """InfluxQL ``SLIMIT n SOFFSET offset``: keep rows belonging to the
    n series starting at ``offset`` in lexicographic tag order (series
    are ordered by their tag VALUES, the order InfluxQL enumerates them).

    Scale shape: the rank is computed over the DISTINCT series-key set —
    a partial-aggregated distinct whose cardinality is the series count,
    never the row count — so the single-task global window (unavoidable
    for a total order) sees only series keys.  The surviving keys then
    broadcast back as a LEFT SEMI join: rows never pass through a global
    window or sort.  The reference streams frames in this same series
    order (read_filter's group-key sort); SLIMIT is the InfluxQL surface
    over it.
    """
    from pyspark.sql import Window

    if n < 1 or offset < 0:
        raise ValueError(f"need n >= 1, offset >= 0; got n={n} offset={offset}")
    keys = df.select(*tag_columns).distinct()
    # nulls LAST, pinned: Spark's asc() is nulls-first but SQL engines
    # (and the reference, where a missing tag sorts after present values
    # in its dictionary order) default nulls-last — an unpinned null
    # series would silently reorder the whole SLIMIT window cross-engine
    w = Window.orderBy(*[F.col(c).asc_nulls_last() for c in tag_columns])
    picked = (
        keys.withColumn("__sr", F.row_number().over(w))
        .filter((F.col("__sr") > offset) & (F.col("__sr") <= offset + n))
        .drop("__sr")
    )
    # null-SAFE key equality: a plain equi-join can never match a NULL
    # tag value against itself, silently dropping null-tag series from
    # every window; <=> keeps the broadcast hash semi-join plan
    left, right = df.alias("__sl_l"), picked.alias("__sl_r")
    cond = None
    for c in tag_columns:
        e = F.col(f"__sl_l.{c}").eqNullSafe(F.col(f"__sl_r.{c}"))
        cond = e if cond is None else cond & e
    return left.join(F.broadcast(right), on=cond, how="left_semi")


def frame_series(
    df: DataFrame, table: str, tag_columns: list[str], time_column: str = "time"
) -> Iterator[SeriesFrame]:
    """Cut a result into per-series frames (exec/seriesset.rs:69-120).

    ``df`` need not be ordered: the result is collected once as Arrow
    (``toArrow``) and sorted on the driver by (tags…, time) — ascending,
    nulls first, Spark's ``orderBy`` order — then cut wherever the tag
    key changes.  Series come out in that order, each row in time order;
    ``time_column`` is left out of the sort when ``df`` lacks it."""
    data = df.toArrow()
    n = data.num_rows
    if n == 0:
        return
    keys = [*tag_columns, time_column] if time_column in data.column_names else tag_columns
    if keys:
        order = pc.sort_indices(
            data, sort_keys=[(k, "ascending") for k in keys], null_placement="at_start"
        )
        data = data.take(order)
    # row i starts a series when any tag differs from row i-1 (null-safe)
    starts = np.zeros(n, dtype=bool)
    starts[0] = True
    for t in tag_columns:
        cur, prev = data.column(t).slice(1), data.column(t).slice(0, n - 1)
        differs = pc.or_(
            pc.fill_null(pc.not_equal(cur, prev), False),
            pc.xor(pc.is_null(cur), pc.is_null(prev)),
        )
        starts[1:] |= differs.to_numpy(zero_copy_only=False)
    bounds = [*np.flatnonzero(starts).tolist(), n]
    for s, e in zip(bounds, bounds[1:]):
        tags = {t: data.column(t)[s].as_py() for t in tag_columns}
        yield SeriesFrame(table, tags, data.slice(s, e - s))
