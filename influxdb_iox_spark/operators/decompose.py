"""Classical seasonal decomposition — trend / seasonal / residual.

The moving-average additive decomposition (the `decompose` of every
stats package; the first stage of STL): per series,

- **trend** = centered moving average of one full period (for an even
  period the standard 2×m weighted form: half weight on the two
  endpoints), null where the window is incomplete — no padding
  invented at series edges;
- **seasonal** = per-phase mean of the detrended values, normalized to
  sum to zero across the period (so trend keeps the level);
- **residual** = value − trend − seasonal.

Spark shape: ONE series-keyed ordered window carries the trend sum,
the endpoint lag/lead, and the completeness count (shared exchange —
the series_transforms posture); the phase means are one small
aggregate on (series, phase) — m rows per series — broadcast back.
No Python, no self-join, no global sort.

Cross-engine exactness: trend is (integer micro-unit window sum −
half-endpoints) in ONE double divide; seasonal/residual involve
engine-ordered float sums, so outputs are rounded to 1e-6 per the
repo's float-aggregate contract (lm.py class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def seasonal_decompose(
    df: DataFrame,
    period: int,
    key_cols: list[str] | None = None,
    time_col: str = "time",
    value_col: str = "value",
    phase_from_time: bool = False,
) -> DataFrame:
    """(keys, time, value, trend, seasonal, resid) — additive classical
    decomposition with seasonality ``period`` (rows per cycle; the
    caller buckets irregular series first — window_bounds / gapfill are
    the repo's tools for that).  Rows must be unique per (keys, time).

    Gap handling: the default (``phase_from_time=False``) numbers rows
    within the series (row_number phases, ROWS-framed trend), which
    ASSUMES a gap-free series — one missing period bucket shifts the
    phase of every later row AND lets the trend window straddle the
    hole (compose with gapfill first, or pass the flag).  When
    ``time_col`` is an integer bucket index (hour number, day number,
    …), set ``phase_from_time=True`` for the fully gap-honest mode:
    phase = pmod(time, period) is exact per row regardless of gaps, and
    the trend uses RANGE frames over the bucket index, so a window with
    a missing bucket fails the completeness count and reports null
    trend (the same no-padding stance as series edges).  On a gap-free
    series starting anywhere, the two modes differ only by a constant
    per-series rotation of phase LABELS — the per-phase groups (hence
    trend/seasonal/resid values) are identical.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    keys = list(key_cols or [])
    w = Window.partitionBy(*keys).orderBy(time_col)
    vm = F.round(F.col(value_col) * 1_000_000).cast("long")
    h = period // 2
    if phase_from_time:
        frame = w.rangeBetween(-h, h)
        # one-bucket range frames replace row-based lag/lead: null when
        # the endpoint bucket is missing, which the count check catches
        lag_h = F.sum(vm).over(w.rangeBetween(-h, -h))
        lead_h = F.sum(vm).over(w.rangeBetween(h, h))
    else:
        frame = w.rowsBetween(-h, h)
        lag_h = F.lag(vm, h).over(w)
        lead_h = F.lead(vm, h).over(w)
    if period % 2:
        full = F.count(value_col).over(frame) == period
        trend_num = F.sum(vm).over(frame).cast("double")
        trend = F.when(full, trend_num / (1_000_000.0 * period))
    else:
        full = F.count(value_col).over(frame) == period + 1
        # 2×m weighted MA: full-window sum minus half of each endpoint,
        # kept integer (doubled) until ONE final divide.
        num2 = (F.sum(vm).over(frame) * 2 - lag_h - lead_h).cast("double")
        trend = F.when(full, num2 / (2_000_000.0 * period))
    if phase_from_time:
        phase = F.pmod(F.col(time_col), F.lit(period))
    else:
        phase = F.pmod(F.row_number().over(w) - 1, F.lit(period))
    base = df.select(
        *keys,
        F.col(time_col),
        F.col(value_col),
        trend.alias("trend"),
        phase.alias("__phase"),
    ).withColumn("__detr", F.col(value_col) - F.col("trend"))
    # The windowed trend frame is materialized ONCE, lazily: both the
    # phase-mean aggregate and the final join read `base`, and without a
    # checkpoint the whole upstream (any caller bucketing aggregate + the
    # trend window pass) executes twice.  eager=False because the
    # broadcast build of `means` is the FIRST computation of this RDD
    # inside the query's own action: the blocks persist as a side effect
    # of work the query already does and the outer join reads them, with
    # no extra synchronous job before the action starts.  Checkpoint
    # blocks are keyed to this RDD object (repeated invocations
    # recompute — no cross-run result reuse).
    base = base.localCheckpoint(eager=False)
    means = (
        base.filter(F.col("__detr").isNotNull())
        .groupBy(*keys, "__phase")
        .agg(F.avg("__detr").alias("__s_raw"))
    )
    wk = Window.partitionBy(*keys)
    means = means.withColumn(
        "__seasonal", F.col("__s_raw") - F.avg("__s_raw").over(wk)
    ).select(*keys, "__phase", "__seasonal")
    out = base.join(F.broadcast(means), keys + ["__phase"], "left")
    micro = lambda c: F.round(c * 1_000_000) / 1_000_000
    return out.select(
        *keys,
        time_col,
        value_col,
        micro(F.col("trend")).alias("trend"),
        micro(F.col("__seasonal")).alias("seasonal"),
        micro(F.col(value_col) - F.col("trend") - F.col("__seasonal")).alias(
            "resid"
        ),
    )
