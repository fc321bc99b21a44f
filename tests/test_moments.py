"""Exact mergeable moment cells (pipeline/moments — round 16).

The rollup trio's exact member: unlike the HLL cells (approximate,
pytest-gated) and like the KMV cells (deterministic), moment cells are
LOSSLESSLY mergeable — summing (n, Σv_µ, Σv_µ²) over any cell union is
bit-identical to aggregating the unioned raw rows — so every derived
stat is checked here against a direct numpy computation at full
precision, and the declared query is oracle-paired vs DuckDB HUGEINT.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from influxdb_iox_spark.pipeline.moments import (
    build_moment_cells,
    moment_sliding_stats,
    moment_stats,
)

DAY = 86_400 * 10**9


def _toy(spark):
    rows = []
    vals = [1.5, -2.25, 3.125, 7.0, 0.0, -1.0, 2.5, 4.75, -3.5, 6.25]
    for i, v in enumerate(vals):
        rows.append(("a", (i % 4) * DAY + i, v))
    for i, v in enumerate(vals[:6]):
        rows.append(("b", (i % 2) * DAY + i, v * 2))
    return spark.createDataFrame(rows, "k string, t long, v double")


def _expected(rows):
    n = len(rows)
    mus = [round(v * 1e6) for v in rows]
    s, s2 = sum(mus), sum(m * m for m in mus)
    mean = s / n / 1e6
    var = max((s2 / n - (s / n) * (s / n)) / 1e12, 0.0)
    r6 = lambda x: round(x * 1e6) / 1e6
    return n, r6(mean), r6(var), r6(math.sqrt(var))


def test_cells_merge_losslessly_to_direct_aggregate(spark):
    df = _toy(spark)
    cells = build_moment_cells(df, ["k"], "t", "v", DAY)
    # regroup to per-key totals and compare against full-precision python
    got = {
        r["k"]: (r["n"], r["mean"], r["variance"], r["stddev"])
        for r in moment_stats(cells, ["k"]).collect()
    }
    data = {
        "a": [1.5, -2.25, 3.125, 7.0, 0.0, -1.0, 2.5, 4.75, -3.5, 6.25],
        "b": [v * 2 for v in [1.5, -2.25, 3.125, 7.0, 0.0, -1.0]],
    }
    for k, vals in data.items():
        assert got[k] == pytest.approx(_expected(vals), abs=2e-6)
    # grand total (group_keys=[]) merges across keys
    tot = moment_stats(cells, []).collect()[0]
    allv = data["a"] + data["b"]
    assert (
        tot["n"], tot["mean"], tot["variance"], tot["stddev"]
    ) == pytest.approx(_expected(allv), abs=2e-6)


def test_sliding_windows_match_direct_window_aggregates(spark):
    df = _toy(spark)
    cells = build_moment_cells(df, ["k"], "t", "v", DAY)
    out = {
        (r["k"], r["bucket"]): (r["n"], r["mean"], r["variance"])
        for r in moment_sliding_stats(cells, "bucket", 2, ["k"]).collect()
    }
    raw = [(r["k"], r["t"] // DAY, r["v"]) for r in df.collect()]
    buckets = sorted({(k, b) for k, b, _ in raw})
    assert set(out) == set(buckets)  # anchored at present buckets only
    for k, b in buckets:
        vals = [v for kk, bb, v in raw if kk == k and b - 1 <= bb <= b]
        n, mean, var, _ = _expected(vals)
        assert out[(k, b)] == pytest.approx((n, mean, var), abs=2e-6)


def test_value_range_guard_raises_in_plan(spark):
    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 1e13)], "k string, t long, v double"
    )
    with pytest.raises(Exception, match="moment cells"):
        build_moment_cells(df, ["k"], "t", "v", DAY).collect()


def test_null_values_excluded_like_sql(spark):
    df = spark.createDataFrame(
        [("a", 0, 2.0), ("a", 1, None), ("a", 2, 4.0)],
        "k string, t long, v double",
    )
    cells = build_moment_cells(df, ["k"], "t", "v", DAY)
    row = moment_stats(cells, ["k"]).collect()[0]
    assert row["n"] == 2 and row["mean"] == pytest.approx(3.0)


def test_cells_stay_jvm_side_single_aggregate(spark):
    df = _toy(spark)
    cells = build_moment_cells(df, ["k"], "t", "v", DAY)
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan
    # one logical aggregate = partial + final HashAggregate, one exchange
    assert plan.count("Exchange") <= 2  # final+initial sections double-print


def test_validation(spark):
    df = _toy(spark)
    with pytest.raises(ValueError, match="bucket_ns"):
        build_moment_cells(df, ["k"], "t", "v", 0)
    cells = build_moment_cells(df, ["k"], "t", "v", DAY)
    with pytest.raises(ValueError, match="window_buckets"):
        moment_sliding_stats(cells, "bucket", 0, ["k"])


# ---------------------------------------------------------------------------
# Persistence + exactly-once incremental maintenance (round 16)
# ---------------------------------------------------------------------------


def _raw(spark, n, offset=0):
    return spark.range(offset, offset + n).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") * 1_000_000).alias("t"),
        (F.col("id") % 100).cast("double").alias("v"),
    )


def test_persisted_fold_matches_from_scratch(spark, tmp_path):
    from influxdb_iox_spark.pipeline.moments import (
        build_moment_cells,
        moment_stats,
        read_moment_cells,
        save_moment_cells,
        update_moment_cells,
    )

    path = str(tmp_path / "mo")
    seed = _raw(spark, 1_000)
    save_moment_cells(spark, path, seed, ["k"], "t", "v", DAY)
    b1 = _raw(spark, 500, offset=1_000)
    assert update_moment_cells(spark, path, b1, batch_id=1) is True

    cells, meta = read_moment_cells(spark, path)
    assert meta["bucket_ns"] == DAY
    got = {
        r["k"]: (r["n"], r["mean"], r["variance"])
        for r in moment_stats(cells, ["k"]).collect()
    }
    direct = build_moment_cells(
        seed.unionByName(b1), ["k"], "t", "v", DAY
    )
    want = {
        r["k"]: (r["n"], r["mean"], r["variance"])
        for r in moment_stats(direct, ["k"]).collect()
    }
    assert got == want  # lossless fold: bit-identical to from-scratch


def test_replayed_batch_id_is_skipped_exactly_once(spark, tmp_path):
    from influxdb_iox_spark.pipeline.moments import (
        moment_stats,
        read_moment_cells,
        save_moment_cells,
        update_moment_cells,
    )

    path = str(tmp_path / "mo")
    save_moment_cells(spark, path, _raw(spark, 400), ["k"], "t", "v", DAY)
    b1 = _raw(spark, 300, offset=400)
    assert update_moment_cells(spark, path, b1, batch_id=7) is True
    before = sorted(
        map(tuple, moment_stats(read_moment_cells(spark, path)[0], ["k"]).collect())
    )
    # at-least-once replay of the SAME batch: must be a no-op
    assert update_moment_cells(spark, path, b1, batch_id=7) is False
    after = sorted(
        map(tuple, moment_stats(read_moment_cells(spark, path)[0], ["k"]).collect())
    )
    assert after == before  # no double-count


def test_crashed_fold_redrives_convergently(spark, tmp_path):
    """A failure AFTER the next version's directory write but BEFORE the
    commit mint leaves the current version untouched; the re-driven
    batch rebuilds from it and converges (versioned swap, not
    overwrite-in-place)."""
    from influxdb_iox_spark.pipeline.index_txn import (
        IndexMaintenanceInterrupted,
        guard_for_path,
    )
    from influxdb_iox_spark.pipeline.moments import (
        _cells_dir,
        build_moment_cells,
        moment_stats,
        read_moment_cells,
        save_moment_cells,
        update_moment_cells,
    )

    path = str(tmp_path / "mo")
    seed = _raw(spark, 400)
    save_moment_cells(spark, path, seed, ["k"], "t", "v", DAY)
    b1 = _raw(spark, 300, offset=400)

    # simulate the torn run: next version's directory exists, claim left
    # as the intent marker, version NOT minted.  A FOREIGN writer name —
    # a same-named crash would self-succeed by the named-writer rule
    # instead of surfacing the interruption.
    g = guard_for_path(path)
    tok = g.begin(writer="moments:crashed-twin")
    tok.mutating()
    build_moment_cells(b1, ["k"], "t", "v", DAY).write.mode(
        "overwrite"
    ).parquet(_cells_dir(path, tok.base_version + 1))
    # crash: no commit, no abort; ttl-expire the claim so redrive sees a wreck
    import json as _json
    import os as _os

    claim_path = _os.path.join(path, "_txncas", "txn")
    body = _json.loads(open(claim_path).read())
    body["ts"] -= 10_000.0
    open(claim_path, "w").write(_json.dumps(body))

    with pytest.raises(IndexMaintenanceInterrupted):
        update_moment_cells(spark, path, b1, batch_id=1)
    assert update_moment_cells(spark, path, b1, batch_id=1, force=True)
    got = sorted(
        map(tuple, moment_stats(read_moment_cells(spark, path)[0], ["k"]).collect())
    )
    want = sorted(
        map(
            tuple,
            moment_stats(
                build_moment_cells(seed.unionByName(b1), ["k"], "t", "v", DAY),
                ["k"],
            ).collect(),
        )
    )
    assert got == want
