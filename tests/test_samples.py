"""Deterministic bottom-k sample cells (pipeline/samples — round 16).

The distribution-shape member of the rollup families.  Properties
pinned here: lossless merge (regrouped quantiles == quantiles of a
sample built directly at the coarser grouping), exactness below k,
determinism under repartition, NULL handling, and the distributed
plan shape.  The declared query is oracle-paired vs DuckDB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from influxdb_iox_spark.pipeline.samples import (
    build_sample_cells,
    sample_quantiles,
)

DAY = 86_400 * 10**9


def _raw(spark, n):
    return spark.range(n).select(
        (F.col("id") % 4).cast("string").alias("k"),
        ((F.col("id") % 10) * DAY + F.col("id")).alias("t"),
        F.col("id").alias("rid"),
        ((F.col("id") * 37) % 1000).cast("double").alias("v"),
    )


def test_small_cells_are_exact_population_quantiles(spark):
    df = _raw(spark, 400)  # 100 rows per key, well under k=256
    cells = build_sample_cells(df, ["k"], "t", "rid", "v", 100 * DAY)
    out = {
        r["k"]: r
        for r in sample_quantiles(cells, [0.0, 0.5, 1.0], ["k"]).collect()
    }
    raw = [(r["k"], r["v"]) for r in df.collect()]
    for key in "0123":
        vals = sorted(v for kk, v in raw if kk == key)
        row = out[key]
        assert row["is_exact"] == 1 and row["n"] == len(vals)
        assert row["q_00"] == vals[0]
        assert row["q_50"] == vals[(len(vals) - 1) // 2]
        assert row["q_100"] == vals[-1]


def test_merge_is_lossless_and_deterministic(spark):
    df = _raw(spark, 5_000)
    k = 64
    fine = build_sample_cells(df, ["k"], "t", "rid", "v", DAY, k=k)
    # regrouping fine cells == building at the coarse grouping directly
    coarse = build_sample_cells(df, ["k"], "t", "rid", "v", 100 * DAY, k=k)
    a = sorted(
        map(tuple, sample_quantiles(fine, [0.25, 0.5, 0.9], ["k"], k=k).collect())
    )
    b = sorted(
        map(tuple, sample_quantiles(coarse, [0.25, 0.5, 0.9], ["k"], k=k).collect())
    )
    assert a == b
    # determinism under physical layout
    c = sorted(
        map(
            tuple,
            sample_quantiles(
                build_sample_cells(
                    df.repartition(17), ["k"], "t", "rid", "v", DAY, k=k
                ),
                [0.25, 0.5, 0.9],
                ["k"],
                k=k,
            ).collect(),
        )
    )
    assert c == a


def test_sampled_quantiles_near_truth(spark):
    df = _raw(spark, 20_000)  # 5k rows/key >> k: genuinely sampled
    cells = build_sample_cells(df, ["k"], "t", "rid", "v", DAY, k=256)
    out = sample_quantiles(cells, [0.5], ["k"]).collect()
    # v cycles 0..999 uniformly: true median ~ 500; k=256 rank error
    # ~±3% → accept ±10% of the value range
    for r in out:
        assert r["is_exact"] == 0
        assert abs(r["q_50"] - 500.0) < 100.0, r


def test_grand_total_and_nulls(spark):
    rows = [("a", 0, 1, 10.0), ("a", 1, 2, None), ("a", 2, 3, 30.0)]
    df = spark.createDataFrame(rows, "k string, t long, rid long, v double")
    cells = build_sample_cells(df, ["k"], "t", "rid", "v", DAY)
    tot = sample_quantiles(cells, [0.0, 1.0], []).collect()[0]
    assert tot["n"] == 3 and tot["is_exact"] == 1
    assert tot["q_00"] == 10.0 and tot["q_100"] == 30.0  # NULL excluded
    plan = sample_quantiles(cells, [0.5], [])._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # grand total stays distributed
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_validation(spark):
    df = _raw(spark, 10)
    with pytest.raises(ValueError, match="bucket_ns"):
        build_sample_cells(df, ["k"], "t", "rid", "v", 0)
    with pytest.raises(ValueError, match="k must be"):
        build_sample_cells(df, ["k"], "t", "rid", "v", DAY, k=0)
    cells = build_sample_cells(df, ["k"], "t", "rid", "v", DAY)
    with pytest.raises(ValueError, match="outside"):
        sample_quantiles(cells, [1.5], ["k"])


# ---------------------------------------------------------------------------
# Persistence + exactly-once incremental maintenance (shared machinery)
# ---------------------------------------------------------------------------


def _raw_ids(spark, n, offset=0):
    return spark.range(offset, offset + n).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") * 1_000_000).alias("t"),
        F.col("id").alias("rid"),
        ((F.col("id") * 37) % 1000).cast("double").alias("v"),
    )


def test_persisted_sample_fold_matches_from_scratch_and_skips_replay(
    spark, tmp_path
):
    from influxdb_iox_spark.pipeline.samples import (
        read_sample_cells,
        save_sample_cells,
        update_sample_cells,
    )

    path = str(tmp_path / "sm")
    seed = _raw_ids(spark, 1_000)
    save_sample_cells(spark, path, seed, ["k"], "t", "rid", "v", DAY, k=64)
    b1 = _raw_ids(spark, 500, offset=1_000)
    assert update_sample_cells(spark, path, b1, batch_id=1) is True

    cells, meta = read_sample_cells(spark, path)
    assert meta["k"] == 64
    got = sorted(
        map(tuple, sample_quantiles(cells, [0.5, 0.9], ["k"], k=64).collect())
    )
    direct = build_sample_cells(
        seed.unionByName(b1), ["k"], "t", "rid", "v", DAY, k=64
    )
    want = sorted(
        map(tuple, sample_quantiles(direct, [0.5, 0.9], ["k"], k=64).collect())
    )
    assert got == want  # lossless fold: bit-identical to from-scratch

    # replay of the same batch id: exactly-once skip, cells unchanged
    assert update_sample_cells(spark, path, b1, batch_id=1) is False
    cells2, _ = read_sample_cells(spark, path)
    got2 = sorted(
        map(tuple, sample_quantiles(cells2, [0.5, 0.9], ["k"], k=64).collect())
    )
    assert got2 == want


def test_null_id_raises_in_plan(spark):
    """Round-16 review: a NULL row id would collide every NULL row into
    one NULL-hash slot AND desync Spark's NULLS FIRST rank from the
    oracle's NULLS LAST — the uniqueness contract raises in-plan."""
    df = spark.createDataFrame(
        [("a", 0, 1, 1.0), ("a", 1, None, 2.0)],
        "k string, t long, rid long, v double",
    )
    with pytest.raises(Exception, match="NULL row id"):
        build_sample_cells(df, ["k"], "t", "rid", "v", DAY).collect()


def test_merge_k_larger_than_cell_k_raises(spark):
    """Round-16 review: merging at k larger than the cells' build k
    silently breaks the lossless-merge invariant (ranks past a
    truncated cell's own k are missing) — the in-plan guard raises on
    the first truncated cell instead."""
    df = _raw(spark, 400)  # 100 rows/key: truncated at k=4
    cells = build_sample_cells(df, ["k"], "t", "rid", "v", 100 * DAY, k=4)
    with pytest.raises(Exception, match="exceeds the k these cells"):
        sample_quantiles(cells, [0.5], ["k"], k=8).collect()
    # at the cells' own k the merge is fine
    assert len(sample_quantiles(cells, [0.5], ["k"], k=4).collect()) == 4
    # and UNtruncated cells accept any k (the sample is the population)
    small = build_sample_cells(df.limit(3), ["k"], "t", "rid", "v", DAY, k=64)
    sample_quantiles(small, [0.5], ["k"], k=256).collect()  # no raise


def test_seed_refused_twice_and_monotone_replay_high_water(spark, tmp_path):
    """Round-16 review: (a) re-seeding an already-versioned table is
    refused (racing seeders could leave meta/cells mismatched); (b) the
    batch ledger keeps an O(1) high-water mark — an integer id at or
    below it is a replay even when outside the bounded tail (Structured
    Streaming ids are monotone per checkpoint)."""
    from influxdb_iox_spark.pipeline.samples import (
        save_sample_cells,
        update_sample_cells,
    )

    path = str(tmp_path / "sm")
    save_sample_cells(
        spark, path, _raw_ids(spark, 100), ["k"], "t", "rid", "v", DAY, k=16
    )
    with pytest.raises(ValueError, match="already seeded"):
        save_sample_cells(
            spark, path, _raw_ids(spark, 100), ["k"], "t", "rid", "v", DAY,
            k=16,
        )
    assert update_sample_cells(
        spark, path, _raw_ids(spark, 50, offset=100), batch_id=5
    ) is True
    # id 3 < high-water 5: a replay under the monotone contract
    assert update_sample_cells(
        spark, path, _raw_ids(spark, 50, offset=150), batch_id=3
    ) is False
