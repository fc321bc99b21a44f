"""Incremental-dedup index tests: exact fingerprint index (anti-join
accept/reject + append), MinHash signature index (banded near-dup vs the
index), and the plan/read-schema properties the 100 TB design rests on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from influxdb_iox_spark.pipeline.dedup import near_duplicate_pairs_minhash
from influxdb_iox_spark.pipeline.dedup_index import (
    build_exact_index,
    build_minhash_index,
    dedup_against_index,
    duplicate_matches,
    ingest_batch,
    near_dups_against_index,
)

BASE = (
    "spark is a unified analytics engine for large scale data processing "
    "with high level apis in java scala python and r plus an optimized engine"
)
NEAR = BASE.replace("optimized engine", "optimized runtime engine")
OTHER = (
    "completely different content about cooking pasta with tomatoes garlic "
    "olive oil and basil in a large pot of salted boiling water until al dente"
)
THIRD = (
    "yet another unrelated document describing mountain hiking trails with "
    "alpine lakes scenic ridgelines and wildflower meadows in late summer"
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, OTHER)], "doc_id long, text string"
    )


def test_exact_index_accept_reject(spark, tmp_path, corpus):
    path = str(tmp_path / "exact")
    build_exact_index(corpus, path, n_buckets=8)
    batch = spark.createDataFrame(
        [
            (10, BASE),                      # exact dup of indexed 1
            (11, "  " + OTHER.upper() + " "),  # dup after normalization
            (12, THIRD),                     # fresh
            (13, THIRD),                     # intra-batch dup of 12
            (14, NEAR),                      # near-dup is NOT exact -> fresh
        ],
        "doc_id long, text string",
    )
    fresh = dedup_against_index(spark, path, batch)
    assert sorted(r.doc_id for r in fresh.collect()) == [12, 14]
    # survivors keep their full row
    assert set(fresh.columns) == {"doc_id", "text"}

    matches = duplicate_matches(spark, path, batch)
    got = {(r.new_id, r.canonical_id) for r in matches.collect()}
    assert got == {(10, 1), (11, 2)}


def test_batch_hashed_once(spark, tmp_path, corpus):
    """The hashed batch feeds the keep-aggregate and the final semi join;
    it is checkpointed, so the upstream (here a Python UDF counting its
    calls) runs once per batch document."""
    path = str(tmp_path / "exact")
    build_exact_index(corpus, path, n_buckets=8)
    acc = spark.sparkContext.accumulator(0)

    def bump(text):
        acc.add(1)
        return text

    rows = [(10 + i, t) for i, t in enumerate([BASE, OTHER, THIRD, THIRD, NEAR] * 8)]
    batch = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.udf(bump, "string")("text").alias("text")
    )
    fresh = dedup_against_index(spark, path, batch)
    assert sorted(r.doc_id for r in fresh.collect()) == [12, 14]
    assert acc.value == len(rows), f"batch hashed {acc.value} times for {len(rows)} rows"


def test_ingest_batch_appends(spark, tmp_path, corpus):
    path = str(tmp_path / "grow")
    build_exact_index(corpus, path, n_buckets=8)
    batch = spark.createDataFrame(
        [(20, THIRD), (21, BASE)], "doc_id long, text string"
    )
    accepted = ingest_batch(spark, path, batch)
    assert [r.doc_id for r in accepted.collect()] == [20]
    # replaying the SAME batch accepts nothing — the append took effect
    again = ingest_batch(spark, path, batch)
    assert again.count() == 0
    # and the index's canonical id for THIRD is the first acceptor
    m = duplicate_matches(
        spark,
        path,
        spark.createDataFrame([(99, THIRD)], "doc_id long, text string"),
    )
    assert [(r.new_id, r.canonical_id) for r in m.collect()] == [(99, 20)]


def test_exact_index_plan_properties(spark, tmp_path, corpus):
    """The accept plan anti-joins on the digest and the index read never
    touches a text column (fingerprints only — the whole point of keeping
    an index instead of re-reading the corpus)."""
    import re

    path = str(tmp_path / "plan")
    build_exact_index(corpus, path, n_buckets=8)
    batch = spark.createDataFrame([(30, THIRD)], "doc_id long, text string")
    df = dedup_against_index(spark, path, batch)
    jmode = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "LeftAnti" in plan
    index_scans = [
        blk
        for blk in re.findall(r"\(\d+\) Scan parquet.*?(?=\n\(\d+\)|\Z)", plan, re.S)
        if "plan" in blk  # the index path under tmp_path/"plan"
    ]
    assert index_scans, plan
    for blk in index_scans:
        assert "text" not in blk


def test_minhash_index_near_dups(spark, tmp_path, corpus):
    path = str(tmp_path / "mh")
    build_minhash_index(corpus, path, num_perm=64, nbands=16, n_buckets=4)
    batch = spark.createDataFrame(
        [(40, NEAR), (41, THIRD)], "doc_id long, text string"
    )
    out = near_dups_against_index(spark, path, batch, threshold=0.5)
    rows = out.collect()
    assert [(r.new_id, r.index_id) for r in rows] == [(40, 1)]
    assert 0.5 <= rows[0].est_jaccard <= 1.0

    # exact duplicate content estimates jaccard 1.0
    out2 = near_dups_against_index(
        spark,
        path,
        spark.createDataFrame([(50, BASE)], "doc_id long, text string"),
        threshold=0.9,
    )
    r2 = out2.collect()
    assert [(r.new_id, r.index_id, r.est_jaccard) for r in r2] == [(50, 1, 1.0)]


def test_minhash_index_agrees_with_batch_path(spark, tmp_path):
    """Pairs the incremental path reports between (old, new) docs are the
    same pairs the one-shot batch MinHash finds on the union — the index
    changes WHEN dedup happens, not WHAT it finds."""
    old = spark.createDataFrame([(1, BASE), (2, OTHER)], "doc_id long, text string")
    new = spark.createDataFrame([(3, NEAR), (4, THIRD)], "doc_id long, text string")
    path = str(tmp_path / "agree")
    build_minhash_index(old, path, num_perm=64, nbands=16, n_buckets=4)
    inc = {
        (r.index_id, r.new_id)
        for r in near_dups_against_index(spark, path, new, threshold=0.5).collect()
    }
    batch_pairs = near_duplicate_pairs_minhash(
        old.unionByName(new), threshold=0.5, num_perm=64, bands=16
    )
    cross = {
        (r.a, r.b)
        for r in batch_pairs.collect()
        if r.a in (1, 2) and r.b in (3, 4)
    }
    assert inc == cross


def test_streaming_ingest_batch_dedup(spark, tmp_path):
    """Continuous-corpus dedup: a file streaming source drained with
    foreachBatch(ingest_batch) accepts each document's content exactly
    once across micro-batches — the index carries state BETWEEN batches,
    which plain streaming dropDuplicates cannot (its state dies with the
    checkpoint and never survives a re-deploy)."""
    import json as _json
    import os

    src = tmp_path / "src"
    out = tmp_path / "accepted"
    os.makedirs(src)
    os.makedirs(out)
    index = str(tmp_path / "index")
    build_exact_index(
        spark.createDataFrame([(1, BASE)], "doc_id long, text string"),
        index,
        n_buckets=4,
    )

    # two source files -> (at least) two micro-batches with overlap
    with open(src / "a.jsonl", "w") as f:
        f.write(_json.dumps({"doc_id": 10, "text": OTHER}) + "\n")
        f.write(_json.dumps({"doc_id": 11, "text": BASE}) + "\n")  # dup of 1

    accepted_ids = []

    def sink(batch_df, batch_id):
        fresh = ingest_batch(spark, index, batch_df)
        accepted_ids.extend(r.doc_id for r in fresh.collect())

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert sorted(accepted_ids) == [10]

    with open(src / "b.jsonl", "w") as f:
        f.write(_json.dumps({"doc_id": 20, "text": OTHER}) + "\n")  # dup of 10
        f.write(_json.dumps({"doc_id": 21, "text": THIRD}) + "\n")  # fresh

    q2 = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    # the second drain reprocesses a.jsonl (no checkpoint) — the INDEX
    # dedups the replay: only the genuinely new doc 21 is accepted
    assert sorted(accepted_ids) == [10, 21]


def test_remove_from_index_reopens_content(spark, tmp_path):
    """Takedown: removing a fingerprint lets identical content be
    accepted again; absent content is a no-op; an emptied bucket's
    partition dir is cleared (the dynamic-overwrite gotcha)."""
    import os

    from influxdb_iox_spark.pipeline.dedup_index import (
        build_exact_index,
        dedup_against_index,
        remove_from_index,
    )

    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "gamma text")],
        "doc_id long, text string",
    )
    build_exact_index(docs, path, n_buckets=4)
    dup = spark.createDataFrame([(9, "alpha text")], "doc_id long, text string")
    assert dedup_against_index(spark, path, dup).count() == 0  # blocked
    n = remove_from_index(spark, path, dup)
    assert n == 1
    assert dedup_against_index(spark, path, dup).count() == 1  # reopened
    # replay: removing again is a no-op
    assert remove_from_index(spark, path, dup) == 0
    # others still blocked
    dup2 = spark.createDataFrame([(8, "beta text")], "doc_id long, text string")
    assert dedup_against_index(spark, path, dup2).count() == 0
    # empty the whole index: every bucket dir must be gone
    n = remove_from_index(spark, path, docs)
    assert n == 2  # beta + gamma (alpha already removed)
    assert not any(
        e.startswith("bucket=") for e in os.listdir(path)
    )
    assert dedup_against_index(spark, path, docs).count() == 3
