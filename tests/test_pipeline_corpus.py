"""Corpus-prep operators: shard packing, contamination scan, deterministic
stratified sampling (pipeline/corpus.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from influxdb_iox_spark.pipeline.corpus import (
    contamination_check,
    deterministic_sample,
    pack_shards,
)


def test_pack_shards_matches_naive_cumsum(spark):
    """The distributed prefix-sum must equal the single-window formula, and
    documents are never split across shards."""
    rows = [(i, (i * 37) % 900 + 100) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(8)
    out = pack_shards(df, "n_tokens", "doc_id", shard_tokens=2000).collect()
    got = {r.doc_id: r.shard_id for r in out}

    cum = 0
    want = {}
    for i, tok in sorted(rows):
        want[i] = cum // 2000
        cum += tok
    assert got == want
    # shards are contiguous in doc order and budget-bounded (except where a
    # single doc overflows, impossible here since max doc < budget)
    by_shard: dict[int, int] = {}
    for i, tok in sorted(rows):
        by_shard[want[i]] = by_shard.get(want[i], 0) + tok
    full_shards = {s: t for s, t in by_shard.items() if s < max(by_shard)}
    assert all(t >= 2000 - 999 for t in full_shards.values())


def test_pack_shards_no_global_single_task_window(spark):
    """The plan must not contain a partition-less window (the single-task
    running-total trap)."""
    df = spark.createDataFrame(
        [(i, 10) for i in range(100)], "doc_id long, n_tokens long"
    )
    out = pack_shards(df, "n_tokens", "doc_id", shard_tokens=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_contamination_check(spark):
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    train_df = spark.createDataFrame(
        [
            # contains the eval 8-gram run -> contaminated
            (1, "prefix words the quick brown fox jumps over the lazy dog today suffix"),
            # unrelated -> clean
            (2, "completely different content with no overlap whatsoever in any gram"),
        ],
        "doc_id long, text string",
    )
    out = {r.train_id: r.n_shared_shingles for r in contamination_check(
        train_df, eval_df, shingle_n=8).collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out


def test_pack_shards_numeric_ids_no_materialization(spark, tmp_path):
    """Numeric ids take the two-pass quantile path: deterministic logical
    partition ids, so the returned plan recomputes from the SOURCE (the
    parquet scan stays visible under the window) instead of scanning a
    localCheckpoint RDD — and there is still no single-task window."""
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, 10) for i in range(100)], "doc_id long, n_tokens long"
    ).write.parquet(src)
    df = spark.read.parquet(src)
    out = pack_shards(df, "n_tokens", "doc_id", shard_tokens=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan  # corpus side recomputes from source
    assert "SinglePartition" not in plan
    # the only ExistingRDD allowed is the O(partitions) offsets broadcast,
    # which sits under a BroadcastExchange — the corpus side has none
    window_side = plan.split("BroadcastExchange")[0]
    assert "ExistingRDD" not in window_side


def test_pack_shards_string_ids_still_correct(spark):
    """Non-numeric ids fall back to the pinned-physical path and must still
    equal the naive cumsum."""
    rows = [(f"doc-{i:05d}", (i * 53) % 400 + 50) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long").repartition(7)
    out = pack_shards(df, "n_tokens", "doc_id", shard_tokens=1500).collect()
    got = {r.doc_id: r.shard_id for r in out}
    cum, want = 0, {}
    for i, tok in sorted(rows):
        want[i] = cum // 1500
        cum += tok
    assert got == want


def test_contamination_prefilter_equals_exact(spark):
    """The hash-sketch prefilter must return IDENTICAL results to the
    plain string join — it is an exact optimization, not a sketch bound."""
    eval_df = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (101, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    train_df = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta epsilon zeta eta theta iota y"),
            (2, "no overlap here at all with anything in the benchmark set"),
            (3, "one two three four five six seven eight nine ten and more"),
            (4, "one two three four five six seven eight alpha beta gamma"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r.train_id, r.n_shared_shingles, r.n_eval_docs)
        for r in contamination_check(train_df, eval_df, shingle_n=8).collect()
    }
    fast = {
        (r.train_id, r.n_shared_shingles, r.n_eval_docs)
        for r in contamination_check(
            train_df, eval_df, shingle_n=8, prefilter=True
        ).collect()
    }
    assert exact == fast and exact  # non-empty and identical


def test_deterministic_sample_strata_table_equals_case_chain(spark):
    """Above STRATA_CASE_CHAIN_MAX strata the rates broadcast-join; both
    paths must select exactly the same rows."""
    from influxdb_iox_spark.pipeline import corpus as corpus_mod

    langs = [f"l{i:03d}" for i in range(10)]
    df = spark.createDataFrame(
        [(i, langs[i % len(langs)]) for i in range(2000)],
        "doc_id long, lang string",
    )
    rates = {lang: (0.1 + 0.08 * i) % 1.0 for i, lang in enumerate(langs)}
    small = {r.doc_id for r in deterministic_sample(df, rates).collect()}
    old_max = corpus_mod.STRATA_CASE_CHAIN_MAX
    corpus_mod.STRATA_CASE_CHAIN_MAX = 0  # force the broadcast-table path
    try:
        table = {r.doc_id for r in deterministic_sample(df, rates).collect()}
    finally:
        corpus_mod.STRATA_CASE_CHAIN_MAX = old_max
    assert small == table and small
    # rows in a stratum missing from the table fall back to default_rate
    corpus_mod.STRATA_CASE_CHAIN_MAX = 0
    try:
        partial = {k: v for k, v in rates.items() if k != "l000"}
        missing = {
            r.doc_id
            for r in deterministic_sample(df, partial, default_rate=0.0).collect()
        }
    finally:
        corpus_mod.STRATA_CASE_CHAIN_MAX = old_max
    assert all(i % 10 != 0 for i in missing)  # l000 rows all excluded


def test_deterministic_sample_reproducible_and_monotone(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(1000)],
        "doc_id long, lang string",
    )
    a = {r.doc_id for r in deterministic_sample(df, {"en": 0.4, "de": 0.0}).collect()}
    b = {r.doc_id for r in deterministic_sample(df, {"en": 0.4, "de": 0.0}).collect()}
    assert a == b  # reproducible
    assert all(i % 2 == 0 for i in a)  # de rate 0 -> only en
    assert 100 < len(a) < 300  # ~40% of 500
    # rate monotonicity: a higher rate keeps a superset of a lower rate
    c = {r.doc_id for r in deterministic_sample(df, {"en": 0.8, "de": 0.0}).collect()}
    assert a <= c
    # growing the corpus keeps prior selections (pure per-row predicate)
    grown = df.union(
        spark.createDataFrame(
            [(i, "en") for i in range(1000, 1200)], "doc_id long, lang string"
        )
    )
    g = {r.doc_id for r in deterministic_sample(grown, {"en": 0.4, "de": 0.0}).collect()}
    assert a == {i for i in g if i < 1000}


def test_mixture_sample(spark):
    from influxdb_iox_spark.pipeline.corpus import (
        deterministic_sample,
        mixture_sample,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", 100) for i in range(200)],
        "doc_id long, lang string, n_tokens long",
    )
    # en: 100 docs * 100 tokens = 10_000 avail; de same.
    out, rates = mixture_sample(
        df, weights={"en": 0.75, "de": 0.25}, budget_tokens=8_000
    )
    # targets: en 6000/10000 -> 0.6; de 2000/10000 -> 0.2
    assert rates == {"en": pytest.approx(0.6), "de": pytest.approx(0.2)}
    # selection must be exactly deterministic_sample at those rates
    expected = deterministic_sample(df, rates)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in expected.collect()
    )
    # a stratum with no weight is not sampled at all
    out2, rates2 = mixture_sample(df, weights={"en": 1.0}, budget_tokens=50_000)
    assert rates2 == {"en": 1.0}  # capped: target 50k > 10k avail
    assert all(r.lang == "en" for r in out2.collect())
    # and the capped stratum keeps every doc
    assert out2.count() == 100


def test_pack_shards_tolerates_null_ids(spark):
    """NULL ids must not crash the quantile path (NULL > bound is NULL ->
    NULL pid -> driver-side sort exploded); they pin to partition -1 and
    pack first."""
    df = spark.createDataFrame(
        [(None, 10), (1, 10), (2, 10), (3, 10)], "doc_id long, n_tokens long"
    )
    out = pack_shards(df, shard_tokens=20, num_partitions=2).collect()
    assert len(out) == 4
    by_id = {r.doc_id: r.shard_id for r in out}
    # null id packs before id 1 (partition -1), totals 40 tokens -> 2 shards
    assert sorted(by_id.values()) == [0, 0, 1, 1]
    assert by_id[None] == 0


def test_pack_sequences_matches_naive_cumsum(spark):
    """pack_sequences against a numpy cumsum reference: start offsets,
    touched sequence ids, and boundary crossings — including zero-token
    documents and a document longer than the sequence length."""
    import numpy as np

    from influxdb_iox_spark.pipeline.corpus import pack_sequences

    rng = np.random.default_rng(3)
    toks = [int(x) for x in rng.integers(0, 300, size=200)]
    toks[7] = 0            # empty document
    toks[11] = 5000        # longer than seq_len -> multiple crossings
    rows = [(i, toks[i]) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")

    L = 512
    got = {
        r.doc_id: (r.start_offset, r.first_seq, r.last_seq, r.n_boundary_crossings)
        for r in pack_sequences(df, seq_len=L, num_partitions=4).collect()
    }
    running = 0
    for i, n in enumerate(toks):
        start = running
        running += n
        first = start // L
        last = max(running - 1, start) // L
        assert got[i] == (start, first, last, last - first), i
    # the planted long doc crosses at least 9 boundaries
    assert got[11][3] >= 9
    assert got[7][1] == got[7][2]  # empty doc lands in one sequence


def test_shuffle_into_shards_is_deterministic_permutation(spark):
    from influxdb_iox_spark.pipeline.corpus import shuffle_into_shards

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(400)], "doc_id long, text string"
    )
    a = shuffle_into_shards(docs, "doc_id", n_shards=8, seed=1).collect()
    b = shuffle_into_shards(docs, "doc_id", n_shards=8, seed=1).collect()
    # pure function of (seed, id): identical across runs
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # a PERMUTATION: every id exactly once, positions contiguous 1..n
    assert sorted(r.doc_id for r in a) == list(range(400))
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(8))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # roughly balanced shards (md5 uniformity; 400/8 = 50 expected)
    sizes = [len(v) for v in by_shard.values()]
    assert min(sizes) > 20 and max(sizes) < 90
    # a different seed is a different permutation
    c = shuffle_into_shards(docs, "doc_id", n_shards=8, seed=2).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_shuffle_into_shards_validation(spark):
    import pytest

    from influxdb_iox_spark.pipeline.corpus import shuffle_into_shards

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        shuffle_into_shards(docs, "doc_id", n_shards=0)


def test_temperature_weights(spark):
    """α=0.5 sqrt-flattening on hand-computable token totals, plus the
    α dials: α=1 recovers proportional shares, α→0 flattens toward
    uniform (the low-resource boost)."""
    from influxdb_iox_spark.pipeline.corpus import temperature_weights

    # srcA: 2 docs x 2 tokens = 4... build exact token counts via text
    rows = [
        (1, "a b", "srcA"), (2, "c d", "srcA"),          # 4 tokens
        (3, "e f g h i j k l m n o p", "srcB"),          # 12
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: r
        for r in temperature_weights(docs, alpha=0.5).collect()
    }
    import math

    z = math.sqrt(4) + math.sqrt(12)
    assert got["srcA"]["n_docs"] == 2 and got["srcA"]["n_tokens"] == 4
    assert got["srcB"]["n_tokens"] == 12
    assert abs(got["srcA"]["weight"] - math.sqrt(4) / z) < 1e-6
    assert abs(got["srcB"]["weight"] - math.sqrt(12) / z) < 1e-6
    # epochs: srcA upsampled (>1), srcB downsampled (<1)
    assert abs(got["srcA"]["epochs"] - (math.sqrt(4) / z) * 16 / 4) < 1e-6
    assert got["srcA"]["epochs"] > 1 > got["srcB"]["epochs"]
    # alpha=1 -> proportional
    prop = {
        r["source"]: r["weight"]
        for r in temperature_weights(docs, alpha=1.0).collect()
    }
    assert abs(prop["srcA"] - 4 / 16) < 1e-6
    # alpha=0.1 flatter than alpha=0.5
    flat = {
        r["source"]: r["weight"]
        for r in temperature_weights(docs, alpha=0.1).collect()
    }
    assert flat["srcA"] > got["srcA"]["weight"]
    # precomputed token column path matches the tokenizing path
    from pyspark.sql import functions as F2

    pre = docs.withColumn(
        "nt", F2.when(F2.col("source") == "srcA", 2).otherwise(12)
    )
    got2 = {
        r["source"]: r["weight"]
        for r in temperature_weights(pre, alpha=0.5, token_col="nt").collect()
    }
    assert abs(got2["srcA"] - got["srcA"]["weight"]) < 1e-6


def test_split_assign_partitions_and_is_stable(spark):
    """split_assign (round 15): labels partition the corpus at the
    requested proportions, a doc's label never changes when the corpus
    grows, and the salt decorrelates splits from sample selections."""
    from influxdb_iox_spark.pipeline.corpus import (
        deterministic_sample,
        split_assign,
    )

    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    out = split_assign(df)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20_000  # a partition: one label each
    assert abs(counts["train"] / 20_000 - 0.90) < 0.02
    assert abs(counts["val"] / 20_000 - 0.05) < 0.01
    assert abs(counts["test"] / 20_000 - 0.05) < 0.01
    # growth stability: the first 5k docs keep their labels verbatim
    small = {r["doc_id"]: r["split"] for r in split_assign(df.filter(F.col("doc_id") < 5_000)).collect()}
    big = {r["doc_id"]: r["split"] for r in out.filter(F.col("doc_id") < 5_000).collect()}
    assert small == big
    # salt decorrelation: among docs sampled at rate 0.5 via the UNSALTED
    # md5 fraction, the train share stays ~0.9 (correlated hashing would
    # skew it toward the low-fraction half)
    sampled = deterministic_sample(
        df.withColumn("lang", F.lit("en")), {"en": 0.5}, id_col="doc_id"
    )
    sc = {r["split"]: r["n"] for r in split_assign(sampled).groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(sc["train"] / sum(sc.values()) - 0.90) < 0.02

    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(df, splits={"train": 0.8, "val": 0.1})


def test_corpus_diff_statuses(spark):
    """corpus_diff (round 15): full status census on a hand-built pair
    of snapshots, multi-column content participation, and the
    fingerprint-before-join shape (only id+fp reach the join)."""
    from influxdb_iox_spark.pipeline.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")],
        "doc_id long, text string, meta string",
    )
    new = spark.createDataFrame(
        [(2, "b", "y"), (3, "c", "CHANGED"), (4, "d", "w")],
        "doc_id long, text string, meta string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in corpus_diff(
            old, new, content_cols=("text", "meta")
        ).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    # meta-only change is invisible unless meta is a content column
    got_text_only = {
        r["doc_id"]: r["status"]
        for r in corpus_diff(old, new, content_cols=("text",)).collect()
    }
    assert got_text_only[3] == "unchanged"
    # plan: the join inputs are (id, fp) projections, not document bodies
    plan = corpus_diff(old, new)._jdf.queryExecution().executedPlan().toString()
    assert "text" not in plan.split("SortMergeJoin")[0].split("Project")[0]


def test_corpus_diff_null_layouts_fingerprint_distinctly(spark):
    """Round-15 advice: concat_ws silently SKIPS NULLs, so without a
    per-column NULL sentinel ('a', NULL) and (NULL, 'a')
    would collide — a change that nulls out or moves content between
    columns must read ``changed``, never ``unchanged``."""
    from influxdb_iox_spark.pipeline.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, None, "a"), (3, "a", None)],
        "doc_id long, text string, meta string",
    )
    new = spark.createDataFrame(
        [(1, None, "a"), (2, "a", None), (3, "a", None)],
        "doc_id long, text string, meta string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in corpus_diff(
            old, new, content_cols=("text", "meta")
        ).collect()
    }
    # 1 and 2 moved content across columns — changed; 3 is identical
    assert got == {1: "changed", 2: "changed", 3: "unchanged"}


def test_stratified_weighted_sample_quota_and_determinism(spark):
    """stratified_weighted_sample (round 16): exact per-stratum quota,
    deterministic across runs/layouts, non-positive weights excluded,
    and heavier docs win proportionally more often (E-S property checked
    coarsely: doubling every weight in one stratum changes nothing —
    keys shift by a constant — while a dominant-weight doc is always
    picked)."""
    from influxdb_iox_spark.pipeline.corpus import stratified_weighted_sample

    rows = [(i, "en" if i % 2 else "fr", float(1 + i % 7)) for i in range(200)]
    rows += [(900, "en", 1e9)]          # dominant weight: must be sampled
    rows += [(901, "en", 0.0), (902, "fr", -3.0), (903, "fr", None)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w double")

    got = stratified_weighted_sample(
        df, k=5, weight_col="w", strata_col="lang", id_col="doc_id", seed=7
    ).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert sorted(len(v) for v in by_lang.values()) == [5, 5]
    assert 900 in by_lang["en"]                       # dominant weight wins
    assert not {901, 902, 903} & set(d for v in by_lang.values() for d in v)

    again = stratified_weighted_sample(
        df.repartition(7), k=5, weight_col="w", strata_col="lang",
        id_col="doc_id", seed=7,
    ).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in got}

    # scaling every weight by a constant is rank-invariant (ln w + g)
    scaled = stratified_weighted_sample(
        df.withColumn("w", F.col("w") * 2), k=5, weight_col="w",
        strata_col="lang", id_col="doc_id", seed=7,
    ).collect()
    assert {r["doc_id"] for r in scaled} == {r["doc_id"] for r in got}

    with pytest.raises(ValueError, match="k must be"):
        stratified_weighted_sample(df, k=0, weight_col="w")
