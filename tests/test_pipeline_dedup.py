"""Dedup-pipeline tests: exact, minhash LSH, simhash, ngram jaccard — with
planted duplicate/near-duplicate documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from influxdb_iox_spark.pipeline.dedup import (
    drop_exact_duplicates,
    exact_duplicate_groups,
    minhash_signatures,
    near_duplicate_pairs_minhash,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_near_pairs,
)

BASE = (
    "spark is a unified analytics engine for large scale data processing "
    "with high level apis in java scala python and r plus an optimized engine"
)
NEAR = BASE.replace("optimized engine", "optimized runtime engine")  # near-dup of BASE
OTHER = (
    "completely different content about cooking pasta with tomatoes garlic "
    "olive oil and basil in a large pot of salted boiling water until al dente"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),  # exact dup of 1 (modulo nothing)
            (3, "  " + BASE.upper() + "  "),  # exact dup after normalization
            (4, NEAR),  # near dup of 1
            (5, OTHER),
        ],
        "doc_id long, text string",
    )


def test_exact_duplicate_groups(spark, docs):
    out = exact_duplicate_groups(docs)
    dups = out.filter(F.col("n_docs") > 1).collect()
    assert len(dups) == 1
    assert dups[0].n_docs == 3 and dups[0].canonical_id == 1


def test_drop_exact_duplicates(spark, docs):
    kept = sorted(r.doc_id for r in drop_exact_duplicates(docs).collect())
    assert kept == [1, 4, 5]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], "text string")
    out = [r[0] for r in df.select(shingles(F.col("text"), 3)).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == ["a b"]  # fewer tokens than n → whole text
    assert out[2] == []


def test_minhash_near_dup(spark, docs):
    pairs = near_duplicate_pairs_minhash(
        docs, num_perm=64, bands=16, threshold=0.5
    ).collect()
    found = {(r.a, r.b) for r in pairs}
    # exact dups always found; the near pair (1,4) should be found too
    assert (1, 2) in found and (1, 3) in found and (2, 3) in found
    assert (1, 4) in found
    # unrelated doc never pairs
    assert not any(5 in p for p in found)
    jac = {(r.a, r.b): r.jaccard for r in pairs}
    assert jac[(1, 2)] == pytest.approx(1.0)
    assert 0.5 <= jac[(1, 4)] < 1.0


def test_ngram_jaccard_exact(spark, docs):
    pairs = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 4) in pairs
    assert not any(5 in p for p in pairs)


def test_simhash_deterministic_and_near(spark, docs):
    sig = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sig[1] == sig[2] == sig[3]  # same normalized content
    assert sig[1] != sig[5]
    pairs = simhash_near_pairs(docs, max_hamming=8).collect()
    found = {(r.a, r.b): r.hamming for r in pairs}
    assert found[(1, 2)] == 0
    assert (1, 4) in found and found[(1, 4)] <= 8
    assert not any(5 in p for p in found)


def test_simhash_codegen_matches_pandas_udf(spark, docs):
    """The codegen expression pipeline must reproduce the Arrow-batched
    reference UDF bit-for-bit, including zero-token documents -> 0."""
    from influxdb_iox_spark.pipeline.dedup import _simhash64

    edge = spark.createDataFrame(
        [(10, "!!! ... ---"), (11, ""), (12, None), (13, "one_token")],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)
    codegen = {r.doc_id: r.simhash for r in simhash(both).collect()}
    udf = {
        r.doc_id: r.ref
        for r in both.select("doc_id", _simhash64(F.col("text")).alias("ref")).collect()
    }
    assert codegen == udf
    assert codegen[10] == 0 and codegen[11] == 0 and codegen[12] == 0


def test_simhash_hot_bucket_guard_opt_in(spark, docs):
    """Default: guard OFF (exhaustive pigeonhole guarantee intact).  With a
    tiny opt-in cap, dropped buckets lose pairs and the observability twin
    reports exactly those buckets."""
    from influxdb_iox_spark.pipeline.dedup import simhash_hot_buckets

    # default: the exact-dup trio (1,2,3) all pair up
    found = {(r.a, r.b) for r in simhash_near_pairs(docs, max_hamming=8).collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= found

    # cap of 2: the identical-signature docs share every band bucket (3 > 2)
    capped = {
        (r.a, r.b)
        for r in simhash_near_pairs(docs, max_hamming=8, max_bucket_size=2).collect()
    }
    assert not ({(1, 2), (1, 3), (2, 3)} & capped)
    hot = simhash_hot_buckets(docs, max_hamming=8, max_bucket_size=2).collect()
    # the identical-signature trio floods every band; the near-dup may join
    assert hot and all(r.n_docs in (3, 4) for r in hot)


def test_duplicate_clusters_and_drop(spark):
    from influxdb_iox_spark.pipeline.dedup import (
        drop_near_duplicates,
        duplicate_clusters,
    )

    # components: {1,2,3,4} via chain, {7,9}; 5 isolated (no edges)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 9)], "a long, b long"
    )
    labels = {r.doc: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in (1, 2, 3, 4, 5, 7, 9)], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in drop_near_duplicates(docs, pairs).collect())
    assert kept == [1, 5, 7]


def test_lsh_hot_bucket_guard_bounds_degenerate_corpora(spark):
    """A degenerate corpus (hundreds of identical docs -> one LSH bucket)
    must not go quadratic: with a cap, the hot bucket is excluded and the
    genuine near-dup pair in a small bucket still comes back."""
    from influxdb_iox_spark.pipeline.dedup import (
        lsh_hot_buckets,
        minhash_signatures,
        near_duplicate_pairs_minhash,
    )

    boiler = [(i, "the same boilerplate text repeated verbatim everywhere") for i in range(300)]
    real = [
        (1000, "a genuinely unique document about spark shuffle partitioning and skew"),
        (1001, "a genuinely unique document about spark shuffle partitioning and salt"),
        (2000, "completely unrelated content concerning maritime navigation rules"),
    ]
    df = spark.createDataFrame(boiler + real, "doc_id long, text string")

    pairs = near_duplicate_pairs_minhash(df, threshold=0.5, max_bucket_size=50)
    got = {(r.a, r.b) for r in pairs.collect()}
    # the 300-doc degenerate clique (≈45k pairs) was dropped by the guard...
    assert got == {(1000, 1001)}
    # ...and the observability twin reports exactly the hot buckets
    sigs = minhash_signatures(df)
    hot = lsh_hot_buckets(sigs, max_bucket_size=50).collect()
    assert len(hot) == 16  # all 16 bands of the identical-signature clique
    assert all(r.n_docs == 300 for r in hot)

    # without a cap the clique pairs come back (guard off -> exact recall)
    uncapped = near_duplicate_pairs_minhash(df, threshold=0.5, max_bucket_size=0)
    assert uncapped.count() == 300 * 299 // 2 + 1


def test_minhash_empty_docs_never_pair(spark):
    """Empty/token-less docs share sentinel signatures (same LSH buckets) but
    must have EMPTY shingle sets — hashing the null token would give every
    empty doc the same one-element set and jaccard 1.0 with each other."""
    from influxdb_iox_spark.pipeline.dedup import (
        minhash_signatures,
        near_duplicate_pairs_minhash,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, None), (4, "   .,!"), (10, "real text")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r for r in minhash_signatures(df).collect()}
    assert set(sigs) == {1, 2, 3, 4, 10}
    for d in (1, 2, 3, 4):
        assert sigs[d].shingles == [], d
    assert len(sigs[10].shingles) == 1  # single full-token shingle (k < n)
    assert near_duplicate_pairs_minhash(df, threshold=0.5).count() == 0


def test_simhash_tokenizers_are_equivalent():
    """The codegen tokenizer `[\\p{L}\\p{N}]+` (Java/DuckDB) and the pandas
    UDF's Python `[^\\W_]+` must accept exactly the same characters —
    verified by sweeping the whole BMP (CPython's str \\w is precisely the
    L*/N* categories plus ASCII underscore, which the class excludes)."""
    import re
    import unicodedata

    pat = re.compile(r"[^\W_]")
    diffs = [
        hex(cp)
        for cp in range(0x30, 0x10000)
        if bool(pat.fullmatch(chr(cp)))
        != (unicodedata.category(chr(cp))[0] in ("L", "N"))
    ]
    assert diffs == []


def test_jaccard_verify_union_arithmetic_bit_identical(spark, docs):
    """Round-16 union elimination: jaccard = i / (n_a + n_b - i) must be
    bit-identical to the array_union reference on every surviving pair —
    same integers divided, so the doubles (not just approx values) match."""
    from influxdb_iox_spark.pipeline.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
    )

    sigs = minhash_signatures(docs, "text", "doc_id", 3, 64)
    cands = lsh_candidate_pairs(sigs, "doc_id", 64, 16)
    got = {(r.a, r.b): r.jaccard for r in jaccard_verify(cands, sigs, "doc_id", 0.5).collect()}

    sh = sigs.select("doc_id", "shingles")
    ref_df = (
        cands.join(sh.withColumnsRenamed({"doc_id": "a", "shingles": "sh_a"}), "a")
        .join(sh.withColumnsRenamed({"doc_id": "b", "shingles": "sh_b"}), "b")
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    ref = {(r.a, r.b): r.jaccard for r in ref_df.collect()}
    assert got == ref  # exact dict equality: same pairs, bit-identical doubles
    assert (1, 4) in got  # the planted near pair actually exercises the math


def test_near_duplicate_pairs_materialize_modes_identical(spark):
    """The signature frame's two storage strategies — local_checkpoint
    (default) and parquet (cluster-shared) — give identical pairs; any
    other value raises instead of silently taking the checkpoint."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog while the cat naps on a mat"),
        (2, "the quick brown fox jumps over the lazy dog while the cat naps on a rug"),
        (3, "completely different text with no overlap at all"),
        (4, "ab"),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")

    def pairs(**kw):
        out = near_duplicate_pairs_minhash(df, threshold=0.5, **kw)
        return sorted((r.a, r.b, r.jaccard) for r in out.collect())

    base = pairs()
    assert [(a, b) for a, b, _ in base] == [(1, 2)]
    assert pairs(materialize="local_checkpoint") == base
    assert pairs(materialize="parquet") == base
    for bad in ("bogus", None):
        with pytest.raises(ValueError, match="materialize"):
            near_duplicate_pairs_minhash(df, materialize=bad)
