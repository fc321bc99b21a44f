"""Document deduplication at corpus scale: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design (the part that matters at 100 TB):
- Exact dedup is a hash groupBy — one shuffle on a 128-bit digest, perfectly
  distributed.
- MinHash signatures are computed with built-in expressions only
  (shingle array → per-permutation murmur3 → array_min), so signature
  generation is JVM-side and embarrassingly parallel.
- LSH banding turns the quadratic all-pairs problem into a shuffle on
  (band_id, band_hash): only documents agreeing on a full band ever meet.
  Candidate pairs are then verified with exact Jaccard on shingle sets.
- SimHash uses one Arrow-batched pandas_udf (numpy bit-voting) and banded
  Hamming join (pigeonhole: distance ≤ k ⇒ some band of the signature is
  identical when split into k+1 bands).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType

from influxdb_iox_spark.pipeline.text import normalize_text, word_tokens

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by md5(normalized text): (content_hash, n_docs,
    canonical_id = min id).  ``n_docs > 1`` rows are duplicate clusters."""
    h = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("canonical_id"))
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id representative of each exact-duplicate cluster.

    min_by over the content-hash group — one shuffle, no window function, no
    sort; survivors keep all their original columns.
    """
    h = F.md5(normalize_text(F.col(text_col)))
    keep = (
        df.withColumn("__h", h)
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .drop("__h")
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Shingles + MinHash
# ---------------------------------------------------------------------------


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text (array<string>).

    Documents with < n tokens yield their full token array as one shingle.

    Grams come from arrays_zip over n shifted slices (pipeline/text.
    gram_structs) — the transform-over-token-indexes formulation inlines
    the tokenizer into the lambda and re-tokenizes the document per gram
    (quadratic; it dominated the minhash/simhash bench numbers).  The one
    remaining lambda only joins the already-materialized structs, linear
    interpreted work.
    """
    from influxdb_iox_spark.pipeline.text import gram_structs

    toks = word_tokens(col)
    k = F.size(toks)
    grams = F.transform(
        gram_structs(toks, n),
        lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]),
    )
    return F.array_distinct(
        F.when(k >= n, grams)
        .when(k > 0, F.array(F.array_join(toks, " ")))
        .otherwise(F.array())
    )


_MERSENNE31 = 2**31 - 1


def _affine_params(num_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic universal-hash family params: h_i(x) = (a_i·x + b_i) mod p."""
    import random

    rng = random.Random(seed)
    a = [rng.randrange(1, _MERSENNE31) for _ in range(num_perm)]
    b = [rng.randrange(0, _MERSENNE31) for _ in range(num_perm)]
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """(id, shingles, signature): MinHash via explode + affine permutations.

    Design for scale — this whole pipeline is WHOLE-STAGE CODEGEN, zero
    interpreted higher-order array functions (HOFs run interpreted per
    element in Spark, ~600µs/doc measured — they were 80% of the stage):

    1. tokens posexplode (one row per token), input repartitioned by id if
       it arrives in fewer splits than cores (a single-file corpus slice
       otherwise pins the heavy projection to one core);
    2. shingles rebuilt from consecutive rows with ``lead()`` over
       (id, position) — ``concat_ws`` skips the nulls at document tails, so
       a document shorter than ``shingle_n`` still yields its full-token
       shingle, matching ``shingles()``;
    3. murmur3 each shingle once (codegen), take num_perm mins of affine
       re-hashes ``(a_i·h + b_i) mod 2^31-1`` as plain aggregates — the
       groupBy reuses the window's hash partitioning (no second exchange),
       and map-side partial mins collapse rows before any shuffle.

    Duplicate (non-distinct) shingles are harmless here: min() is
    idempotent and collect_set dedups.  The collected set holds xxhash64
    LONGS, not raw n-gram strings — 8 bytes per distinct shingle on the
    exchange; Jaccard over 64-bit hash sets equals string-set Jaccard
    modulo ~2^-64-probability collisions (the DuckDB parity gate recomputes
    over raw strings and agrees).  Empty/token-less documents keep INT_MAX
    sentinel signatures and an EMPTY shingle set (the null token row maps
    to null, never hashed — hashing null would pair all empty docs at
    jaccard 1.0).
    """
    from influxdb_iox_spark.pipeline.text import gram_join

    a, b = _affine_params(num_perm)
    toks = word_tokens(F.col(text_col))
    # Two-step projection so the document is tokenized ONCE: computing
    # size(toks) alongside toks.alias() inlines a second full split into
    # the same Project; referencing the materialized __t from a second
    # Project is safe because CollapseProject only inlines an alias that
    # is referenced once or cheap, and __t is referenced twice here
    # (round-16 optimization, plan-verified: one split() in the scan
    # projection instead of two).
    base_df = df.select(F.col(id_col), toks.alias("__t")).select(
        F.col(id_col), F.col("__t"), F.size(F.col("__t")).alias("__k")
    )
    sc = df.sparkSession.sparkContext
    if base_df.rdd.getNumPartitions() < sc.defaultParallelism:
        base_df = base_df.repartition(sc.defaultParallelism, F.col(id_col))
    # Shingles via arrays_zip over shifted slices (the gram_structs shape,
    # round-5 BENCH_NOTES §4) instead of posexplode + lead() window: no
    # per-document sort, no token rows through an exchange — each document
    # lives in one partition, so the groupBy's map-side partial aggregation
    # collapses to ONE finished row per document before the shuffle.  The
    # gram count term keeps the legacy short-document semantics: a document
    # with 0 < k < n tokens yields its single full-token shingle
    # (arrays_zip pads the exhausted slices with null; concat_ws skips
    # them), and a token-less document yields the null row explode_outer
    # emits from an empty array (-> empty shingle set, sentinel mins).
    n_grams = F.greatest(
        F.col("__k") - (shingle_n - 1), F.least(F.col("__k"), F.lit(1))
    )
    zipped = F.arrays_zip(
        *[F.slice(F.col("__t"), F.lit(i + 1), n_grams) for i in range(shingle_n)]
    )
    ex = base_df.select(F.col(id_col), F.explode_outer(zipped).alias("__z"))
    ex = ex.withColumn(
        "s", F.when(F.col("__z").isNotNull(), gram_join("__z", shingle_n))
    )
    # Pre-project BOTH per-shingle hashes to plain long columns, then split
    # the per-doc aggregation in two (round 14, 2.9x at sf10 — 27.7 -> 9.4 s):
    #
    # - the 64 affine mins read a READY long, so each min is two arithmetic
    #   ops — the previous formulation embedded the string hash inside every
    #   min expression, and the combined aggregate (below) evaluated it
    #   64 times per shingle row;
    # - collect_set forces ObjectHashAggregateExec, which has NO whole-stage
    #   codegen — bundling the 64 mins with it ran them all interpreted.
    #   Split, the mins run in a codegen'd HashAggregate and only the set
    #   pays the object-aggregate price; the per-doc join re-unites two
    #   1-row-per-doc sides (both pre-aggregated map-side, so the extra
    #   exchange moves finished rows, not shingles).
    pre = ex.select(
        F.col(id_col),
        F.when(F.col("s").isNotNull(), F.hash(F.col("s")).cast("long")).alias(
            "__hb"
        ),
        F.when(F.col("s").isNotNull(), F.xxhash64(F.col("s"))).alias("__h64"),
    )
    # The hashed shingle rows are materialized ONCE, eagerly: the split
    # aggregate below reads `pre` twice (codegen mins + object-hash
    # collect_set), and the planner does not reuse the shared subtree
    # (verified: the executed plan carries two full
    # scan→tokenize→shingle→hash pipelines, no ReusedExchange), so
    # without a checkpoint every shingle is cut and hashed twice.  The
    # rows are (id, 2 longs) per shingle — the same bytes the
    # repartition exchange already moves.  Blocks are keyed to this
    # call, so repeated invocations recompute (no cross-run result
    # reuse).
    pre = pre.localCheckpoint(eager=True)
    mins = [
        F.coalesce(
            F.min(
                F.pmod(
                    F.lit(a[i]) * F.col("__hb") + F.lit(b[i]),
                    F.lit(_MERSENNE31),
                )
            ),
            F.lit(_MERSENNE31),
        ).alias(f"__m{i}")
        for i in range(num_perm)
    ]
    mins_df = pre.groupBy(id_col).agg(*mins)
    sets_df = pre.groupBy(id_col).agg(
        F.collect_set("__h64").alias("shingles")
    )
    # eqNullSafe: groupBy retains a NULL-id group on both sides; a plain
    # equi-join would silently drop it (round-14 advice), diverging from
    # the pre-split single-aggregate semantics.
    return mins_df.join(
        sets_df.withColumnRenamed(id_col, "__id_r"),
        F.col(id_col).eqNullSafe(F.col("__id_r")),
    ).select(
        F.col(id_col),
        F.col("shingles"),
        F.array(*[F.col(f"__m{i}") for i in range(num_perm)]).alias(
            "signature"
        ),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    max_bucket_size: int = 20_000,
) -> DataFrame:
    """MinHash-LSH banding: docs sharing any full band become candidates.

    Explode to (band_id, band_hash, doc) — the ONLY shuffle key; a self-join
    inside each bucket yields ordered candidate pairs (a < b), deduped.  Band
    width = num_perm // bands rows; with 64 perms / 16 bands the s-curve
    threshold sits near Jaccard ≈ (1/16)^(1/4) ≈ 0.5.

    Skew guard: a degenerate bucket (e.g. a boilerplate band value shared by
    millions of docs) would make its self-join quadratic and pin one
    executor.  Buckets larger than ``max_bucket_size`` are excluded via a
    broadcast anti-join before pairing (their pair lists would be
    ~all-duplicates of each other anyway — exact dedup catches those
    upstream far cheaper).  Use ``lsh_hot_buckets`` to observe what was
    dropped.
    """
    banded = _banded(sig_df, id_col, num_perm, bands)

    # ONE aggregate instead of a self-join: collect each bucket's member
    # list (bounded by the hot-bucket cap below), then generate ordered
    # combinations in-plan with two Generates over the sorted array.  The
    # former shuffle-hash self-join traversed `banded` twice (one exchange
    # per side) and needed a separate hot-bucket groupBy + broadcast
    # anti-join for the skew guard; here the guard is a plain size filter
    # on the same aggregate — one scan, one exchange, then pair explosion
    # colocated per bucket (identical placement to the SHJ's buckets).
    #
    # Skew guard unchanged in semantics: a degenerate bucket (boilerplate
    # band value shared by huge doc counts) would explode quadratically and
    # pin one task; buckets larger than ``max_bucket_size`` are dropped
    # (their members pair via their OTHER bands or exact dedup upstream).
    # Memory: the collected list is <= max_bucket_size longs (8B each —
    # 160 KB at the 20k default), far under executor task memory.
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    if max_bucket_size is not None and max_bucket_size > 0:
        grouped = grouped.filter(F.size("docs") <= max_bucket_size)
    ex = grouped.select(
        F.col("docs"), F.posexplode(F.col("docs")).alias("i", "a")
    )
    # the tail slice after position i gives every b > a exactly once per
    # bucket; slice length clamps at 0 for the last element (empty array
    # -> explode emits nothing)
    tail = F.slice(
        F.col("docs"),
        F.col("i") + 2,
        F.greatest(F.size("docs") - F.col("i") - 1, F.lit(0)),
    )
    return ex.select(F.col("a"), F.explode(tail).alias("b")).distinct()


def _banded(
    sig_df: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(doc, band, bucket) rows: one bucket hash per signature band — shared
    by the candidate join and the hot-bucket observability twin so the two
    can never disagree on bucketing.

    Band structs are built with a PYTHON-level loop (band count is a plan
    constant), so the whole projection is codegen — the previous
    ``transform(sequence(...))`` formulation ran the per-band lambda
    interpreted per document (the same HOF trap BENCH_NOTES §4 records
    for gram producers; linear here, not quadratic, but still
    interpreter-speed).  The bucket is xxhash64 over the band id + the
    band's signature slots — bucketing is internal (candidates are
    Jaccard-verified), so the hash function choice never changes results.
    """
    rows = num_perm // bands
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.lit(b),
                *[F.col("signature")[b * rows + i] for i in range(rows)],
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sig_df.select(
        F.col(id_col).alias("doc"), F.explode(F.array(*structs)).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_hot_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    max_bucket_size: int = 20_000,
) -> DataFrame:
    """Observability twin of the skew guard: (band, bucket, n_docs) for every
    bucket ``lsh_candidate_pairs`` would drop at this threshold (same
    ``_banded`` expression, so the report can never disagree with the
    guard)."""
    return (
        _banded(sig_df, id_col, num_perm, bands)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )


def jaccard_verify(
    pairs: DataFrame,
    sig_df: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard on distinct shingle-hash sets for candidate pairs.

    The two joins pulling shingle-hash arrays (xxhash64 longs, see
    ``minhash_signatures``) shuffle on the pair ids; similarity is
    array_intersect/array_union — JVM-side.  Returns (a, b, jaccard) with
    jaccard >= threshold.

    The candidate side is deliberately NOT broadcast: candidates are usually
    a tiny fraction of the corpus, but a boilerplate-heavy corpus that stays
    under the banding hot-bucket cap can still mint a pair list too large
    for the driver.  The shuffle-hash hint (same choice as the banding
    self-join) keeps the plan size-independent; AQE may still downgrade to
    a broadcast when the pair list really is small.

    Size prefilter (round 15, LOSSLESS): J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|)
    is a hard bound, so a pair whose set sizes alone put that bound under
    the threshold is dropped BEFORE its shingle arrays are joined — the
    size join moves one long per side where the array join moves whole
    shingle sets.  Output is provably identical (only true-J < threshold
    pairs are dropped), so the DuckDB oracle needs no change.

    Union by arithmetic (round 16, EXACT): ``minhash_signatures`` emits
    distinct, null-free shingle-hash sets, so ``|A∪B| = |A| + |B| − |A∩B|``
    holds as integer identity and the per-pair ``array_union`` hash-set
    build is replaced by arithmetic over the sizes the prefilter join
    already computed.  The optimizer pushes the jaccard filter into the
    pair join condition, so each set expression is evaluated TWICE
    (condition + projection) — dropping ``array_union`` removes two
    |A|+|B|-element hash-set builds per candidate pair.  Numerator and
    denominator are the same exact integers, the divided double is
    bit-identical, and the declared query's rows are unchanged
    (scripts/ab_verify_union.py asserts exact row equality before timing).
    """
    sz = sig_df.select(F.col(id_col), F.size("shingles").alias("__n"))
    survivors = (
        pairs.hint("shuffle_hash")
        .join(sz.withColumnsRenamed({id_col: "a", "__n": "__n_a"}), "a")
        .join(sz.withColumnsRenamed({id_col: "b", "__n": "__n_b"}), "b")
        .filter(
            F.least("__n_a", "__n_b").cast("double")
            >= F.lit(threshold) * F.greatest("__n_a", "__n_b")
        )
        .select("a", "b", "__n_a", "__n_b")
    )
    sh = sig_df.select(F.col(id_col), F.col("shingles"))
    a_sh = sh.withColumnsRenamed({id_col: "a", "shingles": "sh_a"})
    b_sh = sh.withColumnsRenamed({id_col: "b", "shingles": "sh_b"})
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        survivors.hint("shuffle_hash").join(a_sh, "a")
        .join(b_sh, "b")
        .select("a", "b", "__n_a", "__n_b", inter.alias("__i"))
        .select(
            "a",
            "b",
            (
                F.col("__i")
                / F.greatest(
                    F.col("__n_a") + F.col("__n_b") - F.col("__i"), F.lit(1)
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def materialize_parquet(df: DataFrame, directory: str | None = None) -> DataFrame:
    """Write-and-reread materialization: the reread plan gets exact file
    statistics and a clean columnar layout.  ``directory`` must be
    storage every executor can reach (shared FS / object store on a
    cluster; any tmp dir on local mode) — when None, a process-local
    temp dir is created and reclaimed at exit (LOCAL MODE ONLY)."""
    import atexit
    import shutil
    import tempfile
    import uuid as _uuid

    if directory is None:
        directory = tempfile.mkdtemp(prefix="iox-materialize-")
        atexit.register(shutil.rmtree, directory, ignore_errors=True)
    path = f"{directory.rstrip('/')}/m-{_uuid.uuid4().hex[:8]}"
    df.write.mode("errorifexists").parquet(path)
    return df.sparkSession.read.parquet(path)


def near_duplicate_pairs_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int = 20_000,
    materialize: str = "local_checkpoint",
    materialize_dir: str | None = None,
) -> DataFrame:
    """End-to-end MinHash near-dup: shingle → sign → band → verify.

    Signatures are materialized ONCE before branching (three consumers:
    banding + both sides of the verify join); without it the Python-free
    but expensive shingle/sign stage re-executes per consumer.  Two
    strategies (``materialize``):

    - ``"local_checkpoint"`` (default): executor-local blocks; works on
      any cluster with no storage config.  Not cache(): a cached
      InMemoryRelation freezes its 32-partition pre-AQE plan, so every
      downstream stage inherits overhead-bound micro-tasks.
    - ``"parquet"``: write-and-reread via ``materialize_parquet`` —
      exact file stats for AQE and, measured under the sentinel protocol
      (BENCH_NOTES r6), materially lower run-to-run variance than the
      checkpoint's block-manager writes.  Pass ``materialize_dir`` on a
      real cluster (shared FS / object store).

    Any other ``materialize`` value raises ``ValueError``.  The
    per-shingle frame inside ``minhash_signatures`` is an eager
    ``localCheckpoint`` under either strategy.
    """
    if materialize not in ("local_checkpoint", "parquet"):
        raise ValueError(
            "materialize must be 'local_checkpoint' or 'parquet', "
            f"got {materialize!r}"
        )
    sigs = minhash_signatures(df, text_col, id_col, shingle_n, num_perm)
    if materialize == "parquet":
        sigs = materialize_parquet(sigs, materialize_dir)
    else:
        sigs = sigs.localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(sigs, id_col, num_perm, bands, max_bucket_size)
    return jaccard_verify(cands, sigs, id_col, threshold)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for modest cardinalities / oracle checks)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs Jaccard via shingle inverted index (no LSH).

    Explode shingles → self-join on shingle → count shared → Jaccard with
    |A|+|B|-shared.  Quadratic only within identical shingles — the classic
    inverted-index bound.  Use minhash for web-scale; this is the exact
    baseline and the oracle-checkable formulation.
    """
    sh = df.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh")
    ).select(F.col(id_col), F.col("sh"), F.size("sh").alias("n_sh"))
    ex = sh.select(id_col, "n_sh", F.explode("sh").alias("s"))
    a = ex.select(
        F.col(id_col).alias("a"), F.col("n_sh").alias("na"), F.col("s")
    )
    b = ex.select(
        F.col(id_col).alias("b"), F.col("n_sh").alias("nb"), F.col("s")
    )
    shared = (
        a.join(b, on=[a.s == b.s, a.a < b.b])
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return shared.select("a", "b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# Duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def duplicate_clusters(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Cluster ids from a near-duplicate pair list: connected components by
    iterative min-label propagation.

    (doc, cluster_id) where cluster_id = min doc id in the component.  Each
    iteration is one join + aggregate (label flows both directions along
    edges); converges in O(component diameter) rounds — near-dup clusters
    are shallow, so the bound is generous.  This is the standard large-graph
    CC recipe on DataFrames (no GraphX dependency, works at corpus scale).
    """
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
    )
    labels = (
        edges.select(F.col("x").alias("doc"))
        .distinct()
        .withColumn("cluster_id", F.col("doc"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.y == labels.doc)
            .groupBy("x")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc == neighbor_min.x, "left")
            .select(
                "doc",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def drop_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (the min-id member) per near-dup cluster."""
    clusters = duplicate_clusters(pairs)
    losers = clusters.filter(F.col("doc") != F.col("cluster_id")).select(
        F.col("doc").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@F.pandas_udf(LongType())
def _simhash64(texts):
    """64-bit SimHash over word tokens (Arrow-batched, numpy bit-voting).

    Token hashes use md5 (stable across processes, unlike Python's builtin
    hash) — first 8 bytes as uint64.  Kept as the differential-test twin of
    the codegen ``simhash``; the per-token Python loop makes it ~100× slower
    than the expression pipeline, so it is no longer on any query path.
    """
    import numpy as np
    import pandas as pd
    import re

    out = np.zeros(len(texts), dtype=np.int64)
    token_re = re.compile(r"[^\W_]+", re.UNICODE)
    for i, t in enumerate(texts):
        if not t:
            continue
        votes = np.zeros(64, dtype=np.int64)
        for tok in token_re.findall(t.lower()):
            h = np.uint64(
                int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
            )
            bits = ((h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
            votes += 2 * bits - 1
        sig = np.uint64(0)
        for b in range(64):
            if votes[b] > 0:
                sig |= np.uint64(1) << np.uint64(b)
        out[i] = np.int64(sig)
    return pd.Series(out)


# Java regex twin of the pandas UDF's Python ``[^\W_]+`` tokenizer (and of
# the DuckDB oracle's ``[\p{L}\p{N}]+``): runs of letters/digits of
# lower(text).
_SIMHASH_TOKEN_RE = r"[\p{L}\p{N}]+"


def simhash(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash fingerprints — pure codegen column expressions.

    Same shape as the MinHash signature pipeline: tokenize
    (regexp_extract_all) → explode → md5 per token split into two 32-bit
    longs → ONE hash aggregate per ``id_col`` computing all 64 ±1 bit-vote
    sums → signature reassembled from the vote signs (bit 63's term is the
    two's-complement negative, so the plain long sum reinterprets the u64
    correctly).  The shuffle carries (id, two longs), never token strings.

    Requires unique ``id_col`` values (signatures join back on it); rows
    whose text has no tokens get signature 0, matching ``_simhash64``.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(_SIMHASH_TOKEN_RE), F.lit(0)
            )
        ).alias("__tk"),
    )
    hx = F.md5(F.col("__tk"))
    toks = toks.select(
        id_col,
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("__hi"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("__lo"),
    )
    votes = []
    for b in range(64):
        word = F.col("__hi") if b >= 32 else F.col("__lo")
        bit = F.shiftrightunsigned(word, b - 32 if b >= 32 else b).bitwiseAND(
            F.lit(1)
        )
        votes.append(F.sum(bit * 2 - 1).alias(f"__v{b}"))
    agg = toks.groupBy(id_col).agg(*votes)
    # Reassemble the signature from the vote signs as two 32-bit halves
    # via conv(bitstring) — NOT a 64-term chained sum: the chained
    # when(+)-tree nests 64 Adds deep and Catalyst's optimizer pays for
    # that depth on EVERY action (a DataFrame write re-plans), measured
    # ~1.3 s/plan vs ~0.5 s for this flat concat shape on an otherwise
    # idle driver (round-16 optimization; results verified bit-identical
    # — shiftleft wraps two's-complement, so hi<<32|lo is exactly the
    # u64 bit pattern the vote signs spell).
    bits_hi = F.concat(
        *[
            F.when(F.col(f"__v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(63, 31, -1)
        ]
    )
    bits_lo = F.concat(
        *[
            F.when(F.col(f"__v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(31, -1, -1)
        ]
    )
    sig = F.shiftleft(F.conv(bits_hi, 2, 10).cast("long"), 32).bitwiseOR(
        F.conv(bits_lo, 2, 10).cast("long")
    )
    sigs = agg.select(F.col(id_col), sig.alias(out_col))
    return df.join(sigs, on=id_col, how="left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0).cast("long"))
    )


def _simhash_banded(sig: DataFrame, id_col: str, nbands: int) -> DataFrame:
    """(doc, sig, band, bits) rows — shared by the pair join and the
    hot-bucket observability twin so the two can never disagree."""
    width = 64 // nbands
    return sig.select(
        F.col(id_col).alias("doc"),
        F.col("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bits"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "sig", F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole banding: split 64 bits into (max_hamming+1) bands; any pair
    within distance k agrees exactly on ≥1 band → join on (band_id, band
    bits), verify with bit_count(xor).  Same shuffle-not-crossproduct shape
    as MinHash-LSH.

    Unlike probabilistic LSH, this banding is EXHAUSTIVE — the pigeonhole
    guarantee (distance ≤ k ⟹ some band identical) is what makes the result
    provably equal to the all-pairs computation, so the hot-bucket skew
    guard is OFF by default here: dropping a bucket would silently lose true
    pairs.  Opt in with ``max_bucket_size`` on corpora where a degenerate
    band (e.g. boilerplate hashing a band to all zeros) goes quadratic —
    the result is then only complete for pairs outside dropped buckets;
    ``simhash_hot_buckets`` reports exactly what was dropped.
    """
    nbands = max_hamming + 1
    sig = simhash(df.select(id_col, text_col), text_col, "sig", id_col).select(
        id_col, "sig"
    )
    # Materialize the signature frame ONCE (round-16 optimization): both
    # sides of the banded self-join below derive from it, and without a
    # materialization the ENTIRE signature pipeline — tokenize, explode,
    # md5 per token, the 64-sum bit-vote aggregate — executes twice
    # (plan-verified: plans/r16/simhash_near_dup_before.txt carries the
    # Generate + 64×partial_sum subtree on BOTH join inputs).  The frame
    # is two fixed-width columns per document, so the checkpoint is tiny;
    # localCheckpoint blocks are keyed to this RDD object, so a repeated
    # invocation recomputes from the inputs (no cross-run result reuse).
    sig = sig.localCheckpoint(eager=True)
    bands = _simhash_banded(sig, id_col, nbands)

    # Banded shuffle-hash self-join on (band, bits): rows are (doc, sig,
    # band, bits) — 28 bytes, no arrays — so the exchange and the join
    # output never carry per-bucket struct lists.  (A collect_list +
    # posexplode/slice rewrite measured ~4x slower on first execution
    # because the first Generate materializes the whole bucket array into
    # every exploded row; the banded explode runs once per join side over
    # the checkpointed signature frame — cheap codegen over two fixed-
    # width columns.)
    if max_bucket_size is not None and max_bucket_size > 0:
        hot = (
            bands.groupBy("band", "bits")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band", "bits")
        )
        bands = bands.join(F.broadcast(hot), on=["band", "bits"], how="left_anti")

    l, r = bands.alias("l"), bands.alias("r")
    ham = F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig")))
    return (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bits") == F.col("r.bits"),
                F.col("l.doc") < F.col("r.doc"),
            ],
        )
        .select(
            F.col("l.doc").alias("a"),
            F.col("r.doc").alias("b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_hot_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 20_000,
) -> DataFrame:
    """Observability twin of ``simhash_near_pairs``' opt-in skew guard:
    (band, bits, n_docs) for every bucket that threshold would drop (same
    ``_simhash_banded`` expression, so the report can never disagree with
    the guard)."""
    nbands = max_hamming + 1
    sig = simhash(df.select(id_col, text_col), text_col, "sig", id_col).select(
        id_col, "sig"
    )
    return (
        _simhash_banded(sig, id_col, nbands)
        .groupBy("band", "bits")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )
