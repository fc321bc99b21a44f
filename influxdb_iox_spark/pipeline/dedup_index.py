"""Persisted fingerprint indexes for INCREMENTAL corpus dedup.

A 100 TB training-data pipeline does not dedup a static corpus once — it
continuously ingests new shards and must answer "which of these N new
documents already exist among the T documents accepted so far?" without
re-reading the corpus.  Both indexes here are plain bucket-partitioned
parquet, so they inherit object-store placement, schema evolution, and
per-bucket incremental append:

- **Exact index**: one row per accepted document's content digest
  (md5 of normalized text, 16 bytes + canonical id — a ~10⁻⁴ fraction
  of corpus bytes).  A new batch is digested, then LEFT ANTI joined
  against the index to keep only unseen content; accepted fingerprints
  append into their hash buckets.  The join shuffles digests, never
  text, and both sides are pre-bucketed by the same pmod(xxhash64)
  function so the exchange is balanced by construction.
- **MinHash index**: per accepted document its num_perm minhash
  signature plus its LSH band rows, partitioned by band bucket.  New
  documents band-join against ONLY their matching band buckets
  (partition pruning on the parquet read), then candidates are scored
  by signature-agreement fraction (an unbiased Jaccard estimate) with
  one zip_with — no shingle storage, no re-reading old text.

Scale notes: at 10¹⁰ accepted docs the exact index is ~300 GB of
digests — a large but ordinary parquet table; the anti-join is one
digest-keyed shuffle, and AQE handles the (tiny batch) × (huge index)
asymmetry by broadcasting the batch side.  Appends never rewrite
existing files (one new file per touched bucket per batch).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from influxdb_iox_spark.pipeline.dedup import minhash_signatures
from influxdb_iox_spark.pipeline.index_txn import maintenance_txn
from influxdb_iox_spark.pipeline.text import normalize_text

EXACT_META = "_dedup_meta.json"
MINHASH_META = "_minhash_meta.json"


def _content_hash(text_col: str) -> F.Column:
    return F.md5(normalize_text(F.col(text_col)))


def _bucket(col: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


# ---------------------------------------------------------------------------
# Exact-content index
# ---------------------------------------------------------------------------


def build_exact_index(
    df: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One fingerprint row per DISTINCT content (min id is canonical)."""
    fp = (
        df.select(_content_hash(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"))
        .withColumn("bucket", _bucket(F.col("content_hash"), n_buckets))
    )
    fp.write.mode("overwrite").partitionBy("bucket").parquet(path)
    with open(os.path.join(path, EXACT_META), "w") as f:
        json.dump({"kind": "exact", "n_buckets": n_buckets}, f)


def _read_exact(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    with open(os.path.join(path, EXACT_META)) as f:
        meta = json.load(f)
    # a VALID index with zero fingerprints has a meta file but no parquet
    # files (partitionBy writes nothing for an empty frame) — e.g. freshly
    # seeded by a streaming ingest before its first batch; detect THAT
    # case by listing, never by swallowing read errors (a corrupt or
    # unreadable index must fail loudly, not dedup against nothing)
    has_data = any(
        f.endswith(".parquet")
        for _, _, files in os.walk(path)
        for f in files
    )
    if not has_data:
        return (
            spark.createDataFrame(
                [], "content_hash string, canonical_id long, bucket int"
            ),
            meta["n_buckets"],
        )
    return spark.read.parquet(path), meta["n_buckets"]


def dedup_against_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Documents of ``new_docs`` whose content is NOT in the index AND not
    an exact duplicate of an earlier (min-id) document within the batch —
    the accepted set an ingest pipeline would append.

    One digest-keyed aggregate (intra-batch dedup) + one LEFT ANTI join
    (vs index).  Only digests shuffle; the index side projects two
    columns (ReadSchema is the digest + id, never text).

    The hashed batch is lazily localCheckpoint-ed (round-17): both the
    keep-aggregate and the final semi join consume it, and without the
    checkpoint every batch document was read and content-hashed twice
    (normalize + md5 per pass).  eager=False: the keep-aggregate — the
    first consumer inside the caller's own action — stores the blocks
    as a side effect.  Block volume is one ingest batch (text + 32-char
    digest), bounded by the caller's batch sizing, and blocks are keyed
    to this call: repeated probes recompute, nothing persists across
    runs.  A/B at sf0.1 (scripts/ab_misc_r17.py incr, rows identical):
    0.602 → 0.429 s min.
    """
    index, _ = _read_exact(spark, path)
    batch = new_docs.withColumn(
        "__h", _content_hash(text_col)
    ).localCheckpoint(eager=False)
    batch_keep = (
        batch.groupBy("__h").agg(F.min(id_col).alias(id_col))
    )
    fresh_keys = batch_keep.join(
        index.select(F.col("content_hash").alias("__h")), on="__h", how="left_anti"
    )
    return (
        batch.join(fresh_keys, on=["__h", id_col], how="left_semi").drop("__h")
    )


def duplicate_matches(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(new_id, canonical_id) for batch documents already in the index —
    the provenance record a dedup audit keeps."""
    index, _ = _read_exact(spark, path)
    batch = new_docs.select(
        _content_hash(text_col).alias("content_hash"),
        F.col(id_col).alias("new_id"),
    )
    return batch.join(index.select("content_hash", "canonical_id"), on="content_hash")


def _append_fp_locked(spark, path, accepted_docs, text_col, id_col, txn) -> None:
    _, n_buckets = _read_exact(spark, path)
    fp = (
        accepted_docs.select(
            _content_hash(text_col).alias("content_hash"), F.col(id_col)
        )
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"))
        .withColumn("bucket", _bucket(F.col("content_hash"), n_buckets))
    )
    txn.mutating()
    fp.write.mode("append").partitionBy("bucket").parquet(path)


def remove_from_index(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    guard=None,
    force: bool = False,
    writer: str | None = None,
) -> int:
    """Remove fingerprints by CONTENT — the takedown path (a document
    deleted for rights reasons must also stop blocking a future
    legitimate copy; for contamination you usually KEEP the fingerprint
    so the content can never re-enter — caller's choice, this is the
    remove half).  Returns the number of fingerprints removed.

    Partition-scoped like every maintainer: the docs' own content
    hashes locate the buckets, only those rewrite (dynamic partition
    overwrite), a bucket the removal empties is cleared explicitly, and
    removing an absent fingerprint is a no-op (idempotent replays).
    Serialized through the index's writer claim, like the append side.  ``writer=`` names a SINGLE logical owner — two live processes must never share a name (a quiet dead incarnation is self-succeeded after the liveness grace).
    """
    with maintenance_txn(path, guard=guard, force=force, writer=writer) as txn:
        idx, n_buckets = _read_exact(spark, path)
        victim = (
            docs.select(_content_hash(text_col).alias("content_hash"))
            .distinct()
            .withColumn("bucket", _bucket(F.col("content_hash"), n_buckets))
            .localCheckpoint(eager=True)
        )
        touched = [
            r["bucket"] for r in victim.select("bucket").distinct().collect()
        ]
        if not touched:
            return 0
        old = idx.filter(F.col("bucket").isin(touched))
        n_before = old.count()
        merged = old.join(
            F.broadcast(victim.select("content_hash")),
            "content_hash",
            "left_anti",
        ).localCheckpoint(eager=True)
        n_removed = n_before - merged.count()
        txn.mutating()
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("bucket").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        survived = {
            r["bucket"] for r in merged.select("bucket").distinct().collect()
        }
        jvm = spark._jvm
        for b in set(touched) - survived:
            jpath = jvm.org.apache.hadoop.fs.Path(
                os.path.join(path, f"bucket={b}")
            )
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(jpath, True)
        return n_removed


def ingest_batch(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    guard=None,
    force: bool = False,
    writer: str | None = None,
) -> DataFrame:
    """The full incremental step: accept = dedup vs index (+ intra-batch),
    append accepted fingerprints, return the accepted documents.

    The accept→append pair runs under ONE writer claim
    (``pipeline.index_txn``), so two concurrent ingesters can no longer
    both accept the same content in the race window — the second claims
    after the first's append committed and its dedup sees the new
    fingerprints.  Parallelism lives INSIDE the batch (every step is a
    distributed job); scale batch size, not ingester count.  A crash
    between accept and append re-accepts the batch on retry (re-drive
    with ``force=True``), which is harmless: the re-append collapses to
    the same digest rows and queries over accepted docs dedup on
    content anyway.  ``writer=`` names a SINGLE logical owner — two live processes must never share a name (a quiet dead incarnation is self-succeeded after the liveness grace)."""
    with maintenance_txn(path, guard=guard, force=force, writer=writer) as txn:
        fresh = dedup_against_index(spark, path, new_docs, text_col, id_col)
        # materialize before appending: the append would otherwise change
        # the index the SAME lazy plan reads (read-your-own-write hazard)
        fresh = fresh.localCheckpoint(eager=True)
        _append_fp_locked(spark, path, fresh, text_col, id_col, txn)
        return fresh


# ---------------------------------------------------------------------------
# MinHash signature index (incremental near-dup)
# ---------------------------------------------------------------------------


def build_minhash_index(
    df: DataFrame,
    path: str,
    num_perm: int = 64,
    nbands: int = 16,
    shingle_n: int = 3,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Band rows (band_id, band_hash, doc_id, signature) partitioned by
    pmod(band_hash) bucket.  The signature array rides along so candidate
    scoring never revisits the original text."""
    assert num_perm % nbands == 0, "num_perm must divide into nbands"
    sig = minhash_signatures(df, text_col, id_col, shingle_n, num_perm)
    rows_per_band = num_perm // nbands
    bands = sig.select(
        F.col(id_col),
        F.col("signature"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            F.lit(b),
                            *[
                                F.col("signature")[i]
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ],
                        ).alias("band_hash"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("band"),
    ).select(
        id_col,
        "signature",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_hash").alias("band_hash"),
        _bucket(F.col("band.band_hash"), n_buckets).alias("bucket"),
    )
    bands.write.mode("overwrite").partitionBy("bucket").parquet(path)
    with open(os.path.join(path, MINHASH_META), "w") as f:
        json.dump(
            {
                "kind": "minhash",
                "num_perm": num_perm,
                "nbands": nbands,
                "shingle_n": shingle_n,
                "n_buckets": n_buckets,
            },
            f,
        )


def near_dups_against_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(new_id, index_id, est_jaccard) for batch documents whose estimated
    Jaccard vs an indexed document is ≥ threshold.

    Band-join against only the matching band buckets, then ONE zip_with
    pass over the two signatures scores each candidate pair
    (agreement fraction = unbiased Jaccard estimate); pairs are deduped
    on (new, index) id before scoring so a pair colliding in several
    bands is scored once.
    """
    with open(os.path.join(path, MINHASH_META)) as f:
        meta = json.load(f)
    sig = minhash_signatures(
        new_docs, text_col, id_col, meta["shingle_n"], meta["num_perm"]
    )
    rows_per_band = meta["num_perm"] // meta["nbands"]
    batch_bands = sig.select(
        F.col(id_col).alias("new_id"),
        F.col("signature").alias("new_sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            F.lit(b),
                            *[
                                F.col("signature")[i]
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ],
                        ).alias("band_hash"),
                    )
                    for b in range(meta["nbands"])
                ]
            )
        ).alias("band"),
    ).select(
        "new_id",
        "new_sig",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_hash").alias("band_hash"),
        _bucket(F.col("band.band_hash"), meta["n_buckets"]).alias("bucket"),
    )
    index = spark.read.parquet(path)
    cand = (
        batch_bands.join(
            index.withColumnRenamed(id_col, "index_id").withColumnRenamed(
                "signature", "index_sig"
            ),
            on=["bucket", "band_id", "band_hash"],
        )
        .groupBy("new_id", "index_id")
        .agg(
            F.first("new_sig").alias("new_sig"),
            F.first("index_sig").alias("index_sig"),
        )
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("new_sig"),
            F.col("index_sig"),
            lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = (agree / F.lit(float(len_signature(path)))).alias("est_jaccard")
    return (
        cand.select("new_id", "index_id", est)
        .filter(F.col("est_jaccard") >= threshold)
    )


def len_signature(path: str) -> int:
    with open(os.path.join(path, MINHASH_META)) as f:
        return json.load(f)["num_perm"]


# ---------------------------------------------------------------------------
# Segment (repeated-span) index — incremental paragraph/word-window dedup
# ---------------------------------------------------------------------------

SEGMENT_META = "_segment_meta.json"


def _segment_fingerprints(
    segs: DataFrame, id_col: str, n_buckets: int
) -> DataFrame:
    """(segment_hash, canonical_id, canonical_seg_idx, bucket) rows —
    the ONE digest-keyed aggregate both index build and append share, so
    the winner ordering and bucketing can never desynchronize."""
    return (
        segs.select(
            F.md5(F.col("segment")).alias("segment_hash"),
            F.col(id_col), F.col("seg_idx"),
        )
        .groupBy("segment_hash")
        .agg(F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("__w"))
        .select(
            "segment_hash",
            F.col(f"__w.{id_col}").alias("canonical_id"),
            F.col("__w.seg_idx").alias("canonical_seg_idx"),
        )
        .withColumn("bucket", _bucket(F.col("segment_hash"), n_buckets))
    )


def build_segment_index(
    df: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    delimiter: str | None = None,
    words_per_segment: int | None = None,
) -> None:
    """One row per DISTINCT segment across the corpus so far: the
    incremental counterpart of pipeline/paragraph.dedup_segments.

    The index stores (segment_hash, canonical_id, canonical_seg_idx) —
    16-byte digests, never segment text — bucket-partitioned by
    pmod(xxhash64(digest)) like the exact index.  Segmentation params
    persist in the meta file so every future batch segments identically.
    """
    from influxdb_iox_spark.pipeline.paragraph import segment_documents

    segs = segment_documents(
        df, text_col, id_col,
        delimiter=delimiter, words_per_segment=words_per_segment,
    )
    fp = _segment_fingerprints(segs, id_col, n_buckets)
    fp.write.mode("overwrite").partitionBy("bucket").parquet(path)
    with open(os.path.join(path, SEGMENT_META), "w") as f:
        json.dump(
            {
                "kind": "segment",
                "n_buckets": n_buckets,
                "delimiter": delimiter,
                "words_per_segment": words_per_segment,
            },
            f,
        )


def _read_segment(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    with open(os.path.join(path, SEGMENT_META)) as f:
        meta = json.load(f)
    return spark.read.parquet(path), meta


def scrub_against_segment_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite each new document keeping only segments that are (a) not in
    the index and (b) the first occurrence within the batch; returns
    ``(id_col, n_segments, segments_kept, text_col)`` rebuilt rows.
    Documents whose every segment is boilerplate vanish.

    Plan: codegen segmentation -> intra-batch min-struct aggregate ->
    LEFT ANTI join on the digest (only digests shuffle; the index scan
    reads segment_hash alone) -> in-group reassembly.
    """
    from influxdb_iox_spark.pipeline.paragraph import (
        first_occurrences,
        reassemble_segments,
        segment_documents,
    )

    index, meta = _read_segment(spark, path)
    segs = segment_documents(
        new_docs, text_col, id_col,
        delimiter=meta["delimiter"],
        words_per_segment=meta["words_per_segment"],
    )
    totals = segs.groupBy(id_col).agg(F.count("*").alias("n_segments"))
    batch_first = first_occurrences(segs, id_col)
    fresh = batch_first.withColumn(
        "__h", F.md5(F.col("segment"))
    ).join(
        index.select(F.col("segment_hash").alias("__h")),
        on="__h", how="left_anti",
    ).drop("__h")
    sep = meta["delimiter"] if meta["delimiter"] is not None else " "
    rebuilt = reassemble_segments(fresh, id_col, sep).withColumnRenamed(
        "text", text_col
    )
    return rebuilt.join(totals, on=id_col).select(
        id_col, "n_segments", "segments_kept", text_col
    )


def append_segments_to_index(
    spark: SparkSession,
    path: str,
    accepted_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    guard=None,
    force: bool = False,
    writer: str | None = None,
) -> None:
    """Append the accepted batch's segment digests (caller scrubbed the
    batch first; intra-batch repeats collapse to their min position).
    One new file per touched bucket, no rewrite of existing files.
    Serialized through the index's writer claim (``pipeline.index_txn``).  ``writer=`` names a SINGLE logical owner — two live processes must never share a name (a quiet dead incarnation is self-succeeded after the liveness grace)."""
    with maintenance_txn(path, guard=guard, force=force, writer=writer) as txn:
        _append_segments_locked(
            spark, path, accepted_docs, text_col, id_col, txn
        )


def _append_segments_locked(
    spark, path, accepted_docs, text_col, id_col, txn
) -> None:
    from influxdb_iox_spark.pipeline.paragraph import segment_documents

    _, meta = _read_segment(spark, path)
    segs = segment_documents(
        accepted_docs, text_col, id_col,
        delimiter=meta["delimiter"],
        words_per_segment=meta["words_per_segment"],
    )
    fp = _segment_fingerprints(segs, id_col, meta["n_buckets"])
    txn.mutating()
    fp.write.mode("append").partitionBy("bucket").parquet(path)


def ingest_segments_batch(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    guard=None,
    force: bool = False,
    writer: str | None = None,
) -> DataFrame:
    """Full incremental repeated-span step: scrub vs index (+ intra-batch
    first-occurrence), append the surviving segments' digests, return the
    rebuilt documents.  The scrub→append pair runs under ONE writer claim
    (same shape as ``ingest_batch``); crash-retry re-appends the same
    digest rows, which fold in the min-struct aggregate.  ``writer=`` names a SINGLE logical owner — two live processes must never share a name (a quiet dead incarnation is self-succeeded after the liveness grace)."""
    with maintenance_txn(path, guard=guard, force=force, writer=writer) as txn:
        scrubbed = scrub_against_segment_index(
            spark, path, new_docs, text_col, id_col
        )
        scrubbed = scrubbed.localCheckpoint(eager=True)
        _append_segments_locked(spark, path, scrubbed, text_col, id_col, txn)
        return scrubbed
