"""Large-scale training-data pipeline operators (beyond the reference surface).

These are first-class engine components designed for 100 TB corpora:
- dedup: exact (hash groupBy), MinHash+LSH, SimHash — shuffle-light banding;
  connected-components clustering of near-dup pairs
- similarity: brute-force cosine top-k baseline + LSH/IVF scale paths
- text: language-ID heuristic, quality scoring, token counting, fingerprints
- multimodal: binary columns with typed metadata; decode/extract plumbing as
  Arrow-batched mapInPandas (decoders stubbed — image/audio libs not present)
"""

from influxdb_iox_spark.pipeline.dedup import (
    drop_exact_duplicates,
    drop_near_duplicates,
    duplicate_clusters,
    exact_duplicate_groups,
    near_duplicate_pairs_minhash,
    simhash,
    simhash_hot_buckets,
    simhash_near_pairs,
)
from influxdb_iox_spark.pipeline.corpus import (
    contamination_check,
    deterministic_sample,
    pack_shards,
)
from influxdb_iox_spark.pipeline.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_threshold,
    cosine_topk,
    embedding_near_dup_pairs,
)
from influxdb_iox_spark.pipeline.paragraph import (
    dedup_segments,
    first_occurrences,
    segment_documents,
)
from influxdb_iox_spark.pipeline.text import (
    fingerprint,
    lang_id,
    ngram_counts,
    quality_features,
    redact_pii,
    token_count,
)

__all__ = [
    "drop_exact_duplicates",
    "drop_near_duplicates",
    "duplicate_clusters",
    "exact_duplicate_groups",
    "near_duplicate_pairs_minhash",
    "simhash",
    "simhash_hot_buckets",
    "simhash_near_pairs",
    "contamination_check",
    "deterministic_sample",
    "pack_shards",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "cosine_threshold",
    "cosine_topk",
    "embedding_near_dup_pairs",
    "dedup_segments",
    "first_occurrences",
    "segment_documents",
    "fingerprint",
    "lang_id",
    "ngram_counts",
    "quality_features",
    "redact_pii",
    "token_count",
]
