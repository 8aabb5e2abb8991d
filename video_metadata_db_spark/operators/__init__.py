from .asof import asof_join, time_proximity_pairs
from .chunking import (
    chunk_dedup_groups,
    content_defined_chunks,
    doc_containment_pairs,
    sliding_grams,
)
from .clustering import cluster_profile, kmeans_assign, kmeans_assign_arrow
from .components import components_incremental, connected_components_star
from .dedup import (
    band_buckets,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_lsh_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    release_dedup_caches,
    shingles_of,
    shingles_of_tokens,
    simhash,
    simhash_near_pairs,
    tokens_of,
)
from .bpe import bpe_train, bpe_word_counts
from .diff import apply_diff, corpus_diff, corpus_diff_patch
from .membership import bloom_prefiltered_new_keys, build_bloom
from .packing import global_row_number, pack_blocks, sequence_offsets
from .multimodal import extract_features, sample_frames, synthesize_assets
from .parity import (
    merge_metadata_dbs,
    synthetic_part_filenames,
    update_new_files,
    variant_report,
    variant_report_flat,
    with_parsed_title,
)
from .pipeline import build_metadata_records, filter_candidates, join_sidecars
from .quantization import ivf_adc_topk, pq_adc_topk, pq_codebooks, pq_encode
from .probe import probe_videos
from .skew import salted_join, two_stage_distinct_count

__all__ = [
    "asof_join",
    "band_buckets",
    "bpe_train",
    "bpe_word_counts",
    "bloom_prefiltered_new_keys",
    "build_bloom",
    "build_metadata_records",
    "chunk_dedup_groups",
    "cluster_profile",
    "content_defined_chunks",
    "apply_diff",
    "corpus_diff",
    "corpus_diff_patch",
    "doc_containment_pairs",
    "components_incremental",
    "connected_components_star",
    "exact_dedup",
    "kmeans_assign",
    "kmeans_assign_arrow",
    "extract_features",
    "filter_candidates",
    "global_row_number",
    "join_sidecars",
    "lsh_candidate_pairs",
    "merge_metadata_dbs",
    "minhash_lsh_dedup",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "pack_blocks",
    "pq_adc_topk",
    "ivf_adc_topk",
    "pq_codebooks",
    "pq_encode",
    "probe_videos",
    "release_dedup_caches",
    "sample_frames",
    "sequence_offsets",
    "shingles_of",
    "shingles_of_tokens",
    "sliding_grams",
    "salted_join",
    "simhash",
    "simhash_near_pairs",
    "synthesize_assets",
    "synthetic_part_filenames",
    "time_proximity_pairs",
    "tokens_of",
    "two_stage_distinct_count",
    "update_new_files",
    "variant_report",
    "variant_report_flat",
    "with_parsed_title",
]
