"""Operator surface: every §2 reference operator and the
beyond-reference training-data layer, re-exported for one-stop import.

``from rental_data_pipeline_spark.operators import merge_listings, ...``
"""

from rental_data_pipeline_spark.operators.ann_index import (  # noqa: F401
    append_ann_index,
    build_ann_index,
    compact_ann_appends,
    ivf_topk_persisted,
    pq_topk_persisted,
    regrow_ann_index,
)
from rental_data_pipeline_spark.operators.asof import asof_join  # noqa: F401
from rental_data_pipeline_spark.operators.dedup import (  # noqa: F401
    connected_components,
    contamination_report,
    cross_doc_span_coverage,
    cut_duplicated_spans,
    duplicated_span_extents,
    duplicated_spans,
    multi_window_duplicated_spans,
    exact_duplicates,
    fingerprint_duplicate_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    overlap_pairs,
    simhash_near_pairs,
)
from rental_data_pipeline_spark.operators.expectations import (  # noqa: F401
    expectation_metrics,
    quarantine_invalid,
    validate,
)
from rental_data_pipeline_spark.operators.flatten import (  # noqa: F401
    drop_temp_columns,
    flatten_listings,
)
from rental_data_pipeline_spark.operators.merge import (  # noqa: F401
    merge_listings,
    merge_snapshots,
)
from rental_data_pipeline_spark.operators.normalize import (  # noqa: F401
    normalize_listings,
)
from rental_data_pipeline_spark.operators.profile import table_profile  # noqa: F401
from rental_data_pipeline_spark.operators.textstats import (  # noqa: F401
    tfidf_top_terms_from_vocab,
)
from rental_data_pipeline_spark.operators.sampling import (  # noqa: F401
    deterministic_sample,
    exact_k_sample,
    leakage_safe_split,
    mix_corpora,
    stratified_deterministic_sample,
)
from rental_data_pipeline_spark.operators.scd import scd2_intervals  # noqa: F401
from rental_data_pipeline_spark.operators.topk import topk_per_group  # noqa: F401
from rental_data_pipeline_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    hard_negatives,
    ivf_topk,
    ivf_topk_trained,
    kmeans_fit,
    pq_encode,
    pq_topk,
    pq_train,
    quantize_embeddings,
    semantic_dedup,
)
from rental_data_pipeline_spark.operators.sketch import (  # noqa: F401
    countmin_lookup,
    countmin_sketch,
    heavy_hitters,
    hll_distinct,
    theta_distinct,
)
from rental_data_pipeline_spark.operators.textstats import (  # noqa: F401
    chunk_documents,
    curate_corpus,
    pack_sequences,
    scrub_pii,
    tfidf_top_terms,
)

# textstats.profile is exported as text_profile: re-exporting it under
# its own name would rebind the package attribute ``profile`` and
# shadow the operators.profile submodule (table_profile's home).
from rental_data_pipeline_spark.operators.textstats import (  # noqa: F401
    profile as text_profile,
)

__all__ = [
    "asof_join",
    "chunk_documents",
    "connected_components",
    "contamination_report",
    "cosine_topk",
    "countmin_lookup",
    "countmin_sketch",
    "curate_corpus",
    "deterministic_sample",
    "drop_temp_columns",
    "exact_duplicates",
    "exact_k_sample",
    "expectation_metrics",
    "fingerprint_duplicate_groups",
    "flatten_listings",
    "hard_negatives",
    "hll_distinct",
    "ivf_topk",
    "ivf_topk_trained",
    "jaccard_pairs",
    "kmeans_fit",
    "leakage_safe_split",
    "merge_listings",
    "merge_snapshots",
    "minhash_lsh_pairs",
    "mix_corpora",
    "normalize_listings",
    "overlap_pairs",
    "pack_sequences",
    "pq_encode",
    "pq_topk",
    "pq_train",
    "quantize_embeddings",
    "quarantine_invalid",
    "cross_doc_span_coverage",
    "cut_duplicated_spans",
    "duplicated_span_extents",
    "duplicated_spans",
    "multi_window_duplicated_spans",
    "scd2_intervals",
    "scrub_pii",
    "simhash_near_pairs",
    "stratified_deterministic_sample",
    "table_profile",
    "text_profile",
    "tfidf_top_terms",
    "theta_distinct",
    "topk_per_group",
    "validate",
]
