from rental_data_pipeline_spark.streaming.dedup_index import (  # noqa: F401
    compact_index,
    incremental_minhash_index_stream,
    read_emitted_pairs,
    read_index_bands,
    read_index_shingles,
)
from rental_data_pipeline_spark.streaming.sketch_stream import (  # noqa: F401
    compact_sketch,
    incremental_hll_stream,
    read_hll_estimate,
    read_hll_registers,
)
from rental_data_pipeline_spark.streaming.incremental import (  # noqa: F401
    StateVersionUnavailable,
    incremental_merge_stream,
    read_snapshot_stream,
    read_state,
    state_version_log,
    suggest_rebucket,
    windowed_price_stats,
    windowed_price_stats_stream_exact,
)
from rental_data_pipeline_spark.streaming.slices import (  # noqa: F401
    read_gc_grace,
    rebucket,
    set_gc_grace,
    sweep_covered_slices,
)
from rental_data_pipeline_spark.streaming.ann_stream import (  # noqa: F401
    incremental_ann_index_stream,
)
from rental_data_pipeline_spark.streaming.df_stream import (  # noqa: F401
    compact_df,
    incremental_df_stream,
    read_corpus_size,
    read_df_table,
)
from rental_data_pipeline_spark.streaming.components import (  # noqa: F401
    bootstrap_components,
    catchup_components,
    compact_labels,
    fold_pairs_batch,
    read_components,
)
from rental_data_pipeline_spark.streaming.corpus_stream import (  # noqa: F401
    fold_corpus_batch,
    incremental_corpus_stream,
    maintain_corpus,
    read_incremental_corpus,
    rebucket_corpus,
    regrow_corpus_cells,
)
from rental_data_pipeline_spark.streaming.semantic_stream import (  # noqa: F401
    fold_semantic_batch,
    read_semantic_labels,
    regrow_semantic_cells,
)
from rental_data_pipeline_spark.streaming.span_stream import (  # noqa: F401
    fold_spans_batch,
    read_duplicated_spans,
    read_span_state,
    read_span_windows,
)
from rental_data_pipeline_spark.streaming.tiered import (  # noqa: F401
    maybe_compact,
    read_tiered,
    rebucket_tiered,
    suggest_rebucket_tiered,
    tiered_fold,
)
from rental_data_pipeline_spark.streaming.simhash_stream import (  # noqa: F401
    compact_simhash_index,
    fold_simhash_batch,
    incremental_simhash_stream,
    read_simhash_pairs,
)
