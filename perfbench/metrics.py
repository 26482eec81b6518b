"""Metric names and units, shared by ``run.py`` and the traced run.
``BENCHMARK.json`` at the checkout root lists the same names."""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_s_p50": "s",
}

_OP = {"py4j_calls": "count", "jobs": "count", "stages": "count",
       "tasks": "count", "task_s": "s", "shuffle_write_bytes": "bytes",
       "output_bytes": "bytes", "driver_gap_s": "s"}
_SINKS = ("write_state_json", "write_csv_snapshot", "write_filtered_csv")

PER_LAYER = {
    **{f"op.{k}": u for k, u in _OP.items()},
    "session.get_spark_s": "s",
    "prepared.build_s": "s",
    "sources.load_table.calls": "count",
    "sources.load_table.s": "s",
    "sources.load_table.jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "streaming.incremental.read_state_or_legacy.s": "s",
    "operators.extract.split_cards.s": "s",
    "operators.extract.parse_listing_pages.s": "s",
    "operators.extract.python_task_s": "s",
    "operators.normalize.normalize_listings.s": "s",
    "operators.merge.merge_listings.calls": "count",
    "operators.merge.merge_listings.build_s": "s",
    "operators.merge.merge_listings.py4j_calls": "count",
    **{f"operators.sinks.{s}.{m}": u for s in _SINKS
       for m, u in (("s", "s"), ("jobs", "count"), ("task_s", "s"))},
    "jobs.pipeline.commit_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}

# corpus_stream (not a BENCHMARK.json workload; see corpus.py) prints
# these after PER_LAYER
_FOLDS = ("incremental.bucketed_keyed_fold", "dedup_index.fold_index_batch",
          "df_stream.fold_docs_batch", "sketch_stream.fold_registers_batch",
          "simhash_stream.fold_simhash_batch", "span_stream.fold_spans_batch")
_RC = "streaming.corpus_stream.read_incremental_corpus"


def corpus_layer(n_batches: int) -> dict[str, str]:
    return {
        "streaming.corpus_stream.fold_corpus_batch.s": "s",
        "streaming.corpus_stream.fold_corpus_batch.jobs": "count",
        **{f"streaming.{f}.s": "s" for f in _FOLDS},
        "streaming.files_written": "count",
        "streaming.slice_dirs": "count",
        f"{_RC}.build_s": "s",
        f"{_RC}.build_jobs": "count",
        **{f"{_RC}.build_s.b{i:02d}": "s" for i in range(n_batches)},
        **{f"{_RC}.build_jobs.b{i:02d}": "count" for i in range(n_batches)},
        "operators.textstats.pack_sequences.s": "s",
        "streaming.corpus_stream.read_exec_s": "s",
    }
