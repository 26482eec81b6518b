"""Incrementally-maintained TF-IDF vocabulary (document-frequency)
table — the corpus-global artifact of keyword scoring, kept current
per micro-batch.

Batch ``textstats.tfidf_top_terms`` computes the vocabulary (term →
document frequency) over the WHOLE corpus every run — O(corpus) per
scoring job on a growing crawl. Document frequencies are ADDITIVE
over disjoint doc sets (ids unique across the stream), so the table
folds like the HLL registers: per batch, one ``df/b_*`` slice of
``(term, df)`` for that batch's docs (hash-partitioned by
bucket-of-term, count frozen in ``_meta.json``) and one tiny
``counts/b_*`` row carrying the batch's doc count — written LAST, its
``_SUCCESS`` is the batch commit. Reading sums the committed slices;
compaction folds them into one ``c_*`` slice per table under the
shared manifest protocol (SUM is the merge, the same associativity
argument as the sketch stream).

``textstats.tfidf_top_terms_from_vocab`` is the probe side: score ANY
document batch against the persisted vocabulary (broadcast) without
touching the corpus — with a vocabulary built over the same corpus it
is byte-equal to the batch operator (the equivalence pytest), and at
100 TB it is the only shape that scores new crawl batches without a
corpus-wide df recomputation.

Reference has no counterpart — beyond-reference training-data layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rental_data_pipeline_spark.streaming.slices import (
    _assert_no_pending_rebucket,
    _bdir,
    _bucket_of,
    _frozen_n_buckets,
    _read_union,
    begin_fold,
    committed,
    compact_slices,
    write_slice,
)

_DFT = "df"
_COUNTS = "counts"  # the batch commit: written LAST
_TB = "term_bucket"
N_TERM_BUCKETS = 64  # default for a new table; frozen in _meta.json


def fold_docs_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold one document batch into the vocabulary table. Idempotent
    per ``batch_id``; crashed attempts rewritten wholesale. Uses the
    SAME tokenizer as the batch operator — tokenizer agreement is the
    equivalence linchpin."""
    from rental_data_pipeline_spark.operators.textstats import _with_tokens

    if not begin_fold(state_path, batch_id, (_DFT, _COUNTS)):
        return  # committed replay (or folded then compacted away)
    nb = _frozen_n_buckets(state_path, N_TERM_BUCKETS)
    t = _with_tokens(batch, text_col, id_col)
    dfreq = (
        t.select(F.col(id_col), F.explode("__toks").alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn(_TB, _bucket_of("term", nb))
    )
    n_docs = batch.select(id_col).distinct().count()
    # an empty batch, or one whose texts are all empty, has no terms:
    # write_slice keeps the empty df slice readable
    write_slice(dfreq, _bdir(state_path, _DFT, batch_id), _TB)
    # counts LAST: its _SUCCESS commits the batch
    spark.createDataFrame([(n_docs,)], "n_docs long").write.parquet(
        _bdir(state_path, _COUNTS, batch_id)
    )


def read_df_table(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Current ``(term, df)`` vocabulary — document frequencies summed
    over every committed slice (df is additive across disjoint doc
    sets)."""
    _assert_no_pending_rebucket(state_path)
    u = _read_union(spark, committed(state_path, _DFT, _COUNTS))
    if u is None:
        return None
    return u.groupBy("term").agg(F.sum("df").alias("df"))


def read_corpus_size(spark: SparkSession, state_path: str) -> int:
    _assert_no_pending_rebucket(state_path)
    u = _read_union(spark, committed(state_path, _COUNTS))
    if u is None:
        return 0
    return int(u.agg(F.coalesce(F.sum("n_docs"), F.lit(0))).collect()[0][0])


def compact_df(
    spark: SparkSession,
    state_path: str,
    min_slices: int = 2,
    n_buckets: int | None = None,
    sweep_grace_sec: float | None = None,
) -> bool:
    """Fold the committed slices into one consolidated ``c_*`` slice
    per table under the shared compaction skeleton
    (``slices.compact_slices``). The merge is a SUM — document
    frequencies and doc counts are additive over disjoint doc sets, the
    same associativity argument as the sketch stream. The term bucket
    is recomputed from the key; ``n_buckets`` is given only as
    ``slices.rebucket``'s forced compaction. Returns True when ran."""
    nb = n_buckets or _frozen_n_buckets(state_path, N_TERM_BUCKETS)

    def merge(sub: str, dirs: list[str], cdir: str) -> None:
        u = _read_union(spark, dirs)
        if sub == _DFT:
            write_slice(
                u.drop(_TB).groupBy("term").agg(F.sum("df").alias("df"))
                .withColumn(_TB, _bucket_of("term", nb)),
                cdir, _TB,
            )
        else:
            total = u.agg(F.coalesce(F.sum("n_docs"), F.lit(0))).collect()[0][0]
            spark.createDataFrame(
                [(int(total),)], "n_docs long"
            ).write.parquet(cdir)

    return compact_slices(
        state_path, (_DFT, _COUNTS), merge, gate=_COUNTS,
        min_slices=min_slices, force=n_buckets is not None,
        sweep_grace_sec=sweep_grace_sec,
    )


def incremental_df_stream(
    docs: DataFrame,
    state_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    compact_every: int = 16,
):
    """Fold a document stream into the vocabulary table; returns the
    started StreamingQuery. ``id_col`` unique across the stream
    (append-only corpus — the shared contract). Auto-compacts once
    ``compact_every`` live slices accrete."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fold_docs_batch(
            spark, state_path, batch, batch_id,
            text_col=text_col, id_col=id_col,
        )
        compact_df(spark, state_path, min_slices=compact_every)

    writer = (
        docs.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
