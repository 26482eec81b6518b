"""Incrementally-maintained SimHash near-duplicate index.

The last dedup variant without a streaming maintenance path: exact
content-hash has the curation state, MinHash/LSH the banded shingle
index, clusters the union-find, SemDeDup the ANN-backed labels,
substring spans the span-hash state — and SimHash only had the batch
pair operator (``dedup.simhash_near_pairs``), O(corpus) per run.

This module folds SimHash per micro-batch with the SAME banding core
the batch operator uses (``dedup.simhash_band_rows`` — pigeonhole:
any pair within Hamming distance ``SIMHASH_BANDS - 1`` shares an
exact band value). Per batch:

1. signatures are batch-local (a doc's SimHash depends only on the
   doc), so the per-batch compute is one aggregation over the batch;
2. candidates = batch×batch (banded self-join) plus batch×stored:
   the batch's band rows BROADCAST against the stored index, which is
   hash-partitioned by bucket-of-(band, bval) so the probe reads ONLY
   the buckets the batch touches (≤ ``SIMHASH_BANDS`` keys per batch
   doc — a function of batch size, never corpus size);
3. verify is ``bit_count(xor) <= max_hamming`` — the signatures
   travel WITH the band rows, so unlike the MinHash index no second
   (shingle) table and no second pruned read are needed;
4. the batch's band slice appends and the pairs slice commits LAST
   (``_SUCCESS``-gated): crashed attempts are rewritten wholesale,
   committed replays no-op, compacted-away slice ids no-op.

Every pair of the full corpus is emitted exactly once — at the batch
where the later doc arrives. Equivalence + crash-replay pinned in
``tests/test_simhash_stream.py``; the ``dedup_simhash`` query replays
deterministic chunks through this fold against the same SQL oracle as
the batch branch.

Compaction (``compact_simhash_index``) and offline bucket-count
migration (``slices.rebucket`` forcing that compaction) follow the
shared slice-store protocol (``streaming/slices.py``).

Reference has no counterpart — beyond-reference training-data layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.dedup import (
    simhash_band_rows,
    simhash_signatures,
)
from rental_data_pipeline_spark.streaming.slices import (
    _assert_no_pending_rebucket,
    _bdir,
    _frozen_n_buckets,
    _pruned_subdirs,
    _read_union,
    begin_fold,
    committed,
    compact_slices,
    write_slice,
)

_BANDS = "bands"
_PAIRS = "pairs"  # the batch commit: written LAST
_BB = "band_bucket"
# bval space is SIMHASH_BANDS × 2^(32/SIMHASH_BANDS) = 1024 keys; 16
# buckets keeps pruned probes to ≤ a quarter of the stored index for
# single-doc batches while staying well-filled at local scale
N_SIMHASH_BUCKETS = 16


def _bucket_col(nb: int):
    return F.pmod(F.xxhash64(F.col("band"), F.col("bval")), F.lit(nb)).cast(
        "int"
    )


def read_simhash_bands(
    spark: SparkSession, index_path: str
) -> DataFrame | None:
    """The accumulated (doc, simhash, band, bval) index, or None
    before the first fold."""
    _assert_no_pending_rebucket(index_path)
    df = _read_union(spark, committed(index_path, _BANDS, _PAIRS))
    return df.drop(_BB) if df is not None else None


def read_simhash_pairs(
    spark: SparkSession, index_path: str
) -> DataFrame | None:
    """Every near-dup pair emitted so far: (doc_a, doc_b, hamming,
    batch_id)."""
    return _read_union(spark, committed(index_path, _PAIRS))


def fold_simhash_batch(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    batch_id: int,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int = 16,
    n_buckets: int | None = None,
) -> None:
    """Fold ONE document batch into the incremental SimHash index.
    Idempotent per ``batch_id`` (pairs commit LAST; committed replays
    and compacted-away slice ids no-op, crashed attempts are rewritten
    wholesale). ``n_buckets`` seeds a brand-new index only — an
    existing index keeps its frozen count."""
    pairs_dir = _bdir(index_path, _PAIRS, batch_id)
    bands_dir = _bdir(index_path, _BANDS, batch_id)
    if not begin_fold(index_path, batch_id, (_BANDS, _PAIRS)):
        return  # committed replay (or folded then compacted away)
    # no isEmpty() pre-check: an empty batch flows through naturally —
    # write_slice keeps the empty band slice schema-bearing, and the
    # pairs write commits an empty but readable frame. One less fixed
    # job per batch at trigger cadence (the corpus-stream job-diet
    # discipline).
    nb = _frozen_n_buckets(index_path, n_buckets or N_SIMHASH_BUCKETS)
    rows = simhash_band_rows(simhash_signatures(batch, text_col, id_col))
    # the batch slice feeds the self-join, the probe AND the index
    # append: write it first (the append IS the materialization),
    # hash-partitioned for later pruned probes, then read it back
    write_slice(rows.withColumn(_BB, _bucket_col(nb)), bands_dir, _BB)
    new_rows = spark.read.parquet(bands_dir)

    ham = F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim")))
    # new-vs-new: banded self-join within the batch
    a = new_rows.select(
        F.col("doc").alias("a_doc"), F.col("simhash").alias("a_sim"),
        "band", "bval",
    )
    b = new_rows.select(
        F.col("doc").alias("b_doc"), F.col("simhash").alias("b_sim"),
        "band", "bval",
    )
    cand_new = a.join(
        b, ["band", "bval"]
    ).where(F.col("a_doc") < F.col("b_doc"))
    cands = [cand_new]
    # new-vs-old: batch band rows broadcast; stored index reads only
    # the touched buckets, map-side — no shuffle, no full-index scan
    old_dirs = [
        d for d in committed(index_path, _BANDS, _PAIRS) if d != bands_dir
    ]
    old_paths = []
    if old_dirs:  # the touched-bucket collect is only worth a job
        # when there is a stored index to prune
        touched = [r[0] for r in new_rows.select(_BB).distinct().collect()]
        old_paths = _pruned_subdirs(old_dirs, _BB, touched)
    if old_paths:
        old = spark.read.parquet(*old_paths).select(
            F.col("doc").alias("a_doc"), F.col("simhash").alias("a_sim"),
            "band", "bval",
        )
        n = new_rows.select(
            F.col("doc").alias("b_doc"), F.col("simhash").alias("b_sim"),
            "band", "bval",
        )
        cands.append(
            old.join(F.broadcast(n), ["band", "bval"]).where(
                F.col("a_doc") != F.col("b_doc")
            ).select(
                "band", "bval",
                F.least("a_doc", "b_doc").alias("a_doc"),
                # signatures are per-doc constants, so min/max pair
                # correctly with the least/greatest doc ids
                F.when(
                    F.col("a_doc") < F.col("b_doc"), F.col("a_sim")
                ).otherwise(F.col("b_sim")).alias("new_a_sim"),
                F.greatest("a_doc", "b_doc").alias("b_doc"),
                F.when(
                    F.col("a_doc") < F.col("b_doc"), F.col("b_sim")
                ).otherwise(F.col("a_sim")).alias("new_b_sim"),
            ).select(
                "band", "bval",
                "a_doc", F.col("new_a_sim").alias("a_sim"),
                "b_doc", F.col("new_b_sim").alias("b_sim"),
            )
        )
    cand = cands[0].select("a_doc", "a_sim", "b_doc", "b_sim")
    for c in cands[1:]:
        cand = cand.unionByName(c.select("a_doc", "a_sim", "b_doc", "b_sim"))
    pairs = (
        cand.distinct()
        .where(ham <= max_hamming)
        .select(
            F.col("a_doc").alias("doc_a"),
            F.col("b_doc").alias("doc_b"),
            ham.cast("int").alias("hamming"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
    )
    # pairs commit marks the whole batch done (Spark writes _SUCCESS)
    pairs.write.parquet(pairs_dir)
    compact_simhash_index(spark, index_path, min_slices=compact_every)


def incremental_simhash_stream(
    docs: DataFrame,
    index_path: str,
    checkpoint_path: str,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int = 16,
    available_now: bool = True,
):
    """foreachBatch driver for :func:`fold_simhash_batch`; returns the
    started StreamingQuery."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        fold_simhash_batch(
            batch.sparkSession, index_path, batch, batch_id,
            max_hamming=max_hamming, text_col=text_col, id_col=id_col,
            compact_every=compact_every,
        )

    writer = (
        docs.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_simhash_index(
    spark: SparkSession,
    index_path: str,
    min_slices: int = 2,
    n_buckets: int | None = None,
    sweep_grace_sec: float | None = None,
) -> bool:
    """Merge committed per-batch band slices into one consolidated
    ``c_*`` slice under the shared compaction skeleton
    (``slices.compact_slices``), the bucket recomputed from (band,
    bval); ``n_buckets`` is given only as ``slices.rebucket``'s forced
    compaction. Pairs are history, never compacted. Returns True when a
    compaction ran."""
    nb = n_buckets or _frozen_n_buckets(index_path, N_SIMHASH_BUCKETS)

    def merge(sub: str, dirs: list[str], cdir: str) -> None:
        merged = _read_union(spark, dirs).drop(_BB)
        write_slice(merged.withColumn(_BB, _bucket_col(nb)), cdir, _BB)

    return compact_slices(
        index_path, (_BANDS,), merge, gate=_PAIRS, min_slices=min_slices,
        force=n_buckets is not None, sweep_grace_sec=sweep_grace_sec,
    )
