"""Incrementally-maintained MinHash/LSH near-duplicate index.

The batch dedup operators (``operators/dedup.py``) recompute the whole
corpus index per run. At crawl scale the corpus is append-mostly: each
arriving batch should be checked against everything already ingested
WITHOUT touching the existing index — O(|batch| + |candidates|) per
batch, not O(|corpus|).

This module maintains exactly that: an append-only banded-signature
index plus per-doc shingle arrays, folded via ``foreachBatch``. Per
micro-batch:

1. compute the batch's band keys and shingle arrays with the SAME
   banding core the batch operator uses (``dedup.banded_signatures`` —
   one implementation, so incremental and batch indexes are
   band-compatible);
2. candidate pairs = batch×batch (new-vs-new self-join) plus
   batch×index (new-vs-old): the batch band keys BROADCAST against the
   stored index, which is hash-partitioned by bucket-of-band-key so the
   probe reads ONLY the buckets the batch touches (≤ 16 band keys per
   batch doc — a function of batch size, never corpus size) and streams
   them map-side without shuffling;
3. exact-Jaccard verify against the candidate docs' shingle arrays —
   the stored shingle table is hash-partitioned by bucket-of-doc and
   pruned to the candidates' buckets (``dedup.verify_jaccard_pairs``,
   candidate side broadcast);
4. append the batch's band/shingle slices and write the emitted pairs,
   ``_SUCCESS``-gated with the pairs commit LAST — a crash mid-fold
   leaves a replayable batch (overwrite-per-batch-dir makes replay
   idempotent), and a replayed committed batch is a no-op.

Every pair (a, b) of the full corpus is emitted exactly once: at the
batch where the LATER of the two docs arrives (new-vs-old) or where
both arrive (new-vs-new). The equivalence test
(``tests/test_streaming_dedup_index.py``) asserts the union of emitted
pairs over a chunked stream equals ``minhash_lsh_pairs`` over the full
corpus.

Reference has no such operator — this is part of the beyond-reference
training-data layer (round-5 scope).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.dedup import (
    minhash_index_frames,
    verify_jaccard_pairs,
)
from rental_data_pipeline_spark.streaming.slices import (
    _assert_no_pending_rebucket,
    _bdir,
    _bucket_of,
    _frozen_n_buckets,
    _pruned_subdirs,
    _read_union,
    begin_fold,
    committed,
    compact_slices,
    write_slice,
)

_BANDS = "bands"
_SHINGLES = "shingles"
_PAIRS = "pairs"  # the batch commit: written LAST

# Stored slices are hash-partitioned so per-batch probes read only the
# buckets the batch touches (same pruning story as the CDC state
# table): bands by bucket-of-band-key, shingles by bucket-of-doc. A
# batch of b docs emits <= 16*b band keys, so for small batches the
# probe reads ~min(16*b, N)/N of the stored index instead of all of it.
# The count is frozen in the index's _meta.json; this is only the
# default for brand-new indexes.
N_INDEX_BUCKETS = 64
_BB = "band_bucket"
_DB = "doc_bucket"


def _bucket_of_bkey(n: int):
    # bkey is an md5 string, so the shared cast-to-string bucket
    # function is a no-op cast — one bucket contract everywhere
    return _bucket_of("bkey", n)


def _bucket_of_doc(n: int, col: str = "doc"):
    return _bucket_of(col, n)


def read_index_bands(spark: SparkSession, index_path: str) -> DataFrame | None:
    """The accumulated (doc, band, bkey) index, or None before the
    first fold."""
    _assert_no_pending_rebucket(index_path)
    df = _read_union(spark, committed(index_path, _BANDS, _PAIRS))
    return df.drop(_BB) if df is not None else None


def read_index_shingles(spark: SparkSession, index_path: str) -> DataFrame | None:
    """The accumulated (doc, sh) shingle arrays."""
    _assert_no_pending_rebucket(index_path)
    df = _read_union(spark, committed(index_path, _SHINGLES, _PAIRS))
    return df.drop(_DB) if df is not None else None


def read_emitted_pairs(spark: SparkSession, index_path: str) -> DataFrame | None:
    """Every near-dup pair emitted so far: (doc_a, doc_b, jaccard,
    batch_id)."""
    return _read_union(spark, committed(index_path, _PAIRS))


def fold_index_batch(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    batch_id: int,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int = 16,
    labels_path: str | None = None,
) -> None:
    """Fold ONE document batch into the incremental near-dup index —
    the per-batch body of :func:`incremental_minhash_index_stream`,
    module-level so the composed corpus fold
    (``streaming/corpus_stream.py``) drives the same code path the
    standalone stream does. Idempotent per ``batch_id`` (the pairs
    commit is LAST; committed replays no-op, crashed attempts are
    rewritten wholesale). With ``labels_path`` every committed pairs
    batch is also caught up into the persisted union-find after the
    pairs commit."""

    def catchup(spark: SparkSession) -> None:
        if labels_path is not None:
            from rental_data_pipeline_spark.streaming.components import (
                catchup_components,
            )

            # forward the caller's cadence: the labels store must
            # compact on the SAME compact_every knob as the band/
            # shingle tables, not its own default
            catchup_components(
                spark, index_path, labels_path, compact_every=compact_every
            )

    pairs_dir = _bdir(index_path, _PAIRS, batch_id)
    if not begin_fold(index_path, batch_id, (_BANDS, _SHINGLES, _PAIRS)):
        # committed replay (or folded then compacted away): heal a
        # crash between the pairs and the label commit
        catchup(spark)
        return
    if batch.isEmpty():
        # commit an empty batch through Spark so the pairs dir
        # carries a schema-bearing part file — a bare hand-written
        # _SUCCESS would make every later multi-dir parquet read of
        # the pairs history fail schema inference
        idt = batch.schema[id_col].dataType.simpleString()
        spark.createDataFrame(
            [], f"doc_a {idt}, doc_b {idt}, jaccard double, batch_id long"
        ).write.parquet(pairs_dir)
        catchup(spark)
        return

    bands, sh = minhash_index_frames(
        batch, k=k, text_col=text_col, id_col=id_col
    )
    # the batch slices feed the candidate join, the verify, AND the
    # index append: write them FIRST (cheapest materialization — at
    # scale they are the index-table append), hash-partitioned by
    # bucket so later probes prune, then read the written copies
    # back so nothing below recomputes the signatures. A NON-empty
    # batch can still emit ZERO bands/shingles (every doc shorter than
    # the k-shingle window): write_slice keeps those slices readable.
    nb = _frozen_n_buckets(index_path, N_INDEX_BUCKETS)
    write_slice(
        bands.withColumn(_BB, _bucket_of_bkey(nb)),
        _bdir(index_path, _BANDS, batch_id), _BB,
    )
    write_slice(
        sh.withColumn(_DB, _bucket_of_doc(nb)),
        _bdir(index_path, _SHINGLES, batch_id), _DB,
    )
    new_bands = spark.read.parquet(_bdir(index_path, _BANDS, batch_id))
    new_sh = spark.read.parquet(
        _bdir(index_path, _SHINGLES, batch_id)
    ).drop(_DB)

    # new-vs-new: banded self-join within the batch
    a, b = new_bands.alias("a"), new_bands.alias("b")
    cand_new = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
    )
    # new-vs-old: the small batch band set broadcasts; the stored
    # index reads ONLY the band buckets the batch touches (<= 16
    # band keys per batch doc → a pure function of the batch, never
    # of corpus size) and streams them map-side — no shuffle, no
    # full-index scan. Canonical a < b via least/greatest.
    old_dirs = [
        d
        for d in committed(index_path, _BANDS, _PAIRS)
        if d != _bdir(index_path, _BANDS, batch_id)
    ]
    touched_bb = [
        r[0] for r in new_bands.select(_BB).distinct().collect()
    ]
    cands = [cand_new]
    old_band_paths = _pruned_subdirs(old_dirs, _BB, touched_bb)
    if old_band_paths:
        old_bands = spark.read.parquet(*old_band_paths).alias("o")
        n = new_bands.drop(_BB).alias("n")
        cands.append(
            old_bands.join(
                F.broadcast(n),
                (F.col("o.band") == F.col("n.band"))
                & (F.col("o.bkey") == F.col("n.bkey"))
                & (F.col("o.doc") != F.col("n.doc")),
            ).select(
                F.least(F.col("o.doc"), F.col("n.doc")).alias("doc_a"),
                F.greatest(F.col("o.doc"), F.col("n.doc")).alias("doc_b"),
            )
        )
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c)
    # materialize candidates once: they drive the doc-bucket pruning
    # (a bounded distinct-collect) AND the verify join
    cand = cand.distinct().localCheckpoint(eager=True)

    # verify reads only the shingle buckets holding candidate docs
    old_sh_dirs = [
        d
        for d in committed(index_path, _SHINGLES, _PAIRS)
        if d != _bdir(index_path, _SHINGLES, batch_id)
    ]
    touched_db = [
        r[0]
        for r in cand.select(
            F.explode(
                F.array(
                    _bucket_of_doc(nb, "doc_a"),
                    _bucket_of_doc(nb, "doc_b"),
                )
            ).alias("db")
        )
        .distinct()
        .collect()
    ]
    sh_all = new_sh
    old_sh_paths = _pruned_subdirs(old_sh_dirs, _DB, touched_db)
    if old_sh_paths:
        sh_all = sh_all.unionByName(spark.read.parquet(*old_sh_paths))
    pairs = verify_jaccard_pairs(cand, sh_all, threshold).withColumn(
        "batch_id", F.lit(batch_id).cast("long")
    )
    # pairs commit marks the whole batch done (Spark writes _SUCCESS)
    pairs.write.parquet(pairs_dir)
    compact_index(spark, index_path, min_slices=compact_every)
    catchup(spark)


def incremental_minhash_index_stream(
    docs: DataFrame,
    index_path: str,
    checkpoint_path: str,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    compact_every: int = 16,
    labels_path: str | None = None,
):
    """Fold a document stream into the incremental near-dup index;
    returns the started StreamingQuery. ``docs`` must be a streaming
    DataFrame with ``id_col`` unique across the whole stream (an
    append-only corpus — re-ingesting an id is the caller's bug, same
    contract as the batch operator's distinct doc ids). Once the
    band/shingle tables accumulate ``compact_every`` committed slices
    the fold runs :func:`compact_index` inline — the same amortized
    small-file bound the CDC state table keeps.

    With ``labels_path`` the fold ALSO maintains incremental connected
    components over the emitted pairs (``streaming/components.py``):
    after each pairs commit, every committed-but-unfolded pairs batch
    is folded into the persisted union-find, so cluster ids (canonical
    doc per near-dup group) stay current per micro-batch without ever
    recomputing over the accumulated pair history. The label fold sits
    AFTER the pairs commit with its own idempotent commit + watermark:
    a crash between the two is healed by the next batch's catch-up.
    Per-batch work is :func:`fold_index_batch`."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        fold_index_batch(
            batch.sparkSession, index_path, batch, batch_id,
            threshold=threshold, k=k, text_col=text_col, id_col=id_col,
            compact_every=compact_every, labels_path=labels_path,
        )

    writer = (
        docs.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_index(
    spark: SparkSession,
    index_path: str,
    min_slices: int = 2,
    n_buckets: int | None = None,
    sweep_grace_sec: float | None = None,
) -> bool:
    """Merge the committed per-batch band/shingle slices into one
    consolidated ``c_*`` slice each under the shared compaction
    skeleton (``slices.compact_slices``) — after compaction a probe
    opens O(touched buckets) files instead of O(batches x touched
    buckets). The merge recomputes each table's bucket column from its
    key (bands by band key, shingles by doc), so a same-count
    compaction keeps the layout, and ``n_buckets`` — given only as
    ``slices.rebucket``'s forced compaction, under its pending marker —
    rewrites it. Emitted pairs are history, not index — never
    compacted. Returns True when a compaction ran."""
    nb = n_buckets or _frozen_n_buckets(index_path, N_INDEX_BUCKETS)

    def merge(sub: str, dirs: list[str], cdir: str) -> None:
        part_col = _BB if sub == _BANDS else _DB
        bucket = _bucket_of_bkey(nb) if sub == _BANDS else _bucket_of_doc(nb)
        merged = _read_union(spark, dirs).drop(part_col)
        write_slice(merged.withColumn(part_col, bucket), cdir, part_col)

    return compact_slices(
        index_path, (_BANDS, _SHINGLES), merge, gate=_PAIRS,
        min_slices=min_slices, force=n_buckets is not None,
        sweep_grace_sec=sweep_grace_sec,
    )
