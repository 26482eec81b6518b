"""maintain_corpus: the one-call executable runbook — polls every
table's occupancy watermark, runs due migrations (rebucket + ANN
regrow), heals interrupted ones, and a stream interleaved with it
stays fold-equivalent to the batch job at the new geometry."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.jobs.corpus_job import (
    CorpusConfig,
    build_training_corpus,
)
from rental_data_pipeline_spark.sources.tables import load_table
from rental_data_pipeline_spark.streaming.corpus_stream import (
    fold_corpus_batch,
    maintain_corpus,
    read_incremental_corpus,
)

CFG = dict(
    languages=("en", "de", "fr", "es"), min_quality=0.0, min_tokens=1,
    max_contamination=0.5,
)
RANGES = [(0, 170), (170, 340), (340, 100000)]


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="maintain_corpus_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _inputs(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    embs = load_table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    streamed = docs.join(embs, "doc_id", "left")
    holdout = docs.where(F.col("doc_id") % 5 == 0)
    return docs, streamed, holdout


def _ids(df, col="doc_id"):
    return {r[0] for r in df.select(col).collect()}


def test_maintain_corpus_polls_migrates_and_stays_equivalent(
    spark, sf_dir, root
):
    from rental_data_pipeline_spark.operators.dedup import duplicated_spans
    from rental_data_pipeline_spark.operators.similarity import kmeans_train

    docs, streamed, holdout = _inputs(spark, sf_dir)
    cfg = CorpusConfig(**CFG)
    centroids, _ = kmeans_train(
        load_table(spark, "embeddings", sf_dir).where("vec_id < 170"),
        k=4, n_iter=2,
    )
    chunks = [
        streamed.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).localCheckpoint(eager=True)
        for lo, hi in RANGES
    ]
    for i in range(2):
        fold_corpus_batch(
            spark, root, chunks[i], i, cfg, holdout=holdout,
            ann_centroids=centroids, vec_col="embedding",
            span_window=10, simhash_max_hamming=3,
        )
    before = read_incremental_corpus(spark, root, cfg)
    want_corpus = _ids(before["corpus"])
    want_spans = {
        (r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
        for r in before["duplicated_spans"].collect()
    }

    # aggressive watermarks so the tiny corpus is "overgrown": every
    # bucketed table and the ANN cells come due
    rep = maintain_corpus(
        spark, root,
        target_rows_per_bucket=10, spans_target_rows_per_bucket=50,
        n_iter=2,
    )
    assert rep["resumed"] == {}
    for t in (
        "curation_state", "spans", "index", "labels", "vocab",
        "simhash", "ann",
    ):
        assert t in rep["tables"], t
    # known-overgrown tables migrated to their suggested geometry
    for t in ("curation_state", "spans", "ann"):
        assert rep["tables"][t]["due"], (t, rep["tables"][t])
    for t, r in rep["tables"].items():
        if r["due"]:
            assert rep["ran"].get(t) is True, (t, rep["ran"])
    smeta = json.load(open(f"{root}/spans/_meta.json"))
    assert smeta["n_buckets"] == rep["tables"]["spans"]["target_n_buckets"]
    ameta = json.load(open(f"{root}/ann/_meta.json"))
    assert ameta["n_cells"] == rep["tables"]["ann"]["target_n_cells"]

    # reads identical across the maintenance call
    mid = read_incremental_corpus(spark, root, cfg)
    assert _ids(mid["corpus"]) == want_corpus
    assert {
        (r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
        for r in mid["duplicated_spans"].collect()
    } == want_spans

    # immediately re-polling at the same watermarks: nothing due,
    # nothing runs (maintenance is idempotent between growth spurts)
    rep2 = maintain_corpus(
        spark, root,
        target_rows_per_bucket=10, spans_target_rows_per_bucket=50,
        n_iter=2,
    )
    assert rep2["ran"] == {} and rep2["resumed"] == {}
    assert not any(r["due"] for r in rep2["tables"].values())

    # the stream continues at the new geometry; final == batch job
    fold_corpus_batch(
        spark, root, chunks[2], 2, cfg, holdout=holdout,
        ann_centroids=centroids, vec_col="embedding",
        span_window=10, simhash_max_hamming=3,
    )
    want = build_training_corpus(docs, holdout, cfg)
    got = read_incremental_corpus(spark, root, cfg)
    assert _ids(got["corpus"]) == _ids(want["corpus"])
    assert {
        (r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
        for r in got["duplicated_spans"].collect()
    } == {
        (r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
        for r in duplicated_spans(got["keepers"], window=10).collect()
    }

    # an interrupted migration (staged pending) is healed by the next
    # call — even a dry_run (a pending table cannot be polled)
    smeta = json.load(open(f"{root}/spans/_meta.json"))
    staged = {**smeta, "n_buckets": smeta["n_buckets"] * 2}
    with open(f"{root}/spans/_meta.json.pending", "w") as f:
        json.dump(staged, f)
    rep3 = maintain_corpus(
        spark, root,
        target_rows_per_bucket=10, spans_target_rows_per_bucket=50,
        dry_run=True, n_iter=2,
    )
    assert rep3["resumed"]["rebucket"]["spans"] is True
    assert not os.path.exists(f"{root}/spans/_meta.json.pending")
    assert json.load(open(f"{root}/spans/_meta.json"))["n_buckets"] == (
        staged["n_buckets"]
    )
    assert {
        (r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
        for r in read_incremental_corpus(spark, root, cfg)[
            "duplicated_spans"
        ].collect()
    } == {
        (r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
        for r in got["duplicated_spans"].collect()
    }


def test_maintain_between_live_stream_restarts(spark, sf_dir, root):
    """The documented operational regime driven with REAL
    StreamingQueries: run the stream to quiescence (availableNow),
    stop, ``maintain_corpus`` (rebucket + regrow at aggressive
    watermarks), append more input, RESTART on the SAME checkpoint.
    The restarted query must resume from the checkpoint's offsets,
    fold only the new files at the NEW geometry, and the final read
    must equal the batch job — checkpoint reuse across maintenance is
    the last operational gap the in-process interleaving tests could
    not close."""
    from rental_data_pipeline_spark.operators.dedup import duplicated_spans
    from rental_data_pipeline_spark.operators.similarity import kmeans_train
    from rental_data_pipeline_spark.streaming.corpus_stream import (
        incremental_corpus_stream,
    )

    docs, streamed, holdout = _inputs(spark, sf_dir)
    cfg = CorpusConfig(**CFG)
    centroids, _ = kmeans_train(
        load_table(spark, "embeddings", sf_dir).where("vec_id < 170"),
        k=4, n_iter=2,
    )
    base = tempfile.mkdtemp(prefix="maintain_live_")
    landing, ckpt = f"{base}/landing", f"{base}/ckpt"

    def _append(lo, hi):
        streamed.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(landing)

    def _run():
        q = incremental_corpus_stream(
            spark.readStream.schema(streamed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing),
            root, ckpt, config=cfg, holdout=holdout,
            ann_centroids=centroids, vec_col="embedding",
            span_window=10, simhash_max_hamming=3,
        )
        assert q.awaitTermination(600)

    try:
        for lo, hi in RANGES[:2]:
            _append(lo, hi)
        _run()  # first life: folds two batches, then stops (quiescent)

        rep = maintain_corpus(
            spark, root,
            target_rows_per_bucket=10, spans_target_rows_per_bucket=50,
            n_iter=2,
        )
        # the tiny corpus is overgrown at these watermarks: both a
        # rebucket (spans et al) and an ANN regrow actually ran
        assert rep["tables"]["spans"]["due"] and rep["ran"]["spans"] is True
        assert rep["tables"]["ann"]["due"] and rep["ran"]["ann"] is True

        _append(*RANGES[2])
        _run()  # second life: SAME checkpoint, new geometry

        want = build_training_corpus(docs, holdout, cfg)
        got = read_incremental_corpus(spark, root, cfg)
        assert _ids(got["corpus"]) == _ids(want["corpus"])
        assert _ids(got["curated"]) == _ids(want["curated"])
        got_spans = {
            (r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
            for r in got["duplicated_spans"].collect()
        }
        assert got_spans == {
            (r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
            for r in duplicated_spans(got["keepers"], window=10).collect()
        } and got_spans
        # the restart really did resume, not replay: exactly 3 folded
        # batches (2 first life + 1 second life)
        assert got["metrics"]["n_batches"] == 3
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_frozen_semantic_threshold_reads_sem_meta(root):
    from rental_data_pipeline_spark.streaming.corpus_stream import (
        _frozen_semantic_threshold,
    )

    assert _frozen_semantic_threshold(root) is None
    os.makedirs(f"{root}/semantic")
    with open(f"{root}/semantic/_sem_meta.json", "w") as f:
        json.dump({"n_cells": 4, "threshold": 0.3, "as_of": 1}, f)
    assert _frozen_semantic_threshold(root) == 0.3


def test_maintain_compact_spans_resets_read_amplification(spark, root):
    """The tiered span store's read-amplification watermark and the
    opt-in maintenance compaction: the poll reports live slice counts,
    ``compact_spans=True`` folds them to ONE (reads take the
    single-slice fast path until the next fold), reads are unchanged,
    and the knob no-ops when a single slice is already live."""
    from tests.test_tiered_spans import _docs, _srows
    from rental_data_pipeline_spark.streaming.span_stream import (
        _reduce_span_stats,
        fold_spans_batch,
        read_duplicated_spans,
    )
    from rental_data_pipeline_spark.streaming.tiered import (
        suggest_rebucket_tiered,
    )

    spans = f"{root}/spans"
    for i in range(3):
        fold_spans_batch(
            spark, spans, _docs(spark, [2 * i, 2 * i + 1]), i, window=10
        )
    want = _srows(read_duplicated_spans(spark, spans))

    rep = maintain_corpus(spark, root, dry_run=True)
    assert rep["tables"]["spans"]["live_slices"] == 3
    assert rep["tables"]["spans"]["slices_by_level"] == {"0": 3}
    sug = suggest_rebucket_tiered(spark, spans, _reduce_span_stats)
    assert sug["live_slices"] == 3 and sug["slices_by_level"] == {"0": 3}

    # dry_run never compacts, even with the knob on
    rep = maintain_corpus(spark, root, dry_run=True, compact_spans=True)
    assert rep["tables"]["spans"]["live_slices"] == 3

    rep = maintain_corpus(spark, root, compact_spans=True)
    assert rep["ran"]["spans_compact"] is True
    assert suggest_rebucket_tiered(
        spark, spans, _reduce_span_stats
    )["live_slices"] == 1
    assert _srows(read_duplicated_spans(spark, spans)) == want

    # single live slice: the knob no-ops (no O(state) rewrite)
    rep = maintain_corpus(spark, root, compact_spans=True)
    assert "spans_compact" not in rep["ran"]
    assert _srows(read_duplicated_spans(spark, spans)) == want


def test_spans_watermark_reports_gc_retention(spark, root):
    """A GC grace window retains covered span slices for concurrent
    readers — real disk at corpus scale — and the spans watermark must
    meter it: ``covered_bytes_retained`` > 0 while the grace holds the
    swept-over slices, 0 once a grace-0 sweep reclaims them."""
    from tests.test_tiered_spans import _docs
    from rental_data_pipeline_spark.streaming.slices import (
        set_gc_grace,
        sweep_covered_slices,
    )
    from rental_data_pipeline_spark.streaming.span_stream import (
        _reduce_span_stats,
        fold_spans_batch,
    )
    from rental_data_pipeline_spark.streaming.tiered import (
        suggest_rebucket_tiered,
    )

    spans = f"{root}/spans"
    for i in range(3):
        fold_spans_batch(
            spark, spans, _docs(spark, [2 * i, 2 * i + 1]), i, window=10
        )
    set_gc_grace(spans, 3600.0)
    maintain_corpus(spark, root, compact_spans=True)
    sug = suggest_rebucket_tiered(spark, spans, _reduce_span_stats)
    assert sug["live_slices"] == 1
    assert sug["covered_bytes_retained"] > 0
    # the maintenance report surfaces the same meter
    rep = maintain_corpus(spark, root, dry_run=True)
    assert rep["tables"]["spans"]["covered_bytes_retained"] > 0
    set_gc_grace(spans, 0.0)
    sweep_covered_slices(spans)
    assert suggest_rebucket_tiered(
        spark, spans, _reduce_span_stats
    )["covered_bytes_retained"] == 0


def _boom(*a, **k):
    raise AssertionError("the poll must not read the state")


def test_tiered_poll_answers_from_footers_on_single_slice(
    spark, root, monkeypatch
):
    """The occupancy poll of the corpus's LARGEST table must not cost
    a scan of it: on a single live slice (keyed-unique by contract —
    the steady state right after a compaction) suggest_rebucket_tiered
    answers from parquet footers, pinned exact against the scan-count
    answer and proven scan-free by a read bomb; a multi-slice backlog
    still counts via the merged read."""
    from rental_data_pipeline_spark.streaming import tiered
    from rental_data_pipeline_spark.streaming.span_stream import (
        _reduce_span_stats,
        fold_spans_batch,
    )
    from tests.test_tiered_spans import _docs

    spans = f"{root}/spans"
    for i in range(3):
        fold_spans_batch(
            spark, spans, _docs(spark, [2 * i + 1, 2 * i + 2]), i, window=10
        )
    from rental_data_pipeline_spark.streaming.span_stream import (
        read_duplicated_spans,
    )

    true_rows = read_duplicated_spans(
        spark, spans, min_docs=1
    ).count()
    orig_read = tiered.read_tiered
    # multi-slice, far under the watermark: the poll answers from the
    # footer UPPER bound — scan-free (read bomb) and labeled inexact
    monkeypatch.setattr(tiered, "read_tiered", _boom)
    slow = tiered.suggest_rebucket_tiered(spark, spans, _reduce_span_stats)
    assert slow["live_slices"] == 3 and slow["due"] is False
    assert slow["rows_exact"] is False
    assert slow["state_rows"] >= true_rows  # an upper bound
    monkeypatch.setattr(tiered, "read_tiered", orig_read)
    tiered.maybe_compact(
        spark, spans, _reduce_span_stats, force_full=True
    )
    monkeypatch.setattr(tiered, "read_tiered", _boom)
    fast = tiered.suggest_rebucket_tiered(spark, spans, _reduce_span_stats)
    assert fast["live_slices"] == 1
    assert fast["rows_exact"] is True
    assert fast["state_rows"] == true_rows  # footers exact on 1 slice

    # a half-migrated table refuses even the footer poll — an
    # interrupted rebucket leaves exactly one live slice (bucketed at
    # the staged count), so the fast path is the branch that must guard
    smeta = json.load(open(f"{spans}/_meta.json"))
    with open(f"{spans}/_meta.json.pending", "w") as f:
        json.dump({**smeta, "n_buckets": smeta["n_buckets"] * 2}, f)
    with pytest.raises(RuntimeError, match="pending"):
        tiered.suggest_rebucket_tiered(spark, spans, _reduce_span_stats)


def test_p2_polls_use_footers_for_union_readers(spark, root, monkeypatch):
    """Every p2 occupancy poll counts via the STORE'S OWN
    batch-commit-gated footer helper: equal to the reader's count
    (reader bombs prove no scan), and a crashed fold's half-committed
    slice (written first, its commit counterpart missing — exactly
    the stopped-stream window the runbook calls maintain_corpus in)
    is excluded just as the reader excludes it. The multi-slice
    vocabulary still reduces via its reader."""
    import shutil as sh

    from rental_data_pipeline_spark.streaming import (
        components,
        dedup_index,
        df_stream,
        simhash_stream,
    )
    from tests.test_tiered_spans import _docs

    idx = f"{root}/index"
    for i in range(2):
        dedup_index.fold_index_batch(
            spark, idx, _docs(spark, [2 * i + 1, 2 * i + 2]), i,
            compact_every=1000,
        )
    want_idx = dedup_index.read_index_bands(spark, idx).count()
    assert want_idx > 0
    # crashed fold: bands slice on disk (Spark's _SUCCESS), pairs
    # counterpart absent — the reader hides it; the poll must too
    sh.copytree(f"{idx}/bands/b_000000000", f"{idx}/bands/b_000000099")
    assert dedup_index.read_index_bands(spark, idx).count() == want_idx

    lab = f"{root}/labels"
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    components.fold_pairs_batch(spark, lab, pairs, 0)
    want_lab = components.read_components(spark, lab).count()
    sh.copytree(f"{lab}/members/b_000000000", f"{lab}/members/b_000000099")

    shx = f"{root}/simhash"
    simhash_stream.fold_simhash_batch(spark, shx, _docs(spark, [1, 2]), 0)
    want_sh = simhash_stream.read_simhash_bands(spark, shx).count()

    voc = f"{root}/vocab"
    df_stream.fold_docs_batch(spark, voc, _docs(spark, [1, 2]), 0)
    want_v = df_stream.read_df_table(spark, voc).count()

    for mod, reader in (
        (dedup_index, "read_index_bands"),
        (components, "read_components"),
        (simhash_stream, "read_simhash_bands"),
        (df_stream, "read_df_table"),
    ):
        monkeypatch.setattr(mod, reader, _boom)
    rep = maintain_corpus(spark, root, dry_run=True)
    assert rep["tables"]["index"]["state_rows"] == want_idx
    assert rep["tables"]["labels"]["state_rows"] == want_lab
    assert rep["tables"]["simhash"]["state_rows"] == want_sh
    assert rep["tables"]["vocab"]["state_rows"] == want_v  # single slice

    # a second vocab fold makes terms repeat across slices: the poll
    # must fall back to the reducing reader (un-bombed again)
    monkeypatch.undo()
    df_stream.fold_docs_batch(spark, voc, _docs(spark, [3, 4]), 1)
    want_v2 = df_stream.read_df_table(spark, voc).count()
    rep = maintain_corpus(spark, root, dry_run=True)
    assert rep["tables"]["vocab"]["state_rows"] == want_v2


def test_suggest_rebucket_answers_from_footers_on_full_snapshot(
    spark, root, monkeypatch
):
    """Same for the merge-on-write chain: when the newest commit is a
    _FULL snapshot the poll sums its footers (read bomb proves no
    compose); a delta tail composes and counts as before."""
    from pyspark.sql import DataFrame
    from rental_data_pipeline_spark.streaming import incremental

    state = f"{root}/state"

    def merge(target: DataFrame | None, batch: DataFrame) -> DataFrame:
        if target is None:
            return batch
        return (
            target.unionByName(batch)
            .groupBy("k")
            .agg(F.max("v").alias("v"))
        )

    b0 = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    incremental.bucketed_keyed_fold(b0, 0, state, key="k", merge_fn=merge)
    # the bootstrap commit is a FULL snapshot: footer fast path
    monkeypatch.setattr(incremental, "read_state", _boom)
    rep = incremental.suggest_rebucket(spark, state)
    assert rep["state_rows"] == 10
    # a staged pending refuses even the footer poll (read_state's
    # guard, restored explicitly on the no-read path)
    smeta = json.load(open(f"{state}/_meta.json"))
    with open(f"{state}/_meta.json.pending", "w") as f:
        json.dump({**smeta, "n_buckets": 256}, f)
    with pytest.raises(RuntimeError, match="pending"):
        incremental.suggest_rebucket(spark, state)
    os.remove(f"{state}/_meta.json.pending")
    monkeypatch.undo()

    b1 = spark.range(10, 15).select(
        F.col("id").alias("k"), F.lit(2).alias("v")
    )
    incremental.bucketed_keyed_fold(b1, 1, state, key="k", merge_fn=merge)
    # delta tail: the poll composes and counts (exact either way)
    rep2 = incremental.suggest_rebucket(spark, state)
    assert rep2["state_rows"] == 15
