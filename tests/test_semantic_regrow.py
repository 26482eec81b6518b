"""SemDeDup cell-growth migration: regrow_semantic_cells retrains the
index at a larger n_cells and relabels the corpus so that continued
incremental folds equal a fresh full-corpus run at the new geometry —
the stay-flat-at-scale recipe for the one stage whose per-batch cost
creeps with corpus size under frozen centroids (√N rule).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.ann_index import (
    append_ann_index,
    build_ann_index,
    index_centroids,
    read_meta,
    regrow_ann_index,
)
from rental_data_pipeline_spark.operators.similarity import semantic_dedup
from rental_data_pipeline_spark.sources.tables import load_table
from rental_data_pipeline_spark.streaming.semantic_stream import (
    fold_semantic_batch,
    read_semantic_labels,
    regrow_semantic_cells,
)

THRESH = 0.3
# monotonic id chunks — the arrival-order contract
RANGES = [(0, 170), (170, 340), (340, 100000)]


def _chunks(spark, sf_dir):
    embs = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding"
    )
    return embs, [
        embs.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        for lo, hi in RANGES
    ]


def _rows(df):
    return sorted((r.vec_id, r.cid, r.is_kept) for r in df.collect())


def _kept(df):
    return {r.vec_id for r in df.where("is_kept").collect()}


def test_regrow_matches_fresh_run_at_new_n_cells(spark, sf_dir, tmp_path):
    embs, chunks = _chunks(spark, sf_dir)
    idx, sem = str(tmp_path / "idx"), str(tmp_path / "sem")

    # stream start at n_cells=2: base index from chunk 0, fold its labels
    build_ann_index(chunks[0], idx, n_cells=2, n_iter=2)
    fold_semantic_batch(spark, idx, sem, chunks[0], 0, threshold=THRESH)
    append_ann_index(chunks[1], idx, batch_id=1)
    fold_semantic_batch(spark, idx, sem, chunks[1], 1, threshold=THRESH)

    # pre-regrow incremental labels == batch operator at n_cells=2
    pre = _rows(read_semantic_labels(spark, sem))
    want_pre = _rows(
        semantic_dedup(
            chunks[0].unionByName(chunks[1]),
            threshold=THRESH,
            centroids=index_centroids(spark, idx),
        )
    )
    assert pre == want_pre and pre

    # REGROW 2 → 4 cells (√N rule), then keep folding incrementally
    assert regrow_semantic_cells(
        spark, idx, sem, new_n_cells=4, threshold=THRESH, n_iter=2
    )
    assert read_meta(idx)["n_cells"] == 4
    append_ann_index(chunks[2], idx, batch_id=2)
    fold_semantic_batch(spark, idx, sem, chunks[2], 2, threshold=THRESH)

    # live labels == a fresh full-corpus batch run at the NEW geometry
    got = _rows(read_semantic_labels(spark, sem))
    want = _rows(
        semantic_dedup(
            embs, threshold=THRESH, centroids=index_centroids(spark, idx)
        )
    )
    assert got == want and got
    # the regrow actually changed the decision space (finer cells)
    assert {r[1] for r in got} != {r[1] for r in pre} or _kept(
        read_semantic_labels(spark, sem)
    ) != {r[0] for r in pre if r[2]}

    # history is preserved: as-of the pre-regrow batch returns the OLD
    # geometry's labels exactly as they stood (b_* slices retained)
    assert _rows(read_semantic_labels(spark, sem, as_of_batch=1)) == pre
    # as-of the post-regrow batch == the live read
    assert _rows(read_semantic_labels(spark, sem, as_of_batch=2)) == got

    # idempotent: same parameters → no-op
    assert not regrow_semantic_cells(
        spark, idx, sem, new_n_cells=4, threshold=THRESH
    )


def test_fold_refuses_on_geometry_drift_and_pending(spark, sf_dir, tmp_path):
    _, chunks = _chunks(spark, sf_dir)
    idx, sem = str(tmp_path / "idx"), str(tmp_path / "sem")
    build_ann_index(chunks[0], idx, n_cells=2, n_iter=2)
    fold_semantic_batch(spark, idx, sem, chunks[0], 0, threshold=THRESH)

    # threshold drift: mixing decision spaces must fail loudly
    with pytest.raises(RuntimeError, match="regrow_semantic_cells"):
        fold_semantic_batch(spark, idx, sem, chunks[1], 1, threshold=0.9)

    # index regrown WITHOUT migrating the labels: the stored labels'
    # geometry no longer matches the index — fold must refuse
    assert regrow_ann_index(spark, idx, 4, n_iter=2)
    with pytest.raises(RuntimeError, match="regrow_semantic_cells"):
        fold_semantic_batch(spark, idx, sem, chunks[1], 1, threshold=THRESH)

    # a staged migration blocks folds until it completes
    pend = f"{sem}/_sem_meta.json.pending"
    with open(pend, "w") as f:
        json.dump({"n_cells": 4, "threshold": THRESH, "as_of": 0,
                   "covered": []}, f)
    with pytest.raises(RuntimeError, match="migration in progress"):
        fold_semantic_batch(spark, idx, sem, chunks[1], 1, threshold=THRESH)
    os.remove(pend)

    # finishing the migration heals both: folds proceed
    assert regrow_semantic_cells(
        spark, idx, sem, new_n_cells=4, threshold=THRESH, n_iter=2
    )
    fold_semantic_batch(spark, idx, sem, chunks[1], 1, threshold=THRESH)
    assert read_semantic_labels(spark, sem).count() > 0


def test_regrown_index_probes_equal_fresh_build(spark, sf_dir, tmp_path):
    """regrow_ann_index(base+appends → new n_cells) answers probes
    byte-equal to build_ann_index over the same corpus at the same
    n_cells (deterministic lowest-id k-means init), and the appends
    are folded into the rebuilt base (no slices left to double-count)."""
    import glob

    from rental_data_pipeline_spark.operators.ann_index import (
        ivf_topk_persisted,
    )

    embs, chunks = _chunks(spark, sf_dir)
    grown, fresh = str(tmp_path / "grown"), str(tmp_path / "fresh")
    build_ann_index(chunks[0], grown, n_cells=2, n_iter=2)
    append_ann_index(chunks[1], grown, batch_id=1)
    append_ann_index(chunks[2], grown, batch_id=2)
    assert regrow_ann_index(spark, grown, 4, n_iter=2)
    assert not glob.glob(f"{grown}/appends/b_*")

    build_ann_index(embs, fresh, n_cells=4, n_iter=2)
    qids = [0, 1, 2]
    a = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in ivf_topk_persisted(spark, grown, qids, top_k=5).collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in ivf_topk_persisted(spark, fresh, qids, top_k=5).collect()
    )
    assert a == b and a


def test_suggest_regrow_watermark(spark, sf_dir, tmp_path):
    """The √N-rule hook: 500 vectors in 2 cells → target √500 ≈ 23
    cells, due; after regrowing to 23 the suggestion is no longer due
    (a doubling of corpus is needed first)."""
    from rental_data_pipeline_spark.operators.ann_index import (
        suggest_regrow,
    )

    embs, _ = _chunks(spark, sf_dir)
    idx = str(tmp_path / "idx")
    build_ann_index(embs, idx, n_cells=2, n_iter=1)
    s = suggest_regrow(spark, idx)
    assert s["n_vectors"] == 500 and s["n_cells"] == 2
    assert s["target_n_cells"] == 23 and s["due"]

    assert regrow_ann_index(spark, idx, s["target_n_cells"], n_iter=1)
    s2 = suggest_regrow(spark, idx)
    assert s2["n_cells"] == 23 and not s2["due"]


def test_regrow_preserves_pq_artifact(spark, sf_dir, tmp_path):
    """A PQ-bearing index regrows whole: codebooks retrain over the
    accumulated corpus and PQ probes equal a fresh pq build at the new
    cell count."""
    from rental_data_pipeline_spark.operators.ann_index import (
        pq_topk_persisted,
    )

    embs, chunks = _chunks(spark, sf_dir)
    grown, fresh = str(tmp_path / "grown"), str(tmp_path / "fresh")
    build_ann_index(
        chunks[0], grown, n_cells=2, n_iter=2, pq=True, m=4, k=8, pq_iter=1
    )
    append_ann_index(chunks[1], grown, batch_id=1)
    append_ann_index(chunks[2], grown, batch_id=2)
    assert regrow_ann_index(spark, grown, 4, n_iter=2)
    meta = read_meta(grown)
    assert meta["n_cells"] == 4 and meta["pq"] == {
        "m": 4, "k": 8, "n_iter": 1
    }

    build_ann_index(
        embs, fresh, n_cells=4, n_iter=2, pq=True, m=4, k=8, pq_iter=1
    )
    qids = [0, 1]
    a = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in pq_topk_persisted(
            spark, grown, qids, top_k=5, shortlist=50
        ).collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in pq_topk_persisted(
            spark, fresh, qids, top_k=5, shortlist=50
        ).collect()
    )
    assert a == b and a


def test_regrow_corpus_cells_ann_only_root(spark, sf_dir, tmp_path):
    """A corpus that streamed embeddings WITHOUT the SemDeDup stage
    regrows its index alone — no threshold demanded, no label slice
    invented for a stage that never ran."""
    import os

    from pyspark.sql import functions as F

    from rental_data_pipeline_spark.jobs.corpus_job import CorpusConfig
    from rental_data_pipeline_spark.operators.similarity import kmeans_train
    from rental_data_pipeline_spark.sources.tables import load_table
    from rental_data_pipeline_spark.streaming.corpus_stream import (
        fold_corpus_batch,
        regrow_corpus_cells,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    embs = load_table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    streamed = docs.join(embs, "doc_id", "left")
    root = str(tmp_path / "corpus")
    cfg = CorpusConfig(
        languages=("en", "de", "fr", "es"), min_quality=0.0, min_tokens=1,
    )
    cents, _ = kmeans_train(
        load_table(spark, "embeddings", sf_dir).where("vec_id < 170"),
        k=2, n_iter=1,
    )
    fold_corpus_batch(
        spark, root, streamed.where("doc_id < 170"), 0, cfg,
        ann_centroids=cents, vec_col="embedding",  # NO semantic_threshold
    )
    ran = regrow_corpus_cells(spark, root, 4)
    assert ran == {"ann": True}
    assert read_meta(f"{root}/ann")["n_cells"] == 4
    assert not os.path.exists(f"{root}/semantic/_sem_meta.json")


def test_regrow_corpus_cells_end_to_end(spark, sf_dir, tmp_path):
    """The corpus-root composition: fold batches with ANN + SemDeDup
    on, regrow the root's cells mid-stream (offline), keep folding —
    the live semantic labels equal the batch operator over all keepers
    at the NEW geometry, read through read_incremental_corpus."""
    from pyspark.sql import functions as F

    from rental_data_pipeline_spark.jobs.corpus_job import CorpusConfig
    from rental_data_pipeline_spark.operators.similarity import kmeans_train
    from rental_data_pipeline_spark.sources.tables import load_table
    from rental_data_pipeline_spark.streaming.corpus_stream import (
        fold_corpus_batch,
        read_incremental_corpus,
        regrow_corpus_cells,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    embs = load_table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    streamed = docs.join(embs, "doc_id", "left")
    root = str(tmp_path / "corpus")
    cfg = CorpusConfig(
        languages=("en", "de", "fr", "es"), min_quality=0.0, min_tokens=1,
        max_contamination=0.5,
    )
    holdout = docs.where(F.col("doc_id") % 5 == 0)
    cents, _ = kmeans_train(
        load_table(spark, "embeddings", sf_dir).where("vec_id < 170"),
        k=2, n_iter=2,
    )
    chunks = [(0, 170), (170, 340), (340, 10**9)]
    for i, (lo, hi) in enumerate(chunks[:2]):
        fold_corpus_batch(
            spark, root,
            streamed.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ),
            i, cfg, holdout=holdout, ann_centroids=cents,
            vec_col="embedding", semantic_threshold=0.3,
        )

    # an ANN-only root refuses nothing; a semantic root demands the
    # stream's threshold
    with pytest.raises(ValueError, match="semantic_threshold"):
        regrow_corpus_cells(spark, root, 4)
    ran = regrow_corpus_cells(spark, root, 4, semantic_threshold=0.3)
    assert ran == {"semantic": True, "ann": True}
    assert read_meta(f"{root}/ann")["n_cells"] == 4

    lo, hi = chunks[2]
    fold_corpus_batch(
        spark, root,
        streamed.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
        2, cfg, holdout=holdout, ann_centroids=cents,
        vec_col="embedding", semantic_threshold=0.3,
    )

    got = read_incremental_corpus(spark, root, cfg)
    # the batch twin at the NEW geometry: the full corpus job with the
    # regrown index's centroids (the same comparison the corpus-stream
    # equivalence test makes, before any regrow existed)
    from dataclasses import replace

    from rental_data_pipeline_spark.jobs.corpus_job import (
        build_training_corpus,
    )

    want = build_training_corpus(
        docs, holdout, replace(cfg, semantic_threshold=0.3),
        embeddings=load_table(spark, "embeddings", sf_dir).select(
            "vec_id", "embedding"
        ),
        semantic_centroids=index_centroids(spark, f"{root}/ann"),
    )
    got_dropped = {r.doc_id for r in got["semantic_dropped"].collect()}
    want_dropped = {r.doc_id for r in want["semantic_dropped"].collect()}
    assert got_dropped == want_dropped and got_dropped
    # and the canonical corpus agrees end-to-end
    assert {r.doc_id for r in got["corpus"].collect()} == {
        r.doc_id for r in want["corpus"].collect()
    }


def test_regrow_resumes_after_crash(spark, sf_dir, tmp_path):
    """A crash mid-migration (pending staged, nothing else) resumes to
    the identical end state: deterministic retrain + relabel."""
    _, chunks = _chunks(spark, sf_dir)
    idx, sem = str(tmp_path / "idx"), str(tmp_path / "sem")
    build_ann_index(chunks[0], idx, n_cells=2, n_iter=2)
    fold_semantic_batch(spark, idx, sem, chunks[0], 0, threshold=THRESH)

    # simulate the crash: stage the pending exactly as regrow would,
    # then "crash" before any mutation — the re-run must finish it
    from rental_data_pipeline_spark.streaming.slices import atomic_json_write

    atomic_json_write(
        f"{sem}/_sem_meta.json.pending",
        {"n_cells": 4, "threshold": THRESH, "as_of": 0,
         "covered": ["b_000000000"]},
    )
    assert regrow_semantic_cells(
        spark, idx, sem, new_n_cells=4, threshold=THRESH, n_iter=2
    )
    assert not os.path.exists(f"{sem}/_sem_meta.json.pending")
    got = _rows(read_semantic_labels(spark, sem))
    want = _rows(
        semantic_dedup(
            chunks[0], threshold=THRESH,
            centroids=index_centroids(spark, idx),
        )
    )
    assert got == want and got


def test_threshold_only_remigration_relabels(spark, sf_dir, tmp_path):
    """A second regrow that changes ONLY the threshold (same n_cells,
    no folds in between) shares as_of and n_cells with the prior
    regrow's slice — it must still relabel (not match the old slice as
    'done' and stamp the new threshold over labels computed at the old
    one), and historical reads at the shared as_of must return the
    LATEST committed regrow's labels."""
    _, chunks = _chunks(spark, sf_dir)
    idx, sem = str(tmp_path / "idx"), str(tmp_path / "sem")
    build_ann_index(chunks[0], idx, n_cells=2, n_iter=2)
    fold_semantic_batch(spark, idx, sem, chunks[0], 0, threshold=THRESH)

    assert regrow_semantic_cells(
        spark, idx, sem, new_n_cells=4, threshold=THRESH, n_iter=2
    )
    first = _rows(read_semantic_labels(spark, sem))

    # threshold-only migration: same cells, stricter threshold
    t2 = 0.9
    assert regrow_semantic_cells(
        spark, idx, sem, new_n_cells=4, threshold=t2, n_iter=2
    )
    with open(f"{sem}/_sem_meta.json") as f:
        meta = json.load(f)
    assert meta["threshold"] == t2 and meta["n_cells"] == 4

    got = _rows(read_semantic_labels(spark, sem))
    want = _rows(
        semantic_dedup(
            chunks[0], threshold=t2, centroids=index_centroids(spark, idx)
        )
    )
    assert got == want and got
    # the relabel really happened: a stricter threshold keeps more docs
    assert got != first

    # continued folds use the NEW threshold's decision space
    append_ann_index(chunks[1], idx, batch_id=1)
    fold_semantic_batch(spark, idx, sem, chunks[1], 1, threshold=t2)
    live = _rows(read_semantic_labels(spark, sem))
    want_live = _rows(
        semantic_dedup(
            chunks[0].unionByName(chunks[1]),
            threshold=t2,
            centroids=index_centroids(spark, idx),
        )
    )
    assert live == want_live

    # tie-break: both c_* slices carry as_of=0; a historical read as-of
    # batch 1 must pick the LATEST regrow (t2 labels), not glob order
    assert _rows(read_semantic_labels(spark, sem, as_of_batch=1)) == live


def test_regrow_refuses_mismatched_resume(spark, sf_dir, tmp_path):
    """Resuming a crashed migration with DIFFERENT parameters than the
    staged pending must refuse (rebucket discipline), not silently
    rebuild at one geometry while metadata records another."""
    from rental_data_pipeline_spark.streaming.slices import atomic_json_write

    _, chunks = _chunks(spark, sf_dir)
    idx, sem = str(tmp_path / "idx"), str(tmp_path / "sem")
    build_ann_index(chunks[0], idx, n_cells=2, n_iter=2)
    fold_semantic_batch(spark, idx, sem, chunks[0], 0, threshold=THRESH)

    atomic_json_write(
        f"{sem}/_sem_meta.json.pending",
        {"n_cells": 4, "threshold": THRESH, "as_of": 0,
         "covered": ["b_000000000"]},
    )
    with pytest.raises(RuntimeError, match="staged at"):
        regrow_semantic_cells(
            spark, idx, sem, new_n_cells=8, threshold=THRESH, n_iter=2
        )
    with pytest.raises(RuntimeError, match="staged at"):
        regrow_semantic_cells(
            spark, idx, sem, new_n_cells=4, threshold=0.7, n_iter=2
        )
    # staged args finish it
    assert regrow_semantic_cells(
        spark, idx, sem, new_n_cells=4, threshold=THRESH, n_iter=2
    )

    # same discipline one level down: a staged index regrow refuses a
    # different n_cells
    atomic_json_write(f"{idx}/_meta.json.pending", {"n_cells": 8})
    with pytest.raises(RuntimeError, match="staged at"):
        regrow_ann_index(spark, idx, 6, n_iter=2)
    os.remove(f"{idx}/_meta.json.pending")


def test_regrow_preserves_pq_at_production_geometry(
    spark, sf_dir, tmp_path
):
    """Same PQ regrow parity at production-shaped codebooks — m=16
    subspaces x k=256 codewords (vs the small m=4/k=8 case above) —
    to catch codebook-shape assumptions: packed code width, per-
    subspace init cycling when a subspace has fewer vectors than
    codewords, LUT broadcast layout."""
    from rental_data_pipeline_spark.operators.ann_index import (
        pq_topk_persisted,
    )

    embs, chunks = _chunks(spark, sf_dir)
    grown, fresh = str(tmp_path / "grown"), str(tmp_path / "fresh")
    build_ann_index(
        chunks[0], grown, n_cells=2, n_iter=2,
        pq=True, m=16, k=256, pq_iter=1,
    )
    append_ann_index(chunks[1], grown, batch_id=1)
    append_ann_index(chunks[2], grown, batch_id=2)
    assert regrow_ann_index(spark, grown, 4, n_iter=2)
    meta = read_meta(grown)
    assert meta["n_cells"] == 4 and meta["pq"] == {
        "m": 16, "k": 256, "n_iter": 1
    }

    build_ann_index(
        embs, fresh, n_cells=4, n_iter=2,
        pq=True, m=16, k=256, pq_iter=1,
    )
    qids = [0, 1]
    a = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in pq_topk_persisted(
            spark, grown, qids, top_k=5, shortlist=50
        ).collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in pq_topk_persisted(
            spark, fresh, qids, top_k=5, shortlist=50
        ).collect()
    )
    assert a == b and a


def test_same_cell_count_rebuild_is_migratable(spark, sf_dir, tmp_path):
    """The documented centroid-drift maintenance (a same-n_cells index
    rebuild) changes the centroids: the fold refuses on the
    fingerprint mismatch and points at regrow_semantic_cells — which
    used to no-op on matching parameters, wedging the fold
    permanently. It must relabel on the fingerprint alone."""
    embs, chunks = _chunks(spark, sf_dir)
    idx, sem = str(tmp_path / "idx"), str(tmp_path / "sem")
    build_ann_index(chunks[0], idx, n_cells=2, n_iter=2)
    fold_semantic_batch(spark, idx, sem, chunks[0], 0, threshold=THRESH)

    # offline rebuild at the SAME n_cells over a grown corpus:
    # different training set -> different centroids, same geometry size
    build_ann_index(
        chunks[0].unionByName(chunks[1]), idx, n_cells=2, n_iter=2
    )
    with pytest.raises(RuntimeError, match="regrow_semantic_cells"):
        fold_semantic_batch(spark, idx, sem, chunks[1], 1, threshold=THRESH)
    # same parameters, but the centroid fingerprint differs -> migrate
    assert regrow_semantic_cells(
        spark, idx, sem, new_n_cells=2, threshold=THRESH, n_iter=2
    ) is True
    # the stream continues; labels equal the batch operator at the
    # rebuilt centroids over the whole corpus
    fold_semantic_batch(spark, idx, sem, chunks[1], 1, threshold=THRESH)
    got = _rows(read_semantic_labels(spark, sem))
    want = _rows(
        semantic_dedup(
            chunks[0].unionByName(chunks[1]),
            threshold=THRESH,
            centroids=index_centroids(spark, idx),
        )
    )
    assert got == want and got
    # converged: a repeat call with unchanged geometry no-ops
    assert regrow_semantic_cells(
        spark, idx, sem, new_n_cells=2, threshold=THRESH, n_iter=2
    ) is False


def test_replay_after_regrow_neither_duplicates_index_nor_labels(
    spark, sf_dir, tmp_path
):
    """Crash window: batch 1's APPEND committed but its semantic fold
    did not; the regrow then folds batch 1's vectors into the rebuilt
    base and the consolidated relabel covers them. The restarted
    stream replays batch 1 — the append must no-op (its id is claimed
    by the regrow sidecar, not by a slice the regrow deleted) and the
    fold must no-op (the c_* covers it), or vectors and labels
    double."""
    from rental_data_pipeline_spark.operators.ann_index import (
        _read_assignments,
    )

    embs, chunks = _chunks(spark, sf_dir)
    idx, sem = str(tmp_path / "idx"), str(tmp_path / "sem")
    build_ann_index(chunks[0], idx, n_cells=2, n_iter=2)
    fold_semantic_batch(spark, idx, sem, chunks[0], 0, threshold=THRESH)
    append_ann_index(chunks[1], idx, batch_id=1)
    # (crash here: batch 1's fold_semantic_batch never ran)

    assert regrow_semantic_cells(
        spark, idx, sem, new_n_cells=4, threshold=THRESH, n_iter=2
    )
    n_vecs = _read_assignments(spark, idx, read_meta(idx)).count()
    labels = read_semantic_labels(spark, sem)
    n_labels = labels.count()
    assert labels.select("vec_id").distinct().count() == n_labels

    # restart: the stream replays batch 1 (append + fold)
    append_ann_index(chunks[1], idx, batch_id=1)
    fold_semantic_batch(spark, idx, sem, chunks[1], 1, threshold=THRESH)
    assert _read_assignments(spark, idx, read_meta(idx)).count() == n_vecs
    labels2 = read_semantic_labels(spark, sem)
    assert labels2.count() == n_labels
    assert labels2.select("vec_id").distinct().count() == n_labels
    # and genuinely NEW batches still fold
    fold_semantic_batch(spark, idx, sem, chunks[2], 2, threshold=THRESH)
    assert read_semantic_labels(spark, sem).count() > n_labels


def test_read_semantic_labels_refuses_pending(spark, tmp_path):
    """Mid-migration reads must refuse like every sibling store: the
    slices carry old-geometry labels while the index already serves
    new centroids."""
    sem = str(tmp_path / "sem")
    os.makedirs(sem)
    with open(f"{sem}/_sem_meta.json.pending", "w") as f:
        json.dump({"n_cells": 4, "threshold": 0.3}, f)
    with pytest.raises(RuntimeError, match="pending"):
        read_semantic_labels(spark, sem)


def test_fold_index_batch_forwards_compact_every(spark, sf_dir, tmp_path, monkeypatch):
    """The labels store must compact on the caller's cadence, not its
    own default."""
    from rental_data_pipeline_spark.streaming import components
    from rental_data_pipeline_spark.streaming.dedup_index import (
        fold_index_batch,
    )

    seen = {}
    orig = components.catchup_components

    def spy(spark, index_path, labels_path, compact_every=16):
        seen["compact_every"] = compact_every
        return orig(spark, index_path, labels_path, compact_every=compact_every)

    monkeypatch.setattr(components, "catchup_components", spy)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    fold_index_batch(
        spark, str(tmp_path / "index"),
        docs.where("doc_id < 40"), 0,
        compact_every=4, labels_path=str(tmp_path / "labels"),
    )
    assert seen["compact_every"] == 4
