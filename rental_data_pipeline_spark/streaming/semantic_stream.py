"""Incrementally-maintained SemDeDup labels — the ANN index doubles
as the blocking structure.

Batch ``similarity.semantic_dedup`` recomputes cell assignments and
within-cell domination over the WHOLE corpus each run. On a crawl the
corpus is append-only with MONOTONIC ids (the corpus stream's
arrival-order contract), which makes SemDeDup incrementally foldable:

- a doc's dominators all carry LOWER ids, so an already-labelled doc
  can never change status when later docs arrive — labels are
  append-only facts;
- a NEW doc is dominated iff some lower-id same-cell doc (stored, or
  earlier in its own batch) sits at cosine ≥ threshold — and the
  persisted ANN index (``operators/ann_index.py``) already stores
  exactly that: the corpus Voronoi-partitioned by frozen-centroid
  cell id, partition-pruned by ``cid``.

So the fold is: after the batch's vectors are appended to the index
(``append_ann_index`` — same frozen centroids, same rounded-cosine /
lowest-cid assignment expressions), read ONLY the touched cells'
assignment partitions, broadcast the batch against them with the
``stored.vec_id < new.vec_id`` domination condition, and commit one
``b_*`` label slice of ``(vec_id, cid, is_kept)``. Per-batch cost is
O(|batch| × touched-cell occupancy) — the same blocking trade the
batch operator makes, with ``n_cells`` growing ~√N at scale — and
never a rescan of previously labelled docs.

Union of committed slices ≡ ``semantic_dedup`` over the full corpus
with the same centroids (the equivalence pytests:
``tests/test_corpus_stream.py``'s semantic_dropped equality and
``tests/test_semantic_regrow.py``). Zero-norm vectors are dropped
uniformly (they are absent from the index and from the batch operator
— the shared cosine-path contract).

Reference has no counterpart — beyond-reference training-data layer.
"""

from __future__ import annotations

import glob as _glob
import hashlib as _hashlib
import json as _json
import os as _os
import shutil as _shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rental_data_pipeline_spark.streaming.slices import (
    B_SLICE_RE,
    C_SLICE_RE,
    _read_manifest,
    atomic_json_write,
    committed,
    success_dirs,
)

_SEM_META = "_sem_meta.json"
_SEM_PENDING = "_sem_meta.json.pending"


def _centroid_fingerprint(centroids: list[list[float]]) -> str:
    """Deterministic id of a trained centroid set (components are
    6-dp-rounded by kmeans_train, so the JSON form is stable)."""
    return _hashlib.md5(
        _json.dumps(centroids, sort_keys=True).encode()
    ).hexdigest()


def _read_sem_meta(sem_path: str) -> dict | None:
    p = f"{sem_path}/{_SEM_META}"
    if not _os.path.exists(p):
        return None
    with open(p) as f:
        return _json.load(f)


def fold_semantic_batch(
    spark: SparkSession,
    index_path: str,
    sem_path: str,
    batch: DataFrame,
    batch_id: int,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold one batch's semantic-dedup labels. PRECONDITIONS: the
    batch's vectors are already appended to the index at
    ``index_path`` (so stored-cell reads see batch-mates too — the
    lower-id side of within-batch domination comes for free), and ids
    are monotonic across batches. Idempotent per ``batch_id``."""
    from rental_data_pipeline_spark.operators.ann_index import (
        _read_assignments,
        _read_centroids,
        read_meta,
    )
    from rental_data_pipeline_spark.operators.similarity import (
        _assign_to_centroids,
        _corpus,
        cosine,
        norm,
    )

    sdir = f"{sem_path}/b_{batch_id:09d}"
    if _os.path.exists(f"{sdir}/_SUCCESS"):
        return  # committed replay: no-op
    if _os.path.exists(f"{sem_path}/{_SEM_PENDING}"):
        raise RuntimeError(
            f"semantic label migration in progress ({_SEM_PENDING} exists):"
            f" {sem_path} — re-run regrow_semantic_cells to finish it"
        )
    # a regrow's consolidated relabel covers every vector the INDEX
    # held at relabel time — including a batch whose append committed
    # but whose fold crashed before its slice commit (replayed whole:
    # batch_id ≤ index_as_of), and vectors that entered WITHOUT an
    # append claim (a direct same-cell rebuild over a grown corpus).
    # Ids are monotonic, so the relabel corpus's max vec_id is a
    # row-level cut: fold only rows above it — re-labelling covered
    # rows would return their vec_ids twice from every read.
    cut = -1
    for c in _glob.glob(f"{sem_path}/c_*"):
        if not C_SLICE_RE.fullmatch(_os.path.basename(c)):
            continue
        info = _regrow_info(c)
        if info is None:
            continue
        if batch_id <= int(info.get("index_as_of", -1)):
            return  # whole batch appended pre-relabel: committed replay
        cut = max(cut, int(info.get("max_vec_id", -1)))
    if cut >= 0:
        batch = batch.where(F.col(id_col) > cut)
    if _os.path.exists(sdir):
        _shutil.rmtree(sdir, ignore_errors=True)
    _os.makedirs(sem_path, exist_ok=True)

    meta = read_meta(index_path)
    centroids = _read_centroids(spark, index_path)
    # Geometry guard: accumulated labels are only a valid SemDeDup
    # answer while every fold used the SAME cell geometry and
    # threshold. A regrown/rebuilt index (new centroids) or a changed
    # threshold would silently mix decision spaces — refuse and point
    # at the migration instead.
    fp = _centroid_fingerprint(centroids)
    sem_meta = _read_sem_meta(sem_path)
    if sem_meta is None:
        atomic_json_write(
            f"{sem_path}/{_SEM_META}",
            {
                "n_cells": meta["n_cells"],
                "threshold": float(threshold),
                "centroid_md5": fp,
            },
        )
    elif (
        sem_meta["centroid_md5"] != fp
        or float(sem_meta["threshold"]) != float(threshold)
    ):
        raise RuntimeError(
            "fold_semantic_batch: index geometry or threshold changed "
            f"since these labels began (stored n_cells="
            f"{sem_meta['n_cells']}/threshold={sem_meta['threshold']}, "
            f"index n_cells={meta['n_cells']}/threshold={threshold}) — "
            "run regrow_semantic_cells to migrate the labels"
        )
    corpus = (
        _corpus(batch, id_col, vec_col)
        .withColumn("vn", norm(F.col("v")))
        .where(F.col("vn") > 0)
    )
    dt = batch.schema[id_col].dataType.simpleString()
    # identical assignment expressions to the index build/append, so
    # the batch's cells equal what the batch operator would assign
    asg = _assign_to_centroids(corpus, centroids).select(
        "vec_id", "v", "cid"
    ).localCheckpoint(eager=True)  # feeds the touched-cell collect,
    # the domination join AND the final labels — one materialization
    if asg.limit(1).count() == 0:
        spark.createDataFrame(
            [], f"vec_id {dt}, cid int, is_kept boolean"
        ).write.parquet(sdir)
        return

    touched = sorted(r[0] for r in asg.select("cid").distinct().collect())
    # partition-pruned read of ONLY the touched cells — includes this
    # batch's own appended slice, whose lower ids are exactly the
    # within-batch domination candidates
    stored = _read_assignments(spark, index_path, meta).where(
        F.col("cid").isin(touched)
    )
    s, n = stored.alias("s"), asg.alias("n")
    dominated = (
        s.join(
            F.broadcast(n),
            (F.col("s.cid") == F.col("n.cid"))
            & (F.col("s.vec_id") < F.col("n.vec_id")),
        )
        .where(F.round(cosine(F.col("s.v"), F.col("n.v")), 6) >= threshold)
        .select(F.col("n.vec_id").alias("vec_id"))
        .distinct()
    )
    (
        asg.join(dominated.withColumn("_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id", "cid",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("is_kept"),
        )
        .write.parquet(sdir)
    )


def read_semantic_labels(
    spark: SparkSession, sem_path: str, as_of_batch: int | None = None
) -> DataFrame | None:
    """Accumulated ``(vec_id, cid, is_kept)`` labels, or None before
    the first fold. Labels are append-only facts (monotonic ids), so
    the live read is a plain union of committed slices — after a
    ``regrow_semantic_cells`` migration that means the latest regrow's
    consolidated ``c_*`` slice (the whole corpus relabelled under the
    new geometry) plus the ``b_*`` folds since it.

    ``as_of_batch=N`` is a HISTORICAL read: the labels exactly as they
    stood after batch N — including the cell geometry in force THEN.
    Per-batch ``b_*`` slices are retained (never deleted) even when a
    regrow's manifest supersedes them for live reads, so history picks
    the latest regrow whose cut-point ≤ N (if any) plus the retained
    ``b_*`` slices in between — the corpus-event-log contract.

    Refuses while a regrow migration is staged (the sibling stores'
    read discipline): between the index regrow's commit and the
    relabel's, the slices carry OLD-geometry labels while the index
    serves NEW centroids — returning them would silently mix decision
    spaces, exactly what the fold's own pending guard exists to
    prevent."""
    pending = f"{sem_path}/{_SEM_PENDING}"
    if _os.path.exists(pending):
        raise RuntimeError(
            f"semantic labels at '{sem_path}' have a staged regrow "
            "migration pending — finish it (re-run "
            "regrow_semantic_cells with the staged parameters, or "
            "maintain_corpus) before reading"
        )
    if as_of_batch is None:
        dirs = committed(sem_path)
        if not dirs:
            return None
    else:
        # latest committed regrow whose cut-point PRECEDES as_of: a
        # regrow at cut R ran after batch R committed, so a reader
        # "as of batch R" predates it (historical view, old geometry);
        # any batch AFTER R was folded under the new geometry and
        # needs the consolidated slice
        best_c, best_as_of = None, -1
        # sorted ascending by generation; <= so that among slices
        # sharing an as_of (threshold-only migration with no
        # intervening folds) the LATEST committed regrow wins
        for c in sorted(_glob.glob(f"{sem_path}/c_*")):
            if not C_SLICE_RE.fullmatch(_os.path.basename(c)):
                continue  # stray operator entry: never parsed
            info = _regrow_info(c)
            if info is None:
                continue
            if best_as_of <= info["as_of"] < as_of_batch:
                best_c, best_as_of = c, info["as_of"]
        dirs = ([best_c] if best_c else []) + [
            d
            for d in success_dirs(f"{sem_path}/b_*")
            if B_SLICE_RE.fullmatch(_os.path.basename(d))
            and best_as_of < int(_os.path.basename(d)[2:]) <= as_of_batch
        ]
        if not dirs:
            return None
    out = spark.read.parquet(dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(spark.read.parquet(d), allowMissingColumns=True)
    return out


def _regrow_info(cdir: str) -> dict | None:
    """A committed regrow slice's cut-point record, or None when the
    slice is uncommitted (no valid covering manifest)."""
    if _read_manifest(f"{cdir}/_covered.json") is None:
        return None
    p = f"{cdir}/_regrow.json"
    if not _os.path.exists(p):
        return None
    with open(p) as f:
        return _json.load(f)


def regrow_semantic_cells(
    spark: SparkSession,
    index_path: str,
    sem_path: str,
    new_n_cells: int,
    threshold: float = 0.4,
    n_iter: int = 3,
) -> bool:
    """OFFLINE migration of the semantic-dedup labels to a larger cell
    count — the stay-flat-at-scale recipe for the one stage whose
    per-batch cost creeps with corpus size under frozen centroids
    (O(batch × N / n_cells); n_cells must grow ~√N). Drives
    ``ann_index.regrow_ann_index`` (retrain centroids over the index's
    own corpus, rebuild the base, clear appends), then relabels the
    WHOLE corpus under the new geometry with the batch operator
    (``similarity.semantic_dedup`` against the regrown index's
    centroids) and commits it as ONE consolidated ``c_*`` slice whose
    manifest supersedes the per-batch ``b_*`` slices for live reads
    (they are retained for ``as_of_batch`` history). Subsequent
    ``fold_semantic_batch`` calls continue incrementally from the new
    geometry, so the live read equals a fresh full-corpus run at
    ``new_n_cells`` — the equivalence pytest pins it.

    Crash-safe under the shared staged-pending protocol
    (``_sem_meta.json.pending``): folds refuse while it exists;
    re-running resumes (the index regrow resumes from its snapshot,
    the relabel is deterministic, a committed ``c_*`` matching the
    pending parameters is not rewritten; the sem-meta swap + pending
    removal is the commit). Must not run concurrently with the stream
    — the offline discipline every ``rebucket_*``/regrow migration
    shares. Returns True when a migration ran."""
    from rental_data_pipeline_spark.operators.ann_index import (
        _read_assignments,
        _read_centroids,
        index_centroids,
        read_meta,
        regrow_ann_index,
    )
    from rental_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    pending = f"{sem_path}/{_SEM_PENDING}"
    cur = _read_sem_meta(sem_path)
    if (
        cur is not None
        and cur["n_cells"] == int(new_n_cells)
        and float(cur["threshold"]) == float(threshold)
        and not _os.path.exists(pending)
        # same parameters are NOT sufficient to no-op: a same-cell-count
        # index rebuild (the documented centroid-drift maintenance)
        # changes the centroids, fold_semantic_batch refuses on the
        # fingerprint mismatch and points HERE — returning False would
        # wedge the fold permanently with no migration to run
        and cur.get("centroid_md5")
        == _centroid_fingerprint(_read_centroids(spark, index_path))
    ):
        return False
    _os.makedirs(sem_path, exist_ok=True)
    if not _os.path.exists(pending):
        # cut-point: the highest batch id any committed slice covers —
        # folds refuse once the pending lands, so it cannot move
        as_of = -1
        for d in success_dirs(f"{sem_path}/b_*"):
            if not B_SLICE_RE.fullmatch(_os.path.basename(d)):
                continue  # stray operator entry: never parsed
            as_of = max(as_of, int(_os.path.basename(d)[2:]))
        for c in _glob.glob(f"{sem_path}/c_*"):
            if not C_SLICE_RE.fullmatch(_os.path.basename(c)):
                continue
            info = _regrow_info(c)
            if info is not None:
                as_of = max(as_of, int(info["as_of"]))
        covered = sorted(
            _os.path.basename(d) for d in committed(sem_path)
        )
        # the INDEX-side cut: the highest batch id whose vectors the
        # index holds (committed appends + regrow-folded claims). The
        # relabel covers every index vector, so a batch whose APPEND
        # committed but whose semantic fold crashed before its slice
        # commit (batch index_as_of, label as_of < index_as_of) is
        # labelled by the consolidated c_* — its replayed fold must
        # no-op, or the labels double. Staged BEFORE regrow_ann_index
        # clears appends/.
        from rental_data_pipeline_spark.operators.ann_index import (
            _claimed_append_ids,
        )

        idx_meta = read_meta(index_path, allow_pending=True)
        index_as_of = max(
            _claimed_append_ids(
                index_path,
                "codes" if idx_meta.get("pq") else "assignments",
            ),
            default=-1,
        )
        atomic_json_write(
            pending,
            {
                "n_cells": int(new_n_cells),
                "threshold": float(threshold),
                "as_of": as_of,
                "index_as_of": index_as_of,
                "covered": covered,
            },
        )
    with open(pending) as f:
        stage = _json.load(f)
    # Resume discipline (mirrors the rebucket migrations): a crashed
    # migration resumes with its STAGED parameters; silently rebuilding
    # at different caller args would leave labels vs geometry
    # inconsistent. Refuse the mismatch explicitly — finish (re-run
    # with the staged args) and then migrate again.
    if stage["n_cells"] != int(new_n_cells) or float(
        stage["threshold"]
    ) != float(threshold):
        raise RuntimeError(
            "regrow_semantic_cells: a pending migration is staged at "
            f"n_cells={stage['n_cells']}/threshold={stage['threshold']} "
            f"but was called with n_cells={new_n_cells}/threshold="
            f"{threshold} — re-run with the staged parameters to finish "
            "it, then migrate again"
        )

    regrow_ann_index(spark, index_path, int(stage["n_cells"]), n_iter=n_iter)
    # the geometry the relabel must be computed in: the index's
    # POST-regrow centroids (known only now — an n_cells migration
    # retrains them inside regrow_ann_index)
    fp = _centroid_fingerprint(_read_centroids(spark, index_path))

    # relabel the whole corpus under the new geometry, unless a resume
    # already committed it
    done = None
    for c in _glob.glob(f"{sem_path}/c_*"):
        if not C_SLICE_RE.fullmatch(_os.path.basename(c)):
            continue  # stray operator entry: never parsed
        info = _regrow_info(c)
        if (
            info is not None
            and info["as_of"] == stage["as_of"]
            and info["n_cells"] == stage["n_cells"]
            # threshold too: a threshold-only re-migration (same
            # n_cells, no folds since the prior regrow) shares as_of
            # and n_cells with the OLD slice — without this it would
            # skip the relabel and stamp the new threshold over labels
            # computed at the old one
            and float(info["threshold"]) == float(stage["threshold"])
            # and the centroid fingerprint: a centroid-drift relabel
            # (same n_cells, same threshold — the index was rebuilt)
            # shares all three fields with the OLD slice; matching it
            # would skip the relabel and stamp the new fingerprint
            # over labels computed in the old decision space
            and info.get("centroid_md5") == fp
        ):
            done = c
            break
    if done is None:
        # clear garbage from a crashed prior attempt (no valid
        # manifest) — CANONICAL names only: a stray operator entry is
        # never parsed or deleted, and the numbering below must skip
        # it instead of crashing on int()
        for c in _glob.glob(f"{sem_path}/c_*"):
            if C_SLICE_RE.fullmatch(
                _os.path.basename(c)
            ) and _read_manifest(f"{c}/_covered.json") is None:
                _shutil.rmtree(c, ignore_errors=True)
        from rental_data_pipeline_spark.streaming.slices import next_slice_dir

        cdir = next_slice_dir(sem_path)
        if _os.path.exists(cdir):
            _shutil.rmtree(cdir, ignore_errors=True)
        meta = read_meta(index_path)
        corpus = _read_assignments(spark, index_path, meta).select(
            "vec_id", "v"
        )
        semantic_dedup(
            corpus,
            threshold=float(threshold),
            centroids=index_centroids(spark, index_path),
            id_col="vec_id",
            vec_col="v",
        ).write.parquet(cdir)
        # the row-level replay cut: every vec_id ≤ this is labelled by
        # THIS slice (ids are monotonic), whether it entered the index
        # by claimed append or by a direct rebuild
        mx = corpus.agg(F.max("vec_id")).collect()[0][0]
        atomic_json_write(
            f"{cdir}/_regrow.json",
            {
                "as_of": stage["as_of"],
                "index_as_of": stage.get("index_as_of", -1),
                "max_vec_id": int(mx) if mx is not None else -1,
                "n_cells": stage["n_cells"],
                "threshold": stage["threshold"],
                "centroid_md5": fp,
            },
        )
        atomic_json_write(f"{cdir}/_covered.json", stage["covered"])

    atomic_json_write(
        f"{sem_path}/{_SEM_META}",
        {
            "n_cells": stage["n_cells"],
            "threshold": stage["threshold"],
            "centroid_md5": fp,
        },
    )
    _os.remove(pending)  # commit point
    return True
