"""The size-tiered span-state layout: the fold writes O(batch) delta
slices (never rewrites the state), size-tiered compaction preserves
the fold equivalence with transitive covered-id replay, and the
rebucket migration is crash-safe — the fix for the measured O(state)
bytes-per-fold of the merge-on-write layout
(scripts/span_compaction_churn.py)."""

import glob
import json
import os
import shutil
import tempfile

import pytest

from rental_data_pipeline_spark.operators.dedup import duplicated_spans
from rental_data_pipeline_spark.streaming.span_stream import (
    fold_spans_batch,
    read_duplicated_spans,
)
from rental_data_pipeline_spark.streaming.tiered import (
    maybe_compact,
    rebucket_tiered,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="tiered_span_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark, ids):
    # each doc: a shared 10-token run (the cross-doc duplicate) plus a
    # per-doc unique 10-token run (the singleton tail)
    run = " ".join(f"t{i}" for i in range(1, 11))
    rows = [
        (i, f"{run} " + " ".join(f"u{i}x{j}" for j in range(10)))
        for i in ids
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _srows(df):
    return sorted(
        (r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
        for r in df.collect()
    )


def _dirs(root, pat):
    return sorted(os.path.basename(d) for d in glob.glob(f"{root}/{pat}"))


def test_fold_writes_only_a_batch_slice(spark, root):
    """The fold path is O(batch): a new fold adds exactly one b_* dir
    and leaves every existing slice byte-identical (no state read, no
    state rewrite) — the property the merge-on-write layout lacked."""

    def snapshot():
        out = {}
        for d in glob.glob(f"{root}/[bc]_*"):
            for r, _, names in os.walk(d):
                for n in names:
                    p = os.path.join(r, n)
                    out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    fold_spans_batch(spark, root, _docs(spark, [1, 2]), 0, window=10)
    fold_spans_batch(spark, root, _docs(spark, [3, 4]), 1, window=10)
    before = snapshot()
    fold_spans_batch(spark, root, _docs(spark, [5, 6]), 2, window=10)
    after = snapshot()
    new_dirs = {
        p.split(root + "/")[1].split("/")[0]
        for p in set(after) - set(before)
    }
    assert new_dirs == {"b_000000002"}
    for p, meta in before.items():  # old slices untouched
        assert after[p] == meta


def test_compaction_preserves_equivalence_and_replay(spark, root):
    """compact_every=2 trips a level-0 compaction mid-stream: the
    merged report still equals the batch operator over the full
    corpus, the compacted b_* ids are covered (replay no-ops via the
    manifest), and coverage is TRANSITIVE across generations."""
    batches = [[1, 2], [3, 4], [5, 6], [7, 8], [9, 10], [11, 12]]
    for i, ids in enumerate(batches):
        fold_spans_batch(
            spark, root, _docs(spark, ids), i,
            window=10, compact_every=2, fanin=2,
        )
    alldocs = _docs(spark, [i for b in batches for i in b])
    want = _srows(duplicated_spans(alldocs, window=10, min_docs=2))
    assert _srows(read_duplicated_spans(spark, root)) == want

    # level-0 pairs compacted, cascades ran: few live slices remain
    covered = set()
    for c in glob.glob(f"{root}/c_*"):
        mf = f"{c}/_covered.json"
        if os.path.exists(mf):
            with open(mf) as f:
                covered.update(json.load(f))
    assert "b_000000000" in covered  # first batch covered transitively

    # replaying a covered batch id is a no-op (covered-id contract)
    fold_spans_batch(
        spark, root, _docs(spark, [1, 2]), 0,
        window=10, compact_every=2, fanin=2,
    )
    assert _dirs(root, "b_000000000") == []  # not rewritten
    assert _srows(read_duplicated_spans(spark, root)) == want


def test_sweep_grace_defers_covered_slice_deletion(spark, root):
    """``sweep_grace_sec``: a compaction's sources become invisible to
    new reads at the manifest commit but stay ON DISK for the grace
    window — a concurrent reader that listed them just before the
    commit keeps its files (the vacuum-retention discipline). A sweep
    past the grace deletes them; the default grace of 0 keeps the
    single-process delete-within-the-fold behavior."""
    from rental_data_pipeline_spark.streaming.span_stream import (
        _reduce_span_stats,
    )

    for i in range(2):
        fold_spans_batch(
            spark, root, _docs(spark, [2 * i + 1, 2 * i + 2]), i,
            window=10, compact_every=2, sweep_grace_sec=3600,
        )
    # the fold's inline compaction committed...
    assert _dirs(root, "c_*") == ["c_000000000"]
    # ...but its sources survive the call (covered, within grace)
    assert _dirs(root, "b_*") == ["b_000000000", "b_000000001"]
    # reads ignore the covered dirs: no double count
    want = _srows(
        duplicated_spans(_docs(spark, [1, 2, 3, 4]), window=10, min_docs=2)
    )
    assert _srows(read_duplicated_spans(spark, root)) == want

    # a sweep still inside the grace keeps them
    maybe_compact(spark, root, _reduce_span_stats, sweep_grace_sec=3600)
    assert _dirs(root, "b_*") == ["b_000000000", "b_000000001"]

    # past the grace (0 here): physically deleted, reads unchanged
    maybe_compact(spark, root, _reduce_span_stats)
    assert _dirs(root, "b_*") == []
    assert _srows(read_duplicated_spans(spark, root)) == want


def test_crash_artifacts_are_swept(spark, root):
    """An uncommitted c_* (crash before manifest) is invisible and
    swept; a covered source dir left behind (crash after manifest,
    before deletion) is ignored by readers and swept."""
    for i in range(3):
        fold_spans_batch(
            spark, root, _docs(spark, [2 * i, 2 * i + 1]), i, window=10
        )
    want = _srows(read_duplicated_spans(spark, root))

    # fake a crash-before-manifest: c_* dir with _SUCCESS but no manifest
    fake = f"{root}/c_000000777"
    os.makedirs(fake)
    open(f"{fake}/_SUCCESS", "w").close()
    assert _srows(read_duplicated_spans(spark, root)) == want

    # fake a crash-after-manifest: resurrect a covered b_* dir
    from rental_data_pipeline_spark.streaming.span_stream import (
        _reduce_span_stats,
    )

    maybe_compact(spark, root, _reduce_span_stats, compact_every=1)
    c = [
        d for d in glob.glob(f"{root}/c_*")
        if os.path.exists(f"{d}/_covered.json")
    ][0]
    with open(f"{c}/_covered.json") as f:
        covered_name = json.load(f)[0]
    zombie = f"{root}/{covered_name}"
    os.makedirs(zombie, exist_ok=True)
    open(f"{zombie}/_SUCCESS", "w").close()
    assert _srows(read_duplicated_spans(spark, root)) == want

    # the next compaction pass sweeps both artifacts
    maybe_compact(spark, root, _reduce_span_stats)
    assert not os.path.exists(fake) and not os.path.exists(zombie)


def test_rebucket_tiered_migrates_and_resumes(spark, root):
    """The offline bucket-count migration: full compaction under the
    new count, meta swap as commit point; an interrupted migration
    refuses folds/reads and finishes AT THE STAGED COUNT on re-run."""
    from rental_data_pipeline_spark.streaming.span_stream import (
        _reduce_span_stats,
    )

    for i in range(3):
        fold_spans_batch(
            spark, root, _docs(spark, [2 * i, 2 * i + 1]), i, window=10
        )
    want = _srows(read_duplicated_spans(spark, root))

    assert rebucket_tiered(spark, root, 32, _reduce_span_stats)
    with open(f"{root}/_meta.json") as f:
        assert json.load(f)["n_buckets"] == 32
    assert _srows(read_duplicated_spans(spark, root)) == want
    # same count → no-op
    assert not rebucket_tiered(spark, root, 32, _reduce_span_stats)

    # stage a pending migration (simulated crash before commit)
    with open(f"{root}/_meta.json") as f:
        meta = json.load(f)
    with open(f"{root}/_meta.json.pending", "w") as f:
        json.dump({**meta, "n_buckets": 64}, f)
    with pytest.raises(RuntimeError, match="interrupted rebucket"):
        fold_spans_batch(spark, root, _docs(spark, [99]), 9, window=10)
    with pytest.raises(RuntimeError, match="interrupted rebucket"):
        read_duplicated_spans(spark, root)
    # re-run with a DIFFERENT requested count: staged count wins
    assert rebucket_tiered(spark, root, 128, _reduce_span_stats)
    with open(f"{root}/_meta.json") as f:
        assert json.load(f)["n_buckets"] == 64
    assert _srows(read_duplicated_spans(spark, root)) == want


def test_legacy_layout_refuses_tiered_fold(spark, root):
    """A span state whose stamp lacks the tiered layout must refuse
    further folds with the rebuild message instead of writing slices
    into it."""
    fold_spans_batch(spark, root, _docs(spark, [1, 2]), 0, window=10)
    meta_p = f"{root}/_span_window.json"
    with open(meta_p) as f:
        meta = json.load(f)
    meta.pop("layout")
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="older on-disk layout"):
        fold_spans_batch(spark, root, _docs(spark, [3, 4]), 1, window=10)


def test_stray_entries_are_ignored_never_deleted(spark, root):
    """Operator droppings inside the state dir (a .bak copy of a
    slice, junk names) are invisible to reads, numbering, compaction
    and the sweep — never parsed, double-counted or deleted."""
    import shutil as sh

    from rental_data_pipeline_spark.streaming.span_stream import (
        _reduce_span_stats,
    )

    for i in range(2):
        fold_spans_batch(
            spark, root, _docs(spark, [2 * i, 2 * i + 1]), i, window=10
        )
    want = _srows(read_duplicated_spans(spark, root))
    # a manual backup copy (carries _SUCCESS) + junk dirs
    sh.copytree(f"{root}/b_000000000", f"{root}/b_000000000.bak")
    os.makedirs(f"{root}/c_junk")
    open(f"{root}/c_junk/_SUCCESS", "w").close()
    assert _srows(read_duplicated_spans(spark, root)) == want
    assert maybe_compact(
        spark, root, _reduce_span_stats, compact_every=1
    )
    assert _srows(read_duplicated_spans(spark, root)) == want
    assert os.path.exists(f"{root}/b_000000000.bak")  # never deleted
    assert os.path.exists(f"{root}/c_junk")


def test_compaction_manifests_prune_to_replay_horizon(
    spark, root, monkeypatch
):
    """Transitive coverage must stay O(horizon), not O(stream
    lifetime): an inherited b_* id is carried forward only while it is
    within REPLAY_HORIZON of the newest covered id (or its dir is
    still on disk awaiting a graced sweep). Replay detection inside
    the horizon still no-ops; content is exact regardless."""
    import rental_data_pipeline_spark.streaming.tiered as tiered_mod
    from rental_data_pipeline_spark.streaming.slices import slice_id_compacted
    from rental_data_pipeline_spark.streaming.span_stream import (
        _reduce_span_stats,
    )

    monkeypatch.setattr(tiered_mod, "REPLAY_HORIZON", 3)
    all_docs = None
    for i in range(8):
        b = _docs(spark, [2 * i, 2 * i + 1])
        all_docs = b if all_docs is None else all_docs.unionByName(b)
        fold_spans_batch(spark, root, b, i, window=10, compact_every=2)
    assert maybe_compact(
        spark, root, _reduce_span_stats, force_full=True
    )
    assert _srows(read_duplicated_spans(spark, root)) == _srows(
        duplicated_spans(all_docs, window=10, min_docs=2)
    )
    covered = set()
    for c in glob.glob(f"{root}/c_*"):
        covered.update(json.load(open(f"{c}/_covered.json")))
    b_ids = sorted(int(n[2:]) for n in covered if n.startswith("b_"))
    # bounded: only ids within the horizon of the newest (7) survive
    assert b_ids == [5, 6, 7]
    # replay inside the horizon is still a covered-id no-op
    assert slice_id_compacted(root, 7)
    before = _srows(read_duplicated_spans(spark, root))
    fold_spans_batch(spark, root, _docs(spark, [90, 91]), 7, window=10)
    assert _srows(read_duplicated_spans(spark, root)) == before
    assert not os.path.exists(f"{root}/b_000000007")


def test_rebucket_tiered_resume_merges_hand_staged_pending(spark, root):
    """Resuming a hand-staged {"n_buckets": N} pending (the shape the
    other bucket tables accept as an operational action) must merge it
    OVER the committed meta — adopting it verbatim would drop
    layout/key at the meta swap and wedge every later fold against
    the layout guard."""
    from rental_data_pipeline_spark.streaming.span_stream import (
        _reduce_span_stats,
    )
    from rental_data_pipeline_spark.streaming.tiered import (
        rebucket_tiered,
    )

    b0 = _docs(spark, [1, 2])
    fold_spans_batch(spark, root, b0, 0, window=10)
    want = _srows(read_duplicated_spans(spark, root))

    with open(f"{root}/_meta.json.pending", "w") as f:
        json.dump({"n_buckets": 8}, f)
    assert rebucket_tiered(spark, root, 999, _reduce_span_stats)
    meta = json.load(open(f"{root}/_meta.json"))
    assert meta["n_buckets"] == 8  # staged count wins over the arg
    assert meta["layout"] == "tiered"  # preserved, not dropped
    assert meta["key"] == "span_hash"
    # folds still work under the migrated meta
    b1 = _docs(spark, [3, 4])
    fold_spans_batch(spark, root, b1, 1, window=10)
    assert _srows(read_duplicated_spans(spark, root)) == _srows(
        duplicated_spans(b0.unionByName(b1), window=10, min_docs=2)
    )
    assert want  # sanity: the pre-rebucket read had rows
