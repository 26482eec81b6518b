"""Shared covered-slice GC (`slices.sweep_covered_slices`):
coverage (the manifest) is the commit, physical deletion is the sweep
— grace-deferred for concurrent readers, guarded to names a committed
manifest actually lists, and healing the crash-after-manifest leak
(covered dirs that every listing skips but nothing used to delete)."""

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.streaming.slices import sweep_covered_slices


def _mk(root, name, files=("_SUCCESS",)):
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    for f in files:
        p = os.path.join(d, f)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").close()
    return d


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="slice_gc_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_sweep_covered_slices_semantics(root):
    """Grace keeps covered dirs; grace 0 reclaims exactly the dirs a
    committed manifest names — live slices, the covering compaction,
    stray operator entries and uncommitted compactions untouched."""
    _mk(root, "b_000000000")
    _mk(root, "b_000000001")
    _mk(root, "b_000000002")
    c = _mk(root, "c_000000000")
    with open(f"{c}/_covered.json", "w") as f:
        json.dump(["b_000000000", "b_000000001"], f)
    _mk(root, "b_000000000.bak")  # never named in a manifest
    _mk(root, "c_000000001")  # uncommitted compaction: not GC's business

    sweep_covered_slices(root, grace_sec=3600)  # within grace: all kept
    assert os.path.exists(f"{root}/b_000000000")
    assert os.path.exists(f"{root}/b_000000001")

    sweep_covered_slices(root)  # grace 0: covered reclaimed
    assert not os.path.exists(f"{root}/b_000000000")
    assert not os.path.exists(f"{root}/b_000000001")
    assert os.path.exists(f"{root}/b_000000002")  # live
    assert os.path.exists(f"{root}/c_000000000")  # the covering slice
    assert os.path.exists(f"{root}/b_000000000.bak")  # stray: kept
    assert os.path.exists(f"{root}/c_000000001")  # uncommitted: kept


def test_sweep_requires_the_commit_marker(root):
    """A manifest without its commit marker is not a committed
    compaction: its 'covered' names stay live and must not be deleted.
    The marker is configurable (the ANN appends commit on a nested
    sub-table's _SUCCESS)."""
    _mk(root, "b_000000000")
    c = os.path.join(root, "c_000000000")
    os.makedirs(c)
    with open(f"{c}/_covered.json", "w") as f:
        json.dump(["b_000000000"], f)

    sweep_covered_slices(root)  # no _SUCCESS on the compaction
    assert os.path.exists(f"{root}/b_000000000")

    open(f"{c}/_SUCCESS", "w").close()
    sweep_covered_slices(root, commit_marker="codes/_SUCCESS")
    assert os.path.exists(f"{root}/b_000000000")  # nested marker absent

    os.makedirs(f"{c}/codes", exist_ok=True)
    open(f"{c}/codes/_SUCCESS", "w").close()
    sweep_covered_slices(root, commit_marker="codes/_SUCCESS")
    assert not os.path.exists(f"{root}/b_000000000")


def test_table_level_grace_reaches_stream_fold_compactions(spark, root):
    """``set_gc_grace`` persists the retention window AT THE TABLE, so
    the compactions a stream fold itself triggers at its
    ``compact_every`` cadence — which take no operator arguments —
    honor it: the reader-protection guarantee is enforceable end to
    end, not only on manual compaction calls. An explicit per-call
    grace still overrides; and an in-flight (manifest-less, canonical)
    compaction dir from another process survives a graced sweep."""
    from rental_data_pipeline_spark.streaming.slices import set_gc_grace
    from rental_data_pipeline_spark.streaming.sketch_stream import (
        compact_sketch,
        fold_registers_batch,
        read_hll_estimate,
    )

    state = f"{root}/sketch"
    set_gc_grace(state, 3600)
    for i in range(2):
        batch = spark.range(100 * i, 100 * (i + 1)).select(
            F.lit("g").alias("grp"), F.col("id").alias("v")
        )
        # compact_every=2: the SECOND fold trips a compaction inside
        # the fold itself, with no grace argument anywhere
        fold_registers_batch(
            spark, state, batch, i, ["grp"], "v", compact_every=2
        )
    assert glob.glob(f"{state}/c_*")  # the fold's compaction committed
    for s in ("b_000000000", "b_000000001"):
        assert os.path.exists(f"{state}/{s}"), s  # grace kept sources
    want = read_hll_estimate(spark, state).collect()

    # an in-flight compaction from a concurrent process: canonical
    # name, parquet started, manifest not yet written — a graced sweep
    # must not eat it mid-commit
    inflight = _mk(state, "c_000000055")
    compact_sketch(spark, state, sweep_grace_sec=None)  # table grace
    assert os.path.exists(inflight)
    for s in ("b_000000000", "b_000000001"):
        assert os.path.exists(f"{state}/{s}"), s

    # explicit per-call grace overrides the table setting
    compact_sketch(spark, state, sweep_grace_sec=0)
    for s in ("b_000000000", "b_000000001"):
        assert not os.path.exists(f"{state}/{s}"), s
    assert not os.path.exists(inflight)  # past grace 0: crashed, swept
    assert read_hll_estimate(spark, state).collect() == want


def test_compaction_grace_and_leak_heal_on_a_real_store(spark, root):
    """End to end on the HLL sketch store: a compaction with a grace
    window leaves its sources on disk (reads unchanged — covered dirs
    are invisible), a later sweep past the grace reclaims them, and a
    resurrected covered dir (a deletion that crashed after the
    manifest) is reclaimed by the next compaction call even when no
    new compaction is due — the leak the shared sweep closes."""
    from rental_data_pipeline_spark.streaming.sketch_stream import (
        compact_sketch,
        fold_registers_batch,
        read_hll_estimate,
    )

    state = f"{root}/sketch"
    for i in range(2):
        batch = spark.range(100 * i, 100 * (i + 1)).select(
            F.lit("g").alias("grp"), F.col("id").alias("v")
        )
        fold_registers_batch(
            spark, state, batch, i, ["grp"], "v", compact_every=1000
        )
    want = read_hll_estimate(spark, state).collect()

    assert compact_sketch(spark, state, sweep_grace_sec=3600)
    srcs = ["b_000000000", "b_000000001"]
    for s in srcs:  # covered, within grace: still on disk
        assert os.path.exists(f"{state}/{s}"), s
    assert read_hll_estimate(spark, state).collect() == want

    # next call, grace expired (0): sources reclaimed even though no
    # new compaction is due (single live slice)
    compact_sketch(spark, state)
    for s in srcs:
        assert not os.path.exists(f"{state}/{s}"), s

    # crash-after-manifest leak: resurrect a covered dir; the next
    # compaction call's pre-clean sweep deletes it
    zombie = _mk(state, "b_000000000")
    assert read_hll_estimate(spark, state).collect() == want
    compact_sketch(spark, state)
    assert not os.path.exists(zombie)
    assert read_hll_estimate(spark, state).collect() == want


def test_next_slice_dir_ignores_stray_entries(root):
    """Compaction numbering scans CANONICAL slice names only: the
    graced sweep deliberately preserves an operator's stray ``c_*``
    entry (``c_000000003.bak``), so an unguarded
    ``int(basename[2:])`` would turn that stray into a permanent
    compaction crash at every fold."""
    from rental_data_pipeline_spark.streaming.slices import next_slice_dir

    assert next_slice_dir(root) == f"{root}/c_000000000"
    _mk(root, "c_000000002")
    _mk(root, "c_000000003.bak")  # stray: the sweep preserves it
    _mk(root, "c_junk")
    _mk(root, "b_000000009")
    assert next_slice_dir(root) == f"{root}/c_000000003"
    assert next_slice_dir(root, prefix="b_") == f"{root}/b_000000010"


def test_stray_slice_copy_neither_crashes_nor_double_counts(spark, root):
    """Regression, both halves of the stray discipline on a real
    SUM-style store: (1) the sweep preserves a non-canonical ``c_*``
    stray, so slice NUMBERING must ignore it instead of crashing every
    later compaction; (2) a stray COPY of a slice carries ``_SUCCESS``
    and a manifest just the same, so the shared LISTING must ignore it
    instead of double-counting its rows in the merged read."""
    from rental_data_pipeline_spark.streaming.df_stream import (
        compact_df,
        fold_docs_batch,
        read_df_table,
    )

    state = f"{root}/vocab"
    for i in range(2):
        batch = spark.createDataFrame(
            [(i * 2, "alpha beta"), (i * 2 + 1, "alpha gamma")],
            "doc_id long, text string",
        )
        fold_docs_batch(spark, state, batch, i)
    assert compact_df(spark, state)
    want = sorted(
        (r.term, r.df) for r in read_df_table(spark, state).collect()
    )
    assert ("alpha", 4) in want

    # stray copies of a COMMITTED compaction slice + junk entries
    shutil.copytree(
        f"{state}/df/c_000000000", f"{state}/df/c_000000000.bak"
    )
    os.makedirs(f"{state}/df/c_junk")
    open(f"{state}/df/c_junk/_SUCCESS", "w").close()
    got = sorted(
        (r.term, r.df) for r in read_df_table(spark, state).collect()
    )
    assert got == want  # no double count from the .bak copy

    # two more folds and another compaction: numbering must skip the
    # strays (and never delete them)
    for i in range(2, 4):
        batch = spark.createDataFrame(
            [(i * 2, "alpha beta")], "doc_id long, text string"
        )
        fold_docs_batch(spark, state, batch, i)
    assert compact_df(spark, state)
    got = dict(
        (r.term, r.df) for r in read_df_table(spark, state).collect()
    )
    assert got["alpha"] == 6
    assert os.path.exists(f"{state}/df/c_000000000.bak")
    assert os.path.exists(f"{state}/df/c_junk")


def test_covered_bytes_retained_counts_unswept_covered_dirs(root):
    """The retention meter: bytes under covered-but-present dirs only —
    live slices, strays and uncommitted compactions don't count, and a
    sweep at grace 0 zeroes the meter."""
    from rental_data_pipeline_spark.streaming.slices import (
        covered_bytes_retained,
    )

    for name in ("b_000000000", "b_000000001", "b_000000002"):
        d = _mk(root, name)
        with open(f"{d}/part-0.parquet", "w") as f:
            f.write("x" * 100)
    c = _mk(root, "c_000000000")
    with open(f"{c}/_covered.json", "w") as f:
        json.dump(["b_000000000", "b_000000001"], f)
    assert covered_bytes_retained(root) == 200  # two covered dirs
    # an uncommitted compaction's manifest gets no vote
    c2 = os.path.join(root, "c_000000001")
    os.makedirs(c2)
    with open(f"{c2}/_covered.json", "w") as f:
        json.dump(["b_000000002"], f)
    assert covered_bytes_retained(root) == 200
    sweep_covered_slices(root)  # grace 0 reclaims -> meter reads 0
    assert covered_bytes_retained(root) == 0
