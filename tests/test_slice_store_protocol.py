"""One crash / replay / compaction / rebucket suite for every store on
the slice-store protocol (``streaming/slices.py``).

Each store folds the same three tiny batches once per module (the
``base`` fixture); every test works on a private copy of that table,
so the per-store fold cost is paid once. A store is described by how
it folds, reads, counts its footers, compacts and rebuckets — the
protocol checks themselves are shared.
"""

import json
import os
import shutil
from dataclasses import dataclass
from functools import partial
from typing import Callable

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.streaming import slices
from rental_data_pipeline_spark.streaming.components import (
    compact_labels,
    fold_pairs_batch,
    read_components,
)
from rental_data_pipeline_spark.streaming.dedup_index import (
    compact_index,
    fold_index_batch,
    read_index_bands,
)
from rental_data_pipeline_spark.streaming.df_stream import (
    compact_df,
    fold_docs_batch,
    read_df_table,
)
from rental_data_pipeline_spark.streaming.incremental import (
    bucketed_keyed_fold,
    read_state,
    rebucket_state,
)
from rental_data_pipeline_spark.streaming.simhash_stream import (
    compact_simhash_index,
    fold_simhash_batch,
    read_simhash_bands,
)
from rental_data_pipeline_spark.streaming.sketch_stream import (
    compact_sketch,
    fold_registers_batch,
    read_hll_registers,
)
from rental_data_pipeline_spark.streaming.tiered import (
    maybe_compact,
    read_tiered,
    rebucket_tiered,
    tiered_fold,
)

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
).split()


def _docs(spark, b):
    # doc 10b+1 repeats doc 1's text, so batches 1 and 2 emit
    # cross-batch near-dup pairs
    rows = [
        (10 * b + i, " ".join(_WORDS[(b + i + j) % 12] for j in range(9)))
        for i in range(3)
    ] + [(10 * b + 9, " ".join(_WORDS[(1 + j) % 12] for j in range(9)))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(spark, b):
    return spark.createDataFrame(
        [(10 * b + 1, 10 * b + 2), (0, 10 * b + 2)], "doc_a long, doc_b long"
    )


def _events(spark, b):
    return spark.createDataFrame(
        [("g" + str(i % 2), 10 * b + i) for i in range(6)],
        "g string, doc_id long",
    )


def _sum_v(df):
    return df.groupBy("k").agg(F.sum("v").alias("v"))


def _agg(spark, b):
    return _sum_v(
        spark.createDataFrame(
            [(i % 5, 1) for i in range(3 * b, 3 * b + 6)], "k long, v long"
        )
    )


@dataclass
class Store:
    name: str
    fold: Callable  # (spark, root, batch_id) -> None
    read: Callable  # (spark, root) -> DataFrame | None
    data_sub: str | None  # a sub-table gated by the batch commit
    gate: str | None  # the sub-table written LAST (None: root-level)
    compact: Callable  # (spark, root) -> bool, compacting every slice
    compacted_sub: str | None  # where compaction writes c_* slices
    rebucket: Callable | None  # (spark, root, n) -> bool; None: no meta


def _slice_rebucket(compact):
    return lambda spark, root, n: slices.rebucket(
        root, n, partial(compact, spark, root)
    )


STORES = [
    Store(
        "dedup_index",
        lambda spark, root, b: fold_index_batch(
            spark, root, _docs(spark, b), b
        ),
        read_index_bands, "bands", "pairs",
        lambda spark, root: compact_index(spark, root, min_slices=1),
        "bands", _slice_rebucket(compact_index),
    ),
    Store(
        "simhash_stream",
        lambda spark, root, b: fold_simhash_batch(
            spark, root, _docs(spark, b), b
        ),
        read_simhash_bands, "bands", "pairs",
        lambda spark, root: compact_simhash_index(spark, root, min_slices=1),
        "bands", _slice_rebucket(compact_simhash_index),
    ),
    Store(
        "df_stream",
        lambda spark, root, b: fold_docs_batch(
            spark, root, _docs(spark, b), b
        ),
        read_df_table, "df", "counts",
        lambda spark, root: compact_df(spark, root, min_slices=1),
        "df", _slice_rebucket(compact_df),
    ),
    Store(
        "components",
        lambda spark, root, b: fold_pairs_batch(
            spark, root, _pairs(spark, b), b
        ),
        read_components, "members", "forest",
        lambda spark, root: compact_labels(spark, root, min_slices=1),
        "members", _slice_rebucket(compact_labels),
    ),
    Store(
        "sketch_stream",
        lambda spark, root, b: fold_registers_batch(
            spark, root, _events(spark, b), b, ["g"], "doc_id"
        ),
        read_hll_registers, None, None,
        lambda spark, root: compact_sketch(spark, root, min_slices=1),
        None, None,
    ),
    Store(
        "tiered",
        lambda spark, root, b: tiered_fold(
            _agg(spark, b), b, root, "k", _sum_v, n_buckets=4
        ),
        lambda spark, root: read_tiered(spark, root, _sum_v), None, None,
        lambda spark, root: maybe_compact(
            spark, root, _sum_v, force_full=True
        ),
        None,
        lambda spark, root, n: rebucket_tiered(spark, root, n, _sum_v),
    ),
]
BY_NAME = {s.name: s for s in STORES}
REBUCKETABLE = [s.name for s in STORES if s.rebucket is not None]


def _rows(df):
    if df is None:
        return []
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


def _occupancy(store, root):
    return slices.occupancy_rows(root, store.data_sub, store.gate)


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """Per store: the table after batches 0-1 and after 0-2, plus the
    reads and footer counts of both."""
    cache = {}

    def get(name):
        if name not in cache:
            store = BY_NAME[name]
            d = tmp_path_factory.mktemp(name)
            two, three = str(d / "two"), str(d / "three")
            for b in range(2):
                store.fold(spark, two, b)
            shutil.copytree(two, three)
            store.fold(spark, three, 2)
            cache[name] = {
                "two": two, "three": three,
                "rows2": _rows(store.read(spark, two)),
                "rows3": _rows(store.read(spark, three)),
                "occ2": _occupancy(store, two),
                "occ3": _occupancy(store, three),
            }
        return cache[name]

    return get


def _copy(src, tmp_path):
    dst = str(tmp_path / "t")
    shutil.copytree(src, dst)
    return dst


@pytest.mark.parametrize("name", list(BY_NAME))
def test_crashed_batch_is_invisible_and_replay_heals(
    spark, base, tmp_path, name
):
    store, b = BY_NAME[name], base(name)
    assert b["rows2"] != b["rows3"] and b["occ2"] < b["occ3"]
    root = _copy(b["three"], tmp_path)
    # the crash: batch 2's gate never committed
    os.remove(f"{slices._bdir(root, store.gate, 2)}/_SUCCESS")
    assert _rows(store.read(spark, root)) == b["rows2"]
    assert _occupancy(store, root) == b["occ2"]
    store.fold(spark, root, 2)
    assert _rows(store.read(spark, root)) == b["rows3"]


@pytest.mark.parametrize("name", list(BY_NAME))
def test_committed_replay_is_a_noop(spark, base, tmp_path, name):
    store, b = BY_NAME[name], base(name)
    root = _copy(b["three"], tmp_path)
    marker = f"{slices._bdir(root, store.gate, 2)}/_SUCCESS"
    mtime = os.path.getmtime(marker)
    store.fold(spark, root, 2)
    assert os.path.getmtime(marker) == mtime
    assert _rows(store.read(spark, root)) == b["rows3"]


@pytest.mark.parametrize("name", list(BY_NAME))
def test_compacted_replay_is_a_noop_and_reads_are_unchanged(
    spark, base, tmp_path, name
):
    store, b = BY_NAME[name], base(name)
    root = _copy(b["three"], tmp_path)
    assert store.compact(spark, root)
    sub = slices._sub(root, store.compacted_sub)
    assert [d for d in os.listdir(sub) if d.startswith("b_")] == []
    assert _rows(store.read(spark, root)) == b["rows3"]
    # a grace keeps the fold's own sweep from hiding a rewritten slice
    slices.set_gc_grace(root, 3600)
    store.fold(spark, root, 0)
    assert not os.path.exists(slices._bdir(root, store.compacted_sub, 0))
    assert _rows(store.read(spark, root)) == b["rows3"]


@pytest.mark.parametrize("name", list(BY_NAME))
def test_manifestless_compaction_is_invisible_and_swept(
    spark, base, tmp_path, name
):
    store, b = BY_NAME[name], base(name)
    root = _copy(b["three"], tmp_path)
    sub = slices._sub(root, store.compacted_sub)
    # a compaction that crashed before its manifest: the merged slice
    # is on disk (with _SUCCESS) but commits nothing
    crashed = slices.next_slice_dir(sub)
    shutil.copytree(slices._bdir(root, store.compacted_sub, 0), crashed)
    assert _rows(store.read(spark, root)) == b["rows3"]
    assert _occupancy(store, root) == b["occ3"]
    store.compact(spark, root)
    assert not os.path.exists(crashed) or os.path.exists(
        f"{crashed}/_covered.json"
    )
    assert _rows(store.read(spark, root)) == b["rows3"]


@pytest.mark.parametrize("name", REBUCKETABLE)
def test_pending_marker_blocks_folds_reads_and_occupancy(
    spark, base, tmp_path, name
):
    store, b = BY_NAME[name], base(name)
    root = _copy(b["two"], tmp_path)
    with open(f"{root}/{slices._META_PENDING}", "w") as f:
        json.dump({"n_buckets": 8}, f)
    with pytest.raises(RuntimeError, match="interrupted rebucket"):
        store.fold(spark, root, 2)
    with pytest.raises(RuntimeError, match="interrupted rebucket"):
        store.read(spark, root)
    with pytest.raises(RuntimeError, match="interrupted rebucket"):
        _occupancy(store, root)


@pytest.mark.parametrize("name", REBUCKETABLE)
def test_interrupted_rebucket_resumes_at_staged_count(
    spark, base, tmp_path, name
):
    store, b = BY_NAME[name], base(name)
    root = _copy(b["three"], tmp_path)
    old = slices._read_meta(root)["n_buckets"]
    with open(f"{root}/{slices._META_PENDING}", "w") as f:
        json.dump({"n_buckets": 8}, f)
    # the resume call passes the CURRENT count: the staged 8 wins
    assert store.rebucket(spark, root, old)
    assert slices._read_meta(root)["n_buckets"] == 8
    assert not os.path.exists(f"{root}/{slices._META_PENDING}")
    assert _rows(store.read(spark, root)) == b["rows3"]


def _state_fold(spark, root, b):
    def merge_fn(target, batch):
        return batch if target is None else _sum_v(target.unionByName(batch))

    bucketed_keyed_fold(_agg(spark, b), b, root, "k", merge_fn, n_buckets=4)


REBUCKET_ENTRIES = REBUCKETABLE + ["incremental"]


@pytest.mark.parametrize("name", REBUCKET_ENTRIES)
def test_rebucket_rejects_bad_count_before_staging(
    spark, base, tmp_path, name
):
    """A rebucket to fewer than one bucket used to stage its pending
    and then fail in the compaction, leaving the table blocked."""
    if name == "incremental":
        root = str(tmp_path / "state")
        for b in range(2):
            _state_fold(spark, root, b)
        fold, read, rebucket = _state_fold, read_state, rebucket_state
        before = _rows(read(spark, root))
    else:
        store, b = BY_NAME[name], base(name)
        root = _copy(b["two"], tmp_path)
        fold, read, rebucket = store.fold, store.read, store.rebucket
        before = b["rows2"]
    for bad in (0, -1, 2.5, True):
        with pytest.raises(ValueError, match="n_buckets"):
            rebucket(spark, root, bad)
        assert not os.path.exists(f"{root}/{slices._META_PENDING}")
    assert _rows(read(spark, root)) == before
    fold(spark, root, 2)
    assert _rows(read(spark, root)) != before


def test_pending_staged_at_zero_buckets_is_discarded(spark, base, tmp_path):
    """A table the old rebucket left staged at 0 buckets heals on the
    next valid rebucket instead of resuming at the staged 0."""
    store, b = BY_NAME["df_stream"], base("df_stream")
    root = _copy(b["two"], tmp_path)
    with open(f"{root}/{slices._META_PENDING}", "w") as f:
        json.dump({"n_buckets": 0}, f)
    assert store.rebucket(spark, root, 8)
    assert slices._read_meta(root)["n_buckets"] == 8
    assert _rows(store.read(spark, root)) == b["rows2"]
