"""Incremental connected components == batch CC after every fold.

The label table folds pairs per batch in O(|batch| + |forest|); after
any prefix of batches its resolved labels must be byte-identical to
``operators.dedup.connected_components`` over the union of every pair
folded so far — the property that makes canonical dedup ids and
leakage-safe splits trustworthy on a growing crawl.
"""

import glob
import os
import shutil
import tempfile
from functools import partial

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.dedup import connected_components
from rental_data_pipeline_spark.streaming.components import (
    bootstrap_components,
    catchup_components,
    compact_labels,
    fold_pairs_batch,
    read_components,
)


@pytest.fixture()
def labels_dir():
    d = tempfile.mkdtemp(prefix="cc_labels_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# Edges engineered so later batches BRIDGE clusters formed earlier:
# batch 0 makes pair-clusters, batch 1 chains some of them together,
# batch 2 merges two big chains and adds brand-new nodes.
_BATCHES = [
    [(1, 2), (3, 4), (5, 6), (10, 11), (20, 21), (30, 31)],
    [(2, 3), (11, 20), (40, 41)],  # bridges {1,2}+{3,4}; {10,11}+{20,21}
    [(4, 5), (21, 30), (41, 1), (50, 51)],  # chains chains; new cluster
]


def _pairs_df(spark, edges):
    return spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )


def _labels(df):
    return {(r.node, r.component) for r in df.collect()}


def test_streamed_labels_equal_batch_cc_after_every_chunk(spark, labels_dir):
    seen = []
    for bid, edges in enumerate(_BATCHES):
        fold_pairs_batch(spark, labels_dir, _pairs_df(spark, edges), bid)
        seen.extend(edges)
        got = _labels(read_components(spark, labels_dir))
        want = _labels(connected_components(_pairs_df(spark, seen)))
        assert got == want, f"divergence after batch {bid}"
    # the bridged mega-cluster resolved to the global min label
    final = dict(_labels(read_components(spark, labels_dir)))
    assert final[30] == 10 and final[41] == 1 and final[50] == 50


def test_merge_writes_forest_rows_not_member_rewrites(spark, labels_dir):
    """Bridging two existing clusters must append union-find edges,
    never touch committed member slices — the O(batch) property."""
    fold_pairs_batch(spark, labels_dir, _pairs_df(spark, _BATCHES[0]), 0)
    b0 = f"{labels_dir}/members/b_000000000"
    mtime = os.path.getmtime(f"{b0}/_SUCCESS")
    fold_pairs_batch(spark, labels_dir, _pairs_df(spark, [(2, 3)]), 1)
    # batch-0 members byte-untouched; the merge is a forest row
    assert os.path.getmtime(f"{b0}/_SUCCESS") == mtime
    forest = spark.read.parquet(f"{labels_dir}/forest/b_000000001")
    assert {(r.old_root, r.new_root) for r in forest.collect()} == {(3, 1)}
    # no docs were new in batch 1 → empty members slice, still readable
    m1 = spark.read.parquet(f"{labels_dir}/members/b_000000001")
    assert m1.count() == 0
    final = dict(_labels(read_components(spark, labels_dir)))
    assert final[4] == 1 and final[2] == 1


def test_fold_is_idempotent_and_crash_safe(spark, labels_dir):
    fold_pairs_batch(spark, labels_dir, _pairs_df(spark, _BATCHES[0]), 0)
    want = _labels(read_components(spark, labels_dir))
    # committed replay: no-op (even with different pair content)
    fold_pairs_batch(spark, labels_dir, _pairs_df(spark, [(7, 8)]), 0)
    assert _labels(read_components(spark, labels_dir)) == want

    # crash simulation: members slice written, forest (the commit) not
    # → readers must not see the half-batch; replay heals it
    m1 = f"{labels_dir}/members/b_000000001"
    spark.createDataFrame([(70, 70)], "doc long, label long").withColumn(
        "doc_bucket", F.lit(0)
    ).write.parquet(m1)
    assert _labels(read_components(spark, labels_dir)) == want
    fold_pairs_batch(spark, labels_dir, _pairs_df(spark, [(70, 71)]), 1)
    got = dict(_labels(read_components(spark, labels_dir)))
    assert got[71] == 70 and _labels(
        read_components(spark, labels_dir)
    ) > want


def test_compaction_resolves_members_and_empties_forest(spark, labels_dir):
    for bid, edges in enumerate(_BATCHES):
        fold_pairs_batch(spark, labels_dir, _pairs_df(spark, edges), bid)
    want = _labels(read_components(spark, labels_dir))
    assert compact_labels(spark, labels_dir)
    # one consolidated bucketed members slice; forest emptied
    assert glob.glob(f"{labels_dir}/members/b_*") == []
    assert len(glob.glob(f"{labels_dir}/members/c_*")) == 1
    assert _labels(read_components(spark, labels_dir)) == want
    from rental_data_pipeline_spark.streaming.components import _forest_parent

    assert _forest_parent(spark, labels_dir) == {}
    # members in the compacted slice are FULLY resolved (label == root)
    m = spark.read.parquet(glob.glob(f"{labels_dir}/members/c_*")[0])
    assert _labels(
        m.select(F.col("doc").alias("node"), F.col("label").alias("component"))
    ) == want

    # folding continues against the compacted table: bridge two
    # compacted clusters and check against batch CC over everything
    extra = [(6, 10)]  # joins the 1-chain with the 10-chain
    fold_pairs_batch(spark, labels_dir, _pairs_df(spark, extra), 99)
    seen = [e for b in _BATCHES for e in b] + extra
    assert _labels(read_components(spark, labels_dir)) == _labels(
        connected_components(_pairs_df(spark, seen))
    )


def test_bootstrap_then_incremental(spark, labels_dir):
    """Historical backfill goes through distributed batch CC; folds
    take over after — and the combined state still matches batch CC."""
    bootstrap_components(spark, labels_dir, _pairs_df(spark, _BATCHES[0]), 0)
    assert _labels(read_components(spark, labels_dir)) == _labels(
        connected_components(_pairs_df(spark, _BATCHES[0]))
    )
    with pytest.raises(ValueError):
        bootstrap_components(
            spark, labels_dir, _pairs_df(spark, _BATCHES[1]), 1
        )
    seen = list(_BATCHES[0])
    for bid, edges in enumerate(_BATCHES[1:], start=1):
        fold_pairs_batch(spark, labels_dir, _pairs_df(spark, edges), bid)
        seen.extend(edges)
        assert _labels(read_components(spark, labels_dir)) == _labels(
            connected_components(_pairs_df(spark, seen))
        )


def test_dedup_index_stream_maintains_labels(spark, sf_dir, labels_dir):
    """End-to-end: the minhash index stream with ``labels_path`` keeps
    cluster ids current per micro-batch; after the stream drains, the
    streamed labels equal batch CC over batch LSH of the full corpus."""
    from rental_data_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from rental_data_pipeline_spark.sources.tables import load_table
    from rental_data_pipeline_spark.streaming.dedup_index import (
        incremental_minhash_index_stream,
    )

    base = tempfile.mkdtemp(prefix="cc_index_test_")
    landing, index, ckpt = f"{base}/landing", f"{base}/index", f"{base}/ckpt"
    try:
        docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
        twins = docs.where(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
        corpus = docs.unionByName(twins)
        for c in range(3):
            corpus.where(F.pmod(F.col("doc_id"), F.lit(3)) == c).coalesce(
                1
            ).write.mode("append").parquet(landing)

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = incremental_minhash_index_stream(
            stream, index, ckpt, threshold=0.8, labels_path=labels_dir
        )
        q.awaitTermination(180)

        got = _labels(read_components(spark, labels_dir))
        want = _labels(
            connected_components(minhash_lsh_pairs(corpus, threshold=0.8))
        )
        assert got == want and got
        # catch-up on an already-current index is a no-op
        assert catchup_components(spark, index, labels_dir) == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_empty_batches_then_compaction_keeps_table_readable(
    spark, labels_dir
):
    """Round-6 advisor (medium): compaction over all-empty member
    slices used to partitionBy-write zero rows — a slice with _SUCCESS
    but no part file — then delete the b_* slices, wedging every later
    read with 'Unable to infer schema'. The empty compaction must be
    schema-bearing like the per-batch _commit guard."""
    empty = _pairs_df(spark, [])
    for bid in range(3):
        fold_pairs_batch(spark, labels_dir, empty, bid)
    assert compact_labels(spark, labels_dir)
    # still readable: no live pairs → no labels, but not an error
    got = read_components(spark, labels_dir)
    assert got is not None and got.count() == 0
    # folding continues against the empty compacted table
    fold_pairs_batch(spark, labels_dir, _pairs_df(spark, [(1, 2)]), 10)
    assert _labels(read_components(spark, labels_dir)) == {(1, 1), (2, 1)}


def test_bootstrap_committed_replay_noops_and_empty_pairs_readable(
    spark, labels_dir
):
    """Round-6 advisor (low x2): a committed bootstrap replay (crash
    after the forest _SUCCESS, before the caller saw success) must
    no-op like fold_pairs_batch — not raise the not-empty error — and
    bootstrapping an EMPTY pair set must leave a readable table."""
    bootstrap_components(spark, labels_dir, _pairs_df(spark, _BATCHES[0]), 0)
    want = _labels(read_components(spark, labels_dir))
    bootstrap_components(  # replay with different content: no-op
        spark, labels_dir, _pairs_df(spark, [(7, 8)]), 0
    )
    assert _labels(read_components(spark, labels_dir)) == want

    import tempfile as _tf

    d2 = _tf.mkdtemp(prefix="cc_labels_empty_")
    try:
        bootstrap_components(spark, d2, _pairs_df(spark, []), 0)
        got = read_components(spark, d2)
        assert got is not None and got.count() == 0
        fold_pairs_batch(spark, d2, _pairs_df(spark, [(3, 4)]), 1)
        assert _labels(read_components(spark, d2)) == {(3, 3), (4, 3)}
    finally:
        shutil.rmtree(d2, ignore_errors=True)


def test_corrupt_watermark_falls_back_to_idempotent_replay(
    spark, labels_dir, tmp_path
):
    """Round-6 advisor (low): a truncated _folded_upto.json (crash
    mid-write) must not wedge catch-up — folds are idempotent, so the
    watermark degrades to -1 and committed batches no-op replay. The
    watermark itself is now written tmp+os.replace."""
    index = str(tmp_path / "index")
    _pairs_df(spark, _BATCHES[0]).write.parquet(f"{index}/pairs/b_000000000")
    _pairs_df(spark, _BATCHES[1]).write.parquet(f"{index}/pairs/b_000000001")
    assert catchup_components(spark, index, labels_dir) == 2
    want = _labels(read_components(spark, labels_dir))

    with open(f"{labels_dir}/_folded_upto.json", "w") as f:
        f.write('{"upto"')  # truncated mid-write
    # re-runs both folds as no-ops, repairs the watermark, same labels
    assert catchup_components(spark, index, labels_dir) == 2
    assert _labels(read_components(spark, labels_dir)) == want
    assert catchup_components(spark, index, labels_dir) == 0
    assert not os.path.exists(f"{labels_dir}/_folded_upto.json.tmp")


def test_label_bucket_count_is_frozen_in_meta(spark, labels_dir):
    """The bucket fn must never change under a live table: a table
    created with n_buckets=4 keeps hashing with 4 even if the module
    default differs — otherwise bucket-pruned member lookups silently
    miss and labels corrupt."""
    import glob as _glob
    import json as _json

    from rental_data_pipeline_spark.streaming.components import (
        N_LABEL_BUCKETS,
    )
    from rental_data_pipeline_spark.streaming.slices import _ensure_meta

    with open(f"{labels_dir}/_meta.json", "w") as f:
        _json.dump({"n_buckets": 4}, f)
    assert _ensure_meta(labels_dir, N_LABEL_BUCKETS)["n_buckets"] == 4
    seen = []
    for bid, edges in enumerate(_BATCHES):
        fold_pairs_batch(spark, labels_dir, _pairs_df(spark, edges), bid)
        seen.extend(edges)
    # every member partition landed inside the frozen 4-bucket space
    buckets = {
        int(d.split("=")[1])
        for d in (
            p.split("/")[-1]
            for p in _glob.glob(f"{labels_dir}/members/b_*/doc_bucket=*")
        )
    }
    assert buckets and buckets <= {0, 1, 2, 3}
    assert _labels(read_components(spark, labels_dir)) == _labels(
        connected_components(_pairs_df(spark, seen))
    )


def test_truncated_compaction_manifest_demotes_not_wedges(spark, tmp_path):
    """A c_* dir whose manifest is truncated (legacy non-atomic writer
    crashed mid-write, BEFORE deleting its sources) must be treated as
    uncommitted — sources stay live, listings don't raise."""
    from rental_data_pipeline_spark.streaming.slices import committed

    root = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "x long").write.parquet(f"{root}/b_000000000")
    spark.createDataFrame([(1,)], "x long").write.parquet(f"{root}/c_000000000")
    with open(f"{root}/c_000000000/_covered.json", "w") as f:
        f.write('["b_00')  # torn write
    live = [d.split("/")[-1] for d in committed(root)]
    assert live == ["b_000000000"]


def test_rebucket_labels_migrates_and_folds_continue(spark, labels_dir):
    """Offline rebucket: fold at the default count, migrate to 4
    buckets, labels identical, later folds hash with the NEW count,
    and an interrupted migration blocks folds/reads until resumed."""
    import glob as _glob
    import json as _json

    from rental_data_pipeline_spark.streaming.slices import (
        _META_PENDING,
        rebucket,
    )

    def rebucket_labels(n: int) -> bool:
        return rebucket(
            labels_dir, n, partial(compact_labels, spark, labels_dir)
        )

    for bid, edges in enumerate(_BATCHES):
        fold_pairs_batch(spark, labels_dir, _pairs_df(spark, edges), bid)
    want = _labels(read_components(spark, labels_dir))

    assert rebucket_labels(4) is True
    assert rebucket_labels(4) is False  # no-op
    with open(f"{labels_dir}/_meta.json") as f:
        assert _json.load(f)["n_buckets"] == 4
    assert _labels(read_components(spark, labels_dir)) == want
    # consolidated slice hashed under the NEW count
    buckets = {
        int(d.split("=")[1])
        for d in (
            p.split("/")[-1]
            for p in _glob.glob(f"{labels_dir}/members/c_*/doc_bucket=*")
        )
    }
    assert buckets and buckets <= {0, 1, 2, 3}

    # folding continues against the migrated table
    fold_pairs_batch(spark, labels_dir, _pairs_df(spark, [(6, 10)]), 50)
    seen = [e for b in _BATCHES for e in b] + [(6, 10)]
    assert _labels(read_components(spark, labels_dir)) == _labels(
        connected_components(_pairs_df(spark, seen))
    )

    # interrupted migration: pending marker blocks everything...
    with open(f"{labels_dir}/{_META_PENDING}", "w") as f:
        _json.dump({"n_buckets": 8}, f)
    with pytest.raises(RuntimeError, match="rebucket"):
        read_components(spark, labels_dir)
    with pytest.raises(RuntimeError, match="rebucket"):
        fold_pairs_batch(spark, labels_dir, _pairs_df(spark, [(1, 99)]), 60)
    # ...and re-running resumes to the staged count
    assert rebucket_labels(8) is True
    with open(f"{labels_dir}/_meta.json") as f:
        assert _json.load(f)["n_buckets"] == 8
    assert _labels(read_components(spark, labels_dir)) == _labels(
        connected_components(_pairs_df(spark, seen))
    )
