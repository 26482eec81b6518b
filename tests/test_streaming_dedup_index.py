"""Incremental MinHash/LSH index == batch LSH over the full corpus.

The maintainer folds a chunked document stream; the union of pairs it
emits must equal ``minhash_lsh_pairs`` run once over everything — the
property that makes "check each crawl batch against the whole corpus
without recomputing the index" trustworthy.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.dedup import minhash_lsh_pairs
from rental_data_pipeline_spark.sources.tables import load_table
from rental_data_pipeline_spark.streaming.dedup_index import (
    incremental_minhash_index_stream,
    read_emitted_pairs,
    read_index_bands,
    read_index_shingles,
)


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="dedup_index_test_")
    yield f"{d}/landing", f"{d}/index", f"{d}/ckpt"
    shutil.rmtree(d, ignore_errors=True)


def _corpus(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # guaranteed near-dups: exact twins at +100000; 100000 % 3 == 1, so
    # a twin always lands in a DIFFERENT chunk than its original — every
    # twin pair must be found by the new-vs-old probe, not new-vs-new
    twins = docs.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return docs.unionByName(twins)


def test_incremental_index_equals_batch_lsh(spark, sf_dir, tmpdirs):
    landing, index, ckpt = tmpdirs
    corpus = _corpus(spark, sf_dir)
    for c in range(3):
        corpus.where(F.pmod(F.col("doc_id"), F.lit(3)) == c).coalesce(
            1
        ).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = incremental_minhash_index_stream(stream, index, ckpt, threshold=0.8)
    q.awaitTermination(180)

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in read_emitted_pairs(spark, index).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(corpus, threshold=0.8).collect()
    }
    assert got == want
    # the twin pairs guarantee non-triviality and cross-chunk coverage
    twin_pairs = {(a, b) for a, b, _ in want if b - a == 100000}
    assert twin_pairs and twin_pairs <= {(a, b) for a, b, _ in got}

    # each emitted pair appears exactly once (no batch re-emits)
    all_rows = read_emitted_pairs(spark, index).groupBy("doc_a", "doc_b").count()
    assert all_rows.where(F.col("count") > 1).count() == 0

    # the accumulated index covers the whole corpus
    n_docs = corpus.count()
    assert read_index_shingles(spark, index).count() == n_docs
    assert read_index_bands(spark, index).select("doc").distinct().count() == n_docs


def test_incremental_index_new_batch_only_touches_index_reads(spark, sf_dir, tmpdirs):
    """A later fold must APPEND a batch slice, never rewrite prior
    commits — the O(|batch|) maintenance property."""
    import glob
    import os

    landing, index, ckpt = tmpdirs
    corpus = _corpus(spark, sf_dir)
    corpus.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = incremental_minhash_index_stream(stream, index, ckpt, threshold=0.8)
        q.awaitTermination(180)

    run()
    first = sorted(glob.glob(f"{index}/bands/b_*"))
    assert len(first) == 1
    mtimes = {p: os.path.getmtime(p + "/_SUCCESS") for p in first}

    corpus.where(F.pmod(F.col("doc_id"), F.lit(3)) == 1).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    second = sorted(glob.glob(f"{index}/bands/b_*"))
    assert len(second) == 2
    for p in first:  # prior commits untouched byte-for-byte
        assert os.path.getmtime(p + "/_SUCCESS") == mtimes[p]


def test_small_batch_probe_prunes_index_buckets(spark, sf_dir, tmpdirs):
    """A 1-doc batch touches <= 16 band buckets; the new-vs-old probe
    must read only those stored partitions, not the whole index."""
    import glob

    from rental_data_pipeline_spark.streaming.dedup_index import (
        _BB,
        _bucket_of_bkey,
    )
    from rental_data_pipeline_spark.streaming.slices import _pruned_subdirs

    landing, index, ckpt = tmpdirs
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    one_doc_id = docs.agg(F.min("doc_id")).collect()[0][0]
    twin = docs.where(F.col("doc_id") == one_doc_id).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )

    docs.coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = incremental_minhash_index_stream(stream, index, ckpt, threshold=0.8)
        q.awaitTermination(180)

    run()
    batch0 = sorted(glob.glob(f"{index}/bands/b_*"))[0]
    all_subdirs = glob.glob(f"{batch0}/{_BB}=*")
    assert len(all_subdirs) > 16, "corpus batch should populate most buckets"

    twin.coalesce(1).write.mode("append").parquet(landing)
    run()

    # replicate the fold's pruning for the 1-doc batch: its band keys
    # hash to <= 16 buckets, so the probe read set is a strict subset
    from rental_data_pipeline_spark.operators.dedup import minhash_index_frames

    bands, _ = minhash_index_frames(twin)
    touched = [
        r[0] for r in bands.select(_bucket_of_bkey(64).alias("bb")).distinct().collect()
    ]
    assert len(touched) <= 16
    pruned = _pruned_subdirs([batch0], _BB, touched)
    assert 0 < len(pruned) <= 16 < len(all_subdirs)

    # and the twin's cross-batch pair was still found through the
    # pruned probe
    pairs = {(r.doc_a, r.doc_b) for r in read_emitted_pairs(spark, index).collect()}
    assert (one_doc_id, one_doc_id + 100000) in pairs


def test_compaction_consolidates_without_changing_reads(spark, sf_dir, tmpdirs):
    import glob
    import json
    import os
    import shutil as sh

    from rental_data_pipeline_spark.streaming.dedup_index import compact_index

    landing, index, ckpt = tmpdirs
    corpus = _corpus(spark, sf_dir)
    for c in range(3):
        corpus.where(F.pmod(F.col("doc_id"), F.lit(3)) == c).coalesce(
            1
        ).write.mode("append").parquet(landing)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = incremental_minhash_index_stream(stream, index, ckpt, threshold=0.8)
        q.awaitTermination(180)

    run()
    bands_before = sorted(
        tuple(r) for r in read_index_bands(spark, index).collect()
    )
    sh_before = read_index_shingles(spark, index).count()
    pairs_before = {
        (r.doc_a, r.doc_b) for r in read_emitted_pairs(spark, index).collect()
    }
    assert len(glob.glob(f"{index}/bands/b_*")) == 3

    assert compact_index(spark, index)
    # originals gone, one consolidated slice per table, reads unchanged
    assert glob.glob(f"{index}/bands/b_*") == []
    assert len(glob.glob(f"{index}/bands/c_*")) == 1
    assert sorted(tuple(r) for r in read_index_bands(spark, index).collect()) == bands_before
    assert read_index_shingles(spark, index).count() == sh_before
    # pairs are history: never compacted
    assert len(glob.glob(f"{index}/pairs/b_*")) == 3

    # a later batch folds against the compacted index: plant a twin of
    # a doc that lives only in the compacted slices
    probe_doc = corpus.agg(F.max("doc_id")).collect()[0][0] + 1000
    src = corpus.where(F.col("doc_id") % 7 == 1).limit(1)
    src.withColumn("doc_id", F.lit(probe_doc)).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    new_pairs = {
        (r.doc_a, r.doc_b) for r in read_emitted_pairs(spark, index).collect()
    } - pairs_before
    assert any(b == probe_doc for _, b in new_pairs)

    # crash simulations: (a) a manifest-less c_* dir is invisible;
    # (b) when manifest AND sources coexist, sources are skipped
    cdir = glob.glob(f"{index}/bands/c_*")[0]
    ghost = f"{index}/bands/c_999999999"
    sh.copytree(cdir, ghost)
    os.remove(f"{ghost}/_covered.json")
    n = read_index_bands(spark, index).count()
    manifest = json.load(open(f"{cdir}/_covered.json"))
    resurrected = f"{index}/bands/{manifest[0]}"
    os.makedirs(resurrected)
    open(f"{resurrected}/_SUCCESS", "w").close()
    assert read_index_bands(spark, index).count() == n


def test_empty_batch_commits_readable_pairs(spark, sf_dir, tmpdirs):
    """An empty micro-batch must commit a schema-bearing pairs slice —
    a bare _SUCCESS would poison every later multi-dir pairs read."""
    landing, index, ckpt = tmpdirs
    docs = load_table(spark, sf_dir=sf_dir, name="documents").select("doc_id", "text")
    # file 1: real docs; file 2: zero rows (an empty crawl drop)
    docs.coalesce(1).write.mode("append").parquet(landing)
    docs.limit(0).coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = incremental_minhash_index_stream(stream, index, ckpt, threshold=0.8)
    q.awaitTermination(180)

    import glob

    assert len(glob.glob(f"{index}/pairs/b_*")) == 2  # both batches committed
    pairs = read_emitted_pairs(spark, index)  # must not fail schema inference
    assert pairs.count() >= 0
    assert set(pairs.columns) == {"doc_a", "doc_b", "jaccard", "batch_id"}


def test_index_auto_compacts_mid_stream(spark, sf_dir, tmpdirs):
    """With compact_every=2 the fold consolidates band/shingle slices
    on its own, and later batches still find their cross-batch pairs
    through the compacted index."""
    import glob

    landing, index, ckpt = tmpdirs
    corpus = _corpus(spark, sf_dir)
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
        stream, index, ckpt, threshold=0.8, compact_every=2
    )
    q.awaitTermination(180)

    # compaction ran mid-stream: fewer than 3 raw batch slices survive
    assert len(glob.glob(f"{index}/bands/b_*")) < 3
    assert len(glob.glob(f"{index}/bands/c_*")) >= 1

    # and the emitted pairs still equal batch LSH over everything —
    # including twins whose later half arrived AFTER the compaction
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in read_emitted_pairs(spark, index).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(corpus, threshold=0.8).collect()
    }
    assert got == want and got


def test_index_bucket_count_is_frozen_in_meta(spark, tmp_path):
    """The probe's bucket fn must match what the slices were written
    with: a pre-existing _meta.json wins over the module default, and
    emitted pairs stay equal to batch LSH."""
    import glob
    import json

    from pyspark.sql import functions as F

    from rental_data_pipeline_spark.operators.dedup import minhash_lsh_pairs

    base = str(tmp_path)
    landing, index, ckpt = f"{base}/landing", f"{base}/index", f"{base}/ckpt"
    import os

    os.makedirs(index, exist_ok=True)
    with open(f"{index}/_meta.json", "w") as f:
        json.dump({"n_buckets": 4}, f)

    docs = spark.createDataFrame(
        [(i, f"tok{i}a tok{i}b tok{i}c tok{i}d shared common text here")
         for i in range(40)]
        + [(1040, "tok1a tok1b tok1c tok1d shared common text here")],
        "doc_id long, text string",
    )
    for c in range(2):
        docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == c).coalesce(
            1
        ).write.mode("append").parquet(landing)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = incremental_minhash_index_stream(stream, index, ckpt, threshold=0.8)
    q.awaitTermination(120)

    buckets = {
        int(d.split("=")[1])
        for d in (
            p.split("/")[-1]
            for p in glob.glob(f"{index}/bands/b_*/band_bucket=*")
        )
    }
    assert buckets and buckets <= {0, 1, 2, 3}
    got = {
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(f"{index}/pairs/b_*").select(
            "doc_a", "doc_b"
        ).collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.8).select(
            "doc_a", "doc_b"
        ).collect()
    }
    assert got == want and (1, 1040) in got


def test_all_short_doc_batch_does_not_wedge_index(spark):
    """Regression (found by the curation-fold property test): a
    NON-empty batch where every doc is shorter than the k-shingle
    window emits zero bands/shingles; the zero-row partitionBy used to
    leave an unreadable slice that wedged the fold's read-back and
    every later probe. Folds must survive and later batches must still
    emit pairs."""
    import shutil
    import tempfile

    from rental_data_pipeline_spark.streaming.dedup_index import (
        fold_index_batch,
        read_emitted_pairs,
        read_index_bands,
    )

    base = tempfile.mkdtemp(prefix="short_doc_idx_")
    try:
        short = spark.createDataFrame(
            [(1, "the"), (2, "of a")], "doc_id long, text string"
        )
        fold_index_batch(spark, base, short, 0)
        assert read_index_bands(spark, base).count() == 0
        # a later normal batch folds and pairs with itself fine
        normal = spark.createDataFrame(
            [
                (10, "alpha beta gamma delta epsilon"),
                (11, "alpha beta gamma delta epsilon"),
            ],
            "doc_id long, text string",
        )
        fold_index_batch(spark, base, normal, 1)
        got = {
            (r.doc_a, r.doc_b)
            for r in read_emitted_pairs(spark, base).collect()
        }
        assert got == {(10, 11)}
    finally:
        shutil.rmtree(base, ignore_errors=True)
