"""Incremental SimHash index == batch SimHash pairs over the full
corpus, with the shared slice-commit crash model: uncommitted band
slices stay invisible, replays heal, compaction and rebucketing leave
reads unchanged."""

import glob
import os
import shutil
import tempfile
from functools import partial

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.dedup import simhash_near_pairs
from rental_data_pipeline_spark.sources.tables import load_table
from rental_data_pipeline_spark.streaming.simhash_stream import (
    compact_simhash_index,
    fold_simhash_batch,
    incremental_simhash_stream,
    read_simhash_bands,
    read_simhash_pairs,
)
from rental_data_pipeline_spark.streaming.slices import rebucket


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="simhash_stream_test_")
    yield f"{d}/landing", f"{d}/index", f"{d}/ckpt"
    shutil.rmtree(d, ignore_errors=True)


def _corpus(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # exact twins at +100000 land in a different mod-3 chunk than the
    # original, so every twin pair must come from the new-vs-old probe
    twins = docs.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return docs.unionByName(twins)


def _chunks(corpus, n=3):
    return [
        corpus.where(F.pmod(F.col("doc_id"), F.lit(n)) == i).localCheckpoint(
            eager=True
        )
        for i in range(n)
    ]


def _pairs(df):
    return {(r.doc_a, r.doc_b, r.hamming) for r in df.collect()}


def _want(corpus):
    return {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(corpus, max_hamming=3).collect()
    }


def test_streamed_simhash_equals_batch_operator(spark, sf_dir, tmpdirs):
    landing, index, ckpt = tmpdirs
    corpus = _corpus(spark, sf_dir)
    for c in range(3):
        corpus.where(F.pmod(F.col("doc_id"), F.lit(3)) == c).coalesce(
            1
        ).write.mode("append").parquet(landing)
    q = incremental_simhash_stream(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing),
        index, ckpt,
    )
    q.awaitTermination(180)

    got = _pairs(read_simhash_pairs(spark, index))
    want = _want(corpus)
    assert got == want
    twin_pairs = {(a, b) for a, b, _ in want if b - a == 100000}
    assert twin_pairs and twin_pairs <= {(a, b) for a, b, _ in got}
    # exactly-once emission
    dup = read_simhash_pairs(spark, index).groupBy("doc_a", "doc_b").count()
    assert dup.where(F.col("count") > 1).count() == 0
    # index covers the corpus: 4 band rows per doc
    n_docs = corpus.count()
    bands = read_simhash_bands(spark, index)
    assert bands.select("doc").distinct().count() == n_docs
    assert bands.count() == 4 * n_docs


def test_crashed_fold_is_invisible_and_replay_heals(spark, sf_dir, tmpdirs):
    _, index, _ = tmpdirs
    corpus = _corpus(spark, sf_dir)
    c = _chunks(corpus)
    fold_simhash_batch(spark, index, c[0], 0)
    fold_simhash_batch(spark, index, c[1], 1)
    # simulate a crash between the bands append and the pairs commit
    # of batch 1: on disk that is exactly "bands present, pairs absent"
    shutil.rmtree(f"{index}/pairs/b_000000001")
    bands_after_crash = read_simhash_bands(spark, index)
    assert (
        bands_after_crash.select("doc").distinct().count()
        == c[0].count()
    )  # the uncommitted slice is invisible to readers
    # replay heals; then the remaining chunk folds
    fold_simhash_batch(spark, index, c[1], 1)
    fold_simhash_batch(spark, index, c[2], 2)
    # replay of a committed batch is a no-op
    fold_simhash_batch(spark, index, c[2], 2)
    assert _pairs(read_simhash_pairs(spark, index)) == _want(corpus)


def test_compaction_and_rebucket_leave_reads_unchanged(spark, sf_dir, tmpdirs):
    _, index, _ = tmpdirs
    corpus = _corpus(spark, sf_dir)
    c = _chunks(corpus)
    for i in range(2):
        fold_simhash_batch(spark, index, c[i], i)
    before_pairs = _pairs(read_simhash_pairs(spark, index))
    before_bands = read_simhash_bands(spark, index).count()

    assert compact_simhash_index(spark, index)
    assert len(glob.glob(f"{index}/bands/b_*")) == 0
    assert _pairs(read_simhash_pairs(spark, index)) == before_pairs
    assert read_simhash_bands(spark, index).count() == before_bands
    # a compacted-away batch id replays as a no-op
    fold_simhash_batch(spark, index, c[0], 0)

    assert rebucket(index, 8, partial(compact_simhash_index, spark, index))
    import json

    assert json.load(open(f"{index}/_meta.json"))["n_buckets"] == 8
    assert not os.path.exists(f"{index}/_meta.json.pending")
    assert read_simhash_bands(spark, index).count() == before_bands
    # folds continue under the new layout; final == batch operator
    fold_simhash_batch(spark, index, c[2], 2)
    assert _pairs(read_simhash_pairs(spark, index)) == _want(corpus)
    # same-count re-run: no-op
    assert not rebucket(index, 8, partial(compact_simhash_index, spark, index))


def test_empty_batch_commits_readable_pairs(spark, tmpdirs):
    _, index, _ = tmpdirs
    empty = spark.createDataFrame([], "doc_id long, text string")
    fold_simhash_batch(spark, index, empty, 0)
    some = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
    )
    fold_simhash_batch(spark, index, some, 1)
    got = _pairs(read_simhash_pairs(spark, index))
    assert got == {(1, 2, 0)}
