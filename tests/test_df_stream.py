"""Incremental TF-IDF vocabulary: streamed df table == batch df over
the concatenated stream, probe scoring == the batch operator.
"""

import glob
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.textstats import (
    tfidf_top_terms,
    tfidf_top_terms_from_vocab,
)
from rental_data_pipeline_spark.sources.tables import load_table
from rental_data_pipeline_spark.streaming.df_stream import (
    compact_df,
    incremental_df_stream,
    read_corpus_size,
    read_df_table,
)


@pytest.fixture()
def state_dir():
    d = tempfile.mkdtemp(prefix="df_stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    return sorted(
        (r.doc_id, r.term, r.tf, r.df, r.tfidf, r.rank) for r in df.collect()
    )


def test_streamed_vocab_equals_batch_and_probe_scores_match(
    spark, sf_dir, state_dir
):
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="df_landing_")
    landing, ckpt = f"{base}/landing", f"{base}/ckpt"
    try:
        for c in range(3):
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == c).coalesce(
                1
            ).write.mode("append").parquet(landing)
        q = incremental_df_stream(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing),
            state_dir, ckpt,
        )
        q.awaitTermination(180)

        # streamed df table == batch document frequencies
        from rental_data_pipeline_spark.operators.textstats import _with_tokens

        batch_df = {
            (r.term, r.df)
            for r in _with_tokens(docs, "text", "doc_id")
            .select("doc_id", F.explode("__toks").alias("term"))
            .distinct()
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .collect()
        }
        got_df = {
            (r.term, r.df) for r in read_df_table(spark, state_dir).collect()
        }
        assert got_df == batch_df and got_df
        assert read_corpus_size(spark, state_dir) == docs.count()

        # probe scoring from the persisted vocabulary == batch operator
        want = _rows(tfidf_top_terms(docs))
        got = _rows(
            tfidf_top_terms_from_vocab(
                docs,
                read_df_table(spark, state_dir),
                read_corpus_size(spark, state_dir),
            )
        )
        assert got == want and got

        # compaction preserves both reads
        assert compact_df(spark, state_dir)
        assert glob.glob(f"{state_dir}/df/b_*") == []
        assert {
            (r.term, r.df) for r in read_df_table(spark, state_dir).collect()
        } == batch_df
        assert read_corpus_size(spark, state_dir) == docs.count()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fold_is_idempotent_and_commit_gated(spark, sf_dir, state_dir):
    import os

    from rental_data_pipeline_spark.streaming.df_stream import (
        fold_docs_batch,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    d0 = docs.where("doc_id % 2 = 0")
    fold_docs_batch(spark, state_dir, d0, 0)
    want = {(r.term, r.df) for r in read_df_table(spark, state_dir).collect()}
    # committed replay with different content: no-op
    fold_docs_batch(spark, state_dir, docs.limit(3), 0)
    assert {
        (r.term, r.df) for r in read_df_table(spark, state_dir).collect()
    } == want

    # crash: df slice present, counts (the commit) absent → invisible
    d1 = docs.where("doc_id % 2 = 1")
    shutil.rmtree(f"{state_dir}/counts/b_000000001", ignore_errors=True)
    from rental_data_pipeline_spark.streaming.df_stream import _DFT
    from rental_data_pipeline_spark.streaming.slices import _bdir

    spark.createDataFrame(
        [("zzz_ghost", 99, 0)], "term string, df long, term_bucket int"
    ).write.parquet(_bdir(state_dir, _DFT, 1))
    assert {
        (r.term, r.df) for r in read_df_table(spark, state_dir).collect()
    } == want
    # replay heals wholesale
    fold_docs_batch(spark, state_dir, d1, 1)
    assert read_corpus_size(spark, state_dir) == docs.count()
    got = {(r.term, r.df) for r in read_df_table(spark, state_dir).collect()}
    assert ("zzz_ghost", 99) not in got


def test_compacted_batch_id_replays_as_noop(spark, sf_dir, state_dir):
    """A batch id folded then compacted away must no-op on replay —
    the crash window between a fold's inline compaction and the
    stream-checkpoint commit."""
    import glob

    from rental_data_pipeline_spark.streaming.df_stream import (
        fold_docs_batch,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    fold_docs_batch(spark, state_dir, docs.where("doc_id % 2 = 0"), 0)
    fold_docs_batch(spark, state_dir, docs.where("doc_id % 2 = 1"), 1)
    assert compact_df(spark, state_dir)
    want = {(r.term, r.df) for r in read_df_table(spark, state_dir).collect()}
    n = read_corpus_size(spark, state_dir)
    fold_docs_batch(spark, state_dir, docs.limit(5), 0)  # replay
    assert glob.glob(f"{state_dir}/df/b_*") == []
    assert glob.glob(f"{state_dir}/counts/b_*") == []
    assert {
        (r.term, r.df) for r in read_df_table(spark, state_dir).collect()
    } == want
    assert read_corpus_size(spark, state_dir) == n


def test_all_empty_text_batch_does_not_wedge_vocab(spark, state_dir):
    """Regression sibling of the short-doc index wedge. Note the
    shared tokenizer maps an empty/whitespace text to one
    empty-string token (``split(trim(x), r"\\s+") == [""]``), so
    empty-text docs contribute the ``""`` term — identical in the
    batch operator and the fold (tokenizer agreement is the
    equivalence linchpin); a truly term-free slice can only come from
    a zero-doc batch, which the schema-bearing-empty guard covers."""
    from rental_data_pipeline_spark.streaming.df_stream import (
        fold_docs_batch,
    )

    empty_texts = spark.createDataFrame(
        [(1, ""), (2, "   ")], "doc_id long, text string"
    )
    fold_docs_batch(spark, state_dir, empty_texts, 0)
    assert read_corpus_size(spark, state_dir) == 2
    assert {
        (r.term, r.df) for r in read_df_table(spark, state_dir).collect()
    } == {("", 2)}
    normal = spark.createDataFrame(
        [(3, "alpha beta alpha")], "doc_id long, text string"
    )
    fold_docs_batch(spark, state_dir, normal, 1)
    assert {
        (r.term, r.df) for r in read_df_table(spark, state_dir).collect()
    } == {("", 2), ("alpha", 1), ("beta", 1)}
