"""State-table rebucket migration: a table created at the local
default bucket count must be movable to a production count offline,
with reads identical across the migration and folds continuing under
the new layout."""

import glob
import json
import os
import shutil
import tempfile
from functools import partial

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.merge import merge_snapshots
from rental_data_pipeline_spark.streaming import (
    incremental_merge_stream,
    read_state,
    read_snapshot_stream,
)
from rental_data_pipeline_spark.streaming.incremental import (
    SNAPSHOT_SCHEMA,
    StateVersionUnavailable,
    rebucket_state,
    state_version_log,
)
from rental_data_pipeline_spark.streaming.slices import rebucket


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="rebucket_test_")
    yield f"{d}/landing", f"{d}/state", f"{d}/ckpt"
    shutil.rmtree(d, ignore_errors=True)


def _snapshots(spark, n_keys=50):
    rows = []
    for k in range(1, n_keys + 1):
        rows.append((k, f"2024-01-01 10:{k % 60:02d}:00", 100.0 + k, False, k))
        rows.append(
            (k, f"2024-01-02 10:{k % 60:02d}:00", 120.0 + k, False, n_keys + k)
        )
        rows.append(
            (k, f"2024-01-03 10:{k % 60:02d}:00", 120.0 + k, k % 5 == 0, 2 * n_keys + k)
        )
    df = spark.createDataFrame(
        rows,
        "offer_id long, updated_date string, price_value double, "
        "is_unpublished boolean, event_id long",
    )
    return df.withColumn("updated_date", F.to_timestamp("updated_date"))


def _run_stream(spark, landing, state, ckpt):
    stream = read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, 1)
    q = incremental_merge_stream(stream, state, ckpt)
    q.awaitTermination(120)


def _state_rows(spark, state):
    return {
        r.offer_id: (r.price_value, r.is_unpublished, r.total_price_changes)
        for r in read_state(spark, state).collect()
    }


def test_rebucket_preserves_reads_and_folds_continue(spark, tmpdirs):
    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)
    for day in (1, 2):
        snaps.where(F.dayofmonth("updated_date") == day).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    _run_stream(spark, landing, state, ckpt)
    before = _state_rows(spark, state)
    pre_migration_version = state_version_log(state)[-1]["version"]

    assert rebucket_state(spark, state, 64)
    meta = json.load(open(f"{state}/_meta.json"))
    assert meta["n_buckets"] == 64 and "migrated_at_version" in meta
    # reads identical across the migration
    assert _state_rows(spark, state) == before
    # the migration snapshot is FULL and bucketed under the new count:
    # with 50 keys some bucket id must exceed the old count of 16
    log = state_version_log(state)
    assert log[-1]["full"] and max(log[-1]["buckets"]) >= 16
    # no-op when already at the target
    assert rebucket_state(spark, state, 64) is False

    # folds continue under the new layout (meta wins over the caller's
    # n_buckets parameter) and pruned reads use the new bucket count
    snaps.where(F.dayofmonth("updated_date") == 3).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    _run_stream(spark, landing, state, ckpt)
    want = {
        r.offer_id: (r.price_value, r.is_unpublished, r.total_price_changes)
        for r in merge_snapshots(
            snaps, key="offer_id", order_cols=["updated_date", "event_id"]
        ).collect()
    }
    assert _state_rows(spark, state) == want
    post = state_version_log(state)[-1]
    assert post["buckets"] is not None and max(post["buckets"]) >= 16

    # time travel below the migration raises by documented design
    with pytest.raises(StateVersionUnavailable):
        read_state(spark, state, as_of_version=pre_migration_version)
    # at/after the migration it reads
    mig = meta["migrated_at_version"]
    assert read_state(spark, state, as_of_version=mig).count() == len(before)


def test_interrupted_rebucket_blocks_and_resumes(spark, tmpdirs):
    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark, n_keys=10)
    snaps.where(F.dayofmonth("updated_date") == 1).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    _run_stream(spark, landing, state, ckpt)
    before = _state_rows(spark, state)

    # simulate a crash mid-migration: staged meta on disk
    with open(f"{state}/_meta.json.pending", "w") as f:
        json.dump({"n_buckets": 64, "key": "offer_id"}, f)
    with pytest.raises(RuntimeError, match="interrupted rebucket"):
        read_state(spark, state)
    # re-running the migration finishes it; reads come back identical
    assert rebucket_state(spark, state, 64)
    assert not os.path.exists(f"{state}/_meta.json.pending")
    assert _state_rows(spark, state) == before
    assert json.load(open(f"{state}/_meta.json"))["n_buckets"] == 64


def _dedup_docs(spark):
    from rental_data_pipeline_spark.sources.tables import load_table

    return load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )


def test_rebucket_dedup_index(spark):
    """Dedup index: fold at the default count → rebucket → folds
    continue, emitted pairs identical to a never-migrated run, stored
    slices laid out under the NEW count, interrupted migration blocks
    folds/reads and resumes."""
    from rental_data_pipeline_spark.streaming.dedup_index import (
        fold_index_batch,
        read_emitted_pairs,
        compact_index,
        read_index_bands,
    )

    docs = _dedup_docs(spark)
    chunks = [
        docs.where(F.pmod("doc_id", F.lit(3)) == c).localCheckpoint(
            eager=True
        )
        for c in range(3)
    ]
    base = tempfile.mkdtemp(prefix="rebucket_index_")
    idx, ref = f"{base}/idx", f"{base}/ref"
    try:
        for c in range(2):
            fold_index_batch(spark, idx, chunks[c], c)
        # interrupted migration: pending marker blocks fold + reads
        os.makedirs(idx, exist_ok=True)
        with open(f"{idx}/_meta.json.pending", "w") as f:
            json.dump({"n_buckets": 8}, f)
        with pytest.raises(RuntimeError, match="rebucket"):
            fold_index_batch(spark, idx, chunks[2], 2)
        with pytest.raises(RuntimeError, match="rebucket"):
            read_index_bands(spark, idx)
        # re-running resumes and commits
        assert rebucket(idx, 8, partial(compact_index, spark, idx))
        assert json.load(open(f"{idx}/_meta.json"))["n_buckets"] == 8
        assert not os.path.exists(f"{idx}/_meta.json.pending")
        # slices consolidated and laid out under the new count
        assert glob.glob(f"{idx}/bands/b_*") == []
        bb = {
            int(os.path.basename(d).split("=")[1])
            for c in glob.glob(f"{idx}/bands/c_*")
            for d in glob.glob(f"{c}/band_bucket=*")
        }
        assert bb and max(bb) < 8
        # folds continue under the new layout; pairs == un-migrated run
        fold_index_batch(spark, idx, chunks[2], 2)
        for c in range(3):
            fold_index_batch(spark, ref, chunks[c], c)
        def pset(p):
            return {
                (r.doc_a, r.doc_b, round(r.jaccard, 6))
                for r in read_emitted_pairs(spark, p).collect()
            }

        assert pset(idx) == pset(ref) and pset(idx)
        # same-count migration: no-op
        assert rebucket(idx, 8, partial(compact_index, spark, idx)) is False
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_rebucket_df_vocab(spark):
    """df-vocabulary table: fold → rebucket → reads identical, folds
    continue under the new count, interrupted migration resumes."""
    from rental_data_pipeline_spark.streaming.df_stream import (
        fold_docs_batch,
        compact_df,
        read_corpus_size,
        read_df_table,
    )

    docs = _dedup_docs(spark)
    chunks = [
        docs.where(F.pmod("doc_id", F.lit(3)) == c).localCheckpoint(
            eager=True
        )
        for c in range(3)
    ]
    state = tempfile.mkdtemp(prefix="rebucket_df_")
    try:
        for c in range(2):
            fold_docs_batch(spark, state, chunks[c], c)
        before = {
            (r.term, r.df) for r in read_df_table(spark, state).collect()
        }
        n_before = read_corpus_size(spark, state)

        # interrupted migration blocks fold + reads, then resumes
        with open(f"{state}/_meta.json.pending", "w") as f:
            json.dump({"n_buckets": 8}, f)
        with pytest.raises(RuntimeError, match="rebucket"):
            fold_docs_batch(spark, state, chunks[2], 2)
        with pytest.raises(RuntimeError, match="rebucket"):
            read_df_table(spark, state)
        assert rebucket(state, 8, partial(compact_df, spark, state))
        assert json.load(open(f"{state}/_meta.json"))["n_buckets"] == 8

        # reads identical across the migration
        assert {
            (r.term, r.df) for r in read_df_table(spark, state).collect()
        } == before
        assert read_corpus_size(spark, state) == n_before
        tb = {
            int(os.path.basename(d).split("=")[1])
            for c in glob.glob(f"{state}/df/c_*")
            for d in glob.glob(f"{c}/term_bucket=*")
        }
        assert tb and max(tb) < 8

        # folds continue; totals == batch df over everything
        fold_docs_batch(spark, state, chunks[2], 2)
        from rental_data_pipeline_spark.operators.textstats import (
            _with_tokens,
        )

        docs_all = chunks[0].unionByName(chunks[1]).unionByName(chunks[2])
        want = {
            (r.term, r.df)
            for r in _with_tokens(docs_all, "text", "doc_id")
            .select("doc_id", F.explode("__toks").alias("term"))
            .distinct()
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .collect()
        }
        assert {
            (r.term, r.df) for r in read_df_table(spark, state).collect()
        } == want
        assert rebucket(state, 8, partial(compact_df, spark, state)) is False
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_suggest_rebucket_watermark(spark, tmpdirs):
    """The occupancy watermark: a tiny table at the default count is
    not due; shrinking target_rows_per_bucket (standing in for state
    growth) makes it due with a power-of-two target; after migrating
    to that target it is no longer due."""
    from rental_data_pipeline_spark.streaming.incremental import (
        suggest_rebucket,
    )

    landing, state, ckpt = tmpdirs
    _snapshots(spark).coalesce(1).write.mode("append").parquet(landing)
    _run_stream(spark, landing, state, ckpt)

    s = suggest_rebucket(spark, state)
    assert s["state_rows"] == 50 and not s["due"]
    assert s["target_n_buckets"] == s["n_buckets"]

    s2 = suggest_rebucket(spark, state, target_rows_per_bucket=1)
    assert s2["due"] and s2["target_n_buckets"] >= 50
    assert s2["target_n_buckets"] % s2["n_buckets"] == 0  # power-of-two steps

    assert rebucket_state(spark, state, s2["target_n_buckets"])
    s3 = suggest_rebucket(spark, state, target_rows_per_bucket=1)
    assert not s3["due"]


def test_interrupted_rebucket_resumes_at_staged_count(spark, tmpdirs):
    """A crashed migration finishes at the parameters it was STAGED
    with, even when re-invoked with the old count — the
    rebucket_corpus resume pattern (it re-calls every table with its
    CURRENT meta count), which must not silently revert a half-done
    migration (round-10 review finding)."""
    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark, n_keys=10)
    snaps.where(F.dayofmonth("updated_date") == 1).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    _run_stream(spark, landing, state, ckpt)
    before = _state_rows(spark, state)
    old_count = json.load(open(f"{state}/_meta.json"))["n_buckets"]

    with open(f"{state}/_meta.json.pending", "w") as f:
        json.dump({"n_buckets": 64, "key": "offer_id"}, f)
    # the resume call passes the CURRENT count — staged 64 must win
    assert rebucket_state(spark, state, old_count)
    assert json.load(open(f"{state}/_meta.json"))["n_buckets"] == 64
    assert not os.path.exists(f"{state}/_meta.json.pending")
    assert _state_rows(spark, state) == before
