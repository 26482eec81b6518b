"""Incremental HLL == batch HLL over the concatenated stream."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.sketch import hll_distinct
from rental_data_pipeline_spark.sources.tables import load_table
from rental_data_pipeline_spark.streaming.sketch_stream import (
    incremental_hll_stream,
    read_hll_estimate,
    read_hll_registers,
)


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="sketch_stream_test_")
    yield f"{d}/landing", f"{d}/state", f"{d}/ckpt"
    shutil.rmtree(d, ignore_errors=True)


def test_incremental_hll_equals_batch(spark, sf_dir, tmpdirs):
    landing, state, ckpt = tmpdirs
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("user_id")
    )
    # overlapping chunks: the same user appears in several micro-batches,
    # so the merge must be idempotent, not just additive
    for c in range(3):
        ev.where(F.pmod(F.xxhash64("user_id") + c, F.lit(4)) < 2).coalesce(
            1
        ).write.mode("append").parquet(landing)
    arrived = spark.read.parquet(landing)

    stream = (
        spark.readStream.schema("event_type string, user_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = incremental_hll_stream(
        stream, state, ckpt, group_cols=["event_type"], value_col="user_id"
    )
    q.awaitTermination(120)

    got = {
        r.event_type: r.hll_estimate
        for r in read_hll_estimate(spark, state).collect()
    }
    want = {
        r.event_type: r.hll_estimate
        for r in hll_distinct(arrived, ["event_type"], "user_id").collect()
    }
    assert got == want and got  # exact equality: register max is a union

    # bounded state: <= 2^8 registers per group per batch slice
    regs = read_hll_registers(spark, state)
    per_group = regs.groupBy("event_type").count().collect()
    assert all(r["count"] <= 256 for r in per_group)

    # estimates are in a sane band around exact distinct counts
    exact = {
        r.event_type: r.n
        for r in arrived.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.25, (k, est, exact[k])


def test_sketch_compaction_preserves_estimates(spark, sf_dir, tmpdirs):
    from rental_data_pipeline_spark.streaming.sketch_stream import compact_sketch

    landing, state, ckpt = tmpdirs
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("user_id")
    )
    for c in range(3):
        ev.where(F.pmod(F.xxhash64("user_id") + c, F.lit(4)) < 2).coalesce(
            1
        ).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema("event_type string, user_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    # compact_every=2: the fold compacts mid-stream on its own
    q = incremental_hll_stream(
        stream, state, ckpt, group_cols=["event_type"], value_col="user_id",
        compact_every=2,
    )
    q.awaitTermination(120)

    import glob

    before = {
        r.event_type: r.hll_estimate
        for r in read_hll_estimate(spark, state).collect()
    }
    # fewer than 3 raw slices survive (auto-compaction ran) and one
    # more manual compaction collapses everything to a single c_ dir
    assert len(glob.glob(f"{state}/b_*")) < 3
    assert compact_sketch(spark, state) or len(glob.glob(f"{state}/c_*")) >= 1
    assert len(
        [d for d in glob.glob(f"{state}/*") if "/c_" in d or "/b_" in d]
    ) >= 1
    after = {
        r.event_type: r.hll_estimate
        for r in read_hll_estimate(spark, state).collect()
    }
    assert after == before  # register-max union: compaction is lossless

    # estimates still equal the batch operator over everything arrived
    arrived = spark.read.parquet(landing)
    want = {
        r.event_type: r.hll_estimate
        for r in hll_distinct(arrived, ["event_type"], "user_id").collect()
    }
    assert after == want


def test_compacted_batch_id_replays_as_noop(spark, sf_dir, tmpdirs):
    """A batch id whose slice was folded then compacted away must
    no-op on replay (its content lives in the consolidated c_* slice);
    rewriting it would produce a permanently invisible slice."""
    from pyspark.sql import functions as F

    from rental_data_pipeline_spark.sources.tables import load_table
    from rental_data_pipeline_spark.streaming.sketch_stream import (
        compact_sketch,
        fold_registers_batch,
        read_hll_estimate,
    )

    _, state_dir, _ = tmpdirs
    ev = load_table(spark, "events", sf_dir)
    fold_registers_batch(
        spark, state_dir, ev.where("event_id % 2 = 0"), 0,
        ["event_type"], "user_id",
    )
    fold_registers_batch(
        spark, state_dir, ev.where("event_id % 2 = 1"), 1,
        ["event_type"], "user_id",
    )
    assert compact_sketch(spark, state_dir)
    want = {
        (r.event_type, r.hll_estimate)
        for r in read_hll_estimate(spark, state_dir).collect()
    }
    # crash-window replay of batch 0 (stream checkpoint uncommitted):
    # must not change the merged state or leave a new b_* dir
    fold_registers_batch(
        spark, state_dir, ev.limit(7), 0, ["event_type"], "user_id"
    )
    import glob

    assert glob.glob(f"{state_dir}/b_*") == []
    assert {
        (r.event_type, r.hll_estimate)
        for r in read_hll_estimate(spark, state_dir).collect()
    } == want
