"""Seventh review pass regression pins: the batch pipeline's state
commit discipline, the stateful stream on dirty keys, and layout
operators on degenerate domains."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.jobs import run_pipeline
from tests.test_pipeline import _fixtures


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="hardening4_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_empty_pipeline_run_commits_readable_state(spark, outdir):
    """An empty crawl used to (a) crash the metrics collection
    (SUM over zero rows is NULL; int(None)) AFTER committing, and
    (b) commit a parquet-less _FULL version that wedged every later
    read of the SHARED state table with UNABLE_TO_INFER_SCHEMA."""
    from rental_data_pipeline_spark.streaming.incremental import (
        read_state,
    )

    sp, lp, geo, route = _fixtures(spark, [])
    state_path = f"{outdir}/state"
    res = run_pipeline(
        spark, sp, lp, geo, route,
        state_path=state_path, output_dir=f"{outdir}/out",
    )
    assert res["metrics"]["n_state"] == 0
    assert res["metrics"]["n_active"] == 0  # int, not a crash
    st = read_state(spark, state_path)  # schema-bearing, not wedged
    assert st is None or st.count() == 0

    # and a real run on the same table afterwards works
    sp2, lp2, geo2, route2 = _fixtures(spark, [1, 2, 3])
    res2 = run_pipeline(
        spark, sp2, lp2, geo2, route2,
        state_path=state_path, output_dir=f"{outdir}/out2",
    )
    assert res2["metrics"]["n_state"] == 3


def test_load_state_propagates_refuse_to_read(spark, outdir):
    """load_state used to swallow the pending-rebucket refusal and run
    the pipeline against an EMPTY state — whose _FULL commit would
    permanently shadow (then prune) the real one."""
    from rental_data_pipeline_spark.jobs.pipeline import load_state
    from rental_data_pipeline_spark.streaming.incremental import (
        bucketed_keyed_fold,
    )

    state_path = f"{outdir}/state"
    batch = spark.createDataFrame([(1, 10)], "k long, v long")
    bucketed_keyed_fold(
        batch, 0, state_path, key="k",
        merge_fn=lambda t, b: b if t is None else t.unionByName(b)
        .groupBy("k").agg(F.max("v").alias("v")),
    )
    with open(f"{state_path}/_meta.json.pending", "w") as f:
        json.dump({"n_buckets": 64, "key": "k"}, f)
    with pytest.raises(RuntimeError, match="pending"):
        load_state(spark, state_path)


def test_price_change_stream_ignores_null_keys_and_dateless_cdc(spark, outdir):
    """A null offer_id group used to poison-pill the stream with
    int(None) on every checkpoint replay; and a null updated_date row
    must merge fields with ZERO CDC (the batch W4 contract), ordered
    before dated rows."""
    from rental_data_pipeline_spark.streaming.stateful import (
        price_change_stream,
    )

    landing = f"{outdir}/landing"
    rows = [
        (None, "2024-01-01 10:00:00", 50.0, 1),
        (1, None, 100.0, 2),
        (1, "2024-01-02 10:00:00", 200.0, 3),
    ]
    spark.createDataFrame(
        rows,
        "offer_id long, updated_date string, price_value double, event_id long",
    ).withColumn("updated_date", F.to_timestamp("updated_date")).coalesce(
        1
    ).write.parquet(landing)

    stream = spark.readStream.schema(
        "offer_id long, updated_date timestamp, price_value double, "
        "event_id long"
    ).parquet(landing)
    q = (
        price_change_stream(stream)
        .writeStream.format("memory")
        .queryName("hardening4_changes")
        .option("checkpointLocation", f"{outdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from hardening4_changes").collect()
    # exactly one change: 100 -> 200 at the dated row; the undated row
    # seeded the price silently, the null-key row emitted nothing
    assert len(got) == 1
    assert got[0].old_price == 100.0 and got[0].new_price == 200.0
    assert got[0].change_ts is not None


def test_flatten_map_variants_coalesce(spark):
    """Extracting both RU variants of a label must keep the PRESENT
    value (last-present-wins), not let the absent variant's null
    overwrite it; and an explicit empty mapping means no renames."""
    from rental_data_pipeline_spark.operators.flatten import (
        flatten_listings,
        flatten_map_column,
    )

    df = spark.createDataFrame(
        [(1, {"Комиссии": "50%"})],
        "id long, facts map<string,string>",
    )
    got = flatten_map_column(
        df, "facts", ["Комиссии", "Комиссия"]
    ).collect()[0]
    assert got.commission == "50%"

    src = spark.createDataFrame([(1, "x")], "id long, `Залог` string")
    kept = flatten_listings(src, mappings={})
    assert "Залог" in kept.columns  # empty dict = no renames
