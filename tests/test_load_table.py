"""``sources.tables.load_table`` opens the testdata tables from the
schemas declared in ``schema.TESTDATA_SCHEMAS``: the same schema footer
inference gives, and no Spark job to open a table."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.sources.tables import (
    TESTDATA_TABLES,
    load_table,
    load_tables,
)

SCALES = ("sf0.001", "sf0.01", "sf0.1")


@pytest.mark.parametrize("scale", SCALES)
def test_declared_schemas_equal_inferred(spark, sf_dir, scale):
    d = os.path.join(os.path.dirname(sf_dir), scale)
    if not os.path.isdir(d):
        pytest.skip(f"no testdata at {d}")
    for name in TESTDATA_TABLES:
        inferred = spark.read.parquet(os.path.join(d, f"{name}.parquet")).schema
        assert load_table(spark, name, d).schema == inferred, name


def _group_jobs(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_tables_runs_no_job(spark, sf_dir):
    sc = spark.sparkContext
    try:
        sc.setJobGroup("load_tables", "open every testdata table")
        load_tables(spark, sf_dir)
        # the probe sees jobs: an inferred read runs one
        sc.setJobGroup("infer", "footer inference")
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store in order, so once the control's
    # job is listed, any job of the first group would be too
    deadline = time.time() + 30
    while not _group_jobs(sc, "infer") and time.time() < deadline:
        time.sleep(0.1)
    assert _group_jobs(sc, "infer")
    assert _group_jobs(sc, "load_tables") == []


def test_nanos_events_still_load(spark, tmp_path):
    """A data set regenerated with ``events.ts`` as TIMESTAMP(NANOS)
    loads with ``ts`` as a micros timestamp, also in a session that
    never set ``nanosAsLong`` (a vanilla one)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_001_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["click", "view"],
            "value": [1.5, 2.5],
            "props": ['{"k": 1}', '{"k": 2}'],
        }),
        str(tmp_path / "events.parquet"),
    )
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type.unit == "ns"
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        df = load_table(spark, "events", str(tmp_path))
        assert df.columns == ["event_id", "ts", "user_id", "event_type", "value", "props"]
        assert dict(df.dtypes)["ts"].startswith("timestamp")
        got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
        assert got == sorted(n // 1000 for n in ns)
    finally:
        spark.conf.set(key, old)
