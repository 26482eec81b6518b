"""Sinks (K1-K3, F4, X17) and skew utilities."""

import math
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators import sinks
from rental_data_pipeline_spark.operators.skew import salted_join, two_phase_agg


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="sinks_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _state(spark):
    return spark.createDataFrame(
        [
            ("1", 100.0, "active", "2024-06-14 10:00:00"),
            ("2", float("nan"), "active", None),
            ("3", 70.0, "non active", "2024-05-01 10:00:00"),
            ("4", 80.0, "non active", "2024-06-10 09:00:00"),
        ],
        "offer_id string, price_value double, status string, last_active string",
    )


def test_scrub_nan_and_json_sink(spark, outdir):
    p = sinks.write_state_json(_state(spark), f"{outdir}/j")
    back = spark.read.json(p)
    row2 = back.where(F.col("offer_id") == "2").first()
    assert row2.price_value is None  # NaN scrubbed to null, not "NaN"
    assert back.count() == 4


def test_filtered_csv_recent_or_active(spark, outdir):
    now = "2024-06-15 12:00:00"
    p = sinks.write_filtered_csv(_state(spark), f"{outdir}/f", now)
    back = spark.read.option("header", True).csv(p)
    kept = {r.offer_id for r in back.collect()}
    # 1,2 active; 4 within 7 days; 3 non-active and stale → dropped
    assert kept == {"1", "2", "4"}


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(i % 3, i) for i in range(200)], "k int, v int"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, name string")
    got = salted_join(big, small, "k", salt_n=4).groupBy("k", "name").count()
    want = big.join(small, "k").groupBy("k", "name").count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_two_phase_agg_matches_single_phase(spark):
    df = spark.createDataFrame([(i % 5, float(i)) for i in range(500)], "k int, v double")
    got = {
        r.k: (r.n, r.total)
        for r in two_phase_agg(
            df,
            "k",
            aggs=lambda d: [F.count(F.lit(1)).alias("pn"), F.sum("v").alias("pt")],
            finish=lambda d: [F.sum("pn").alias("n"), F.sum("pt").alias("total")],
            salt_n=8,
        ).collect()
    }
    want = {
        r.k: (r.n, r.total)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert math.isclose(got[k][1], want[k][1])


def test_salt_is_stable_across_partitionings(spark):
    """The salt must derive from row content only: the same rows
    arriving in a different partition layout get identical salt
    assignments (retry/replay safety), which layout-dependent salting
    (monotonically_increasing_id) violated."""
    from rental_data_pipeline_spark.operators.skew import _SALT, _stable_salt

    rows = [(i % 3, i, f"p{i}") for i in range(300)]
    a = spark.createDataFrame(rows, "k int, id int, payload string")
    b = spark.createDataFrame(rows, "k int, id int, payload string").repartition(7, "payload")
    salted = lambda d: sorted(
        (r.k, r.id, r.payload, r.s)
        for r in d.withColumn("s", _stable_salt(d, 8))
        .withColumnRenamed("s", _SALT)
        .select("k", "id", "payload", F.col(_SALT).alias("s"))
        .collect()
    )
    assert salted(a) == salted(b)
    # and the phase-1 partials are therefore layout-invariant too
    phase1 = lambda d: sorted(
        map(
            tuple,
            two_phase_agg(
                d,
                "k",
                aggs=lambda x: [F.count(F.lit(1)).alias("pn")],
                finish=lambda x: [F.sum("pn").alias("n")],
                salt_n=8,
            ).collect(),
        )
    )
    assert phase1(a) == phase1(b)


def test_json_state_quarantine_roundtrip(spark, outdir):
    import glob
    import os

    from pyspark.sql import types as T

    from rental_data_pipeline_spark.sources.tables import (
        read_json_state_quarantined,
        write_json_state,
    )

    schema = T.StructType(
        [
            T.StructField("offer_id", T.StringType()),
            T.StructField("price_value", T.DoubleType()),
            T.StructField("status", T.StringType()),
            T.StructField("last_active", T.StringType()),
        ]
    )
    p = f"{outdir}/state_json"
    write_json_state(_state(spark), p)
    # damage the landing the way a crashed writer / log interleave does:
    # a partial part file with a truncated record and a stray log line
    # (a NEW file — appending to a committed part would only trip the
    # local-FS .crc sidecar, a different failure)
    assert glob.glob(f"{p}/part-*.json")
    with open(f"{p}/part-junk.json", "w") as f:
        f.write('{"offer_id": "5", "price_value": 50.0, "status": "ac\n')
        f.write("WARN totally not json\n")
    clean, bad = read_json_state_quarantined(spark, p, schema)
    assert {r.offer_id for r in clean.collect()} == {"1", "2", "3", "4"}
    raws = [r.raw for r in bad.collect()]
    assert len(raws) == 2 and any("not json" in r for r in raws)
    # NaN scrub survived the round trip
    assert clean.where(F.col("offer_id") == "2").first().price_value is None

    # missing path: tolerant empty (the reference's None -> [] fallback)
    clean2, bad2 = read_json_state_quarantined(spark, f"{outdir}/nope", schema)
    assert clean2.count() == 0 and bad2.count() == 0
    assert os.path.isdir(p)
