"""Construction cost of the merge, MinHash/LSH and SimHash builders,
pinned in py4j calls (no Spark action runs).

Each builder hands Spark SQL text, one call per expression (the merge's
projections: one per projection), and keeps no JVM object between
calls, so every build pays the same: each item is built twice in a row
and both builds must stay under the bound. A Column tree costs one
round trip per node — the merge alone took ~14.6k calls that way, and
~780 with one ``selectExpr`` element per column.
"""

from __future__ import annotations

import threading

import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.dedup import (
    banded_signatures,
    simhash_signatures,
)
from rental_data_pipeline_spark.operators.merge import merge_listings
from rental_data_pipeline_spark.schema import SNAPSHOT_SCHEMA, STATE_SCHEMA


def _calls(build) -> int:
    """py4j commands the calling thread sends while ``build()`` runs.
    py4j's finalizer thread releases garbage proxies concurrently, from
    any earlier test; its commands are not part of the build."""
    sent = [0]
    send = GatewayClient.send_command
    me = threading.get_ident()

    def counting(client, *args, **kwargs):
        if threading.get_ident() == me:
            sent[0] += 1
        return send(client, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        build()
    finally:
        GatewayClient.send_command = send
    return sent[0]


@pytest.fixture(scope="module")
def frames(spark):
    state = spark.createDataFrame([], STATE_SCHEMA)
    batch = spark.createDataFrame([], SNAPSHOT_SCHEMA).withColumn("__batch", F.lit(1))
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    shingles = docs.selectExpr("doc_id AS doc", "explode(split(text, ' ')) AS shingle")
    return state, batch, docs, shingles


def test_build_cost_bounded_every_build(frames):
    state, batch, docs, shingles = frames

    def pipeline_merge():
        # the call shape of jobs/pipeline.py's fold
        return merge_listings(
            state, batch, key="offer_id",
            order_cols=[
                F.col("__batch").asc_nulls_first(),
                F.col("updated_date").asc_nulls_first(),
            ],
            derive_status_col=True,
        )

    bounds = [
        ("merge_listings", pipeline_merge, 780),
        ("banded_signatures", lambda: banded_signatures(shingles), 400),
        ("simhash_signatures", lambda: simhash_signatures(docs), 800),
    ]
    for name, build, bound in bounds:
        calls = [_calls(build) for _ in range(2)]
        assert all(c <= bound for c in calls), (name, calls, bound)
