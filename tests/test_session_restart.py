"""A Python process that restarts its JVM keeps a working merge and
near-dup path.

A builder that keeps JVM objects between calls breaks here: after the
py4j gateway shuts down and ``get_spark`` launches a new JVM, a kept
Column points into the dead one and every later build fails. The check
runs in a subprocess, so the test session's own JVM is untouched.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    from pyspark import SparkContext

    from rental_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        simhash_signatures,
    )
    from rental_data_pipeline_spark.operators.merge import merge_snapshots
    from rental_data_pipeline_spark.session import get_spark


    def run(spark):
        snaps = spark.sql(
            "SELECT * FROM VALUES"
            " ('1', 100.0D, false, TIMESTAMP'2026-01-01 00:00:00', 1L),"
            " ('1', 120.0D, false, TIMESTAMP'2026-01-02 00:00:00', 2L),"
            " ('2', 50.0D, true, TIMESTAMP'2026-01-03 00:00:00', 3L)"
            " AS t(offer_id, price_value, is_unpublished, updated_date, seq)"
        )
        docs = spark.sql(
            "SELECT * FROM VALUES (1L, 'a b c d e f'), (2L, 'a b c d e g')"
            " AS t(doc_id, text)"
        )
        shingles = docs.selectExpr(
            "doc_id AS doc", "explode(split(text, ' ')) AS shingle"
        )
        return (
            sorted(merge_snapshots(snaps, order_cols=["seq"]).collect()),
            sorted(banded_signatures(shingles).collect()),
            sorted(simhash_signatures(docs).collect()),
        )


    first = run(get_spark("restart", shuffle_partitions=2))
    SparkContext._active_spark_context.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    second = run(get_spark("restart", shuffle_partitions=2))
    assert first == second, (first, second)
    print("RESTART_OK")
    """
)


def test_builders_survive_a_jvm_restart(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_LOCAL_DIRS=str(tmp_path),
    )
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=120,
    )
    assert "RESTART_OK" in proc.stdout, proc.stderr[-3000:]
