"""Table sources: the parquet testdata tables and the JSON state
source/sink.

The reference keeps its state as one JSON array file reloaded and
rewritten each run (``parse_data.py:131-132,217-223``); here state is a
versioned parquet table (``streaming.incremental``). The JSON source and
sink survive as a tolerant quarantining reader and a NaN-scrubbing
writer (SURVEY §2.1 S1/K1) for compatibility.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rental_data_pipeline_spark.schema import TESTDATA_SCHEMAS

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ts_is_nanos(path: str) -> bool:
    """Whether ``events.ts`` is TIMESTAMP(NANOS), read from the parquet
    footer on the driver (pyarrow), not by a Spark inference job."""
    import pyarrow.parquet as pq

    return getattr(pq.read_schema(path).field("ts").type, "unit", None) == "ns"


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one testdata table. Parquet scan → full pushdown/pruning.

    The schema is declared (``schema.TESTDATA_SCHEMAS``), so opening a
    table runs no Spark job. ``events.ts`` is tz-naive micros in the
    testdata and reads as TIMESTAMP_NTZ. A data set regenerated with
    TIMESTAMP(NANOS) ``ts`` still loads: with
    ``spark.sql.legacy.parquet.nanosAsLong`` the column reads as a long
    and is converted here to a micros timestamp via integer division
    (``div`` — float division would lose precision past 2^53 ns).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = TESTDATA_SCHEMAS[name]
    if name == "events" and _ts_is_nanos(path):
        # runtime-settable, so a caller-supplied vanilla session reads
        # the nanos column without builder-time config
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(schema.replace("ts TIMESTAMP_NTZ", "ts BIGINT")).parquet(path)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TESTDATA_TABLES}


def read_json_state_quarantined(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """S1 with corrupt-record quarantine: ``(clean, quarantined)``.

    A plain schema-bound JSON read silently turns a damaged LINE
    (truncated write, encoding damage, log interleaving) into an
    all-null row —
    at crawl scale that is data loss you never see. PERMISSIVE mode
    with ``columnNameOfCorruptRecord`` keeps the raw unparseable line;
    clean rows drop the marker column, quarantined rows carry it as
    ``raw`` for replay/debugging. Missing path → both frames empty
    (the reference's ``None`` → ``[]`` fallback, ref
    ``parse_data.py:206-211``)."""
    corrupt = "_corrupt_record"
    full = T.StructType(list(schema.fields) + [T.StructField(corrupt, T.StringType())])
    try:
        # one eager materialization of the full-row scan: Spark forbids
        # a scan whose referenced columns are ONLY the corrupt-record
        # marker (the quarantine side would be exactly that after column
        # pruning), and state files are modest — both splits then read
        # executor-resident blocks instead of re-parsing
        df = spark.read.schema(full).option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt
        ).json(path).localCheckpoint(eager=True)
    except Exception:
        empty = spark.createDataFrame([], schema)
        return empty, empty.select(F.lit(None).cast("string").alias("raw"))
    clean = df.where(F.col(corrupt).isNull()).drop(corrupt)
    bad = df.where(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw")
    )
    return clean, bad


def write_json_state(df: DataFrame, path: str) -> None:
    """K1: JSON sink with NaN scrub (ref ``parse_data.py:187-204``).

    The reference recursively converts NaN → null before writing;
    delegates to the ONE scrub-and-write implementation
    (``operators.sinks.write_state_json``) so the two JSON writers
    cannot drift.
    """
    from rental_data_pipeline_spark.operators.sinks import (
        write_state_json,
    )

    write_state_json(df, path)
