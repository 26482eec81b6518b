"""SparkSession builder tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in a single JVM; the
configs below are chosen so the same logical plans scale to a real
multi-executor cluster: AQE on (runtime coalescing + skew-join), Arrow
on (all pandas-UDF paths are vectorized), UTC session timezone (oracle
comparison against DuckDB's UTC-naive timestamps), and shuffle
partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """A quarter of physical memory, clamped to 1-32 GiB: a fixed 32g
    heap lets the driver JVM outgrow a 16 GB host and get OOM-killed,
    while a host with >= 128 GB still gets 32g."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "1g"
    return f"{max(1024, min(32 * 1024, total // 4 // 2**20))}m"


def get_spark(
    app_name: str = "rental_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Every knob here is a scale decision, not a local hack:

    - ``spark.sql.adaptive.enabled`` — runtime re-plan: broadcast
      conversion, partition coalescing, skew-join splitting.
    - ``spark.sql.shuffle.partitions`` — sized to cores locally; on a
      1000-executor cluster AQE coalescing makes the static number much
      less important, but a sane initial value avoids tiny-partition
      floods at small SF.
    - Arrow enabled so every ``mapInPandas``/``pandas_udf`` operator
      (HTML extraction, embedding ops) moves data in columnar batches.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark has no nanos timestamp type: a TIMESTAMP(NANOS) column
        # reads as a long. The shipped testdata stores events.ts as
        # tz-naive micros (TIMESTAMP_NTZ); a set regenerated with nanos
        # is converted at the source (sources.tables.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Whole-stage-codegen methods between HotSpot's 8000-bytecode JIT
        # ceiling and Spark's default hugeMethodLimit (65535) are poison:
        # Spark keeps the generated code but the JVM never JIT-compiles
        # it (or C2 spends tens of seconds trying), so wide multi-
        # aggregate stages ran interpreted with erratic 40-100x
        # slowdowns. Aligning hugeMethodLimit with the JIT ceiling makes
        # Spark fall back to its stable interpreted-expression path for
        # oversized stages while small stages keep codegen+JIT.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # The generated-class cache (an LRU; Spark's default holds 100)
        # must hold the engine's working set, or every query re-runs
        # Janino on the driver for classes it compiled a moment ago.
        # Distinct classes compiled with an unbounded cache
        # (CodegenMetrics, 4 cores): the 50-query registry pass at
        # sf0.01, 1,364; a 16-query perfbench registry_sweep pass, 272;
        # a crawl_hourly seed cycle, 111, and 161 with the first timed
        # cycle. With the default cache a steady crawl cycle recompiled
        # ~90 classes (~1.1 s of Janino) and a registry_sweep pass ~270.
        # The bound is over twice the largest set.
        .config("spark.sql.codegen.cache.maxEntries", "3000")
        # Headroom for many compiled codegen stages in long sessions
        # (default 240 MB cache disables the JIT when full).
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.executor.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
