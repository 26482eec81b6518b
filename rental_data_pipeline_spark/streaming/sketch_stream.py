"""Incrementally-maintained HLL distinct-count sketches.

``COUNT(DISTINCT x)`` over an unbounded stream either keeps every
distinct value in state (unbounded) or keeps a SKETCH. The HLL
register table (``sketch.hll_registers``) is the bounded mergeable
state: 2^p rows per group, and register-wise MAX is the union
operation — so per micro-batch the fold computes the batch's register
slice and appends it; the reader merges all slices with one
``groupBy(group, reg).max`` and folds the estimate. The merged
estimate is EXACTLY the estimate of the concatenated input (register
max is associative/commutative/idempotent), proven by the equivalence
test against the batch operator.

Append-only + ``_SUCCESS``-gated per-batch dirs (idempotent replay,
crash garbage invisible) — the same commit contract as
``streaming/dedup_index.py``. At 100 TB this is the pattern for every
mergeable aggregate (sketches, counts, sums): state size is
O(groups x 2^p), never O(distinct values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.sketch import (
    hll_estimate_from_registers,
    hll_registers,
)
from rental_data_pipeline_spark.streaming.slices import (
    _bdir,
    begin_fold,
    compact_slices,
    committed,
)


def _merged_registers(spark: SparkSession, dirs: list[str]) -> DataFrame:
    df = spark.read.parquet(*dirs)
    group_cols = [c for c in df.columns if c not in ("__reg", "__M")]
    return df.groupBy(*group_cols, "__reg").agg(F.max("__M").alias("__M"))


def read_hll_registers(spark: SparkSession, path: str) -> DataFrame | None:
    """The merged register state across every committed batch slice."""
    dirs = committed(path)
    return _merged_registers(spark, dirs) if dirs else None


def read_hll_estimate(
    spark: SparkSession, path: str, p: int = 8
) -> DataFrame | None:
    """Per-group estimates over everything ingested so far."""
    regs = read_hll_registers(spark, path)
    if regs is None:
        return None
    group_cols = [c for c in regs.columns if c not in ("__reg", "__M")]
    return hll_estimate_from_registers(regs, group_cols, p)


def compact_sketch(
    spark: SparkSession,
    state_path: str,
    min_slices: int = 2,
    sweep_grace_sec: float | None = None,
) -> bool:
    """Merge every committed register slice into ONE consolidated
    slice under the shared compaction skeleton
    (``slices.compact_slices``): the merge is the registers'
    groupBy-max union — the same value the reader computes. Returns
    True when a compaction ran."""
    def merge(_sub: None, dirs: list[str], cdir: str) -> None:
        _merged_registers(spark, dirs).write.parquet(cdir)

    return compact_slices(
        state_path, (None,), merge,
        min_slices=min_slices, sweep_grace_sec=sweep_grace_sec,
    )


def fold_registers_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
    compact_every: int = 16,
) -> None:
    """Fold ONE batch's register slice — the per-batch body of
    :func:`incremental_hll_stream`, module-level so the composed
    corpus fold (``streaming/corpus_stream.py``) drives the same code
    path. Idempotent per ``batch_id``."""
    if not begin_fold(state_path, batch_id, (None,)):
        return  # committed replay (or folded then compacted away)
    hll_registers(batch, group_cols, value_col, p).write.parquet(
        _bdir(state_path, None, batch_id)
    )
    compact_sketch(spark, state_path, min_slices=compact_every)


def incremental_hll_stream(
    events: DataFrame,
    state_path: str,
    checkpoint_path: str,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
    available_now: bool = True,
    compact_every: int = 16,
):
    """Fold a stream into the register table; returns the started
    StreamingQuery. Each batch writes ONLY its own slice (O(groups x
    2^p) rows) — merge cost is deferred to the reader, where it is one
    bounded aggregation; every ``compact_every`` committed slices the
    fold consolidates them (:func:`compact_sketch`) so the dir count
    stays bounded too."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        fold_registers_batch(
            batch.sparkSession, state_path, batch, batch_id,
            group_cols, value_col, p=p, compact_every=compact_every,
        )

    writer = (
        events.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
