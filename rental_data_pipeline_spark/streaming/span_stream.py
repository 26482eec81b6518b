"""Incremental substring-level dedup: the span-hash statistics table
folded per micro-batch.

Batch counterpart: ``operators/dedup.py:duplicated_spans`` (the
Lee-et-al suffix-array dedup as a sliding-window fingerprint scan).
Its output is a pure keyed aggregate over (span_hash) of per-(span,
doc) occurrence rows — min keeper id, total occurrences, distinct-doc
count — and under the corpus stream's arrival-order contract every
document arrives in EXACTLY ONE batch, so the per-batch aggregates
merge losslessly: keeper = min of mins, n_copies = sum of sums,
n_docs = sum of per-batch distinct-doc counts (disjoint doc sets).
That makes the fold a plain associative/commutative keyed merge — but
NOT one that can ride ``incremental.bucketed_keyed_fold``: a 200-doc
batch contributes ~10⁴ uniformly-hashed span keys, touching every
bucket at any bucket count, so the merge-on-write "delta" degenerates
into a full-state rewrite per fold (measured O(state) bytes/fold:
``scripts/span_compaction_churn.py``; at the README's projected
~16 TB production state that is terabytes rewritten per 200-doc
batch). The span state therefore rides the size-tiered slice store
(:mod:`streaming.tiered`): each fold writes a pure O(batch) delta
slice, reads merge-on-read under the same reduction, and size-tiered
compaction amortizes the rewrite to O(batch × log(state/batch)) —
the same ``_SUCCESS``/manifest commit protocol (replay no-op,
covered-id replay, crashed-attempt cleanup) as the dedup index and
sketch streams. The state has one on-disk layout: tiered slices,
binary keys and a ``windows`` list, stamped in ``_span_window.json``
on the first fold. A state carrying any other stamp refuses every
fold, read and rebucket with a rebuild message.

With this, every dedup variant in the engine has an incremental
maintenance path: exact content-hash (curation state), MinHash/LSH
near-dup (dedup index), SimHash/Jaccard pairs (same index), semantic
(SemDeDup labels over the streamed ANN index), and now substring
spans. A growing crawl keeps "which 10-grams are boilerplate" current
per batch instead of rescanning O(corpus) token windows.

Reference has no counterpart — beyond-reference training-data layer.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rental_data_pipeline_spark.streaming.incremental import N_STATE_BUCKETS
from rental_data_pipeline_spark.streaming.slices import (
    _read_json,
    atomic_json_write,
)
from rental_data_pipeline_spark.streaming.tiered import (
    read_tiered,
    tiered_fold,
)

_KEY = "span_hash"
_COLS = ["window", "span_hash", "keeper_id", "n_copies", "n_docs"]
# State-internal span identity: the md5 fingerprint as 16 RAW BYTES
# instead of its 32-char hex string. The state table is dominated by
# Zipf-tail singleton spans whose count columns RLE/dictionary-compress
# to almost nothing in parquet, so the incompressible random key IS the
# state size — halving its bytes halves the table (measured envelope:
# scripts/span_state_size.py + README). Exact, not approximate: a
# lossy singleton tier (e.g. a count-min prefilter) cannot preserve
# the duplicated_spans equivalence, because the FIRST occurrence's
# keeper id and occurrence count must be recoverable at promotion
# time and only an exact row stores them. Read path converts back to
# the operator's hex-string contract.
_ENCODING = "binary128"
_LAYOUT = "tiered"
_STAMP_NAME = "_span_window.json"


def _batch_span_stats(
    batch: DataFrame, text_col: str, id_col: str, windows: list[int]
) -> DataFrame:
    """Per-batch (window, span_hash, keeper_id, n_copies, n_docs)
    aggregate — the batch-local restriction of
    ``multi_window_duplicated_spans`` WITHOUT the min_docs filter (a
    span seen once so far may become duplicated by a later batch, so
    singletons must enter the state). ALL windows ride one tokenize +
    one explode (the shared-scan sweep); ``span_hash`` is carried in
    the state-internal binary form."""
    from rental_data_pipeline_spark.operators.dedup import (
        _multi_span_positions,
    )

    per_doc = (
        _multi_span_positions(batch, text_col, id_col, windows)
        .select("window", F.unhex(F.col(_KEY)).alias(_KEY), "doc")
        .groupBy("window", _KEY, "doc")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    return per_doc.groupBy("window", _KEY).agg(
        F.min("doc").alias("keeper_id"),
        F.sum("n_occ").alias("n_copies"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _reduce_span_stats(df: DataFrame) -> DataFrame:
    """The fold's associative keyed reduction — one function shared by
    merge-on-read and every compaction level (the tiered store's
    reduce_fn contract: projects to its own columns, reduces any union
    of slice partitions to the same rows). key = (window, span_hash):
    hashes of different window lengths can't collide in practice, but
    the pair is the true identity."""
    return (
        df.select(*_COLS)
        .groupBy("window", _KEY)
        .agg(
            F.min("keeper_id").alias("keeper_id"),
            F.sum("n_copies").alias("n_copies"),
            F.sum("n_docs").alias("n_docs"),
        )
    )


def fold_spans_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    window: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int = 16,
    n_state_buckets: int = N_STATE_BUCKETS,
    fanin: int = 8,
    sweep_grace_sec: float | None = None,
) -> None:
    """Fold one document batch's span statistics into the size-tiered
    state table: the batch's pre-aggregated rows land as ONE O(batch)
    delta slice — the state is never read, let alone rewritten, on the
    fold path — and due size-tiered compactions run inline
    (``compact_every`` level-0 slices merge to one level-1 slice;
    ``fanin`` level-L slices to one level-L+1). Idempotent per
    ``batch_id`` (slice + covered-id replay no-op); assumes each doc id
    arrives in exactly one batch (the corpus stream's arrival-order
    contract) — a replayed doc would double-count occurrences, which is
    exactly why the fold rides the replay-no-op slice commit.
    ``window`` may be a single int or a LIST of window lengths (the
    multi-length sweep: all windows ride one tokenize + one explode per
    batch); the window set is frozen in ``_span_window.json`` on the
    first fold (the bucket-count discipline: folding a different window
    set into the same state would silently mix incomparable fingerprint
    populations) — later folds refuse a mismatched set, and a state
    with an old stamp refuses with a rebuild message, checked before
    the window comparison."""
    windows = sorted(
        {int(window)} if isinstance(window, int) else {int(w) for w in window}
    )
    if not windows or any(w < 1 for w in windows):
        # an empty set would freeze windows=[] into _span_window.json
        # on a fresh table and permanently refuse every later real fold
        raise ValueError(
            f"fold_spans_batch: window must be a non-empty set of "
            f"positive lengths (got {windows})"
        )
    frozen = read_span_windows(state_path)
    if frozen is None:
        _os.makedirs(state_path, exist_ok=True)
        atomic_json_write(
            f"{state_path}/{_STAMP_NAME}",
            {"windows": windows, "key_encoding": _ENCODING, "layout": _LAYOUT},
        )
    elif frozen != windows:
        raise ValueError(
            f"span state at {state_path} was built with windows={frozen}; "
            f"refusing to fold windows={windows} fingerprints into it"
        )
    tiered_fold(
        _batch_span_stats(batch, text_col, id_col, windows),
        batch_id,
        state_path,
        key=_KEY,
        reduce_fn=_reduce_span_stats,
        n_buckets=n_state_buckets,
        compact_every=compact_every,
        fanin=fanin,
        sweep_grace_sec=sweep_grace_sec,
    )


def _checked_span_meta(state_path: str) -> dict | None:
    """The state's ``_span_window.json`` stamp, or None before the
    first fold. A stamp other than the current one (``windows`` list,
    binary128 keys, tiered layout) refuses: the state was written in
    an older on-disk layout that nothing here reads any more."""
    meta = _read_json(f"{state_path}/{_STAMP_NAME}")
    if meta is None:
        return None
    if (
        "windows" not in meta
        or meta.get("key_encoding") != _ENCODING
        or meta.get("layout") != _LAYOUT
    ):
        raise ValueError(
            f"span state at {state_path} was written in an older on-disk "
            "layout; rebuild it by re-folding its corpus into a fresh path"
        )
    return meta


def read_span_windows(state_path: str) -> list[int] | None:
    """The window set frozen at the first fold, or None before it."""
    meta = _checked_span_meta(state_path)
    return None if meta is None else sorted(int(w) for w in meta["windows"])


def read_span_state(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    """The merged state table in its INTERNAL form (binary keys, no
    min_docs filter): the live tiered slices merged on read under the
    fold's own reduction. ``None`` before the first committed fold; a
    state with an old stamp refuses with a rebuild message."""
    if _checked_span_meta(state_path) is None:
        return None
    return read_tiered(spark, state_path, _reduce_span_stats)


def read_duplicated_spans(
    spark: SparkSession,
    state_path: str,
    min_docs: int = 2,
    window: int | None = None,
) -> DataFrame | None:
    """The accumulated duplicated-span report — for each folded window
    w, equal to ``duplicated_spans(full corpus, window=w)`` with the
    same ``min_docs``. ``None`` before the first committed fold.
    ``window=`` restricts to one window length; the default returns
    every folded window (single-window states have exactly one).
    Public columns keep the operator contract
    (span_hash, keeper_id, n_copies, n_docs) plus ``window``; the
    state's binary keys convert back to hex strings at this boundary.
    A state with an old stamp refuses with a rebuild message."""
    state = read_span_state(spark, state_path)
    if state is None:
        return None
    out = state.select(*_COLS).where(F.col("n_docs") >= min_docs)
    if window is not None:
        out = out.where(F.col("window") == int(window))
    out = out.withColumn(_KEY, F.lower(F.hex(F.col(_KEY))))
    return out.select("window", _KEY, "keeper_id", "n_copies", "n_docs")
