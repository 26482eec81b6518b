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
sketch streams. Pre-tiering (v_* merge-on-write) span states remain
readable; folds into them refuse with a rebuild message, mirroring
the legacy hex-key discipline.

With this, every dedup variant in the engine has an incremental
maintenance path: exact content-hash (curation state), MinHash/LSH
near-dup (dedup index), SimHash/Jaccard pairs (same index), semantic
(SemDeDup labels over the streamed ANN index), and now substring
spans. A growing crawl keeps "which 10-grams are boilerplate" current
per batch instead of rescanning O(corpus) token windows.

Reference has no counterpart — beyond-reference training-data layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rental_data_pipeline_spark.streaming.incremental import (
    N_STATE_BUCKETS,
    read_state_or_legacy,
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
    populations) — later folds refuse a mismatched set, and legacy
    states (hex keys, or the pre-tiering merge-on-write layout) refuse
    with a rebuild message rather than corrupting silently."""
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
        import json as _json
        import os as _os

        _os.makedirs(state_path, exist_ok=True)
        tmp = f"{state_path}/_span_window.json.tmp"
        with open(tmp, "w") as f:
            _json.dump(
                {
                    "windows": windows,
                    "key_encoding": _ENCODING,
                    "layout": _LAYOUT,
                },
                f,
            )
        _os.replace(tmp, f"{state_path}/_span_window.json")
    elif frozen != windows:
        raise ValueError(
            f"span state at {state_path} was built with windows={frozen}; "
            f"refusing to fold windows={windows} fingerprints into it"
        )
    elif _span_meta(state_path).get("key_encoding") != _ENCODING:
        # a pre-binary state stores hex-string keys: folding binary
        # keys into it would split every span's stats across two rows
        raise ValueError(
            f"span state at {state_path} uses legacy hex-string keys; "
            "rebuild it (or keep folding with the version that wrote it)"
        )
    elif _span_meta(state_path).get("layout") != _LAYOUT:
        # a pre-tiering state is a v_* merge-on-write version chain:
        # tiered slices written next to it would give readers half a
        # state each way
        raise ValueError(
            f"span state at {state_path} uses the legacy merge-on-write "
            "layout; rebuild it (or keep folding with the version that "
            "wrote it)"
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


def _span_meta(state_path: str) -> dict:
    import json as _json
    import os as _os

    p = f"{state_path}/_span_window.json"
    if not _os.path.exists(p):
        return {}
    with open(p) as f:
        return _json.load(f)


def read_span_window(state_path: str) -> int | None:
    """The window frozen at the first fold (single-window form), or
    None before it. For multi-window states, the smallest window —
    use :func:`read_span_windows` for the full set."""
    ws = read_span_windows(state_path)
    return ws[0] if ws else None


def read_span_windows(state_path: str) -> list[int] | None:
    """The window set frozen at the first fold, or None before it
    (legacy single-window metas normalize to a one-element list)."""
    meta = _span_meta(state_path)
    if not meta:
        return None
    if "windows" in meta:
        return sorted(int(w) for w in meta["windows"])
    return [int(meta["window"])]


def read_span_state(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    """The merged state table in its INTERNAL form (binary keys, no
    min_docs filter) — the layout dispatch point: tiered states merge
    their live slices on read under the fold's own reduction; legacy
    merge-on-write states read their composed version chain. ``None``
    before the first committed fold."""
    if _span_meta(state_path).get("layout") == _LAYOUT:
        return read_tiered(spark, state_path, _reduce_span_stats)
    return read_state_or_legacy(spark, state_path)


def migrate_spans_to_tiered(
    spark: SparkSession,
    state_path: str,
    n_buckets: int | None = None,
) -> bool:
    """OFFLINE migration of a pre-tiering span state (the v_*
    merge-on-write version chain) to the size-tiered layout — the path
    for a deployment with an accumulated span state to stop paying
    O(state) bytes per fold without rescanning its corpus. Also
    TOTALIZES the legacy ladder: a pre-binary (hex-keyed) state has
    its keys converted to the internal binary128 form in the same
    rewrite, and a legacy single-window state (no ``window`` column)
    is tagged from its frozen meta — after migration every span state
    folds and reads identically.

    Crash-safe under the shared staged-pending discipline
    (``_meta.json.pending``: legacy folds/reads refuse via the
    version-chain guard, tiered ones via the tiered guard, so the
    table is quiesced throughout): compose the legacy state (under its
    own meta), write it as ONE committed level-1 ``c_*`` slice
    bucketed under the (new) count, swap ``_meta.json`` to the tiered
    form, flip the layout stamp in ``_span_window.json`` (the read
    dispatch — the commit point), then delete the version chain and
    clear the pending. Re-running finishes any interrupted step:
    the slice write is skipped once its manifest exists, the
    metadata swaps are idempotent, and a post-commit crash resumes
    straight to cleanup. Returns True when a migration ran."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from rental_data_pipeline_spark.streaming.incremental import _compose
    from rental_data_pipeline_spark.streaming.slices import (
        _META_PENDING,
        _read_meta,
        atomic_json_write,
    )
    from rental_data_pipeline_spark.streaming.tiered import (
        _TIER_NAME,
        _write_slice,
    )

    span_meta = _span_meta(state_path)
    if not span_meta:
        raise ValueError(
            f"not a span state table (no _span_window.json): {state_path}"
        )
    pending = f"{state_path}/{_META_PENDING}"
    if span_meta.get("layout") == _LAYOUT:
        if not _os.path.exists(pending):
            return False  # already tiered
        import json as _json

        with open(pending) as f:
            staged = _json.load(f)
        with open(f"{state_path}/_meta.json") as f:
            cur = _json.load(f)
        if staged != cur:
            # NOT this migration's leftover: an in-flight
            # rebucket_tiered staged this pending (its count differs
            # from the committed meta) — eating it would silently
            # discard the staged rebucket
            raise RuntimeError(
                f"span state at {state_path} has an interrupted "
                "rebucket_tiered migration (staged pending differs from "
                "the committed meta); run rebucket_tiered() to finish it"
            )
        # post-commit crash of THIS migration (or of a rebucket's final
        # pending removal — staged == committed either way): cleanup
        for v in _glob.glob(f"{state_path}/v_*"):
            _shutil.rmtree(v, ignore_errors=True)
        _os.remove(pending)
        return True

    old_meta = _read_meta(state_path)
    if old_meta is None:
        raise ValueError(
            f"span state at {state_path} has no _meta.json — nothing to "
            "migrate (fold into it directly; new states are tiered)"
        )
    nb = int(n_buckets if n_buckets is not None else old_meta["n_buckets"])
    new_meta = {"n_buckets": nb, "key": _KEY, "layout": _LAYOUT}
    staged = None
    if _os.path.exists(pending):
        import json as _json

        with open(pending) as f:
            staged = _json.load(f)
        if staged.get("layout") != _LAYOUT:
            # a crashed rebucket_state staged this pending (legacy
            # bucket-count migration, no layout stamp): adopting it as
            # the tiered meta would commit a meta without the layout
            # marker and wedge every later fold
            raise RuntimeError(
                f"span state at {state_path} has an interrupted "
                "rebucket_state migration (staged pending carries no "
                "tiered layout); finish it first — re-run "
                "rebucket_state()/rebucket_corpus() — then migrate"
            )
        if n_buckets is not None and staged["n_buckets"] != nb:
            raise RuntimeError(
                "migrate_spans_to_tiered: a pending migration is staged "
                f"at n_buckets={staged['n_buckets']} but was called with "
                f"n_buckets={nb} — re-run with the staged count to finish "
                "it, then rebucket"
            )
        new_meta = staged  # resume at the staged count
        nb = int(new_meta["n_buckets"])
    else:
        atomic_json_write(pending, new_meta)

    cdir = f"{state_path}/c_000000000"  # legacy chains have no c_* dirs
    if not _os.path.exists(f"{cdir}/_covered.json"):
        st = _compose(spark, state_path, None)
        if st is None:
            st = spark.createDataFrame(
                [], f"window int, {_KEY} binary, keeper_id long, "
                "n_copies long, n_docs long"
            )
        cols = {c for c in st.columns}
        if "window" not in cols:
            ws = read_span_windows(state_path)
            st = st.withColumn(
                "window", F.lit(ws[0] if ws else None).cast("int")
            )
        if (
            span_meta.get("key_encoding") != _ENCODING
            and dict(st.dtypes)[_KEY] == "string"
        ):
            # pre-binary state: hex-string keys convert here, once
            # (dtype-gated: an EMPTY legacy state composes to the
            # schema-bearing fallback frame, whose key is already
            # binary — unhex on binary would fail analysis)
            st = st.withColumn(_KEY, F.unhex(F.col(_KEY)))
        if _os.path.exists(cdir):  # crashed, uncommitted attempt
            _shutil.rmtree(cdir, ignore_errors=True)
        _write_slice(st.select(*_COLS), cdir, _KEY, nb)
        atomic_json_write(f"{cdir}/{_TIER_NAME}", {"level": 1})
        # the legacy chain's v_*_b{id} names ARE its replay records —
        # carry them into the manifest as covered b_{id} slice names,
        # so a stream that crashed between its last fold and the
        # checkpoint commit replays that batch as a covered-id no-op
        # instead of double-counting it into the migrated state
        import re as _re

        from rental_data_pipeline_spark.streaming.incremental import (
            _state_versions,
        )
        from rental_data_pipeline_spark.streaming.slices import (
            REPLAY_HORIZON,
        )

        # COMMITTED versions only (_state_versions): a crashed fold's
        # marker-less v_* dir holds a batch whose rows _compose above
        # did NOT include — naming its id covered would turn the
        # stream's post-restart replay of that batch into a no-op and
        # silently lose its span statistics
        bids = sorted(
            {
                int(m.group(1))
                for v in _state_versions(state_path)
                for m in [
                    _re.fullmatch(
                        r"v_\d{9}_b(\d{9})", _os.path.basename(v)
                    )
                ]
                if m is not None
            }
        )
        # pruned to the replay horizon like every tiered manifest: a
        # years-old legacy chain carries one record per batch ever
        # folded, but replay detection only consults the window between
        # the last fold and the stream checkpoint commit
        covered = [
            f"b_{b:09d}"
            for b in bids
            if not bids or b > bids[-1] - REPLAY_HORIZON
        ]
        atomic_json_write(f"{cdir}/_covered.json", covered)

    atomic_json_write(f"{state_path}/_meta.json", new_meta)
    # commit point: the read/fold dispatch flips to tiered
    atomic_json_write(
        f"{state_path}/_span_window.json",
        {
            "windows": read_span_windows(state_path),
            "key_encoding": _ENCODING,
            "layout": _LAYOUT,
        },
    )
    for v in _glob.glob(f"{state_path}/v_*"):
        _shutil.rmtree(v, ignore_errors=True)
    _os.remove(pending)
    return True


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
    (span_hash, keeper_id, n_copies, n_docs) plus ``window``; binary
    state keys convert back to hex strings at this boundary (legacy
    string-keyed states pass through unchanged)."""
    state = read_span_state(spark, state_path)
    if state is None:
        return None
    cols = [c for c in _COLS if c in state.columns]
    out = state.select(*cols).where(F.col("n_docs") >= min_docs)
    if "window" not in out.columns:
        # legacy single-window state: tag it from the frozen meta
        ws = read_span_windows(state_path)
        out = out.withColumn("window", F.lit(ws[0] if ws else None))
    if window is not None:
        out = out.where(F.col("window") == int(window))
    if _span_meta(state_path).get("key_encoding") == _ENCODING:
        out = out.withColumn(_KEY, F.lower(F.hex(F.col(_KEY))))
    return out.select("window", _KEY, "keeper_id", "n_copies", "n_docs")
