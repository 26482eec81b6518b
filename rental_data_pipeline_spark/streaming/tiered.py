"""Size-tiered slice store for ASSOCIATIVE keyed folds — the state
layout for folds whose per-batch key count exceeds any reasonable
bucket count.

The merge-on-write bucketed state (``incremental.bucketed_keyed_fold``)
rewrites each touched bucket's merged content per fold. That is
O(batch × rows-per-bucket) when batch keys ≪ n_buckets — flat under
the ``suggest_rebucket`` occupancy watermark, the right trade for the
CDC and curation states whose batches carry hundreds of keys. The
span-hash state inverts the ratio: a 200-doc batch contributes ~10⁴
uniformly-hashed span keys, touching EVERY bucket at any bucket count
a filesystem tolerates, so the "delta" degenerates into a full-state
rewrite per fold (measured: 17 MB written per 200-doc fold at 30 MB
state, 179 MB at 313 MB state — exactly O(state);
``scripts/span_compaction_churn.py``). No occupancy watermark can fix
that; the LAYOUT must change.

This store writes pure O(batch) delta slices and defers merging:

- **fold**: the batch's pre-aggregated rows land as one ``b_*`` slice
  (hash-bucketed by key for downstream layout, ``_SUCCESS``-gated,
  idempotent per batch id — the shared slice protocol of the dedup
  index / sketch / df streams). NO state read, NO state rewrite.
- **read**: union of the live slices reduced by the fold's own
  ``reduce_fn`` (merge-on-read). Read amplification is bounded by the
  compaction fan-ins: at most ``compact_every`` level-0 + ``fanin``
  slices per higher level.
- **compaction, size-tiered**: when ``compact_every`` level-0 slices
  accumulate they merge into ONE level-1 ``c_*`` slice (cost
  O(compact_every × batch) — never touches the base); when ``fanin``
  level-L slices accumulate they merge into one level-L+1 slice.
  Levels grow geometrically, so the amortized rewrite per fold is
  O(batch × log_fanin(state/batch)) — the classic size-tiered LSM
  bound — instead of O(state)/cadence.

Crash safety rides the shared manifest protocol
(``slices.committed``): a compaction is committed by its
``_covered.json`` (written LAST); a crash before it leaves an
invisible ``c_*`` dir whose sources stay live (swept later). Covered
sources are never deleted inline — physical deletion belongs to the
sweep, which honors a ``sweep_grace_sec`` retention window (the
lakehouse vacuum discipline) so a reader that listed slices just
before a compaction commit keeps its files while it scans; the
default grace of 0 sweeps within the same fold call. Manifests
record coverage TRANSITIVELY (direct sources plus everything those
sources covered), so ``slice_id_compacted``'s covered-id replay
contract survives any number of compaction generations — without
that, deleting a covered ``c_*`` would orphan the ``b_*`` ids it had
covered and a crash-window replay would double-count a batch.

``reduce_fn(union_of_slices) -> merged rows`` must be a pure
associative/commutative keyed reduction (the union of any partition of
the slices reduces to the same rows) — exactly the property that lets
the read and every compaction level share one function. Every slice is
keyed-unique (a batch slice is the fold's pre-aggregate, a compaction
slice is a reduction output), so a single-slice read skips the
reduction entirely.

This store keeps NO version history (a compaction's sources become
garbage at its commit; the grace window is reader protection, not
time travel) — deliberately: its one tenant's time-travel contract is
served at the corpus level by re-deriving from the never-compacted
keeper event log (``read_incremental_corpus(as_of_batch=)``), and
keeping superseded span slices would double the dominant state table
to serve reads the event log already serves.

Reference: the reference's state handling is a full JSON rewrite per
run (``parse_data.py:131-132,217-223``); this store exists so the one
state table whose batches touch every bucket never inherits that
shape at scale.
"""

from __future__ import annotations

import glob as _glob
import json as _json
import os as _os
import shutil as _shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from rental_data_pipeline_spark.streaming.incremental import (
    BUCKET_COL,
    N_STATE_BUCKETS,
)
from rental_data_pipeline_spark.streaming.slices import (
    B_SLICE_RE,
    REPLAY_HORIZON,
    _META_NAME,
    _assert_no_pending_rebucket,
    _bdir,
    _bucket_of,
    _ensure_meta,
    _read_manifest,
    _read_meta,
    _read_union,
    atomic_json_write,
    begin_fold,
    bucket_watermark,
    covered_bytes_retained,
    next_slice_dir,
    parquet_rows,
    rebucket,
    committed,
    sweep_covered_slices,
    write_slice,
)

_TIER_NAME = "_tier.json"

import re as _re

# only names this module writes participate in listing, numbering,
# compaction and sweeping — a stray operator entry (c_000000003.bak,
# editor droppings) is IGNORED, never parsed, double-counted or
# deleted (the `_all_version_dirs` discipline of the version chain)
_SLICE_RE = _re.compile(r"[bc]_\d{9}")


def _slice_level(d: str) -> int:
    """A slice's tier: ``b_*`` batch slices are level 0; ``c_*``
    compactions carry their level in ``_tier.json``, which
    :func:`_compact_once` writes before the commit manifest, so every
    committed ``c_*`` has one."""
    if _os.path.basename(d).startswith("b_"):
        return 0
    with open(f"{d}/{_TIER_NAME}") as f:
        return int(_json.load(f)["level"])


def _write_slice(
    merged: DataFrame, out_dir: str, key: str, n_buckets: int
) -> None:
    """One bucketed slice write (``slices.write_slice``), staged in a
    ``t_*`` dir and RENAMED into place, because Spark's ``_SUCCESS``
    lands before the empty-frame fallback runs — a crash in that gap
    would otherwise commit a marker-bearing, parquet-less slice that
    replay treats as folded and every later read chokes on. The rename
    is the commit."""
    tdir = f"{_os.path.dirname(out_dir)}/t_{_os.path.basename(out_dir)}"
    _shutil.rmtree(tdir, ignore_errors=True)
    dp = merged.sparkSession.sparkContext.defaultParallelism
    write_slice(
        merged.drop(BUCKET_COL).withColumn(
            BUCKET_COL, _bucket_of(key, n_buckets)
        ),
        tdir, BUCKET_COL, n_parts=min(n_buckets, dp),
    )
    _os.rename(tdir, out_dir)


def _sweep(state_path: str, grace_sec: float | None = None) -> None:
    """Physically delete garbage: slices a committed compaction covers
    (deletion is DEFERRED out of the commit path — see
    :func:`maybe_compact`), uncommitted ``c_*`` dirs (crash before
    manifest — their sources are still live), and ``t_*`` staging dirs
    a crash mid-write abandoned. The covered/uncommitted reclamation
    is the SHARED GC (``slices.sweep_covered_slices``): only dirs
    a committed manifest names — or canonical manifest-less ``c_*``
    dirs — are touched, so an operator's stray entry is never deleted,
    and the grace window (``None`` = the table's persisted
    ``set_gc_grace`` setting) keeps a covered slice on disk until its
    covering commit is that old, protecting concurrent readers."""
    sweep_covered_slices(
        state_path, grace_sec, uncommitted_re=_SLICE_RE
    )
    for t in _glob.glob(f"{state_path}/t_*"):
        _shutil.rmtree(t, ignore_errors=True)


def _compact_once(
    spark: SparkSession,
    state_path: str,
    dirs: list[str],
    out_level: int,
    reduce_fn,
    key: str,
    n_buckets: int,
) -> None:
    """Merge ``dirs`` into one level-``out_level`` slice. Commit order:
    parquet (+``_SUCCESS``) → ``_tier.json`` → ``_covered.json``
    (COMMIT, transitive). The sources become garbage at the manifest
    write but are NOT deleted here — physical deletion is the sweep's
    job (:func:`_sweep`), so a grace window can protect readers that
    listed them before the commit."""
    cdir = next_slice_dir(state_path)
    _write_slice(reduce_fn(_read_union(spark, dirs)), cdir, key, n_buckets)
    atomic_json_write(f"{cdir}/{_TIER_NAME}", {"level": out_level})
    # transitive coverage, PRUNED to what the contracts still need:
    # the sources AND everything they covered — so covered-id replay
    # detection survives source deletion — but an inherited name is
    # carried forward only while some contract can still consult it:
    # it is still on disk (the listing must keep hiding it and the
    # graced sweep must still find it), or it is a b_* batch id within
    # REPLAY_HORIZON of the newest covered id (replay detection only
    # ever looks at the window between the last fold and the stream
    # checkpoint commit). Without the prune every manifest carries
    # every batch id ever folded and the O(batch) fold's metadata cost
    # silently degrades to O(stream lifetime).
    direct = {_os.path.basename(d) for d in dirs}
    inherited: set[str] = set()
    for d in dirs:
        inherited.update(_read_manifest(f"{d}/_covered.json") or ())
    b_max = max(
        (
            int(n[2:])
            for n in (direct | inherited)
            if B_SLICE_RE.fullmatch(n)
        ),
        default=-1,
    )
    covered = set(direct)
    for n in inherited - direct:
        if _os.path.exists(f"{state_path}/{n}"):
            covered.add(n)
        elif (
            B_SLICE_RE.fullmatch(n)
            and int(n[2:]) > b_max - REPLAY_HORIZON
        ):
            covered.add(n)
    atomic_json_write(f"{cdir}/_covered.json", sorted(covered))


def maybe_compact(
    spark: SparkSession,
    state_path: str,
    reduce_fn,
    compact_every: int = 16,
    fanin: int = 8,
    force_full: bool = False,
    n_buckets: int | None = None,
    sweep_grace_sec: float | None = None,
) -> bool:
    """Run every due size-tiered compaction: level 0 merges at
    ``compact_every`` slices, higher levels at ``fanin``. Cascades
    (a level-1 merge can trip level 2) until nothing is due.
    ``force_full`` merges ALL live slices into one top slice regardless
    of counts (rebucket / measurement hook). Returns True if any
    compaction ran.

    A compaction COMMITS at its manifest write; the covered sources
    are deleted by the surrounding sweeps, never inline —
    ``sweep_grace_sec`` keeps them on disk until their covering commit
    is that old, protecting concurrent readers that listed slices just
    before the commit (set it above the longest expected read; the
    extra disk is bounded by one compaction's inputs per window).
    ``None`` (the default) reads the table's persisted ``set_gc_grace``
    setting — table-level so the sweeps inside stream folds honor it —
    and an unconfigured table deletes within this call, the
    single-process behavior."""
    if fanin < 2 or compact_every < 1:
        # fanin=1 would make a single level-L slice perpetually "due",
        # and the cascade loop would rewrite the full state forever
        # inside the stream fold
        raise ValueError(
            f"maybe_compact: fanin must be >= 2 and compact_every >= 1 "
            f"(got fanin={fanin}, compact_every={compact_every})"
        )
    meta = _read_meta(state_path)
    if meta is None:
        return False
    key = meta["key"]
    nb = int(n_buckets if n_buckets is not None else meta["n_buckets"])
    _sweep(state_path, grace_sec=sweep_grace_sec)
    ran = False
    if force_full:
        dirs = committed(state_path)
        if dirs:
            top = max(_slice_level(d) for d in dirs)
            _compact_once(
                spark, state_path, dirs, top + 1, reduce_fn, key, nb
            )
            ran = True
    else:
        while True:
            by_level: dict[int, list[str]] = {}
            for d in committed(state_path):
                by_level.setdefault(_slice_level(d), []).append(d)
            due = None
            for lvl in sorted(by_level):
                fan = compact_every if lvl == 0 else fanin
                if len(by_level[lvl]) >= fan:
                    due = (lvl, sorted(by_level[lvl]))
                    break
            if due is None:
                break
            lvl, dirs = due
            _compact_once(
                spark, state_path, dirs, lvl + 1, reduce_fn, key, nb
            )
            ran = True
    if ran:
        # the just-covered sources: gone now at grace 0, kept for the
        # window otherwise (a later sweep collects them)
        _sweep(state_path, grace_sec=sweep_grace_sec)
    return ran


def tiered_fold(
    batch_agg: DataFrame,
    batch_id: int,
    state_path: str,
    key: str,
    reduce_fn,
    n_buckets: int = N_STATE_BUCKETS,
    compact_every: int = 16,
    fanin: int = 8,
    sweep_grace_sec: float | None = None,
) -> None:
    """Fold one batch's PRE-AGGREGATED rows as a pure delta slice,
    then run any due compactions. O(batch) write — the state is never
    read, let alone rewritten, on the fold path. Idempotent per
    ``batch_id`` (committed replay and covered-id replay are both
    no-ops); a crashed attempt's marker-less dir is rewritten
    wholesale. ``sweep_grace_sec`` defers physical deletion of
    compacted-away slices for concurrent readers (see
    :func:`maybe_compact`)."""
    if not begin_fold(state_path, batch_id, (None,)):
        return  # committed replay (or folded then compacted away)
    meta = _ensure_meta(state_path, n_buckets, key=key, layout="tiered")
    if meta.get("layout") != "tiered":
        # a merge-on-write (v_*) table's _meta.json — folding tiered
        # slices next to a version chain would give readers two
        # half-states
        raise ValueError(
            f"state at {state_path} uses the merge-on-write layout; "
            "refusing a tiered fold into it (rebuild, or keep "
            "folding with bucketed_keyed_fold)"
        )
    spark = batch_agg.sparkSession
    _write_slice(
        batch_agg, _bdir(state_path, None, batch_id),
        meta["key"], int(meta["n_buckets"]),
    )
    maybe_compact(
        spark, state_path, reduce_fn,
        compact_every=compact_every, fanin=fanin,
        sweep_grace_sec=sweep_grace_sec,
    )


def read_tiered(
    spark: SparkSession, state_path: str, reduce_fn
) -> DataFrame | None:
    """The merged state: live slices unioned and reduced (merge-on-
    read). None before the first committed fold. Slice count — hence
    plan size — is bounded by the compaction fan-ins. A single live
    slice (the steady state right after a compaction) skips the
    reduction: every slice is keyed-unique by contract (a batch slice
    is the fold's pre-aggregate, a compaction slice is a reduction
    output), so reducing one slice is the identity — no shuffle."""
    _assert_no_pending_rebucket(state_path)
    dirs = committed(state_path)
    if not dirs:
        return None
    if len(dirs) == 1:
        return spark.read.parquet(dirs[0]).drop(BUCKET_COL)
    return reduce_fn(_read_union(spark, dirs).drop(BUCKET_COL))


def suggest_rebucket_tiered(
    spark: SparkSession,
    state_path: str,
    reduce_fn,
    target_rows_per_bucket: int = 100_000,
    growth_factor: float = 2.0,
) -> dict:
    """Occupancy watermark for :func:`rebucket_tiered` — same report
    shape as ``incremental.suggest_rebucket``. Buckets here size FILES
    (compaction output layout), not fold cost (the fold never reads
    them), so the default target is file-sized (~100k rows ≈ a few MB)
    rather than fold-sized.

    The report also carries the READ-AMPLIFICATION watermark:
    ``live_slices`` (how many slices every merge-on-read unions —
    bounded by the compaction fan-ins in steady state, but a stopped
    stream freezes whatever backlog its last fold left) and
    ``slices_by_level``. A maintenance window can reset both to 1 with
    ``maybe_compact(force_full=True)`` (one O(state) pass) so
    subsequent reads take the single-slice fast path — that is
    :func:`corpus_stream.maintain_corpus`'s ``compact_spans`` knob.
    On a single live slice the row count itself comes from parquet
    FOOTERS (keyed-unique by contract — exact, no Spark job): the
    poll of the corpus's largest table must not cost a scan of it."""
    meta = _read_meta(state_path)
    if meta is None:
        raise ValueError(
            f"not a tiered state table (no {_META_NAME}): {state_path}"
        )
    # the footer fast path below never reads the state, so it must
    # refuse a half-migrated table EXPLICITLY (the read path's guard):
    # an interrupted rebucket leaves exactly ONE live slice — bucketed
    # at the staged count the stale meta here does not describe
    _assert_no_pending_rebucket(state_path)
    dirs = committed(state_path)
    by_level: dict[int, int] = {}
    for d in dirs:
        lvl = _slice_level(d)
        by_level[lvl] = by_level.get(lvl, 0) + 1
    exact = True
    if len(dirs) == 1:
        # keyed-unique single slice (the steady state right after a
        # compaction): parquet footer sums are the exact row count —
        # no Spark job, no scan of a state that is by design the
        # largest table in the corpus
        n = parquet_rows(dirs[0])
    else:
        # multi-slice (the running-stream steady state): the footer
        # sum across slices is an UPPER bound (the same key may live
        # in several slices before compaction merges them). If even
        # the upper bound says "not due", the true count cannot be
        # due either — answer from footers, zero Spark jobs, report
        # rows_exact=False. Only when the bound crosses the watermark
        # does the poll pay the exact merge-on-read count that
        # decides the actual target.
        upper = sum(parquet_rows(d) for d in dirs)
        if upper <= int(meta["n_buckets"]) * target_rows_per_bucket:
            n = upper  # target stays at n_buckets -> provably not due
            exact = False
        else:
            st = read_tiered(spark, state_path, reduce_fn)
            n = 0 if st is None else st.count()
    return {
        **bucket_watermark(
            n, int(meta["n_buckets"]), target_rows_per_bucket, growth_factor
        ),
        # False only on the scan-free multi-slice fast path, where
        # state_rows is the footer UPPER bound (overcount ≤ the
        # fan-in) — sufficient to prove "not due", not a merged count
        "rows_exact": exact,
        "live_slices": len(dirs),
        "slices_by_level": {str(k): by_level[k] for k in sorted(by_level)},
        # disk the GC grace window is holding for concurrent readers
        # (covered slices the sweep has not reclaimed) — invisible to
        # reads, pure retention cost, so the watermark surfaces it
        "covered_bytes_retained": covered_bytes_retained(state_path),
    }


def rebucket_tiered(
    spark: SparkSession,
    state_path: str,
    new_n_buckets: int,
    reduce_fn,
) -> bool:
    """OFFLINE migration to a new bucket count under the shared
    ``slices.rebucket`` protocol (staged pending, resume at the staged
    count, meta swap as the commit point): a forced full compaction
    under the NEW count. Returns True when a migration ran."""
    meta = _read_meta(state_path)
    if meta is not None and meta.get("layout") != "tiered":
        # pointing this at a merge-on-write (v_*) table would find no
        # slices, no-op the compaction, and still swap n_buckets in
        # _meta.json — silently corrupting every later bucket-pruned
        # fold. Refuse like every sibling entry point.
        raise ValueError(
            f"state at {state_path} uses the merge-on-write layout; "
            "rebucket it with rebucket_state()"
        )
    return rebucket(
        state_path, new_n_buckets,
        partial(maybe_compact, spark, state_path, reduce_fn, force_full=True),
    )
