"""The slice-store protocol: the one on-disk format of every append-only
incremental state table (the dedup index, the SimHash index, the
vocabulary, the union-find labels, the HLL registers, the tiered span
state and the corpus job's per-batch slices), plus the frozen bucket
meta and rebucket skeleton the versioned ``v_*`` table
(``incremental``) shares.

A store lives under one root directory:

- ``{sub}/b_#########`` — one BATCH slice per folded batch id. A store
  whose batch spans several sub-tables writes one GATE sub-table LAST;
  a ``b_*`` slice of any other sub-table is visible only once
  ``{gate}/b_*/_SUCCESS`` exists (:func:`committed`), so readers never
  see half a batch, and a replayed batch whose gate is committed is a
  no-op (:func:`begin_fold`).
- ``{sub}/c_#########`` — a COMPACTION: the merged content of the
  slices its ``_covered.json`` manifest names. The manifest, written
  after the parquet ``_SUCCESS``, is the commit: readers skip every
  covered dir, so a crash between the merged write and the source
  deletion never double-counts, and a crash before the manifest leaves
  an invisible ``c_*`` dir that the sweep reclaims
  (:func:`compact_slices`, :func:`sweep_covered_slices`).
- ``_meta.json`` — the bucket count, frozen at table creation: the
  bucket is a pure function of (key, n_buckets), so reading a table
  with a different count would silently miss rows during
  bucket-pruned probes. ``_meta.json.pending`` is a staged rebucket;
  folds, reads and occupancy polls refuse while it exists
  (:func:`rebucket`).
- ``_gc.json`` — the table-level GC grace (:func:`set_gc_grace`).

Only CANONICAL names (``b_``/``c_`` plus nine digits) take part in
listing, numbering, compaction and sweeping: an operator's stray copy
(``c_000000003.bak``, ``b_000000001 copy``) carries ``_SUCCESS`` and a
manifest just the same, and listing it would double-count its rows in
every SUM-style merge-on-read.
"""

from __future__ import annotations

import glob as _glob
import json as _json
import numbers as _numbers
import os as _os
import re as _re
import shutil as _shutil
import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_META_NAME = "_meta.json"  # '_' prefix: invisible to Spark's file listing
_META_PENDING = "_meta.json.pending"
_MANIFEST = "_covered.json"
_GC_NAME = "_gc.json"

B_SLICE_RE = _re.compile(r"b_\d{9}")
C_SLICE_RE = _re.compile(r"c_\d{9}")

# how far back (in batch ordinals) covered-id replay detection reaches:
# the tiered store's manifests prune inherited b_* ids older than the
# newest covered id minus this horizon, so transitive coverage stays
# O(horizon) instead of growing one id per batch for the stream's
# lifetime (a force_full compaction would otherwise write a manifest
# naming every batch ever folded, and manifest_covered re-parses every
# manifest on every fold); the versioned store bounds its pruned-batch
# replay record by it too. Structured Streaming replays at most the
# single batch between the last fold and the checkpoint commit, so any
# positive horizon covers the crash window — 4096 keeps the metadata
# cost trivial (~50 KB) while absorbing operator re-runs far beyond it.
REPLAY_HORIZON = 4096


def _bucket_of(key_col: str, n_buckets: int):
    """Deterministic bucket id for a key: ``pmod(xxhash64(key), N)``.
    The key is hashed through its string form so the bucket survives a
    key-type migration (long → string) within one state table. The ONE
    bucket function for every hash-partitioned streaming state layout."""
    return F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets))


def _sub(root: str, sub: str | None) -> str:
    return f"{root}/{sub}" if sub else root


def _bdir(root: str, sub: str | None, batch_id: int) -> str:
    """The batch slice dir of ``batch_id`` in sub-table ``sub`` (None:
    a store whose slices sit directly under ``root``)."""
    return f"{_sub(root, sub)}/b_{batch_id:09d}"


# ---------------------------------------------------------------------------
# Small durable-file helpers
# ---------------------------------------------------------------------------


def atomic_json_write(path: str, obj) -> None:
    """tmp + os.replace — a crash mid-write must never leave truncated
    JSON behind. The one writer for manifests, watermarks and meta."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        _json.dump(obj, f)
    _os.replace(tmp, path)


def _read_json(path: str):
    if not _os.path.exists(path):
        return None
    with open(path) as f:
        return _json.load(f)


def _read_manifest(path: str) -> list | None:
    """The compaction manifest, or None when missing OR truncated — a
    crash mid-write must demote the compaction to invisible (its
    source dirs are still live), not wedge every later listing with a
    JSON parse error. Writers use tmp+rename, so this tolerance only
    matters for legacy dirs and torn filesystems."""
    try:
        return _read_json(path)
    except ValueError:
        return None


def has_part_files(root: str) -> bool:
    """Whether a just-written parquet root contains any data files: a
    zero-ROW ``partitionBy`` write leaves only ``_SUCCESS`` (no
    readable part file), which wedges every later schema-inferring
    read of the dir. Checked after the write so the hot (non-empty)
    path costs no extra Spark job."""
    for _dirpath, _dirs, files in _os.walk(root):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def parquet_rows(path: str) -> int:
    """Exact row count from parquet FOOTERS under ``path`` — no Spark
    job, no data scan. The maintenance watermarks use this whenever
    the layout makes footer sums exact: at a multi-TB state the
    occupancy poll must not cost a full table scan."""
    import pyarrow.parquet as _pq

    return sum(
        _pq.ParquetFile(f).metadata.num_rows
        for f in _glob.glob(f"{path}/**/*.parquet", recursive=True)
    )


# ---------------------------------------------------------------------------
# Listing
# ---------------------------------------------------------------------------


def success_dirs(pattern: str) -> list[str]:
    """Committed (``_SUCCESS``-gated) directories matching a glob."""
    return sorted(
        d for d in _glob.glob(pattern) if _os.path.exists(f"{d}/_SUCCESS")
    )


def manifest_covered(root: str) -> set[str]:
    """Slice dirs shadowed by a committed compaction under ``root``:
    every dir listed in a canonical ``c_*`` dir's manifest (a stray
    copy's manifest must not get a vote — it could shadow a live
    slice)."""
    out: set[str] = set()
    for c in _glob.glob(f"{root}/c_*"):
        if not C_SLICE_RE.fullmatch(_os.path.basename(c)):
            continue
        if _os.path.exists(f"{c}/_SUCCESS"):
            out.update(_read_manifest(f"{c}/{_MANIFEST}") or ())
    return out


def slice_id_compacted(root: str, batch_id: int) -> bool:
    """Whether slice ``b_<batch_id>`` was folded AND compacted away
    (its name appears in a committed ``c_*`` manifest under ``root``).
    Folds must treat a covered id as a COMMITTED REPLAY and no-op: the
    slice's ``_SUCCESS`` is deleted by compaction, but the batch's
    content lives on in the consolidated slice. Without this check a
    crash between a fold's inline compaction and the stream checkpoint
    commit would make the replay rewrite the batch as a permanently
    invisible (covered) slice."""
    return f"b_{batch_id:09d}" in manifest_covered(root)


def committed(
    root: str, sub: str | None = None, gate: str | None = None
) -> list[str]:
    """The LIVE slice dirs of sub-table ``sub`` (None: directly under
    ``root``): ``b_*`` batch slices plus manifest-committed ``c_*``
    compactions, minus anything a committed manifest covers, canonical
    names only. With a ``gate``, a ``b_*`` slice is visible only once
    ``{gate}/{b}/_SUCCESS`` exists: the fold writes ``gate`` LAST, so a
    slice without its gate counterpart belongs to a crashed,
    not-yet-replayed attempt. ``c_*`` compactions only ever cover
    batch-committed slices and pass through; the gate sub-table gates
    on itself trivially."""
    path = _sub(root, sub)
    covered = manifest_covered(path)
    out = []
    for pat, regex in (("b_*", B_SLICE_RE), ("c_*", C_SLICE_RE)):
        for d in success_dirs(f"{path}/{pat}"):
            name = _os.path.basename(d)
            if not regex.fullmatch(name) or name in covered:
                continue
            # a c_* dir without a VALID manifest is an uncommitted
            # compaction (crash before/mid manifest): invisible, its
            # source dirs are still live
            if pat == "c_*" and _read_manifest(f"{d}/{_MANIFEST}") is None:
                continue
            if (
                pat == "b_*"
                and gate not in (None, sub)
                and not _os.path.exists(f"{_sub(root, gate)}/{name}/_SUCCESS")
            ):
                continue
            out.append(d)
    return sorted(out)


def _read_union(spark: SparkSession, dirs: list[str]) -> DataFrame | None:
    """The union of slice dirs, or None for none. Per-dir reads: each
    slice is its own partitioned table (the ``b_*`` path fragment
    between a shared basePath and the bucket dirs would break partition
    discovery in a single multi-path read)."""
    if not dirs:
        return None
    out = spark.read.parquet(dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(spark.read.parquet(d), allowMissingColumns=True)
    return out


def _pruned_subdirs(
    dirs: list[str], part_col: str, touched: list[int]
) -> list[str]:
    """The bucket partition dirs under each slice that intersect
    ``touched`` — the pruned read set for a probe. Buckets a batch does
    not touch cannot share a key with it (the bucket is a pure function
    of the key), so pruning is lossless."""
    want = set(touched)
    return [
        p
        for d in dirs
        for p in _glob.glob(f"{d}/{part_col}=*")
        if int(_os.path.basename(p).split("=")[1]) in want
    ]


def occupancy_rows(
    root: str,
    sub: str | None,
    gate: str | None = None,
    summed: bool = False,
) -> int | None:
    """Exact live row count of sub-table ``sub`` from parquet FOOTERS —
    zero Spark jobs, the maintenance watermark's poll path — over the
    same batch-gated listing the readers use, so a crashed fold's slice
    is excluded exactly as the reader excludes it. ``summed`` stores
    merge slices on read (a key repeats across slices): their footer
    total is exact only for a single live slice, else None and the
    caller must reduce."""
    _assert_no_pending_rebucket(root)
    dirs = committed(root, sub, gate)
    if summed and len(dirs) > 1:
        return None
    return sum(parquet_rows(d) for d in dirs)


def bucket_watermark(
    rows: int,
    n_buckets: int,
    target_rows_per_bucket: int,
    growth_factor: float,
) -> dict:
    """The occupancy watermark every bucketed table reports: the
    smallest power-of-two multiple of ``n_buckets`` holding at most
    ``target_rows_per_bucket`` rows per bucket, ``due`` once it
    reaches ``growth_factor`` x the current count."""
    target = n_buckets
    while target * target_rows_per_bucket < rows:
        target *= 2
    return {
        "state_rows": rows,
        "n_buckets": n_buckets,
        "rows_per_bucket": round(rows / max(n_buckets, 1), 1),
        "target_n_buckets": target,
        "due": target >= growth_factor * n_buckets,
    }


def next_slice_dir(parent: str, prefix: str = "c_") -> str:
    """Path of the next free canonical ``{prefix}#########`` slice dir
    under ``parent``. The max scans CANONICAL names only: the graced
    sweep deliberately preserves a non-canonical ``c_*`` entry, so an
    unguarded ``int(basename[2:])`` would turn that stray into a
    permanent compaction crash at every fold."""
    pat = _re.compile(_re.escape(prefix) + r"\d{9}")
    n = max(
        (
            int(_os.path.basename(d)[len(prefix):])
            for d in _glob.glob(f"{parent}/{prefix}*")
            if pat.fullmatch(_os.path.basename(d))
        ),
        default=-1,
    ) + 1
    return f"{parent}/{prefix}{n:09d}"


# ---------------------------------------------------------------------------
# Garbage collection
# ---------------------------------------------------------------------------


def set_gc_grace(table_path: str, grace_sec: float) -> None:
    """Persist a table-level GC retention window (``_gc.json``): every
    sweep under this table — including the ones the STREAM FOLDS
    trigger at their ``compact_every`` cadence, which an operator
    cannot pass arguments to — keeps covered slices on disk until
    their covering compaction commit is at least this old. Set it
    above the longest expected concurrent read; 0 (the default when
    the file is absent) reclaims immediately."""
    _os.makedirs(table_path, exist_ok=True)
    atomic_json_write(
        f"{table_path}/{_GC_NAME}", {"grace_sec": float(grace_sec)}
    )


def read_gc_grace(table_path: str) -> float:
    """The table's persisted GC grace (``set_gc_grace``), 0.0 when
    never configured."""
    try:
        return float((_read_json(f"{table_path}/{_GC_NAME}") or {}).get(
            "grace_sec", 0.0
        ))
    except (ValueError, OSError):
        return 0.0


def sweep_covered_slices(
    root: str,
    grace_sec: float | None = None,
    commit_marker: str = "_SUCCESS",
    config_path: str | None = None,
    uncommitted_re=None,
) -> None:
    """Physically delete slice dirs under ``root`` that a COMMITTED
    ``c_*`` manifest covers — the shared GC for every compacting slice
    store. Coverage (not deletion) is the commit: readers already skip
    covered dirs, so deletion is pure disk reclamation and can be
    deferred.

    The grace keeps a covered slice until its covering MANIFEST (the
    moment after which no new reader lists it) is at least that old —
    the vacuum-retention discipline. ``grace_sec=None`` (the normal
    call shape) reads the TABLE-LEVEL setting (``set_gc_grace`` on
    ``config_path``, which defaults to ``root``); a per-call float
    overrides it. Compactions call this instead of deleting their
    sources inline, which also heals the crash-after-manifest leak.

    Only dirs NAMED IN a committed manifest are ever deleted — a stray
    operator entry never appears in one. ``commit_marker`` is the path
    (relative to the ``c_*`` dir) whose existence commits that
    compaction (the ANN appends commit on their last-written
    sub-table). ``uncommitted_re`` (fullmatched against the basename)
    also reclaims manifest-less ``c_*`` dirs — crashed compactions,
    already invisible to every reader. These have no commit event, so
    the SAME grace gates them on dir mtime, which also protects a
    concurrent compactor's not-yet-committed output."""
    g = (
        read_gc_grace(config_path if config_path is not None else root)
        if grace_sec is None
        else float(grace_sec)
    )
    now = _time.time()
    covered_at: dict[str, float] = {}
    for c in _glob.glob(f"{root}/c_*"):
        if not C_SLICE_RE.fullmatch(_os.path.basename(c)):
            # a stray entry's manifest must not get a vote: readers
            # ignore it, so honoring it here could delete a live dir
            continue
        mf = f"{c}/{_MANIFEST}"
        names = _read_manifest(mf)
        if names is None:
            if uncommitted_re is not None and uncommitted_re.fullmatch(
                _os.path.basename(c)
            ):
                try:
                    old = now - _os.path.getmtime(c) >= g
                except OSError:
                    old = False
                if old:
                    _shutil.rmtree(c, ignore_errors=True)
            continue
        if not _os.path.exists(f"{c}/{commit_marker}"):
            continue
        try:
            mt = _os.path.getmtime(mf)
        except OSError:
            continue
        for n in names:
            covered_at[n] = max(covered_at.get(n, 0.0), mt)
    for pat in ("b_*", "c_*"):
        for d in _glob.glob(f"{root}/{pat}"):
            name = _os.path.basename(d)
            if name in covered_at and now - covered_at[name] >= g:
                _shutil.rmtree(d, ignore_errors=True)


def covered_bytes_retained(root: str) -> int:
    """On-disk bytes of slice dirs a COMMITTED manifest covers but the
    sweep has not yet reclaimed — the disk the GC grace window is
    holding for concurrent readers. Driver-side filesystem walk only,
    over the same :func:`manifest_covered` listing readers and sweeps
    use, so the meter cannot drift from what they skip."""
    total = 0
    for name in manifest_covered(root):
        for dirpath, _dirs, files in _os.walk(f"{root}/{name}"):
            for fn in files:
                try:
                    total += _os.path.getsize(_os.path.join(dirpath, fn))
                except OSError:
                    pass  # swept concurrently mid-walk
    return total


# ---------------------------------------------------------------------------
# Frozen bucket meta and the pending-rebucket guard
# ---------------------------------------------------------------------------


def _read_meta(root: str) -> dict | None:
    return _read_json(f"{root}/{_META_NAME}")


def _ensure_meta(root: str, n_buckets: int, **fields) -> dict:
    """The table's layout meta, written once at creation; an existing
    table's recorded meta always wins over the caller's parameters
    (the bucket function must never change under a live table —
    :func:`rebucket` is the migration)."""
    meta = _read_meta(root)
    if meta is not None:
        return meta
    meta = {"n_buckets": int(n_buckets), **fields}
    _os.makedirs(root, exist_ok=True)
    atomic_json_write(f"{root}/{_META_NAME}", meta)
    return meta


def _frozen_n_buckets(root: str, default: int) -> int:
    """The table's frozen bucket count (``default`` seeds a new table)."""
    return int(_ensure_meta(root, default)["n_buckets"])


def _assert_no_pending_rebucket(root: str) -> None:
    """An interrupted :func:`rebucket` leaves its staged meta on disk;
    folding or reading through a half-migrated table would mix
    bucket-id semantics, so both refuse until the migration is re-run
    to completion (it resumes at the staged count)."""
    if _os.path.exists(f"{root}/{_META_PENDING}"):
        raise RuntimeError(
            f"table at {root} has an interrupted rebucket migration "
            "(pending meta present); re-run its rebucket to finish it "
            "before folding or reading"
        )


# ---------------------------------------------------------------------------
# Fold, compaction and rebucket skeletons
# ---------------------------------------------------------------------------


def begin_fold(root: str, batch_id: int, subs: tuple) -> bool:
    """The replay/crash preamble of every slice fold; ``subs`` lists
    the sub-tables the fold writes, in write order, the GATE last.
    Returns False for a COMMITTED REPLAY — the gate slice carries
    ``_SUCCESS``, or the batch was folded and compacted away — which
    the caller must no-op. Otherwise refuses a half-migrated table,
    clears the crashed attempt's slices of this batch (they are
    rewritten wholesale) and returns True."""
    if _os.path.exists(f"{_bdir(root, subs[-1], batch_id)}/_SUCCESS") or any(
        slice_id_compacted(_sub(root, s), batch_id) for s in subs
    ):
        return False
    _assert_no_pending_rebucket(root)
    for s in subs:
        _shutil.rmtree(_bdir(root, s, batch_id), ignore_errors=True)
    return True


def write_slice(
    df: DataFrame, path: str, part_col: str, n_parts: int | None = None
) -> None:
    """One slice write, hash-partitioned by the bucket column
    ``part_col`` (cast to int: partition discovery reads it back as int,
    and the empty fallback below must union cleanly with inferred
    slices). A zero-row ``partitionBy`` leaves no readable part file,
    which would wedge every later read of the slice, so an empty result
    is rewritten as a schema-bearing plain frame (post-write check: no
    extra job on the hot path)."""
    spark = df.sparkSession
    df = df.withColumn(part_col, F.col(part_col).cast("int"))
    n = n_parts
    if n is None:
        n = spark.sparkContext.defaultParallelism
    df.repartition(n, F.col(part_col)).write.mode("overwrite").partitionBy(
        part_col
    ).parquet(path)
    if not has_part_files(path):
        spark.createDataFrame([], df.schema).write.mode("overwrite").parquet(
            path
        )


def compact_slices(
    root: str,
    subs: tuple,
    merge,
    gate: str | None = None,
    min_slices: int = 2,
    force: bool = False,
    sweep_grace_sec: float | None = None,
) -> bool:
    """The compaction skeleton: sweep crashed ``c_*`` dirs, list the
    committed slices of every sub-table in ``subs``, and — once any
    sub-table holds ``min_slices`` (or always, with ``force``) — write
    each sub-table's merged content as one ``c_*`` slice, commit it by
    its manifest, and sweep the covered sources (now, or after the
    table's GC grace). ``merge(sub, dirs, cdir)`` writes the merged
    rows of ``dirs`` into ``cdir`` — the only store-specific part.
    Sub-tables are compacted in ``subs`` order. ``force`` is a
    rebucket's forced compaction, which runs under its own pending
    marker. Returns True when a compaction ran."""
    if not force:
        _assert_no_pending_rebucket(root)
    for sub in subs:
        # reclaim crashed compactions (manifest-less c_*) and covered
        # leftovers a crashed deletion stranded — grace-gated
        sweep_covered_slices(
            _sub(root, sub), sweep_grace_sec,
            config_path=root, uncommitted_re=C_SLICE_RE,
        )
    dirs = {sub: committed(root, sub, gate) for sub in subs}
    if not any(dirs.values()) or (
        not force and max(len(d) for d in dirs.values()) < min_slices
    ):
        return False
    for sub in subs:
        if not dirs[sub]:
            continue
        cdir = next_slice_dir(_sub(root, sub))
        merge(sub, dirs[sub], cdir)
        atomic_json_write(
            f"{cdir}/{_MANIFEST}",
            sorted(_os.path.basename(d) for d in dirs[sub]),
        )
        # shadowed by the manifest; reclaim now (or after the grace)
        sweep_covered_slices(
            _sub(root, sub), sweep_grace_sec, config_path=root
        )
    return True


def _valid_count(n) -> bool:
    return (
        isinstance(n, _numbers.Integral) and not isinstance(n, bool) and n >= 1
    )


def rebucket(
    root: str, new_n_buckets: int, migrate, staged_fields: dict | None = None
) -> bool:
    """OFFLINE migration of a live bucketed table to a new bucket count
    — the path from the local-mode defaults to production scale
    without abandoning the table. ``migrate(n_buckets=N, **fields)``
    rewrites the whole table under ``N``: a slice store's compaction
    forced with that count (``functools.partial(compact_index, spark,
    path)``), or the versioned table's full-snapshot version.

    Crash-safe via a staged ``_meta.json.pending`` — the new meta plus
    ``staged_fields`` (also handed to ``migrate``), written before
    anything else; a hand-staged pending that lacks one of those fields
    takes the caller's value. Folds, reads and compactions refuse while
    it exists, and re-running resumes AT THE STAGED COUNT, whatever the
    caller passes — ``rebucket_corpus`` resumes with the CURRENT meta
    count, so honoring the caller would silently revert a half-done
    migration to the old layout. The staged meta is merged OVER the
    committed one, so a hand-staged ``{"n_buckets": N}`` cannot drop
    other meta fields. The meta swap is the commit point. Must not run
    concurrently with a fold.

    A count that is not an int >= 1 raises ``ValueError`` before
    anything is staged; a pending left staged at such a count (it can
    never finish — its forced compaction fails) is discarded. Returns
    True when a migration ran, False for a no-op."""
    if not _valid_count(new_n_buckets):
        raise ValueError(
            f"rebucket: n_buckets must be an int >= 1, got {new_n_buckets!r}"
        )
    meta = _read_meta(root)
    if meta is None:
        raise ValueError(f"not a bucketed table (no {_META_NAME}): {root}")
    pending = f"{root}/{_META_PENDING}"
    staged = _read_json(pending)
    if staged is not None and not _valid_count(staged.get("n_buckets")):
        _os.remove(pending)
        staged = None
    fields = dict(staged_fields or {})
    if staged is not None:
        new_meta = {**meta, **fields, **staged}
    else:
        if int(meta["n_buckets"]) == int(new_n_buckets):
            return False
        new_meta = {**meta, **fields, "n_buckets": int(new_n_buckets)}
        # atomic stage: a torn pending would both wedge the table and
        # crash every resume at json.load
        atomic_json_write(pending, new_meta)
    migrate(
        n_buckets=int(new_meta["n_buckets"]),
        **{k: new_meta[k] for k in fields},
    )
    atomic_json_write(f"{root}/{_META_NAME}", new_meta)
    _os.remove(pending)
    return True
