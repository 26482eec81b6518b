"""Deduplication operators for a training-data corpus: exact,
fingerprint, n-gram Jaccard, MinHash+LSH, and SimHash.

Beyond-reference training-data operators (the reference's only dedup is
last-wins by key, SURVEY §2.4 J12). Every variant here is expressed as
joins + aggregations so Catalyst/AQE own the physical plan:

- **exact / fingerprint**: one hash aggregation on a derived key —
  at 100 TB this is the cheapest possible full-corpus dedup (single
  shuffle on a 128-bit key, map-side partial agg).
- **n-gram Jaccard**: *inverted-index* pair generation — explode
  shingles, self-join on the shingle, count co-occurrences per pair —
  never a cross join. Shuffle volume is O(total shingles), and hot
  shingles (stopword runs) can be frequency-capped.
- **MinHash + LSH**: fixed-width signature (NUM_PERM=32 perms) per
  doc in ONE aggregation pass over exploded shingles, then banding
  (LSH_BANDS=8 bands x LSH_ROWS=4 rows) and a self-join on band keys. At scale this is the standard
  sub-quadratic near-dup path: candidate volume is governed by band
  collisions, not n^2; verification runs only on candidates.
- **SimHash**: 32-bit signature via per-bit majority vote of token
  hashes — one aggregation; banded self-join for Hamming-distance
  candidates.

All hashes are md5-derived (functions.hashing) so the DuckDB oracle
computes bit-identical signatures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rental_data_pipeline_spark.functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    NUM_PERM,
    minhash_perm_sql,
    portable_hash64,
)
from rental_data_pipeline_spark.operators.textstats import tokens

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8 bits per band → candidates within Hamming radius
# largest over-cap shingle set _cap_hot_shingles will broadcast; above
# this it falls back to a shuffle anti-join (~1M 8-byte hashes plus
# row overhead ≈ tens of MB per executor — comfortably under Spark's
# broadcast ceiling with headroom for wide shingle strings)
HOT_SHINGLE_BROADCAST_CAP = 1_000_000
# fallback stratification threshold: shingles with df above this are
# the ULTRA tier — by pigeonhole at most len(index)/ULTRA_DF of them
# exist, so the tier broadcasts even when the full over-cap set can't,
# and its rows (the actual stragglers) drop MAP-SIDE pre-shuffle; the
# warm remainder's per-key volume is bounded by this same number, so
# its plain shuffle anti-join has no straggler by construction
HOT_SHINGLE_ULTRA_DF = 8_000_000
# salt fan-out for the LAST-RESORT shuffle anti-join (ultra tier
# itself beyond broadcast range — index > ULTRA_DF x CAP rows): a hot
# shingle's rows spread over this many (shingle, salt) partitions,
# bounding any single task to df/NSALT rows; the small side replicates
# each over-cap shingle NSALT times
HOT_SHINGLE_SALTS = 32


import threading as _threading
import uuid as _uuid

# ``setCheckpointDir`` mutates GLOBAL SparkContext state: two threads
# checkpointing against different directories would race (one thread's
# files land in the other's dir). Every setCheckpointDir+checkpoint in
# this module holds this lock.
_CKPT_LOCK = _threading.Lock()


def _fs_delete(spark, path: str) -> None:
    """Delete a checkpoint directory through the Hadoop FileSystem API
    (filesystem-agnostic: local, HDFS, object stores)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def _materialize_release(
    result: DataFrame,
    *cached: DataFrame,
    pairs_path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run the one consuming action INSIDE the operator: eagerly
    materialize ``result`` through its persisted intermediates, then
    unpersist every intermediate. Callers get a frame with ZERO net
    CacheManager entries — no reliance on a session-level
    ``clearCache`` between queries (the round-4 cache accumulation
    finding).

    Default materialization is ``localCheckpoint`` (executor-resident
    blocks of the SMALL pair output, auto-released by Spark's
    ContextCleaner when the returned frame is dropped) — right for
    local mode and interactive use, but the blocks have NO recompute
    path: on a real cluster an executor loss mid-job loses them. Pass
    ``pairs_path`` for the cluster-safe form: the result is written as
    a parquet table and the read-back returned — storage-fault-tolerant,
    restartable, and the shape a 100 TB job wants anyway (the pair set
    IS a dataset, not a transient). ``checkpoint_dir`` is the middle
    option: a reliable ``checkpoint()`` to a unique per-call
    subdirectory of the given directory — storage-fault-tolerant like
    ``pairs_path`` but managed by Spark, no table naming needed. Note
    ``setCheckpointDir`` mutates GLOBAL SparkContext state; this module
    serializes its own checkpoint calls behind a lock, but an outside
    caller relying on its own checkpoint dir should re-set it. The
    returned frame READS from its checkpoint files, so the caller owns
    the subdirectory's lifecycle (delete it when the frame is dropped;
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` automates
    that on GC)."""
    if pairs_path is not None:
        result.write.mode("overwrite").parquet(pairs_path)
        out = result.sparkSession.read.parquet(pairs_path)
    elif checkpoint_dir is not None:
        with _CKPT_LOCK:
            result.sparkSession.sparkContext.setCheckpointDir(
                f"{checkpoint_dir}/ckpt-{_uuid.uuid4().hex[:12]}"
            )
            out = result.checkpoint(eager=True)
    else:
        out = result.localCheckpoint(eager=True)
    for f in cached:
        f.unpersist()
    # materialization truncates lineage; keep the executed
    # pre-materialization frame reachable so the physical-plan gate
    # (tests/test_plans.py) still asserts on the REAL join/shuffle
    # structure
    out._lineage = result
    return out


def shingles_of(toks: Column, k: int = 3) -> Column:
    """Distinct k-token shingles from an already-materialized token
    array column.

    Build this over a *column reference*, not an inline ``split(...)``
    expression: a split inlined into the transform lambda re-evaluates
    per array element — O(tokens²) per document (measured ~40x slower
    on the corpus scan).
    """
    n = F.size(toks)
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short docs
    idx = F.sequence(F.lit(1), n - (k - 1))
    return F.when(n >= k, F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )).otherwise(F.array().cast("array<string>"))


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles (word n-grams) of a document."""
    return shingles_of(tokens(text), k)


def _tokenized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, toks) projection, spread across the cluster.

    The repartition matters twice over: a small corpus file arrives as
    ONE scan partition (no parallelism for the CPU-heavy shingle
    expansion), and hash-partitioning by doc up front lets the
    per-doc aggregations downstream reuse the partitioning instead of
    shuffling the (much larger) exploded rows.

    The partition count is explicit: AQE coalesces shuffles by BYTE
    size, and a text corpus is small in bytes but huge in per-row
    compute — auto-coalescing was observed folding the whole expansion
    onto one core. An explicit count is exempt from AQE coalescing.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(id_col)).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("toks")
    )


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by md5(text); emit groups, keeper (min id),
    and duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def fingerprint_duplicate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_group_members: int | None = None,
) -> DataFrame:
    """Near-exact dedup on the order-insensitive token-set fingerprint:
    groups with >1 doc are shuffled/reordered duplicates.

    Scale note: ``doc_ids`` collects the full group membership, which
    is unbounded per-group state — the hottest fingerprint at corpus
    scale (empty docs all share md5 of "", a boilerplate template has
    millions of copies) lands in ONE aggregation buffer.
    ``max_group_members`` truncates the emitted list (sorted, so the
    sample is deterministic and always contains the keeper); it bounds
    the output row, though the aggregation buffer still sees the full
    group — a corpus-scale job that needs full membership should emit
    ``(fp, doc)`` pairs unaggregated (or use :func:`exact_duplicates`'s
    keeper+count shape, which carries no per-group list at all)."""
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text_col)))))
    members = F.array_sort(F.collect_list(id_col))
    if max_group_members is not None:
        members = F.slice(members, 1, int(max_group_members))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
            members.alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def span_hashes_of(toks: Column, window: int) -> Column:
    """Fingerprints of every length-``window`` token span (POSITIONAL,
    unlike :func:`shingles_of` which is distinct-set semantics): element
    ``i`` is the md5 of tokens ``[i, i+window)``. Built over a
    *column reference* for the same O(tokens²) reason as shingles_of."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (window - 1))
    return F.when(n >= window, F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, window)))
    )).otherwise(F.array().cast("array<string>"))


def _span_positions(
    df: DataFrame, text_col: str, id_col: str, window: int
) -> DataFrame:
    """(doc, pos, span_hash) — one row per token position that starts a
    length-``window`` span. posexplode keeps the position so extent
    reconstruction (maximal-span merging) stays possible downstream."""
    return _tokenized(df, text_col, id_col).select(
        "doc",
        F.posexplode(span_hashes_of(F.col("toks"), window)).alias(
            "pos0", "span_hash"
        ),
    ).select("doc", (F.col("pos0") + 1).alias("pos"), "span_hash")


def _multi_span_positions(
    df: DataFrame, text_col: str, id_col: str, windows: list[int]
) -> DataFrame:
    """(doc, window, pos, span_hash) for EVERY window in one pass: the
    token array is materialized once and each window's sliding
    fingerprints are built over that same column reference, concatenated
    and exploded together — a window sweep costs one tokenize + one
    explode, not |windows| corpus scans (the Lee-et-al multi-length
    sweep, shared-scan form)."""
    tok = _tokenized(df, text_col, id_col)
    struct_t = "array<struct<window:int,pos:int,span_hash:string>>"

    def spans_for(w: int):
        n = F.size(F.col("toks"))
        idx = F.sequence(F.lit(1), n - (w - 1))
        return F.when(
            n >= w,
            F.transform(
                idx,
                lambda i: F.struct(
                    F.lit(w).alias("window"),
                    i.alias("pos"),
                    F.md5(
                        F.concat_ws(" ", F.slice(F.col("toks"), i, w))
                    ).alias("span_hash"),
                ),
            ),
        ).otherwise(F.expr(f"CAST(array() AS {struct_t})"))

    allspans = F.concat(*[spans_for(w) for w in windows])
    return tok.select("doc", F.explode(allspans).alias("s")).select(
        "doc",
        F.col("s.window").alias("window"),
        F.col("s.pos").alias("pos"),
        F.col("s.span_hash").alias("span_hash"),
    )


def multi_window_duplicated_spans(
    df: DataFrame,
    windows: list[int] = (10, 20),
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """:func:`duplicated_spans` swept over SEVERAL window lengths in
    one corpus pass — Lee et al. sweep longer windows for fewer false
    merges (a 20-token recurring span is much stronger boilerplate
    evidence than a 10-token one). Returns
    (window, span_hash, keeper_id, n_copies, n_docs): for each window
    independently, exactly what ``duplicated_spans(df, window=w)``
    returns. Same scale shape — per-(window, span, doc) pre-agg before
    the global shuffle — with the tokenize pass and the explode shared
    across all windows."""
    per_doc = (
        _multi_span_positions(df, text_col, id_col, list(windows))
        .groupBy("window", "span_hash", "doc")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    return (
        per_doc.groupBy("window", "span_hash")
        .agg(
            F.min("doc").alias("keeper_id"),
            F.sum("n_occ").alias("n_copies"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """SUBSTRING-level exact dedup (the suffix-array dedup of Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    re-expressed for Spark): every length-``window`` token span that
    recurs in ≥ ``min_docs`` DISTINCT documents, with its keeper (min
    doc id), total occurrence count and distinct-doc count. Catches
    boilerplate / quotation overlap that document-level hashing
    (:func:`exact_duplicates`) misses entirely.

    Spark-first shape: the sliding windows are a native
    ``transform(sequence(...))`` over the materialized token array
    (whole-stage codegen, no UDF); the per-(span,doc) pre-aggregation
    runs BEFORE the global agg so the shuffle carries one row per
    (span, doc) instead of one per occurrence, and the distinct-doc
    count becomes a plain ``count(*)`` — no expensive count-distinct
    expand at the corpus-wide level. A true suffix array is a
    sequential structure with no distributed counterpart; the
    fixed-window fingerprint scan is the standard scale-out equivalent
    (duplicated substrings ≥ window always contain a duplicated
    window, so recall for spans ≥ window is exact).
    """
    per_doc = (
        _span_positions(df, text_col, id_col, window)
        .groupBy("span_hash", "doc")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    return (
        per_doc.groupBy("span_hash")
        .agg(
            F.min("doc").alias("keeper_id"),
            F.sum("n_occ").alias("n_copies"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def duplicated_span_extents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """MAXIMAL duplicated extents per document: the positions whose
    length-``window`` span recurs across ≥ ``min_docs`` docs, merged
    into maximal token intervals (two duplicated windows merge when
    their spans overlap or touch, i.e. position gap ≤ ``window``).
    Output: (``id_col``, span_start, span_end, n_dup_windows) with
    1-based inclusive token offsets — the "cut these ranges" worklist
    of substring-level dedup, the per-doc-pair analogue of the suffix
    array's maximal repeat extraction. The document column carries the
    caller's ``id_col`` name, consistent with the sibling span
    operators, so callers can join it straight back.

    Plan shape: the duplicated span-hash set joins back to the
    positions on span_hash — both sides hash-partitioned on span_hash
    by the agg, so the join reuses that exchange; the island merge is
    one window function over (doc, pos), partitioned on doc.
    """
    pos = _span_positions(df, text_col, id_col, window)
    dup = (
        pos.groupBy("span_hash")
        .agg(F.count_distinct("doc").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("span_hash")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy("pos")
    flagged = (
        pos.join(dup, "span_hash")
        .select("doc", "pos")
        .withColumn(
            "brk",
            F.when(
                F.col("pos") - F.lag("pos").over(w) > window, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("brk").over(w))
    )
    return (
        flagged.groupBy("doc", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
        .drop("island")
        .withColumnRenamed("doc", id_col)
    )


def cut_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """The substring-dedup REWRITE (the step Lee et al. apply to the
    training corpus): every cross-document duplicated span keeps its
    keeper-document occurrence and is CUT from every other document.
    Returns (id, text) with the text rebuilt from the surviving tokens
    (whitespace-normalized: tokens re-joined with single spaces).

    Policy, stated precisely: a token position is cut iff it is
    covered by some length-``window`` span whose fingerprint recurs in
    ≥ ``min_docs`` docs AND this doc is not that fingerprint's keeper
    (min doc id). Keeper docs keep all their occurrences (including
    internal repeats); non-keeper docs lose all of theirs.

    Plan shape: the cut-position set is built from the same
    (span, doc) scan as :func:`duplicated_spans` and collapses to one
    array per affected doc (bounded by doc length); the rewrite is
    ``array_except`` between the doc's position range and its cut set
    (hash-set based: O(tokens + cuts) per doc) followed by an O(1)
    array index per surviving position — no UDF, no per-token shuffle,
    and unaffected docs pass through on the null side of a left join.
    A per-token ``array_contains`` against the cut array would be
    O(tokens x cuts) per doc — quadratic on heavily-templated
    documents, the slowest row of the corpus rewrite at scale.
    """
    pos = _span_positions(df, text_col, id_col, window)
    dup = (
        pos.groupBy("span_hash")
        .agg(
            F.count_distinct("doc").alias("n_docs"),
            F.min("doc").alias("keeper"),
        )
        .where(F.col("n_docs") >= min_docs)
        .select("span_hash", "keeper")
    )
    cut = (
        pos.join(dup, "span_hash")
        .where(F.col("doc") != F.col("keeper"))
        .select(
            "doc",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + window - 1)
            ).alias("cp"),
        )
        .distinct()
        .groupBy("doc")
        .agg(F.collect_list("cp").alias("__cuts"))
    )
    t = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    # Surviving 1-based positions: array_except builds a hash set of
    # the cut array once per row and streams the position range through
    # it IN ORDER (first-array order is preserved), so the rewrite is
    # linear in doc length. Positions are in [1, size] by construction,
    # so the ANSI-strict element_at can't go out of bounds.
    survivors = F.array_except(
        F.sequence(F.lit(1), F.size(F.col("__toks"))), F.col("__cuts")
    )
    kept = F.when(F.col("__cuts").isNull(), F.col("__toks")).otherwise(
        F.transform(survivors, lambda p: F.element_at(F.col("__toks"), p))
    )
    return t.join(
        cut.withColumnRenamed("doc", id_col), id_col, "left"
    ).select(F.col(id_col), F.concat_ws(" ", kept).alias(text_col))


def cross_doc_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document fraction of tokens covered by cross-document
    duplicated extents (:func:`duplicated_span_extents`) — the
    repetition-gate signal "how much of this doc is boilerplate shared
    with other docs". Returns every input doc: (id, dup_span_tokens,
    dup_span_frac), zeros when nothing recurs. Maximal-extent merging
    matters here: summing raw window hits would double-count
    overlapping windows and overshoot past 1.0."""
    ext = duplicated_span_extents(
        df, text_col=text_col, id_col=id_col,
        window=window, min_docs=min_docs,
    )
    covered = ext.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "dup_span_tokens"
        )
    )
    n_tok = df.select(
        F.col(id_col),
        F.size(tokens(text_col)).alias("__n_tokens"),
    )
    return (
        n_tok.join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("dup_span_tokens", F.lit(0)).alias("dup_span_tokens"),
            F.when(
                F.col("__n_tokens") > 0,
                F.round(
                    F.coalesce("dup_span_tokens", F.lit(0))
                    / F.col("__n_tokens"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("dup_span_frac"),
        )
    )


def _shingle_pairs(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """(doc shingle-set sizes, exploded doc↔shingle rows).

    The explode is built in the SAME select as the shingle expression:
    aliasing the array in one projection and exploding it in the next
    makes `InferFiltersFromGenerate` push a filter that re-evaluates
    the whole array expression outside codegen — measured 8x slower on
    the corpus scan.
    """
    tok = _tokenized(df, text_col, id_col)
    sh_expr = shingles_of(F.col("toks"), k)
    sizes = tok.select("doc", F.size(sh_expr).alias("n_sh"))
    exploded = tok.select("doc", F.explode(sh_expr).alias("shingle"))
    return sizes, exploded


def _cap_hot_shingles(exploded: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop shingles whose doc-frequency exceeds the cap.

    Shape matters here more than anywhere: the cap exists to defuse
    hot keys, so it must not itself materialize the hot key in one
    task. A ``Window.partitionBy(shingle)`` count (the previous form)
    sorted/buffered the hottest shingle's entire row set in a single
    WindowExec task before discarding it — the guard WAS the
    straggler. Instead: a map-side-combined groupBy counts per
    shingle (partial aggregation keeps the hot key distributed), the
    over-cap set is USUALLY tiny (the Zipf head above the cap), and a
    broadcast anti-join filters the exploded index map-side — the big
    table never shuffles at all.

    "Usually" is not a guarantee: an aggressive cap (small
    ``max_doc_freq``) over a large corpus can push the over-cap set
    far beyond broadcast range — an unbounded driver-collect/8 GB
    exchange replacing the straggler it was built to avoid. The guard
    therefore probes the hot set with ONE bounded job:
    ``limit(CAP+1).collect()`` over the aggregated over-cap set. At or
    under :data:`HOT_SHINGLE_BROADCAST_CAP` rows the collected set IS
    the broadcast side (a local relation — no recompute, no checkpoint,
    and when it is empty, the common case, no join node at all).

    Above the cap, the fallback STRATIFIES the over-cap set by
    doc-frequency instead of shuffling blindly — the df counts are
    already in hand from the aggregation, and a plain anti-join would
    concentrate a ubiquitous shingle's rows in ONE task with no rescue
    from AQE (``OptimizeSkewedJoin`` only matches a SortMergeJoin
    whose children are bare ENSURE_REQUIREMENTS shuffles directly
    under Sort; this join's right side is a persisted aggregate, so
    the pattern never fires — verified against the executed plan,
    ``tests/test_operator_hardening5.py``):

    - ULTRA tier (df > :data:`HOT_SHINGLE_ULTRA_DF`): by pigeonhole at
      most ``len(exploded)/ULTRA_DF`` such shingles exist, so the tier
      is almost always broadcastable even when the full hot set is not
      — and broadcasting it drops the ubiquitous rows MAP-SIDE, before
      they ever cross the shuffle (at 100 TB a boilerplate shingle can
      be a double-digit fraction of the index; this is the big
      shuffle-volume save, not just the straggler fix).
    - WARM tier (cap < df <= ULTRA_DF): may be far beyond broadcast
      range, but every key's row volume is bounded by ULTRA_DF, so the
      plain shuffle anti-join has no straggler by construction
      (measured: a 20M-identical-key task sorts in ~2 s locally;
      ULTRA_DF keeps the atom 2.5x smaller).
    - Last resort (the ultra tier ITSELF exceeds the broadcast cap —
      index > ULTRA_DF x CAP ~ 10^13 rows): a SALTED shuffle anti-join
      on (shingle, xxhash64(doc) % :data:`HOT_SHINGLE_SALTS`) bounds
      any task to df/NSALT at the cost of replicating the hot set
      NSALT times — deterministic, AQE-independent.

    The aggregate persists (not localCheckpoint) so lineage survives
    executor loss under the multi-hour downstream join.
    ``scripts/stress_dedup_cap.py`` / ``stress_salted_skew.py``
    measure the regimes."""
    hot = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > max_doc_freq)
        .persist()
    )
    probe = hot.limit(HOT_SHINGLE_BROADCAST_CAP + 1).collect()
    spark = exploded.sparkSession
    if len(probe) <= HOT_SHINGLE_BROADCAST_CAP:
        hot.unpersist()
        if not probe:
            return exploded
        local = spark.createDataFrame(probe, hot.schema).select("shingle")
        return exploded.join(F.broadcast(local), "shingle", "left_anti").select(
            *exploded.columns
        )
    ultra = hot.where(F.col("__df") > HOT_SHINGLE_ULTRA_DF).select("shingle")
    uprobe = ultra.limit(HOT_SHINGLE_BROADCAST_CAP + 1).collect()
    if len(uprobe) <= HOT_SHINGLE_BROADCAST_CAP:
        out = exploded
        if uprobe:
            ulocal = spark.createDataFrame(uprobe, ultra.schema)
            out = out.join(F.broadcast(ulocal), "shingle", "left_anti")
        warm = hot.where(F.col("__df") <= HOT_SHINGLE_ULTRA_DF).select(
            "shingle"
        )
        # name-list joins emit the join key first — restore the
        # caller's column order
        return out.join(warm, "shingle", "left_anti").select(
            *exploded.columns
        )
    other = [c for c in exploded.columns if c != "shingle"]
    salted = exploded.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in other]),
               F.lit(HOT_SHINGLE_SALTS)).cast("int"),
    )
    # sequence(int, int) yields array<int>, matching the cast salt
    hot_salted = hot.select(
        "shingle",
        F.explode(
            F.sequence(F.lit(0), F.lit(HOT_SHINGLE_SALTS - 1))
        ).alias("__salt"),
    )
    return (
        salted.join(hot_salted, ["shingle", "__salt"], "left_anti")
        .drop("__salt")
        .select(*exploded.columns)
    )


def _pair_counts(exploded: DataFrame, sizes: DataFrame) -> DataFrame:
    """Inverted-index self-join → ``(doc_a, doc_b, n_inter, n_a, n_b)``
    for every pair with at least one co-occurring shingle."""
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def _jaccard_score() -> Column:
    return F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )


def _overlap_score() -> Column:
    return F.col("n_inter").cast("double") / F.least(F.col("n_a"), F.col("n_b"))


def _intersection_counts(
    df: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    max_doc_freq: int | None,
) -> DataFrame:
    """Shared inverted-index core of the pairwise dedup scores:
    ``(doc_a, doc_b, n_inter, n_a, n_b)`` for every pair with at least
    one co-occurring shingle. Jaccard and overlap differ only in the
    normalizer applied to these counts.

    ``max_doc_freq`` is the scale knob: a shingle appearing in f docs
    contributes f² join rows, so one stopword-run shingle in 1M docs is
    a 10¹²-row hot key. The cap is a window count over the
    shingle-partitioned index (one shuffle, no extra join), dropping
    hot shingles from the PAIR-GENERATION side only; per-doc set sizes
    stay uncapped, so the reported score is a lower bound — pairs held
    together solely by ubiquitous shingles are exactly the
    non-duplicates the cap is meant to suppress. Exact semantics with
    ``None``.

    The index is persisted because it feeds both sides of the
    self-join (at cluster scale it is the materialized doc↔shingle
    index table); the cached handle is returned so the entry point can
    release it after materializing its result
    (:func:`_materialize_release`).
    """
    sizes, exploded = _shingle_pairs(df, text_col, id_col, k)
    if max_doc_freq is not None:
        exploded = _cap_hot_shingles(exploded, max_doc_freq)
    index = exploded.persist()
    return _pair_counts(index, sizes), index


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
    pairs_path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via inverted-index join (no cross
    join): |A∩B| from shingle co-occurrence counts, |A∪B| = |A|+|B|−|A∩B|.
    See :func:`_intersection_counts` for the plan and the
    ``max_doc_freq`` hot-shingle cap (the configuration to run at
    100 TB); ``pairs_path`` materializes the pairs as a parquet table
    instead of executor-resident checkpoint blocks (the cluster-safe
    form — see :func:`_materialize_release`)."""
    counts, index = _intersection_counts(df, k, text_col, id_col, max_doc_freq)
    return _materialize_release(
        counts.select("doc_a", "doc_b", F.round(_jaccard_score(), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold),
        index,
        pairs_path=pairs_path,
        checkpoint_dir=checkpoint_dir,
    )


def overlap_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
    pairs_path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-subset pairs by the overlap coefficient
    |A∩B| / min(|A|, |B|) — catches doc-inside-doc duplication
    (boilerplate wrappers, quoted articles, concatenated shards) that
    Jaccard misses: a 100-shingle doc fully contained in a 10000-shingle
    doc has Jaccard ≈ 0.01 but overlap = 1.0.

    Same inverted-index plan as :func:`jaccard_pairs` (the intersection
    counts are shared via :func:`_intersection_counts`); only the
    normalizer differs, so the scale analysis — and the
    ``max_doc_freq`` hot-shingle cap — carry over unchanged."""
    counts, index = _intersection_counts(df, k, text_col, id_col, max_doc_freq)
    return _materialize_release(
        counts.select("doc_a", "doc_b", F.round(_overlap_score(), 6).alias("score"))
        .where(F.col("score") >= threshold),
        index,
        pairs_path=pairs_path,
        checkpoint_dir=checkpoint_dir,
    )


def near_pair_suite(
    df: DataFrame,
    jaccard_threshold: float = 0.8,
    overlap_threshold: float = 0.9,
    capped_doc_freq: int = 5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs_path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """All four near-dup detection paths over ONE materialized
    doc↔shingle index — the suite form of
    jaccard_pairs/overlap_pairs/minhash_lsh_pairs for when the methods
    run together (which is how a curation pipeline compares them):

    - the shingle arrays are computed once and persisted (at cluster
      scale: the index table);
    - 'ngram_jaccard' and 'overlap' share the SAME inverted-index
      self-join — they are two normalizers over one n_inter feed;
    - 'ngram_jaccard_capped' reuses the persisted index through the
      hot-shingle window cap (its self-join is necessarily separate);
    - 'minhash_lsh' derives signatures from the same index and
      verifies candidates against the persisted shingle arrays.

    Returns ``(method, doc_a, doc_b, score)``.
    """
    tok = _tokenized(df, text_col, id_col)
    # materialize doc → shingle-array ONCE; everything below is narrow
    # lineage off this cache (explode of a cached column is safe from
    # the InferFiltersFromGenerate re-evaluation trap — the cache is an
    # evaluation barrier)
    sh = tok.select("doc", shingles_of(F.col("toks"), k).alias("sh")).persist()
    sizes = sh.select("doc", F.size("sh").alias("n_sh"))
    exploded = sh.select("doc", F.explode("sh").alias("shingle")).persist()

    # one self-join feeds BOTH uncapped scores
    counts = _pair_counts(exploded, sizes).persist()
    jac = counts.select(
        F.lit("ngram_jaccard").alias("method"), "doc_a", "doc_b",
        F.round(_jaccard_score(), 6).alias("score"),
    ).where(F.col("score") >= jaccard_threshold)
    ov = counts.select(
        F.lit("overlap").alias("method"), "doc_a", "doc_b",
        F.round(_overlap_score(), 6).alias("score"),
    ).where(F.col("score") >= overlap_threshold)

    # persist the capped index: it feeds both sides of its self-join,
    # same as the uncapped path (without this the hot-shingle window
    # count — a full shuffle of the index — would run once per side)
    capped = _cap_hot_shingles(exploded, capped_doc_freq).persist()
    capped_counts = _pair_counts(capped, sizes)
    jac_capped = capped_counts.select(
        F.lit("ngram_jaccard_capped").alias("method"), "doc_a", "doc_b",
        F.round(_jaccard_score(), 6).alias("score"),
    ).where(F.col("score") >= jaccard_threshold)

    # MinHash+LSH from the same index; verify against the cached arrays
    mh, bk = _minhash_pairs_from_index(exploded, sh, jaccard_threshold)
    mh = mh.select(
        F.lit("minhash_lsh").alias("method"), "doc_a", "doc_b",
        F.col("jaccard").alias("score"),
    )
    return _materialize_release(
        jac.unionByName(jac_capped).unionByName(mh).unionByName(ov),
        sh, exploded, counts, capped, bk,
        pairs_path=pairs_path,
        checkpoint_dir=checkpoint_dir,
    )


def lsh_band_keys(sig: DataFrame) -> DataFrame:
    """Band the signature: band key = md5 of the band's concatenated
    minhash values (LSH_BANDS=8 bands x LSH_ROWS=4 rows — the
    hashing.py constants; recall curves must be computed for THIS
    configuration). One row per (doc, band)."""
    bands = ", ".join(
        f"struct({b} AS band, md5(concat_ws(',', "
        + ", ".join(f"mh{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + ")) AS bkey)"
        for b in range(LSH_BANDS)
    )
    return sig.selectExpr("doc", f"explode(array({bands})) AS bk").selectExpr(
        "doc", "bk.band AS band", "bk.bkey AS bkey"
    )


def banded_signatures(exploded: DataFrame) -> DataFrame:
    """(doc, band, bkey) LSH band keys from (doc, shingle) rows — the
    ONE implementation of hash domain, permutation count, and banding.
    Both the batch pair generator (:func:`_minhash_pairs_from_index`)
    and the incremental index maintainer
    (``streaming/dedup_index.py``) call this, so an index built
    incrementally is band-compatible with one built in batch."""
    hashed = exploded.select(
        "doc", (portable_hash64(F.col("shingle")) % F.lit(2_147_483_647)).alias("h")
    )
    sig = hashed.groupBy("doc").agg(*[
        F.expr(f"min({minhash_perm_sql('h', i)}) AS mh{i}") for i in range(NUM_PERM)
    ])
    return lsh_band_keys(sig)


def minhash_index_frames(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """The two persisted-index building blocks for a corpus slice:
    ``(bands, shingles)`` = ((doc, band, bkey), (doc, sh array)) —
    what the incremental maintainer appends per batch."""
    _, exploded = _shingle_pairs(df, text_col, id_col, k)
    sh = _tokenized(df, text_col, id_col).select(
        "doc", shingles_of(F.col("toks"), k).alias("sh")
    )
    return banded_signatures(exploded), sh


def verify_jaccard_pairs(
    cand: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against shingle
    arrays: ``cand`` = (doc_a, doc_b), ``sh`` = (doc, sh). The shared
    verify stage of batch LSH and the incremental index. The candidate
    side is broadcast — at scale candidates are tiny next to the
    corpus-wide shingle table, which must never shuffle for a verify."""
    sa = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    # two broadcast probes: each streams the shingle table map-side;
    # the second broadcasts (candidate, sh_a) — still candidate-sized
    with_a = sa.join(F.broadcast(cand), "doc_a")
    return (
        sb.join(F.broadcast(with_a), "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _minhash_pairs_from_index(
    exploded: DataFrame, sh: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """MinHash+LSH core over a prebuilt index: ``exploded`` =
    (doc, shingle) rows, ``sh`` = (doc, sh array). Signature → bands →
    candidate pairs (any shared band) → exact-Jaccard verify against
    the shingle arrays. The single implementation behind both
    :func:`minhash_lsh_pairs` and :func:`near_pair_suite` — hash
    domain, permutation count, and banding must never diverge between
    them. Returns ``(pairs, banded_signatures)``; the second element
    is the internally persisted band-key frame, handed back so the
    entry point can release it after materialization."""
    # signatures are tiny (|docs| x 64 ints) but expensive to compute:
    # persist before the banded self-join so the signature aggregation
    # runs once (the scale design materializes signatures as a table)
    bk = banded_signatures(exploded).persist()
    a, b = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # the SHARED verify stage (broadcast-candidate shape): the
    # corpus-wide shingle table must never shuffle to verify a
    # comparatively tiny candidate set — an unhinted join here was
    # sort-merging the heaviest table in the pipeline on both sides
    pairs = verify_jaccard_pairs(cand, sh, threshold)
    return pairs, bk


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs_path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signature → bands →
    candidate pairs (any shared band) → verify with exact Jaccard ≥
    threshold. Output equals brute-force Jaccard up to LSH recall."""
    _, exploded = _shingle_pairs(df, text_col, id_col, k)
    sh = _tokenized(df, text_col, id_col).select(
        "doc", shingles_of(F.col("toks"), k).alias("sh")
    ).persist()
    pairs, bk = _minhash_pairs_from_index(exploded, sh, threshold)
    return _materialize_release(pairs, sh, bk, pairs_path=pairs_path, checkpoint_dir=checkpoint_dir)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """32-bit SimHash per document: per-bit majority vote over the
    portable hashes of its (distinct) tokens, folded in one aggregation.

    Bound: the packed bit counters hold two 32-bit fields per long, so
    the running SUM cannot overflow a signed long before ~2^31 tokens —
    which makes the 2^16-distinct-token guard below actually
    enforceable (four 16-bit fields would overflow the aggregation at
    ~2^15 tokens in the top field, crashing under ANSI before the
    guard could fire). A doc with >= 2^16 DISTINCT tokens RAISES (one
    comparison per doc — chunk oversized docs first, e.g.
    ``textstats.chunk_documents``).
    """
    exploded = _tokenized(df, text_col, id_col).selectExpr(
        "doc", "explode(array_distinct(toks)) AS tok"
    )
    # materialize the hash once per token row (the bit-sum expressions
    # reference the column, not inlined md5 computations)
    hashed = exploded.select("doc", portable_hash64(F.col("tok")).alias("h"))
    # PACKED per-bit counters: two 32-bit counters per 64-bit sum, so
    # the aggregation carries SIMHASH_BITS/2 sum expressions instead of
    # SIMHASH_BITS — narrower partial-agg rows and fewer agg
    # expressions in codegen. Group g packs bits {g, g+G} at offsets
    # 0/32: per-row contributions are <= 2^32+1, so the signed-long
    # sum is exact up to ~2^31 tokens and the 2^16 guard below fires
    # before any arithmetic can misbehave.
    G = SIMHASH_BITS // 2

    def _balanced(terms: list[str]) -> str:
        # balanced pairwise sum: Catalyst's analysis of a left-deep
        # 32-node addition chain is measurably slower than a depth-5
        # tree (driver-side cost paid on EVERY fresh query build)
        while len(terms) > 1:
            terms = [
                f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
                for i in range(0, len(terms), 2)
            ]
        return terms[0]

    packed = [
        _balanced([f"shiftleft(shiftright(h, {g + G * j}) & 1, {32 * j})" for j in range(2)])
        for g in range(G)
    ]
    agg = hashed.groupBy("doc").agg(
        F.expr("count(1) AS n"), *[F.expr(f"sum({p}) AS s{g}") for g, p in enumerate(packed)]
    )
    bits = _balanced([
        f"shiftleft(CAST((shiftright(s{i % G}, {32 * (i // G)}) & {0xFFFFFFFF}) * 2"
        f" >= n AS BIGINT), {i})"
        for i in range(SIMHASH_BITS)
    ])
    # Guard the 16-bit counter-field bound loudly (see docstring): a
    # doc with >= 2^16 distinct tokens would wrap a packed counter and
    # emit a WRONG signature — fail the job instead of corrupting
    # near-dup pairs. The guard lives in the dead branch of a CASE,
    # so well-formed rows pay one long comparison.
    return agg.selectExpr(
        "doc",
        f"CASE WHEN n < {1 << 16} THEN {bits} ELSE CAST(raise_error(concat("
        "'simhash_signatures: doc ', CAST(doc AS STRING),"
        "' has >= 2^16 distinct tokens; chunk it first')) AS BIGINT) END AS simhash",
    )


def simhash_band_rows(sig: DataFrame) -> DataFrame:
    """(doc, simhash, band, bval) — one row per signature band of a
    ``simhash_signatures`` output. The ONE banding core shared by the
    batch pair operator and the incremental index
    (``streaming/simhash_stream.py``), so stream and batch indexes are
    band-compatible by construction: any pair within Hamming distance
    ``SIMHASH_BANDS - 1`` shares at least one exact band value
    (pigeonhole)."""
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_width)
                .bitwiseAND(F.lit((1 << band_width) - 1))
                .alias("bval"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    return sig.select("doc", "simhash", F.explode(bands).alias("bk")).select(
        "doc",
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.bval").alias("bval"),
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs_path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the 32-bit signature into 4 bytes —
    any pair within Hamming distance 3 shares at least one exact byte
    (pigeonhole) — join per band, verify with bit_count(xor).

    The banding is COMPLETE only for ``max_hamming <= SIMHASH_BANDS-1``
    (a pair differing in every band shares no band value and is never
    a candidate); a larger threshold would silently return truncated
    recall, so it raises instead."""
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"simhash_near_pairs: max_hamming={max_hamming} exceeds "
            f"the banding's complete-recall bound of SIMHASH_BANDS-1="
            f"{SIMHASH_BANDS - 1} (pigeonhole) — pairs beyond it would "
            "be silently missing; lower the threshold or widen the "
            "banding"
        )
    sig = simhash_signatures(df, text_col, id_col)
    bk = simhash_band_rows(sig).persist()
    a, b = bk.alias("a"), bk.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return _materialize_release(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming),
        bk,
        pairs_path=pairs_path,
        checkpoint_dir=checkpoint_dir,
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster near-dup *pairs* into duplicate groups: returns
    ``(node, component)`` where component = min doc id reachable —
    the union-find endpoint of every pair-producing dedup operator
    (the canonical keeper per group is ``node == component``).

    Iterative min-label propagation as pure DataFrame ops: per
    iteration one join (edge → neighbor label) + one min-agg, i.e. two
    shuffles over O(E) rows, converging in O(component diameter)
    iterations — near-dup clusters are shallow (pairs share content,
    so most clusters are cliques or stars with diameter ≤ ~3), which
    is why plain propagation is the right scale shape here; the
    alternating large-star/small-star variant only pays off on deep
    path-shaped graphs. Convergence is detected by the monotonically
    decreasing sum of labels (one scalar collect per iteration — no
    data to the driver).

    The per-round lineage barrier defaults to ``localCheckpoint``
    (executor-resident blocks, NO recompute path — an executor loss
    mid-iteration kills the job; fine in local mode). Pass
    ``checkpoint_dir`` for the cluster-reliable form: each round's
    labels go through a reliable ``checkpoint()`` to storage, so the
    iteration survives executor loss — the recovery trade documented
    at :func:`_materialize_release`. Checkpoint storage is bounded at
    two rounds: each round lands in its own subdirectory of a per-call
    unique run dir (so concurrent callers never collide) and the
    previous round's files are deleted as soon as the new round is
    eagerly materialized — without that, a long iteration accumulates
    O(rounds x labels) dead storage. The final round's files back the
    RETURNED frame; the caller owns that last subdirectory's lifecycle.
    Note ``setCheckpointDir`` mutates global SparkContext state (held
    behind this module's checkpoint lock during the call).
    """
    spark = pairs.sparkSession
    run_dir = (
        None
        if checkpoint_dir is None
        else f"{checkpoint_dir}/cc-{_uuid.uuid4().hex[:12]}"
    )
    round_no = [0]

    def barrier(df: DataFrame) -> DataFrame:
        if run_dir is None:
            return df.localCheckpoint(eager=True)
        with _CKPT_LOCK:
            spark.sparkContext.setCheckpointDir(
                f"{run_dir}/round-{round_no[0]}"
            )
            out = df.checkpoint(eager=True)  # eager: files complete HERE
        if round_no[0] >= 1:
            # the previous round's labels fed this round's join and are
            # now superseded; only the newest checkpoint is ever re-read
            _fs_delete(spark, f"{run_dir}/round-{round_no[0] - 1}")
        round_no[0] += 1
        return out

    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .persist()
    )
    # Each iteration references ``labels`` TWICE (the union seed and the
    # join probe), so without a lineage barrier the logical plan DOUBLES
    # per iteration — exponential in the component diameter. Shallow
    # near-dup clusters (2-4 rounds) hide it; a path-shaped graph of
    # diameter ~13 yields a 2^13-node tree whose cache-name rendering
    # alone takes hours. localCheckpoint(eager) truncates the plan to a
    # scan per round — the standard iterative-graph shape on Spark (the
    # executor-resident-blocks recovery trade is the same one
    # _materialize_release documents).
    # convergence metric: labels only ever DECREASE per node, so the
    # sum strictly decreases until fixpoint. Sum over decimal(38,0) —
    # a signed-long sum overflows for hash-derived id domains (ids up
    # to 2^56 here; a few hundred nodes already pass 2^63), which
    # under ANSI mode crashes the collect and with ANSI off could
    # wrap two different states to equal sums. The metric rides the
    # barrier's own materialization job as an Observation (coalesced
    # to 0 for the empty graph, SafeObservation's fallback covering
    # the dropped-CollectMetrics edge) instead of a separate agg job —
    # one driver action per round, not two.
    def _metric_obs() -> "SafeObservation":
        from rental_data_pipeline_spark.observe import SafeObservation

        return SafeObservation()

    def _observed_barrier(df: DataFrame) -> "tuple[DataFrame, object]":
        obs = _metric_obs()
        out = barrier(
            obs.on(
                df,
                F.coalesce(
                    F.sum(F.col("component").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("total"),
            )
        )
        return out, obs.get["total"]

    labels, total = _observed_barrier(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    converged = False
    for i in range(max_iter):
        neighbor_min = edges.join(
            labels, edges["dst"] == labels["node"]
        ).select(F.col("src").alias("node"), "component")
        new_labels = (
            labels.unionByName(neighbor_min)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        if i >= 3:
            # pointer jumping: label(x) <- label(label(x)). A label is
            # always the id of a REACHABLE node (edge relax takes a
            # neighbor's label; the jump composes reachability), so the
            # invariant holds and the distance-to-minimum DOUBLES per
            # jump — O(log diameter) rounds on deep path-shaped graphs
            # instead of O(diameter). Engaged only once plain
            # propagation hasn't converged in 3 rounds, so shallow
            # near-dup clusters (the common case) keep the cheaper
            # two-shuffle round.
            hop = new_labels.select(
                F.col("node").alias("__p"), F.col("component").alias("__pc")
            )
            new_labels = (
                new_labels.join(
                    hop, new_labels["component"] == hop["__p"], "left"
                )
                .select(
                    "node",
                    F.coalesce("__pc", "component").alias("component"),
                )
            )
        new_labels, new_total = _observed_barrier(new_labels)
        labels = new_labels
        if new_total == total:
            converged = True
            break
        total = new_total
    edges.unpersist()
    if not converged:
        # a graph deeper than max_iter rounds would otherwise return
        # silently WRONG labels (propagation covers one hop per round)
        raise ValueError(
            f"connected_components: not converged after {max_iter} "
            "iterations — component diameter exceeds max_iter; raise it "
            "(near-dup graphs are shallow, this indicates an unusual "
            "path-shaped input)"
        )
    return labels


def contamination_report(
    train: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_overlap: int = 1,
    broadcast_index: bool | None = None,
    hash_prefilter: bool = False,
    prefilter_mod: int | None = None,
) -> DataFrame:
    """Train/eval decontamination: flag training docs whose k-gram
    shingles collide with a held-out eval set, with overlap counts —
    the pre-training gate against benchmark leakage.

    Inverted-index semi-join shape: the holdout side collapses to a
    DISTINCT shingle index; train shingles join against it and
    aggregate per doc. Cost is O(total shingles) — never
    |train| x |holdout|. Eval sets are tiny next to a 100 TB corpus,
    so the index broadcasts by default (``broadcast_index``) and the
    train side never shuffles for the probe; the per-doc aggregation
    reuses the doc partitioning from tokenization.

    ``hash_prefilter`` is the configuration for eval sets too large to
    broadcast as STRINGS: the broadcast side becomes the distinct
    64-bit ``xxhash64`` values of the eval shingles (8 bytes/item
    instead of a ~30-byte string — and with ``prefilter_mod=M`` the
    hashes fold to ``pmod`` buckets, a one-hash Bloom filter with
    false-positive rate ≈ n/M and NO false negatives, so the filter
    stays broadcastable at any eval size). The train side is pruned
    MAP-SIDE by a broadcast semi-join on the hash; only the surviving
    rows (true overlaps + hash false positives) proceed to the exact
    string-equality verify join, which restores exact semantics.
    Spark's own ``bloom_filter_agg`` is internal-only (not in the
    public FunctionRegistry), so the hash set IS the portable
    equivalent. ``broadcast_index`` defaults to the prefilter's
    complement: True without the prefilter (eval sets broadcast as
    strings), False with it — the prefilter exists precisely because
    the string set was too large to broadcast, so defaulting the
    verify join to broadcast the very same strings would defeat it
    (driver OOM / the 8 GB broadcast limit). Pass it explicitly to
    override. Output is identical for every configuration:
    ``(doc_id, n_overlap, n_sh, contamination)`` for docs with
    ``n_overlap >= min_overlap``.
    """
    if broadcast_index is None:
        broadcast_index = not hash_prefilter
    sizes, exploded = _shingle_pairs(train, text_col, id_col, k)
    hold_shingles = _shingle_pairs(holdout, text_col, id_col, k)[1]
    hold_index = hold_shingles.select("shingle").distinct()
    if hash_prefilter:
        hk = F.xxhash64(F.col("shingle"))
        if prefilter_mod is not None:
            hk = F.pmod(hk, F.lit(prefilter_mod))
        probe = F.broadcast(hold_shingles.select(hk.alias("hk")).distinct())
        exploded = exploded.join(
            probe, F.pmod(F.xxhash64(F.col("shingle")), F.lit(prefilter_mod)).eqNullSafe(F.col("hk"))
            if prefilter_mod is not None
            else F.xxhash64(F.col("shingle")).eqNullSafe(F.col("hk")),
            "left_semi",
        )
    if broadcast_index:
        hold_index = F.broadcast(hold_index)
    overlap = (
        exploded.join(hold_index, "shingle")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        overlap.join(sizes, "doc")
        .where(F.col("n_overlap") >= min_overlap)
        .select(
            F.col("doc").alias(id_col),
            F.col("n_overlap"),
            F.col("n_sh").cast("bigint").alias("n_sh"),
            F.round(
                F.col("n_overlap").cast("double") / F.col("n_sh"), 6
            ).alias("contamination"),
        )
    )


def char_shingles(text: Column | str, k: int = 5) -> Column:
    """Distinct CHARACTER k-gram shingles — the tokenizer-free variant
    for scripts without whitespace word boundaries (CJK, Thai) and for
    short strings where word shingles degenerate. Same native
    sequence+transform shape as the word path; feed the result through
    the same inverted-index/MinHash machinery by exploding it in place
    of ``shingles``."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    return F.when(
        n >= k,
        F.array_distinct(F.transform(idx, lambda i: F.substring(c, i, k))),
    ).otherwise(F.array().cast("array<string>"))
