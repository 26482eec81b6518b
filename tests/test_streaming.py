"""Streaming equivalence: chunked micro-batch merge == one-shot batch
fold; watermarked window agg == batch window agg on on-time data."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.operators.merge import merge_snapshots
from rental_data_pipeline_spark.streaming import (
    incremental_merge_stream,
    read_state,
    read_snapshot_stream,
    windowed_price_stats,
)
from rental_data_pipeline_spark.streaming.incremental import SNAPSHOT_SCHEMA


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield f"{d}/landing", f"{d}/state", f"{d}/ckpt"
    shutil.rmtree(d, ignore_errors=True)


def _snapshots(spark):
    rows = []
    # key 1: price change 100 -> 120 across chunks, then unpublish
    rows += [
        (1, "2024-01-01 10:00:00", 100.0, False, 1),
        (1, "2024-01-02 10:00:00", 120.0, False, 2),
        (1, "2024-01-03 10:00:00", None, True, 3),
    ]
    # key 2: appears only in chunk 2
    rows += [(2, "2024-01-02 11:00:00", 55.0, False, 4)]
    # key 3: same price re-observed (no change row), null never clobbers
    rows += [
        (3, "2024-01-01 09:00:00", 70.0, False, 5),
        (3, "2024-01-03 09:00:00", 70.0, False, 6),
    ]
    df = spark.createDataFrame(
        [(k, ts, p, u, e) for k, ts, p, u, e in rows],
        "offer_id long, updated_date string, price_value double, "
        "is_unpublished boolean, event_id long",
    )
    return df.withColumn("updated_date", F.to_timestamp("updated_date"))


def test_chunked_stream_merge_equals_batch_fold(spark, tmpdirs):
    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)

    # land the history as one file per event day => 3 micro-batches
    for day in (1, 2, 3):
        chunk = snaps.where(F.dayofmonth("updated_date") == day)
        chunk.coalesce(1).write.mode("append").parquet(landing)

    stream = read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1)
    q = incremental_merge_stream(stream, state, ckpt)
    q.awaitTermination(120)

    got = {
        r.offer_id: r
        for r in read_state(spark, state).collect()
    }
    want = {
        r.offer_id: r
        for r in merge_snapshots(
            snaps, key="offer_id", order_cols=["updated_date", "event_id"]
        ).collect()
    }
    assert set(got) == set(want) == {1, 2, 3}
    for k in want:
        g, w = got[k], want[k]
        for col in (
            "price_value",
            "is_unpublished",
            "publication_date",
            "last_active",
            "unpublished_date",
            "price_change_value",
            "total_price_changes",
            "price_changes",
            "price_changes_dates",
        ):
            assert getattr(g, col) == getattr(w, col), (k, col, g, w)
    # spot-check CDC facts
    assert got[1].price_changes == "20"
    assert got[1].unpublished_date is not None
    assert got[3].total_price_changes is None  # same price re-observed: no-op


def test_windowed_price_stats_streaming_matches_batch(spark, tmpdirs):
    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)
    # one file per day => three micro-batches, so the watermark advances
    # between batches and closed windows get flushed (append mode emits
    # a window only in a batch AFTER the watermark passes its end)
    for day in (1, 2, 3):
        snaps.where(F.dayofmonth("updated_date") == day).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    stream = read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1)
    out_dir, out_ckpt = state + "_win", ckpt + "_win"
    q = (
        windowed_price_stats(stream, "1 hour", "30 minutes")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", out_ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # batch twin over the same rows; append mode emits a window in the
    # first batch that runs after the watermark passed its end, so with
    # day-chunked batches every day-1 window must be out by termination
    batch = windowed_price_stats(snaps)
    got = {r.window_start: r for r in spark.read.parquet(out_dir).collect()}
    want = {r.window_start: r for r in batch.collect()}
    day1 = {k for k in want if k.day == 1}
    assert set(got) >= day1, (sorted(got), sorted(want))
    assert set(got) <= set(want)
    for k in got:
        assert got[k].n_snapshots == want[k].n_snapshots
        assert got[k].avg_price == want[k].avg_price


def test_stateful_price_change_stream_matches_batch_lag(spark, tmpdirs):
    from rental_data_pipeline_spark.streaming.stateful import price_change_stream

    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)
    for day in (1, 2, 3):
        snaps.where(F.dayofmonth("updated_date") == day).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    stream = read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1)
    out_dir, out_ckpt = state + "_chg", ckpt + "_chg"
    q = (
        price_change_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", out_ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r.offer_id, r.old_price, r.new_price, r.price_diff)
        for r in spark.read.parquet(out_dir).collect()
    )
    # batch twin: lag over non-null prices per key
    from pyspark.sql import Window

    w = Window.partitionBy("offer_id").orderBy("updated_date", "event_id")
    lagged = (
        snaps.where(F.col("price_value").isNotNull())
        .withColumn("prev", F.lag("price_value").over(w))
        .where(F.col("prev").isNotNull() & (F.col("prev") != F.col("price_value")))
    )
    want = sorted(
        (r.offer_id, r.prev, r.price_value, int(r.price_value) - int(r.prev))
        for r in lagged.collect()
    )
    assert got == want
    assert len(got) == 1  # key 1: 100 -> 120 (same-price re-obs is a no-op)


def test_out_of_order_chunks_fold_in_arrival_order(spark, tmpdirs):
    """T5: the stream has NO ordering guard (reference parity) — chunks
    arriving out of time order are folded in ARRIVAL order, and the
    result is deterministic: it equals a one-shot fold over the same
    arrival sequence. CDC then reflects processing order, e.g. the
    unpublish row arriving FIRST creates the key (no false->true
    transition, so no unpublished_date) and last_active regresses to
    the latest-processed row."""
    import time as _t

    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)

    for day in (3, 1, 2):  # reverse/shuffled time order
        chunk = snaps.where(F.dayofmonth("updated_date") == day)
        chunk.coalesce(1).write.mode("append").parquet(landing)
        _t.sleep(1.1)  # distinct mtimes: the file source replays by them

    stream = read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1)
    q = incremental_merge_stream(stream, state, ckpt)
    q.awaitTermination(120)

    got = {r.offer_id: r for r in read_state(spark, state).collect()}

    arr = (
        F.when(F.dayofmonth("updated_date") == 3, 0)
        .when(F.dayofmonth("updated_date") == 1, 1)
        .otherwise(2)
    )
    want = {
        r.offer_id: r
        for r in merge_snapshots(
            snaps.withColumn("__arr", arr),
            key="offer_id",
            order_cols=[F.col("__arr"), F.col("updated_date"), F.col("event_id")],
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        for col in (
            "price_value", "is_unpublished", "publication_date",
            "last_active", "unpublished_date", "total_price_changes",
            "price_changes",
        ):
            assert getattr(got[k], col) == getattr(want[k], col), (k, col)
    # the order-dependent specifics, pinned:
    assert got[1].price_changes == "20"          # 100 -> 120 after late arrival
    assert got[1].unpublished_date is None       # unpub arrived first: no transition
    assert got[1].is_unpublished is False        # later explicit False wins


def test_state_versioning_ignores_partial_and_replays_idempotently(spark, tmpdirs):
    """A crashed write (version dir without _SUCCESS) must be invisible
    to read_state and must not block the next fold; re-running the
    stream over the same checkpoint must not change state."""
    import os

    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)
    for day in (1, 2, 3):
        snaps.where(F.dayofmonth("updated_date") == day).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    stream = read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1)
    q = incremental_merge_stream(stream, state, ckpt)
    q.awaitTermination(120)
    first = sorted(map(tuple, read_state(spark, state).collect()))

    # plant garbage: a higher-numbered version dir with no _SUCCESS
    # (what a crash mid-write leaves behind)
    os.makedirs(f"{state}/v_999999999_b999999999")
    with open(f"{state}/v_999999999_b999999999/part-junk.parquet", "w") as f:
        f.write("not parquet")
    assert sorted(map(tuple, read_state(spark, state).collect())) == first

    # replay: same landing, same checkpoint -> no new batches, state unchanged
    q2 = incremental_merge_stream(
        read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1),
        state, ckpt,
    )
    q2.awaitTermination(120)
    assert sorted(map(tuple, read_state(spark, state).collect())) == first


def test_state_dir_tolerates_stray_entries(spark, tmpdirs):
    """A user-created file or directory whose name doesn't match the
    exact v_{counter}[_b{batch}] layout must be ignored by version
    listing — not crash the sort (and load_state must not silently
    return empty because of it)."""
    import os

    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)
    snaps.coalesce(1).write.mode("append").parquet(landing)

    q = incremental_merge_stream(
        read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA), state, ckpt
    )
    q.awaitTermination(120)
    first = sorted(map(tuple, read_state(spark, state).collect()))

    # junk that used to throw in _version_counter
    os.makedirs(f"{state}/v_tmp")
    with open(f"{state}/v_x", "w") as f:
        f.write("junk")
    os.makedirs(f"{state}/v_12_bad")  # wrong zero-padding: not ours

    assert sorted(map(tuple, read_state(spark, state).collect())) == first

    # and a further fold on top still works
    snaps.limit(0).coalesce(1).write.mode("append").parquet(landing)
    q2 = incremental_merge_stream(
        read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA), state, ckpt
    )
    q2.awaitTermination(120)
    assert sorted(map(tuple, read_state(spark, state).collect())) == first


def test_bucket_pruned_fold_rewrites_only_touched_buckets(spark, tmpdirs):
    """The 100 TB property: a micro-batch touching k keys writes a
    DELTA version containing only those keys' hash buckets — not all
    n_buckets — and the composed read still equals the full fold."""
    import glob
    import os

    from rental_data_pipeline_spark.streaming.incremental import BUCKET_COL
    from rental_data_pipeline_spark.streaming.slices import _bucket_of

    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)

    # batch 1: all keys (seeds the state, full snapshot); batch 2: key 2
    # only (one key -> exactly one touched bucket)
    snaps.where(F.dayofmonth("updated_date") == 1).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    snaps.where(F.col("offer_id") == 2).coalesce(1).write.mode("append").parquet(
        landing
    )

    q = incremental_merge_stream(
        read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1),
        state, ckpt, n_buckets=8,
    )
    q.awaitTermination(120)

    versions = sorted(glob.glob(f"{state}/v_*"))
    assert len(versions) == 2
    full_v, delta_v = versions
    assert os.path.exists(f"{full_v}/_FULL")
    assert not os.path.exists(f"{delta_v}/_FULL")
    delta_buckets = {
        os.path.basename(d) for d in glob.glob(f"{delta_v}/{BUCKET_COL}=*")
    }
    # the delta carries exactly key 2's bucket, not all 8
    want_bucket = (
        spark.range(1).select(F.lit(2).cast("long").alias("offer_id"))
        .select(_bucket_of("offer_id", 8).alias("b")).collect()[0].b
    )
    assert delta_buckets == {f"{BUCKET_COL}={want_bucket}"}

    # composed read == one-shot batch fold over the same arrival order
    got = {r.offer_id: r for r in read_state(spark, state).collect()}
    arrived = snaps.where(
        (F.dayofmonth("updated_date") == 1) | (F.col("offer_id") == 2)
    )
    want = {
        r.offer_id: r
        for r in merge_snapshots(
            arrived, key="offer_id", order_cols=["updated_date", "event_id"]
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        for col in ("price_value", "is_unpublished", "publication_date",
                    "last_active", "total_price_changes", "price_changes"):
            assert getattr(got[k], col) == getattr(want[k], col), (k, col)
    assert BUCKET_COL not in read_state(spark, state).columns


def test_bucketed_compaction_prunes_shadowed_deltas(spark, tmpdirs):
    """Every compact_every commits the fold writes a _FULL snapshot and
    shadowed deltas are pruned; state stays equal to the batch fold."""
    import glob
    import os
    import time as _t

    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)
    for day in (1, 2, 3):
        snaps.where(F.dayofmonth("updated_date") == day).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        _t.sleep(1.1)  # distinct mtimes: deterministic replay order

    q = incremental_merge_stream(
        read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1),
        state, ckpt, n_buckets=8, compact_every=2, keep_versions=1,
    )
    q.awaitTermination(120)

    versions = sorted(glob.glob(f"{state}/v_*"))
    # fulls land at version counters 0, 2, 4... (n % compact_every == 0,
    # monotonic across prunes): v0 full, v1 delta, v2 full; with
    # keep_versions=1 the shadowed v0 and v1 are pruned
    assert len(versions) == 1, versions
    assert os.path.exists(f"{versions[0]}/_FULL")

    got = {r.offer_id: r for r in read_state(spark, state).collect()}
    want = {
        r.offer_id: r
        for r in merge_snapshots(
            snaps, key="offer_id", order_cols=["updated_date", "event_id"]
        ).collect()
    }
    assert set(got) == set(want) == {1, 2, 3}
    for k in want:
        for col in ("price_value", "is_unpublished", "publication_date",
                    "last_active", "unpublished_date", "total_price_changes",
                    "price_changes", "price_changes_dates"):
            assert getattr(got[k], col) == getattr(want[k], col), (k, col)


def test_fold_continues_from_legacy_flat_state(spark, tmpdirs):
    """A state_path holding the pre-versioning FLAT parquet layout must
    seed the first fold (not silently start from empty): the fold's
    read path shares load_state's legacy fallback."""
    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)

    # legacy layout: day-1 history folded and written flat at state root
    day1 = snaps.where(F.dayofmonth("updated_date") == 1)
    merge_snapshots(
        day1, key="offer_id", order_cols=["updated_date", "event_id"]
    ).write.mode("overwrite").parquet(state)

    # stream only days 2-3 on top
    for day in (2, 3):
        snaps.where(F.dayofmonth("updated_date") == day).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    q = incremental_merge_stream(
        read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1),
        state, ckpt,
    )
    q.awaitTermination(120)

    got = {r.offer_id: r for r in read_state(spark, state).collect()}
    want = {
        r.offer_id: r
        for r in merge_snapshots(
            snaps, key="offer_id", order_cols=["updated_date", "event_id"]
        ).collect()
    }
    assert set(got) == set(want) == {1, 2, 3}
    # continuity facts that only hold if the legacy state seeded the fold:
    assert got[1].price_changes == want[1].price_changes == "20"
    assert got[1].publication_date == want[1].publication_date
    assert got[3].total_price_changes is None


def test_time_travel_reads_each_committed_version(spark, tmpdirs):
    """as_of_version reconstructs the state exactly as it stood after
    each commit — the audit/reproducibility read the versioned layout
    gives for free."""
    import shutil as sh

    import pytest as pt

    from rental_data_pipeline_spark.streaming.incremental import (
        StateVersionUnavailable,
        state_version_log,
    )

    landing, state, ckpt = tmpdirs
    snaps = _snapshots(spark)
    for day in (1, 2, 3):
        snaps.where(F.dayofmonth("updated_date") == day).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    q = incremental_merge_stream(
        read_snapshot_stream(spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1),
        state, ckpt, keep_versions=100, compact_every=100,
    )
    q.awaitTermination(120)

    log = state_version_log(state)
    assert [e["version"] for e in log] == sorted(e["version"] for e in log)
    assert len(log) == 3 and log[0]["full"] and not log[1]["full"]
    assert all(e["batch_id"] is not None for e in log)

    for entry, day in zip(log, (1, 2, 3)):
        arrived = snaps.where(F.dayofmonth("updated_date") <= day)
        want = {
            r.offer_id: r
            for r in merge_snapshots(
                arrived, key="offer_id", order_cols=["updated_date", "event_id"]
            ).collect()
        }
        got = {
            r.offer_id: r
            for r in read_state(
                spark, state, as_of_version=entry["version"]
            ).collect()
        }
        assert set(got) == set(want), (day, entry)
        for k in want:
            for col in ("price_value", "is_unpublished", "total_price_changes",
                        "price_changes", "last_active"):
                assert getattr(got[k], col) == getattr(want[k], col), (day, k, col)

    # below the first commit: nothing to read
    with pt.raises(StateVersionUnavailable):
        read_state(spark, state, as_of_version=log[0]["version"] - 1)

    # retention loss: drop the base full snapshot; a time-travel read of
    # the delta-only prefix must REFUSE rather than return partial state
    base = f"{state}/v_{log[0]['version']:09d}_b{log[0]['batch_id']:09d}"
    sh.rmtree(base)
    with pt.raises(StateVersionUnavailable):
        read_state(spark, state, as_of_version=log[1]["version"])


def test_stream_expectations_gate_batches_before_fold(spark, tmpdirs):
    """Row contracts on the stream: failing rows never reach the state
    table; quarantined rows land per-batch with their violation tags
    (overwrite-per-batch, so replays can't double-append). The folded
    state equals a batch fold over only the clean rows."""
    from rental_data_pipeline_spark.operators.merge import merge_listings
    from rental_data_pipeline_spark.streaming.incremental import read_state

    landing, state, ckpt = tmpdirs
    qdir = landing.replace("landing", "quarantine")
    snaps = _snapshots(spark)
    # plant violations: negative price (key 9) in chunk 1, zero-price
    # update for key 2 in chunk 3 (must not clobber the good row)
    bad = spark.createDataFrame(
        [
            (9, "2024-01-01 12:00:00", -5.0, False, 90),
            (2, "2024-01-03 12:00:00", 0.0, False, 91),
        ],
        "offer_id long, updated_date string, price_value double, "
        "is_unpublished boolean, event_id long",
    ).withColumn("updated_date", F.to_timestamp("updated_date"))
    allrows = snaps.unionByName(bad)
    for day in (1, 2, 3):
        allrows.where(F.dayofmonth("updated_date") == day).coalesce(
            1
        ).write.mode("append").parquet(landing)

    rules = {
        "price_positive": F.col("price_value").isNull()
        | (F.col("price_value") > 0)
    }
    stream = read_snapshot_stream(
        spark, landing, SNAPSHOT_SCHEMA, max_files_per_trigger=1
    )
    q = incremental_merge_stream(
        stream, state, ckpt, expectations=rules, quarantine_path=qdir
    )
    q.awaitTermination(120)

    got = read_state(spark, state)
    keys = {r.offer_id for r in got.select("offer_id").collect()}
    assert keys == {1, 2, 3}  # key 9 never entered
    p2 = got.where("offer_id = 2").collect()[0].price_value
    assert p2 == 55.0  # the zero-price update was gated out

    quarantined = spark.read.parquet(f"{qdir}/b_*")
    qs = {(r.offer_id, r._violations[0]) for r in quarantined.collect()}
    assert qs == {(9, "price_positive"), (2, "price_positive")}
    assert {r._batch_id for r in quarantined.collect()} <= {0, 1, 2}

    # equivalence: streamed-with-gate == batch merge over clean rows
    clean = allrows.where(rules["price_positive"])
    want = merge_listings(
        clean.limit(0).drop("updated_date"), clean, key="offer_id",
        order_cols=["updated_date", "event_id"],
    )
    gl = {
        (r.offer_id, r.price_value, r.is_unpublished)
        for r in got.select("offer_id", "price_value", "is_unpublished").collect()
    }
    wl = {
        (r.offer_id, r.price_value, r.is_unpublished)
        for r in want.select("offer_id", "price_value", "is_unpublished").collect()
    }
    assert gl == wl
