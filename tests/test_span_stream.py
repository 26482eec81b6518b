"""Incremental substring-span dedup: chunked folds equal the batch
operator, singletons become duplicates across batches, replay no-ops,
and the frozen window refuses mismatched fingerprints."""

import json
import os
import shutil
import tempfile

import pytest

from rental_data_pipeline_spark.operators.dedup import duplicated_spans
from rental_data_pipeline_spark.streaming.span_stream import (
    fold_spans_batch,
    read_duplicated_spans,
    read_span_windows,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="span_stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _srows(df):
    return sorted(
        (r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
        for r in df.collect()
    )


def test_cross_batch_spans_equal_batch_operator(spark, root):
    run = " ".join(f"t{i}" for i in range(1, 11))
    other = " ".join(f"u{i}" for i in range(1, 11))
    b0 = spark.createDataFrame(
        [(1, run), (2, f"x y {other}")], "doc_id long, text string"
    )
    # doc 3 duplicates batch 0's span (singleton state row must have
    # entered the state to be promotable); doc 4 repeats it internally
    b1 = spark.createDataFrame(
        [(3, f"pad {run}"), (4, f"{other} mid {other}")],
        "doc_id long, text string",
    )
    fold_spans_batch(spark, root, b0, 0, window=10)
    fold_spans_batch(spark, root, b1, 1, window=10)

    want = _srows(
        duplicated_spans(b0.unionByName(b1), window=10, min_docs=2)
    )
    got = _srows(read_duplicated_spans(spark, root))
    assert got == want
    assert len(got) == 2  # both runs became cross-doc duplicates

    # replaying a committed batch is a no-op (LSM replay contract)
    fold_spans_batch(spark, root, b1, 1, window=10)
    assert _srows(read_duplicated_spans(spark, root)) == want


def test_multi_window_fold_equals_batch_sweep(spark, root):
    """A window LIST folds all lengths through one shared scan per
    batch; the accumulated state equals multi_window_duplicated_spans
    over the full corpus, per window — and the frozen window SET
    refuses a mismatched fold."""
    from rental_data_pipeline_spark.operators.dedup import (
        multi_window_duplicated_spans,
    )

    run20 = " ".join(f"t{i}" for i in range(1, 21))
    run10 = " ".join(f"s{i}" for i in range(1, 11))
    b0 = spark.createDataFrame(
        [(1, run20), (2, run10)], "doc_id long, text string"
    )
    # doc 3 duplicates the 20-run (hits BOTH windows); doc 4 the 10-run
    b1 = spark.createDataFrame(
        [(3, f"pad {run20}"), (4, f"x {run10}")],
        "doc_id long, text string",
    )
    fold_spans_batch(spark, root, b0, 0, window=[10, 20])
    fold_spans_batch(spark, root, b1, 1, window=[10, 20])
    assert read_span_windows(root) == [10, 20]

    def mrows(df):
        return sorted(
            (r.window, r.span_hash, r.keeper_id, r.n_copies, r.n_docs)
            for r in df.collect()
        )

    want = mrows(
        multi_window_duplicated_spans(
            b0.unionByName(b1), windows=[10, 20], min_docs=2
        )
    )
    got = mrows(read_duplicated_spans(spark, root))
    assert got == want and got
    # both window populations are present
    assert {w for w, *_ in got} == {10, 20}
    # the per-window restriction matches the single-window operator
    only20 = mrows(read_duplicated_spans(spark, root, window=20))
    assert only20 == [r for r in want if r[0] == 20]

    with pytest.raises(ValueError, match="windows="):
        fold_spans_batch(spark, root, b1, 2, window=10)


def test_state_stores_binary_keys_reads_hex(spark, root):
    """The state-internal key is the md5 fingerprint's 16 raw bytes
    (the Zipf-tail singleton rows are ~all key — measured 40% smaller
    than hex strings, scripts/span_state_size.py); the read boundary
    converts back to the operator's hex-string contract, and a state
    stamped without the binary key encoding refuses further folds
    instead of silently splitting each span's stats across two rows."""
    from pyspark.sql.types import BinaryType

    from rental_data_pipeline_spark.streaming.span_stream import (
        read_span_state,
    )

    run = " ".join(f"t{i}" for i in range(1, 11))
    b = spark.createDataFrame(
        [(1, run), (2, f"pad {run}")], "doc_id long, text string"
    )
    fold_spans_batch(spark, root, b, 0, window=10)
    st = read_span_state(spark, root)
    assert isinstance(st.schema["span_hash"].dataType, BinaryType)
    got = read_duplicated_spans(spark, root).collect()
    assert len(got) == 1 and isinstance(got[0].span_hash, str)
    want = duplicated_spans(b, window=10).collect()
    assert got[0].span_hash == want[0].span_hash  # hex round-trip exact

    # a stamp without key_encoding → fold refuses
    meta = f"{root}/_span_window.json"
    with open(meta) as f:
        legacy = json.load(f)
    legacy.pop("key_encoding")
    with open(meta, "w") as f:
        json.dump(legacy, f)
    with pytest.raises(ValueError, match="older on-disk layout"):
        fold_spans_batch(spark, root, b, 1, window=10)
    os.remove(meta)  # restore for any later fixture use


def test_window_is_frozen_at_first_fold(spark, root):
    b = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(1, 15)))],
        "doc_id long, text string",
    )
    fold_spans_batch(spark, root, b, 0, window=10)
    assert read_span_windows(root) == [10]
    with pytest.raises(ValueError, match=r"windows=\[10\]"):
        fold_spans_batch(spark, root, b, 1, window=5)


# every on-disk generation the span state no longer reads
_STALE_STAMPS = {
    "no_layout": {"windows": [10], "key_encoding": "binary128"},
    "no_key_encoding": {"windows": [10], "layout": "tiered"},
    "single_window": {
        "window": 10, "key_encoding": "binary128", "layout": "tiered",
    },
}


@pytest.fixture(scope="module")
def folded_spans(spark):
    d = tempfile.mkdtemp(prefix="span_stamp_test_")
    run = " ".join(f"t{i}" for i in range(1, 11))
    b = spark.createDataFrame(
        [(1, run), (2, f"pad {run}")], "doc_id long, text string"
    )
    fold_spans_batch(spark, f"{d}/spans", b, 0, window=10)
    yield f"{d}/spans"
    shutil.rmtree(d, ignore_errors=True)


def _listing(root):
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    )


@pytest.mark.parametrize("stamp", sorted(_STALE_STAMPS))
def test_stale_stamp_refuses_every_entry_point(
    spark, folded_spans, tmp_path, stamp
):
    """A span state stamped by an older on-disk generation refuses the
    fold, the read, the corpus rebucket and the maintenance pass with
    one rebuild message, and none of them touches the directory."""
    from rental_data_pipeline_spark.streaming.corpus_stream import (
        maintain_corpus,
        rebucket_corpus,
    )

    corpus = str(tmp_path / "corpus")
    spans = f"{corpus}/spans"
    shutil.copytree(folded_spans, spans)
    with open(f"{spans}/_span_window.json", "w") as f:
        json.dump(_STALE_STAMPS[stamp], f)
    before = _listing(corpus)
    batch = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    calls = {
        "fold": lambda: fold_spans_batch(spark, spans, batch, 1, window=10),
        "read": lambda: read_duplicated_spans(spark, spans),
        "rebucket": lambda: rebucket_corpus(
            spark, corpus, spans_n_buckets=32
        ),
        "maintain": lambda: maintain_corpus(spark, corpus),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError) as e:
            call()
        assert str(e.value) == (
            f"span state at {spans} was written in an older on-disk "
            "layout; rebuild it by re-folding its corpus into a fresh path"
        ), name
        assert _listing(corpus) == before, name
