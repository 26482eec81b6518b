"""``corpus_stream``: each op folds one seeded raw-document batch with
``streaming.corpus_stream.fold_corpus_batch``, then reads the live
corpus with ``read_incremental_corpus`` and materialises ``corpus`` and
``packed``. Why: it is the only workload on the ``streaming/`` slice
stores, and it pairs a write with a read of what it wrote.

This workload is not in ``BENCHMARK.json``: a fold+read op costs 13 s
or more from the first batch, so a run with a steady median does not
fit the time all runs of all workloads share. Run it by hand for the
corpus layers (``--trace 1``), including the read build time per batch
index, which keeps the read's growth with the corpus visible.

Generator: batches of ``BATCH_DOCS`` documents with ids minted in
arrival order (the fold's monotonic-id contract); ~5% of a batch are
exact copies of an earlier document and ~5% near copies (one word
changed). A fixed holdout of 20 documents, some copied from the first
batch, drives decontamination. Every optional sub-fold the generator
can feed is on: HLL registers, SimHash (max Hamming 3) and span hashes
(window 10). Check: after the timed phase, the live corpus's id set
equals ``jobs.corpus_job.build_training_corpus`` over the same
documents.
"""

from __future__ import annotations

import glob
import os
import random
import time

BATCH_DOCS = 60
WARM_BATCHES = 1
TIMED_BATCHES = 3
CFG = dict(languages=("en", "de", "fr", "es"), min_quality=0.0, min_tokens=1,
           max_contamination=0.5)
_WORDS = ("the a key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order data column join small query big "
          "customer group filter stream vector dup").split()


def make_batches(seed: int, n_batches: int) -> tuple[list[list[tuple]], list[str]]:
    rng = random.Random(seed * 15485863 + 5)
    docs: list[str] = []
    batches = []
    next_id = 0
    for _ in range(n_batches):
        batch = []
        for _ in range(BATCH_DOCS):
            r = rng.random()
            if docs and r < 0.05:
                text = rng.choice(docs)
            elif docs and r < 0.10:
                words = rng.choice(docs).split()
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
                text = " ".join(words)
            else:
                text = " ".join(rng.choice(_WORDS)
                                for _ in range(rng.randint(12, 80)))
            docs.append(text)
            batch.append((next_id, text))
            next_id += 1
        batches.append(batch)
    holdout = [t for _, t in batches[0][:5]] + [
        " ".join(rng.choice(_WORDS) for _ in range(30)) for _ in range(15)
    ]
    return batches, holdout


class CorpusStream:
    n_ops = TIMED_BATCHES

    def __init__(self, ctx):
        from rental_data_pipeline_spark.jobs.corpus_job import CorpusConfig

        self.ctx = ctx
        self.cfg = CorpusConfig(**CFG)
        self.batches, self.holdout_texts = make_batches(
            ctx.seed, WARM_BATCHES + TIMED_BATCHES)
        self.inputs = os.path.join(ctx.root, "corpus_inputs")
        self.corpus_root = os.path.join(ctx.root, "corpus")
        self.setup_parts: dict[str, float] = {}
        self.read_build_s: list[float] = []

    def prepare(self) -> None:
        t = time.perf_counter()
        spark = self.ctx.spark
        rows = [(b, i, text) for b, batch in enumerate(self.batches)
                for i, text in batch]
        spark.createDataFrame(rows, "batch int, doc_id long, text string") \
            .write.partitionBy("batch").parquet(f"{self.inputs}/docs")
        spark.createDataFrame(
            [(10**9 + i, t) for i, t in enumerate(self.holdout_texts)],
            "doc_id long, text string",
        ).write.parquet(f"{self.inputs}/holdout")
        self.holdout = spark.read.parquet(f"{self.inputs}/holdout")
        self.setup_parts["inputs"] = time.perf_counter() - t

    def _batch(self, b: int):
        return self.ctx.spark.read.parquet(f"{self.inputs}/docs/batch={b}")

    def _op(self, b: int) -> dict:
        from rental_data_pipeline_spark.streaming.corpus_stream import (
            fold_corpus_batch,
            read_incremental_corpus,
        )

        spark = self.ctx.spark
        t0 = time.perf_counter()
        with self.ctx.span("fold"):
            fold_corpus_batch(
                spark, self.corpus_root, self._batch(b), b,
                config=self.cfg, holdout=self.holdout,
                span_window=10, simhash_max_hamming=3,
            )
        t1 = time.perf_counter()
        with self.ctx.span("read_build"):
            out = read_incremental_corpus(spark, self.corpus_root, self.cfg)
        t2 = time.perf_counter()
        with self.ctx.span("read_exec"):
            for key in ("corpus", "packed"):
                out[key].write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        return {"fold": t1 - t0, "read": t3 - t1, "read_build": t2 - t1}

    def warm(self) -> None:
        for b in range(WARM_BATCHES):
            t = time.perf_counter()
            self._op(b)
            self.setup_parts[f"batch{b}"] = time.perf_counter() - t

    def op_kind(self, i: int) -> str:
        return "fold_read"

    def op(self, i: int) -> dict:
        r = self._op(WARM_BATCHES + i)
        self.read_build_s.append(r.pop("read_build"))
        return r

    def check(self, oks: list[bool]) -> tuple[list[int], list[str]]:
        from rental_data_pipeline_spark.jobs.corpus_job import build_training_corpus
        from rental_data_pipeline_spark.streaming.corpus_stream import (
            read_incremental_corpus,
        )

        spark = self.ctx.spark
        got = {r[0] for r in read_incremental_corpus(
            spark, self.corpus_root, self.cfg)["corpus"].select("doc_id").collect()}
        docs = spark.read.parquet(f"{self.inputs}/docs").select("doc_id", "text")
        want = {r[0] for r in build_training_corpus(
            docs, self.holdout, self.cfg)["corpus"].select("doc_id").collect()}
        if got == want and got:
            return [], []
        # the last read is the corpus every timed op built up to
        return list(range(len(oks))), [
            f"corpus ids differ from the batch job: {len(got - want)} extra, "
            f"{len(want - got)} missing"]

    def layer_facts(self) -> dict:
        files = [p for p in glob.glob(f"{self.corpus_root}/**", recursive=True)
                 if os.path.isfile(p)]
        slices = [p for p in glob.glob(f"{self.corpus_root}/**/b_*", recursive=True)
                  if os.path.isdir(p)]
        return {"streaming.files_written": len(files),
                "streaming.slice_dirs": len(slices),
                "read_build_s": list(self.read_build_s)}
