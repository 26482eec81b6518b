#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of rental_data_pipeline_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics. Lines starting with ``#`` before it
record the host (nproc, MemTotal), PySpark version, seed, driver memory
setting, op count, every end-to-end figure (``fail_frac`` included) and
the set-up breakdown. The exit code is non-zero, with no result line,
when the package is missing or the run fails.

Each run is one closed-loop, single-client sequence on
``local[nproc]``: a fixed number of ops, each started when the previous
one returned. ``--seconds`` is the nominal length of the timed phase
(the op counts are sized to take about that long on a 4-core host); it
does not cut the sequence short, so two runs always do the same work.
A run lives in a fresh temporary root inside the checkout (state,
outputs, ``SPARK_LOCAL_DIRS``, ``TMPDIR``), in its own process group,
which is killed and reaped at the end.

Host pinning: ``SPARK_GRAFT_CPUS`` = nproc, ``SPARK_GRAFT_DRIVER_MEM`` =
a quarter of MemTotal clamped to 1-4 GiB (the package default, 32 g,
let the JVM grow past a 15 GB host and be OOM-killed).

End-to-end metrics (``--trace 0``)
----------------------------------
``setup_s``   process start -> timed phase: Spark session, input
              generation, state seeding, correctness pass. Measured once
              per run: the JVM starts once per process, and a second
              in-process set-up would meet a warm JVM.
``run_s``     wall time of the fixed timed op sequence.
``op_s_p50``  median op latency: one crawl cycle (``run_pipeline`` plus
              reading the fresh state and filtered view back), one
              registry query (build + ``noop`` write).
The ``#`` lines also carry ``fail_frac`` (failed or wrong ops / attempted
ops; also in ``attempted``/``failed``), ``op_s_p90`` (no workload here
has the 100 ops per run a p90 needs for ten samples beyond it), the
medians of the op's two halves (``fold_s_p50``: the cycle itself /
building the query / ``fold_corpus_batch``; ``read_s_p50``: reading
back / executing to ``noop`` / ``read_incremental_corpus`` plus
materialising ``corpus`` and ``packed``), which spread 12-18% between
runs on a 4-core host (too close to the largest bound to gate on), and
``peak_rss_mb``, the peak PSS of the process group, which swings with GC
timing and is a per-layer figure, and ``host_probe_s``, the median time
of a fixed single-threaded Python loop run between ops (outside the
timed ops and ``run_s``): the host's speed during the run, for reading
results taken at different times.

Workloads
---------
``crawl_hourly``   repeated ``jobs.pipeline.run_pipeline`` cycles with
    ``state_path`` and ``output_dir`` over a seeded universe of 500
    offers (5% vanish, 5% new monotonic ids, 10% card price changes per
    cycle; ~75 KB listing pages from the ``operators.extract``
    renderers). Why: it is the reference's hourly job. Cycle 0 seeds the
    state with the whole universe in set-up, then 3 cycles are timed;
    state grows every cycle (infinite retention).
``registry_sweep`` 16 oracle-checked registry queries (``registry.py``
    lists them and says why not all 50) at the sf0.001 sizes: one
    untimed checking pass, then 2 timed passes (32 ops) in a seeded
    order, each op built and written to ``noop`` with ``clearCache``
    between ops. Why: it covers the ``queries*`` builders,
    ``sources.load_table`` and batch operators (OLAP, top-k, sketch,
    as-of, range join, gap-fill) that the crawl does not reach, with ops
    short enough to give many samples per run.
``corpus_stream``  (not in ``BENCHMARK.json``, run by hand; see
    ``corpus.py``) fold one document batch with
    ``streaming.corpus_stream.fold_corpus_batch``, then read the live
    corpus with ``read_incremental_corpus``; the only workload on the
    ``streaming/`` slice stores.

Why only two workloads in ``BENCHMARK.json``: every run of every listed
workload (22 per workload, plus 4) must end within 3,420 s, about 71 s
per run with two workloads. A run of crawl_hourly takes 64-76 s and one
of registry_sweep 33-60 s; a corpus_stream run takes ~107 s (fold
12-15 s and read 4-7 s per op at 60 docs per batch), and three ops of
it give no steady median.

Measured on a 4-core, 15 GB host, PySpark 4.1.2
----------------------------------------------
The host's speed drifts by up to ~35% between quarter-hours (the median
crawl cycle of 10 seeds was 6.86 s in one set and 9.72 s in the next),
which is why every bound is 0.25; ``host_probe_s`` shows the phase. In
the last 10-seed set the spread (IQR / median) was, crawl / registry:
``setup_s`` 8.9% / 16.6%, ``run_s`` 9.7% / 13.5%, ``op_s_p50`` 14.3% /
15.9%.
crawl_hourly: session 6 s, input rendering 9-10.5 s (6.3-7.7 s of it
the session's first job), cycle 0 18-23 s, the first timed cycle 10-12 s
and the next ones 8-10 s. A cycle runs 39 jobs and ~4,000 py4j calls,
with 3.0-3.5 s of driver gap; ``sinks.write_state_json`` is the first
action on the lazily built merge chain and runs 28 of the 39 jobs
(4-5.5 s).
registry_sweep: the checking pass over the 16 queries takes 19-24 s
cold, a timed pass 7-8.5 s (ops 0.15-2.5 s); a pass over all 50 slots
takes 130 s cold and 61 s warm at sf0.001.
corpus_stream: the first batch (fold + read) takes 23.6 s cold; folds
then take 12-15 s, of which ``dedup_index.fold_index_batch`` 5.6 s and
``simhash_stream.fold_simhash_batch`` 2.0 s, in 21 jobs.

Warm-up. Registry passes at sf0.01 ran 197.7 -> 87.9 -> 60.6 s in one
session and 136.7 -> 69.9 -> 70.0 -> 68.0 -> 58.4 -> 58.7 s in
another: the first warm passes of two sessions differ by 26%, later
passes agree within 4%. At sf0.001 the three passes after the checking
pass took 8.55 -> 7.80 -> 7.11 s (op medians 0.41 -> 0.36 -> 0.27 s);
crawl cycles fall from 10-12 s to 8-10 s over the first few cycles
after the seed. Neither slope is flat when timing starts: the run budget
has no room for the extra pass or cycle that would flatten it (each
cost ~8-12 s a run). Measured, an extra warm pass or cycle did not make
the spread smaller (registry ``op_s_p50`` 7.1% with it, 8.2% without;
crawl ``op_s_p50`` 7.1% with, 8.6-11.5% without, in different hours), so
the slope is taken as part of the sequence: every run times the same
positions on it.

Growth. Corpus reads grow with the corpus: 3.9 -> 5.0 -> 6.9 s to build
the read (39 -> 48 -> 59 jobs) after batches 2-4 of 60 docs here, and,
at 250 docs per batch, 3.4 -> 4.0 -> 4.7 -> 6.1 -> 8.5 -> 9.7 -> 16.5 ->
22.9 -> 33.3 -> 49.1 -> 71.7 s over 11 batches, with 54.6 s of a 63.4 s
read in ``pack_sequences``' eager collect (5,484 py4j calls). The traced
corpus run records the read's build time and jobs per batch index.

Layers -> end-to-end metrics (``--trace 1``; means per traced op)
------------------------------------------------------------------
every op, both workloads -> ``op_s_p50``: ``op.py4j_calls``, ``op.jobs``,
    ``op.stages``, ``op.tasks``, ``op.task_s``, ``op.shuffle_write_bytes``,
    ``op.output_bytes``, ``op.driver_gap_s`` (op wall minus the union of
    its job intervals).
``session.get_spark_s`` -> ``setup_s`` (both); ``prepared.build_s``
    (sum of ``prepared.build_log()``) -> ``setup_s`` (registry_sweep).
``sources.load_table.{calls,s,jobs}`` -> registry_sweep ``op_s_p50``
    (one schema-discovery job per load).
``queries.build_s``/``queries.build_jobs`` (construction) and
    ``queries.exec_s`` (execution) -> registry_sweep ``op_s_p50``; the
    heavy slots (sketch, as-of) set its tail.
crawl layers -> crawl_hourly ``op_s_p50`` and ``run_s``, and no
    registry_sweep metric: ``streaming.incremental.read_state_or_legacy.s``,
    ``operators.extract.{split_cards,parse_listing_pages}.s`` (lazy
    builders, near 0) and ``operators.extract.python_task_s`` (task time
    of the MapInPandas stages), ``operators.normalize.normalize_listings.s``,
    ``operators.merge.merge_listings.{calls,build_s,py4j_calls}``,
    ``operators.sinks.{write_state_json,write_csv_snapshot,
    write_filtered_csv}.{s,jobs,task_s}``, ``jobs.pipeline.commit_s``
    (last sink return -> ``run_pipeline`` return).
corpus layers (corpus_stream only) -> its fold half:
    ``streaming.corpus_stream.fold_corpus_batch.{s,jobs}``, the sub-folds
    ``streaming.{incremental.bucketed_keyed_fold,dedup_index.fold_index_batch,
    df_stream.fold_docs_batch,sketch_stream.fold_registers_batch,
    simhash_stream.fold_simhash_batch,span_stream.fold_spans_batch}.s``,
    ``streaming.files_written``, ``streaming.slice_dirs``; -> its
    read half: ``...read_incremental_corpus.{build_s,build_jobs}``
    (also per batch index, ``.b00`` ...), ``operators.textstats.
    pack_sequences.s``, ``streaming.corpus_stream.read_exec_s``.
``peak_rss_mb``: peak PSS of the process group over the timed phase.
``trace.overhead_frac`` / ``trace.overhead_s``: see ``tracing.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
PACKAGE = "rental_data_pipeline_spark"
CHILD_TIMEOUT_S = 150
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER, corpus_layer  # noqa: E402
from workloads import names as workload_names  # noqa: E402


def host_facts() -> dict:
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        nproc = os.cpu_count() or 1
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024}


def driver_mem(mem_total_mb: int) -> str:
    """A quarter of MemTotal, between 1 and 4 GiB: the package's 32 g
    default does not fit a small host."""
    gib = max(1, min(4, mem_total_mb // 1024 // 4))
    return f"{gib}g"


def pyspark_version() -> str:
    try:
        import pyspark

        return pyspark.__version__
    except ImportError:
        return "missing"


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the child left behind (JVM, Python workers) and
    wait until the whole process group has exited."""
    pgid = proc.pid
    if proc.poll() is None:
        try:
            os.killpg(pgid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.monotonic() + 15
    while _group_alive(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workload_names())
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(CHECKOUT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found next to perfbench/",
              file=sys.stderr)
        return 2

    host = host_facts()
    mem = driver_mem(host["mem_total_mb"])
    root = os.path.join(
        CHECKOUT, ".perfbench_tmp", f"{a.workload}-{a.seed}-{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(root, sub))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [CHECKOUT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "TMPDIR": os.path.join(root, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={root}/tmp",
        "PERFBENCH_ROOT": root,
    })
    out = os.path.join(root, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "harness.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--trace", str(a.trace), "--out", out]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = -1
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
    finally:
        stop_group(proc)
    try:
        with open(out) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = None
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    if rc != 0 or res is None:
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return 1

    e2e = res["end_to_end"]
    for msg in res["errors"]:
        print(f"perfbench: {msg}", file=sys.stderr)
    facts = {**host, "pyspark": pyspark_version(), "driver_mem": mem,
             "seed": a.seed, "workload": a.workload, "trace": a.trace,
             "ops": res["op_count"]}
    print("# " + json.dumps(facts))
    print("# " + json.dumps({k: round(v, 4) for k, v in e2e.items()}))
    print("# ops " + json.dumps(
        [{k: round(v, 3) for k, v in o.items() if k != "ok"} for o in res["ops"]]))
    print("# setup parts " + json.dumps(
        {k: round(v, 3) for k, v in res["setup_parts_s"].items()}))
    if a.trace:
        names = dict(PER_LAYER)
        if a.workload == "corpus_stream":
            names.update(corpus_layer(res["op_count"]))
        metrics = {k: {"value": res["per_layer"].get(k, 0.0), "unit": u}
                   for k, u in names.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
