"""One benchmark run inside its own process group (``run.py`` starts it).

The parent (``run.py``) prepares a fresh temporary root and the
environment (``PYTHONPATH``, ``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_DRIVER_MEM``, ``SPARK_LOCAL_DIRS``, ``TMPDIR``); this
process builds the Spark session through the package's public
``session.get_spark``, lets the workload generate its inputs and warm
up, runs the fixed timed op sequence, checks the outputs, and writes
one result JSON file for the parent to print.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import threading
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def host_probe() -> float:
    """Seconds for a fixed single-threaded Python loop: the host's speed
    at this moment, recorded next to every op."""
    t = time.perf_counter()
    h = 0
    for i in range(200_000):
        h = (h * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def p90(values: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[max(0, -(-9 * len(s) // 10) - 1)])


# ---------------------------------------------------------------------------
# peak memory of this process group (Python driver + JVM + Python workers)
# ---------------------------------------------------------------------------


def _group_pss_kb(pgid: int) -> int:
    """Summed PSS (shared pages split between their users, so forked
    Python workers are not counted twice) of the process group."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            # field 5 (pgrp) sits after the parenthesised command name
            if int(stat.rsplit(")", 1)[1].split()[2]) != pgid:
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler(threading.Thread):
    """Samples the process group's summed PSS every ``interval`` s."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._halt = threading.Event()
        self._pgid = os.getpgid(0)

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, _group_pss_kb(self._pgid))
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, _group_pss_kb(self._pgid))
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Context:
    """What a workload sees: the session, its seed, its private root,
    and the tracer (``None`` on untraced runs)."""

    def __init__(self, spark, seed: int, root: str, tracer):
        self.spark = spark
        self.seed = seed
        self.root = root
        self.tracer = tracer

    def span(self, name: str):
        """A benchmark phase span (recorded on every op of a traced run)."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, always=True)


def _session(tracer):
    from rental_data_pipeline_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(
            os.environ["PERFBENCH_ROOT"], "warehouse"
        ),
    }
    if tracer is not None:
        conf.update(tracer.spark_conf())
    return session.get_spark("perfbench", extra_conf=conf)


def run(workload: str, seed: int, trace: bool, out_path: str) -> int:
    import workloads

    root = os.environ["PERFBENCH_ROOT"]
    tracer = None
    if trace:
        import tracing

        tracer = tracing.Tracer(root)
        tracer.install()

    t0 = time.perf_counter()
    spark = _session(tracer)
    session_s = time.perf_counter() - t0
    if tracer is not None:
        tracer.attach(spark)

    ctx = Context(spark, seed, root, tracer)
    wl = workloads.make(workload, ctx)
    log(f"session {session_s:.2f}s")
    wl.prepare()
    log(f"inputs ready {wl.setup_parts}")
    wl.warm()
    log(f"warm-up done {wl.setup_parts}")
    setup_s = time.perf_counter() - T_PROCESS

    sampler = RssSampler()
    sampler.start()
    sc = spark.sparkContext
    ops: list[dict] = []
    errors: list[str] = []
    t_run = time.perf_counter()
    probes: list[float] = []
    per_gap = -(-15 // wl.n_ops)  # at least 15 probes a run
    for i in range(wl.n_ops):
        probes += [host_probe() for _ in range(per_gap)]
        traced = tracer is not None and tracer.op_is_traced(i, wl.op_kind(i))
        sc.setJobGroup(f"op{i:04d}", f"{workload} op {i}")
        if tracer is not None:
            tracer.begin_op(i, traced)
        t = time.perf_counter()
        try:
            halves = wl.op(i)
            ok = True
        except Exception as e:  # an op that raises counts as failed
            halves, ok = {"fold": 0.0, "read": 0.0}, False
            errors.append(f"op {i}: {type(e).__name__}: {str(e)[:300]}")
        op_s = time.perf_counter() - t
        if tracer is not None:
            tracer.end_op(i)
        log(f"op {i} {op_s:.3f}s {halves}")
        ops.append({"op_s": op_s, "ok": ok, **halves})
    run_s = time.perf_counter() - t_run - sum(probes)
    peak_rss_mb = sampler.stop()
    sc.setJobGroup("check", "correctness check")

    failed_ops = {i for i, o in enumerate(ops) if not o["ok"]}
    try:
        bad, notes = wl.check([o["ok"] for o in ops])
        failed_ops |= set(bad)
        errors.extend(notes)
    except Exception as e:
        failed_ops = set(range(len(ops)))
        errors.append(f"check: {type(e).__name__}: {str(e)[:300]}")

    layers = {"peak_rss_mb": peak_rss_mb, **wl.layer_facts()}
    spark.stop()

    good = [o for o in ops if o["ok"]]
    result = {
        "workload": workload,
        "seed": seed,
        "attempted": len(ops),
        "failed": len(failed_ops),
        "errors": errors[:20],
        "end_to_end": {
            "setup_s": setup_s,
            "run_s": run_s,
            "op_s_p50": median([o["op_s"] for o in good]),
            "op_s_p90": p90([o["op_s"] for o in good]),
            "fold_s_p50": median([o["fold"] for o in good]),
            "read_s_p50": median([o["read"] for o in good]),
            "peak_rss_mb": peak_rss_mb,
            "fail_frac": len(failed_ops) / max(1, len(ops)),
            "host_probe_s": median(probes),
        },
        "setup_parts_s": {"session": session_s, **wl.setup_parts},
        "op_count": len(ops),
        "ops": ops,
    }
    if tracer is not None:
        result["per_layer"] = tracer.report(ops, layers, session_s)
    with open(out_path, "w") as f:
        json.dump(result, f)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    return run(a.workload, a.seed, bool(a.trace), a.out)


if __name__ == "__main__":
    sys.exit(main())
