"""The traced run: spans around calls into the package's public
functions, a py4j call counter, one Spark job group per op, and a
parse of Spark's event log into per-layer numbers.

Nothing inside the package is edited. ``Tracer.install`` replaces
module attributes from here: each traced function is swapped for a
timing wrapper in its defining module *and* in every package module
that imported it by name (``from ... import merge_listings``), so
calls made inside the package are seen too.

While a span is open its name is set as the Spark local property
``perfbench.span``; every job Spark submits meanwhile carries it in the
event log, which attributes jobs, stages, task time and bytes to the
innermost open span. Job groups (``op0007``) attribute them to ops.

Tracing overhead: module spans and their local-property calls are
active on every second occurrence of each op kind only, and kinds start
alternately untraced and traced (crawl: untraced, traced, untraced;
registry: each query traced in one of its two passes, half of them in
the first). A linear trend (state growth, warming) then cancels between
traced ops and their untraced neighbours.
``trace.overhead_frac`` compares traced with untraced ops of the same
kind; event logging and the py4j counter stay on for all ops, so their
share is not in it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
from collections import defaultdict

PKG = "rental_data_pipeline_spark"
SPAN_PROP = "perfbench.span"

# (module, function) pairs wrapped by ``install``
TARGETS = [
    ("session", "get_spark"),
    ("sources.tables", "load_table"),
    ("streaming.incremental", "read_state_or_legacy"),
    ("operators.extract", "split_cards"),
    ("operators.extract", "parse_listing_pages"),
    ("operators.normalize", "normalize_listings"),
    ("operators.merge", "merge_listings"),
    ("operators.sinks", "write_state_json"),
    ("operators.sinks", "write_csv_snapshot"),
    ("operators.sinks", "write_filtered_csv"),
    ("streaming.corpus_stream", "fold_corpus_batch"),
    ("streaming.corpus_stream", "read_incremental_corpus"),
    ("streaming.incremental", "bucketed_keyed_fold"),
    ("streaming.dedup_index", "fold_index_batch"),
    ("streaming.df_stream", "fold_docs_batch"),
    ("streaming.sketch_stream", "fold_registers_batch"),
    ("streaming.simhash_stream", "fold_simhash_batch"),
    ("streaming.span_stream", "fold_spans_batch"),
    ("operators.textstats", "pack_sequences"),
]


class _Stat:
    __slots__ = ("calls", "s", "py4j")

    def __init__(self):
        self.calls = 0
        self.s = 0.0
        self.py4j = 0


class Tracer:
    def __init__(self, root: str):
        self.events_dir = os.path.join(root, "events")
        os.makedirs(self.events_dir, exist_ok=True)
        self.sc = None
        self.py4j_calls = 0
        self._muted = 0
        self.active = False
        self.op = None
        self.stack: list[str] = []
        # (op index, span name) -> stat; op None = outside the timed phase
        self.stats: dict[tuple, _Stat] = defaultdict(_Stat)
        self.marks: dict[tuple, float] = {}
        self.op_wall: dict[int, tuple[float, float]] = {}
        self.op_py4j: dict[int, int] = {}
        self.op_kind: dict[int, str] = {}
        self.traced_ops: set[int] = set()
        self._kind_seen: dict[str, int] = defaultdict(int)

    # ---- set-up ---------------------------------------------------------

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.events_dir,
            "spark.eventLog.compress": "false",
        }

    def install(self) -> None:
        import importlib

        from py4j.java_gateway import GatewayClient

        original_send = GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            if not tracer._muted:
                tracer.py4j_calls += 1
            return original_send(client, *args, **kwargs)

        GatewayClient.send_command = send_command
        for mod, attr in TARGETS:
            m = importlib.import_module(f"{PKG}.{mod}")
            fn = getattr(m, attr)
            wrapped = self._wrap(f"{mod}.{attr}", fn)
            for name, other in list(sys.modules.items()):
                if other is None or not name.startswith(PKG):
                    continue
                for k, v in list(vars(other).items()):
                    if v is fn:
                        setattr(other, k, wrapped)

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    # ---- spans ------------------------------------------------------------

    def _set_prop(self, value: str | None) -> None:
        if self.sc is None:
            return
        self._muted += 1
        try:
            self.sc.setLocalProperty(SPAN_PROP, value)
        finally:
            self._muted -= 1

    @contextlib.contextmanager
    def span(self, name: str, always: bool = False):
        """Module spans run on traced ops only; ``always`` spans (the
        benchmark's own phases) run on every op."""
        if not (always or self.active or self.op is None):
            yield
            return
        self.stack.append(name)
        self._set_prop(name)
        p0, t0 = self.py4j_calls, time.perf_counter()
        try:
            yield
        finally:
            st = self.stats[(self.op, name)]
            st.calls += 1
            st.s += time.perf_counter() - t0
            st.py4j += self.py4j_calls - p0
            self.marks[(self.op, name)] = time.perf_counter()
            self.stack.pop()
            self._set_prop(self.stack[-1] if self.stack else None)

    def _wrap(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        wrapper.__doc__ = fn.__doc__
        return wrapper

    # ---- ops --------------------------------------------------------------

    def op_is_traced(self, i: int, kind: str) -> bool:
        k = self._kind_seen[kind]
        self._kind_seen[kind] += 1
        self.op_kind[i] = kind
        # kinds in order of first appearance start alternately on the
        # untraced and the traced side
        traced = (k + list(self._kind_seen).index(kind)) % 2 == 1
        if traced:
            self.traced_ops.add(i)
        return traced

    def begin_op(self, i: int, traced: bool) -> None:
        self.op = i
        self.active = traced
        self.op_py4j[i] = self.py4j_calls
        self.op_wall[i] = (time.time(), 0.0)

    def end_op(self, i: int) -> None:
        self.op_wall[i] = (self.op_wall[i][0], time.time())
        self.op_py4j[i] = self.py4j_calls - self.op_py4j[i]
        self.op = None
        self.active = False

    # ---- event log --------------------------------------------------------

    def _parse_events(self):
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = {}
        # Spark writes one directory per application (rolling event log)
        paths = [p for p in glob.glob(os.path.join(self.events_dir, "**"),
                                      recursive=True) if os.path.isfile(p)]
        for path in sorted(paths):
            with open(path) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except ValueError:
                        continue
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jobs[ev["Job ID"]] = {
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None,
                            "group": props.get("spark.jobGroup.id"),
                            "span": props.get(SPAN_PROP),
                            "stages": list(ev.get("Stage IDs", [])),
                        }
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        st = stages.setdefault(ev["Stage ID"], _stage())
                        m = ev.get("Task Metrics") or {}
                        st["tasks"] += 1
                        st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                        st["shuffle_write"] += (
                            m.get("Shuffle Write Metrics") or {}
                        ).get("Shuffle Bytes Written", 0)
                        st["output"] += (m.get("Output Metrics") or {}).get(
                            "Bytes Written", 0
                        )
                        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                            if "Python" in str(acc.get("Name", "")):
                                st["python"] = True
                    elif kind == "SparkListenerStageCompleted":
                        info = ev.get("Stage Info") or {}
                        st = stages.setdefault(info.get("Stage ID"), _stage())
                        st["completed"] = True
                        for acc in info.get("Accumulables", []):
                            if "Python" in str(acc.get("Name", "")):
                                st["python"] = True
        return jobs, stages

    # ---- report -----------------------------------------------------------

    def report(self, ops: list[dict], layers: dict, session_s: float) -> dict:
        """Per-layer values by name (see ``metrics.PER_LAYER``); a layer
        the workload does not reach reads 0."""
        jobs, stages = self._parse_events()
        traced = sorted(self.traced_ops)
        n_tr = max(1, len(traced))
        out: dict[str, float] = {}

        def put(name, value):
            out[name] = float(value)

        # ---- every op (all ops; counts repeat exactly, times are per op)
        per_op = defaultdict(list)
        for i, o in enumerate(ops):
            if i not in self.op_wall:
                continue
            gid = f"op{i:04d}"
            js = [j for j in jobs.values() if j["group"] == gid]
            sids = {s for j in js for s in j["stages"]
                    if stages.get(s, {}).get("completed")}
            per_op["jobs"].append(len(js))
            per_op["stages"].append(len(sids))
            per_op["tasks"].append(sum(stages[s]["tasks"] for s in sids))
            per_op["task_s"].append(sum(stages[s]["task_s"] for s in sids))
            per_op["shuffle_write_bytes"].append(
                sum(stages[s]["shuffle_write"] for s in sids))
            per_op["output_bytes"].append(sum(stages[s]["output"] for s in sids))
            w0, w1 = self.op_wall[i]
            per_op["driver_gap_s"].append(
                max(0.0, (w1 - w0) - _union(
                    [(j["start"], j["end"] or w1) for j in js]))
            )
            per_op["py4j_calls"].append(self.op_py4j.get(i, 0))
        for k, vals in per_op.items():
            put(f"op.{k}", sum(vals) / len(vals))

        # ---- module spans: mean per traced op -------------------------
        def span_sum(name, field="s"):
            return sum(getattr(self.stats[(i, name)], field) for i in traced
                       if (i, name) in self.stats)

        def span_jobs(name, ops_=None):
            ops_ = traced if ops_ is None else ops_
            gids = {f"op{i:04d}" for i in ops_}
            return [j for j in jobs.values()
                    if j["span"] == name and j["group"] in gids]

        def jobs_task_s(js):
            return sum(stages[s]["task_s"] for j in js for s in j["stages"]
                       if stages.get(s, {}).get("completed"))

        put("session.get_spark_s", session_s)
        put("prepared.build_s", layers.get("prepared.build_s", 0.0))

        lt = "sources.tables.load_table"
        put("sources.load_table.calls", span_sum(lt, "calls") / n_tr)
        put("sources.load_table.s", span_sum(lt) / n_tr)
        put("sources.load_table.jobs", len(span_jobs(lt)) / n_tr)

        put("queries.build_s", span_sum("queries.build") / n_tr)
        put("queries.build_jobs", len(span_jobs("queries.build")) / n_tr)
        put("queries.exec_s", span_sum("queries.exec") / n_tr)

        put("streaming.incremental.read_state_or_legacy.s",
            span_sum("streaming.incremental.read_state_or_legacy") / n_tr)
        for f in ("split_cards", "parse_listing_pages"):
            put(f"operators.extract.{f}.s",
                span_sum(f"operators.extract.{f}") / n_tr)
        py_s = sum(
            st["task_s"] for j in jobs.values()
            if j["group"] in {f"op{i:04d}" for i in traced}
            for s in j["stages"]
            for st in [stages.get(s, {})] if st.get("completed") and st.get("python")
        )
        put("operators.extract.python_task_s", py_s / n_tr)
        put("operators.normalize.normalize_listings.s",
            span_sum("operators.normalize.normalize_listings") / n_tr)
        ml = "operators.merge.merge_listings"
        put(f"{ml}.calls", span_sum(ml, "calls") / n_tr)
        put(f"{ml}.build_s", span_sum(ml) / n_tr)
        put(f"{ml}.py4j_calls", span_sum(ml, "py4j") / n_tr)
        for f in ("write_state_json", "write_csv_snapshot", "write_filtered_csv"):
            name = f"operators.sinks.{f}"
            js = span_jobs(name)
            put(f"{name}.s", span_sum(name) / n_tr)
            put(f"{name}.jobs", len(js) / n_tr)
            put(f"{name}.task_s", jobs_task_s(js) / n_tr)
        commit = [
            self.marks[(i, "jobs.pipeline.run_pipeline")]
            - self.marks[(i, "operators.sinks.write_filtered_csv")]
            for i in traced
            if (i, "jobs.pipeline.run_pipeline") in self.marks
            and (i, "operators.sinks.write_filtered_csv") in self.marks
        ]
        put("jobs.pipeline.commit_s", sum(commit) / n_tr)

        fb = "streaming.corpus_stream.fold_corpus_batch"
        put(f"{fb}.s", span_sum(fb) / n_tr)
        put(f"{fb}.jobs", len(span_jobs(fb)) / n_tr)
        for name in ("incremental.bucketed_keyed_fold",
                     "dedup_index.fold_index_batch", "df_stream.fold_docs_batch",
                     "sketch_stream.fold_registers_batch",
                     "simhash_stream.fold_simhash_batch",
                     "span_stream.fold_spans_batch"):
            put(f"streaming.{name}.s", span_sum(f"streaming.{name}") / n_tr)
        put("streaming.files_written", layers.get("streaming.files_written", 0))
        put("streaming.slice_dirs", layers.get("streaming.slice_dirs", 0))
        rc = "streaming.corpus_stream.read_incremental_corpus"
        put(f"{rc}.build_s", span_sum(rc) / n_tr)
        # jobs started while the read was being built, innermost span
        # whichever of these (the two inner ones exist on traced ops)
        read_spans = ("read_build", rc, "operators.textstats.pack_sequences")
        put(f"{rc}.build_jobs",
            sum(len(span_jobs(n)) for n in read_spans) / n_tr)
        # per batch index, every op (op i reads after timed batch i)
        for i, s in enumerate(layers.get("read_build_s", [])):
            put(f"{rc}.build_s.b{i:02d}", s)
            put(f"{rc}.build_jobs.b{i:02d}",
                sum(len(span_jobs(n, [i])) for n in read_spans))
        put("operators.textstats.pack_sequences.s",
            span_sum("operators.textstats.pack_sequences") / n_tr)
        put("streaming.corpus_stream.read_exec_s", span_sum("read_exec") / n_tr)

        # ---- tracing overhead --------------------------------------------
        by_kind = defaultdict(lambda: ([], []))
        for i, o in enumerate(ops):
            if i in self.op_kind and o["ok"]:
                by_kind[self.op_kind[i]][0 if i in self.traced_ops else 1].append(o["op_s"])
        num = den = 0.0
        for tr, un in by_kind.values():
            if tr and un:
                w = len(tr) + len(un)
                num += w * (sum(tr) / len(tr))
                den += w * (sum(un) / len(un))
        frac = num / den - 1.0 if den else 0.0
        run_s = sum(o["op_s"] for o in ops)
        put("trace.overhead_frac", frac)
        # half the ops ran traced: untraced run_s = run_s / (1 + frac / 2)
        put("trace.overhead_s", run_s / (1.0 + frac / 2.0) * frac)
        put("peak_rss_mb", layers.get("peak_rss_mb", 0.0))

        return out


def _stage() -> dict:
    return {"tasks": 0, "task_s": 0.0, "shuffle_write": 0, "output": 0,
            "python": False, "completed": False}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
