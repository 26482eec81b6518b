"""``registry_sweep``: registry queries (``queries.queries()``), each
built and written to the ``noop`` sink, in a seeded order, with
``spark.catalog.clearCache()`` between ops as ``bench.py`` does.

Generator: the registry's star schema plus ``events``, ``documents``
and ``embeddings`` at the sf0.001 sizes of the package's test data,
drawn from the seed with numpy and written as parquet into the run's
root; the queries receive only that directory.

The set of queries is fixed (``QUERIES``); the seed changes the data
and the order of every pass. All 50 slots pass their oracles on the
generated data, but one pass over them takes 130 s cold and 61 s warm
on a 4-core host, more than a whole run may take. The kept 16 (a warm
pass ~6.6 s) are cheap slots chosen to reach ``sources.load_table`` and
the OLAP (rollup, summary), top-k, sketch, sampling, as-of, range-join,
gap-fill, session-window, JSON, chunking and quantisation operators.
Left out are the 20 slots whose warm op takes 0.8-6.7 s (streaming,
CDC change feed, ANN, k-means, the dedup family, n-gram, extraction,
text profiling, the scalar suite and the pipeline) and 14 cheaper ones
whose operator family a kept slot or the crawl already covers.

Check: the first (untimed) pass collects every query's result and
compares row count, column names and an order-insensitive value hash
with its DuckDB oracle from ``queries.oracles()``; a query that
disagrees fails all of its timed ops.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random
import time

QUERIES = [
    "dedup_last_wins",
    "pricing_summary",
    "top_orders_per_customer",
    "enrich_supplier_geo",
    "filter_recent_or_active",
    "cdc_key_lifecycle",
    "json_props_pluck",
    "pricing_rollup",
    "asof_click_before_purchase",
    "sample_deterministic",
    "sketch_distinct_counts",
    "embedding_quantize",
    "chunk_documents",
    "session_window_stats",
    "range_join_incident_window",
    "gapfill_user_daily",
]
TIMED_PASSES = 2

_WORDS = ("the a key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order data column join small query big "
          "customer group filter stream vector dup").split()
_LANGS = (("en", 0.4), ("zh", 0.15), ("de", 0.15), ("fr", 0.15), ("es", 0.15))


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def generate(sf_dir: str, seed: int) -> None:
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)

    def save(name, df):
        df.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)

    def i32(a):
        return np.asarray(a, dtype="int32")

    def i64(a):
        return np.asarray(a, dtype="int64")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, end, n):
        t0 = np.datetime64(start, "D")
        span = (np.datetime64(end, "D") - t0).astype(int)
        return (t0 + rng.integers(0, span, n)).astype("datetime64[us]")

    save("region", pd.DataFrame({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    save("nation", pd.DataFrame({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    }))
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc = 150, 10, 200, 1500, 6000, 1000, 500
    save("customer", pd.DataFrame({
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }))
    save("supplier", pd.DataFrame({
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }))
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    save("part", pd.DataFrame({
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 21, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1),
    }))
    save("orders", pd.DataFrame({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }))
    save("lineitem", pd.DataFrame({
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": days("1995-01-02", "2001-11-05", n_li),
    }))
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us").astype("int64")
    save("events", pd.DataFrame({
        "event_id": i64(range(n_ev)),
        "ts": ts.astype("datetime64[us]"),
        "user_id": i64(rng.integers(0, 150, n_ev)),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    texts: list[str] = []
    seen: set[str] = set()
    while len(texts) < n_doc:
        t = " ".join(rng.choice(_WORDS, int(rng.integers(8, 90))))
        if t not in seen:
            seen.add(t)
            texts.append(t)
    save("documents", pd.DataFrame({
        "doc_id": i64(range(n_doc)),
        "text": texts,
        "lang": rng.choice([l for l, _ in _LANGS], n_doc, p=[p for _, p in _LANGS]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": i64([len(t) for t in texts]),
    }))
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_doc)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_doc, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    save("embeddings", pd.DataFrame({
        "vec_id": i64(range(n_doc)),
        "embedding": [v.astype("float32") for v in vecs],
        "label": i32(labels),
    }))


# ---------------------------------------------------------------------------
# oracle comparison (row count, column names, order-insensitive hash)
# ---------------------------------------------------------------------------


def _canon(v):
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------


class RegistrySweep:
    n_ops = TIMED_PASSES * len(QUERIES)

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.root, "registry_sf")
        rng = random.Random(ctx.seed * 104729 + 3)
        self.order = []
        for _ in range(TIMED_PASSES):
            p = list(QUERIES)
            rng.shuffle(p)
            self.order += p
        self.setup_parts: dict[str, float] = {}
        self.wrong: dict[str, str] = {}

    def prepare(self) -> None:
        t = time.perf_counter()
        generate(self.sf_dir, self.ctx.seed)
        self.setup_parts["inputs"] = time.perf_counter() - t

    def _run(self, name: str, collect: bool = False):
        from rental_data_pipeline_spark import queries as registry

        spark = self.ctx.spark
        t0 = time.perf_counter()
        with self.ctx.span("queries.build"):
            df = registry.queries()[name](spark, self.sf_dir)
        t1 = time.perf_counter()
        with self.ctx.span("queries.exec"):
            if collect:
                out = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
        t2 = time.perf_counter()
        spark.catalog.clearCache()
        return t1 - t0, t2 - t1, out

    def warm(self) -> None:
        """The checking pass: each query collected once, in the fixed
        ``QUERIES`` order, and compared with its oracle."""
        import duckdb
        from rental_data_pipeline_spark import queries as registry
        from rental_data_pipeline_spark.sources.tables import TESTDATA_TABLES

        t = time.perf_counter()
        oracles = registry.oracles()
        con = duckdb.connect()
        for tbl in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {tbl} AS SELECT * FROM "
                f"'{os.path.join(self.sf_dir, tbl)}.parquet'"
            )
        check_s = 0.0
        for name in QUERIES:
            try:
                _, _, (scols, srows) = self._run(name, collect=True)
            except Exception as e:
                self.wrong[name] = f"spark error: {type(e).__name__}: {str(e)[:200]}"
                continue
            c0 = time.perf_counter()
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            if len(srows) != len(orows):
                self.wrong[name] = f"rows {len(srows)} vs oracle {len(orows)}"
            elif sorted(scols) != sorted(ocols):
                self.wrong[name] = f"columns {sorted(scols)} vs {sorted(ocols)}"
            elif table_hash(scols, srows) != table_hash(ocols, orows):
                self.wrong[name] = "value-hash mismatch against the oracle"
            check_s += time.perf_counter() - c0
        con.close()
        self.setup_parts["check_pass"] = time.perf_counter() - t
        self.setup_parts["oracle_s"] = check_s

    def op_kind(self, i: int) -> str:
        return self.order[i]

    def op(self, i: int) -> dict:
        build, exe, _ = self._run(self.order[i])
        return {"fold": build, "read": exe}

    def check(self, oks: list[bool]) -> tuple[list[int], list[str]]:
        bad = [i for i, q in enumerate(self.order) if q in self.wrong]
        return bad, [f"{q}: {why}" for q, why in sorted(self.wrong.items())]

    def layer_facts(self) -> dict:
        from rental_data_pipeline_spark import prepared

        return {"prepared.build_s": sum(prepared.build_log().values())}
