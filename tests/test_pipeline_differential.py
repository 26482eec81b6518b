"""Differential test: the pipeline's fused steps 1-3 (one keyed merge
for the search and listing batches, distance as a broadcast
projection) against the chained three-merge reference in
``tests/pipeline_reference.py``.

Both run the same seeded crawl cycles on their own state path; after
every cycle the committed state and all three snapshots must match in
schema (names, types, column order) and values, and so must the
returned metrics.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rental_data_pipeline_spark.jobs import pipeline
from rental_data_pipeline_spark.jobs import PipelineConfig, run_pipeline
from rental_data_pipeline_spark.operators import extract as X
from rental_data_pipeline_spark.streaming.incremental import read_state
from tests.pipeline_reference import chained_fold_crawl

NOW = "2024-06-15 12:00:00"
ADDRESS = "Москва, ул. Тестовая, "
# listing pages render address k = doc_id % 200 + 1
NO_GEOCODE = {4, 9}      # address missing from the geocode lookup
NO_ROUTE = {6, 11}       # geocode hit whose (lat, lon) has no route


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="pipeline_diff_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _crawl_cycles(seed: int) -> list[dict]:
    """Seeded cycles: each lists its cards (page, doc_id, price) and its
    listing pages (doc_id, vanished). Doc 50 renders an error page and
    docs divisible by 7 render ``OfferUnpublished`` pages."""
    rng = random.Random(seed)
    price = {i: (i % 100 + 20) * 1000 for i in range(1, 80)}
    active = list(range(1, 25)) + [50]
    next_id = 25
    cycles = [{"cards": [], "pages": []}]  # an empty crawl on an empty state
    for c in range(1, 6):
        vanished: list[int] = []
        if c in (2, 3):
            vanished = sorted(rng.sample(active, 3))
            active = [i for i in active if i not in vanished]
            active += list(range(next_id, next_id + 4))
            next_id += 4
            for i in rng.sample(active, 4):
                price[i] += rng.choice((-2, -1, 1, 2)) * 1000
        elif c == 4:
            # an empty crawl on a full state: every active offer vanishes
            vanished, active = sorted(active), []
        elif c == 5:
            # vanished offers come back, next to a brand-new one
            active = list(range(1, 10)) + [next_id]
        cards = [(pos // 6, i, price[i]) for pos, i in enumerate(active)]
        if active:
            # the same offer on two search pages at different prices
            dup = rng.choice(active)
            cards.append((99, dup, price[dup] + 500))
        cycles.append({
            "cards": cards,
            "pages": [(i, False) for i in active] + [(i, True) for i in vanished],
        })
    return cycles


def _inputs(spark, cycle: dict):
    cards = spark.createDataFrame(
        cycle["cards"] or [], "page_id long, doc_id long, price long"
    )
    card = F.regexp_replace(
        X.search_card_html(F.col("doc_id")),
        r'MainPrice">\d+',
        F.concat(F.lit('MainPrice">'), F.col("price").cast("string")),
    )
    search_pages = cards.groupBy("page_id").agg(
        F.concat(
            F.lit("<html><body>"),
            F.concat_ws("", F.array_sort(
                F.collect_list(F.struct("doc_id", card.alias("card")))
            ).getField("card")),
            F.lit("</body></html>"),
        ).alias("html")
    )
    page_rows = spark.createDataFrame(
        cycle["pages"] or [], "doc_id long, vanished boolean"
    )
    text = F.concat_ws(" ", F.lit("Сдается квартира"), F.col("doc_id").cast("string"))
    html = X.listing_page_html(F.col("doc_id"), text)
    html = F.when(
        F.col("vanished"),
        F.regexp_replace(
            html, "^<html><body>",
            '<html><body><div data-name="OfferUnpublished"><span>Снято</span></div>',
        ),
    ).otherwise(html)
    pages = page_rows.select(
        "doc_id", html.alias("html"), X.listing_url(F.col("doc_id")).alias("url")
    )

    def listing_pages_for(scope):
        wanted = scope.select(
            (F.col("offer_id").cast("long") - 100000).alias("doc_id")
        )
        return pages.join(wanted, "doc_id").select("html", "url")

    return search_pages, listing_pages_for


def _lookups(spark, geo_rows=None, route_rows=None):
    if geo_rows is None:
        geo_rows = [
            (f"{ADDRESS}{k}", float(k), 37.0)
            for k in range(1, 201) if k not in NO_GEOCODE
        ]
    if route_rows is None:
        route_rows = [
            (float(k), 37.0, float(k * 100 + 50))
            for k in range(1, 201) if k not in NO_ROUTE
        ]
    geocode = spark.createDataFrame(geo_rows, "address string, lat double, lon double")
    route = spark.createDataFrame(route_rows, "lat double, lon double, meters double")
    return geocode, route


def _csv_snapshot(path: str) -> tuple[list[str], list[str]]:
    headers, rows = set(), []
    for f in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(f, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        if lines:
            headers.add(lines[0])
            rows += lines[1:]
    return sorted(headers), sorted(rows)


def _json_snapshot(path: str) -> list[list]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.json"))):
        with open(f, encoding="utf-8") as fh:
            rows += [list(json.loads(ln).items()) for ln in fh if ln.strip()]
    return sorted(rows, key=repr)


def _snapshots(out: str) -> dict:
    return {
        "state_json": _json_snapshot(f"{out}/state_json"),
        "combined_data": _csv_snapshot(f"{out}/combined_data"),
        "combined_data_filtered": _csv_snapshot(f"{out}/combined_data_filtered"),
    }


def _committed(spark, state_path: str):
    st = read_state(spark, state_path)
    if st is None:
        return None
    rows = sorted(tuple(r) for r in st.collect())
    return st.dtypes, sorted(map(repr, rows))


def test_fused_fold_matches_chained_reference(spark, outdir, monkeypatch):
    geocode, route = _lookups(spark)
    for c, cycle in enumerate(_crawl_cycles(seed=11)):
        search_pages, listing_pages_for = _inputs(spark, cycle)
        results = {}
        for side in ("fused", "chained"):
            with monkeypatch.context() as m:
                if side == "chained":
                    m.setattr(pipeline, "fold_crawl", chained_fold_crawl)
                res = run_pipeline(
                    spark, search_pages, listing_pages_for, geocode, route,
                    PipelineConfig(now=NOW),
                    state_path=f"{outdir}/{side}/state",
                    output_dir=f"{outdir}/{side}/out{c}",
                )
            results[side] = (
                res["metrics"],
                _committed(spark, f"{outdir}/{side}/state"),
                _snapshots(f"{outdir}/{side}/out{c}"),
            )
        fused, chained = results["fused"], results["chained"]
        assert fused[0] == chained[0], f"cycle {c}: metrics"
        assert fused[1] == chained[1], f"cycle {c}: committed state"
        for name in fused[2]:
            assert fused[2][name] == chained[2][name], f"cycle {c}: {name}"
        if c == 1:
            # the cycle really exercises what it claims
            m = fused[0]
            assert m["n_quarantined"] == 1
            assert 0 < m["n_with_distance"] < m["n_state"]


def test_missing_estimation_scope_matches_chained_reference(spark):
    """F2 rescrapes active offers without an estimate. The chained fold
    read them from the post-search state, so the fused fold, which
    scopes before its one merge, must leave out offers the search
    tombstones and add offers first seen on this crawl's cards."""
    state = spark.createDataFrame(
        [
            ("100001", 21000.0, False, "d1", None, None, None),  # listed, no estimate
            ("100002", 22000.0, False, "d2", None, None, None),  # vanishes
            ("100003", 23000.0, False, "d3", None, None, 5.0),   # has an estimate
            ("100004", 24000.0, True, "d4", None, None, None),   # unpublished
        ],
        "offer_id string, price_value double, is_unpublished boolean, "
        "description string, address string, distance double, "
        "estimated_price double",
    )
    search_pages, listing_pages_for = _inputs(spark, {
        "cards": [(0, i, (i % 100 + 20) * 1000) for i in (1, 3, 4, 5)],
        "pages": [(i, False) for i in range(1, 6)],
    })
    geocode, route = _lookups(spark)
    cfg = PipelineConfig(
        now=NOW, should_scrape_new=False, check_if_unpublished=False,
        check_missing_estimations=True,
    )
    out = []
    for fold_fn in (pipeline.fold_crawl, chained_fold_crawl):
        fold = fold_fn(spark, state, search_pages, listing_pages_for,
                       geocode, route, cfg)
        out.append((fold.state.dtypes, sorted(fold.state.collect(), key=repr)))
        for df in fold.cached:
            df.unpersist()
    assert out[0] == out[1]
    # only offers 1 and 5 were rescraped: listing fields reached them alone
    assert sorted(r.offer_id for r in out[0][1] if r.metro_station) == [
        "100001", "100005",
    ]


def test_duplicate_lookup_keys_give_one_row_with_smallest_km(spark, outdir):
    """A lookup that repeats a key (two geocodes for one address, two
    routes for one point) still yields one state row per offer, with
    the smallest km over every match."""
    search_pages, listing_pages_for = _inputs(spark, {
        "cards": [(0, i, (i % 100 + 20) * 1000) for i in (1, 2, 3)],
        "pages": [(i, False) for i in (1, 2, 3)],
    })
    # doc 1 → address 2: two geocodes; doc 2 → address 3: two routes;
    # doc 3 → address 4: both
    geocode, route = _lookups(
        spark,
        geo_rows=[
            (f"{ADDRESS}2", 2.0, 37.0), (f"{ADDRESS}2", 20.0, 37.0),
            (f"{ADDRESS}3", 3.0, 37.0),
            (f"{ADDRESS}4", 4.0, 37.0), (f"{ADDRESS}4", 40.0, 37.0),
        ],
        route_rows=[
            (2.0, 37.0, 900.0), (20.0, 37.0, 400.0),
            (3.0, 37.0, 700.0), (3.0, 37.0, 300.0),
            (4.0, 37.0, 800.0), (40.0, 37.0, 200.0), (40.0, 37.0, 600.0),
        ],
    )
    res = run_pipeline(
        spark, search_pages, listing_pages_for, geocode, route,
        PipelineConfig(now=NOW),
        state_path=f"{outdir}/state", output_dir=f"{outdir}/out",
    )
    rows = read_state(spark, f"{outdir}/state").select("offer_id", "distance").collect()
    assert sorted(r.offer_id for r in rows) == ["100001", "100002", "100003"]
    assert {r.offer_id: r.distance for r in rows} == {
        "100001": 0.4, "100002": 0.3, "100003": 0.2,
    }
    assert res["metrics"]["n_state"] == 3


def test_state_path_without_output_dir_is_refused(spark, outdir):
    """The versioned commit runs with the snapshot writes: a caller
    passing only ``state_path`` would read the state and never commit
    the next version, so the call is refused up front."""
    search_pages, listing_pages_for = _inputs(spark, {"cards": [], "pages": []})
    geocode, route = _lookups(spark)
    with pytest.raises(ValueError, match="state_path.*output_dir"):
        run_pipeline(
            spark, search_pages, listing_pages_for, geocode, route,
            state_path=f"{outdir}/state",
        )
    assert not os.path.exists(f"{outdir}/state")
