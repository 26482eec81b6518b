"""``crawl_hourly``: repeated hourly ``jobs.pipeline.run_pipeline``
cycles over a seeded listing universe, with a persistent versioned
state and snapshot outputs, as the reference's scheduled job runs.

Generator (Python, from the seed): a universe of ``UNIVERSE`` active
offers; every cycle ~5% of the active offers vanish, ~5% new offers
appear with monotonic ids, and ~10% of the remaining offers change
their card price. Pages are rendered with the package's fixture
renderers (``operators.extract.listing_page_html`` /
``search_card_html``, ~75 KB per listing page). A vanished offer's
listing page carries the ``OfferUnpublished`` marker, as the live site
serves it; without the marker the rescrape would re-activate it. Ids
that the renderers would turn into unpublished (id % 7 == 0) or error
(id % 50 == 0) pages are never minted, so the model below is exact.

Model: the set of offers ever seen, the active set, and each offer's
latest price (card price for listed offers, the listing page's price
for vanished ones). After the timed phase, each cycle's returned
``metrics``, the state and filtered-view row count read back after it,
and the last cycle's full snapshots are checked against it.
"""

from __future__ import annotations

import os
import random
import time

UNIVERSE = 500
SEARCH_CARDS_PER_PAGE = 28
TIMED_CYCLES = 3
NOW = "2024-06-15 12:00:00"


def base_price(doc_id: int) -> float:
    return float((doc_id % 100 + 20) * 1000)


class CrawlModel:
    """The generator and its own model of what every cycle must yield."""

    def __init__(self, seed: int, n_cycles: int):
        rng = random.Random(seed * 7919 + 1)
        self.next_id = 1
        active = [self._mint() for _ in range(UNIVERSE)]
        price = {i: base_price(i) for i in active}
        seen = set(active)
        # cycle 0 ingests the whole universe
        self.cycles = [{
            "listed": list(active),
            "card_price": dict(price),
            "pages": [(i, False) for i in active],
        }]
        self.expect = [self._expect(seen, active, price)]
        for _ in range(n_cycles):
            n = len(active)
            vanished = set(rng.sample(active, max(1, round(0.05 * n))))
            new = [self._mint() for _ in range(max(1, round(0.05 * n)))]
            staying = [i for i in active if i not in vanished]
            for i in rng.sample(staying, max(1, round(0.10 * len(staying)))):
                step = rng.choice((-3, -2, -1, 1, 2, 3)) * 1000
                price[i] = max(1000.0, price[i] + step)
            for i in vanished:
                price[i] = base_price(i)  # the vanished page's price
            for i in new:
                price[i] = base_price(i)
            active = staying + new
            seen.update(new)
            self.cycles.append({
                "listed": list(active),
                "card_price": {i: price[i] for i in active},
                "pages": [(i, False) for i in new]
                + [(i, True) for i in sorted(vanished)],
            })
            self.expect.append(self._expect(seen, active, price))

    def _mint(self) -> int:
        while self.next_id % 7 == 0 or self.next_id % 50 == 0:
            self.next_id += 1
        i = self.next_id
        self.next_id += 1
        return i

    @staticmethod
    def _expect(seen, active, price) -> dict:
        act = set(active)
        return {
            "metrics": {
                "n_state": len(seen),
                "n_active": len(act),
                "n_with_distance": len(seen),
                "n_quarantined": 0,
            },
            "rows": {
                str(i + 100000): (price[i], i not in act) for i in seen
            },
        }


class CrawlHourly:
    n_ops = TIMED_CYCLES

    def __init__(self, ctx):
        self.ctx = ctx
        self.model = CrawlModel(ctx.seed, TIMED_CYCLES)
        self.inputs = os.path.join(ctx.root, "crawl_inputs")
        self.state_path = os.path.join(ctx.root, "crawl_state")
        self.output_dir = os.path.join(ctx.root, "crawl_out")
        self.setup_parts: dict[str, float] = {}
        # op index -> (returned metrics, state rows, snapshot row counts)
        self.seen: dict[int, list] = {}

    # ---- inputs ---------------------------------------------------------

    def _render(self) -> None:
        from pyspark.sql import functions as F
        from rental_data_pipeline_spark.operators import extract as X

        spark = self.ctx.spark
        t0 = time.perf_counter()
        cards, pages = [], []
        for c, cyc in enumerate(self.model.cycles):
            for pos, i in enumerate(cyc["listed"]):
                cards.append((c, pos // SEARCH_CARDS_PER_PAGE, pos, i,
                              int(cyc["card_price"][i])))
            pages += [(c, i, unpub) for i, unpub in cyc["pages"]]
        card_df = spark.createDataFrame(
            cards, "cycle int, page_id long, pos int, doc_id long, price long"
        )
        card = F.regexp_replace(
            X.search_card_html(F.col("doc_id")),
            r'MainPrice">\d+',
            F.concat(F.lit('MainPrice">'), F.col("price").cast("string")),
        )
        (
            card_df.select("cycle", "page_id", "pos", card.alias("card"))
            .groupBy("cycle", "page_id")
            .agg(F.concat(
                F.lit("<html><body>"),
                F.concat_ws("", F.array_sort(
                    F.collect_list(F.struct("pos", "card"))
                ).getField("card")),
                F.lit("</body></html>"),
            ).alias("html"))
            .write.partitionBy("cycle").parquet(f"{self.inputs}/search")
        )
        self.setup_parts["inputs.search"] = time.perf_counter() - t0
        page_df = spark.createDataFrame(
            pages, "cycle int, doc_id long, unpub boolean"
        )
        text = F.concat_ws(" ", F.lit("Сдается квартира"), F.col("doc_id").cast("string"),
                           F.lit("рядом с метро, без комиссии"))
        html = X.listing_page_html(F.col("doc_id"), text)
        html = F.when(
            F.col("unpub"),
            F.regexp_replace(
                html, "^<html><body>",
                '<html><body><div data-name="OfferUnpublished"><span>Снято</span></div>',
            ),
        ).otherwise(html)
        (
            page_df.select(
                "cycle", "doc_id", html.alias("html"),
                X.listing_url(F.col("doc_id")).alias("url"),
            )
            .write.partitionBy("cycle").parquet(f"{self.inputs}/listing")
        )
        self.setup_parts["inputs.listing"] = time.perf_counter() - t0
        addr = F.concat(F.lit("Москва, ул. Тестовая, "), F.col("k").cast("string"))
        geo = spark.range(1, 201).select(
            F.col("id").alias("k")
        ).select(
            addr.alias("address"),
            F.col("k").cast("double").alias("lat"), F.lit(37.0).alias("lon"),
        )
        geo.write.parquet(f"{self.inputs}/geocode")
        geo.select("lat", "lon", (F.col("lat") * 100 + 50).alias("meters")) \
            .write.parquet(f"{self.inputs}/route")

    def prepare(self) -> None:
        t = time.perf_counter()
        self._render()
        spark = self.ctx.spark
        self.geocode = spark.read.parquet(f"{self.inputs}/geocode")
        self.route = spark.read.parquet(f"{self.inputs}/route")
        self.setup_parts["inputs"] = time.perf_counter() - t

    def _cycle(self, c: int) -> tuple[float, float, dict, dict, int]:
        from pyspark.sql import functions as F
        from rental_data_pipeline_spark.jobs.pipeline import (
            PipelineConfig,
            run_pipeline,
        )
        from rental_data_pipeline_spark.streaming.incremental import read_state

        spark = self.ctx.spark
        search = spark.read.parquet(f"{self.inputs}/search/cycle={c}")
        listing = spark.read.parquet(f"{self.inputs}/listing/cycle={c}")

        def listing_pages_for(scope):
            wanted = scope.select(
                (F.col("offer_id").cast("long") - 100000).alias("doc_id")
            )
            return listing.join(F.broadcast(wanted), "doc_id").select("html", "url")

        t0 = time.perf_counter()
        with self.ctx.span("jobs.pipeline.run_pipeline"):
            res = run_pipeline(
                spark, search, listing_pages_for, self.geocode, self.route,
                PipelineConfig(now=NOW), state_path=self.state_path,
                output_dir=self.output_dir,
            )
        t1 = time.perf_counter()
        # the read half: what a consumer reads after the cycle — the
        # committed state (kept for the check) and the published view
        with self.ctx.span("read"):
            rows = {
                r[0]: (r[1], bool(r[2]))
                for r in read_state(spark, self.state_path)
                .select("offer_id", "price_value", "is_unpublished").collect()
            }
            n_filtered = spark.read.option("header", True).csv(
                f"{self.output_dir}/combined_data_filtered").count()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, dict(res["metrics"]), rows, n_filtered

    def warm(self) -> None:
        """Cycle 0 seeds the state with the whole universe."""
        t = time.perf_counter()
        _, _, *seen = self._cycle(0)
        self.warm_ok = self._matches(0, *seen)
        self.setup_parts["cycle0"] = time.perf_counter() - t

    def op_kind(self, i: int) -> str:
        return "cycle"

    def op(self, i: int) -> dict:
        c = 1 + i
        fold, read, *seen = self._cycle(c)
        self.seen[i] = seen
        return {"fold": fold, "read": read}

    def _matches(self, c: int, metrics: dict, rows: dict, n_filtered: int) -> bool:
        want = self.model.expect[c]
        m = want["metrics"]
        return (
            {k: metrics.get(k) for k in m} == m
            and rows == want["rows"]
            # the filtered view keeps every active offer plus recent ones
            and m["n_active"] <= n_filtered <= m["n_state"]
        )

    def check(self, oks: list[bool]) -> tuple[list[int], list[str]]:
        if not self.warm_ok:
            return list(range(len(oks))), [
                "the seed cycle disagrees with the model"]
        bad, notes = [], []
        for i, ok in enumerate(oks):
            c = 1 + i
            if ok and not self._matches(c, *self.seen[i]):
                bad.append(i)
                notes.append(f"cycle {c}: metrics {self.seen[i][0]}, filtered "
                             f"{self.seen[i][2]}, model {self.model.expect[c]['metrics']}")
        # the full snapshots hold the last cycle's whole state
        spark, out = self.ctx.spark, self.output_dir
        n_state = self.model.expect[-1]["metrics"]["n_state"]
        landed = (spark.read.json(f"{out}/state_json").count(),
                  spark.read.option("header", True).csv(f"{out}/combined_data").count())
        if oks[-1] and landed != (n_state, n_state):
            bad.append(len(oks) - 1)
            notes.append(f"last snapshots hold {landed} rows, model {n_state}")
        return bad, notes

    def layer_facts(self) -> dict:
        return {}
