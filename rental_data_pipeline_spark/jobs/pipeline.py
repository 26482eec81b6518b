"""The five-step pipeline job (SURVEY §3.1, ref parse_data.py:510-542)
as one Spark batch dataflow.

    0 setup      S1 state load, S5/S6 search config → predicates
    1 search     E2 card split → F5 → A2 id ledger (state ∪ card ids,
                 one keyed aggregation) → J7/J8 tombstones → P1 → X3-X5
    2 listings   J9 scope: one filter over the ledger (J6 ∨ J7 ∨ F2,
                 flag-gated) → E1 parse → P1 → X3-X5; ONE J1 merge of
                 both batches
    3 distance   J11 geocode ⋈ route → X16 address→km table →
                 F3 fill of null distances (a broadcast projection)
    4 snapshots  K1 state JSON, K2 full CSV, F4+K3 filtered CSV
    5 metrics    A7 per-stage row counts via ``Observation``

Live HTTP never enters the query path (SURVEY §7.3): page content
arrives as DataFrames — ``search_pages`` (page_id, html) and
``listing_pages_for(ids)`` (html, url) — which in production read the
crawl landing directory and in tests are rendered fixtures
(operators/extract fixture renderers). The geo lookups (J11) are
lookup *tables* (address→lat/lon, lat/lon→meters), replacing the
reference's serial rate-limited HTTP (distance.py:39-90) with joins.

Scale shape: no shuffle join, and two state-keyed shuffles per cycle —
the id ledger (ids and flags only, so every scope term and the
tombstones are filters, not anti-joins) and the single join-free merge
that folds the search and listing batches into the state (state rides
as seed rows, a batch ordinal keeps search rows ahead of listing rows).
Distance is a broadcast join of a lookup-sized table onto the merged
state, and all projections fuse in Catalyst. With snapshot sinks the
fold runs once, into a local checkpoint every sink and the commit
read. The whole job is restartable from the state table (T3).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession

from rental_data_pipeline_spark.observe import SafeObservation
from pyspark.sql import functions as F

from rental_data_pipeline_spark.functions.numeric import (
    km_from_meters,
    parse_numeric_value,
)
from rental_data_pipeline_spark.operators.extract import (
    parse_listing_pages,
    quarantine_split,
    split_cards,
)
from rental_data_pipeline_spark.operators.merge import merge_listings
from rental_data_pipeline_spark.operators.normalize import normalize_listings
from rental_data_pipeline_spark.operators import sinks


# ---------------------------------------------------------------------------
# S5/S6: declarative search config → predicate / source URL
# ---------------------------------------------------------------------------


@dataclass
class SearchConfig:
    """The YAML search predicates (ref search_configs/search_config.yaml
    + construct_url.py:16-40): effectively
    ``price <= maxprice AND district IN (...) AND metro IN (...)``."""

    maxprice: int | None = None
    districts: list[int] = field(default_factory=list)
    metros: list[int] = field(default_factory=list)
    rooms: list[int] = field(default_factory=list)

    def predicate(self, price_col: str = "price_value", district_col: str = "district",
                  metro_col: str = "metro_id", rooms_col: str = "room_count"):
        """The same predicates as ordinary ``where()`` clauses —
        pushdown-to-website becomes pushdown-to-parquet (SURVEY §3.2)."""
        p = F.lit(True)
        if self.maxprice is not None:
            p = p & (F.col(price_col) <= self.maxprice)
        if self.districts:
            p = p & F.col(district_col).isin(self.districts)
        if self.metros:
            p = p & F.col(metro_col).isin(self.metros)
        if self.rooms:
            p = p & F.col(rooms_col).isin(self.rooms)
        return p


def construct_search_url(cfg: SearchConfig, base: str = "https://example.test/cat.php",
                         page: int | None = None) -> str:
    """S6: compile predicates to the source query string with repeated
    params for IN-lists (ref construct_url.py:16-40) — driver-side."""
    parts = ["deal_type=rent", "engine_version=2", "offer_type=flat"]
    if page is not None:
        parts.append(f"p={page}")
    if cfg.maxprice is not None:
        # `is not None`, not truthiness: the reference emits the param
        # whenever the key exists (construct_url.py:38 emits
        # maxprice=0), and the vectorized twin below uses isNotNull —
        # a zero bound must reach the website like it reaches parquet
        parts.append(f"maxprice={cfg.maxprice}")
    parts += [f"district%5B{i}%5D={d}" for i, d in enumerate(cfg.districts)]
    parts += [f"metro%5B{i}%5D={m}" for i, m in enumerate(cfg.metros)]
    parts += [f"room{r}=1" for r in cfg.rooms]
    return base + "?" + "&".join(parts)


def compile_search_urls(
    df: DataFrame, base: str = "https://example.test/cat.php"
) -> DataFrame:
    """S6, distributed: compile a DataFrame of search configs
    (``maxprice int, districts array<int>, metros array<int>,
    rooms array<int>, page int``) to source URLs as a pure column
    expression — the scale path when one crawl plans thousands of
    search shards (ref construct_url.py:16-40 compiles one config
    driver-side; this is its vectorized twin)."""
    empty = F.array().cast("array<string>")

    def opt(cond: Column, part: Column) -> Column:
        return F.when(cond, F.array(part)).otherwise(empty)

    def indexed(col: str, prefix: str) -> Column:
        return F.transform(
            F.col(col),
            lambda v, i: F.concat(
                F.lit(f"{prefix}%5B"), i.cast("string"), F.lit("%5D="), v.cast("string")
            ),
        )

    parts = F.concat(
        F.array(F.lit("deal_type=rent"), F.lit("engine_version=2"), F.lit("offer_type=flat")),
        opt(F.col("page").isNotNull(), F.concat(F.lit("p="), F.col("page").cast("string"))),
        opt(F.col("maxprice").isNotNull(), F.concat(F.lit("maxprice="), F.col("maxprice").cast("string"))),
        F.coalesce(indexed("districts", "district"), empty),
        F.coalesce(indexed("metros", "metro"), empty),
        F.coalesce(
            F.transform(
                F.col("rooms"),
                lambda r: F.concat(F.lit("room"), r.cast("string"), F.lit("=1")),
            ),
            empty,
        ),
    )
    return df.withColumn("url", F.concat(F.lit(base + "?"), F.array_join(parts, "&")))


# ---------------------------------------------------------------------------
# Pipeline
# ---------------------------------------------------------------------------


@dataclass
class PipelineConfig:
    """T2 scope flags (defaults per parse_data.py:44-57) + injected now."""

    now: str = "2024-06-15 12:00:00"
    update_current_search_listings: bool = False
    should_scrape_new: bool = True
    check_if_unpublished: bool = True
    check_missing_estimations: bool = False
    search: SearchConfig = field(default_factory=SearchConfig)
    # declarative row contracts on the parsed listing batch (operators/
    # expectations.py): failing rows are quarantined before the merge
    # and per-rule violation counts ride the A7 Observation metrics —
    # the Spark form of the reference's imperative per-record checks
    # (parse_data.py required-field validation)
    expectations: dict[str, Column] = field(default_factory=dict)


def _empty_state(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [],
        "offer_id string, price_value double, is_unpublished boolean, "
        "description string, address string, distance double",
    )


def load_state(spark: SparkSession, state_path: str | None) -> DataFrame:
    """S1: tolerant state load — missing/corrupt → empty (ref
    parse_data.py:206-211). Reads the latest versioned commit (see
    :func:`rental_data_pipeline_spark.streaming.incremental.read_state`);
    falls back to a legacy flat parquet layout."""
    if state_path:
        from rental_data_pipeline_spark.streaming.incremental import (
            read_state_or_legacy,
        )

        # NO tolerant except here: read_state_or_legacy returns None
        # for a genuinely absent state and RAISES for refuse-to-read
        # states (an interrupted rebucket's pending, a corrupt legacy
        # layout). Swallowing those would run the pipeline against an
        # empty state and commit a _FULL snapshot that permanently
        # shadows — then prunes — the real one: silent total loss of
        # the state table.
        st = read_state_or_legacy(spark, state_path)
        if st is not None:
            return st
    return _empty_state(spark)


@dataclass
class CrawlFold:
    """Steps 1-3 of one cycle: the new state plus the handles steps 4+5
    need (the cached extracts to release, the quarantined listing-row
    count, read once an action has run the parse, and the expectation
    observation)."""

    state: DataFrame
    # the persisted cards, id ledger and parsed listing pages: the first
    # action over ``state`` materializes them, and the owner releases
    # them once that action has run (run_pipeline: after its checkpoint)
    cached: list[DataFrame]
    n_quarantined: Callable[[], int]
    exp_obs: SafeObservation | None = None
    exp_quarantine: DataFrame | None = None


# Batch ordinal of the fused merge: null on search rows, 1 on listing
# rows, and it leads the merge order, so the one fold sees every search
# row before any listing row, as two chained folds would.
_BATCH = "__batch"


def fold_crawl(
    spark: SparkSession,
    state: DataFrame,
    search_pages: DataFrame,
    listing_pages_for: Callable[[DataFrame], DataFrame],
    geocode_lookup: DataFrame,
    route_lookup: DataFrame,
    cfg: PipelineConfig,
) -> CrawlFold:
    """Steps 1-3: fold one crawl's search and listing batches into
    ``state`` with ONE keyed merge, then fill distance by projection.

    The id bookkeeping is one keyed aggregation, the *ledger*: every id
    of the state and of this crawl's cards with ``max`` of its flags
    ``in_state``, ``active``, ``carded`` (and ``no_estimate`` when F2 is
    on). The J7 missing ids, the J8 tombstones and the J6/J7/F2 terms of
    the J9 scope are filters over it. The ledger is persisted with the
    cards and the parsed pages, so the fold reads the state twice: once
    for the ledger and once as the merge's seed rows."""
    # ---- 0+1: search batch (E2 → F5) and one id ledger (F1/A2) -------
    cards = split_cards(search_pages)
    cards = cards.where(F.col("offer_id").isNotNull())  # F5
    # extracted records feed the ledger and the batch; materialize so
    # the HTML parse runs once, not once per branch — at crawl scale
    # this is the extracted-records table the reference checkpoints as
    # parsed_listings_flattened.json (K4)
    cards = cards.persist()
    # one row per id seen in the state or on this crawl's cards, with
    # its flags OR-ed over every row: the tombstones and every scope
    # term below are filters over it, so the state is scanned once for
    # ids and no anti-join or distinct runs
    f2 = cfg.check_missing_estimations and "estimated_price" in state.columns
    active = ~F.coalesce(F.col("is_unpublished"), F.lit(False))
    stored = {"in_state": F.lit(True), "active": active, "carded": F.lit(False)}
    carded = {"in_state": F.lit(False), "active": F.lit(False), "carded": F.lit(True)}
    if f2:
        stored["no_estimate"] = active & F.col("estimated_price").isNull()
        carded["no_estimate"] = F.lit(False)
    ledger = (
        state.select("offer_id", *[c.alias(f) for f, c in stored.items()])
        .unionByName(
            cards.select("offer_id", *[c.alias(f) for f, c in carded.items()])
        )
        .groupBy("offer_id")
        .agg(*[F.max(f).alias(f) for f in stored])
        .persist()
    )

    missing = "active AND NOT carded"                                     # J7
    tombstones = ledger.where(missing).select(                            # J8
        "offer_id", F.lit(True).alias("is_unpublished"),
        F.lit(cfg.now).cast("timestamp").alias("updated_date"),
    )
    search_batch = cards.select(
        "offer_id",
        parse_numeric_value(F.col("price_value")).alias("price_value"),  # X1
        F.col("title"),
        # a null placeholder: a state without ``status`` gets the column
        # right after ``title``, where a separate search merge put it.
        # xxhash64 skips nulls, so the merge's tie-break hash of a
        # search row is unchanged and the same duplicate card wins
        F.lit(None).cast("string").alias("status"),
    ).unionByName(tombstones, allowMissingColumns=True)

    # ---- 2: listing batch (J9 scope → E1 → X3-X5) --------------------
    terms = []
    if cfg.update_current_search_listings:
        terms.append("carded")
    elif cfg.should_scrape_new:
        terms.append("carded AND NOT active")                             # J6
    if cfg.check_if_unpublished:
        terms.append(missing)
    if f2:
        # F2 over the state as the search batch leaves it: stored
        # offers still active after the tombstones (an active offer
        # escapes J7 only on a card), plus offers first seen on this
        # crawl's cards (cards carry no estimate)
        terms.append("carded AND (no_estimate OR NOT in_state)")          # F2
    # the ledger is unique per id, so the union of terms needs no distinct
    scope = ledger.where(                                                 # J9
        " OR ".join(f"({t})" for t in terms) or "false"
    ).select("offer_id")

    pages = listing_pages_for(scope)
    # parse once (K4); the quarantined rows (E8/F5: a non-null error)
    # are counted on the parse pass the fold runs anyway
    quarantine_obs = SafeObservation("quarantine")
    parsed = quarantine_obs.on(
        parse_listing_pages(pages), F.count("error").alias("n_quarantined")
    ).persist()
    clean, _ = quarantine_split(parsed)                                   # E8/F5
    listing_batch = normalize_listings(clean, now=cfg.now).drop("facts", "features")
    exp_obs = None
    exp_quarantine = None
    if cfg.expectations:
        # one map-side tagging pass; per-rule counts observed on the
        # SAME computation the merge consumes (no extra scan)
        from rental_data_pipeline_spark.operators.expectations import (
            VIOLATIONS_COL,
            validate,
        )

        exp_obs = SafeObservation("expectations")
        tagged = exp_obs.on(
            validate(listing_batch, cfg.expectations),
            F.coalesce(
                F.sum((F.size(F.col(VIOLATIONS_COL)) > 0).cast("long")),
                F.lit(0),
            ).alias("n_expectation_quarantined"),
            *[
                F.coalesce(
                    F.sum(
                        F.array_contains(F.col(VIOLATIONS_COL), name).cast(
                            "long"
                        )
                    ),
                    F.lit(0),
                ).alias(f"expectation_{name}")
                for name in sorted(cfg.expectations)
            ],
        )
        exp_quarantine = tagged.where(F.size(F.col(VIOLATIONS_COL)) > 0)
        listing_batch = tagged.where(
            F.size(F.col(VIOLATIONS_COL)) == 0
        ).drop(VIOLATIONS_COL)

    # ---- 1+2: one merge (J1) ------------------------------------------
    # search rows first (null ordinal), then listing rows, each batch in
    # its own updated_date order: the fold two chained merges computed,
    # in one shuffle of state + batches
    crawl_batch = search_batch.unionByName(
        listing_batch.withColumn(_BATCH, F.lit(1)), allowMissingColumns=True
    )
    state = merge_listings(
        state, crawl_batch, key="offer_id",
        order_cols=[
            F.col(_BATCH).asc_nulls_first(),
            F.col("updated_date").asc_nulls_first(),
        ],
        derive_status_col=True,
    ).drop(_BATCH)

    # ---- 3: distance enrichment (F3 → J11 → X16) ---------------------
    # the two lookups compose into one address → km table (smallest km
    # when a lookup repeats a key), broadcast onto the merged state;
    # distance is filled only where it is null (F3), and a null or
    # empty address never matches
    address_km = (
        geocode_lookup.where(F.col("address") != "")
        .join(F.broadcast(route_lookup), ["lat", "lon"])                  # J11
        .where(F.col("meters").isNotNull())
        .groupBy(F.col("address").alias("__km_address"))
        .agg(F.min(km_from_meters(F.col("meters"))).alias("__km"))       # X16
    )
    distance_type = dict(state.dtypes)["distance"]
    state = state.join(
        F.broadcast(address_km), F.col("address") == F.col("__km_address"), "left"
    ).select(*[
        F.coalesce(F.col(c), F.col("__km").cast(distance_type)).alias(c)
        if c == "distance" else F.col(c)
        for c in state.columns
    ])
    return CrawlFold(
        state, [cards, ledger, parsed],
        lambda: int(quarantine_obs.get["n_quarantined"]),
        exp_obs, exp_quarantine,
    )


@contextmanager
def _step(spark: SparkSession, name: str):
    """Label the jobs run inside with ``pipeline: <name>`` (AQE and
    broadcast subjobs inherit it), then restore the caller's label."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"pipeline: {name}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def run_pipeline(
    spark: SparkSession,
    search_pages: DataFrame,
    listing_pages_for: Callable[[DataFrame], DataFrame],
    geocode_lookup: DataFrame,
    route_lookup: DataFrame,
    config: PipelineConfig | None = None,
    state_path: str | None = None,
    output_dir: str | None = None,
) -> dict:
    """Run the five steps; returns {"state": DataFrame, "metrics": {...}}.

    ``search_pages``: (page_id, html) rows. ``listing_pages_for``:
    ids DataFrame (offer_id) → (html, url) rows. ``geocode_lookup``:
    (address, lat, lon). ``route_lookup``: (lat, lon, meters).

    ``state_path`` alone is refused: the versioned commit runs with
    the snapshot writes, so a run without ``output_dir`` would read the
    state and never commit the next version.

    With ``output_dir`` the fold runs ONCE, as one eager
    ``localCheckpoint`` of the observed state: the metrics are read and
    the fold's caches released right after it, and the three snapshot
    writes and the state commit all read the checkpoint, a plain scan
    instead of the whole fold's plan. The checkpoint is also the
    returned frame, so it outlives the pruning of the version it was
    folded from. Its blocks live in executor storage only: an executor
    lost before the commit fails the cycle there, the state stays at
    v_{N-1}, and a rerun folds the same crawl again. Without
    ``output_dir`` the returned state is lazy and the caller owns the
    caches (``cached``). Each step's jobs carry the job description
    ``pipeline: <step>``.
    """
    if state_path and not output_dir:
        raise ValueError(
            "run_pipeline: state_path needs output_dir — the state commit "
            "runs with the snapshot writes, so without output_dir no new "
            "state version would be written"
        )
    cfg = config or PipelineConfig()
    metrics: dict[str, int] = {}

    # versioned state (see step 4+5): this run reads v_{N-1} and will
    # commit v_{N}, so no plan ever depends on files being replaced —
    # no materialization barrier needed at load
    with _step(spark, "load_state"):
        state = load_state(spark, state_path)
    fold = fold_crawl(
        spark, state, search_pages, listing_pages_for, geocode_lookup,
        route_lookup, cfg,
    )

    # ---- 4+5: snapshots (K1/K2/K3, F4) with observed counts (A7) -----
    obs = SafeObservation("state_metrics")
    # coalesce: SUM over zero rows is NULL, and int(None) at the
    # metrics collection would crash AFTER the state commit (the
    # expectations observation coalesces for the same reason)
    state = obs.on(
        fold.state,
        F.count(F.lit(1)).alias("n_state"),
        F.coalesce(
            F.sum(F.when(F.col("status") == "active", 1).otherwise(0)),
            F.lit(0),
        ).alias("n_active"),
        F.coalesce(
            F.sum(F.when(F.col("distance").isNotNull(), 1).otherwise(0)),
            F.lit(0),
        ).alias("n_with_distance"),
    )
    if output_dir:
        with _step(spark, "fold"):
            state = state.localCheckpoint(eager=True)
            metrics.update({k: int(v) for k, v in obs.get.items()})
            metrics["n_quarantined"] = fold.n_quarantined()
            if fold.exp_obs is not None:
                metrics.update(
                    {k: int(v) for k, v in fold.exp_obs.get.items()}
                )
        # the checkpoint holds everything the steps below read, so the
        # fold's caches go now: a long-lived driver re-running the
        # pipeline would otherwise accumulate them run after run. In the
        # lazy path (no output_dir) no action has run yet; unpersisting
        # there would make every consumer of the caches re-run both
        # HTML parses, so the caller gets them instead
        for cached in fold.cached:
            cached.unpersist()
        with _step(spark, "write_state_json"):
            sinks.write_state_json(state, f"{output_dir}/state_json")
        with _step(spark, "write_csv_snapshot"):
            sinks.write_csv_snapshot(state, f"{output_dir}/combined_data")
        with _step(spark, "write_filtered_csv"):
            sinks.write_filtered_csv(
                state, f"{output_dir}/combined_data_filtered", cfg.now
            )
        if state_path:
            # durable state for the next run (T3): a versioned commit —
            # the write never touches the files step 0 read, so no
            # staging, and a failed run can't corrupt the previous
            # state. The pipeline run merges the whole state, so its
            # commit is a FULL bucketed snapshot (the same layout the
            # streaming fold writes deltas into — the two engines share
            # one state table), which also lets _prune_versions drop
            # every shadowed delta beneath it.
            from rental_data_pipeline_spark.streaming.incremental import (
                commit_full_version,
            )

            with _step(spark, "commit"):
                commit_full_version(state, state_path, "offer_id")
    out = {
        "state": state, "metrics": metrics,
        "cached": [] if output_dir else fold.cached,
    }
    if fold.exp_quarantine is not None:
        out["expectation_quarantine"] = fold.exp_quarantine
    return out
