"""Test-only reference for steps 1-3 of the pipeline job: the earlier
chain of three ``merge_listings`` folds per cycle (search merge,
listing merge, distance merge), kept verbatim so
``tests/test_pipeline_differential.py`` can hold the fused
``jobs.pipeline.fold_crawl`` to its outputs.

Drop-in for ``fold_crawl``: same arguments, same ``CrawlFold`` result.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rental_data_pipeline_spark.functions.numeric import (
    km_from_meters,
    parse_numeric_value,
)
from rental_data_pipeline_spark.jobs.pipeline import CrawlFold, PipelineConfig
from rental_data_pipeline_spark.observe import SafeObservation
from rental_data_pipeline_spark.operators.extract import (
    parse_listing_pages,
    quarantine_split,
    split_cards,
)
from rental_data_pipeline_spark.operators.merge import merge_listings
from rental_data_pipeline_spark.operators.normalize import normalize_listings


def chained_fold_crawl(
    spark: SparkSession,
    state: DataFrame,
    search_pages: DataFrame,
    listing_pages_for: Callable[[DataFrame], DataFrame],
    geocode_lookup: DataFrame,
    route_lookup: DataFrame,
    cfg: PipelineConfig,
) -> CrawlFold:
    active = state.where(~F.coalesce(F.col("is_unpublished"), F.lit(False)))
    db_active_ids = active.select("offer_id").distinct()

    # ---- 1: search phase (E2 → F5 → J7/J8 → J1) ----------------------
    cards = split_cards(search_pages)
    cards = cards.where(F.col("offer_id").isNotNull())
    cards = cards.persist()
    current_ids = cards.select("offer_id").distinct()

    missing = db_active_ids.join(current_ids, "offer_id", "left_anti")
    tombstones = missing.select(
        "offer_id", F.lit(True).alias("is_unpublished"),
        F.lit(cfg.now).cast("timestamp").alias("updated_date"),
    )
    search_batch = cards.select(
        "offer_id",
        parse_numeric_value(F.col("price_value")).alias("price_value"),
        F.col("title"),
    ).unionByName(tombstones, allowMissingColumns=True)
    state = merge_listings(
        state, search_batch, key="offer_id",
        order_cols=[F.col("updated_date").asc_nulls_first()],
        derive_status_col=True,
    )

    # ---- 2: listing phase (J9 scope → E1 → X3-X5 → J1) ---------------
    scope = spark.createDataFrame([], "offer_id string")
    if cfg.update_current_search_listings:
        scope = scope.unionByName(current_ids)
    elif cfg.should_scrape_new:
        scope = scope.unionByName(
            current_ids.join(db_active_ids, "offer_id", "left_anti")
        )
    if cfg.check_if_unpublished:
        scope = scope.unionByName(missing)
    if cfg.check_missing_estimations and "estimated_price" in state.columns:
        scope = scope.unionByName(
            state.where(
                F.col("estimated_price").isNull()
                & ~F.coalesce(F.col("is_unpublished"), F.lit(False))
            ).select("offer_id")
        )
    scope = scope.distinct()

    pages = listing_pages_for(scope)
    parsed = parse_listing_pages(pages).persist()
    clean, quarantined = quarantine_split(parsed)
    listing_batch = normalize_listings(clean, now=cfg.now).drop("facts", "features")
    exp_obs = None
    exp_quarantine = None
    if cfg.expectations:
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
    state = merge_listings(
        state, listing_batch, key="offer_id",
        order_cols=[F.col("updated_date").asc_nulls_first()],
        derive_status_col=True,
    )

    # ---- 3: distance enrichment (F3 → J11 → X16 → J10) ---------------
    need = state.where(
        F.col("distance").isNull()
        & F.col("address").isNotNull()
        & (F.col("address") != "")
    ).select("offer_id", "address")
    routed = (
        need.join(F.broadcast(geocode_lookup), "address", "left")
        .where(F.col("lat").isNotNull())
        .join(F.broadcast(route_lookup), ["lat", "lon"], "left")
        .where(F.col("meters").isNotNull())
        .select("offer_id", km_from_meters(F.col("meters")).alias("distance"))
    )
    state = merge_listings(
        state, routed, key="offer_id",
        order_cols=[F.lit(0)],
        derive_status_col=True,
    )
    # an explicit count: the exact figure the fused fold's observation
    # must report
    return CrawlFold(
        state, [cards, parsed], quarantined.count, exp_obs, exp_quarantine
    )
