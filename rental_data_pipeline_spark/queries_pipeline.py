"""Oracle-checked end-to-end pipeline query (SURVEY §3.1).

Runs the REAL five-step job — card split, tombstoning, listing-page
extraction, normalize, one CDC merge of the search and listing
batches, geo enrichment through the composed geocode ⋈ route lookup —
over fixtures rendered from the ``documents`` table, and the DuckDB
oracle recomputes the entire final state from doc_id arithmetic. One
query exercises E1/E2/E8, P1, X1-X5, J1-J12, W1-W4, F3/F5 and X16 in
a single dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rental_data_pipeline_spark.jobs import PipelineConfig, run_pipeline
from rental_data_pipeline_spark.operators import extract as X
from rental_data_pipeline_spark.prepared import (
    session_artifact,
    session_tempdir,
)
from rental_data_pipeline_spark.queries import register
from rental_data_pipeline_spark.sources.tables import load_table


def _fixtures(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Rendered page fixtures materialized ONCE per session — the
    prepared-artifact lever applied to the test harness, not the
    engine: the fixtures are a deterministic function of sf_dir (they
    stand in for the crawler's fetched pages, which production reads
    from a landing zone exactly once), while the five PIPELINE stages
    — card split, parse, normalize, merges, enrichment — run live on
    every call. Without this, every action of the multi-stage job
    re-rendered the page markup upstream of the parse. Rendered with
    the parallelism fan-out BEFORE materialization, so the parquet
    lands as defaultParallelism files and the parse stage reads one
    split per core. Returns the (search_pages, listing_pages) HANDLES
    — memoizing the DataFrames, not just the path, also memoizes the
    per-read schema-discovery job."""

    def build() -> tuple[DataFrame, DataFrame]:
        base = session_tempdir("pipeline_fixtures_")
        docs = load_table(spark, "documents", sf_dir)
        n = spark.sparkContext.defaultParallelism
        X.search_pages_from_documents(docs).write.parquet(f"{base}/search")
        docs.repartition(n, F.col("doc_id")).select(
            "doc_id",
            X.listing_page_html(F.col("doc_id"), F.col("text")).alias(
                "html"
            ),
            X.listing_url(F.col("doc_id")).alias("url"),
        ).write.parquet(f"{base}/listing")
        return (
            spark.read.parquet(f"{base}/search"),
            spark.read.parquet(f"{base}/listing"),
        )

    return session_artifact(
        spark, ("pipeline_fixtures", sf_dir), build
    )


@register(
    "pipeline_end_to_end",
    oracle="""
SELECT CAST(doc_id + 100000 AS VARCHAR) AS offer_id,
       CASE WHEN doc_id % 50 = 0
            THEN printf('%d-комн. кв., %d м²', doc_id % 4 + 1, doc_id % 60 + 30)
            ELSE printf('%d-комн. кв., %d м², %d/%d этаж',
                        doc_id % 4 + 1, doc_id % 60 + 30, doc_id % 15 + 1,
                        doc_id % 15 + 1 + doc_id % 10) END AS title,
       CAST((doc_id % 100 + 20) * 1000 AS DOUBLE) AS price_value,
       CASE WHEN doc_id % 50 <> 0
            THEN 'Москва, ул. Тестовая, ' || CAST(doc_id % 200 + 1 AS VARCHAR)
       END AS address,
       CASE WHEN doc_id % 50 <> 0
            THEN 'Станция' || CAST(doc_id % 12 AS VARCHAR) END AS metro_station,
       CASE WHEN doc_id % 50 <> 0
            THEN round(((doc_id % 200 + 1) * 100 + 50) / 1000.0, 2) END AS distance,
       CASE WHEN doc_id % 50 <> 0 THEN doc_id % 7 = 0 END AS is_unpublished,
       CASE WHEN doc_id % 50 <> 0 AND doc_id % 7 = 0
            THEN 'non active' ELSE 'active' END AS status,
       CASE WHEN doc_id % 50 <> 0
            THEN TIMESTAMP '2024-05-12 14:30:00' END AS last_active,
       CASE WHEN doc_id % 50 <> 0 AND doc_id % 7 <> 0 THEN text END AS description,
       CASE WHEN doc_id % 50 <> 0 THEN doc_id % 900 + 17 END AS total_views
FROM documents
""",
)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 flagship: the whole batch job over rendered fixtures.

    Oracle facts being checked: error pages (doc 50k) keep only card
    fields (E8 quarantine); listing fields overwrite card fields but
    null never clobbers (J2); unpublished listings keep description
    un-overwritten (J4) and derive 'non active' (X5); last_active comes
    from the parsed Russian date with injected now (X2/W4/A6); distance
    runs only for rows with an address (F3) through the composed
    geocode ⋈ route lookup, broadcast onto the state (J11), with km
    rounding (X16)."""
    docs = load_table(spark, "documents", sf_dir)
    search_pages, listing_all = _fixtures(spark, sf_dir)

    def listing_pages_for(scope_ids: DataFrame) -> DataFrame:
        wanted = scope_ids.select(
            (F.col("offer_id").cast("long") - 100000).alias("doc_id")
        )
        # broadcast the id list against the pre-rendered pages: the
        # ~75 KB markup rows never cross an exchange
        return listing_all.join(F.broadcast(wanted), "doc_id").select(
            "html", "url"
        )

    addr = F.concat(F.lit("Москва, ул. Тестовая, "), (F.col("doc_id") % 200 + 1))
    geocode = docs.select(
        addr.alias("address"),
        (F.col("doc_id") % 200 + 1).cast("double").alias("lat"),
        F.lit(37.0).alias("lon"),
    ).dropDuplicates(["address"])
    route = geocode.select(
        "lat", "lon", (F.col("lat") * 100 + 50).alias("meters")
    ).dropDuplicates(["lat", "lon"])

    res = run_pipeline(
        spark, search_pages, listing_pages_for, geocode, route,
        PipelineConfig(now="2024-06-15 12:00:00"),
    )
    return res["state"].select(
        "offer_id", "title", "price_value", "address", "metro_station",
        "distance", "is_unpublished", "status", "last_active",
        "description", "total_views",
    )
