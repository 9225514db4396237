"""End-to-end pipeline plan (reference §3.1, re-expressed as one
declarative DataFrame DAG).

Reference control flow (src/pipeline/main.py:48-122): scrape → fetch →
parse → insert+EMSSTAT → ranks → geocode → weather → side_of_town →
health. Every UPDATE-in-place stage becomes a pure transformation;
Catalyst plans the whole DAG at once (broadcast dims, pushdown,
partial aggregation) instead of N round-trips to an external SQL
engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.operators.dedup import (
    dedup_by_key,
    idempotent_append,
)
from enriched_crime_incident_data_pipeline_spark.operators.derive import to_silver
from enriched_crime_incident_data_pipeline_spark.operators.emsstat import (
    propagate_emsstat,
)
from enriched_crime_incident_data_pipeline_spark.operators.ranks import (
    with_frequency_ranks,
)
from enriched_crime_incident_data_pipeline_spark.enrich.geocode import (
    with_coordinates,
)
from enriched_crime_incident_data_pipeline_spark.enrich.sides import (
    with_side_of_town,
)
from enriched_crime_incident_data_pipeline_spark.enrich.weather import with_weather
from enriched_crime_incident_data_pipeline_spark.sinks.output import gold_projection


def enrich_incidents(
    silver: DataFrame,
    location_cache: DataFrame,
    weather_hourly: DataFrame,
) -> DataFrame:
    """silver (typed, deduped) → fully-enriched incidents.

    Stage order mirrors §3.1 but is one lazy DAG:
    emsstat window-max → frequency ranks (location, nature) →
    coordinates (broadcast dim join) → side_of_town (column math) →
    weather (broadcast hourly-lookup join)."""
    return enrich_after_emsstat(
        propagate_emsstat(silver), location_cache, weather_hourly
    )


def enrich_after_emsstat(
    base: DataFrame,
    location_cache: DataFrame,
    weather_hourly: DataFrame,
) -> DataFrame:
    """Enrichment tail for inputs whose EMSSTAT is already
    propagated (e.g. by the fused ``dedup_and_propagate``): ranks →
    coordinates → side_of_town → weather. Every join here is a
    broadcast — the fact side is never re-shuffled."""
    df = with_frequency_ranks(
        base, {"location": "location_rank", "nature": "incident_rank"}
    )
    df = with_coordinates(df, location_cache)
    df = with_side_of_town(df)
    df = with_weather(df, weather_hourly)
    return df


def run_pipeline(
    bronze: DataFrame,
    existing: DataFrame | None,
    location_cache: DataFrame,
    weather_hourly: DataFrame,
) -> DataFrame:
    """Full batch: bronze rows → typed → idempotent-append set →
    enriched gold projection (9 columns + keys retained upstream).

    ``existing`` (silver columns; extra columns are ignored) is the
    table the batch appends to. EMSSTAT and both ranks are whole-table
    semantics (reference src/db/incidents.py:48-74), so the insert set
    is enriched together with ``existing``; only the inserted rows are
    returned."""
    silver = to_silver(bronze)
    if existing is None:
        enriched = enrich_incidents(
            dedup_by_key(silver, "incident_num"), location_cache, weather_hourly
        )
        return gold_projection(enriched)
    fresh = idempotent_append(silver, existing, "incident_num")
    table = fresh.withColumn("_fresh", F.lit(True)).unionByName(
        existing.select(*silver.columns).withColumn("_fresh", F.lit(False))
    )
    enriched = enrich_incidents(table, location_cache, weather_hourly)
    return gold_projection(enriched.filter("_fresh"))
