"""Geocode stage (reference §2 U1/J3/S7/A6).

Reference behavior (/root/reference/src/db/location.py):
- distinct incident locations (A6) probed against a persistent
  ``location`` cache table; only misses call Nominatim (1 req/s);
- intersection fallback: on miss, an address containing ``' / '`` is
  retried as each side + ", Norman, OK, USA" (location.py:11-13,18-32);
- results (including NULL lat/lon for un-geocodable) are appended to
  the cache with ``ON CONFLICT DO NOTHING`` (S7).

Spark design: cache probe = left-anti join (J3); the external call is
a pluggable provider. The live-provider path MUST stay serialized
(1 req/s politeness) — so providers run on the driver over the
collected miss list, never as a parallel UDF. Miss lists are tiny by
construction (distinct new locations per run), and ``resolve_misses``
returns them as a local relation (``session.local_frame``): the cache
write reads them with no Python worker task and no job of their own.
The default provider is a deterministic fixture for hermetic tests.
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.schemas import LOCATION_SCHEMA
from enriched_crime_incident_data_pipeline_spark.session import local_frame


class Geocoder(Protocol):
    """Provider interface: address → (lat, lon) or (None, None)."""

    def geocode(self, address: str) -> tuple[float | None, float | None]: ...


class FixtureGeocoder:
    """Deterministic lookup-table geocoder for hermetic tests.

    Applies the reference's intersection fallback: a miss on
    ``'A / B'`` retries 'A' then 'B' (location.py:18-32)."""

    def __init__(self, table: dict[str, tuple[float, float]]):
        self._table = dict(table)

    def geocode(self, address: str) -> tuple[float | None, float | None]:
        hit = self._table.get(address)
        if hit is not None:
            return hit
        if " / " in address:
            for side in address.split(" / "):
                hit = self._table.get(side.strip())
                if hit is not None:
                    return hit
        return (None, None)


def geocode_misses(incidents: DataFrame, cache: DataFrame) -> DataFrame:
    """Distinct incident locations absent from the cache (J3 anti-join
    on the cache key ``loc``)."""
    distinct_locs = incidents.select(
        F.col("location").alias("loc")
    ).distinct()
    return distinct_locs.join(F.broadcast(cache.select("loc")), "loc", "left_anti")


def resolve_misses(
    spark: SparkSession, misses: DataFrame, provider: Geocoder
) -> DataFrame:
    """Run the provider over the (small, driver-collected) miss list.

    Serialized on the driver on purpose: the live Nominatim provider
    is rate-limited to 1 req/s — a parallel UDF fan-out would violate
    it (SURVEY.md §4). Returns a local relation in LOCATION_SCHEMA."""
    rows = [
        (m["loc"], *provider.geocode(m["loc"]), None)
        for m in misses.collect()
    ]
    return local_frame(spark, rows, LOCATION_SCHEMA)


def update_cache(cache: DataFrame, resolved: DataFrame) -> DataFrame:
    """Cache ∪ newly-resolved (S7 ON CONFLICT DO NOTHING: existing
    keys win)."""
    new_rows = resolved.join(cache.select("loc"), "loc", "left_anti")
    return cache.unionByName(new_rows)


def with_coordinates(incidents: DataFrame, cache: DataFrame) -> DataFrame:
    """Attach latitude/longitude via the cache dimension (J1-style
    broadcast equi-join on ``incidents.location = cache.loc``,
    TECHNICAL.md:141). Unresolved locations keep NULL coordinates."""
    dim = cache.select("loc", "latitude", "longitude")
    return incidents.join(
        F.broadcast(dim), incidents["location"] == dim["loc"], "left"
    ).drop("loc")


class LiveNominatimGeocoder:
    """Nominatim geocoder with the reference's exact politeness and
    fallback semantics (location.py:7-32): ≥1 s between requests,
    10 s timeout, and on a miss of an intersection address
    ``'A / B'``, retry each side suffixed ``", Norman, OK, USA"``.

    stdlib-only (urllib); ``fetcher(url) -> list | None`` is
    injectable for tests. Run on the driver over the anti-joined miss
    list — never inside a parallel UDF (rate limit is global).
    """

    ENDPOINT = "https://nominatim.openstreetmap.org/search"
    SUFFIX = ", Norman, OK, USA"

    def __init__(self, fetcher=None, min_delay_s: float = 1.0, timeout_s: float = 10.0):
        self._fetch = fetcher or self._http_fetch
        self._min_delay_s = min_delay_s
        self._timeout_s = timeout_s
        self._last_call = 0.0

    def _http_fetch(self, url: str):  # pragma: no cover - network
        import json as _json
        import urllib.request

        req = urllib.request.Request(
            url, headers={"User-Agent": "spark-crime-enrich/1.0"}
        )
        with urllib.request.urlopen(req, timeout=self._timeout_s) as resp:
            return _json.loads(resp.read().decode("utf-8"))

    def _rate_limited_query(self, q: str) -> tuple[float | None, float | None]:
        import time
        import urllib.parse

        wait = self._min_delay_s - (time.monotonic() - self._last_call)
        if wait > 0:
            time.sleep(wait)
        self._last_call = time.monotonic()
        url = f"{self.ENDPOINT}?{urllib.parse.urlencode({'q': q, 'format': 'json', 'limit': 1})}"
        try:
            results = self._fetch(url)
        except Exception:
            return (None, None)
        if results:
            first = results[0]
            return (float(first["lat"]), float(first["lon"]))
        return (None, None)

    def geocode(self, address: str) -> tuple[float | None, float | None]:
        lat, lon = self._rate_limited_query(address)
        if lat is not None:
            return (lat, lon)
        if " / " in address:
            for side in address.split(" / "):
                lat, lon = self._rate_limited_query(side.strip() + self.SUFFIX)
                if lat is not None:
                    return (lat, lon)
        return (None, None)
