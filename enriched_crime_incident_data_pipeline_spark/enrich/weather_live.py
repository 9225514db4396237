"""Live Open-Meteo provider: materialize the ``weather_hourly``
lookup table from the archive API over a distinct work-list.

Reference behavior (/root/reference/src/enrich/weather.py:9-68): per
distinct (ts, location, lat, lon), GET the day's hourly
``weather_code`` vector (`timezone=auto`), 10 s timeout, 5 retries
with 0.2 backoff, disk HTTP cache that never expires; the incident
hour indexes the vector.

Spark design: one fetch per distinct (lat, lon, date) — strictly
fewer calls than the reference's per-(ts,loc) loop — executed on the
driver over the collected work-list (it is small by construction:
distinct location-days per run). The result is the same
``weather_hourly(latitude, longitude, date, hour, weather_code)``
shape the fixture path uses, so `with_weather` is identical in live
and test mode. ``fetcher(url) -> dict | None`` is injectable; the
real one is stdlib urllib with retry/backoff.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from enriched_crime_incident_data_pipeline_spark.session import local_frame

ENDPOINT = "https://archive-api.open-meteo.com/v1/archive"
TIMEOUT_S = 10.0
RETRIES = 5
BACKOFF_S = 0.2

_WH_SCHEMA = (
    "latitude double, longitude double, date date, hour int, weather_code int"
)


def with_retries(fetch_once, retries: int = RETRIES, backoff_s: float = BACKOFF_S, sleep=None):
    """Wrap a single-attempt fetcher with the reference's retry policy
    (src/enrich/weather.py:25: 5 retries, 0.2 s exponential backoff).
    ``sleep`` is injectable so tests pin the backoff schedule without
    waiting it out."""
    import time as _time

    do_sleep = sleep or _time.sleep

    def fetch(url: str):
        for attempt in range(retries + 1):
            try:
                return fetch_once(url)
            except Exception:
                if attempt == retries:
                    raise
                do_sleep(backoff_s * (2**attempt))

    return fetch


def _http_fetch_once(url: str):  # pragma: no cover - network
    import json as _json
    import urllib.request

    with urllib.request.urlopen(url, timeout=TIMEOUT_S) as resp:
        return _json.loads(resp.read().decode("utf-8"))


def fetch_weather_hourly(
    spark: SparkSession, worklist: DataFrame, fetcher=None
) -> DataFrame:
    """(distinct work-list from ``weather_worklist``) → the
    ``weather_hourly`` lookup table, one API call per distinct
    (lat, lon, date)."""
    import urllib.parse

    fetch = fetcher or with_retries(_http_fetch_once)
    days = (
        worklist.selectExpr(
            "latitude", "longitude", "to_date(incident_ts) AS date"
        )
        .distinct()
        .collect()
    )
    rows: list[tuple[float, float, dt.date, int, int]] = []
    for r in days:
        day = r["date"].isoformat()
        url = f"{ENDPOINT}?" + urllib.parse.urlencode(
            {
                "latitude": r["latitude"],
                "longitude": r["longitude"],
                "start_date": day,
                "end_date": day,
                "hourly": "weather_code",
                "timezone": "auto",
            }
        )
        try:
            payload = fetch(url)
        except Exception:
            payload = None
        codes = (payload or {}).get("hourly", {}).get("weather_code", [])
        for hour, code in enumerate(codes):
            if code is None:
                continue
            rows.append(
                (r["latitude"], r["longitude"], r["date"], hour, int(code))
            )
    return local_frame(spark, rows, _WH_SCHEMA)
