"""Explicit StructType schemas for every table the engine touches.

Mirrors the reference DDL (/root/reference/src/db/schema.py:10-24,
37-44) and the fixture shapes in FIXTURES.md. Spark has no PRIMARY KEY
constraints — uniqueness is enforced operationally via
``operators.dedup`` (dedup + left-anti append).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Bronze: positional 5-string rows out of PDF parsing
# (reference src/pdf/parse_incidents.py:47-65, flattened at
# src/db/incidents.py:12-16).
INCIDENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("datetime_str", T.StringType(), True),
        T.StructField("incident_num", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("nature", T.StringType(), True),
        T.StructField("incident_ori", T.StringType(), True),
    ]
)

# Silver/gold: enriched incidents (reference src/db/schema.py:10-24,
# semantics TECHNICAL.md:118-131).
INCIDENTS_SCHEMA = T.StructType(
    [
        T.StructField("incident_num", T.StringType(), False),
        T.StructField("incident_ts", T.TimestampType(), True),
        T.StructField("day_of_week", T.IntegerType(), True),
        T.StructField("time_of_day", T.IntegerType(), True),
        T.StructField("weather", T.IntegerType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("location_rank", T.IntegerType(), True),
        T.StructField("side_of_town", T.StringType(), True),
        T.StructField("incident_rank", T.IntegerType(), True),
        T.StructField("nature", T.StringType(), True),
        T.StructField("emsstat", T.IntegerType(), True),
    ]
)

# The streaming-maintained gold table
# (``plans.streaming_pipeline.ingest_silver_to_gold``): the silver
# columns of ``operators.derive.to_silver``, hive-partitioned by
# ``incident_date``. Reading it with this schema skips the footer job
# a schema-inferring read runs.
GOLD_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("incident_num", T.StringType(), True),
        T.StructField("incident_ts", T.TimestampType(), True),
        T.StructField("day_of_week", T.IntegerType(), True),
        T.StructField("time_of_day", T.IntegerType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("nature", T.StringType(), True),
        T.StructField("emsstat", T.IntegerType(), True),
        T.StructField("incident_date", T.DateType(), True),
    ]
)

# The streaming corpus folds' single state relations
# (``streaming.corpus_refresh`` / ``streaming.corpus_ingest``): the
# union of every row kind (each kind's unused columns NULL),
# hive-partitioned by the micro-batch id (``batch=-1`` is the refresh
# seed). The folds read their state once per micro-batch; with these
# schemas the read skips the footer job a schema-inferring read runs.
REFRESH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("band_id", T.IntegerType(), True),
        T.StructField("band_hash", T.BinaryType(), True),
        T.StructField("verdict", T.StringType(), True),
        T.StructField("fingerprint", T.StringType(), True),
        T.StructField("batch", T.IntegerType(), True),
    ]
)

INGEST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("band_id", T.IntegerType(), True),
        T.StructField("band_hash", T.BinaryType(), True),
        T.StructField("seg_hash", T.BinaryType(), True),
        T.StructField("n_kept", T.IntegerType(), True),
        T.StructField("deduped_text", T.StringType(), True),
        T.StructField("batch", T.IntegerType(), True),
    ]
)

# Geocode cache / dimension (reference src/db/schema.py:37-44; the
# reserved, never-written `weather` column is kept for parity,
# TECHNICAL.md:139).
LOCATION_SCHEMA = T.StructType(
    [
        T.StructField("loc", T.StringType(), False),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("weather", T.IntegerType(), True),
    ]
)

# Deterministic stand-in for the Open-Meteo hourly archive
# (reference src/enrich/weather.py:44-59): one row per
# (latitude, longitude, date, hour).
WEATHER_HOURLY_SCHEMA = T.StructType(
    [
        T.StructField("latitude", T.DoubleType(), False),
        T.StructField("longitude", T.DoubleType(), False),
        T.StructField("date", T.DateType(), False),
        T.StructField("hour", T.IntegerType(), False),
        T.StructField("weather_code", T.IntegerType(), True),
    ]
)

# Scraper-facing URL rows (reference src/scrape/normanpd.py:33-46,
# files.csv).
REPORT_URLS_SCHEMA = T.StructType([T.StructField("href", T.StringType(), True)])
