"""Streaming sources over the parquet testdata.

File-source streams need an explicit schema; we take it from a batch
read of the same path so the stream sees exactly what the batch
engine sees (`events.ts` is normalized to micro-precision
TimestampType exactly as in ``sources.catalog.load_table``,
whichever physical parquet type the testdata generation used).

Scale: a file-source stream with ``Trigger.AvailableNow`` +
checkpointing is the exactly-once replacement for the reference's
MAX(incident_ts) watermark pruning
(`/root/reference/src/scrape/normanpd.py:23-27`) — the checkpoint
tracks processed files, so re-runs pick up only new report files, and
`maxFilesPerTrigger` bounds per-batch state on a 1000-executor
backfill.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """events.parquet as a streaming DataFrame (:func:`stream_table`,
    with ts converted from stored nanos to micro-precision timestamps,
    as in the batch loader; reading stored nanos needs the session's
    ``spark.sql.legacy.parquet.nanosAsLong``, which ``get_spark``
    pins)."""
    from enriched_crime_incident_data_pipeline_spark.sources.catalog import (
        as_micros_timestamp,
    )

    df = stream_table(spark, sf_dir, "events", max_files_per_trigger)
    return df.withColumn("ts", as_micros_timestamp(df, "ts"))


def stream_incidents_raw(spark: SparkSession, bronze_dir: str) -> DataFrame:
    """Bronze incidents_raw directory (5 string columns) as a stream —
    the live-ingest shape: each daily report lands as one new file and
    the checkpoint makes reprocessing exactly-once."""
    from enriched_crime_incident_data_pipeline_spark.schemas import INCIDENTS_RAW_SCHEMA

    return spark.readStream.schema(INCIDENTS_RAW_SCHEMA).parquet(bronze_dir)


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Any testdata table as a streaming DataFrame. The file source
    streams *directories* (new files appear, the checkpoint tracks
    which were seen); the testdata table is a bare file, so it is
    staged as a symlink under a per-table scratch dir — the same shape
    a live feed has, one parquet file per arriving report."""
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    schema = spark.read.parquet(path).schema
    # the stage is keyed by a digest of the absolute path: a mangled
    # directory name is not injective (``/t/x/a_b`` and ``/t/x_a/b``
    # both read ``t_x_a_b``), so two tables never share a link
    digest = hashlib.sha1(path.encode()).hexdigest()[:12]
    stage = os.path.join(
        tempfile.gettempdir(), "spark_graft_stream", f"{name}_{digest}"
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{name}.parquet")
    # lexists, not exists: exists() follows the symlink, so a link
    # whose target is momentarily absent reads as "absent" and the
    # re-create raises FileExistsError
    if not os.path.lexists(link):
        os.symlink(path, link)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(stage)


def read_state(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Batch read of a streaming fold's parquet state relation under
    its declared ``schema`` (partition column included): no
    schema-inference footer job, so a fold that reads its state once
    per micro-batch runs no extra Spark job for it."""
    return spark.read.schema(schema).parquet(path)
