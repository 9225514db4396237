"""Parquet catalog over the driver testdata directories.

``spark.read.parquet`` gives columnar scans with predicate pushdown
and column pruning; at cluster scale the same loader points at
date-partitioned table roots and Catalyst prunes partitions from the
query predicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.session import LOADER_CONF

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Timestamp columns whose parquet physical type has varied across
# testdata generations: TIMESTAMP(NANOS) (readable only via the
# nanosAsLong legacy conf, then converted ns→µs — DuckDB applies the
# same truncation) or plain TIMESTAMP(MICROS) with
# isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Either way the
# loaded column is normalized to micro-precision TimestampType so
# every downstream operator and oracle sees identical values under
# the UTC session timezone.
_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (see TESTDATA.md)."""
    ts_cols = _TS_COLS.get(name, [])
    if ts_cols:
        # the NTZ branch of as_micros_timestamp interprets wall-clock
        # values in the session timezone at execution time; a session
        # missing the UTC pin would silently diverge from the DuckDB
        # oracles, and one without nanosAsLong cannot read a NANOS
        # column at all. get_spark() pins both; loading reads the
        # session conf and never changes it.
        for key, want in LOADER_CONF.items():
            got = spark.conf.get(key, None)
            if got != want:
                raise ValueError(
                    f"load_table({name!r}) requires {key}={want} "
                    f"(got {got!r}); use get_spark() or pin the conf "
                    "before loading"
                )
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in ts_cols:
        df = df.withColumn(c, as_micros_timestamp(df, c))
    return df


def as_micros_timestamp(df: DataFrame, c: str) -> F.Column:
    """Normalize a stored-nanos long / NTZ timestamp column to
    TimestampType (micros). Public: the streaming source applies the
    same normalization to its micro-batch frames."""
    from pyspark.sql.types import LongType

    if isinstance(df.schema[c].dataType, LongType):
        return F.expr(f"timestamp_micros({c} div 1000)")
    return F.col(c).cast("timestamp")


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view for the SQL API."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
