"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference pipeline of
SURVEY.md §3.1, adapted onto the driver's ``events`` table) at
sf0.001. ``queries()``/``oracle_sql()`` expose the SURVEY.md §2
operator inventory plus the datapipe operators, each implemented with
the engine's own operators and twinned with a DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from enriched_crime_incident_data_pipeline_spark import registry
from enriched_crime_incident_data_pipeline_spark.session import LOADER_CONF


def _pin_loader_conf(spark: SparkSession) -> None:
    """The conf get_spark pins and the table loaders read; the driver
    hands in a session of its own."""
    for k, v in LOADER_CONF.items():
        spark.conf.set(k, v)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _pin_loader_conf(spark)
    return registry.q_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _pin_loader_conf(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in registry.spark_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query."""
    return registry.oracle_queries()
