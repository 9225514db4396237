"""Relational operators of the engine, each a pure
``DataFrame -> DataFrame`` transformation (SURVEY.md §2 inventory)."""

from enriched_crime_incident_data_pipeline_spark.operators.normalize import (
    normalize_raw_rows,
)
from enriched_crime_incident_data_pipeline_spark.operators.derive import (
    to_silver,
)
from enriched_crime_incident_data_pipeline_spark.operators.dedup import (
    dedup_by_key,
    idempotent_append,
)
from enriched_crime_incident_data_pipeline_spark.operators.ranks import (
    frequency_rank_table,
    with_frequency_rank,
    with_frequency_ranks,
)
from enriched_crime_incident_data_pipeline_spark.operators.emsstat import (
    propagate_emsstat,
    propagate_emsstat_selfjoin,
)
from enriched_crime_incident_data_pipeline_spark.operators.watermark import (
    filter_after_watermark,
    max_date_watermark,
)
from enriched_crime_incident_data_pipeline_spark.operators.health import (
    null_count_health,
)

__all__ = [
    "normalize_raw_rows",
    "to_silver",
    "dedup_by_key",
    "idempotent_append",
    "frequency_rank_table",
    "with_frequency_rank",
    "with_frequency_ranks",
    "propagate_emsstat",
    "propagate_emsstat_selfjoin",
    "filter_after_watermark",
    "max_date_watermark",
    "null_count_health",
]
