"""End-to-end pipeline on a hand-built fixture with every edge case
from FIXTURES.md §1, plus the driver-testdata adapter path."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.enrich.geocode import (
    with_coordinates,
)
from enriched_crime_incident_data_pipeline_spark.operators.derive import to_silver
from enriched_crime_incident_data_pipeline_spark.operators.dedup import dedup_by_key
from enriched_crime_incident_data_pipeline_spark.operators.health import (
    null_count_health,
)
from enriched_crime_incident_data_pipeline_spark.plans.events_adapter import (
    events_as_incidents_raw,
    synthetic_location_dim,
    synthetic_weather_hourly,
)
from enriched_crime_incident_data_pipeline_spark.plans.pipeline import run_pipeline
from enriched_crime_incident_data_pipeline_spark.schemas import (
    INCIDENTS_RAW_SCHEMA,
    LOCATION_SCHEMA,
    WEATHER_HOURLY_SCHEMA,
)
from enriched_crime_incident_data_pipeline_spark.sources.catalog import load_table

BRONZE_ROWS = [
    # (datetime_str, incident_num, location, nature, incident_ori)
    ("4/3/2024 5:30", "2024-1", "123 MAIN ST", "THEFT", "OK014"),
    ("4/3/2024 5:30", "2024-2", "123 MAIN ST", "SEIZURE", "EMSSTAT"),  # ems pair
    ("4/3/2024 6:00", "2024-3", "VINE ST / S BERRY RD", "THEFT", "OK014"),
    ("4/3/2024 6:00", "2024-3", "VINE ST / S BERRY RD", "THEFT", "OK014"),  # dup key
    ("4/3/2024 7:15", "2024-4", " ", " ", "OK014"),  # blank-padded row
    ("4/4/2024 23:59", "2024-5", "999 NOWHERE LN", "FRAUD", "OK014"),  # ungeocodable
]


def test_full_pipeline_fixture(spark):
    bronze = spark.createDataFrame(BRONZE_ROWS, INCIDENTS_RAW_SCHEMA)
    cache = spark.createDataFrame(
        [
            ("123 MAIN ST", 35.25, -97.40, None),
            ("VINE ST / S BERRY RD", 35.20, -97.50, None),
            ("999 NOWHERE LN", None, None, None),
        ],
        LOCATION_SCHEMA,
    )
    wh = spark.createDataFrame(
        [
            (35.25, -97.40, dt.date(2024, 4, 3), 5, 61),
            (35.20, -97.50, dt.date(2024, 4, 3), 6, 3),
        ],
        WEATHER_HOURLY_SCHEMA,
    )
    gold = run_pipeline(bronze, None, cache, wh)
    rows = gold.collect()
    assert len(rows) == 5  # dup incident_num collapsed

    by_nature = {r["nature"]: r for r in rows}
    # EMSSTAT propagated to the same-(ts,loc) peer
    assert by_nature["THEFT"]["emsstat"] in (0, 1)
    seizure = by_nature["SEIZURE"]
    assert seizure["emsstat"] == 1
    theft_main = [r for r in rows if r["location"] == "123 MAIN ST"]
    assert all(r["emsstat"] == 1 for r in theft_main)
    # weather joined by (lat, lon, date, hour)
    assert seizure["weather"] == 61
    # blank-padded and ungeocodable rows survive with NULL enrichment
    blank = by_nature[" "]
    assert blank["side_of_town"] is None and blank["weather"] is None
    fraud = by_nature["FRAUD"]
    assert fraud["side_of_town"] is None
    # location_rank: '123 MAIN ST'×2 rank 1; three singles tie at 2
    ranks = {r["location"]: r["location_rank"] for r in rows}
    assert ranks["123 MAIN ST"] == 1
    assert ranks[" "] == 2 and ranks["999 NOWHERE LN"] == 2


def test_incremental_second_batch_idempotent(spark):
    bronze = spark.createDataFrame(BRONZE_ROWS, INCIDENTS_RAW_SCHEMA)
    existing = dedup_by_key(to_silver(bronze), "incident_num")
    batch2 = spark.createDataFrame(
        [
            ("4/3/2024 5:30", "2024-1", "123 MAIN ST", "THEFT", "OK014"),  # dup
            ("4/5/2024 1:00", "2024-6", "500 ELM AVE", "BURGLARY", "OK014"),
        ],
        INCIDENTS_RAW_SCHEMA,
    )
    cache = spark.createDataFrame([("500 ELM AVE", 35.23, -97.41, None)], LOCATION_SCHEMA)
    wh = spark.createDataFrame([], WEATHER_HOURLY_SCHEMA)
    gold = run_pipeline(batch2, existing, cache, wh)
    rows = gold.collect()
    assert len(rows) == 1
    assert rows[0]["nature"] == "BURGLARY"


def test_incremental_batch_enriched_over_whole_table(spark):
    """EMSSTAT and both ranks are whole-table (reference
    src/db/incidents.py:48-74): a new row at the minute and address of
    an existing EMSSTAT row is flagged, and ranks count existing rows."""
    existing = to_silver(
        spark.createDataFrame(
            [
                ("3/1/2024 8:00", "2024-10", "1 MAIN ST", "MEDICAL", "EMSSTAT"),
                ("3/1/2024 9:00", "2024-11", "1 MAIN ST", "THEFT", "OK014"),
            ],
            INCIDENTS_RAW_SCHEMA,
        )
    )
    batch = spark.createDataFrame(
        [
            ("3/1/2024 8:00", "2024-12", "1 MAIN ST", "SEIZURE", "OK014"),
            ("3/2/2024 1:00", "2024-13", "3 ELM ST", "THEFT", "OK014"),
            ("3/2/2024 2:00", "2024-14", "3 ELM ST", "THEFT", "OK014"),
            ("3/1/2024 9:00", "2024-11", "1 MAIN ST", "THEFT", "OK014"),  # dup
        ],
        INCIDENTS_RAW_SCHEMA,
    )
    cache = spark.createDataFrame([], LOCATION_SCHEMA)
    wh = spark.createDataFrame([], WEATHER_HOURLY_SCHEMA)
    rows = run_pipeline(batch, existing, cache, wh).collect()
    assert len(rows) == 3  # only the inserted rows come back
    main = [r for r in rows if r["location"] == "1 MAIN ST"]
    assert [(r["emsstat"], r["location_rank"]) for r in main] == [(1, 1)]
    # the insert set alone would rank 3 ELM ST (×2) above 1 MAIN ST (×1)
    assert {r["location_rank"] for r in rows if r["location"] == "3 ELM ST"} == {2}
    # THEFT: one existing + two new rows
    assert {r["nature"]: r["incident_rank"] for r in rows} == {
        "SEIZURE": 2,
        "THEFT": 1,
    }


def test_adapter_pipeline_on_driver_testdata(spark):
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    bronze = events_as_incidents_raw(events)
    silver = dedup_by_key(to_silver(bronze), "incident_num")
    dim = synthetic_location_dim(events)
    wh = synthetic_weather_hourly(with_coordinates(silver, dim))
    gold = run_pipeline(bronze, None, dim, wh)
    n = gold.count()
    assert n == events.count()  # event_id unique → no dedup loss
    health = null_count_health(
        gold, ["weather", "location_rank", "side_of_town"]
    ).collect()[0]
    assert health["total_rows"] == n
    assert health["null_weather"] == 0
    assert health["null_location_rank"] == 0
    assert health["null_side_of_town"] == 0


def test_cli_report_and_export(spark, tmp_path, capsys, isolated_logging):
    """python -m enriched_crime_incident_data_pipeline_spark mirrors the
    reference's two entry points: 9-col TSV report (main.py) and CSV
    export (temp.py)."""
    from enriched_crime_incident_data_pipeline_spark.__main__ import main
    from enriched_crime_incident_data_pipeline_spark.sinks.output import (
        OUTPUT_COLUMNS,
    )

    assert main(["report", "--limit", "7"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].split("\t") == OUTPUT_COLUMNS
    assert len(out) == 1 + 7
    # every data row has exactly the 9 documented fields
    assert all(len(line.split("\t")) == len(OUTPUT_COLUMNS) for line in out[1:])

    dest = str(tmp_path / "export_csv")
    assert main(["export", "--out", dest, "--single-file"]) == 0
    exported = spark.read.option("header", "true").csv(dest)
    assert exported.count() == 1000  # sf0.001 events fixture
    assert {"incident_num", "incident_ts", "weather", "side_of_town"} <= set(
        exported.columns
    )
    # the CLI sinks the flagship query's own assembly: the export holds
    # the incidents of the pre-projection builder, and projects to the
    # flagship query's rows
    from collections import Counter

    from enriched_crime_incident_data_pipeline_spark import registry
    from enriched_crime_incident_data_pipeline_spark.registry.crime import (
        enriched_incidents,
    )

    sf = "/root/testdata/sf0.001"
    built = enriched_incidents(spark, sf).select(
        F.col("incident_num").cast("string")
    )
    assert exported.count() == built.count()
    assert {r[0] for r in exported.select("incident_num").collect()} == {
        r[0] for r in built.collect()
    }
    flagship = registry.spark_queries()["flagship_enriched_report"](spark, sf)
    keys = ["nature", "side_of_town"]
    assert Counter(
        tuple(r) for r in exported.select(*keys).collect()
    ) == Counter(tuple(r) for r in flagship.select(*keys).collect())


def test_cli_list_run_explain(spark, capsys, isolated_logging):
    """The exploration subcommands: `list` enumerates the registry,
    `run` prints rows, `explain` prints the physical plan, unknown
    names fail with a usable error."""
    from enriched_crime_incident_data_pipeline_spark.__main__ import main

    assert main(["list"]) == 0
    names = capsys.readouterr().out.strip().splitlines()
    assert len(names) >= 160 and "tpch_q1" in names and names == sorted(names)

    assert main(["run", "a1_groupby_count", "--limit", "5"]) == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out and "cnt" in out

    assert main(["explain", "tpch_q6"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out

    assert main(["run", "no_such_query"]) == 2
