"""``session.local_frame``: driver-side rows as a local relation.

Every shape the package's call sites build must come out exactly as
``createDataFrame(<list>)`` would build it (schema and rows), the
list path's safety checks must still fail loudly, and the plan must be
a ``LocalTableScan``, not a PythonRDD scan."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from enriched_crime_incident_data_pipeline_spark.enrich.geocode import (
    FixtureGeocoder,
    geocode_misses,
    resolve_misses,
    update_cache,
)
from enriched_crime_incident_data_pipeline_spark.schemas import LOCATION_SCHEMA
from enriched_crime_incident_data_pipeline_spark.session import local_frame

SHAPES = [
    pytest.param(
        [("a", 1, 2**40, 1.5), ("b", -3, -(2**40), -0.25)],
        "s string, i int, b bigint, d double",
        id="scalars-ddl",
    ),
    pytest.param(
        [(dt.date(2024, 4, 3), [1.0, 2.5]), (dt.date(1999, 12, 31), [])],
        "day date, v array<double>",
        id="date-array-ddl",
    ),
    pytest.param(
        [("x", None, None, None), ("y", 35.2, -97.4, 3)],
        LOCATION_SCHEMA,
        id="nulls-structtype",
    ),
    pytest.param(
        [(7, None), (None, [None, 0.5])],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.ArrayType(T.DoubleType())),
            ]
        ),
        id="null-array-structtype",
    ),
    pytest.param([], "it int, ma string, cnt bigint", id="empty-ddl"),
    pytest.param([], LOCATION_SCHEMA, id="empty-structtype"),
]


@pytest.mark.parametrize("rows,schema", SHAPES)
def test_local_frame_matches_list_path(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_plans_as_local_table_scan(spark):
    df = local_frame(spark, [("a", 1.0, 2.0, None)], LOCATION_SCHEMA)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


@pytest.mark.parametrize(
    "rows,schema",
    [
        pytest.param([(None, 1.0, 2.0, None)], LOCATION_SCHEMA, id="null-loc"),
        pytest.param([(2**31,)], "w int", id="int-overflow"),
        pytest.param([(2**63,)], "w bigint", id="bigint-overflow"),
        pytest.param([(1,)], "x double", id="int-in-double"),
        pytest.param([(1.5,)], "w bigint", id="float-in-bigint"),
        pytest.param([("a", 1)], "s string", id="row-too-long"),
    ],
)
def test_local_frame_keeps_the_list_paths_checks(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame(rows, schema)
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, schema)


INC = [("n1", "123 MAIN ST"), ("n2", "VINE ST / S BERRY RD"), ("n3", "NOWHERE")]
PROVIDER = FixtureGeocoder({"123 MAIN ST": (35.2, -97.4), "VINE ST": (35.21, -97.44)})


@pytest.mark.parametrize("cached", [0, 1, 3], ids=["3-misses", "2-misses", "0-misses"])
def test_resolve_misses_cache_matches_list_path(spark, cached):
    inc = spark.createDataFrame(INC, "incident_num string, location string")
    cache = spark.createDataFrame(
        [(loc, 1.0, 2.0, None) for _, loc in INC[:cached]], LOCATION_SCHEMA
    )
    resolved = resolve_misses(spark, geocode_misses(inc, cache), PROVIDER)
    want_rows = [
        (loc, *PROVIDER.geocode(loc), None) for _, loc in INC[cached:]
    ]
    want = update_cache(cache, spark.createDataFrame(want_rows, LOCATION_SCHEMA))
    got = update_cache(cache, resolved)
    assert resolved.schema == LOCATION_SCHEMA
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == len(INC)
