"""RANK tie semantics (reference src/db/incidents.py:69-70) and
EMSSTAT propagation fixpoint (src/db/incidents.py:48-55)."""

from __future__ import annotations

import random
from collections import Counter
from datetime import datetime

import pytest

from enriched_crime_incident_data_pipeline_spark.operators.emsstat import (
    propagate_emsstat,
    propagate_emsstat_selfjoin,
)
from enriched_crime_incident_data_pipeline_spark.operators.ranks import (
    frequency_rank_table,
    with_frequency_rank,
    with_frequency_ranks,
)


def test_rank_ties_share_and_gap(spark):
    # freq: A×3, B×2, C×2, D×1 → ranks 1, 2, 2, 4 (RANK, not dense)
    rows = [("A",)] * 3 + [("B",)] * 2 + [("C",)] * 2 + [("D",)]
    df = spark.createDataFrame(rows, "location string")
    ranks = {
        r["location"]: r["location_rank"]
        for r in frequency_rank_table(df, "location", "location_rank").collect()
    }
    assert ranks == {"A": 1, "B": 2, "C": 2, "D": 4}


def test_rank_join_back_attaches_to_every_row(spark):
    rows = [("A",)] * 2 + [("B",)]
    df = spark.createDataFrame(rows, "location string")
    out = with_frequency_rank(df, "location", "location_rank").collect()
    assert len(out) == 3
    by_loc = {r["location"]: r["location_rank"] for r in out}
    assert by_loc == {"A": 1, "B": 2}


def _sql_ranks(values):
    """RANK() OVER (ORDER BY COUNT(*) DESC) over ``GROUP BY value``,
    UPDATE-joined back: NULL is a group (its count takes a histogram
    slot) but never matches the join, so NULL rows get no rank."""
    counts = Counter(values)
    rank = {
        v: 1 + sum(1 for c in counts.values() if c > n) for v, n in counts.items()
    }
    return [None if v is None else rank[v] for v in values]


RANK_SCHEMA = "id int, location string, nature string"


def _rank_frames():
    rng = random.Random(20261019)
    frames = {
        "empty": [],
        "single_key": [(i, "A", "N") for i in range(5)],
        "all_null": [(0, None, None), (1, None, "N")],
    }
    for case in range(3):
        locs = [None] + [f"L{j}" for j in range(rng.randint(1, 5))]
        natures = [None] + [f"N{j}" for j in range(rng.randint(1, 4))]
        frames[f"random{case}"] = [
            (i, rng.choice(locs), rng.choice(natures))
            for i in range(rng.randint(1, 40))
        ]
    return frames


@pytest.mark.parametrize("name", sorted(_rank_frames()))
def test_fused_ranks_equal_sequential_ranks(spark, name):
    """One rank table for both keys gives each key the ranks it gets
    alone: NULL keys, ties, an empty frame and a single key value."""
    rows = _rank_frames()[name]
    df = spark.createDataFrame(rows, RANK_SCHEMA)
    fused = with_frequency_ranks(
        df, {"location": "location_rank", "nature": "incident_rank"}
    )
    sequential = with_frequency_rank(
        with_frequency_rank(df, "location", "location_rank"),
        "nature",
        "incident_rank",
    )
    cols = ["id", "location_rank", "incident_rank"]
    got = sorted(tuple(r) for r in fused.select(cols).collect())
    assert got == sorted(tuple(r) for r in sequential.select(cols).collect())
    ids = [r[0] for r in rows]
    want = sorted(
        zip(
            ids,
            _sql_ranks([r[1] for r in rows]),
            _sql_ranks([r[2] for r in rows]),
        )
    )
    assert got == want
    assert fused.columns == df.columns + ["location_rank", "incident_rank"]


def test_rank_table_keeps_null_group(spark):
    # NULL×3 outranks A×2: the table ranks it, the join-back does not
    rows = [(None,)] * 3 + [("A",)] * 2 + [("B",)]
    df = spark.createDataFrame(rows, "location string")
    table = dict(
        tuple(r)
        for r in frequency_rank_table(df, "location", "location_rank").collect()
    )
    assert table == {None: 1, "A": 2, "B": 3}
    joined = with_frequency_rank(df, "location", "location_rank").collect()
    assert sorted((r[0] or "", r[1] or 0) for r in joined) == (
        [("", 0)] * 3 + [("A", 2)] * 2 + [("B", 3)]
    )


EMS_ROWS = [
    # (key, ts, location, emsstat)
    ("a", datetime(2026, 1, 2, 5, 30), "123 MAIN ST", 1),
    ("b", datetime(2026, 1, 2, 5, 30), "123 MAIN ST", 0),  # → 1 (peer)
    ("c", datetime(2026, 1, 2, 5, 30), "OTHER ST", 0),      # stays 0
    ("d", datetime(2026, 1, 2, 6, 0), "123 MAIN ST", 0),    # other ts → 0
    ("e", datetime(2026, 1, 2, 7, 0), "X", 0),
]
SCHEMA = "incident_num string, incident_ts timestamp, location string, emsstat int"
EXPECTED = {"a": 1, "b": 1, "c": 0, "d": 0, "e": 0}


def test_emsstat_window_max(spark):
    df = spark.createDataFrame(EMS_ROWS, SCHEMA)
    out = {r["incident_num"]: r["emsstat"] for r in propagate_emsstat(df).collect()}
    assert out == EXPECTED


def test_emsstat_selfjoin_witness_matches_window(spark):
    # the literal self-join port and the window-max formulation agree
    df = spark.createDataFrame(EMS_ROWS, SCHEMA)
    out = {
        r["incident_num"]: r["emsstat"]
        for r in propagate_emsstat_selfjoin(df).collect()
    }
    assert out == EXPECTED


def test_dedup_and_propagate_equals_two_stage(spark):
    import datetime as dt

    from enriched_crime_incident_data_pipeline_spark.operators.dedup import (
        dedup_by_key,
    )
    from enriched_crime_incident_data_pipeline_spark.operators.emsstat import (
        dedup_and_propagate,
        propagate_emsstat,
    )

    t1 = dt.datetime(2026, 1, 2, 0, 3)
    t2 = dt.datetime(2026, 1, 2, 9, 0)
    rows = [
        # duplicate key (re-ingestion, identical row) + EMSSTAT pair
        ("A1", t1, "MAIN ST", 1),
        ("A1", t1, "MAIN ST", 1),
        ("A2", t1, "MAIN ST", 0),   # same (ts,loc) → propagates to 1
        ("A3", t2, "MAIN ST", 0),   # different ts → stays 0
        ("A4", t1, "VINE ST", 0),   # different loc → stays 0
    ]
    df = spark.createDataFrame(
        rows, "incident_num string, incident_ts timestamp, location string, emsstat int"
    )
    fused = sorted(map(tuple, dedup_and_propagate(df).collect()))
    two_stage = sorted(
        map(tuple, propagate_emsstat(dedup_by_key(df, "incident_num")).collect())
    )
    assert fused == two_stage
    # A1 flagged, A2 propagated via shared (ts,loc); A3 (other ts)
    # and A4 (other loc) untouched
    assert [r[3] for r in fused] == [1, 1, 0, 0]
