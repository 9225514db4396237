"""Source-layer robustness: schema evolution across parquet writes
and malformed-record capture on text ingestion — the Spark-native
answers to the reference's positional row patching
(src/pdf/parse_incidents.py:49-56, cited in SURVEY.md S5/F9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_parquet_merge_schema_unions_columns(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], "id long, nature string"
    ).write.parquet(path + "/batch=1")
    # later batch adds an enrichment column (schema evolution)
    spark.createDataFrame(
        [(2, "b", 3)], "id long, nature string, weather int"
    ).write.parquet(path + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "nature", "weather", "batch"}
    rows = {r["id"]: r["weather"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 3


def test_permissive_csv_captures_corrupt_rows(spark, tmp_path):
    raw = tmp_path / "in.csv"
    raw.write_text("1,ALARM\n2,THEFT\nnot_an_int,X\n3,FRAUD\n")
    df = (
        spark.read.schema("id INT, nature STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(raw))
    )
    df = df.cache()  # corrupt-record column requires a materialized read
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 3
    assert [r["_corrupt_record"] for r in bad.collect()] == ["not_an_int,X"]
    df.unpersist()


def test_dropmalformed_keeps_only_parseable(spark, tmp_path):
    raw = tmp_path / "in2.csv"
    raw.write_text("1,ALARM\nbad_row_only_one_field\n2,THEFT\n")
    df = (
        spark.read.schema("id INT, nature STRING")
        .option("mode", "DROPMALFORMED")
        .csv(str(raw))
    )
    assert sorted(r["id"] for r in df.collect()) == [1, 2]


def test_incident_feed_offsets_replay_and_append_only(spark, tmp_path):
    """The streaming-source contract the checkpoint depends on:
    latestOffset advances from file NAMES only, partitions() slices
    the id range, re-reading a committed range returns identical rows
    (replay determinism over the append-only spool), an empty trigger
    is well-formed, and the producer refuses an append-only
    violation."""
    import pytest as _pytest

    from enriched_crime_incident_data_pipeline_spark.sources.incident_feed import (
        IncidentFeedStreamReader,
        write_spool_file,
    )

    spool = str(tmp_path / "spool")
    write_spool_file(
        spool,
        [
            dict(incident_id=i, ts=None, location=None, nature="burglary")
            for i in range(0, 5)
        ],
    )
    r = IncidentFeedStreamReader(spool, slice_width=2)
    assert r.initialOffset() == {"max_id": -1}
    o1 = r.latestOffset()
    assert o1 == {"max_id": 4}

    # r10: read() yields Arrow RecordBatches (vectorized reader)
    def _ids(parts):
        return sorted(
            i
            for p in parts
            for b in r.read(p)
            for i in b.column("incident_id").to_pylist()
        )

    parts = r.partitions({"max_id": -1}, o1)
    assert [(p.start, p.end) for p in parts] == [(-1, 1), (1, 3), (3, 4)]
    # file-aligned slicing: every slice of the first poll reads the
    # first spool file only (the name-declared range makes any other
    # file unreachable for these ids)
    import os as _os

    assert {p.file for p in parts} == {
        _os.path.join(spool, "upto-4.jsonl")
    }
    batch1 = _ids(parts)
    assert batch1 == [0, 1, 2, 3, 4]

    # second poll arrives
    write_spool_file(
        spool,
        [
            dict(incident_id=i, ts=None, location=None, nature="theft")
            for i in range(5, 8)
        ],
    )
    o2 = r.latestOffset()
    assert o2 == {"max_id": 7}
    batch2 = _ids(r.partitions(o1, o2))
    assert batch2 == [5, 6, 7]

    # replay of the FIRST committed range after the spool grew:
    # byte-identical row set — exactly-once under checkpoint recovery
    replay = _ids(r.partitions({"max_id": -1}, o1))
    assert replay == batch1

    # no-new-data trigger stays well-formed (one empty slice)
    empty = r.partitions(o2, o2)
    assert len(empty) == 1 and list(r.read(empty[0])) == []

    # append-only contract enforced at the producer
    with _pytest.raises(ValueError, match="append-only"):
        write_spool_file(
            spool,
            [dict(incident_id=3, ts=None, location=None, nature="dup")],
        )


def test_incident_feed_digit_boundary_spool_order(tmp_path):
    """ADVICE r10 (high): partitions() derives each file's lower
    bound from the PREVIOUS file's max id, so _spool_files must sort
    NUMERICALLY — lexicographically 'upto-12' < 'upto-9', which bound
    the second poll's file to (-1, 12] and silently dropped ids 0-8.
    Regression: spool max ids crossing a digit-count boundary."""
    from enriched_crime_incident_data_pipeline_spark.sources.incident_feed import (
        IncidentFeedStreamReader,
        write_spool_file,
    )

    spool = str(tmp_path / "spool")
    write_spool_file(
        spool,
        [
            dict(incident_id=i, ts=None, location=None, nature="a")
            for i in range(0, 10)  # publishes upto-9.jsonl
        ],
    )
    write_spool_file(
        spool,
        [
            dict(incident_id=i, ts=None, location=None, nature="b")
            for i in range(10, 13)  # publishes upto-12.jsonl
        ],
    )
    r = IncidentFeedStreamReader(spool, slice_width=0)
    o = r.latestOffset()
    assert o == {"max_id": 12}
    parts = r.partitions({"max_id": -1}, o)
    got = sorted(
        i
        for p in parts
        for b in r.read(p)
        for i in b.column("incident_id").to_pylist()
    )
    assert got == list(range(0, 13))
    # and each slice is bound to the correct single file
    import os as _os

    by_file = {
        _os.path.basename(p.file): (p.start, p.end) for p in parts
    }
    assert by_file == {"upto-9.jsonl": (-1, 9), "upto-12.jsonl": (9, 12)}


def test_write_spool_file_rejects_empty_poll(tmp_path):
    """ADVICE r8: an empty poll used to crash with an opaque
    ``max() arg is an empty sequence``; the file NAME carries the
    high-water mark so an empty batch has no offset to publish —
    the producer must skip the poll, and the helper says so."""
    from enriched_crime_incident_data_pipeline_spark.sources.incident_feed import (
        write_spool_file,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty poll"):
        write_spool_file(str(tmp_path / "spool"), [])


def test_load_table_leaves_session_conf_unchanged(spark, monkeypatch):
    """Loading a table reads the session conf get_spark pinned and
    writes none: a later query of the same session sees the conf it
    saw before the load."""
    from pyspark.sql.conf import RuntimeConfig

    from enriched_crime_incident_data_pipeline_spark.sources.catalog import (
        load_table,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        stream_events,
    )

    writes = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    before = spark.conf.getAll
    events = load_table(spark, SF_DIR, "events")
    stream = stream_events(spark, SF_DIR)
    assert events.schema["ts"].dataType.typeName() == "timestamp"
    assert stream.schema["ts"].dataType.typeName() == "timestamp"
    assert writes == []
    assert spark.conf.getAll == before


def test_load_table_fails_loudly_without_the_loader_conf(spark):
    from enriched_crime_incident_data_pipeline_spark.sources.catalog import (
        load_table,
    )

    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(ValueError, match="nanosAsLong"):
            load_table(spark, SF_DIR, "events")
    finally:
        spark.conf.set(key, saved)


def _events_file(sf_dir, ids, extra=None):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(
            [dt.datetime(2026, 1, 1, 0, 0, i) for i in ids],
            pa.timestamp("us", tz="UTC"),
        ),
    }
    if extra:
        cols[extra] = pa.array([f"{extra}{i}" for i in ids])
    sf_dir.mkdir(parents=True)
    pq.write_table(pa.table(cols), str(sf_dir / "events.parquet"))


def test_stream_events_stages_each_sf_dir_apart(spark, tmp_path, monkeypatch):
    """``/x/a_b`` and ``/x_a/b`` mangle to one readable stage name; each
    stream must still read its own events under its own schema, and a
    relative ``sf_dir`` must stage a link that resolves."""
    import tempfile

    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_events,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    _events_file(tmp_path / "x" / "a_b", [1, 2, 3])
    _events_file(tmp_path / "x_a" / "b", [7, 8], extra="tag")
    a = stream_events(spark, str(tmp_path / "x" / "a_b"))
    b = stream_events(spark, str(tmp_path / "x_a" / "b"))
    got_a = run_available_now(a, "stage_apart_a", "append", None).collect()
    got_b = run_available_now(b, "stage_apart_b", "append", None).collect()
    assert sorted(r["event_id"] for r in got_a) == [1, 2, 3]
    assert sorted((r["event_id"], r["tag"]) for r in got_b) == [
        (7, "tag7"),
        (8, "tag8"),
    ]

    monkeypatch.chdir(tmp_path)
    _events_file(tmp_path / "rel", [5])
    got = run_available_now(
        stream_events(spark, "rel"), "stage_apart_rel", "append", None
    ).collect()
    assert [r["event_id"] for r in got] == [5]
