"""The generator is a pure function of the seed, and plants what it says."""

import hashlib
import json
import os

import pyarrow.parquet as pq
import pytest

import gen
from enriched_crime_incident_data_pipeline_spark.sources.pdf import parse_pdf_bytes


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a = gen.ensure_inputs(str(tmp_path / "a"), workload, 7)
    b = gen.ensure_inputs(str(tmp_path / "b"), workload, 7)
    c = gen.ensure_inputs(str(tmp_path / "c"), workload, 8)
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da == db
    assert set(da) - {".done"}
    changed = [k for k in da if k != ".done" and da[k] != dc.get(k)]
    assert changed


def test_backfill_replays_meet_dedup_precondition(tmp_path):
    gen.gen_backfill(3, str(tmp_path), n=3000)
    ev = pq.read_table(tmp_path / "events.parquet").to_pylist()
    first = {}
    for r in ev:
        key = (r["ts"], r["user_id"], r["event_type"])
        assert first.setdefault(r["event_id"], key) == key
    meta = json.loads((tmp_path / "meta.json").read_text())
    assert meta["rows"] == len(ev) > meta["incidents"] == len(first)
    hot = sum(r["user_id"] == meta["hot_user_id"] for r in ev)
    assert hot > 0.2 * len(ev)


def test_daily_pdfs_decode_to_the_rows_written(tmp_path):
    """The benchmark's own PDF writer and the program's decoder agree on
    every planted shape: wrapped locations, intersections, re-publishes."""
    gen.gen_daily(4, str(tmp_path))
    rows = pq.read_table(tmp_path / "rows.parquet").to_pylist()
    assert any(r["wrap"] for r in rows)
    assert any(" / " in r["location"] for r in rows)
    assert any(r["report_day"] != r["day"] for r in rows)
    fields = ("datetime_str", "incident_num", "location", "nature", "incident_ori")
    for day in sorted(os.listdir(tmp_path / "pdfs")):
        for name in os.listdir(tmp_path / "pdfs" / day):
            got = parse_pdf_bytes((tmp_path / "pdfs" / day / name).read_bytes())
            want = [tuple(r[f] for f in fields) for r in rows if r["file"] == name and r["day"] == int(day[3:])]
            assert got == want


def test_corpus_plants_what_the_truth_says(tmp_path):
    gen.gen_corpus(5, str(tmp_path))
    truth = json.loads((tmp_path / "truth.json").read_text())
    docs = pq.read_table(tmp_path / "documents.parquet")
    ids = docs.column("doc_id").to_pylist()
    assert ids == sorted(ids)
    arriving = pq.read_table(tmp_path / "arriving" / "batch0.parquet").column("doc_id").to_pylist()
    assert min(arriving) == gen.CORPUS_STANDING
    for kind in ("exact", "near", "eval_gram"):
        assert truth[kind], kind
        assert all(int(i) >= gen.CORPUS_STANDING for i in truth[kind])
