"""Every check passes on a right output and fails on a corrupted one.

The right outputs are assembled from the generator's truth, so these
tests need no Spark session.
"""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen


def _failed(results) -> set[str]:
    return {name for name, ok, _ in results if not ok}


def _replace(table: pa.Table, col: str, i: int, value) -> pa.Table:
    vals = table.column(col).to_pylist()
    vals[i] = value
    return table.set_column(table.schema.get_field_index(col), col, pa.array(vals, table.schema.field(col).type))


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def backfill(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("backfill"))
    gen.gen_backfill(11, d, n=4000)
    json.dump(dict(json.load(open(os.path.join(d, "meta.json"))), incidents=4000), open(os.path.join(d, "meta.json"), "w"))
    report, _ = checks.backfill_expected(d)
    return d, report


def test_backfill_right_output_passes(backfill):
    d, report = backfill
    assert _failed(checks.check_backfill_report(report, d)) == set()


def test_backfill_dropped_row_fails(backfill):
    d, report = backfill
    assert "backfill.row_count" in _failed(checks.check_backfill_report(report.slice(1), d))


def test_backfill_flipped_emsstat_fails(backfill):
    d, report = backfill
    i = report.column("emsstat").to_pylist().index(0)
    bad = _replace(report, "emsstat", i, 1)
    assert _failed(checks.check_backfill_report(bad, d)) == {"backfill.emsstat"}


def test_backfill_shifted_rank_fails(backfill):
    d, report = backfill
    ranks = [r + 1 for r in report.column("location_rank").to_pylist()]
    bad = report.set_column(report.schema.get_field_index("location_rank"), "location_rank", pa.array(ranks))
    assert _failed(checks.check_backfill_report(bad, d)) == {"backfill.location_rank"}
    bad = _replace(report, "incident_rank", 0, report.column("incident_rank")[0].as_py() + 1)
    assert _failed(checks.check_backfill_report(bad, d)) == {"backfill.incident_rank"}


def test_backfill_wrong_side_or_weather_fails(backfill):
    d, report = backfill
    side = report.column("side_of_town")[0].as_py()
    bad = _replace(report, "side_of_town", 0, "S" if side != "S" else "N")
    assert _failed(checks.check_backfill_report(bad, d)) == {"backfill.side_of_town"}
    bad = _replace(report, "weather", 0, (report.column("weather")[0].as_py() + 1) % 100)
    assert _failed(checks.check_backfill_report(bad, d)) == {"backfill.weather"}


# ---------------------------------------------------------------------------
# daily_reports
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def daily(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("daily"))
    gen.gen_daily(12, d)
    rows = pq.read_table(os.path.join(d, "rows.parquet")).to_pylist()
    table = {k: tuple(v) for k, v in json.load(open(os.path.join(d, "geocoder.json"))).items()}
    weather = pq.read_table(os.path.join(d, "weather_hourly.parquet"))
    days = json.load(open(os.path.join(d, "days.json")))
    expv = checks.daily_expected_view(rows, table, weather)
    view = [dict(v, incident_num=k, side_of_town=min(v["side_of_town"], key=str)) for k, v in expv.items()]
    locs = sorted({r["location"] for r in rows})
    coords = [gen.geocode_expected(a, table) for a in locs]
    seen, after = set(), []
    for day in days:
        for f in day["files"]:
            seen |= {r["incident_num"] for r in rows if r["file"] == f["name"]}
        after.append(len(seen))
    after = after[checks.daily_round_start(days):]
    fields = ("datetime_str", "incident_num", "location", "nature", "incident_ori")
    out = {
        "decoded": pa.table({"path": [f"file:/x/{r['file']}" for r in rows], **{f: [r[f] for r in rows] for f in fields}}),
        "gold": pa.table({"incident_num": sorted(seen)}),
        "cache": pa.table({"loc": locs, "latitude": [c[0] for c in coords], "longitude": [c[1] for c in coords]}),
        "view": pa.Table.from_pylist(view),
        "gold_rows_after": after,
    }
    return d, out


def test_daily_right_output_passes(daily):
    d, out = daily
    assert _failed(checks.check_daily(out, d)) == set()


def test_daily_dropped_decoded_row_fails(daily):
    d, out = daily
    assert _failed(checks.check_daily(dict(out, decoded=out["decoded"].slice(1)), d)) == {"daily.decode_exact"}


def test_daily_republish_adding_rows_fails(daily):
    d, out = daily
    after = list(out["gold_rows_after"])
    after[-1] += 5  # the last day re-publishes an earlier report
    failed = _failed(checks.check_daily(dict(out, gold_rows_after=after), d))
    assert {"daily.republish_adds_zero", "daily.gold_count_per_day"} <= failed


def test_daily_cache_without_fallback_fails(daily):
    d, out = daily
    locs = out["cache"].column("loc").to_pylist()
    i = next(i for i, a in enumerate(locs) if " / " in a and out["cache"].column("latitude")[i].as_py() is not None)
    bad = _replace(_replace(out["cache"], "latitude", i, None), "longitude", i, None)
    assert _failed(checks.check_daily(dict(out, cache=bad), d)) == {"daily.cache_complete"}


def test_daily_duplicate_gold_row_fails(daily):
    d, out = daily
    gold = pa.concat_tables([out["gold"], out["gold"].slice(0, 1)])
    assert _failed(checks.check_daily(dict(out, gold=gold), d)) == {"daily.gold_ids"}


@pytest.mark.parametrize(
    "col, bad_value, check",
    [
        ("emsstat", lambda v: 1 - v, "daily.view_emsstat"),
        ("location_rank", lambda v: v + 1, "daily.view_location_rank"),
        ("incident_rank", lambda v: v + 1, "daily.view_incident_rank"),
        ("side_of_town", lambda v: "S" if v != "S" else "N", "daily.view_side_of_town"),
        ("weather", lambda v: 999, "daily.view_weather"),
        ("latitude", lambda v: 1.5, "daily.view_coordinates"),
    ],
)
def test_daily_view_corruptions_fail(daily, col, bad_value, check):
    d, out = daily
    view = out["view"]
    i = next(i for i, v in enumerate(view.column(col).to_pylist()) if v is not None)
    bad = _replace(view, col, i, bad_value(view.column(col)[i].as_py()))
    assert _failed(checks.check_daily(dict(out, view=bad), d)) == {check}


def test_daily_trace_dedup_rows_must_equal_published(daily):
    """Summed over a traced round, the dedup layer reads the whole gold
    table once a day: the distinct ids published by the end of each day."""
    d, out = daily
    expected = checks.daily_round_gold_rows(d)
    assert expected == sum(out["gold_rows_after"])
    assert not _failed(checks.check_trace(1.0, 2.0, expected, expected))
    failed = _failed(checks.check_trace(1.0, 2.0, expected - 1, expected))
    assert failed == {"trace.dedup_rows_equal_distinct_incidents"}


def test_daily_view_dropped_row_fails(daily):
    d, out = daily
    failed = _failed(checks.check_daily(dict(out, view=out["view"].slice(1)), d))
    assert "daily.view_emsstat" in failed


# ---------------------------------------------------------------------------
# corpus_stream
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    gen.gen_corpus(13, d)
    docs = pq.read_table(os.path.join(d, "documents.parquet"))
    truth = json.load(open(os.path.join(d, "truth.json")))
    verdicts = checks.corpus_expected_verdicts(docs, truth)
    dups = {int(k) for k in truth["exact"]} | {int(k) for k in truth["near"]}
    ids = docs.column("doc_id").to_pylist()
    kept_ids = [i for i in ids if i not in dups]
    kept = pa.table({"doc_id": kept_ids, "n_kept": [1] * len(kept_ids), "deduped_text": ["t"] * len(kept_ids)})
    v = pa.table({"doc_id": list(verdicts), "verdict": list(verdicts.values())})
    ingest = {"seen": pa.table({"doc_id": ids}), "kept": kept, "twin": kept}
    return d, {"verdicts": v, "twin": v}, ingest, truth


def test_corpus_right_output_passes(corpus):
    d, refresh, ingest, _ = corpus
    assert _failed(checks.check_corpus_refresh(refresh, d)) == set()
    assert _failed(checks.check_corpus_ingest(ingest, d)) == set()


def test_corpus_ingest_kept_duplicate_fails(corpus):
    d, _, ingest, truth = corpus
    dup = int(next(iter(truth["near"])))
    kept = pa.concat_tables([ingest["kept"], pa.table({"doc_id": [dup], "n_kept": [1], "deduped_text": ["t"]})])
    failed = _failed(checks.check_corpus_ingest(dict(ingest, kept=kept), d))
    assert failed == {"ingest.drops_planted", "ingest.equals_batch_twin"}


def test_corpus_ingest_unseen_arrival_fails(corpus):
    d, _, ingest, _ = corpus
    failed = _failed(checks.check_corpus_ingest(dict(ingest, seen=ingest["seen"].slice(1)), d))
    assert "ingest.kept_plus_dropped" in failed


def test_corpus_ingest_dropped_unrelated_fails(corpus):
    d, _, ingest, _ = corpus
    failed = _failed(checks.check_corpus_ingest(dict(ingest, kept=ingest["kept"].slice(1)), d))
    assert failed == {"ingest.keeps_unrelated", "ingest.equals_batch_twin"}


def test_corpus_refresh_corruptions_fail(corpus):
    d, refresh, _, truth = corpus
    v = refresh["verdicts"]
    ids = v.column("doc_id").to_pylist()
    gram_doc = int(next(iter(truth["eval_gram"])))
    failed = _failed(checks.check_corpus_refresh(dict(refresh, verdicts=_replace(v, "verdict", ids.index(gram_doc), "kept")), d))
    assert failed == {"corpus.eval_grams_flagged", "corpus.verdicts", "corpus.equals_batch_twin"}
    dup = int(next(iter(truth["exact"])))
    failed = _failed(checks.check_corpus_refresh(dict(refresh, verdicts=_replace(v, "verdict", ids.index(dup), "kept")), d))
    assert {"corpus.drops_planted", "corpus.verdicts"} <= failed
    failed = _failed(checks.check_corpus_refresh({"verdicts": v.slice(1)}, d))
    assert "corpus.kept_plus_dropped" in failed
    kept = ids.index(next(i for i, x in zip(ids, v.column("verdict").to_pylist()) if x == "kept"))
    failed = _failed(checks.check_corpus_refresh({"verdicts": _replace(v, "verdict", kept, "near_dup_new")}, d))
    assert failed == {"corpus.keeps_unrelated", "corpus.verdicts"}


def test_trace_totals_must_agree():
    assert not _failed(checks.check_trace(3.0, 10.0, 120, 120))
    assert _failed(checks.check_trace(11.0, 10.0, None, None)) == {"trace.exec_cpu_within_tree_cpu"}
    assert _failed(checks.check_trace(3.0, 10.0, 119, 120)) == {"trace.dedup_rows_equal_distinct_incidents"}
