"""Checks of the program's outputs, computed apart from the program.

Each ``check_*`` function takes plain Arrow tables (what the program
produced) and the generator's truth directory, recomputes the expected
answer with DuckDB, numpy or plain Python, and returns a list of
``(name, ok, detail)``. None of them calls the program, so a test can
hand them a corrupted output and see them fail (``tests/``).

``gather_and_check(wl, twins)`` collects a workload's outputs through
the program and runs its checks.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# reference compass origin and buckets, as the reference pipeline states them
TOWN_CENTER = (35.2226, -97.4395)
COMPASS = ["N", "NE", "E", "SE", "S", "SW", "W", "NW"]

Result = tuple[str, bool, str]


def side_of_town(lat, lon) -> set[str | None]:
    """Compass bucket of the initial great-circle bearing from
    ``TOWN_CENTER``. A bearing within 1e-9 degrees of a bucket edge
    accepts both neighbours."""
    if lat is None or lon is None:
        return {None}
    la1, lo1 = math.radians(TOWN_CENTER[0]), math.radians(TOWN_CENTER[1])
    la2, lo2 = math.radians(lat), math.radians(lon)
    x = math.cos(la2) * math.sin(lo2 - lo1)
    y = math.cos(la1) * math.sin(la2) - math.sin(la1) * math.cos(la2) * math.cos(lo2 - lo1)
    bearing = (math.degrees(math.atan2(x, y)) + 360.0) % 360.0
    out = set()
    for b in (bearing - 1e-9, bearing, bearing + 1e-9):
        out.add(COMPASS[int(math.floor(((b + 22.5) % 360.0) / 45.0)) % 8])
    return out


def _sql_rank_expected(con, source: str, key: str) -> dict:
    """SQL ``RANK()`` by descending frequency of ``key``."""
    rows = con.execute(
        f"SELECT {key}, RANK() OVER (ORDER BY count(*) DESC) FROM {source} GROUP BY {key}"
    ).fetchall()
    return dict(rows)


def _diff(expected: Counter, got: Counter) -> str:
    missing = expected - got
    extra = got - expected
    return f"missing {sum(missing.values())}, unexpected {sum(extra.values())}" + (
        f", e.g. missing {next(iter(missing))}" if missing else ""
    ) + (f", e.g. unexpected {next(iter(extra))}" if extra else "")


def _multiset_check(name: str, expected: Counter, got: Counter) -> Result:
    ok = expected == got
    return (name, ok, f"{sum(got.values())} rows match" if ok else _diff(expected, got))


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------


def backfill_expected(truth_dir: str) -> tuple[pa.Table, dict[str, set]]:
    """The enriched report, recomputed from the generator's distinct
    incidents with DuckDB: minute-truncated time, ``user_id % 40``
    address, EMSSTAT max over (minute, address), RANK() by frequency,
    the address grid's coordinates and the hourly weather code rule.
    Also returns the sides each address may take."""
    truth = pq.read_table(os.path.join(truth_dir, "truth.parquet"))
    con = duckdb.connect()
    con.register("truth", truth)
    con.execute(
        f"""CREATE TEMP TABLE t AS SELECT
              date_trunc('minute', ts) AS its,
              'BLK ' || CAST(user_id % {gen.N_LOCATIONS} AS VARCHAR) || ' MAIN ST' AS location,
              upper(event_type) AS nature,
              CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS ems
            FROM truth"""
    )
    loc_rank = _sql_rank_expected(con, "t", "location")
    nat_rank = _sql_rank_expected(con, "t", "nature")
    rows = con.execute(
        "SELECT its, location, nature, max(ems) OVER (PARTITION BY its, location) FROM t"
    ).fetchall()
    lat0, lon0 = TOWN_CENTER
    sides = {
        f"BLK {m} MAIN ST": side_of_town(
            lat0 + (m - 20) * 0.01, lon0 + ((m * 7) % gen.N_LOCATIONS - 20) * 0.0125
        )
        for m in range(gen.N_LOCATIONS)
    }
    cols = {k: [] for k in ("day_of_week", "time_of_day", "weather", "location", "location_rank",
                            "side_of_town", "incident_rank", "nature", "emsstat")}
    for its, loc, nature, ems in rows:
        cols["day_of_week"].append(its.isoweekday() % 7 + 1)  # 1 = Sunday
        cols["time_of_day"].append(its.hour)
        cols["weather"].append((its.day * 24 + its.hour) % 100)
        cols["location"].append(loc)
        cols["location_rank"].append(loc_rank[loc])
        cols["side_of_town"].append(min(sides[loc]))
        cols["incident_rank"].append(nat_rank[nature])
        cols["nature"].append(nature)
        cols["emsstat"].append(ems)
    return pa.table(cols), sides


def check_backfill_report(report: pa.Table, truth_dir: str) -> list[Result]:
    with open(os.path.join(truth_dir, "meta.json")) as fh:
        meta = json.load(fh)
    exp, sides = backfill_expected(truth_dir)
    e, got = exp.to_pydict(), report.to_pydict()
    n = report.num_rows
    results: list[Result] = [
        ("backfill.row_count", n == meta["incidents"], f"{n} rows, {meta['incidents']} distinct incidents")
    ]

    def ms(d, cols):
        return Counter(zip(*(d[c] for c in cols)))

    def pairs(d, a, b):
        return Counter(set(zip(d[a], d[b])))

    key = ("location", "day_of_week", "time_of_day", "nature", "emsstat")
    results.append(_multiset_check("backfill.emsstat", ms(e, key), ms(got, key)))
    results.append(_multiset_check("backfill.location_rank", pairs(e, "location", "location_rank"),
                                   pairs(got, "location", "location_rank")))
    results.append(_multiset_check("backfill.incident_rank", pairs(e, "nature", "incident_rank"),
                                   pairs(got, "nature", "incident_rank")))
    bad = [(loc, s) for loc, s in set(zip(got["location"], got["side_of_town"])) if s not in sides.get(loc, ())]
    results.append(("backfill.side_of_town", not bad,
                    f"{len(bad)} (location, side) pairs off" + (f", e.g. {bad[0]}" if bad else "")))
    key = ("location", "day_of_week", "time_of_day", "weather")
    results.append(_multiset_check("backfill.weather", ms(e, key), ms(got, key)))
    return results


# ---------------------------------------------------------------------------
# daily_reports
# ---------------------------------------------------------------------------


def _parse_ts(s: str) -> dt.datetime:
    return dt.datetime.strptime(s, "%m/%d/%Y %H:%M")


def daily_expected_view(rows: list[dict], table: dict, weather: pa.Table) -> dict[str, dict]:
    """Per incident number, the enriched row the view must hold."""
    first: dict[str, dict] = {}
    for r in rows:
        first.setdefault(r["incident_num"], r)
    inc = list(first.values())
    ems_group: dict = {}
    for r in inc:
        k = (_parse_ts(r["datetime_str"]), r["location"])
        ems_group[k] = max(ems_group.get(k, 0), int(r["incident_ori"] == gen.EMSSTAT))

    def rank(key):
        counts = Counter(r[key] for r in inc)
        return {k: 1 + sum(1 for c2 in counts.values() if c2 > c) for k, c in counts.items()}

    loc_rank, nat_rank = rank("location"), rank("nature")
    wx = {
        (la, lo, d, h): c
        for la, lo, d, h, c in zip(*(weather.column(n).to_pylist() for n in
                                     ("latitude", "longitude", "date", "hour", "weather_code")))
    }
    out = {}
    for r in inc:
        ts = _parse_ts(r["datetime_str"])
        lat, lon = gen.geocode_expected(r["location"], table)
        out[r["incident_num"]] = {
            "emsstat": ems_group[(ts, r["location"])],
            "location_rank": loc_rank[r["location"]],
            "incident_rank": nat_rank[r["nature"]],
            "latitude": lat,
            "longitude": lon,
            "side_of_town": side_of_town(lat, lon),
            "weather": wx.get((lat, lon, ts.date(), ts.hour)) if lat is not None else None,
            "day_of_week": ts.isoweekday() % 7 + 1,
            "time_of_day": ts.hour,
        }
    return out


def daily_round_start(days: list[dict]) -> int:
    """Index of the first day of a round: the days before it are the
    gold history staged before every round."""
    return sum(1 for m in days if m.get("history"))


def daily_published(rows: list[dict], days: list[dict]) -> tuple[list[int], list[tuple[int, bool]], set[str]]:
    """Distinct incident ids published by the end of each day; for each
    re-published report, its day and whether it held only ids already
    published; and every id published."""
    seen: set[str] = set()
    cumulative, republish_ok = [], []
    for d, meta in enumerate(days):
        for f in meta["files"]:
            ids = {r["incident_num"] for r in rows if r["file"] == f["name"]}
            if f["report_day"] != d:
                republish_ok.append((d, ids <= seen))
            seen |= ids
        cumulative.append(len(seen))
    return cumulative, republish_ok, seen


def daily_round_gold_rows(truth_dir: str) -> int:
    """Gold rows summed over the days of one round: what the enrichment
    layers read over a round, one whole-table pass a day."""
    rows = pq.read_table(os.path.join(truth_dir, "rows.parquet"), columns=["incident_num", "file"]).to_pylist()
    with open(os.path.join(truth_dir, "days.json")) as fh:
        days = json.load(fh)
    cumulative, _, _ = daily_published(rows, days)
    return sum(cumulative[daily_round_start(days):])


def check_daily(out: dict, truth_dir: str) -> list[Result]:
    """``out``: decoded (path, 5 fields) rows of every PDF, the gold
    table, the final cache, the enriched view, and the gold row count
    after each day of the round."""
    rows = pq.read_table(os.path.join(truth_dir, "rows.parquet")).to_pylist()
    with open(os.path.join(truth_dir, "days.json")) as fh:
        days = json.load(fh)
    with open(os.path.join(truth_dir, "geocoder.json")) as fh:
        table = {k: tuple(v) for k, v in json.load(fh).items()}
    weather = pq.read_table(os.path.join(truth_dir, "weather_hourly.parquet"))
    fields = ("datetime_str", "incident_num", "location", "nature", "incident_ori")
    results: list[Result] = []

    dec = out["decoded"].to_pydict()
    got = Counter(
        (os.path.basename(p),) + tuple(dec[f][i] for f in fields) for i, p in enumerate(dec["path"])
    )
    exp = Counter((r["file"],) + tuple(r[f] for f in fields) for r in rows)
    results.append(_multiset_check("daily.decode_exact", exp, got))

    after = out["gold_rows_after"]
    cumulative, republish_ok, seen = daily_published(rows, days)
    first = daily_round_start(days)
    results.append(
        (
            "daily.gold_count_per_day",
            after == cumulative[first:],
            f"gold rows after each day of the round {after}, distinct ids published {cumulative[first:]}",
        )
    )
    rep_days = [d for d, _ in republish_ok]
    rep_ok = all(ok for _, ok in republish_ok) and all(
        after[d - first] - (after[d - first - 1] if d > first else cumulative[first - 1])
        == cumulative[d] - cumulative[d - 1]
        for d in rep_days
    ) and bool(rep_days)
    results.append(("daily.republish_adds_zero", rep_ok, f"re-published on days {rep_days}"))
    gold_ids = out["gold"].column("incident_num").to_pylist()
    results.append(
        (
            "daily.gold_ids",
            sorted(gold_ids) == sorted(seen),
            f"{len(gold_ids)} gold rows, {len(set(gold_ids))} distinct, {len(seen)} published",
        )
    )

    cache = out["cache"].to_pydict()
    cmap: dict[str, list] = {}
    for loc, la, lo in zip(cache["loc"], cache["latitude"], cache["longitude"]):
        cmap.setdefault(loc, []).append((la, lo))
    locs = {r["location"] for r in rows}
    wrong = [a for a in locs if cmap.get(a) != [gen.geocode_expected(a, table)]]
    inter = [a for a in locs if " / " in a and a not in table]
    via_fallback = [a for a in inter if gen.geocode_expected(a, table) != (None, None)]
    nulls = [a for a in locs if gen.geocode_expected(a, table) == (None, None)]
    results.append(
        (
            "daily.cache_complete",
            not wrong,
            f"{len(locs)} locations seen, {len(wrong)} wrong or missing"
            + (f", e.g. {wrong[0]!r}: {cmap.get(wrong[0])}" if wrong else "")
            + f"; {len(via_fallback)} intersections by fallback, {len(nulls)} not geocodable",
        )
    )
    expv = daily_expected_view(rows, table, weather)
    view = out["view"].to_pylist()
    bad: Counter = Counter()
    for r in view:
        e = expv.get(r["incident_num"])
        if e is None:
            bad["unknown incident"] += 1
            continue
        for k, v in e.items():
            if k == "side_of_town":
                if r[k] not in v:
                    bad[k] += 1
            elif r[k] != v:
                bad[k] += 1
    counted = Counter(r["incident_num"] for r in view)
    if set(counted) != set(expv) or any(c != 1 for c in counted.values()):
        bad["row set"] += 1
    for k in ("emsstat", "location_rank", "incident_rank", "side_of_town", "weather"):
        results.append(
            (f"daily.view_{k}", bad[k] == 0 and bad["row set"] == 0 and bad["unknown incident"] == 0,
             f"{len(view)} view rows, {bad[k]} wrong {k}")
        )
    results.append(
        ("daily.view_coordinates", bad["latitude"] + bad["longitude"] == 0,
         f"{bad['latitude'] + bad['longitude']} wrong coordinates")
    )
    return results


# ---------------------------------------------------------------------------
# corpus_stream
# ---------------------------------------------------------------------------


def corpus_expected_verdicts(docs: pa.Table, planted: dict) -> dict[int, str]:
    """The refresh verdict of every arriving document, from the planted
    truth and a plain-Python fingerprint and 8-gram computation."""
    ids = docs.column("doc_id").to_pylist()
    texts = dict(zip(ids, docs.column("text").to_pylist()))
    norm = {i: " ".join(gen.normalize_tokens(t)) for i, t in texts.items()}
    standing_fps = {norm[i] for i in ids if i < gen.CORPUS_STANDING}
    eval_grams = set()
    for i in ids:
        if i % gen.CORPUS_EVAL_MOD == 0:
            eval_grams |= _grams(norm[i].split(" "))
    dup_src = {int(k): v for k, v in planted["exact"].items()}
    dup_src.update({int(k): v for k, v in planted["near"].items()})

    def root(i: int) -> int:
        while i in dup_src:
            i = dup_src[i]
        return i

    out = {}
    for i in ids:
        if i < gen.CORPUS_STANDING:
            continue
        if norm[i] in standing_fps:
            out[i] = "exact_dup"
        elif i in dup_src:
            out[i] = "near_dup_old" if root(i) < gen.CORPUS_STANDING else "near_dup_new"
        elif _grams(norm[i].split(" ")) & eval_grams:
            out[i] = "contaminated"
        else:
            out[i] = "kept"
    return out


def _grams(tokens: list[str], n: int = 8) -> set[str]:
    if len(tokens) < n:
        return {" ".join(tokens)}
    return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


def _rows(t: pa.Table, cols) -> Counter:
    d = t.to_pydict()
    return Counter(zip(*(d[c] for c in cols)))


def _corpus_truth(truth_dir: str):
    docs = pq.read_table(os.path.join(truth_dir, "documents.parquet"))
    with open(os.path.join(truth_dir, "truth.json")) as fh:
        planted = json.load(fh)
    dups = {int(k) for k in planted["exact"]} | {int(k) for k in planted["near"]}
    return docs, planted, set(docs.column("doc_id").to_pylist()), dups


def check_corpus_refresh(out: dict, truth_dir: str) -> list[Result]:
    """``out``: the refresh fold's verdicts and, when given, the batch
    refresh over the same corpus (``twin``)."""
    docs, planted, all_ids, dups = _corpus_truth(truth_dir)
    arriving = {i for i in all_ids if i >= gen.CORPUS_STANDING}
    gram_docs = {int(k) for k in planted["eval_gram"]}
    v = dict(zip(*(out["verdicts"].column(c).to_pylist() for c in ("doc_id", "verdict"))))
    dup_verdicts = {"exact_dup", "near_dup_old", "near_dup_new"}
    dropped = {i for i, x in v.items() if x in dup_verdicts}
    results: list[Result] = [
        (
            "corpus.kept_plus_dropped",
            out["verdicts"].num_rows == len(arriving) and set(v) == arriving,
            f"{len(v) - len(dropped)} kept + {len(dropped)} dropped, {out['verdicts'].num_rows} verdicts "
            f"for {len(arriving)} arrived",
        )
    ]
    missed = sorted(dups - dropped)
    results.append(("corpus.drops_planted", not missed, f"{len(missed)} of {len(dups)} planted duplicates not dropped"))
    falsely = sorted(dropped - dups)
    results.append(("corpus.keeps_unrelated", not falsely, f"{len(falsely)} unrelated documents dropped"))
    unflagged = [i for i in gram_docs if v.get(i) != "contaminated"]
    results.append(
        ("corpus.eval_grams_flagged", not unflagged and bool(gram_docs),
         f"{len(unflagged)} of {len(gram_docs)} planted documents not flagged")
    )
    exp = corpus_expected_verdicts(docs, planted)
    wrong = sorted(i for i in arriving if v.get(i) != exp[i])
    results.append(
        ("corpus.verdicts", not wrong,
         f"{len(wrong)} verdicts differ" + (f", e.g. {wrong[0]}: {v.get(wrong[0])} vs {exp[wrong[0]]}" if wrong else ""))
    )
    if "twin" in out:
        cols = ("doc_id", "verdict")
        results.append(_multiset_check("corpus.equals_batch_twin", _rows(out["twin"], cols), _rows(out["verdicts"], cols)))
    return results


def check_corpus_ingest(out: dict, truth_dir: str) -> list[Result]:
    """``out``: the ingest fold's kept documents, the ids its band index
    saw and, when given, the batch twin's kept documents (``twin``)."""
    _, _, all_ids, dups = _corpus_truth(truth_dir)
    kept = out["kept"].column("doc_id").to_pylist()
    seen = set(out["seen"].column("doc_id").to_pylist())
    dropped = seen - set(kept)
    results: list[Result] = [
        (
            "ingest.kept_plus_dropped",
            len(kept) == len(set(kept)) and set(kept) <= seen == all_ids,
            f"{len(kept)} kept + {len(dropped)} dropped of {len(all_ids)} arrived",
        ),
        ("ingest.drops_planted", dups <= dropped, f"{len(dups - dropped)} of {len(dups)} planted duplicates kept"),
        ("ingest.keeps_unrelated", not (dropped - dups), f"{len(dropped - dups)} unrelated documents dropped"),
    ]
    if "twin" in out:
        cols = ("doc_id", "n_kept", "deduped_text")
        results.append(_multiset_check("ingest.equals_batch_twin", _rows(out["twin"], cols), _rows(out["kept"], cols)))
    return results


# ---------------------------------------------------------------------------
# gathering outputs through the program
# ---------------------------------------------------------------------------


def check_trace(layer_cpu_s: float, tree_cpu_s: float, dedup_rows: int | None, incidents: int | None) -> list[Result]:
    """Two totals reached apart must agree: executor CPU summed over the
    layers (event log) fits in the process tree's CPU over the same
    interval (``/proc``); and the dedup layer's rows equal the
    generator's distinct incidents (``backfill``) or, summed over a
    traced round, the distinct ids published by each of its days
    (``daily_reports``)."""
    results: list[Result] = [
        (
            "trace.exec_cpu_within_tree_cpu",
            layer_cpu_s <= tree_cpu_s,
            f"executor CPU over layers {layer_cpu_s:.2f} s, process tree {tree_cpu_s:.2f} s",
        )
    ]
    if incidents is not None:
        results.append(
            ("trace.dedup_rows_equal_distinct_incidents", dedup_rows == incidents,
             f"{dedup_rows} rows, {incidents} distinct incidents")
        )
    return results


def gather_and_check(wl, twins: bool) -> list[Result]:
    """Collect ``wl``'s outputs through the program and check them. The
    batch twins of the corpus folds run only when ``twins`` is set."""
    if wl.name == "backfill":
        return check_backfill_report(pq.read_table(wl.outputs()), wl.inputs)
    if wl.name == "daily_reports":
        return check_daily(wl.outputs(), wl.inputs)
    check = check_corpus_refresh if wl.name == "corpus_stream" else check_corpus_ingest
    return check(wl.outputs(twins), wl.inputs)
