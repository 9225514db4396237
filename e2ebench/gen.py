"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
gives the same bytes, another seed gives other bytes. Next to the
inputs the generator writes its own truth (what it planted), which the
checks in ``checks.py`` compare the program's outputs against. The
program itself only ever sees the input files.

Inputs are written once per seed under ``<root>/<workload>/seed<N>``
and reused by later runs; a ``.done`` marker makes a half-written
directory count as absent.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdfwriter import write_pdf

# ---------------------------------------------------------------------------
# sizes
#
# No per-day or per-batch size is taken from a source: the program ships
# no report data. They are run-budget choices, set so that a run of the
# benchmark fits its time budget (README.md, "Sizes").
# ---------------------------------------------------------------------------

BACKFILL_INCIDENTS = 120_000
BACKFILL_REPLAY_SHARE = 0.06
BACKFILL_HOT_SHARE = 0.25
BACKFILL_EMS_SHARE = 0.09
BACKFILL_DAYS = 3

DAILY_DAYS = 30  # a month of daily reports
DAILY_HISTORY = 27  # days staged into gold before a round; the round is the rest
DAILY_ROWS = 70  # incidents per daily report, before planted companions

CORPUS_STANDING = 250  # ids below this are the standing corpus
CORPUS_BATCHES = 2  # arriving files, one micro-batch each
CORPUS_BATCH_DOCS = 60
CORPUS_EVAL_MOD = 50  # docs with id % 50 == 0 are the evaluation set

EVENT_TYPES = ["view", "click", "purchase", "login", "error"]
N_LOCATIONS = 40  # the program's events adapter maps user_id % 40 to an address


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def ensure_inputs(root: str, workload: str, seed: int) -> str:
    """Generate ``workload``'s inputs for ``seed`` unless already there;
    returns the directory."""
    out = os.path.join(root, workload, f"seed{seed}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](seed, tmp)
    with open(os.path.join(tmp, ".done"), "w") as fh:
        fh.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# ---------------------------------------------------------------------------
# backfill: an events-shaped incident history
# ---------------------------------------------------------------------------


def gen_backfill(seed: int, out: str, n: int = BACKFILL_INCIDENTS) -> None:
    """``events.parquet`` (what the program reads) and ``truth.parquet``
    (one row per distinct incident).

    - ids cross a digit boundary (99 999 → 100 000);
    - a share of incidents is replayed verbatim: same ``event_id``,
      ``ts``, ``user_id`` and ``event_type`` (the precondition of the
      fused dedup + EMSSTAT operator);
    - one hot ``user_id`` carries ``BACKFILL_HOT_SHARE`` of the rows,
      so one address is hot;
    - ``event_type == 'error'`` is the EMSSTAT share; timestamps fall on
      ``BACKFILL_DAYS`` days so (minute, address) groups often hold
      several incidents and EMSSTAT has something to propagate.
    """
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(100_000 - n // 2, 100_000 - n // 2 + n, dtype=np.int64)
    start = np.datetime64("2024-03-04T00:00:00", "us").astype(np.int64)
    minutes = rng.integers(0, BACKFILL_DAYS * 24 * 60, n)
    secs = rng.integers(0, 60, n)
    ts = start + minutes * 60_000_000 + secs * 1_000_000
    users = rng.integers(0, 5_000, n).astype(np.int64)
    hot_user = int(rng.integers(0, 5_000))
    users[rng.random(n) < BACKFILL_HOT_SHARE] = hot_user
    p = np.array([0.40, 0.22, 0.14, 1.0 - 0.76 - BACKFILL_EMS_SHARE, BACKFILL_EMS_SHARE])
    etype = rng.choice(np.array(EVENT_TYPES), n, p=p)
    replay = np.flatnonzero(rng.random(n) < BACKFILL_REPLAY_SHARE)
    order = np.concatenate([np.arange(n), replay])
    order = order[rng.permutation(len(order))]
    events = pa.table(
        {
            "event_id": pa.array(ids[order]),
            "ts": pa.array(ts[order], pa.timestamp("us")),
            "user_id": pa.array(users[order]),
            "event_type": pa.array(etype[order]),
            "value": pa.array(rng.random(len(order))),
            "props": pa.array([f"r{i % 97}" for i in range(len(order))]),
        }
    )
    _write_parquet(events, os.path.join(out, "events.parquet"))
    truth = pa.table(
        {
            "event_id": pa.array(ids),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(etype),
        }
    )
    _write_parquet(truth, os.path.join(out, "truth.parquet"))
    _write_json(
        os.path.join(out, "meta.json"),
        {
            "incidents": n,
            "rows": len(order),
            "replayed": int(len(replay)),
            "hot_user_id": hot_user,
            "ems_incidents": int((etype == "error").sum()),
        },
    )


# ---------------------------------------------------------------------------
# daily_reports: daily report PDFs
# ---------------------------------------------------------------------------

_DIRS = ["N", "S", "E", "W"]
_STREETS = [
    "MAIN ST", "LINDSEY ST", "PORTER AVE", "ROBINSON ST", "ALAMEDA ST",
    "BERRY RD", "FLOOD AVE", "BOYD ST", "GRAY ST", "JENKINS AVE",
    "CLASSEN BLVD", "ROCK CREEK RD", "TECUMSEH RD", "24TH AVE NW",
    "12TH AVE NE", "CHAUTAUQUA AVE", "HIGHLAND PKWY", "IMHOFF RD",
]
_NATURES = [
    "Traffic Stop", "Alarm", "Larceny", "Disturbance/Domestic",
    "Welfare Check", "Breathing Problems", "Sick Person", "Falls",
    "Suspicious", "Noise Complaint", "Chest Pain", "MVA Non Injury",
]
_POLICE_ORI = "OK0140200"
_FIRE_ORI = "14005"
EMSSTAT = "EMSSTAT"


def geocode_expected(address: str, table: dict[str, list[float]]):
    """The geocoder contract, written out here: exact hit, else each
    side of ``'A / B'`` in order, else no coordinates."""
    if address in table:
        return tuple(table[address])
    if " / " in address:
        for side in address.split(" / "):
            if side.strip() in table:
                return tuple(table[side.strip()])
    return (None, None)


def _daily_addresses(rng) -> tuple[list[str], dict[str, list[float]]]:
    """Street addresses, intersections and the geocoder's table."""
    lat0, lon0 = 35.2226, -97.4395
    street_addr = sorted(
        {
            f"{int(rng.integers(1, 60)) * 100} {_DIRS[int(rng.integers(0, 4))]} "
            f"{_STREETS[int(rng.integers(0, len(_STREETS)))]}"
            for _ in range(140)
        }
    )
    table: dict[str, list[float]] = {}

    def coord():
        return [
            round(lat0 + float(rng.uniform(-0.08, 0.08)), 6),
            round(lon0 + float(rng.uniform(-0.10, 0.10)), 6),
        ]

    for a in street_addr:
        if rng.random() < 0.85:  # the rest cannot be geocoded
            table[a] = coord()
    for s in _STREETS[:12]:  # bare street names resolve (intersection fallback)
        table[s] = coord()
    inters = []
    for i in range(24):
        a, b = rng.choice(len(_STREETS), 2, replace=False)
        x, y = _STREETS[int(a)], _STREETS[int(b)]
        if i % 6 == 0:  # neither side geocodable
            x, y = f"{x} EXT", f"{y} EXT"
        inters.append(f"{x} / {y}")
    addresses = street_addr + sorted(set(inters))
    return addresses, table


def _report_pages(rows: list[dict], rows_per_page: int = 25) -> list[list[list[str]]]:
    header = [
        "NORMAN POLICE DEPARTMENT",
        "Daily Incident Summary (Public)",
        "Date / Time Incident Number Location Nature Incident ORI",
    ]
    blocks = []
    for r in rows:
        loc = r["location"]
        if r["wrap"]:
            spaces = [i for i, ch in enumerate(loc) if ch == " "]
            cut = min(spaces, key=lambda i: abs(i - len(loc) // 2)) + 1
            loc_lines = [loc[:cut], loc[cut:]]
        else:
            loc_lines = [loc]
        blocks.append(
            [r["datetime_str"], r["incident_num"], *loc_lines, r["nature"], r["incident_ori"]]
        )
    chunks = [blocks[i : i + rows_per_page] for i in range(0, len(blocks), rows_per_page)]
    chunks = chunks or [[]]
    pages = []
    for i, chunk in enumerate(chunks):
        page = list(chunk)
        if i == 0:
            page = [header] + page + [["Page 1"], ["Run Date: report generated"]]
        elif i == len(chunks) - 1:
            page = page + [["End of report"]]
        pages.append(page)
    return pages


def gen_daily(
    seed: int,
    out: str,
    days: int = DAILY_DAYS,
    per_day: int = DAILY_ROWS,
    history: int = DAILY_HISTORY,
) -> None:
    """Report PDFs for ``days`` days (``pdfs/dayNN/*.pdf``), plus:

    - ``rows.parquet``: every row written into every PDF, in order;
    - ``geocoder.json``: the geocoder's address table;
    - ``cache0.parquet``: a partly filled starting geocode cache;
    - ``weather_hourly.parquet``: hourly codes with some hours missing;
    - ``days.json``: which files each day publishes, and whether the day
      is history (the first ``history`` days, staged into gold before a
      round) or a day of the round.

    Planted: re-published reports (a copy of an earlier day's PDF under
    a new name), ``A / B`` intersections (fallback to a side), addresses
    that cannot be geocoded, multi-line locations, and EMSSTAT rows
    with a companion incident at the same minute and address.
    """
    rng = np.random.default_rng([seed, 2])
    addresses, table = _daily_addresses(rng)
    hot = addresses[int(rng.integers(0, len(addresses)))]
    month0 = dt.date(2024, 3, 1)
    rows: list[dict] = []
    days_meta = []
    seq = 0
    os.makedirs(os.path.join(out, "pdfs"))
    for d in range(days):
        day = month0 + dt.timedelta(days=d)
        day_rows = []
        for _ in range(per_day):
            seq += 1
            loc = hot if rng.random() < 0.15 else addresses[int(rng.integers(0, len(addresses)))]
            minute = int(rng.integers(0, 24 * 60))
            ori = EMSSTAT if rng.random() < 0.12 else (_POLICE_ORI if rng.random() < 0.8 else _FIRE_ORI)
            base = {
                "datetime_str": f"{day.month}/{day.day}/{day.year} {minute // 60}:{minute % 60:02d}",
                "incident_num": f"2024-{seq:08d}",
                "location": loc,
                "nature": _NATURES[int(rng.integers(0, len(_NATURES)))],
                "incident_ori": ori,
                "wrap": len(loc) > 24,
            }
            day_rows.append(base)
            if ori == EMSSTAT and rng.random() < 0.5:
                seq += 1
                day_rows.append(
                    dict(base, incident_num=f"2024-{seq:08d}", incident_ori=_POLICE_ORI,
                         nature=_NATURES[int(rng.integers(0, len(_NATURES)))])
                )
        ddir = os.path.join(out, "pdfs", f"day{d:02d}")
        os.makedirs(ddir)
        name = f"{day.isoformat()}_daily_incident_summary.pdf"
        with open(os.path.join(ddir, name), "wb") as fh:
            fh.write(write_pdf(_report_pages(day_rows)))
        files = [{"name": name, "report_day": d}]
        for i, r in enumerate(day_rows):
            rows.append(dict(r, day=d, report_day=d, file=name, pos=i))
        if d == days - 1 and d >= 2:  # the last day re-publishes day d-2's report
            src_day = d - 2
            src = month0 + dt.timedelta(days=src_day)
            src_name = f"{src.isoformat()}_daily_incident_summary.pdf"
            rep_name = f"{src.isoformat()}_daily_incident_summary_republished_{day.isoformat()}.pdf"
            shutil.copyfile(
                os.path.join(out, "pdfs", f"day{src_day:02d}", src_name),
                os.path.join(ddir, rep_name),
            )
            files.append({"name": rep_name, "report_day": src_day})
            for r in [r for r in rows if r["file"] == src_name]:
                rows.append(dict(r, day=d, file=rep_name))
        days_meta.append({"day": d, "date": day.isoformat(), "files": files, "history": d < history})
    _write_parquet(pa.Table.from_pylist(rows), os.path.join(out, "rows.parquet"))
    _write_json(os.path.join(out, "geocoder.json"), table)
    _write_json(os.path.join(out, "days.json"), days_meta)
    seen = sorted({r["location"] for r in rows})
    cached = [a for a in seen if rng.random() < 0.4]
    coords = [geocode_expected(a, table) for a in cached]
    _write_parquet(
        pa.table(
            {
                "loc": pa.array(cached, pa.string()),
                "latitude": pa.array([c[0] for c in coords], pa.float64()),
                "longitude": pa.array([c[1] for c in coords], pa.float64()),
                "weather": pa.array([None] * len(cached), pa.int32()),
            }
        ),
        os.path.join(out, "cache0.parquet"),
    )
    points = sorted({tuple(v) for v in table.values()})
    lat, lon, date, hour, code = [], [], [], [], []
    for la, lo in points:
        for d in range(days):
            for h in range(24):
                if rng.random() < 0.07:  # a missing hour: NULL weather
                    continue
                lat.append(la)
                lon.append(lo)
                date.append(month0 + dt.timedelta(days=d))
                hour.append(h)
                code.append(int(rng.choice([0, 1, 2, 3, 45, 51, 61, 63, 71, 80, 95])))
    _write_parquet(
        pa.table(
            {
                "latitude": pa.array(lat, pa.float64()),
                "longitude": pa.array(lon, pa.float64()),
                "date": pa.array(date, pa.date32()),
                "hour": pa.array(hour, pa.int32()),
                "weather_code": pa.array(code, pa.int32()),
            }
        ),
        os.path.join(out, "weather_hourly.parquet"),
    )


# ---------------------------------------------------------------------------
# corpus_stream: a standing corpus and arriving document batches
# ---------------------------------------------------------------------------


def normalize_tokens(text: str) -> list[str]:
    """Lowercase, non-alphanumerics to spaces, split — the tokenization
    the corpus operators document, written out here."""
    out, word = [], []
    for ch in text.lower():
        if ("a" <= ch <= "z") or ("0" <= ch <= "9"):
            word.append(ch)
        elif word:
            out.append("".join(word))
            word = []
    if word:
        out.append("".join(word))
    return out


def shingles(tokens: list[str], n: int = 3) -> set[tuple[str, ...]]:
    if len(tokens) < n:
        return {tuple(tokens)}
    return {tuple(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


def gen_corpus(seed: int, out: str) -> None:
    """``documents.parquet`` (standing + arriving, the batch twin's
    input), ``standing.parquet``, ``arriving/batchN.parquet`` and
    ``truth.json`` with the planted duplicates and evaluation grams.

    Arriving ids start at ``CORPUS_STANDING`` and rise batch by batch.
    Planted among the arriving documents: exact copies of standing or
    earlier arriving documents (case and punctuation jitter only),
    near-duplicates (one token appended: shingle Jaccard >= 0.9, checked
    here), and documents carrying one 8-gram of an evaluation document.
    Everything else is drawn from a large vocabulary and shares no
    3-word shingle run of note with any other document.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = [f"{a}{b}{c}" for a in "bcdfghklmnprstvz" for b in "aeiou" for c in "bdgklmnprstxz"]
    n_total = CORPUS_STANDING + CORPUS_BATCHES * CORPUS_BATCH_DOCS

    def fresh() -> str:
        k = int(rng.integers(50, 110))
        return " ".join(vocab[int(i)] for i in rng.integers(0, len(vocab), k))

    texts: dict[int, str] = {i: fresh() for i in range(CORPUS_STANDING)}
    planted = {"exact": {}, "near": {}, "eval_gram": {}}
    for i in range(CORPUS_STANDING, n_total):
        r = rng.random()
        earlier = int(rng.integers(0, i))
        if r < 0.10 and earlier % CORPUS_EVAL_MOD:
            src = texts[earlier]
            texts[i] = src.upper() if rng.random() < 0.5 else src.replace(" ", ", ", 3)
            planted["exact"][i] = earlier
        elif r < 0.22 and earlier % CORPUS_EVAL_MOD:
            texts[i] = texts[earlier] + " " + vocab[int(rng.integers(0, len(vocab)))] + "q"
            planted["near"][i] = earlier
        elif r < 0.34:
            ev = int(rng.integers(0, CORPUS_STANDING // CORPUS_EVAL_MOD)) * CORPUS_EVAL_MOD
            toks = texts[ev].split(" ")
            at = int(rng.integers(0, len(toks) - 8))
            base = fresh().split(" ")
            pos = int(rng.integers(0, len(base)))
            texts[i] = " ".join(base[:pos] + toks[at : at + 8] + base[pos:])
            planted["eval_gram"][i] = ev
        else:
            texts[i] = fresh()
    for i, src in planted["near"].items():
        a, b = shingles(normalize_tokens(texts[i])), shingles(normalize_tokens(texts[src]))
        if len(a & b) / len(a | b) < 0.9:
            raise AssertionError(f"planted near-duplicate {i} below Jaccard 0.9")
    ids = np.arange(n_total, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array([texts[int(i)] for i in ids]),
            "lang": pa.array(["en"] * n_total),
            "source": pa.array([f"src{int(i) % 3}" for i in ids]),
            "n_chars": pa.array([len(texts[int(i)]) for i in ids], pa.int64()),
        }
    )
    _write_parquet(table, os.path.join(out, "documents.parquet"))
    _write_parquet(table.slice(0, CORPUS_STANDING), os.path.join(out, "standing.parquet"))
    os.makedirs(os.path.join(out, "arriving"))
    for b in range(CORPUS_BATCHES):
        lo = CORPUS_STANDING + b * CORPUS_BATCH_DOCS
        _write_parquet(
            table.slice(lo, CORPUS_BATCH_DOCS),
            os.path.join(out, "arriving", f"batch{b}.parquet"),
        )
    _write_json(
        os.path.join(out, "truth.json"),
        {k: {str(i): s for i, s in v.items()} for k, v in planted.items()},
    )


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)


GENERATORS = {
    "backfill": gen_backfill,
    "daily_reports": gen_daily,
    "corpus_stream": gen_corpus,
    "corpus_ingest": gen_corpus,  # the other fold over the same corpus
}
