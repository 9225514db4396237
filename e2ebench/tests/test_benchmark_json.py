"""``BENCHMARK.json`` names what ``run.py`` prints, within the file's limits."""

import json
import os
import re

import run

BENCH = os.path.join(run.ROOT, "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(BENCH) as fh:
        return json.load(fh)


def test_metrics_match_what_run_prints():
    b = _bench()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in b["workloads"]} <= set(run.WARMUP)


def test_file_limits():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert os.path.getsize(BENCH) <= 64 * 1024
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    assert 2 <= len(b["workloads"]) <= 8 and 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in b[k]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
