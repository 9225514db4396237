#!/usr/bin/env python3
"""End-to-end benchmark of the crime-enrichment pipeline.

    python3 e2ebench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (once per seed, reused
afterwards), starts one Spark session at ``local[<cores>]``, stages the
inputs, runs warm-up passes, then runs whole rounds of timed passes for
at least ``--seconds`` seconds, checks the outputs against the
generator's truth, and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run also makes one traced pass (one traced round on
``daily_reports``) with Spark's event log on and prints the per-layer
metrics instead. Lines before the last one record the host's steal
time, load average and the per-pass CPU curve of the warm-up, and the
result of every check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# warm-up passes before timing starts (daily_reports: days of one round)
WARMUP = {"backfill": 2, "daily_reports": 2, "corpus_stream": 2, "corpus_ingest": 2}
# timed passes a run makes at the least, whatever --seconds says
MIN_TIMED = {"backfill": 3, "daily_reports": 3, "corpus_stream": 4, "corpus_ingest": 2}

ENRICH_LAYERS = [
    "sources.load",
    "operators.silver",
    "operators.dedup_emsstat",
    "operators.ranks",
    "enrich.geocode",
    "enrich.sides",
    "enrich.weather",
    "sinks.gold",
]


def _per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    spec = [
        ("session.start_s", "s", "lower"),
    ]
    for layer in ENRICH_LAYERS:
        spec += [
            (f"{layer}.wall_s", "s", "lower"),
            (f"{layer}.exec_cpu_s", "s", "lower"),
            (f"{layer}.jobs", "count", "lower"),
            (f"{layer}.shuffle_bytes", "B", "lower"),
            (f"{layer}.rows", "count", "higher"),
        ]
    spec += [
        ("operators.dedup_emsstat.spill_bytes", "B", "lower"),
        ("sources.pdf_decode.wall_s", "s", "lower"),
        ("sources.pdf_decode.python_cpu_s", "s", "lower"),
        ("sources.pdf_decode.ms_per_pdf", "ms", "lower"),
        ("sources.pdf_decode.rows", "count", "higher"),
        ("operators.append.wall_s", "s", "lower"),
        ("operators.append.jobs", "count", "lower"),
        ("operators.append.existing_rows", "count", "higher"),
        ("operators.append.rows", "count", "higher"),
        ("enrich.geocode_cache.wall_s", "s", "lower"),
        ("enrich.geocode_cache.misses", "count", "lower"),
        ("enrich.geocode_cache.probes", "count", "higher"),
        ("enrich.geocode_cache.cache_hit_ratio", "ratio", "higher"),
        ("sinks.gold_write.wall_s", "s", "lower"),
        ("sinks.gold_write.bytes", "B", "lower"),
        ("sinks.gold_write.files", "count", "lower"),
        ("streaming.seed.wall_s", "s", "lower"),
        ("streaming.seed.jobs", "count", "lower"),
        ("streaming.batch.add_batch_ms", "ms", "lower"),
        ("streaming.batch.planning_ms", "ms", "lower"),
        ("streaming.batch.commit_ms", "ms", "lower"),
        ("streaming.batch.jobs", "count", "lower"),
        ("streaming.batch.exec_cpu_s", "s", "lower"),
        ("streaming.batch.rows", "count", "higher"),
        ("streaming.state.bytes", "B", "lower"),
        ("streaming.state.files", "count", "lower"),
        ("streaming.final_read.wall_s", "s", "lower"),
        ("streaming.batches", "count", "lower"),
        ("total.jobs", "count", "lower"),
        ("total.stages", "count", "lower"),
        ("total.tasks", "count", "lower"),
        ("total.shuffle_bytes", "B", "lower"),
        ("total.exec_cpu_s", "s", "lower"),
        ("trace.tree_cpu_s", "s", "lower"),
        ("trace.python_cpu_s", "s", "lower"),
        ("trace.total_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return spec


PER_LAYER = _per_layer_spec()

END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("cpu_s", "s"),
    ("peak_pss_mb", "MB"),
    ("stored_bytes_per_row", "B/row"),
]


def process_start_epoch() -> float:
    """When this process started, from ``/proc`` (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> dict[str, str]:
    """Point every scratch path of Spark and Python into ``run_dir`` and
    put the repository on the Python workers' path."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # A departure from the program's configuration (8 GiB ceiling, G1
    # sizing the heap as it goes): a fixed 1 GiB heap, set through the
    # program's own knob plus -Xms. With adaptive sizing the same code
    # read 2.9-4.3 GB of peak memory from run to run (README.md).
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    return {
        # the JVM's temporary files in the run directory, and no
        # hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def timed(fn, cpu) -> tuple[float, float]:
    c0, t0 = cpu(), time.perf_counter()
    fn()
    return time.perf_counter() - t0, cpu() - c0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # fails here, before any work, where the program is absent
    import enriched_crime_incident_data_pipeline_spark  # noqa: F401

    import gen
    import procstat

    t_proc = process_start_epoch()
    host = {"steal_start": procstat.host_steal_s(), "loadavg_start": procstat.load_avg()}
    t_gen = time.time()
    inputs = gen.ensure_inputs(os.path.join(WORK, "inputs"), args.workload, args.seed)
    host["generate_s"] = time.time() - t_gen
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = measure(args, inputs, run_dir, t_proc + host["generate_s"], host)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host["steal_s"] = procstat.host_steal_s() - host.pop("steal_start")
    host["loadavg_end"] = procstat.load_avg()
    for name, ok, detail in result["checks"]:
        log(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    print(json.dumps({"host": host}))
    if args.trace:
        metrics = {n: {"value": result["layers"][n], "unit": u} for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": result[n], "unit": u} for n, u in END_TO_END}
    print(
        json.dumps(
            {
                "correct": all(ok for _, ok, _ in result["checks"]),
                "attempted": result["attempted"],
                "failed": 0,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


def measure(args, inputs: str, run_dir: str, t_origin: float, host: dict) -> dict:
    """Set up, warm up, time whole rounds, trace (``--trace 1``) and
    check. ``t_origin`` is process start plus any input generation."""
    import checks
    import procstat

    extra = prepare_env(run_dir)
    if args.trace:
        from tracing import event_log_conf

        extra.update(event_log_conf(os.path.join(run_dir, "eventlog")))
    from enriched_crime_incident_data_pipeline_spark import get_spark
    from workloads import WORKLOADS

    spark = None
    sampler = None
    try:
        t0 = time.time()
        spark = get_spark(extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t0
        sampler = procstat.MemorySampler()
        wl = WORKLOADS[args.workload](spark, inputs, os.path.join(run_dir, "w"))
        os.makedirs(wl.work)
        wl.stage()
        warm = []
        for _ in range(WARMUP[args.workload]):
            wl.before_pass()
            warm.append(timed(wl.run_pass, procstat.tree_cpu_s))
        wl.fresh_round()  # timing starts on a fresh round
        setup_s = time.time() - t_origin
        walls, cpus = [], []
        steal0, t_start = procstat.host_steal_s(), time.time()
        while True:
            for _ in range(wl.round_len):
                wl.before_pass()
                w, c = timed(wl.run_pass, procstat.tree_cpu_s)
                walls.append(w)
                cpus.append(c)
            if time.time() - t_start >= args.seconds and len(walls) >= MIN_TIMED[args.workload]:
                break
        host.update(
            session_s=session_s,
            window_s=time.time() - t_start,
            steal_window_s=procstat.host_steal_s() - steal0,
            warmup_pass_s=[round(w, 3) for w, _ in warm],
            warmup_cpu_s=[round(c, 3) for _, c in warm],
            timed_pass_s=[round(w, 3) for w in walls],
            timed_cpu_s=[round(c, 3) for c in cpus],
        )
        result = {
            "setup_s": setup_s,
            "pass_s": statistics.median(walls),
            "cpu_s": statistics.median(cpus),
            "attempted": len(walls),
        }
        # the outputs of the last timed round, before any traced pass;
        # the corpus folds' batch twins are checked on traced runs only
        result["checks"] = checks.gather_and_check(wl, twins=bool(args.trace))
        result["stored_bytes_per_row"] = wl.stored_bytes_per_row()
        result["peak_pss_mb"] = sampler.close()
        sampler = None
        if args.trace:
            traced = run_traced(spark, wl, result["pass_s"])
            result["attempted"] += traced["n"]
            spark.stop()  # closes the event log
            spark = None
            result["layers"], trace_checks = finish_trace(run_dir, traced, session_s)
            result["checks"] += trace_checks
        return result
    finally:
        if sampler is not None:
            sampler.close()
        if spark is not None:
            spark.stop()


def run_traced(spark, wl, pass_s: float) -> dict:
    """One traced pass (a traced round on ``daily_reports``). Returns
    what ``finish_trace`` needs once the event log is closed."""
    import procstat
    from tracing import Tracer, progress_collector

    collector = None
    if wl.name.startswith("corpus"):
        collector = progress_collector()
        spark.streams.addListener(collector)
    tracer = Tracer(spark)
    n = 1
    if wl.name == "daily_reports":
        n = wl.round_len
    wl.fresh_round()
    c0, t0 = procstat.tree_cpu_s(), time.time()
    for _ in range(n):
        wl.before_pass()
        wl.traced_pass(tracer)
    t1, c1 = time.time(), procstat.tree_cpu_s()
    if collector is not None:
        collector.settle()
        spark.streams.removeListener(collector)
    return {
        "tracer": tracer,
        "collector": collector,
        "window": (t0, t1),
        "tree_cpu_s": c1 - c0,
        "n": n,
        "pass_s": pass_s,
        "workload": wl,
    }


def finish_trace(run_dir: str, st: dict, session_s: float):
    """Fold the closed event log and the streaming progress into the
    per-layer metrics; returns them with the trace's own checks."""
    from checks import check_trace, daily_round_gold_rows
    from tracing import BATCH_GROUP, ROWS_GROUP, find_event_log, fold_event_log, layer_stats, write_jobs_s
    from workloads import dir_bytes_files

    ev = fold_event_log(find_event_log(os.path.join(run_dir, "eventlog")))
    t0, t1 = st["window"]
    ev.jobs = {k: j for k, j in ev.jobs.items() if t0 * 1000 <= j.submit_ms <= t1 * 1000}
    ev.stages = {k: s for k, s in ev.stages.items() if s.submit_ms is None or t0 * 1000 <= s.submit_ms <= t1 * 1000}
    stats = layer_stats(ev)
    n = st["n"]
    tracer, wl, collector = st["tracer"], st["workload"], st["collector"]
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m["session.start_s"] = session_s

    def g(group: str, key: str) -> float:
        return stats.get(group, {}).get(key, 0) / n

    for layer in ENRICH_LAYERS:
        if not any(s.name == layer for s in tracer.spans):
            continue
        m[f"{layer}.wall_s"] = tracer.layer_wall(layer) / n
        for key in ("exec_cpu_s", "jobs", "shuffle_bytes"):
            m[f"{layer}.{key}"] = g(layer, key)
        m[f"{layer}.rows"] = tracer.layer_rows(layer) / n
    m["sinks.gold.rows"] = m["enrich.weather.rows"]  # the sink writes what it is given
    m["operators.dedup_emsstat.spill_bytes"] = g("operators.dedup_emsstat", "spill_bytes")
    if wl.name == "daily_reports":
        dec = [s for s in tracer.spans if s.name == "sources.pdf_decode"]
        m["sources.pdf_decode.wall_s"] = tracer.layer_wall("sources.pdf_decode") / n
        m["sources.pdf_decode.python_cpu_s"] = sum(s.python_cpu_s for s in dec) / n
        m["sources.pdf_decode.ms_per_pdf"] = statistics.mean(wl.ms_per_pdf)
        m["sources.pdf_decode.rows"] = tracer.layer_rows("sources.pdf_decode") / n
        # the program's upsert runs as micro-batches of its own stream
        m["operators.append.wall_s"] = tracer.layer_wall("operators.append") / n
        m["operators.append.jobs"] = g(BATCH_GROUP, "jobs")
        m["operators.append.existing_rows"] = sum(wl.existing_rows) / n
        m["operators.append.rows"] = tracer.layer_rows("operators.append") / n
        misses = tracer.layer_rows("enrich.geocode_cache")
        probes = sum(wl.cache_probes)
        m["enrich.geocode_cache.wall_s"] = tracer.layer_wall("enrich.geocode_cache") / n
        m["enrich.geocode_cache.misses"] = misses / n
        m["enrich.geocode_cache.probes"] = probes / n
        m["enrich.geocode_cache.cache_hit_ratio"] = 1 - misses / probes
        m["sinks.gold_write.wall_s"] = write_jobs_s(ev, BATCH_GROUP) / n
        m["sinks.gold_write.bytes"], m["sinks.gold_write.files"] = dir_bytes_files(wl.gold)
    if collector is not None:
        fold = next(s for s in tracer.spans if s.name == wl.layer)
        started = sorted(t for t in collector.started.values() if fold.start <= t <= fold.end)
        # the refresh fold seeds its state before the stream starts; jobs
        # outside a micro-batch are the seed's
        m["streaming.seed.wall_s"] = (started[0] if started else fold.end) - fold.start
        m["streaming.seed.jobs"] = g(wl.layer, "jobs")
        prog = collector.progress
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in prog)  # noqa: E731
        m["streaming.batch.add_batch_ms"] = dur("addBatch")
        m["streaming.batch.planning_ms"] = dur("queryPlanning")
        m["streaming.batch.commit_ms"] = dur("walCommit") + dur("commitOffsets")
        m["streaming.batch.jobs"] = g(BATCH_GROUP, "jobs")
        m["streaming.batch.exec_cpu_s"] = g(BATCH_GROUP, "exec_cpu_s")
        m["streaming.batch.rows"] = sum(p["numInputRows"] for p in prog)
        m["streaming.state.bytes"], m["streaming.state.files"] = dir_bytes_files(wl.state_dir)
        m["streaming.final_read.wall_s"] = tracer.layer_wall("streaming.final_read")
        m["streaming.batches"] = len(prog)
    for key in ("jobs", "stages", "tasks", "shuffle_bytes", "exec_cpu_s"):
        m[f"total.{key}"] = sum(v[key] for k, v in stats.items() if k != ROWS_GROUP) / n
    m["trace.tree_cpu_s"] = st["tree_cpu_s"] / n
    m["trace.python_cpu_s"] = sum(s.python_cpu_s for s in tracer.spans) / n
    m["trace.total_s"] = (t1 - t0) / n
    m["trace.overhead_s"] = m["trace.total_s"] - st["pass_s"]
    expected_rows = None
    if wl.name == "backfill":
        expected_rows = wl.meta["incidents"]
    elif wl.name == "daily_reports":
        expected_rows = daily_round_gold_rows(wl.inputs)
    checks = check_trace(
        m["total.exec_cpu_s"] * n,
        st["tree_cpu_s"],
        tracer.layer_rows("operators.dedup_emsstat") if expected_rows is not None else None,
        expected_rows,
    )
    return m, checks


if __name__ == "__main__":
    sys.exit(main())
