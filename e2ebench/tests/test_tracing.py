"""The event-log fold, against a small log written here."""

import json
import os

import tracing


def _write_log(path):
    def job(jid, ts, props, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": ts,
                "Stage IDs": stages, "Properties": props}

    def stage(sid, ts, props):
        return {"Event": "SparkListenerStageSubmitted", "Properties": props,
                "Stage Info": {"Stage ID": sid, "Submission Time": ts}}

    def task(sid, cpu_ns, shuffle, spill):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": 5,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    def sql(eid, plan):
        return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "executionId": eid, "physicalPlanDescription": "== Physical Plan ==\n" + plan + "\n+- Range (1)"}

    layer = {"spark.jobGroup.id": "operators.ranks"}
    batch = {"spark.jobGroup.id": "a-stream-run-id", "streaming.sql.batchId": "0", "spark.sql.execution.id": "4"}
    batch_write = dict(batch, **{"spark.sql.execution.id": "5"})
    events = [
        {"Event": "SparkListenerApplicationStart"},
        job(0, 1000, layer, [0, 1]),
        stage(0, 1000, layer),
        task(0, 2_000_000_000, 100, 0),
        task(0, 1_000_000_000, 50, 7),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        stage(1, 1100, layer),
        task(1, 500_000_000, 0, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1200},
        job(1, 2000, batch, [2]),
        stage(2, 2000, batch),
        task(2, 250_000_000, 10, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2400},
        sql(4, "AdaptiveSparkPlan (5)"),
        sql(5, "AdaptiveSparkPlan (4)\n+- Execute InsertIntoHadoopFsRelationCommand (3)"),
        job(3, 2500, batch_write, [4]),
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 2750},
        job(2, 3000, {}, [3]),
    ]
    with open(path, "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")


def test_fold_attributes_jobs_stages_and_tasks_to_layers(tmp_path):
    path = tmp_path / "local-1"
    _write_log(path)
    assert tracing.find_event_log(str(tmp_path)) == str(path)
    log = tracing.fold_event_log(str(path))
    stats = tracing.layer_stats(log)
    assert stats["operators.ranks"] == {
        "jobs": 1, "stages": 2, "tasks": 3, "exec_cpu_s": 3.5, "shuffle_bytes": 150, "spill_bytes": 7,
    }
    # micro-batch jobs run under the stream's own group; the batch id files them
    assert stats[tracing.BATCH_GROUP]["jobs"] == 2
    assert stats[tracing.BATCH_GROUP]["exec_cpu_s"] == 0.25
    assert stats["untraced"]["jobs"] == 1
    # of the micro-batch's two jobs, only the file write counts as the write
    assert log.writes == {5}
    assert tracing.write_jobs_s(log, tracing.BATCH_GROUP) == 0.25


def test_event_log_conf_is_uncompressed_and_single_file(tmp_path):
    conf = tracing.event_log_conf(str(tmp_path / "ev"))
    assert conf["spark.eventLog.compress"] == "false"
    assert conf["spark.eventLog.rolling.enabled"] == "false"
    assert os.path.isdir(tmp_path / "ev")
