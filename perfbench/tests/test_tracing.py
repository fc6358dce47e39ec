"""The event-log fold on a log from a tiny local session, and the span
arithmetic that turns spans into per-layer self times."""

import json
import os
import time

import pytest
import tracing


@pytest.fixture(scope="module")
def folded(tmp_path_factory):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    events = tmp_path_factory.mktemp("events")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("fold-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup("shuffle", "groupBy")
        spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
        sc.setJobGroup("python", "udf")
        def slow_plus_one(x):
            time.sleep(0.005)
            return x + 1

        spark.range(200).select(F.udf(slow_plus_one, "long")("id")).collect()
        sc.setJobGroup("failing", "raise in a task")
        boom = F.udf(lambda x: 1 // 0, "long")
        with pytest.raises(Exception):
            spark.range(10).select(boom("id")).collect()
    finally:
        spark.stop()
    (log,) = os.listdir(events)
    with open(events / log) as f:
        return tracing.fold_event_log(f)


def test_jobs_fold_under_their_group(folded):
    shuffle = folded["shuffle"]
    assert len(shuffle["jobs"]) >= 1
    assert all(ok for _, _, _, ok in shuffle["jobs"])
    assert all(start <= end for _, start, end, _ in shuffle["jobs"])
    assert shuffle["stages"] >= 2 and shuffle["tasks"] >= 3
    assert shuffle["shuffle_write_mb"] > 0 and shuffle["shuffle_read_mb"] > 0
    assert shuffle["executor_run_s"] >= 0 and shuffle["failed_tasks"] == 0


def test_python_accumulables_fold(folded):
    py = folded["python"]
    assert py["python.sent_mb"] > 0 and py["python.received_mb"] > 0
    # 200 rows that sleep 5 ms each: at least one second inside the workers
    assert 1.0 <= py["python.worker_s"] < 60


def test_failed_tasks_and_jobs_are_counted(folded):
    failing = folded["failing"]
    assert failing["failed_tasks"] >= 1
    assert any(ok is False for _, _, _, ok in failing["jobs"])


def test_fold_of_synthetic_lines_counts_failures_and_units():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Failed": True},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 2e9,
                          "JVM GC Time": 250,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Accumulables": [
                {"Name": "time to run Python workers", "Value": "3000"},
                {"Name": "data sent to Python workers", "Value": "2097152"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000,
         "Job Result": {"Result": "JobFailed"}},
    ]
    g = tracing.fold_event_log(json.dumps(x) for x in lines)["g"]
    assert g["jobs"] == [(0, 1000, 4000, False)]
    assert g["failed_tasks"] == 1 and g["tasks"] == 1 and g["stages"] == 1
    assert g["executor_run_s"] == 1.5 and g["executor_cpu_s"] == 2.0 and g["gc_s"] == 0.25
    assert g["shuffle_write_mb"] == 1.0
    assert g["python.worker_s"] == 3.0 and g["python.sent_mb"] == 2.0


def _span(i, layer, start, end, parent=None, name="x"):
    return {"id": i, "name": name, "layer": layer, "start": start, "end": end,
            "parent": parent, "op": "p0:q"}


def test_self_time_subtracts_child_spans():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "build", 0.0, 6.0, 0),
        _span(2, "operators.dedup", 1.0, 5.0, 1),
        _span(3, "operators.text", 2.0, 3.0, 2),
        _span(4, "action", 6.0, 9.0, 0),
    ]
    selfs = tracing.self_times(spans)
    assert selfs == {0: 1.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0}


def test_layer_metrics_split_build_action_and_gap():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "build", 0.0, 6.0, 0),
        _span(2, "operators.dedup", 1.0, 5.0, 1),
        _span(3, "action", 6.0, 9.0, 0),
    ]
    g = tracing._group_counters()
    g["jobs"] = [(0, 2000, 4000, True), (1, 6500, 8500, True)]
    g["executor_run_s"] = 4.0
    out = tracing.layer_metrics(spans, {"p0:q": g}, {}, cores=2)
    assert out["plans.build_s"] == 6.0 and out["plans.action_s"] == 3.0
    assert out["operators.dedup_s"] == 4.0 and out["operators.dedup_jobs"] == 1
    assert out["plans.build_jobs"] == 1 and out["exec.jobs"] == 2
    assert out["plans.driver_gap_s"] == 6.0
    assert out["exec.slot_idle_ratio"] == pytest.approx(1 - 4.0 / (4.0 * 2))
