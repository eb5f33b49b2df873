import pyarrow as pa

from perfbench import eventlog


def _tag(spark, label, phase):
    spark.sparkContext.setJobGroup(f"{label}|q|{phase}", phase)


def test_tiny_traced_run_splits_stage_metrics_by_phase(traced_spark):
    spark, log_dir = traced_spark
    _tag(spark, "warm", "execute")
    spark.range(1000).count()  # another pass: must be ignored
    _tag(spark, "traced", "construct")
    spark.range(5000).selectExpr("id % 7 AS k").distinct().collect()  # shuffle
    _tag(spark, "traced", "execute")
    spark.range(100, numPartitions=3).collect()  # 3 tasks, no shuffle
    spark.stop()

    m = eventlog.phase_metrics(eventlog.read_events(log_dir), "traced")
    con, exe = m["construct"], m["execute"]
    assert con["jobs"] >= 1 and exe["jobs"] == 1
    assert exe["stages.count"] == 1 and exe["tasks.count"] == 3
    assert con["shuffle.write_bytes"] > 0 and con["shuffle.read_bytes"] > 0
    assert exe["shuffle.write_bytes"] == 0
    assert con["tasks.failed"] == 0 and exe["tasks.failed"] == 0
    for phase in (con, exe):
        assert phase["executor.run_s"] >= 0 and phase["job_busy_s"] > 0
        assert phase["tasks.skew"] >= 1.0


def test_decodes_zstd_file_and_falls_back_to_time(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1400},
         "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 2e8,
                          "Input Metrics": {"Bytes Read": 10, "Records Read": 2}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1200},
         "Task Metrics": {"Executor Run Time": 200}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    ]
    raw = "\n".join(__import__("json").dumps(e) for e in events).encode()
    with pa.CompressedOutputStream(str(tmp_path / "app-1.zstd"), "zstd") as out:
        out.write(raw)
    m = eventlog.phase_metrics(
        eventlog.read_events(str(tmp_path)), "traced", lambda ms: "execute" if ms < 2000 else None
    )["execute"]
    assert m["jobs"] == 1 and m["stages.count"] == 1 and m["tasks.count"] == 2
    assert abs(m["executor.run_s"] - 0.5) < 1e-9 and abs(m["executor.cpu_s"] - 0.2) < 1e-9
    assert abs(m["tasks.sched_delay_s"] - 0.1) < 1e-9
    assert abs(m["tasks.skew"] - 0.4 / 0.3) < 1e-9
    assert m["scan.input_bytes"] == 10 and m["scan.input_records"] == 2
    assert abs(m["job_busy_s"] - 0.5) < 1e-9
