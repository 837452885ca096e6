import json

import pytest

from perfbench import spans

PHASES = [("parse", 1030, 1300), ("dicts", 1300, 1500), ("route", 1500, 1900), ("metrics", 1550, 1920)]

# (stage id, name, submit, end, job call site, SQL execution id, task run ms)
STAGES = [
    (0, "parquet at NativeMethodAccessorImpl.java:0", 1050, 1250, "", "1", [150, 150]),
    (1, "toPandas at /co/clp_spark/dicts/build.py:232", 1320, 1400, "toPandas at /co/clp_spark/dicts/build.py:232", "2", [50]),
    (2, "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", 1330, 1380, "", "2", [40]),
    (3, "toPandas at /py/concurrent/futures/thread.py:58", 1600, 1800, "", "3", [100, 100, 100, 300]),
    (4, "toPandas at /co/clp_spark/pipeline.py:552", 1700, 1850, "toPandas at /co/clp_spark/pipeline.py:552", "4", [90]),
    (5, "parquet at NativeMethodAccessorImpl.java:0", 1910, 1915, "", "5", [5]),
    (6, "count at NativeMethodAccessorImpl.java:0", 1005, 1020, "", "6", [10]),
    (7, "collect at /co/clp_spark/search/executor.py:180", 2600, 2700, "collect at /co/clp_spark/search/executor.py:180", "7", [60]),
    (8, "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", 2800, 2900, "", "8", [70]),
    (9, "parquet at NativeMethodAccessorImpl.java:0", 4000, 4100, "", "9", [70]),
]


def _write_log(path):
    lines = []
    for sid, name, sub, end, site, exec_id, runs in STAGES:
        props = {"spark.sql.execution.id": exec_id}
        if site:
            props["callSite.short"] = site
        lines.append({"Event": "SparkListenerJobStart", "Job ID": sid, "Submission Time": sub,
                      "Stage IDs": [sid], "Properties": props})
        for i, r in enumerate(runs):
            lines.append({
                "Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
                "Task End Reason": {"Reason": "ExceptionFailure" if (sid, i) == (0, 1) else "Success"},
                "Task Info": {"Launch Time": sub, "Finish Time": sub + r},
                "Task Metrics": {
                    "Executor Run Time": r, "JVM GC Time": 2,
                    "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7 if sid == 3 else 0,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000 if sid == 3 else 0},
                    "Input Metrics": {"Bytes Read": 500}, "Output Metrics": {"Bytes Written": 20},
                },
            })
        lines.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": name,
            "Submission Time": sub, "Completion Time": end}})
    # a stage that was skipped never has a submission time
    lines.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 99, "Stage Attempt ID": 0, "Stage Name": "skipped"}})
    path.write_text("\n".join(json.dumps(x) for x in lines) + "\n")


@pytest.fixture
def recorded(tmp_path):
    log = tmp_path / "local-1"
    _write_log(log)
    stages, jobs = spans.read_event_log(str(spans.find_event_log(str(tmp_path))))
    compress = spans.Span("compress", None, 1000, 2000)
    search = spans.Span("search.exec", "search", 2500, 3500)
    phases = {id(compress): PHASES}
    spans.attribute(stages, [compress, search], phases)
    return stages, jobs, compress, search, phases


def test_attribution_order(recorded):
    stages, _, compress, search, _ = recorded
    by_id = {st.stage_id: st for st in stages}
    assert 99 not in by_id
    assert [by_id[i].layer for i in range(10)] == [
        "parse",  # a parquet write: by the manifest's parse phase
        "dicts",  # by its own Python call site
        "dicts",  # no call site: by its SQL execution's call site
        "route",  # thread-pool call site, inside both route and metrics: route ends first
        "route",  # pipeline.py spans every phase: by phase
        "pipeline",  # only inside the metrics phase
        "unattributed",  # in the compress span, before any phase
        "search",  # by call site
        "search",  # by its span's own layer
        "unattributed",  # outside every span
    ]
    assert by_id[9].span is None and by_id[7].span is search and by_id[0].span is compress


def test_compress_accounts_for_the_whole_wall(recorded):
    stages, jobs, compress, _, phases = recorded
    m = spans.compress_layers(stages, jobs, [compress], phases)
    parts = sum(m[f"{layer}.busy_s"] for layer in spans.COMPRESS_LAYERS)
    parts += m["pipeline.unattributed_s"] + m["pipeline.driver_only_s"]
    assert parts == pytest.approx(m["pipeline.wall_s"]) and m["pipeline.wall_s"] == 1.0
    # stages 1 and 2 overlap for 50 ms and share it; both are dicts
    assert m["dicts.busy_s"] == pytest.approx(0.080)
    # stages 3 and 4 overlap for 100 ms; both are route
    assert m["route.busy_s"] == pytest.approx(0.250)
    assert m["parse.busy_s"] == pytest.approx(0.200)
    assert m["pipeline.busy_s"] == pytest.approx(0.005)
    assert m["pipeline.unattributed_s"] == pytest.approx(0.015)
    assert m["dicts.driver_s"] == pytest.approx(0.120)
    assert m["pipeline.spark_jobs"] == 7
    assert m["pipeline.task_failures"] == 1
    assert m["route.task_skew"] == pytest.approx(3.0)
    assert m["route.shuffle_write_bytes"] == 4000
    assert m["route.spill_bytes"] == 28
    assert m["pipeline.phase_overlap_s"] == pytest.approx((270 + 200 + 400 + 370) / 1000 - 1.0)


def test_phases_read_from_manifest(tmp_path):
    man = tmp_path / "_manifest.jsonl"
    recs = [
        {"phase": "parse", "bucket": 0, "ts": 2.0, "wall_ms": 500},
        {"phase": "parse", "bucket": 1, "ts": 2.0, "wall_ms": 500},
        {"phase": "dicts", "bucket": "dicts", "ts": 3.0, "wall_ms": 1000},
    ]
    man.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    assert sorted(spans.read_phases(str(man))) == [("dicts", 2000.0, 3000.0), ("parse", 1500.0, 2000.0)]
