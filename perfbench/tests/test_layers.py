import json

import pytest

import layers as L


def _task(stage, run_ms, cpu_ns, shuffle=0, py_init_ms=None, py_run_ms=None):
    accs = []
    if py_init_ms is not None:
        accs.append({"Name": "time to initialize Python workers", "Update": str(py_init_ms)})
        accs.append({"Name": "time to run Python workers", "Update": str(py_run_ms)})
    accs.append({"Name": "duration", "Update": "5"})
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _job(jid, start, end, stages, desc):
    props = {"spark.job.description": desc} if desc else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": int(start * 1000), "Stage IDs": stages,
         "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": int(end * 1000)},
    ]


def _fixture_log(directory):
    """A rolling event-log directory, split over two parts."""
    part1 = (
        [{"Event": "SparkListenerLogStart"}]
        + _job(3, 999.0, 999.2, [9], None)  # before any operation
        + _job(0, 1000.0, 1000.5, [0, 1], "perfbench:knn:0")
        + [
            _task(0, 100, 50_000_000, shuffle=600, py_init_ms=10, py_run_ms=30),
            _task(0, 100, 50_000_000, shuffle=400, py_init_ms=10, py_run_ms=30),
            _task(1, 200, 100_000_000),
            _task(9, 50, 1_000_000),
        ]
    )
    part2 = (
        _job(1, 1000.6, 1000.7, [2], "perfbench:knn:0")  # stage 2 skipped
        + _job(2, 1002.2, 1002.4, [3], None)  # from an unlabelled thread
        + [_task(3, 400, 400_000_000)]
    )
    d = directory / "eventlog_v2_local-1"
    d.mkdir()
    for name, events in (("events_10_local-1", part2), ("events_2_local-1", part1)):
        (d / name).write_text("".join(json.dumps(e) + "\n" for e in events))
    (d / "appstatus_local-1").write_text("")
    return str(directory)


def _recorder():
    rec = L.Recorder()
    rec.spans += [
        L.Span("knn.knn", "plan", 999.9, 1000.0, "knn", 0),
        L.Span("dataframe.collect", "exec", 1000.0, 1000.9, "knn", 0),
        L.Span("knn", "op", 999.9, 1001.0, None, 0),
        L.Span("rag", "op", 1002.0, 1003.0, None, 1),
        L.Span("rag", "op", 1003.5, 1004.0, None, -1, timed=False),
    ]
    return rec


def test_event_files_orders_rolling_parts(tmp_path):
    files = L.event_files(_fixture_log(tmp_path))
    assert [f.rsplit("/", 1)[1] for f in files] == [
        "events_2_local-1", "events_10_local-1",
    ]


def test_parser_sums_task_metrics_per_stage(tmp_path):
    jobs, stages = L.parse_event_log(L.event_files(_fixture_log(tmp_path)))
    assert sorted(jobs) == [0, 1, 2, 3]
    assert jobs[0].description == "perfbench:knn:0" and jobs[2].description is None
    assert (jobs[0].submit, jobs[0].end, jobs[0].stages) == (1000.0, 1000.5, [0, 1])
    s0 = stages[0]
    assert s0.tasks == 2 and s0.shuffle_bytes == 1000
    assert s0.run_s == pytest.approx(0.2) and s0.cpu_s == pytest.approx(0.1)
    assert s0.py_init_s == pytest.approx(0.02) and s0.py_run_s == pytest.approx(0.06)
    assert 2 not in stages  # a skipped stage runs no tasks


def test_attribution_by_operation_window(tmp_path):
    jobs, stages = L.parse_event_log(L.event_files(_fixture_log(tmp_path)))
    per_op, labelled = L.attribute(_recorder(), jobs, stages)
    assert [name for name, _ in per_op] == ["knn", "rag"]  # warm-up excluded
    knn, rag = per_op[0][1], per_op[1][1]
    assert knn["jobs"] == 2 and knn["tasks"] == 3
    assert knn["plan_s"] == pytest.approx(0.1) and knn["exec_s"] == pytest.approx(0.9)
    assert knn["task_run_s"] == pytest.approx(0.4)
    assert knn["exec_cpu_s"] == pytest.approx(0.2)
    assert knn["cpu_share"] == pytest.approx(0.5)
    assert knn["shuffle_bytes"] == 1000
    assert knn["py_init_s"] == pytest.approx(0.02)
    # 1.1 s of wall, jobs busy for 0.5 + 0.1 s of it
    assert knn["driver_gap_s"] == pytest.approx(0.5)
    assert rag["jobs"] == 1 and rag["task_run_s"] == pytest.approx(0.4)
    assert rag["driver_gap_s"] == pytest.approx(0.8)
    assert labelled == pytest.approx(2 / 3)
    mean = L.mean_metrics([knn, rag])
    assert mean["jobs"] == 1.5
    assert mean["cpu_share"] == pytest.approx(0.6 / 0.8)


def test_union_length_merges_overlaps():
    assert L.union_length([]) == 0.0
    assert L.union_length([(0, 1), (0.5, 2), (3, 4), (3.5, 3.6)]) == 3.0


def test_recorder_spans_nest_under_the_current_operation():
    rec = L.Recorder()
    with rec.op("fresh", 4):
        rec.plan(sorted, [2, 1])
        rec.exec(len, [1])
    with pytest.raises(ZeroDivisionError):
        with rec.op("fresh", 5):
            rec.exec(lambda: 1 / 0)
    kids = [(s.name, s.kind, s.parent, s.req) for s in rec.spans if s.kind != "op"]
    assert kids[:2] == [("builtins.sorted", "plan", "fresh", 4),
                        ("builtins.len", "exec", "fresh", 4)]
    assert [s.req for s in rec.op_spans()] == [4]  # the failed op is not timed
