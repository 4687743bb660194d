"""The benchmark's own checks: seeded generators, the tally oracle, the
event-log reducer and the metric contract. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os

import docs
import logs
import run
import tracing

BENCH_JSON = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _tree(tmp_path, name, seed):
    root = tmp_path / name
    man = logs.generate(str(root), seed, days=3, files_per_day=2, records_per_file=400)
    return root, man


def test_same_seed_writes_byte_identical_trees(tmp_path):
    a, man_a = _tree(tmp_path, "a", 7)
    b, man_b = _tree(tmp_path, "b", 7)
    assert man_a == man_b
    _, mismatch, errors = filecmp.cmpfiles(a, b, man_a["files"], shallow=False)
    assert not mismatch and not errors
    assert man_a["records"] + man_a["corrupt_lines"] == man_a["lines"] == 2400
    assert sum(man_a["records_per_day"]) == man_a["records"]


def test_other_seed_writes_another_tree(tmp_path):
    a, man_a = _tree(tmp_path, "a", 7)
    c, man_c = _tree(tmp_path, "c", 8)
    assert man_a["files"] == man_c["files"]
    _, mismatch, _ = filecmp.cmpfiles(a, c, man_a["files"], shallow=False)
    assert mismatch == man_a["files"]


def test_document_tables_follow_the_seed():
    assert docs.documents(3, 150) == docs.documents(3, 150)
    assert docs.documents(3, 150) != docs.documents(4, 150)
    assert docs.embeddings(3, 50) == docs.embeddings(3, 50)
    assert docs.embeddings(3, 50) != docs.embeddings(4, 50)


#: a hand-checked tree: a null caller, an absent caller, a corrupt line,
#: a blank line, string-typed latency and a numeric status code
TINY = [
    '{"time":"2014-05-01T00:00:10.000Z","host":"ralph","req":{"method":"GET",'
    '"caller":"admin"},"operation":"getstorage","res":{"statusCode":200},"latency":"3"}',
    '{"time":"2014-05-01T00:01:30.500Z","host":"janey","req":{"method":"GET",'
    '"caller":null},"operation":"getstorage","res":{"statusCode":404},"latency":"130"}',
    '{"time":"2014-05-02T12:00:00.000Z","host":"ralph","req":{"method":"PUT"},'
    '"operation":"putobject","res":{"statusCode":200},"latency":"1500"}',
    '{"time":"2014-05-02T12:00:59.999Z","host":"ralph","req":{"method":"PU',
    "",
    '{"time":"2014-05-03T00:00:00.000Z","host":"janey","req":{"method":"HEAD",'
    '"caller":"poseidon"},"operation":"headstorage","res":{"statusCode":"200"},'
    '"latency":"fast"}',
]
D1 = logs.START_EPOCH


def _tiny(tmp_path):
    path = tmp_path / "tiny.log"
    path.write_text("\n".join(TINY) + "\n")
    return logs.read_records(str(tmp_path), ["tiny.log"])


def test_tally_on_a_hand_checked_tree(tmp_path):
    recs = _tiny(tmp_path)
    assert len(recs) == 4  # the corrupt and the blank line are dropped

    def t(**spec):
        return logs.tally(recs, {"breakdowns": None, **spec})

    assert t() == {(): 4}
    assert t(breakdowns="req.caller") == {
        ("admin",): 1, ("null",): 1, ("undefined",): 1, ("poseidon",): 1,
    }
    # loose equality: "200" matches the number 200 and the string "200"
    assert t(filter={"eq": ["res.statusCode", "200"]}) == {(): 3}
    assert t(filter={"eq": ["req.caller", "admin"]}) == {(): 1}
    # a non-numeric latency is dropped from a bucketized breakdown
    assert t(breakdowns="latency[aggr=quantize]") == {(2,): 1, (128,): 1, (1024,): 1}
    assert t(breakdowns="latency[aggr=lquantize,step=100]") == {
        (0,): 1, (100,): 1, (1500,): 1,
    }
    assert t(breakdowns="timestamp[date,field=time,aggr=lquantize,step=86400]") == {
        (D1,): 2, (D1 + 86400,): 1, (D1 + 2 * 86400,): 1,
    }
    assert t(breakdowns="timestamp[date,field=time,aggr=lquantize,step=60]") == {
        (D1,): 1, (D1 + 60,): 1, (D1 + 86400 + 43200,): 1, (D1 + 2 * 86400,): 1,
    }
    # [after, before): the record exactly at `before` is out
    assert t(breakdowns="host", time_field="time",
             after=D1 + 60, before=D1 + 2 * 86400) == {("janey",): 1, ("ralph",): 1}
    assert t(breakdowns="host", filter={"eq": ["req.method", "HEAD"]}) == {("janey",): 1}


def test_tally_many_matches_one_at_a_time(tmp_path):
    recs = _tiny(tmp_path)
    specs = list(logs.SCAN_CORPUS.values())
    assert logs.tally_many(recs, specs) == [logs.tally(recs, s) for s in specs]


def test_index_stream_is_seeded_and_routable():
    from dragnet_spark import Metric, QueryConfig
    from dragnet_spark.index.query import find_metric

    a = logs.index_query_stream(5, 10, 21)
    assert a == logs.index_query_stream(5, 10, 21)
    assert a != logs.index_query_stream(6, 10, 21)
    metrics = [Metric.load(m["name"], m["breakdowns"], m.get("filter"))
               for m in logs.INDEX_METRICS]
    served = set()
    for spec in a:
        qc = QueryConfig.load(
            breakdowns=spec.get("breakdowns"), filter=spec.get("filter"),
            time_after=spec.get("after"), time_before=spec.get("before"),
        )
        served.add(find_metric(qc, metrics)[0].name)
    assert served == {m.name for m in metrics}


#: a canned event log: job 0 (group "scan|exec:q", two stages, three
#: tasks, one with Python-worker metrics) and job 1 (untagged, one task)
CANNED = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "scan|exec:q"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
     "Task Info": {"Launch Time": 1100, "Finish Time": 1400, "Accumulables": [
         {"Name": "time to start Python workers", "Update": "250"},
         {"Name": "time to initialize Python workers", "Update": "100"},
         {"Name": "time to run Python workers", "Update": "40"},
         {"Name": "data sent to Python workers", "Update": "4096"},
         {"Name": "number of output rows", "Update": "9"}]},
     "Task Metrics": {"Executor Run Time": 290, "Executor CPU Time": 200000000,
                      "JVM GC Time": 10, "Input Metrics": {"Bytes Read": 1000},
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                      "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
     "Task Info": {"Launch Time": 1100, "Finish Time": 1250},
     "Task Metrics": {"Executor Run Time": 140, "Executor CPU Time": 100000000,
                      "JVM GC Time": 0, "Input Metrics": {"Bytes Read": 500}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0,
     "Task Info": {"Launch Time": 1450, "Finish Time": 1650},
     "Task Metrics": {"Executor Run Time": 190, "Executor CPU Time": 50000000,
                      "Shuffle Read Metrics": {"Fetch Wait Time": 20}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1800},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Stage Attempt ID": 0,
     "Task Info": {"Launch Time": 2010, "Finish Time": 2090},
     "Task Metrics": {"Executor Run Time": 70, "Executor CPU Time": 60000000}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
]


def test_reducer_over_a_canned_event_log(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "appstatus_local-1").write_text("")
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in CANNED) + "\n")
    path = tracing.find_event_log(str(tmp_path))
    assert path.endswith("events_1_local-1")
    stats = tracing.reduce_event_log(path)
    assert set(stats) == {"scan|exec:q", "bench|idle"}
    g = stats["scan|exec:q"]
    assert (g.jobs, g.stages, g.tasks) == (1, 2, 3)
    assert abs(g.job_wall_s - 0.8) < 1e-9
    # 0.8 s of job wall, of which the stages' longest tasks ran 0.3 + 0.2
    assert abs(g.non_task_s - 0.3) < 1e-9
    assert abs(g.executor_run_s - 0.62) < 1e-9
    assert abs(g.executor_cpu_s - 0.35) < 1e-9
    assert abs(g.gc_s - 0.01) < 1e-9
    assert (g.input_bytes, g.shuffle_write_bytes, g.spill_bytes) == (1500, 64, 12)
    assert abs(g.fetch_wait_s - 0.02) < 1e-9
    assert (g.py_start_s, g.py_init_s, g.py_run_s) == (0.25, 0.1, 0.04)
    assert g.py_bytes_sent == 4096
    idle = stats["bench|idle"]
    assert (idle.jobs, idle.tasks) == (1, 1)
    assert abs(idle.non_task_s - 0.02) < 1e-9
    both = tracing.total(stats)
    assert both.jobs == 2 and both.tasks == 4
    assert tracing.total(stats, exclude=("bench",)).jobs == 1


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, _description):  # noqa: N802 - Spark's name
        self.groups.append(group)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_tracer_nests_spans_and_restores_the_job_group():
    spark = _FakeSpark()
    t = tracing.Tracer(spark, tag_jobs=True)
    with t.span("op", "iq"):
        with t.span("index.query", "plan"):
            pass
        with t.span("index.query", "exec"):
            pass
    assert spark.sparkContext.groups == [
        "op|iq", "index.query|plan", "op|iq", "index.query|exec", "op|iq", "bench|idle",
    ]
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert t.total("index.query") == t.spans[1].seconds + t.spans[2].seconds
    untagged = tracing.Tracer(spark, tag_jobs=False)
    with untagged.span("op", "x"):
        pass
    assert len(spark.sparkContext.groups) == 6


def test_percentile_is_nearest_rank():
    vals = [float(v) for v in range(1, 41)]
    assert run._percentile(vals, 50) == 20.0
    assert run._percentile(vals, 90) == 36.0
    assert run._percentile([7.0], 90) == 7.0


def test_metric_lists_match_benchmark_json():
    with open(BENCH_JSON) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["logs", "curate"]
