"""The benchmark's own tests: seeded generators, event-log reduction, span
arithmetic, metric names against BENCHMARK.json, and the no-package exit.

Run from the repo root: ``python -m pytest perfbench/tests -q -p no:cacheprovider``.
No Spark session is started.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pyarrow.parquet as pq

from perfbench import gen, run, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _tables(d):
    return {n: pq.read_table(os.path.join(d, n)) for n in sorted(os.listdir(d))}


def test_write_tables_is_deterministic_per_seed(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 0.001, 7)
    b = gen.write_tables(str(tmp_path / "b"), 0.001, 7)
    c = gen.write_tables(str(tmp_path / "c"), 0.001, 8)
    assert a == b
    ta, tb, tc = (_tables(str(tmp_path / x)) for x in "abc")
    assert ta.keys() == tb.keys() and all(ta[k].equals(tb[k]) for k in ta)
    assert not ta["lineitem.parquet"].equals(tc["lineitem.parquet"])
    assert a["rows"]["lineitem"] == 6000 and a["rows"]["events"] == 1000


def test_write_tables_matches_testdata_schema(tmp_path):
    gen.write_tables(str(tmp_path), 0.001, 1)
    types_ = {n: [str(f.type) for f in t.schema] for n, t in _tables(str(tmp_path)).items()}
    assert types_["events.parquet"] == [
        "int64", "timestamp[us]", "int64", "string", "double", "string"]
    assert types_["embeddings.parquet"] == ["int64", "list<element: float>", "int32"]
    assert types_["orders.parquet"][4] == "timestamp[us]"


def test_meter_fixture_is_deterministic_and_has_every_edge_case():
    a = gen.meter_fixture(3, 150)
    assert a == gen.meter_fixture(3, 150)
    assert a != gen.meter_fixture(4, 150)
    dims, reads = a.dim_rows, a.reading_rows
    assert len({r["cldbs"] for r in dims}) == 150
    assert len({(r["gdfj_key"] or "")[:4] for r in dims if r["gdfj_key"]}) == gen.N_PREFIXES
    assert any(r["gdfj_key"] is None for r in dims)
    assert any(r["yhbh"] is None for r in dims)
    assert any(r["zhbl"] is None for r in dims)
    assert any(r["yhbh"] is not None and not r["yhbh"].strip() for r in dims)
    assert any(r["cldbs"].startswith("ORPHAN") for r in reads)
    assert any(r["zxygz"] is None for r in reads)
    with_reads = {r["cldbs"] for r in reads}
    assert any(r["cldbs"] not in with_reads for r in dims)  # no readings at all
    keys = [(r["cldbs"], r["sjsj"]) for r in reads]
    assert len(keys) > len(set(keys))  # duplicate (cldbs, sjsj) arrivals


def _ev(kind, **kw):
    return json.dumps(dict(Event=kind, **kw))


TINY_LOG = [
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
        "Properties": {"spark.jobGroup.id": "pb-1"}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0},
        "Properties": {"spark.jobGroup.id": "pb-1"}}),
    _ev("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        sparkPlanInfo={"nodeName": "Project", "metrics": [], "children": [
            {"nodeName": "MapInPandas", "children": [], "metrics": [
                {"name": "number of output rows", "accumulatorId": 7},
                {"name": "data sent to Python workers", "accumulatorId": 8}]}]}),
    *[_ev("SparkListenerTaskEnd", **{
        "Stage ID": 0,
        "Task Info": {"Launch Time": 0, "Finish Time": 500, "Failed": i == 1,
                      "Getting Result Time": 0,
                      "Accumulables": [{"ID": 7, "Update": 10}, {"ID": 8, "Update": 100},
                                       {"ID": 9, "Update": 5}]},
        "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 2 * 10**8,
                         "JVM GC Time": 10, "Executor Deserialize Time": 50,
                         "Result Serialization Time": 0,
                         "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                  "Local Bytes Read": 2},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 4},
                         "Memory Bytes Spilled": 8, "Disk Bytes Spilled": 16}})
      for i in range(2)],
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1600}),
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 2000,
        "Properties": {}}),
]


def test_reducer_totals_on_a_tiny_event_log():
    out = trace.reduce_event_log(TINY_LOG)
    assert out["_jobs"] == [["pb-1", 1.0, 1.6], ["none", 2.0, None]]
    g = out["pb-1"]
    assert (g["jobs"], g["stages"], g["tasks"], g["failed_tasks"]) == (1, 1, 2, 1)
    assert abs(g["executor_run_s"] - 0.8) < 1e-9
    assert abs(g["executor_cpu_s"] - 0.4) < 1e-9
    assert abs(g["gc_s"] - 0.02) < 1e-9
    assert abs(g["scheduler_delay_s"] - 0.1) < 1e-9  # (500 - 400 - 50) ms x 2
    assert (g["shuffle_read_bytes"], g["shuffle_write_bytes"], g["spill_bytes"]) == (6, 8, 48)
    assert (g["python_rows"], g["python_bytes"]) == (20, 200)
    assert out["none"]["jobs"] == 1


def test_read_event_log_takes_the_newest_rolling_log(tmp_path):
    old = tmp_path / "eventlog_v2_local-1"
    new = tmp_path / "eventlog_v2_local-2"
    for d, lines in ((old, TINY_LOG[:1]), (new, TINY_LOG)):
        d.mkdir()
        (d / "events_2_x").write_text("\n".join(lines[3:]) + "\n")
        (d / "events_1_x").write_text("\n".join(lines[:3]) + "\n")
    os.utime(old, (1, 1))
    assert trace.read_event_log(str(tmp_path))["pb-1"]["tasks"] == 2


def _span(i, name, start, end, parent=None, op=0):
    return dict(id=i, name=name, start=start, end=end, parent=parent, op=op)


def test_self_time_and_unattributed_share():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "queries.construct", 0.0, 6.0, parent=0),
        _span(2, "tables.load", 1.0, 3.0, parent=1),
        _span(3, "reader.parquet", 2.0, 4.0, parent=1),
        _span(4, "queries.exec", 6.0, 10.0, parent=0),
    ]
    selfs = trace.self_times(spans)
    assert selfs[0] == 0.0 and selfs[1] == 3.0 and selfs[4] == 4.0
    # layers cover [1, 4]; a job of the exec span covers [6, 9]: 4 of 10 s left
    jobs = [["pb-4", 6.0, 9.0], ["pb-check", 0.0, 10.0], ["none", 0.0, 10.0]]
    assert abs(trace.unattributed_share(spans, jobs) - 0.4) < 1e-9
    totals = trace.per_span_totals(spans, {"pb-4": {"jobs": 2}, "pb-2": {"jobs": 1}})
    assert totals["queries.construct"]["jobs_incl"] == 1
    assert totals["op"]["jobs_incl"] == 3


def test_spark_totals_count_only_jobs_of_spans_inside_an_op(tmp_path):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    (log_dir / "app").write_text("\n".join(TINY_LOG) + "\n")
    ctx = types.SimpleNamespace(work=str(tmp_path), cores=4, counters={})

    def metrics(stage_op):
        tracer = trace.Tracer()
        tracer.spans = [_span(0, "op", 0.0, 1.0),
                        _span(1, "pipeline.rdl.load_readings", 2.0, 2.5, op=stage_op)]
        return run.layer_metrics(
            ctx, types.SimpleNamespace(tables=[]), trace, tracer, (1.0, 1.0), [1.0],
            [{"kind": "query", "s": 1.0}], [1.0], {"rows": {"t": 1}, "bytes": 1, "files": 1},
            0.5, 100.0)

    # the job of pb-1 belongs to a stage re-run outside op time
    outside = metrics(None)
    assert outside["spark.jobs"][0] == 0 and outside["spark.tasks"][0] == 0
    assert outside["pipeline.rdl.load_readings_s"][0] == 0.5
    inside = metrics(0)
    assert inside["spark.jobs"][0] == 1 and inside["spark.tasks"][0] == 2


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert run.tail([1.0, 2.0]) == (100.0, 2.0)
    pct, value = run.tail([float(i) for i in range(1, 101)])
    assert (pct, value) == (90.0, 90.0)


def test_printed_metric_names_match_benchmark_json(tmp_path):
    e2e = run.e2e_metrics(2.0, [3.0])
    assert [(k, u) for k, (_, u) in e2e.items()] == [
        (m["name"], m["unit"]) for m in BENCH["end_to_end"]]
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    (log_dir / "app").write_text("\n".join(TINY_LOG) + "\n")
    ctx = types.SimpleNamespace(work=str(tmp_path), cores=4, counters={})
    wl = types.SimpleNamespace(tables=[])
    tracer = trace.Tracer()
    layer = run.layer_metrics(
        ctx, wl, trace, tracer, (1.0, 1.0), [3.0],
        [{"kind": "query", "s": 1.0}], [3.0], {"rows": {"t": 1}, "bytes": 1, "files": 1},
        0.5, 100.0)
    assert [(k, u) for k, (_, u) in layer.items()] == [
        (m["name"], m["unit"]) for m in BENCH["per_layer"]]


def test_benchmark_json_keeps_its_fixed_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert all(len(w["why"]) <= 200 for w in BENCH["workloads"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"]) <= 0.25


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "registry_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""
