"""Span recorder, layer wrappers and Spark event-log reducer for the traced run.

Spans are kept in memory: ``(id, name, start, end, parent, op)``. Every span
sets its own Spark job group (``pb-<id>``), so the event log attributes each
job, stage and task to the innermost span that submitted it.

The wrappers are installed only by the traced run, from this file, around the
package's public calls; the package source is not edited. The DataFrame and
reader wrappers record only calls made from package code; no wrapper nests a
span inside one of its own layer, so a ``first()`` that calls ``take()``
counts once.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from collections import defaultdict

PACKAGE = "learn_hbase_spark"

# Spark plan nodes that run Python (Arrow or pickled batches) in workers.
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
    "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
)


class Tracer:
    """In-memory spans; with ``enabled=False`` no span is recorded and no job
    group is set, so the untraced phase pays nothing."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op = None

    def _group(self, span):
        if span is None:
            self.sc.setJobGroup("pb-none", "untraced")
        else:
            self.sc.setJobGroup(f"pb-{span['id']}", span["name"])

    def start(self, name: str, **attrs) -> dict | None:
        if not self.enabled:
            return None
        span = dict(
            id=len(self.spans), name=name, start=time.time(), end=None,
            parent=self.stack[-1]["id"] if self.stack else None,
            op=self.op, **attrs,
        )
        self.spans.append(span)
        self.stack.append(span)
        self._group(span)
        return span

    def end(self, span) -> None:
        if span is None:
            return
        span["end"] = time.time()
        self.stack.pop()
        self._group(self.stack[-1] if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.start(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def in_layer(self, layer: str) -> bool:
        return any(s["name"] == layer for s in self.stack)


def _replace_everywhere(owner, attr: str, wrapper) -> None:
    """Point ``owner.attr`` and every package-module global bound to the
    same function object at ``wrapper``."""
    orig = getattr(owner, attr)
    setattr(owner, attr, wrapper)
    for name, mod in list(sys.modules.items()):
        if not name.startswith(PACKAGE) or mod is None:
            continue
        for k, v in list(vars(mod).items()):
            if v is orig:
                setattr(mod, k, wrapper)


def _from_package(depth: int = 2) -> bool:
    return sys._getframe(depth).f_globals.get("__name__", "").startswith(PACKAGE)


def install(tracer: Tracer) -> None:
    """Wrap the public calls of each layer named in BENCHMARK.json."""
    from pyspark.sql import DataFrameReader

    try:  # Spark 4: the classic DataFrame overrides the abstract one's methods
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from learn_hbase_spark import tables
    from learn_hbase_spark.sources import csv_sink
    from learn_hbase_spark.storage import artifact

    def layer(name, fn, package_only=False, rows=None):
        @functools.wraps(fn)
        def wrapped(*a, **kw):
            if tracer.in_layer(name) or (package_only and not _from_package()):
                return fn(*a, **kw)
            with tracer.span(name) as s:
                out = fn(*a, **kw)
                if rows is not None and s is not None:
                    s["rows"] = rows(out)
                return out
        return wrapped

    _replace_everywhere(tables, "load_table", layer("tables.load", tables.load_table))
    DataFrameReader.parquet = layer("reader.parquet", DataFrameReader.parquet,
                                    package_only=True)
    for m in ("localCheckpoint", "checkpoint", "persist", "cache"):
        setattr(DataFrame, m, layer("seam", getattr(DataFrame, m), package_only=True))
    for m, count in (
        ("collect", len), ("toPandas", len), ("take", len),
        ("first", lambda r: int(r is not None)),
    ):
        setattr(DataFrame, m, layer("pull", getattr(DataFrame, m),
                                    package_only=True, rows=count))
    for fn in ("fs_delete", "fs_rename", "try_parquet", "delta_partition_count",
               "write_text_sidecar", "read_text_sidecar", "swap_via_trash",
               "sweep_trash"):
        _replace_everywhere(artifact, fn, layer("storage.artifact", getattr(artifact, fn)))
    _replace_everywhere(csv_sink, "write_csv", layer("sources.csv_sink", csv_sink.write_csv))


# ---------------------------------------------------------------------------
# Event-log reduction
# ---------------------------------------------------------------------------


def _python_accums(plan: dict, out: dict) -> None:
    """Collect accumulator ids of the Python nodes' row and byte metrics."""
    if plan.get("nodeName", "").replace("Exec", "") in PYTHON_NODES:
        for m in plan.get("metrics", []):
            n = m.get("name", "")
            if n == "number of output rows":
                out[m["accumulatorId"]] = "rows"
            elif "Python workers" in n:
                out[m["accumulatorId"]] = "bytes"
    for child in plan.get("children", []):
        _python_accums(child, out)


def reduce_event_log(lines) -> dict:
    """Reduce Spark event-log JSON lines to per-job-group totals.

    Returns ``{group: {jobs, stages, tasks, failed_tasks, executor_run_s,
    executor_cpu_s, gc_s, scheduler_delay_s, shuffle_read_bytes,
    shuffle_write_bytes, spill_bytes, python_rows, python_bytes}}`` plus, under
    the key ``"_jobs"``, each job's ``(group, submit_s, end_s)``."""
    keys = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
            "executor_cpu_s", "gc_s", "scheduler_delay_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "python_rows", "python_bytes")
    groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(keys, 0))
    stage_group: dict[int, str] = {}
    job_times: dict[int, list] = {}
    py_accums: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
            groups[g]["jobs"] += 1
            job_times[ev["Job ID"]] = [g, ev["Submission Time"] / 1000.0, None]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_times:
                job_times[ev["Job ID"]][2] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
            stage_group[ev["Stage Info"]["Stage ID"]] = g
            groups[g]["stages"] += 1
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _python_accums(ev.get("sparkPlanInfo", {}), py_accums)
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "none")]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            g["failed_tasks"] += int(bool(info.get("Failed")))
            run_ms = m.get("Executor Run Time", 0)
            g["executor_run_s"] += run_ms / 1000.0
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            g["scheduler_delay_s"] += max(
                0, dur - run_ms - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0)) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                what = py_accums.get(acc.get("ID"))
                if what:
                    g[f"python_{what}"] += int(acc.get("Update") or 0)
    out = {k: dict(v) for k, v in groups.items()}
    out["_jobs"] = list(job_times.values())
    return out


def read_event_log(log_dir: str) -> dict:
    """Reduce the newest application's event log under ``log_dir`` (a plain
    file, or a rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` parts)."""
    newest = max(
        (os.path.join(log_dir, n) for n in os.listdir(log_dir)), key=os.path.getmtime
    )
    parts = [newest]
    if os.path.isdir(newest):
        names = [n for n in os.listdir(newest) if n.startswith("events_")]
        parts = [os.path.join(newest, n)
                 for n in sorted(names, key=lambda n: int(n.split("_")[1]))]
    lines = []
    for part in parts:
        with open(part) as fh:
            lines.extend(ln for ln in fh if ln.strip())
    return reduce_event_log(lines)


def _covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(kids[s["id"]]) for s in spans
    }


def per_span_totals(spans: list[dict], groups: dict) -> dict[str, dict]:
    """Per span name: calls, wall, self time and the Spark totals of the jobs
    that the span itself submitted (a child's jobs count under the child)."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s["name"], defaultdict(float))
        t["calls"] += 1
        t["s"] += s["end"] - s["start"]
        t["self_s"] += selfs[s["id"]]
        t["rows"] += s.get("rows", 0)
        for k, v in groups.get(f"pb-{s['id']}", {}).items():
            t[k] += v
    # a span's jobs including those of its descendants (for "jobs inside")
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])

    def subtree_jobs(i):
        return groups.get(f"pb-{i}", {}).get("jobs", 0) + sum(
            subtree_jobs(c) for c in children[i])

    for s in spans:
        out[s["name"]]["jobs_incl"] += subtree_jobs(s["id"])
    return {k: dict(v) for k, v in out.items()}


def unattributed_share(spans: list[dict], jobs: list) -> float:
    """Share of op wall time covered by no layer span below the op and by no
    Spark job submitted from inside the op."""
    ops = [s for s in spans if s["name"] == "op"]
    if not ops:
        return 0.0
    by_op = defaultdict(list)
    for s in spans:
        if s["name"] not in ("op", "queries.construct", "queries.exec") and s["op"] is not None:
            by_op[s["op"]].append((s["start"], s["end"]))
    span_op = {s["id"]: s["op"] for s in spans}
    for g, start, end in jobs:
        if g[3:].isdigit() and end is not None:
            op = span_op.get(int(g[3:]))
            if op is not None:
                by_op[op].append((start, end))
    wall = unattr = 0.0
    for o in ops:
        d = o["end"] - o["start"]
        inside = [(max(s, o["start"]), min(e, o["end"])) for s, e in by_op[o["op"]]]
        inside = [(s, e) for s, e in inside if e > s]
        wall += d
        unattr += max(0.0, d - _covered(inside))
    return unattr / wall if wall else 0.0
