"""Repo benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload {registry_mix,meter_kv}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run makes its inputs from ``--seed``
under ``.perfbench_work/`` in the checkout, sets up (session start + one
untimed pass), runs passes of the workload's ops
until ``--seconds`` of op time have elapsed, checks every output outside the
timed window, and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` follows the untraced
phase with a traced one (spans + Spark event log) and reports the per-layer
metrics. A human-readable breakdown goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and its
    value; the maximum when there are 10 samples or fewer."""
    xs = sorted(values)
    if len(xs) <= 10:
        return 100.0, xs[-1]
    k = len(xs) - 11
    return 100.0 * (k + 1) / len(xs), xs[k]


class Ctx:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.phase = "warm"
        self.counters: dict[str, list] = {}
        self.log = log

    def count(self, key: str, value: float) -> None:
        self.counters.setdefault(key, []).append(value)

    def start_session(self):
        from learn_hbase_spark.session import get_session

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata files in /tmp: the run writes only inside its checkout
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.work}/tmp",
            "spark.hadoop.hadoop.tmp.dir": os.path.join(self.work, "tmp"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        spark = get_session("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def stop_session(self) -> None:
        """Stop Spark and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None


def run_phase(ctx, wl, tracer, rng, seconds) -> tuple[list[float], list[dict]]:
    """Closed loop, one client: whole passes of ops for about ``seconds`` of
    op time. A further pass runs only while it is expected to end within
    1.5 x ``seconds``, so a pass just shorter than ``seconds`` does not make
    some runs do two passes and others one."""
    spark = ctx.spark
    ctx.tracer = tracer
    passes: list[float] = []
    ops: list[dict] = []
    spent = 0.0
    while not passes or spent + spent / len(passes) <= 1.5 * seconds:
        pass_s = 0.0
        for kind, name, fn in wl.pass_ops(rng):
            spark.catalog.clearCache()
            tracer.op = len(ops)
            span = tracer.start("op", kind=kind, query=name)
            t0 = time.perf_counter()
            try:
                out, ok = fn(spark, tracer), True
            except Exception:
                log(f"op {name} raised:\n{traceback.format_exc()}")
                out, ok = None, False
            dt = time.perf_counter() - t0
            tracer.end(span)
            tracer.op = None
            if ok:
                try:
                    ok = wl.after_op(name, out) is not False
                except Exception:
                    log(f"check of {name} raised:\n{traceback.format_exc()}")
                    ok = False
            ops.append(dict(kind=kind, name=name, s=dt, ok=ok))
            log(f"op {name}: {dt:.3f} s{'' if ok else ' FAILED'}")
            pass_s += dt
        passes.append(pass_s)
        spent += pass_s
    return passes, ops


def kind_stat(ops, kind, fn=statistics.median) -> float:
    xs = [o["s"] for o in ops if o["kind"] == kind]
    return fn(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "learn_hbase_spark")):
        log(f"no learn_hbase_spark package next to {HERE}; run from a full checkout")
        return 2

    # Only the final JSON line may reach stdout: the JVM inherits fd 1, so
    # point fd 1 at stderr and keep a private dup of the real stdout.
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = os.fdopen(os.dup(2), "w")

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.path.join(ROOT, "tools"), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    ctx = Ctx(args, work)
    try:
        result = run(ctx, WORKLOADS[args.workload], T)
    finally:
        try:
            ctx.stop_session()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    real_stdout.write(json.dumps(result) + "\n")
    real_stdout.flush()
    return 0


def run(ctx, workload_cls, T) -> dict:
    wl = workload_cls(ctx)
    t0 = time.perf_counter()
    spark = ctx.start_session()
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    inputs = wl.generate(spark)
    gen_s = time.perf_counter() - t0
    log(f"inputs: {json.dumps(inputs)} in {gen_s:.2f} s")

    rng = random.Random(ctx.seed)
    tracer = T.Tracer(spark.sparkContext, enabled=False)
    # Set-up = session start + one untimed pass over the same inputs, as
    # bench.py's first pass: a warm on sf0.001 inputs left the first run of
    # each full-size plan (AQE picks other joins at full size) in the timed
    # pass, and with it 25-30% of the pass's run-to-run spread.
    # Like wall_s, the warm counts op time only, not the checks after ops.
    ctx.phase = "warm"
    (warm_s,), warm_ops = run_phase(ctx, wl, tracer, rng, seconds=0)
    log(f"setup: start {start_s:.2f} s, warm pass {warm_s:.2f} s")

    ctx.phase = "timed"
    passes, ops = run_phase(ctx, wl, tracer, rng, ctx.seconds)
    log(f"untraced: {len(passes)} passes, {len(ops)} ops, pass walls {[round(p, 3) for p in passes]}")
    if ctx.trace:
        T.install(tracer)
        tracer.enabled = True
        t_passes, t_ops = run_phase(ctx, wl, tracer, rng, ctx.seconds)
        tracer.enabled = False
        log(f"traced: {len(t_passes)} passes, pass walls {[round(p, 3) for p in t_passes]}")
        spark.sparkContext.setJobGroup("pb-check", "checks")

    t0 = time.perf_counter()
    failed_names = wl.check()
    log(f"checks: {time.perf_counter() - t0:.2f} s")
    all_ops = warm_ops + ops + (t_ops if ctx.trace else [])
    names = {o["name"] for o in all_ops}
    failed = sum(1 for o in all_ops if not o["ok"] or o["name"] in failed_names)
    extra = failed_names - names
    attempted = len(all_ops) + len(extra)
    failed += len(extra)
    for o in all_ops:
        if not o["ok"]:
            log(f"failed op: {o['kind']} {o['name']}")

    if not ctx.trace:
        metrics = e2e_metrics(start_s + warm_s, passes)
    else:
        rss = ctx.jvm_peak_rss_mb()
        ctx.stop_session()
        metrics = layer_metrics(ctx, wl, T, tracer, (start_s, warm_s), passes, ops,
                                t_passes, inputs, gen_s, rss)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    log("metrics: " + json.dumps(out["metrics"]))
    return out


def e2e_metrics(setup_s, passes) -> dict:
    """BENCHMARK.json's end_to_end metrics: ``{name: (value, unit)}``."""
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(passes), "s"),
    }


def layer_metrics(ctx, wl, T, tracer, setup, passes, ops, t_passes, inputs,
                  gen_s, rss) -> dict:
    """BENCHMARK.json's per_layer metrics: ``{name: (value, unit)}``.
    ``passes``/``ops`` are the untraced phase's, ``t_passes`` the traced
    phase's that follows it."""
    from perfbench.workloads import dir_stats

    groups = T.read_event_log(os.path.join(ctx.work, "eventlog"))
    jobs = groups.pop("_jobs")
    # Spans outside any op are the benchmark's own: the pipeline stages that
    # MeterKV.after_op re-runs one at a time. They feed pipeline.rdl.* only.
    spans = [s for s in tracer.spans if s["op"] is not None]
    stages = T.per_span_totals([s for s in tracer.spans if s["op"] is None], groups)
    per = T.per_span_totals(spans, groups)
    for name, t in sorted(per.items()):
        log(f"span {name:28s} calls {t['calls']:5.0f}  wall {t['s']:8.3f} s  "
            f"self {t['self_s']:8.3f} s  jobs {t['jobs_incl']:5.0f}  "
            f"exec {t.get('executor_run_s', 0):8.3f} s")

    def sp(name, key, default=0.0):
        return per.get(name, {}).get(key, default)

    spark_tot = {}
    for s in spans:
        for k, x in groups.get(f"pb-{s['id']}", {}).items():
            spark_tot[k] = spark_tot.get(k, 0) + x
    traced_wall = sum(t_passes)
    lat = [o["s"] for o in ops]
    pct, tail_s = tail(lat)
    m = {
        "session.start_s": (setup[0], "s"),
        "session.warm_s": (setup[1], "s"),
        "session.jvm_peak_rss_mb": (rss, "MB"),
        "input.gen_s": (gen_s, "s"),
        "input.rows": (sum(inputs["rows"].values()), "count"),
        "input.files": (inputs["files"], "count"),
        "input.bytes": (inputs["bytes"], "bytes"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_samples": (len(lat), "count"),
        "op_tail_pct": (pct, "%"),
        "op_tail_s": (tail_s, "s"),
        "tables.load_calls": (sp("tables.load", "calls"), "count"),
        "tables.load_s": (sp("tables.load", "s"), "s"),
        "tables.load_jobs": (sp("tables.load", "jobs_incl"), "count"),
        "reader.parquet_calls": (sp("reader.parquet", "calls"), "count"),
        "reader.parquet_jobs": (sp("reader.parquet", "jobs_incl"), "count"),
        "queries.construct_s": (sp("queries.construct", "s"), "s"),
        "queries.construct_jobs": (sp("queries.construct", "jobs_incl"), "count"),
        "queries.exec_s": (sp("queries.exec", "s"), "s"),
        "queries.exec_jobs": (sp("queries.exec", "jobs_incl"), "count"),
        "seam.calls": (sp("seam", "calls"), "count"),
        "seam.s": (sp("seam", "s"), "s"),
        "seam.jobs": (sp("seam", "jobs_incl"), "count"),
        "pull.calls": (sp("pull", "calls"), "count"),
        "pull.s": (sp("pull", "s"), "s"),
        "pull.rows": (sp("pull", "rows"), "count"),
        "operators.python_rows": (spark_tot.get("python_rows", 0), "count"),
        "operators.python_bytes": (spark_tot.get("python_bytes", 0), "bytes"),
        "storage.artifact.calls": (sp("storage.artifact", "calls"), "count"),
        "storage.artifact.s": (sp("storage.artifact", "s"), "s"),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
              "executor_cpu_s", "gc_s", "scheduler_delay_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        unit = "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count")
        m[f"spark.{k}"] = (spark_tot.get(k, 0), unit)
    m["spark.slot_busy_ratio"] = (
        spark_tot.get("executor_run_s", 0) / (traced_wall * ctx.cores), "ratio")
    for stage in ("load_readings", "compute_rdl", "export_wide"):
        m[f"pipeline.rdl.{stage}_s"] = (
            stages.get(f"pipeline.rdl.{stage}", {}).get("s", 0.0), "s")
    csv_files = ctx.counters.get("csv_files", [0])
    csv_bytes = ctx.counters.get("csv_bytes", [0])
    m["sources.csv_sink.write_s"] = (sp("sources.csv_sink", "s"), "s")
    m["sources.csv_sink.files"] = (statistics.median(csv_files), "count")
    m["sources.csv_sink.bytes"] = (statistics.median(csv_bytes), "bytes")

    gets = sp("widetable.get", "calls")
    puts = sp("widetable.put", "calls")
    user = wl.user_bytes() if hasattr(wl, "user_bytes") else 0
    table_files, table_bytes = (
        dir_stats(wl.tables[-1], ".parquet") if getattr(wl, "tables", None) else (0, 0))
    written = sum(ctx.counters.get("table_bytes_written", [0]))
    m.update({
        "widetable.get_jobs": (sp("widetable.get", "jobs_incl") / gets if gets else 0.0, "count"),
        "widetable.put_jobs": (sp("widetable.put", "jobs_incl") / puts if puts else 0.0, "count"),
        "widetable.files_per_get": (
            statistics.mean(ctx.counters.get("files_per_get", [0])), "count"),
        "widetable.files_total": (table_files, "count"),
        "widetable.write_amp": (written / user if user else 0.0, "ratio"),
        "widetable.compact_bytes_rewritten": (
            sum(ctx.counters.get("compact_bytes", [0])), "bytes"),
        "meter.etl_s": (kind_stat(ops, "etl"), "s"),
        "meter.bulk_put_s": (kind_stat(ops, "bulk_put"), "s"),
        "meter.get_p50_s": (kind_stat(ops, "get"), "s"),
        "meter.get_tail_s": (kind_stat(ops, "get", lambda xs: tail(xs)[1]), "s"),
        "meter.put_p50_s": (kind_stat(ops, "put_row"), "s"),
        "meter.scan_p50_s": (kind_stat(ops, "scan"), "s"),
        "meter.compact_s": (kind_stat(ops, "compact"), "s"),
        "meter.index_build_s": (kind_stat(ops, "index_build"), "s"),
        "meter.lookup_p50_s": (kind_stat(ops, "lookup"), "s"),
        "meter.stored_bytes_per_user_byte": (table_bytes / user if user else 0.0, "ratio"),
        "trace.overhead_s": (
            statistics.median(t_passes) - statistics.median(passes), "s"),
        "trace.unattributed_share": (T.unattributed_share(spans, jobs), "ratio"),
    })
    return m


if __name__ == "__main__":
    sys.exit(main())
