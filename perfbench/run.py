#!/usr/bin/env python3
"""dragnet_spark's benchmark: one command, two workloads, every answer
checked.

    python3 perfbench/run.py --workload logs|curate --seed N \\
        --seconds S --trace 0|1

Run it from the repository root. It drives the library in-process on
``local[<cpus>]`` and prints one ``name value unit`` line per figure,
then, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (``END_TO_END``); with
``--trace 1`` the run also writes Spark's event log, tags every job
with the layer call that caused it, and reports the per-layer metrics
(``PER_LAYER``) reduced from that log. Everything it writes goes under
``.perfbench/`` at the repository root. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import tracing as tr
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: cold session set-ups per untraced run, started together; setup_s is
#: their median
SETUP_SAMPLES = 3

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "rows_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p75_ms": "ms",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "calls.wall_s": "s",
    "calls.jobs": "count",
    "actions.wall_s": "s",
    "actions.jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.non_task_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.gc_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "python.bytes_sent": "B",
    "sources.lines_in": "count",
    "sources.records_out": "count",
    "sources.invalid_lines": "count",
    "datasource.paths_read": "count",
    "index.bytes_per_raw_byte": "ratio",
    "traced.rows_per_s": "1/s",
    "traced.op_p50_ms": "ms",
    "traced.op_p75_ms": "ms",
}


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))] if s else 0.0


def _environment() -> dict:
    """Environment every Spark process of the run inherits: the core
    count, a modest driver heap, and temp files inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    heap = os.environ.setdefault("DRAGNET_DRIVER_MEM", "1g")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the heap starts at its full size, so the resident size does not
        # depend on when the collector chose to grow it
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap}",
    }


def _setup(conf: dict):
    """One session set-up as a user pays it: import, ``get_spark`` and
    the first trivial job. Returns (spark, timings)."""
    t0 = time.perf_counter()
    from dragnet_spark import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    return spark, {
        "setup_s": t3 - t0, "import_s": t1 - t0,
        "get_spark_s": t2 - t1, "first_job_s": t3 - t2,
    }


def _shutdown(spark) -> None:
    """Stop the session and wait until its JVM has exited (the gateway
    JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def _setup_probe() -> None:
    """``--setup-probe``: one set-up in a fresh process, timings on stdout."""
    spark, timing = _setup(_environment())
    _shutdown(spark)
    print(json.dumps(timing))


def _start_probes(n: int) -> list:
    # each probe leads its own process group, so a stuck one can be
    # killed together with the JVM it launched
    return [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            start_new_session=True,
        )
        for _ in range(n)
    ]


def _probe_seconds(procs: list) -> list[float]:
    """Wait for every probe; the set-up seconds of those that succeeded."""
    out = []
    for p in procs:
        try:
            stdout, _ = p.communicate(timeout=90)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            continue
        if p.returncode == 0 and stdout.strip():
            out.append(json.loads(stdout.strip().splitlines()[-1])["setup_s"])
    return out


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM (VmHWM)."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm("self") + hwm(jvm)) / 1024


def _stamp(spark, args, outcome) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "pyspark": pyspark.__version__,
        "driver_mem": os.environ["DRAGNET_DRIVER_MEM"],
        **outcome.stamp,
    }


def _layer_metrics(stats, tracer, outcome, cores: int) -> dict:
    """The PER_LAYER figures of a traced run from the reduced event log
    (``stats``) and the spans."""
    def is_action(group: str) -> bool:
        layer, name = group.split("|", 1)
        return layer == "action" or name.startswith("exec")

    outside = ("grade", "bench")  # registry grading; warm-up and set-up jobs
    window = {g: s for g, s in stats.items() if g.split("|", 1)[0] not in outside}
    calls = [g for g in window if not is_action(g)]
    actions = [g for g in window if is_action(g)]
    tot = tr.total(stats, exclude=outside)
    op_wall = sum(s.seconds for s in tracer.spans if s.layer == "op")
    action_wall = sum(
        s.seconds for s in tracer.spans
        if s.layer != "op" and is_action(s.group)
    )
    d = outcome.detail
    return {
        "session.get_spark_s": d["session.get_spark_s"],
        "session.first_job_s": d["session.first_job_s"],
        "calls.wall_s": op_wall - action_wall,
        "calls.jobs": sum(window[g].jobs for g in calls),
        "actions.wall_s": action_wall,
        "actions.jobs": sum(window[g].jobs for g in actions),
        "spark.jobs": tot.jobs,
        "spark.stages": tot.stages,
        "spark.tasks": tot.tasks,
        "spark.job_wall_s": tot.job_wall_s,
        "spark.non_task_s": tot.non_task_s,
        "spark.executor_run_s": tot.executor_run_s,
        "spark.executor_cpu_s": tot.executor_cpu_s,
        "spark.cpu_util": tot.executor_cpu_s / (op_wall * cores) if op_wall else 0.0,
        "spark.gc_s": tot.gc_s,
        "spark.input_bytes": tot.input_bytes,
        "spark.shuffle_write_bytes": tot.shuffle_write_bytes,
        "spark.spill_bytes": tot.spill_bytes,
        "python.bytes_sent": tot.py_bytes_sent,
        "sources.lines_in": d.get("sources.lines_in", 0),
        "sources.records_out": d.get("sources.records_out", 0),
        "sources.invalid_lines": d.get("sources.invalid_lines", 0),
        "datasource.paths_read": d.get("datasource.paths_read", 0),
        "index.bytes_per_raw_byte": d.get("index.bytes_per_raw_byte", 0.0),
    }


def _group_detail(stats) -> dict:
    """Per layer call (job group) figures for the printed detail."""
    out = {}
    for group, s in sorted(stats.items()):
        for k, v in s.as_dict().items():
            if v:
                out[f"group.{group}.{k}"] = v
    return out


def _last_untraced(workload: str) -> dict | None:
    path = os.path.join(WORK, "results", f"{workload}-untraced-last.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return None


def _save(name: str, obj: dict) -> None:
    d = os.path.join(WORK, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("logs", "curate"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    for mod in ("pyspark", "dragnet_spark"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod}; run from a checkout of "
                  "the repository", file=sys.stderr)
            return 2
    if args.setup_probe:
        _setup_probe()
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    conf = _environment()
    prepare, run = workloads.WORKLOADS[args.workload]
    inputs = prepare(WORK, args.seed)

    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(trace_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
        })
    # the probes set up side by side with this process's own set-up, so
    # all samples share one condition and the run pays one set-up's time
    probes = _start_probes(0 if args.trace else SETUP_SAMPLES - 1)
    try:
        spark, timing = _setup(conf)
    finally:
        probe_setups = _probe_seconds(probes)
    setups = probe_setups + [timing["setup_s"]]
    try:
        tracer = tr.Tracer(spark, tag_jobs=bool(args.trace))
        outcome = run(spark, tracer, inputs, args.seconds, bool(args.trace))
        outcome.detail.update({f"session.{k}": v for k, v in timing.items()})
        peak = _peak_rss_mb(spark)  # before the (first-run-only) grading
        if args.workload == "curate":
            for name, ok, why in workloads.grade_registry_twins(spark, tracer, WORK):
                outcome.check(ok, f"registry twin {name}: {why}")
        stamp = _stamp(spark, args, outcome)
        cores = spark.sparkContext.defaultParallelism
    finally:
        _shutdown(spark)

    e2e = {
        "setup_s": statistics.median(setups),
        "peak_rss_mb": peak,
        "rows_per_s": outcome.rows_per_s,
        "op_p50_ms": _percentile(outcome.op_ms, 50),
        # the highest percentile with ~10 of a cycle's 42 samples beyond it
        "op_p75_ms": _percentile(outcome.op_ms, 75),
    }
    detail = dict(outcome.detail)
    detail.update({"setup.samples_s": setups, "op.samples": len(outcome.op_ms),
                   "ops_failed_frac": outcome.failed / max(outcome.attempted, 1)})
    if args.trace:
        stats = tr.reduce_event_log(tr.find_event_log(trace_dir))
        shutil.rmtree(trace_dir)  # reduced; the per-group figures are saved
        metrics = _layer_metrics(stats, tracer, outcome, cores)
        metrics.update({f"traced.{k}": e2e[k] for k in ("rows_per_s", "op_p50_ms", "op_p75_ms")})
        units = PER_LAYER
        detail.update(_group_detail(stats))
        base = _last_untraced(args.workload)
        if base:
            for k in ("peak_rss_mb", "rows_per_s", "op_p50_ms", "op_p75_ms"):
                detail[f"trace_overhead.{k}"] = e2e[k] - base["metrics"][k]
    else:
        metrics, units = e2e, END_TO_END

    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    _save(f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
          {"stamp": stamp, "e2e": e2e, "detail": detail,
           "failures": outcome.failures, **result})
    if not args.trace:
        _save(f"{args.workload}-untraced-last.json", {"metrics": e2e, "stamp": stamp})

    print("# stamp " + json.dumps(stamp, sort_keys=True))
    for msg in outcome.failures:
        print(f"# FAILED {msg}")
    for k, v in sorted(detail.items()):
        print(f"# {k} {v}")
    for k, u in units.items():
        print(f"{k} {metrics[k]} {u}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
