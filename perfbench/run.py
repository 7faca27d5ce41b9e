#!/usr/bin/env python3
"""Seeded link-graph benchmark: one workload, one Spark process, closed loop.

    python3 perfbench/run.py --workload kernels-small --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one line per operation and the
workload's own per-operation metrics, then, as the last line of standard
output, one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics (read
from Spark's event log) with ``--trace 1``. The full record of the run,
with its context and every span, is written under ``perfbench/.work/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
LAYERS = ("session", "sources", "snapshots", "operators")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "edges_per_s": "1/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "peak_rss_mb": "MB",
    "fixpoint.rounds": "count",
    "fixpoint.round1_s": "s",
    "fixpoint.round_median_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_gap_s": "s",
    "traced_pass_s": "s",
}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def prepare_env(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let Python workers import the library."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    sys.path.insert(0, ROOT)
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def jvm_peak_rss_mb(sc) -> float:
    pid = sc._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(values):
    values = list(values)
    return statistics.median(values) if values else None


def layer_metrics(spans: list[dict], ops: list[dict], fixpoints: list[dict]) -> dict:
    """Per-layer metrics under the names README.md lists, each the median
    over the run's calls: ``<layer>.<call>_s`` (wall),
    ``.self_s`` and, in a traced run, the event-log counters; per
    fixpoint kernel its rounds, first-round and median-round seconds."""
    calls: dict[str, list[dict]] = {}
    for s in spans:
        if s["name"].split(".")[0] in LAYERS:
            calls.setdefault(s["name"], []).append(s)
    out = {}
    for name, ss in sorted(calls.items()):
        out[f"{name}_s"] = median(s["wall_s"] for s in ss)
        out[f"{name}.self_s"] = median(s["self_s"] for s in ss)
        for k in ss[0].get("spark", {}):
            out[f"{name}.{k}"] = median(s["spark"][k] for s in ss)
    fps: dict[str, list[list[float]]] = {}
    for f in fixpoints:
        if f["round_s"]:
            fps.setdefault(f["op"], []).append(f["round_s"])
    for op, runs in fps.items():
        out[f"fixpoint.{op}.rounds"] = median(len(r) for r in runs)
        out[f"fixpoint.{op}.round1_s"] = median(r[0] for r in runs)
        out[f"fixpoint.{op}.round_median_s"] = median(x for r in runs for x in r)
    sizes = [o["level_bytes"] for o in ops if "level_bytes" in o]
    if sizes:
        out["snapshots.level_bytes"] = median(sizes)
    return out


def op_metrics(b, ops: list[dict]) -> dict[str, float]:
    """The workload's own per-operation seconds (medians over the run)."""
    by = {}
    for o in ops:
        by.setdefault(o["op"], []).append(o["s"])
    out = {f"{k}_s": statistics.median(v) for k, v in by.items()}
    if "pagerank_s" in out:
        from workloads import ITERS

        out["pagerank_edges_per_s"] = b.workload.m * ITERS["pagerank"] / out["pagerank_s"]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "llama_spark", "__init__.py")):
        print(f"perfbench: no llama_spark package under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK, f"{run_id}-{os.getpid()}")
    conf = prepare_env(work)
    events = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + events,
        })

    import pyspark
    from eventlog import event_files, group_stats, read_events, span_stats
    from llama_spark.session import get_spark
    from spans import Tracer, add_self_times
    from workloads import Bench, loadavg, make, timed_builds

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "loadavg_start": loadavg(),
        "pyspark": pyspark.__version__,
        "commit": git_commit(),
    }
    tracer = Tracer()
    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=nproc(), extra_conf=conf)
    get_spark_s = time.time() - t0
    tracer.add("session.get_spark", t0, t0 + get_spark_s)
    tracer.sc = spark.sparkContext
    try:
        context["spark"] = spark.version
        b = Bench(spark, tracer, args.seed, work, WORKLOADS[args.workload])
        w = b.workload = make(b)
        with tracer.span("setup"):
            builds = timed_builds(w, SETUP_REPEATS)
        w.reference()
        walls = []
        start = time.time()
        # one pass at least; another only if it fits in --seconds
        while not walls or time.time() - start + statistics.median(walls) <= args.seconds:
            b.pass_no += 1
            with tracer.span("pass") as p:
                w.one_pass()
            walls.append(p["end"] - p["start"])
        peak_rss = jvm_peak_rss_mb(spark.sparkContext)
    finally:
        stop_spark(spark)
    context["loadavg_end"] = loadavg()

    if args.trace:
        span_stats(tracer.spans, group_stats(read_events(event_files(events))))
    add_self_times(tracer.spans)

    # a pass's time is the sum of its operations' timed regions: output
    # checks and the GC between operations are not part of it
    passes = [
        {k: sum(o[k] for o in b.ops if o["pass"] == n)
         for k in ("s", "cpu_s", "steal_s")}
        for n in range(1, b.pass_no + 1)
    ]
    rounds = [(f["edges"], s) for f in b.fixpoints for s in f["round_s"]]
    e2e = {
        "setup_s": get_spark_s + statistics.median(builds),
        "pass_s": median(p["s"] for p in passes),
        "edges_per_s": sum(e for e, _s in rounds) / sum(s for _e, s in rounds) if rounds else None,
    }
    op_spans = {o["span"] for o in b.ops}
    per_pass = {}
    for s in tracer.spans:
        if s["id"] in op_spans:
            for k, v in s.get("spark", {}).items():
                per_pass[k] = per_pass.get(k, 0) + v / len(passes)
    layer = {
        "session.get_spark_s": get_spark_s,
        "peak_rss_mb": peak_rss,
        "fixpoint.rounds": len(rounds) / len(passes),
        "fixpoint.round1_s": median(f["round_s"][0] for f in b.fixpoints if f["round_s"]),
        "fixpoint.round_median_s": median(s for _e, s in rounds),
        **{f"spark.{k}": per_pass.get(k) for k in (
            "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
            "executor_run_s", "executor_cpu_s", "gc_s", "driver_gap_s")},
        "traced_pass_s": median(p["s"] for p in passes),
    }
    failed = sum(1 for o in b.ops if not o["ok"])
    attempted = len(b.ops)
    record = {
        "context": context,
        "setup_builds_s": builds,
        "passes": passes,
        "pass_walls_s": walls,
        "ops": b.ops,
        "op_metrics": op_metrics(b, b.ops),
        "fixpoints": b.fixpoints,
        "error_rate": failed / attempted if attempted else None,
        "end_to_end": e2e,
        "per_layer": layer if args.trace else None,
        "layers": layer_metrics(tracer.spans, b.ops, b.fixpoints),
        "spans": tracer.spans,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out_path = os.path.join(WORK, "results", f"{run_id}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=float)
    shutil.rmtree(work, ignore_errors=True)

    for o in b.ops:
        print(f"op {o['op']:<13} {o['s']:8.3f} s  cpu {o['cpu_s']:7.2f} s  "
              f"steal {o['steal_s']:5.2f} s  load {o['load_before']:.2f}->{o['load_after']:.2f}  "
              f"ok={o['ok']}")
    for k, v in record["op_metrics"].items():
        print(f"metric {k} = {v:.6g}")
    for k, v in record["layers"].items():
        print(f"layer {k} = {v:.6g}")
    print(f"error_rate = {record['error_rate']:.4g} ({failed}/{attempted})")
    print(f"context {json.dumps(context)}")
    print(f"record {os.path.relpath(out_path, ROOT)}")
    chosen, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
