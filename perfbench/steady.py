#!/usr/bin/env python3
"""Steadiness mode: run workloads repeatedly and report each metric's spread.

    python3 perfbench/steady.py --workloads kernels-large,crawl-refresh \
        --seeds 1-10 [--trace] [--seconds 30]

Runs ``run.py`` once per (workload, seed), one after another, untraced and,
with ``--trace``, traced right after each untraced run. For every metric it
prints the median, the quartiles (``statistics.quantiles(values, n=4)``)
and the spread (q3 - q1) / median. With ``--trace`` it also reports the
tracing overhead: the median over seeds of traced ``traced_pass_s`` over
untraced ``pass_s``, minus 1.
A summary is written to ``perfbench/.work/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"{workload} seed {seed} trace {trace}: exit {p.returncode}", file=sys.stderr)
        return None
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    return out


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "n": len(values)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="repeat runs; report medians and spreads")
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=30.0)
    p.add_argument("--trace", action="store_true", help="also run traced")
    args = p.parse_args(argv)

    modes = (0, 1) if args.trace else (0,)
    summary: dict = {}
    for wl in args.workloads.split(","):
        # untraced and traced runs alternate, seed by seed, so that a slow
        # spell of the machine does not land on one mode only
        by_seed = {s: {t: run_once(wl, s, args.seconds, t) for t in modes}
                   for s in seeds(args.seeds)}
        for trace in modes:
            runs = [r[trace] for r in by_seed.values() if r[trace] is not None]
            if len(runs) < 2:
                continue
            res = {
                "runs": len(runs),
                "failed_ops": sum(r["failed"] for r in runs),
                "wall_s": spread([r["wall_s"] for r in runs]),
                "metrics": {k: spread([r["metrics"][k]["value"] for r in runs])
                            for k in runs[0]["metrics"]},
            }
            summary[f"{wl}/trace{trace}"] = res
            print(f"== {wl} trace={trace}: {res['runs']} runs, "
                  f"{res['failed_ops']} failed ops, median wall {res['wall_s']['median']:.1f} s")
            for k, v in res["metrics"].items():
                print(f"  {k:<28} median {v['median']:<14.6g} q1 {v['q1']:<14.6g} "
                      f"q3 {v['q3']:<14.6g} spread {v['spread']:.3f}")
        ratios = [r[1]["metrics"]["traced_pass_s"]["value"] / r[0]["metrics"]["pass_s"]["value"]
                  for r in by_seed.values() if args.trace and r[0] and r[1]]
        if ratios:
            overhead = statistics.median(ratios) - 1
            summary[f"{wl}/tracing_overhead"] = overhead
            print(f"  tracing overhead {overhead:+.3f} (median over seeds of traced / untraced "
                  f"pass time, minus 1; {len(ratios)} pairs)")
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    out = os.path.join(HERE, ".work", time.strftime("steady-%Y%m%d-%H%M%S.json"))
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"summary {os.path.relpath(out, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
