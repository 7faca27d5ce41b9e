"""N→4N *executor* scaling via Spark local-cluster mode.

``local[T]`` scales threads inside ONE JVM — at T=32 the tasks contend on
a single shared heap (allocation + GC of shuffle/join buffers), a ceiling
real multi-executor clusters don't have (measured: the same scale-23/25
PageRank iteration costs 1.7-2.1× more core-seconds at local[32] than at
local[8], while a DRAM triad microbenchmark scales linearly to 16 procs —
see BENCH/BASELINE.md). ``local-cluster[N, C, memMB]`` launches N real
Worker JVMs with C cores and separate heaps on this box — the faithful
sandbox expression of "N executors vs 4N executors" in the north rule.

Usage: python scripts/scaling_lc.py [scale] [iters] [n_lo] [cores_per_exec]
Runs local-cluster[n_lo,C,...] then local-cluster[4*n_lo,C,...] on the
same deterministic R-MAT input, prints one JSON line per leg plus the
efficiency summary. Run it on an otherwise idle machine: other load
skews the two legs differently.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import sys, time, json, os
sys.path.insert(0, {repo!r})
import pyspark
os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

n_exec, cores, scale, iters, mem_mb = (int(sys.argv[1]), int(sys.argv[2]),
                                       int(sys.argv[3]), int(sys.argv[4]),
                                       int(sys.argv[5]))
total_cores = n_exec * cores
spark = (
    SparkSession.builder
    .master(f"local-cluster[{{n_exec}},{{cores}},{{mem_mb}}]")
    .appName(f"scaling_lc_{{n_exec}}x{{cores}}")
    .config("spark.sql.shuffle.partitions", str(total_cores))
    .config("spark.executor.memory", f"{{mem_mb - 2048}}m")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.driver.memory", "8g")
    # executor JVMs spawn their own python workers — ship the package the
    # spark-submit --py-files way (PYTHONPATH into the executor env)
    .config("spark.executorEnv.PYTHONPATH", {repo!r})
    .getOrCreate()
)

import pandas as pd
from llama_spark.sources.pages import rmat_endpoints

def gen(it):
    for pdf in it:
        idx = pdf["id"].to_numpy()
        src, dst = rmat_endpoints(idx, scale, seed=42)
        yield pd.DataFrame({{"src": src, "dst": dst}})

n_edges = (1 << scale) * 8
edges = (
    spark.range(0, n_edges, numPartitions=total_cores)
    .mapInPandas(gen, schema="src long, dst long")
    .filter("src <> dst")
    .persist(StorageLevel.MEMORY_AND_DISK)
)
m = edges.count()  # materialize OUTSIDE the timed region

from llama_spark.operators.pagerank import pagerank_result
t0 = time.time()
res = pagerank_result(edges, max_iter=iters)
res.state.count()
wall = time.time() - t0
iter_secs = [mt.seconds for mt in res.metrics]
print(json.dumps({{"n_exec": n_exec, "cores_per_exec": cores, "edges": m,
                   "iters": iters, "wall_sec": round(wall, 1),
                   "iter_secs": [round(x, 2) for x in iter_secs],
                   "min_iter_sec": round(min(iter_secs), 3)}}))
spark.stop()
"""


def run(n_exec: int, cores: int, scale: int, iters: int, mem_mb: int = 22528) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, "-c", WORKER.format(repo=REPO),
         str(n_exec), str(cores), str(scale), str(iters), str(mem_mb)],
        capture_output=True, text=True, timeout=3000, env=env,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(lines[-1])


def main() -> None:
    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 23
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    n_lo = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    cores = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    load0 = open("/proc/loadavg").read().split()[0]
    lo = run(n_lo, cores, scale, iters)
    load1 = open("/proc/loadavg").read().split()[0]
    hi = run(4 * n_lo, cores, scale, iters)
    load2 = open("/proc/loadavg").read().split()[0]
    eff = lo["min_iter_sec"] / hi["min_iter_sec"] / 4.0
    print(json.dumps({
        "job": f"pagerank x{iters}, RMAT scale={scale}, local-cluster "
               f"{n_lo}x{cores} vs {4*n_lo}x{cores} (separate executor JVMs)",
        "lo": lo, "hi": hi,
        "scaling_efficiency_Nto4N": round(eff, 3),
        "loadavg": [load0, load1, load2],
        "timestamp": time.strftime("%Y-%m-%d %H:%M:%S"),
    }))


if __name__ == "__main__":
    main()
