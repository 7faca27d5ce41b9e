"""Load-independent structural audit of bench rows: run each named row
under a Spark job group and report jobs / stages / tasks alongside wall
seconds (guide §1 — stage counts are the clean signal on a contended box).

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/stage_audit.py row [row ...]
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.storagelevel import StorageLevel

_spec = importlib.util.spec_from_file_location(
    "explain_bench",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "explain_bench.py"),
)
_eb = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_eb)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

    from llama_spark.entry_queries import load_edges
    from llama_spark.session import get_spark

    spark = get_spark(app_name="stage_audit", cores=cpus, shuffle_partitions=cpus)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    edges = load_edges(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qmap = _eb.build_queries(spark, sf_dir, edges, docs, emb)

    out = {}
    for name in names:
        fn = qmap[name]
        group = f"audit_{name}"
        la0 = open("/proc/loadavg").read().split()[0]
        sc.setJobGroup(group, group)
        t0 = time.time()
        df = fn()
        if df is not None:
            df.write.format("noop").mode("overwrite").save()
        wall = round(time.time() - t0, 2)
        sc.setJobGroup("other", "other")
        jobs = tracker.getJobIdsForGroup(group)
        ns = nt = 0
        for j in jobs:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for s in ji.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None:
                    ns += 1
                    nt += si.numTasks
        out[name] = {"jobs": len(jobs), "stages": ns, "tasks": nt, "sec": wall, "load0": la0}
        print(f"{name}: jobs={len(jobs)} stages={ns} tasks={nt} sec={wall} load0={la0}", flush=True)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
