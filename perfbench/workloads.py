"""The benchmark's workloads: seeded inputs, closed-loop passes, checks.

Each workload has three phases, run by ``run.py`` in one Spark process:

``build_input``  build the input tables from the seed (run several times;
                 the median is part of ``setup_s``);
``reference``    compute the expected outputs in plain Python (untimed);
``one_pass``     one closed-loop pass over the workload's operations: one
                 client issues each operation after the previous one ends.

Operations call the library's public entry points directly.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import reference as ref

WORKLOADS = {
    # R-MAT scale 18 at 3 edges per node: ~111k nodes, over the library's
    # 100k-row state threshold, so the kernels take the shuffle-hash branch.
    "kernels-large": {"kind": "kernels", "scale": 18, "avg_degree": 3},
    # 2^13 generated pages whose edges are appended to the snapshot store
    # in 3 append-only levels; ~8k nodes, so CC broadcasts its state.
    "crawl-refresh": {"kind": "crawl", "scale": 13, "avg_degree": 8, "batches": 3},
    # Not in BENCHMARK.json (see README.md): the kernels at R-MAT scale 14,
    # ~11k nodes, under the threshold, for the broadcast side of the split.
    "kernels-small": {"kind": "kernels", "scale": 14, "avg_degree": 8},
}
# Rounds per PageRank call. A round costs ~0.7-1.4 s (DataFrame) and ~2 s
# (pandas CSR) on 4 cores, so these are kept small enough for one pass to
# fit a run.
ITERS = {"pagerank": 5, "pagerank_csr": 2}
DAMPING = 0.85


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU time the hypervisor gave to others, all CPUs (from /proc/stat):
    a run that other tenants slowed down shows here."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants,
    including children they have reaped (here: this driver, the Spark JVM
    and its Python workers)."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        rest = data[data.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(rest[1])
        cpu[pid] = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


class Bench:
    """One run's state: Spark session, tracer and the records of every
    operation the closed-loop client issued."""

    def __init__(self, spark, tracer, seed: int, work: str, config: dict):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.config = config
        self.parts = spark.sparkContext.defaultParallelism
        self.pass_no = 0
        self.ops: list[dict] = []
        self.fixpoints: list[dict] = []

    def op(self, name: str, span: str, fn, check=None):
        """Run one operation, timed; check its output after the timing.

        An operation fails if it raises or its check does not hold. A JVM
        GC follows every operation so dead cache and checkpoint blocks are
        freed (Spark's ContextCleaner acts only after one)."""
        rec = {"op": name, "pass": self.pass_no, "ok": True, "load_before": loadavg()}
        out = None
        cpu0, steal0 = tree_cpu_s(os.getpid()), steal_s()
        try:
            with self.tracer.span(span, op=name) as s:
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec.update(ok=False, error="raised")
        rec.update(s=s["end"] - s["start"], cpu_s=tree_cpu_s(os.getpid()) - cpu0,
                   steal_s=steal_s() - steal0, span=s["id"], load_after=loadavg())
        self.spark.sparkContext._jvm.System.gc()
        if rec["ok"] and check is not None:
            try:
                rec["ok"] = bool(check(out))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                rec["ok"] = False
            if not rec["ok"]:
                rec["error"] = "output check failed"
                print(f"perfbench: {name}: output check failed", file=sys.stderr)
        self.ops.append(rec)
        return out if rec["ok"] else None

    def fixpoint(self, op: str, result, edges: int) -> None:
        """Keep the per-round seconds a ``FixpointResult`` reports."""
        self.fixpoints.append(
            {"op": op, "edges": edges, "round_s": [m.seconds for m in result.metrics]}
        )


def to_series(df, key: str, value: str) -> pd.Series:
    pdf = df.toPandas()
    return pd.Series(pdf[value].to_numpy(), index=pdf[key].to_numpy())


def timed_builds(w, repeats: int) -> list[float]:
    out = []
    for _ in range(repeats):
        t0 = time.time()
        w.build_input()
        out.append(time.time() - t0)
    return out


# ---- kernels-large (and kernels-small) -------------------------------------


def rmat_arrays(config: dict, seed: int) -> tuple[np.ndarray, np.ndarray]:
    from llama_spark.sources.pages import rmat_endpoints

    draws = np.arange((1 << config["scale"]) * config["avg_degree"], dtype=np.int64)
    return ref.simple_edges(*rmat_endpoints(draws, config["scale"], seed=seed))


class Kernels:
    """R-MAT edge table; per pass PageRank, CSR PageRank and CC."""

    def __init__(self, b: Bench):
        self.b = b
        self.edges = None

    def build_input(self) -> None:
        """The R-MAT edge table, generated in Spark by the library's
        counter-based generator; self loops and duplicate draws dropped."""
        from llama_spark.sources.pages import rmat_endpoints

        b, scale = self.b, self.b.config["scale"]
        seed = b.seed

        def gen(it):
            for pdf in it:
                s, d = rmat_endpoints(pdf["id"].to_numpy(), scale, seed=seed)
                yield pd.DataFrame({"src": s, "dst": d})

        if self.edges is not None:
            self.edges.unpersist()
        with b.tracer.span("sources.rmat_edges"):
            self.edges = (
                b.spark.range(0, (1 << scale) * b.config["avg_degree"], numPartitions=b.parts)
                .mapInPandas(gen, schema="src long, dst long")
                .filter("src <> dst")
                .distinct()
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            self.m = self.edges.count()

    def reference(self) -> None:
        src, dst = rmat_arrays(self.b.config, self.b.seed)
        if len(src) != self.m:
            raise RuntimeError(f"edge table has {self.m} rows, reference {len(src)}")
        self.want = {
            "pagerank": ref.pagerank(src, dst, ITERS["pagerank"], DAMPING),
            "pagerank_csr": ref.pagerank(src, dst, ITERS["pagerank_csr"], DAMPING),
            "cc": ref.components(src, dst),
        }

    def one_pass(self) -> None:
        from llama_spark.operators.components import connected_components_result
        from llama_spark.operators.csr import pagerank_csr_result
        from llama_spark.operators.pagerank import pagerank_result

        b, e = self.b, self.edges
        calls = {
            "pagerank": (lambda: pagerank_result(e, max_iter=ITERS["pagerank"]), "rank", 1e-9),
            "pagerank_csr": (
                lambda: pagerank_csr_result(e, max_iter=ITERS["pagerank_csr"]), "rank", 1e-9),
            "cc": (lambda: connected_components_result(e), "component", 0.0),
        }
        for op, (call, col, rtol) in calls.items():
            b.op(op, f"operators.{op}", self._consumed(call), self._checker(op, col, rtol))

    @staticmethod
    def _consumed(call):
        def run():
            r = call()
            r.state.count()  # the result is used inside the timed region
            return r
        return run

    def _checker(self, op: str, col: str, rtol: float):
        def check(r) -> bool:
            self.b.fixpoint(op, r, self.m)
            return ref.same_values(to_series(r.state, "id", col), self.want[op], rtol)
        return check


# ---- crawl-refresh -------------------------------------------------------


class Crawl:
    """Generated pages; per pass: pages → edge table and url dictionary,
    then per append-only level: append, read the snapshot, warm-started CC;
    then compact the store."""

    def __init__(self, b: Bench):
        self.b = b
        self.pages = None

    def build_input(self) -> None:
        from llama_spark.sources.pages import generate_pages

        b, c = self.b, self.b.config
        if self.pages is not None:
            self.pages.unpersist()
        with b.tracer.span("sources.generate_pages"):
            self.pages = generate_pages(
                b.spark, scale=c["scale"], avg_degree=c["avg_degree"], seed=b.seed
            ).persist(StorageLevel.MEMORY_AND_DISK)
            self.pages.count()

    def reference(self) -> None:
        pdf = self.pages.select("url", "html").toPandas()
        self.want_links = ref.page_links(pdf["url"], pdf["html"])

    def _check_ingest(self, out) -> bool:
        edges, dictionary = out
        d = dictionary.toPandas()
        ids = pd.Series(d["id"].to_numpy(), index=d["url"].to_numpy())
        if not np.array_equal(np.sort(ids.to_numpy()), np.arange(len(ids))):
            return False  # ids must be dense
        w = self.want_links
        want = np.stack([ids.reindex(w["src_url"]), ids.reindex(w["dst_url"])], axis=1)
        got = edges.toPandas()[["src", "dst"]].to_numpy()
        if np.isnan(want).any() or len(got) != len(want):
            return False
        return bool(np.array_equal(
            np.unique(got, axis=0), np.unique(want.astype(np.int64), axis=0)))

    def one_pass(self) -> None:
        from llama_spark.operators.components import connected_components_result
        from llama_spark.sources.edges import edges_from_pages
        from llama_spark.streaming.snapshots import VersionedEdgeStore

        b, k_levels = self.b, self.b.config["batches"]
        out = b.op("ingest", "sources.edges_from_pages",
                   lambda: edges_from_pages(self.pages), self._check_ingest)
        if out is None:
            return
        edges, dictionary = out
        # append-only levels: a seeded hash splits the edges into batches
        bucket = F.pmod(F.xxhash64("src", "dst", F.lit(b.seed)), F.lit(k_levels))
        path = os.path.join(b.work, f"store-{b.pass_no}")
        store = VersionedEdgeStore(b.spark, path=path)
        labels = None

        for k in range(k_levels):
            def refresh(batch=edges.filter(bucket == k), prev=labels):
                t = b.tracer
                with t.span("snapshots.append_level"):
                    level = store.append_level(batch)
                with t.span("snapshots.read_at"):
                    snap = store.read_at(level).persist(StorageLevel.MEMORY_AND_DISK)
                    n = snap.count()
                with t.span("operators.refresh_cc"):
                    r = connected_components_result(snap, initial_components=prev)
                    r.state.count()
                snap.unpersist()
                return level, n, r

            res = b.op("refresh", "refresh", refresh)
            if res is None:
                break
            level, n, r = res
            b.fixpoint("refresh_cc", r, n)
            b.ops[-1]["level_bytes"] = dir_bytes(os.path.join(path, f"level={level}"))
            if labels is not None:
                labels.unpersist()
            labels = r.state

        def final_labels_match(_level) -> bool:
            snap = store.read_at().toPandas()
            want = ref.components(snap["src"].to_numpy(), snap["dst"].to_numpy())
            return len(snap) == edges.count() and ref.same_values(
                to_series(labels, "id", "component"), want)

        if labels is not None:
            b.op("compact", "snapshots.compact", store.compact, final_labels_match)
            labels.unpersist()
        edges.unpersist()
        dictionary.unpersist()
        shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(path) for f in files
    )


def make(b: Bench):
    return Kernels(b) if b.config["kind"] == "kernels" else Crawl(b)
