"""Generic iterative fixpoint driver with lineage truncation and
checkpoint/resume.

This is the Spark analog of LLAMA's level-synchronized traversal loop
(ll_bfs_template.h:170-292) and the streaming batch loop
(benchmark.cc:1786-1893): the state is a DataFrame keyed by node id, each
iteration is one declarative plan (join + groupBy shuffle), and the driver
loop is the only sequential point.

Scale notes (the two things that kill naive iterative Spark jobs):
- **lineage blowup** — every iteration's plan references the previous one;
  after ~20 iterations analysis time dominates. We truncate with
  ``localCheckpoint(eager=True)`` each iteration and a durable parquet
  checkpoint every ``checkpoint_every`` iterations.
- **resume** — the durable checkpoint is a parquet snapshot of the state
  plus a JSON manifest carrying lineage (iteration number, parent pointer)
  and per-iteration / per-partition metrics, so an interrupted run resumes
  bit-identically (north-rule resumability; LLAMA analog: snapshot levels,
  ll_mlcsr_sp.h:624-713).

Cache lifetime: ``with rounds() as r:`` is the one owner of every frame
an iterative kernel caches — setup tables for the whole call, scratch and
state for one round — and of its per-round ``IterationMetrics``. It
releases them on every exit path, so results come back with no live cache
entry. ``iterate`` runs its loop inside one; kernels whose round does more
than ``state ← step(state)`` (HITS' two half-steps, the spectral stats
probes, the peeling kernels that add each round's selected set to the
result) write the loop themselves against the same scope.
``checkpoint_counted`` is the one observed checkpoint for frames a kernel
checkpoints rather than caches (BFS levels, the ancestor closure): the
row count and any other metric ride the checkpoint job.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from itertools import count

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import materialize_counted

MANIFEST = "manifest.json"

# Observation names must be unique across driver threads: two instances of
# one kernel may run at once (plans/overlap.py). itertools.count.__next__ is
# atomic under the GIL.
_OBS_SEQ = count()


@dataclass
class IterationMetrics:
    iteration: int
    seconds: float
    rows: int
    updated: int | None = None  # convergence delta, if the kernel tracks one
    checkpoint_path: str | None = None
    partition_rows: list[int] | None = None  # per-partition state sizes


@dataclass
class FixpointResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[IterationMetrics] = field(default_factory=list)
    # node count the kernel already materialized (e.g. pagerank's 1/N) —
    # callers that need |V| read it here instead of paying a count() job
    n_nodes: int | None = None


class Rounds:
    """Owner of every frame one iterative call caches, and of its
    per-round metrics. Open it with :func:`rounds`.

    - ``keep(df)`` / ``hold(df)`` — a table every round reads (the node
      set, a cached edge table), held until the scope exits. ``keep``
      counts it at once; ``hold`` leaves it to be cached by the first job
      that reads it.
    - ``cache(df)`` — a frame one round reads more than once: persisted
      lazily, part of that round.
    - ``start(df)`` / ``materialize(df)`` — round state through
      ``graph.materialize_counted`` (one job: lineage truncated, size
      statistics reset), returned with its row count. ``start`` is the
      initial state; ``materialize`` is this round's state and ends the
      round.
    - ``end_round(**fields)`` — ends a round whose state the caller
      materialized itself (``iterate`` and the SCC edge table keep their
      own cadence).
    - ``part(df)`` — a piece of the result (the peeling kernels' selected
      sets, max-flow's original edges and reach set): materialized and
      counted like ``materialize``, held until the scope exits, readable
      after it through its localCheckpoint blocks; ``parts()`` is their
      union in order.

    Ending round k records one ``IterationMetrics`` (seconds since the
    previous round ended) and releases round k-1's frames: the next
    state exists, so nothing reads them again. ``materialize`` also
    releases its own round's ``cache`` frames at once, since the state
    it just built was their only reader. Exit releases the rest on every
    path — return, early return or raise. A state handed back stays
    readable: its cache entry goes, its localCheckpoint blocks do not.

    The scope releases only entries it created. The CacheManager keeps
    one entry per plan, so a frame whose plan the caller (or another
    scope) already cached is read through that entry and left to its
    owner.
    """

    def __init__(self):
        self.metrics: list[IterationMetrics] = []
        self._setup: list[DataFrame] = []
        self._parts: list[DataFrame] = []
        self._prev: list[DataFrame] = []  # frames of the last finished round
        self._cur: list[DataFrame] = []  # frames of the round in progress
        self._t0 = time.time()

    def hold(self, df: DataFrame) -> DataFrame:
        return _persist(df, self._setup)

    def keep(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = self.hold(df)
        return df, df.count()

    def cache(self, df: DataFrame) -> DataFrame:
        return _persist(df, self._cur)

    def start(self, df: DataFrame) -> tuple[DataFrame, int]:
        out, rows = materialize_counted(df)
        self._prev.append(out)  # the state before round 0
        self._t0 = time.time()
        return out, rows

    def materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        out, rows = materialize_counted(df)
        _release(self._cur)
        self._cur.append(out)
        self.end_round(rows=rows)
        return out, rows

    def end_round(self, **fields) -> IterationMetrics:
        now = time.time()
        fields.setdefault("iteration", len(self.metrics))
        fields.setdefault("rows", -1)
        m = IterationMetrics(seconds=now - self._t0, **fields)
        self.metrics.append(m)
        _release(self._prev)
        self._prev, self._cur = self._cur, []
        self._t0 = now
        return m

    def part(self, df: DataFrame) -> tuple[DataFrame, int]:
        out, rows = materialize_counted(df)
        self._parts.append(out)
        return out, rows

    def parts(self) -> DataFrame | None:
        if not self._parts:
            return None
        out = self._parts[0]
        for p in self._parts[1:]:
            out = out.unionByName(p)
        return out

    def close(self) -> None:
        for frames in (self._prev, self._cur, self._parts, self._setup):
            _release(frames)


def _persist(df: DataFrame, frames: list[DataFrame]) -> DataFrame:
    # an already-cached plan is someone else's entry: read it, never own it
    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    frames.append(df)
    return df


def _release(frames: list[DataFrame]) -> None:
    for df in frames:
        df.unpersist()
    frames.clear()


@contextmanager
def rounds() -> Iterator[Rounds]:
    """``with rounds() as r:`` — see :class:`Rounds`."""
    r = Rounds()
    try:
        yield r
    finally:
        r.close()


def checkpoint_counted(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, dict]:
    """``localCheckpoint(eager=True)`` whose metrics ride the same job:
    ``n`` (the row count) plus any aliased aggregate ``metrics``, returned
    as a dict. ``name`` prefixes a process-unique observation name."""
    obs = Observation(f"{name}_{next(_OBS_SEQ)}")
    out = df.observe(obs, F.count(F.lit(1)).alias("n"), *metrics).localCheckpoint(
        eager=True
    )
    return out, obs.get


def _write_manifest(checkpoint_dir: str, entries: list[dict]) -> None:
    tmp = os.path.join(checkpoint_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"version": 1, "iterations": entries}, f, indent=1)
    os.replace(tmp, os.path.join(checkpoint_dir, MANIFEST))


def read_manifest(checkpoint_dir: str) -> list[dict]:
    path = os.path.join(checkpoint_dir, MANIFEST)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["iterations"]


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iter: int,
    updated_count: Callable[[DataFrame, DataFrame], int] | None = None,
    updated_metric=None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    truncate_every: int = 4,
    resume: bool = False,
    name: str = "fixpoint",
) -> FixpointResult:
    """Run ``state ← step(state, i)`` until convergence or ``max_iter``.

    Convergence probes (0 changed rows stops the loop), in preference order:

    ``updated_metric`` — an aggregate *Column* over the new state (e.g.
    ``F.sum(F.col("changed").cast("long"))``), evaluated via
    ``DataFrame.observe`` **inside the eager-checkpoint job** — the probe
    is free: one Spark job per iteration total. This matters at sandbox /
    small-input sizes where per-job overhead (scheduling + barriers +
    driver round-trip) is a measurable per-iteration floor; a separate
    count() job doubles it.

    ``updated_count(prev, new)`` — arbitrary-Python probe (extra job per
    iteration); for probes that need prev AND new, e.g. an L1-delta.

    When both are None the loop always runs exactly ``max_iter`` iterations
    (LLAMA's fixed-iteration PageRank mode, pagerank.h:117:
    ``while (cnt < max)``).

    ``truncate_every`` — lineage-truncation cadence. ``localCheckpoint`` in
    this Spark build drops the materialized frame's output partitioning
    (measured: a join on the checkpointed side re-inserts an
    ENSURE_REQUIREMENTS exchange), so checkpointing EVERY iteration costs
    one avoidable V-row shuffle + stage barrier per iteration. Instead the
    state is persisted (InMemoryTableScan preserves partitioning, so the
    next iteration's id-keyed join needs no exchange) and materialized by
    the probe/count job; only every ``truncate_every``-th iteration pays a
    ``localCheckpoint`` to keep the logical plan flat. Either way it is ONE
    Spark job per iteration.
    """
    spark = state.sparkSession
    entries: list[dict] = []
    start_iter = 0

    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        if resume:
            entries = read_manifest(checkpoint_dir)
            done = [e for e in entries if e.get("checkpoint_path")]
            if done:
                last = done[-1]
                state = spark.read.parquet(last["checkpoint_path"])
                start_iter = last["iteration"] + 1
                entries = [e for e in entries if e["iteration"] < start_iter]

    # The state snapshot lives in the localCheckpoint blocks (MEMORY_AND_DISK)
    # — no extra persist layer, or every iteration double-stores the state
    # and the stale blocks pile up faster than the ContextCleaner drops them.
    state = state.localCheckpoint(eager=True)
    converged = False
    persisted = False

    with rounds() as r:
        for it in range(start_iter, max_iter):
            new_state = step(state, it)
            # Materialize this iteration's plan now — ONE job: either the
            # eager localCheckpoint (truncation iterations) or a count() that
            # builds the persisted cache. The convergence probe rides that
            # same job via observe; row counts are taken opportunistically.
            obs = None
            if updated_metric is not None:
                obs = Observation(f"{name}_it{it}_{next(_OBS_SEQ)}")
                new_state = new_state.observe(obs, updated_metric.alias("updated"))
            persisted = (it - start_iter) % truncate_every != truncate_every - 1
            if persisted:
                new_state = r.cache(new_state)
                new_state.count()
            else:
                new_state = new_state.localCheckpoint(eager=True)

            updated = None
            if obs is not None:
                # metrics fired during the materialization job — no extra job
                updated = int(obs.get["updated"] or 0)
            elif updated_count is not None:
                updated = updated_count(state, new_state)

            rows, path, partition_rows = -1, None, None
            due = it % checkpoint_every == checkpoint_every - 1 or it == max_iter - 1
            if checkpoint_dir and due:
                rows = new_state.count()
                path = os.path.join(checkpoint_dir, f"iter_{it:05d}")
                new_state.write.mode("overwrite").parquet(path)
                # durable state replaces the in-memory one
                new_state = spark.read.parquet(path)
                persisted = False
                partition_rows = [
                    row["count"]
                    for row in new_state.groupBy(F.spark_partition_id().alias("pid"))
                    .count()
                    .orderBy("pid")
                    .collect()
                ]

            state = new_state
            m = r.end_round(
                iteration=it, rows=rows, updated=updated,
                checkpoint_path=path, partition_rows=partition_rows,
            )
            entries.append({k: v for k, v in asdict(m).items() if v is not None} | {"name": name})
            if checkpoint_dir:
                _write_manifest(checkpoint_dir, entries)

            if updated is not None and updated == 0:
                converged = True
                break

        # Hand back a checkpointed frame, never a live CacheManager entry: a
        # persisted final state would outlive the call (callers can't know to
        # unpersist it) — one extra copy job at the END of the loop, not per
        # iteration.
        if persisted:
            state = state.localCheckpoint(eager=True)

    return FixpointResult(
        state=state,
        iterations=start_iter + len(r.metrics),
        converged=converged,
        metrics=r.metrics,
    )
