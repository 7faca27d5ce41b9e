"""Versioned edge store — LLAMA's multi-level snapshots on parquet.

LLAMA appends one immutable CSR level per checkpoint (init_level,
ll_mlcsr_sp.h:624-713), reads pin a level (RO clone, ll_mlcsr_graph.h:
318-394), a count-based sliding window drops old levels (set_min_level /
delete_level, benchmark.cc:1115-1123), and deletions are max-visible-level
marks on edge values (ll_mlcsr_helpers.h:90-107).

Spark-native equivalents, one concept each:
- level        = one immutable blob + a manifest entry, behind
                 :class:`SnapshotBackend` (``ParquetDirBackend`` default,
                 ``InMemoryBackend`` second tested impl, ``IcebergBackend``
                 plug-in sketch — the runtime jar is absent in this sandbox
                 so it probes and refuses honestly)
- RO clone     = ``read_at(level)`` — union of levels ≤ K minus deletes,
                 immutable by construction
- sliding win  = ``set_min_level(K)`` — manifest marks levels < K dead;
                 ``vacuum()`` physically removes them
- deletion     = delete files per level: ``(src, dst, deleted_at_level)``;
                 an edge is invisible at read level L iff some delete row
                 with deleted_at_level ≤ L matches (LL_VALUE_IS_DELETED)
- flatten      = ``compact()`` — rewrite surviving edges as a single new
                 level (tools/flatten.h:56-212)

The manifest is a JSON file listing levels, paths, row counts and lineage
(parent level), written atomically — the same shape the fixpoint driver
uses for iteration checkpoints.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import join_side

MANIFEST = "graph_manifest.json"


def level_spread_of(edges_with_level: DataFrame) -> DataFrame:
    """Per-spread histogram (tools/level_spread.h:52-155) over a
    DataFrame[src, dst, level]: spread(n) = number of distinct levels
    containing n's out-edges (0 for nodes with no out-edges); returns
    DataFrame[spread, frequency, degree_sum, avg_out_degree], one row per
    occurring spread value.

    One scan + two shuffles — the reference's per-node boolean-array walk
    collapses to groupBy(src).countDistinct(level)."""
    df = edges_with_level
    per_node = df.groupBy(F.col("src").alias("id")).agg(
        F.countDistinct("level").alias("spread"),
        F.count("*").alias("out_degree"),
    )
    all_nodes = (
        df.select(F.col("src").alias("id"))
        .unionAll(df.select(F.col("dst").alias("id")))
        .distinct()
    )
    filled = all_nodes.join(per_node, "id", "left").select(
        "id",
        F.coalesce("spread", F.lit(0)).cast("long").alias("spread"),
        F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
    )
    return (
        filled.groupBy("spread")
        .agg(
            F.count("*").alias("frequency"),
            F.sum("out_degree").alias("degree_sum"),
            F.round(F.sum("out_degree") / F.count("*"), 6).alias("avg_out_degree"),
        )
        .orderBy("spread")
    )


class SnapshotBackend:
    """Storage contract behind :class:`VersionedEdgeStore` (SURVEY §7's
    dual-backend promise). A backend owns two things: the manifest document
    (atomic read/write) and immutable level blobs addressed by an opaque
    ``locator`` string recorded in the manifest. The store's level/delete/
    window/compact LOGIC is backend-independent; swapping Iceberg for
    parquet is a constructor argument, not a rewrite."""

    def read_manifest(self) -> dict:
        raise NotImplementedError

    def write_manifest(self, m: dict) -> None:
        raise NotImplementedError

    def write_level(self, df: DataFrame, level: int) -> tuple[str, int]:
        """Persist one immutable level; return (locator, row_count)."""
        raise NotImplementedError

    def read_level(self, locator: str) -> DataFrame:
        raise NotImplementedError

    def drop_level(self, locator: str) -> None:
        """Physically remove a level blob (vacuum/compact)."""
        raise NotImplementedError


class ParquetDirBackend(SnapshotBackend):
    """Default, tested backend: one parquet directory per level plus a
    JSON manifest, all under ``path`` (works on any Hadoop-visible FS)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path()):
            return {"version": 1, "min_level": 0, "levels": []}
        with open(self._manifest_path()) as f:
            return json.load(f)

    def write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path())

    def write_level(self, df: DataFrame, level: int) -> tuple[str, int]:
        out = os.path.join(self.path, f"level={level}")
        df.write.mode("errorifexists").parquet(out)
        return out, self.spark.read.parquet(out).count()

    def read_level(self, locator: str) -> DataFrame:
        return self.spark.read.parquet(locator)

    def drop_level(self, locator: str) -> None:
        import shutil

        shutil.rmtree(locator, ignore_errors=True)


class InMemoryBackend(SnapshotBackend):
    """Second backend (interface proof + fast tests): levels live as
    eagerly-materialized DataFrames in the session, the manifest in a dict.
    Passes the same store test suite as the parquet backend."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._manifest: dict | None = None
        self._levels: dict[str, DataFrame] = {}

    def read_manifest(self) -> dict:
        if self._manifest is None:
            return {"version": 1, "min_level": 0, "levels": []}
        return json.loads(json.dumps(self._manifest))  # copy, file parity

    def write_manifest(self, m: dict) -> None:
        self._manifest = json.loads(json.dumps(m))

    def write_level(self, df: DataFrame, level: int) -> tuple[str, int]:
        locator = f"mem:level={level}"
        if locator in self._levels:
            raise FileExistsError(locator)  # errorifexists parity
        snap = df.localCheckpoint(eager=True)
        self._levels[locator] = snap
        return locator, snap.count()

    def read_level(self, locator: str) -> DataFrame:
        return self._levels[locator]

    def drop_level(self, locator: str) -> None:
        df = self._levels.pop(locator, None)
        if df is not None:
            df.unpersist()


class IcebergBackend(SnapshotBackend):
    """Iceberg-catalog backend sketch: level blobs are immutable Iceberg
    tables ``{namespace}.level_{K}`` (append-once), the manifest document a
    single-row JSON table — Iceberg's own snapshot log then gives time
    travel / retention on top of the store's level semantics. The runtime
    jar (org.apache.iceberg:iceberg-spark-runtime) is NOT in this sandbox,
    so the constructor probes for it and refuses honestly rather than
    pretending; the parquet backend is the tested default."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"
        try:
            spark.sparkContext._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.spark.SparkCatalog"
            )
        except Exception as exc:  # Py4J ClassNotFound
            raise NotImplementedError(
                "Iceberg runtime jar not on the Spark classpath; use "
                "ParquetDirBackend (same store semantics) or add "
                "iceberg-spark-runtime + a catalog config"
            ) from exc

    def read_manifest(self) -> dict:
        try:
            row = self.spark.table(f"{self.prefix}.manifest").collect()
        except Exception:
            return {"version": 1, "min_level": 0, "levels": []}
        return json.loads(row[0]["doc"]) if row else {
            "version": 1, "min_level": 0, "levels": []
        }

    def write_manifest(self, m: dict) -> None:
        doc = json.dumps(m)
        self.spark.createDataFrame([(doc,)], "doc string").writeTo(
            f"{self.prefix}.manifest"
        ).createOrReplace()

    def write_level(self, df: DataFrame, level: int) -> tuple[str, int]:
        locator = f"{self.prefix}.level_{level}"
        df.writeTo(locator).create()  # fails if it exists — errorifexists parity
        return locator, self.spark.table(locator).count()

    def read_level(self, locator: str) -> DataFrame:
        return self.spark.table(locator)

    def drop_level(self, locator: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {locator}")


class VersionedEdgeStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str | None = None,
        backend: SnapshotBackend | None = None,
    ):
        if backend is None:
            if path is None:
                raise ValueError("need a path (parquet backend) or a backend")
            backend = ParquetDirBackend(spark, path)
        self.spark = spark
        self.path = path
        self.backend = backend

    # ---- manifest (delegated) -------------------------------------------

    def _read_manifest(self) -> dict:
        return self.backend.read_manifest()

    def _write_manifest(self, m: dict) -> None:
        self.backend.write_manifest(m)

    # ---- writes ---------------------------------------------------------

    def _commit(self, df: DataFrame, kind: str) -> int:
        m = self._read_manifest()
        level = (m["levels"][-1]["level"] + 1) if m["levels"] else 0
        locator, rows = self.backend.write_level(df, level)
        m["levels"].append(
            {
                "level": level,
                "path": locator,
                "rows": rows,
                "parent": level - 1 if level > 0 else None,
                "kind": kind,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
        )
        self._write_manifest(m)
        return level

    def append_level(self, edges: DataFrame) -> int:
        """Commit one immutable level of (src, dst[, weight]) — the
        checkpoint() analog. Returns the new level id."""
        return self._commit(edges, "append")

    def delete_edges(self, edges: DataFrame) -> int:
        """Logical delete: commit a delete level. Edges disappear for all
        read levels ≥ the returned level (max-visible-level semantics)."""
        return self._commit(edges.select("src", "dst"), "delete")

    def delete_nodes(self, nodes: DataFrame) -> int:
        """Logical node delete (delete_node, tests/delete_nodes.h:104): a
        node delete at level Ld masks every edge incident to the node in
        appends with level < Ld — the node's out/in degree reads 0 from
        level Ld on. A later append may re-introduce the node (new visible
        edges), exactly like edge re-appends."""
        return self._commit(nodes.select("id"), "delete_nodes")

    # ---- reads ----------------------------------------------------------

    def max_level(self) -> int | None:
        m = self._read_manifest()
        return m["levels"][-1]["level"] if m["levels"] else None

    def read_at(
        self, level: int | None = None, with_level: bool = False
    ) -> DataFrame:
        """RO snapshot at ``level`` (default: latest): union of append
        levels in [min_level, level] minus deleted edges.

        Max-visible-level semantics (ll_mlcsr_helpers.h:96-107): a delete at
        level Ld marks the max visible level on edges that existed BEFORE it
        — it masks only appends with level < Ld. An edge re-appended after a
        delete is a new visible edge: append e @L0, delete e @L1, re-append
        e @L2 → visible again at read_at(2).
        """
        m = self._read_manifest()
        if level is None:
            level = m["levels"][-1]["level"] if m["levels"] else -1
        appends = [
            e for e in m["levels"]
            if e["kind"] == "append" and m["min_level"] <= e["level"] <= level
        ]
        deletes = [
            e for e in m["levels"] if e["kind"] == "delete" and e["level"] <= level
        ]
        if not appends:
            return self.spark.createDataFrame([], "src long, dst long")
        parts = []
        for e in appends:
            parts.append(
                self.backend.read_level(e["path"]).withColumn(
                    "_alevel", F.lit(e["level"]).cast("long")
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if deletes:
            dparts = [
                self.backend.read_level(e["path"])
                .select("src", "dst")
                .withColumn("_dlevel", F.lit(e["level"]).cast("long"))
                for e in deletes
            ]
            dels = dparts[0]
            for p in dparts[1:]:
                dels = dels.unionByName(p)
            dels = dels.distinct()
            # manifest row counts are free — broadcast only small delete sets
            dels = join_side(dels, sum(e["rows"] for e in deletes))
            df = df.alias("a").join(
                dels.alias("d"),
                (F.col("a.src") == F.col("d.src"))
                & (F.col("a.dst") == F.col("d.dst"))
                & (F.col("d._dlevel") > F.col("a._alevel")),
                "left_anti",
            )
        node_deletes = [
            e for e in m["levels"] if e["kind"] == "delete_nodes" and e["level"] <= level
        ]
        if node_deletes:
            nparts = [
                self.backend.read_level(e["path"])
                .select("id")
                .withColumn("_dlevel", F.lit(e["level"]).cast("long"))
                for e in node_deletes
            ]
            ndels = nparts[0]
            for p in nparts[1:]:
                ndels = ndels.unionByName(p)
            ndels = ndels.distinct()
            ndels = join_side(ndels, sum(e["rows"] for e in node_deletes))
            for endpoint in ("src", "dst"):
                df = df.alias("a").join(
                    ndels.alias("n"),
                    (F.col(f"a.{endpoint}") == F.col("n.id"))
                    & (F.col("n._dlevel") > F.col("a._alevel")),
                    "left_anti",
                )
        if with_level:
            return df.withColumnRenamed("_alevel", "level")
        return df.drop("_alevel")

    def level_spread(self, level: int | None = None) -> DataFrame:
        """Per-spread histogram over this store's visible levels — see
        :func:`level_spread_of`."""
        return level_spread_of(self.read_at(level, with_level=True))

    def changed_vertices(self, level: int) -> DataFrame:
        """Nodes touched by the delta committed at ``level`` — the analog of
        LLAMA's sparse per-level representation (ll_mlcsr_sp.h:162-176,
        'iterate only nodes modified in a level'). Feed this to incremental
        recompute: e.g. re-seed label propagation / CC with the previous
        snapshot's labels and only these vertices dirty."""
        m = self._read_manifest()
        entry = next((e for e in m["levels"] if e["level"] == level), None)
        if entry is None:
            return self.spark.createDataFrame([], "id long")
        delta = self.backend.read_level(entry["path"])
        if entry["kind"] == "delete_nodes":
            # node-delete levels store bare ids, not (src, dst) pairs
            return delta.select("id").distinct()
        return (
            delta.select(F.col("src").alias("id"))
            .unionAll(delta.select(F.col("dst").alias("id")))
            .distinct()
        )

    # ---- retention ------------------------------------------------------

    def set_min_level(self, min_level: int) -> None:
        """Sliding-window trim (benchmark.cc:1115-1123): reads no longer see
        appends below min_level; files stay until vacuum()."""
        m = self._read_manifest()
        m["min_level"] = min_level
        self._write_manifest(m)

    def vacuum(self) -> list[int]:
        """Physically drop append levels below min_level (delete_level)."""
        m = self._read_manifest()
        dropped = []
        kept = []
        for e in m["levels"]:
            if e["kind"] == "append" and e["level"] < m["min_level"]:
                self.backend.drop_level(e["path"])
                dropped.append(e["level"])
            else:
                kept.append(e)
        m["levels"] = kept
        self._write_manifest(m)
        return dropped

    def compact(self) -> int:
        """Flatten (tools/flatten.h): rewrite the current visible edge set
        as one fresh level and reset the window to it."""
        current = self.read_at().persist()
        current.count()
        m = self._read_manifest()
        superseded = list(m["levels"])
        level = (m["levels"][-1]["level"] + 1) if m["levels"] else 0
        locator, rows = self.backend.write_level(current, level)
        m["levels"] = [
            {
                "level": level,
                "path": locator,
                "rows": rows,
                "parent": None,
                "kind": "append",
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
        ]
        m["min_level"] = level
        self._write_manifest(m)
        # the old levels are unreachable from the new manifest — reclaim
        # them now (parquet dirs deleted / in-memory checkpoint frames
        # unpinned); leaving them would orphan storage no vacuum() can see
        for e in superseded:
            self.backend.drop_level(e["path"])
        current.unpersist()
        return level
