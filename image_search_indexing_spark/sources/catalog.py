"""Iceberg-style checkpoint catalog: snapshot metadata + atomic pointer swap.

PySpark in this sandbox bundles no Iceberg runtime (and there is no
network for ``--packages``), so checkpointing is carried by a thin
catalog abstraction with Iceberg's *semantics* (SURVEY.md §7.2):

- **data files**: immutable parquet under ``data/<table>/round=<n>/``
  (appends are new rounds; the seen table is bucket-partitioned inside
  each round directory for pruning).
- **snapshot metadata**: ``metadata/snapshot-<n>.json`` records, per
  snapshot: round id, parent snapshot, the *explicit list* of data paths
  per table (a manifest — readers never glob), each table's schema (as
  Iceberg's table metadata does, so a read infers nothing from the files),
  per-partition lineage (rows per bucket per round) and the round's
  counters.
- **atomic commit**: ``metadata/version-hint.txt`` is replaced by
  write-to-temp + fsync + ``os.replace`` + directory fsync, so a killed
  job never exposes a half-written snapshot, and a power/page-cache loss
  cannot leave the hint pointing at a snapshot json that is not on disk
  (the durability contract Iceberg's HadoopTableOperations provides).

Swap-in of real Iceberg (``spark.read.format("iceberg")`` + snapshot
pinning) is a drop-in replacement for this class when the runtime jars are
available; the round driver only uses this interface.

Reference analog: job chaining with intermediate dirs + idempotent output
(``FullImageIndexerJob.java:44-69``, ``ImageIndexerWithDupsJob.java:414-416``,
latest-output-dir selection ``DupDigestMergerJob.java:252-273`` — here the
version hint replaces the "max numeric suffix" convention).
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _holds_data(path: str) -> bool:
    """Whether a data directory holds a data file at any depth (Spark's
    hidden ``_``/``.`` names, e.g. ``_SUCCESS``, do not count)."""
    for _, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


class Catalog:
    def __init__(self, root: str) -> None:
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        # the schema of each data directory written since the last commit
        self._written: dict[str, dict] = {}

    # -- snapshot pointer ---------------------------------------------------

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.txt")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def snapshot(self, snapshot_id: int | None = None) -> dict[str, Any] | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        with open(os.path.join(self.meta_dir, f"snapshot-{sid}.json")) as f:
            return json.load(f)

    # -- writes ---------------------------------------------------------------

    def write_table(
        self, df: DataFrame, table: str, round_id: int, partition_by: list[str] | None = None
    ) -> str:
        """Write one immutable data directory for (table, round)."""
        path = os.path.join(self.data_dir, table, f"round={round_id}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        self._written[path] = json.loads(df.schema.json())
        return path

    def commit(
        self,
        round_id: int,
        tables: dict[str, list[str]],
        counters: dict[str, int],
        lineage: dict[str, Any],
        parent: int | None,
    ) -> int:
        """Write snapshot json, then atomically swing the version pointer.

        Each table's schema is that of its last listed path, written since
        the last commit, or else the parent snapshot's (the table was
        carried). A table carried from a manifest without schemas gets
        none, and its reads infer one."""
        sid = (parent + 1) if parent is not None else 0
        carried = (self.snapshot(parent) if parent is not None else None) or {}
        schemas = {}
        for table, paths in tables.items():
            schema = self._written.get(paths[-1]) if paths else None
            schema = schema or carried.get("schemas", {}).get(table)
            if schema is not None:
                schemas[table] = schema
        snap = {
            "snapshot_id": sid,
            "parent": parent,
            "round": round_id,
            "tables": tables,
            "schemas": schemas,
            "counters": counters,
            "lineage": lineage,
        }
        snap_path = os.path.join(self.meta_dir, f"snapshot-{sid}.json")
        self._durable_replace(snap_path, json.dumps(snap, indent=1, sort_keys=True))
        self._durable_replace(self._hint_path(), str(sid))
        self._written.clear()
        return sid

    def _durable_replace(self, path: str, content: str) -> None:
        """write-temp + fsync + rename + dir fsync: atomic AND durable."""
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        dir_fd = os.open(os.path.dirname(path), os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)

    # -- reads ----------------------------------------------------------------

    def read_table(
        self, spark: SparkSession, table: str, snapshot: dict[str, Any] | None = None
    ) -> DataFrame | None:
        """Read a table exactly as listed in the snapshot manifest, with the
        schema the manifest records (no inference job); a manifest without
        one infers it from the files.

        ``None`` means the table is absent: not listed, or every listed
        path exists but holds no data files (e.g. empty rounds). A listed
        path missing on disk raises ``FileNotFoundError``: reading it as
        empty would, for the seen table, silently reschedule its URLs."""
        snap = snapshot or self.snapshot()
        if snap is None:
            return None
        paths = snap["tables"].get(table)
        if not paths:
            return None
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"table {table!r}: the snapshot manifest lists {missing}, not on disk"
            )
        reader = spark.read.option("basePath", os.path.join(self.data_dir, table))
        schema = snap.get("schemas", {}).get(table)
        if schema is not None:
            # given a schema, Spark reads directories without data files as
            # 0 rows, where inference raises
            if not any(_holds_data(p) for p in paths):
                return None
            df = reader.schema(StructType.fromJson(schema)).parquet(*paths)
        else:
            from pyspark.errors.exceptions.captured import AnalysisException

            try:
                df = reader.parquet(*paths)
            except AnalysisException:
                return None  # every listed path holds no data files
        # `round=` is physical layout (snapshot lineage), not table schema
        return df.drop("round")
