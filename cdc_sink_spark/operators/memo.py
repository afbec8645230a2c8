"""Memo store and schema watching.

Reference: ``internal/staging/memo`` (durable key/value metadata used
for checkpoints and configuration) and ``internal/target/schemawatch``
(periodic snapshots of target-table schemas that drive column mapping).

Spark-first: the memo is a tiny versioned parquet KV (latest value per
key wins by version — the same LWW plan as mutations); schemawatch
reads parquet footers, which is exactly how a Spark target exposes its
schema, and diffs snapshots declaratively.

The memo store follows the artifact rule (operators/artifact.py) at
file level: every file is written under a dot-prefixed temp name and
published complete by one rename, and a published file is never
changed. Compaction publishes one folded file and then removes only
the files it read, so it needs no lock and never moves the store
directory.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F


class Memo:
    """Durable KV with last-write-wins versioning (memo.go Put/Get)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._last_version = 0

    # Appends-per-compaction: every put() adds a parquet file, and get()
    # scans all of them; without a bound a long-running streaming job's
    # per-batch checkpoint writes make frontier reads O(n_batches).
    COMPACT_THRESHOLD = 64

    # Memo ops are single-row driver-side metadata (a progress marker, a
    # frontier stamp). r14: they read/write the SAME versioned-parquet
    # layout through pyarrow directly instead of scheduling a Spark job
    # per op — a put was a createDataFrame + distributed append, a get a
    # read + window + collect, i.e. 2-4 scheduler round-trips (~0.2-0.5 s
    # of pure machinery) per objstore range / streaming micro-batch for
    # one KV row. Files stay cross-readable: schema (k string, v string,
    # version long) is byte-compatible, so stores written by earlier
    # Spark-backed puts keep working and Spark can still read the dir.
    _SCHEMA = None  # lazily built pa.schema

    @classmethod
    def _schema(cls):
        import pyarrow as pa

        if cls._SCHEMA is None:
            cls._SCHEMA = pa.schema(
                [("k", pa.string()), ("v", pa.string()), ("version", pa.int64())]
            )
        return cls._SCHEMA

    def _files(self) -> list[str]:
        try:
            return [
                os.path.join(self.path, f)
                for f in sorted(os.listdir(self.path))
                if f.endswith(".parquet") and not f.startswith(".")
            ]
        except FileNotFoundError:
            return []

    def _publish(self, cols: dict, prefix: str) -> None:
        """Write ``cols`` as a new file, visible only once complete. The
        name is unique (same role as Spark's part-UUID), so concurrent
        writers in any number of processes never write the same file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        name = f"{prefix}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, "." + name)
        pq.write_table(pa.table(cols, schema=self._schema()), tmp)
        os.rename(tmp, os.path.join(self.path, name))

    def put(self, key: str, value: str) -> None:
        # Hybrid version (the HLC pattern): wall clock survives reboots
        # (CLOCK_MONOTONIC restarts at boot and would freeze LWW), and
        # the max() keeps in-process writes monotonic even if NTP steps
        # the clock backwards.
        self._last_version = max(self._last_version + 1, time.time_ns())
        os.makedirs(self.path, exist_ok=True)
        self._publish({"k": [key], "v": [value], "version": [self._last_version]}, "part-memo")
        self._maybe_compact()

    def _read_all(self):
        """All (k, v, version) rows across the append log, and the files
        they were read from — pyarrow footers + tiny column reads, no
        Spark job. A file that vanishes mid-read was folded into a
        published compacted file first, so the read re-lists and
        retries."""
        import pyarrow.parquet as pq

        while True:
            files = self._files()
            try:
                tables = [pq.read_table(f) for f in files]
            except FileNotFoundError:
                continue
            cols = {c: [x for t in tables for x in t.column(c).to_pylist()]
                    for c in ("k", "v", "version")}
            return cols, files

    def _maybe_compact(self) -> None:
        """Fold the append log into one file once it fragments. The
        folded file is published before the files it replaces are
        removed, and only files this compaction read are removed, so a
        concurrent put's file always survives and every value is in
        some published file at every instant. Two concurrent compactions
        at worst publish the same rows twice, which LWW by version
        reads identically. A crash mid-compaction leaves at most one
        hidden temp file and duplicate rows, never a lost value."""
        if len(self._files()) <= self.COMPACT_THRESHOLD:
            return
        rows, files = self._read_all()
        self._publish(rows, "part-memo-compacted")
        for f in files:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass  # a concurrent compaction already folded it

    def get(self, key: str) -> str | None:
        best: tuple[int, str] | None = None
        rows, _ = self._read_all()
        for k, v, ver in zip(rows["k"], rows["v"], rows["version"]):
            if k == key and (best is None or ver > best[0]):
                best = (ver, v)
        return best[1] if best else None


def schema_snapshot(spark: SparkSession, sf_dir: str, tables: list[str]) -> DataFrame:
    """Current (table, position, column, type) snapshot of target tables
    (schemawatch's table-metadata query, via parquet footers)."""
    rows = []
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        for i, f in enumerate(spark.read.parquet(p).schema.fields):
            rows.append(Row(table_name=t, position=i, column_name=f.name,
                            type_name=f.dataType.simpleString()))
    return spark.createDataFrame(rows, "table_name string, position int, column_name string, type_name string")


def schema_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Columns added/removed/retyped between two snapshots — the signal
    schemawatch raises to re-plan column mappings."""
    o = old.select(
        "table_name", "column_name", F.col("type_name").alias("old_type")
    )
    n = new.select(
        "table_name", "column_name", F.col("type_name").alias("new_type")
    )
    j = o.join(n, ["table_name", "column_name"], "full_outer")
    return j.select(
        "table_name",
        "column_name",
        F.when(F.col("old_type").isNull(), F.lit("added"))
        .when(F.col("new_type").isNull(), F.lit("removed"))
        .when(F.col("old_type") != F.col("new_type"), F.lit("retyped"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
        "old_type",
        "new_type",
    ).filter(F.col("change") != "unchanged")
