"""Checkpointed table store with per-partition lineage and resume.

Iceberg-compatible *semantics* without the Iceberg runtime jar (none is
available offline — survey §4.2): each table commit is

    <root>/<table>/data/<commit_id>/*.parquet   (the snapshot)
    <root>/<table>/_manifest.json               (atomic pointer, written last)

Every commit writes a fresh ``data/<commit_id>/`` directory and the manifest
records which one is live. A manifest that exists and parses = a committed
snapshot. A crashed write leaves an unreferenced commit directory and the
previous manifest untouched, so the old snapshot stays readable and the stage
re-runs — the same atomic-swap contract MERGE-less Iceberg gives us.
Superseded commit directories are deleted only after the manifest swap. With
the Iceberg jar on a real cluster, swap `save`/`load` for
`writeTo(...).createOrReplace()`.

Lineage: every commit appends one row per written data file (= output
partition) to <root>/_lineage (run_id, stage, partition_id, input_files,
row_count, wall_ms, committed_at). The row counts come from the Parquet
footers of the files the commit just wrote, so a commit is one write job plus
one small append, with no read-back of the snapshot. ``partition_id`` numbers
the files in the order of the URIs ``input_file_name()`` reports for them.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from urllib.parse import unquote, urlsplit

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# column types and nullability of the _lineage files; every append keeps them
_PER_FILE = pa.schema([
    pa.field("partition_id", pa.int64()),
    pa.field("row_count", pa.int64(), nullable=False),
])


@dataclass
class TableStore:
    root: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    # -- paths ---------------------------------------------------------------
    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest(self, table: str) -> str:
        return os.path.join(self._dir(table), "_manifest.json")

    def _committed(self, table: str) -> dict | None:
        """The table's manifest if it names a committed snapshot, else None.
        Manifests from before per-commit directories have no ``data`` key;
        their tables count as uncommitted and are recomputed."""
        try:
            with open(self._manifest(table)) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            return None
        return m if "data" in m else None

    # -- commits ---------------------------------------------------------------
    def exists(self, table: str) -> bool:
        """True iff a committed snapshot exists (manifest present + parses)."""
        return self._committed(table) is not None

    def save(
        self,
        df: DataFrame,
        table: str,
        stage: str | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Write snapshot + lineage, manifest last (the atomic pointer)."""
        t0 = time.time()
        spark = df.sparkSession
        stage = stage or table
        commit_id = uuid.uuid4().hex
        path = os.path.join(self._dir(table), "data", commit_id)

        writer = df.write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        wall_ms = int((time.time() - t0) * 1000)

        # Lineage: one row per written data file, with the stage's input
        # files from the logical plan. Built from Arrow batches so the
        # commit path starts no Python workers.
        counts = _file_row_counts(spark, path)
        if counts:
            per_file = spark.createDataFrame(pa.table(
                [pa.array(range(len(counts)), pa.int64()), pa.array(counts, pa.int64())],
                schema=_PER_FILE,
            ))
            lineage = per_file.select(
                F.lit(self.run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                "partition_id",
                F.lit(sorted(df.inputFiles())).cast("array<string>").alias("input_files"),
                "row_count",
                F.lit(wall_ms).alias("wall_ms"),
                F.current_timestamp().alias("committed_at"),
            )
            # one task and one file per commit: the frame is a few rows
            lineage.coalesce(1).write.mode("append").parquet(os.path.join(self.root, "_lineage"))

        manifest = {
            "table": table,
            "stage": stage,
            "run_id": self.run_id,
            "row_count": sum(counts),
            "committed_at": time.time(),
            "schema": df.schema.jsonValue(),
            "partition_by": list(partition_by or []),
            "data": f"data/{commit_id}",
            "version": 2,
        }
        tmp = self._manifest(table) + f".tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(table))  # atomic pointer swap

        # only now is every other commit directory unreferenced
        with os.scandir(os.path.dirname(path)) as entries:
            for entry in entries:
                if entry.name == commit_id:
                    continue
                if entry.is_dir(follow_symlinks=False):
                    shutil.rmtree(entry.path, ignore_errors=True)
                else:
                    os.remove(entry.path)

    def load(self, spark: SparkSession, table: str) -> DataFrame:
        m = self._committed(table)
        if m is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        reader = spark.read
        if not m["partition_by"] or not m["row_count"]:
            # the recorded schema spares the footer-inference job; partition
            # columns are typed by inference, so partitioned snapshots keep
            # it — unless they wrote no file to infer from
            reader = reader.schema(StructType.fromJson(m["schema"]))
        return reader.parquet(os.path.join(self._dir(table), m["data"]))

    def drop(self, table: str) -> None:
        shutil.rmtree(self._dir(table), ignore_errors=True)

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, "_lineage"))


def _file_row_counts(spark: SparkSession, path: str) -> list[int]:
    """Row counts of the non-empty data files under ``path``, read from their
    Parquet footers on the driver (no Spark job), in the order of the URIs
    ``input_file_name()`` reports — Hadoop lists them in exactly that form.
    Skips ``_``/``.`` prefixed files such as ``_SUCCESS``, as Spark's file
    index does."""
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    files = root.getFileSystem(spark._jsc.hadoopConfiguration()).listFiles(root, True)
    found = []
    while files.hasNext():
        uri = files.next().getPath().toUri().toString()
        if uri.rsplit("/", 1)[1].startswith(("_", ".")):
            continue
        n = pq.read_metadata(unquote(urlsplit(uri).path)).num_rows
        if n:
            found.append((uri, n))
    return [n for _, n in sorted(found)]


def run_stages(
    spark: SparkSession,
    store: TableStore,
    stages: list[tuple[str, "callable"]],
    resume: bool = True,
) -> dict[str, str]:
    """Run (table_name, fn(spark, store) -> DataFrame) stages in order,
    skipping any whose snapshot is already committed (resume-from-
    checkpoint). Returns {table: 'computed'|'skipped'}."""
    status = {}
    for table, fn in stages:
        if resume and store.exists(table):
            status[table] = "skipped"
            continue
        df = fn(spark, store)
        store.save(df, table, stage=table)
        status[table] = "computed"
    return status
