"""Table IO abstraction: Iceberg when available, parquet fallback.

Reference analog: the BAM open/loop/write plumbing (``gencore.cpp:162-205``,
``gencore.cpp:83-111``) — the one place that knows the storage format.

The production path (BASELINE.json ``north_star``) is Iceberg tables with
snapshot-per-stage checkpointing; the sandbox has no Iceberg runtime jar, so
``TableIO`` probes for the catalog and degrades to directory-of-parquet with
``_SUCCESS`` markers, preserving the same semantics the pipeline relies on:

* **atomic visibility** — a stage snapshot either exists completely (parquet:
  ``_SUCCESS`` present) or is ignored (partial writes are invisible);
* **idempotent overwrite** — re-running a stage replaces the snapshot.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class TableIO:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.iceberg = self._probe_iceberg()

    def _probe_iceberg(self) -> bool:
        try:
            self.spark.conf.get("spark.sql.catalog.gencore")
            return True
        except Exception:
            return False

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(f"gencore.{name}")
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def write(self, df: DataFrame, name: str) -> None:
        if self.iceberg:
            df.writeTo(f"gencore.{name}").createOrReplace()
        else:
            df.write.mode("overwrite").parquet(self._path(name))

    def columns(self, name: str) -> list[str]:
        """Column names of table ``name`` from its metadata, on the driver:
        the footer of one parquet part file (every part of a Spark write
        carries the full schema), no Spark job."""
        if self.iceberg:
            return self.spark.read.table(f"gencore.{name}").columns
        path = self._path(name)
        part = min(f for f in os.listdir(path) if f.endswith(".parquet"))
        return pq.read_schema(os.path.join(path, part)).names

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """Read table ``name``.  A parquet read infers its schema from the
        files in a Spark job; a declared ``schema`` (the one the table was
        just written with) skips it."""
        if self.iceberg:
            return self.spark.read.table(f"gencore.{name}")
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(name))
