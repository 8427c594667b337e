"""Table IO: stage snapshots as parquet directories with ``_SUCCESS``.

Reference analog: the BAM open/loop/write plumbing (``gencore.cpp:162-205``,
``gencore.cpp:83-111``) — the one place that knows the storage format.

A snapshot is a directory of parquet part files under ``root``, which gives
the pipeline the two semantics it relies on:

* **atomic visibility** — a stage snapshot either exists completely
  (``_SUCCESS`` present) or is ignored (partial writes are invisible);
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

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def write(self, df: DataFrame, name: str) -> None:
        df.write.mode("overwrite").parquet(self._path(name))

    def columns(self, name: str) -> list[str]:
        """Column names of table ``name`` from its metadata, on the driver:
        the footer of one parquet part file (every part of a Spark write
        carries the full schema), no Spark job."""
        path = self._path(name)
        part = min(f for f in os.listdir(path) if f.endswith(".parquet"))
        return pq.read_schema(os.path.join(path, part)).names

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """Read table ``name``.  A parquet read infers its schema from the
        files in a Spark job; a declared ``schema`` (the one the table was
        just written with) skips it."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(name))
