"""TableIO — thin storage seam so Iceberg is a config swap (SURVEY.md §7).

The north rule targets Iceberg tables; this sandbox has plain parquet. All
reads/writes go through this seam:

- ``format="iceberg"`` → ``spark.read.format("iceberg").load(name)``,
  appends via ``writeTo(name).append()``, snapshot ids available for drift
  pairs;
- ``format="parquet"`` (sandbox default) → path-based parquet with an
  append mode fallback.

Nothing else in the engine knows which one is active.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class TableIO:
    spark: SparkSession
    format: str = "parquet"  # or "iceberg"
    base_path: Optional[str] = None  # parquet root; ignored for iceberg

    def _path(self, name: str) -> str:
        if self.base_path is None:
            return name
        return f"{self.base_path.rstrip('/')}/{name}"

    def read(self, name: str) -> DataFrame:
        if self.format == "iceberg":
            return self.spark.read.format("iceberg").load(name)
        return self.spark.read.parquet(self._path(name))

    def exists(self, name: str) -> bool:
        try:
            self.read(name).schema
            return True
        except Exception:
            return False

    def read_if_exists(self, name: str, schema: StructType) -> Optional[DataFrame]:
        """The table read with its known ``schema``, or None when it does not
        exist. Existence comes from metadata (catalog / filesystem) and the
        parquet read skips schema inference, so neither step runs a job or
        fails analysis."""
        if self.format == "iceberg":
            return self.read(name) if self.spark.catalog.tableExists(name) else None
        path, fs = self._fs_path(name)
        if not fs.exists(path):
            return None
        return self.spark.read.schema(schema).parquet(self._path(name))

    def _fs_path(self, name: str):
        """(Hadoop Path, its FileSystem) for a parquet table path."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self._path(name))
        return p, p.getFileSystem(self.spark._jsc.hadoopConfiguration())

    def append(self, df: DataFrame, name: str, partition_by: Optional[list] = None) -> None:
        if self.format == "iceberg":
            df.writeTo(name).append()
            return
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))

    def delete_partition(self, name: str, col: str, value) -> None:
        """Idempotent-resume primitive: drop one partition's output so a
        re-processed bucket never appends duplicates (at-least-once → exactly-
        once per bucket). No-op when the table/partition doesn't exist."""
        if self.format == "iceberg":
            # honor the no-op contract on a fresh run: the output table does
            # not exist before the first bucket's append
            if not self.spark.catalog.tableExists(name):
                return
            self.spark.sql(f"DELETE FROM {name} WHERE {col} = {value}")
            return
        p, fs = self._fs_path(f"{name}/{col}={value}")
        if fs.exists(p):
            fs.delete(p, True)

    def overwrite(self, df: DataFrame, name: str, partition_by: Optional[list] = None) -> None:
        if self.format == "iceberg":
            df.writeTo(name).createOrReplace()
            return
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))
