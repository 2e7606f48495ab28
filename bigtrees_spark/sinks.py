"""Snapshot sink: atomic table commits, Iceberg-first with parquet fallback.

The north_star targets Iceberg tables ("partition-level digest trees
materialized as Iceberg metadata").  This container ships no Iceberg jars, so
the sink detects a configured Iceberg catalog at runtime: when one exists,
snapshot commits go through `df.writeTo(catalog.ns.table).createOrReplace()`
— Iceberg's atomic metadata-pointer swap — and reads through the catalog.
Otherwise it stages a parquet directory beside the target and publishes via
rename, the strongest commit a plain filesystem offers.  Either way callers
get the same contract: `read()` never observes a half-written snapshot.

Reference analog: the reference writes .bigtree files through a temp path and
relies on the final write being a single file publish; our snapshot commit is
the table-level version of that.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def detect_iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the first configured Iceberg catalog, or None.

    Looks for `spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog`
    (the standard public configuration, Iceberg docs 'Spark Configuration')."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:  # pragma: no cover — session without a live context
        return None
    for k, v in confs:
        parts = k.split(".")
        if (
            len(parts) == 4
            and k.startswith("spark.sql.catalog.")
            and "iceberg" in (v or "").lower()
        ):
            return parts[3]
    return None


class SnapshotSink:
    """Atomic snapshot commits for the engine's state tables.

    mode 'iceberg': writeTo(...).createOrReplace() per commit (atomic in the
    catalog); tables live under `<catalog>.<namespace>.<name>`.
    mode 'parquet': stage `<base>/<name>.next`, then directory-swap — readers
    of the OLD snapshot keep their file handles; new reads see the new dir.
    """

    def __init__(
        self,
        spark: SparkSession,
        base: str,
        catalog: str | None = None,
        namespace: str = "bigtrees",
    ):
        self.spark = spark
        self.base = base.rstrip("/")
        self.catalog = catalog or detect_iceberg_catalog(spark)
        self.namespace = namespace

    @property
    def mode(self) -> str:
        return "iceberg" if self.catalog else "parquet"

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def _path(self, name: str) -> str:
        return f"{self.base}/{name}"

    def exists(self, name: str) -> bool:
        if self.catalog:
            return self.spark.catalog.tableExists(self._ident(name))
        return os.path.exists(self._path(name))

    def read(self, name: str) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(self._ident(name))
        return self.spark.read.parquet(self._path(name))

    def partitioned(self, name: str) -> bool:
        """True when parquet table `name` is laid out in hive-style
        `col=value` directories (an Iceberg table's partitioning lives in
        its metadata and costs readers no directory listing)."""
        if self.catalog:
            return False
        return any("=" in e for e in os.listdir(self._path(name)))

    def append(self, df: DataFrame, name: str) -> None:
        """Add df's rows to table `name`, creating it when absent.  Not a
        snapshot swap: a crash mid-append can leave part of the rows
        visible, so callers make them live through a commit of their own
        (plans/incremental.py: the digests table)."""
        if self.catalog:
            w = df.writeTo(self._ident(name))
            if self.exists(name):
                w.append()
            else:
                w.create()
            return
        df.write.mode("append").parquet(self._path(name))

    def commit_snapshot(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """Replace table `name` with df's contents, atomically."""
        if self.catalog:
            w = df.writeTo(self._ident(name))
            for c in partition_by or []:
                w = w.partitionedBy(c)
            w.createOrReplace()
            return
        path = self._path(name)
        nxt = path + ".next"
        shutil.rmtree(nxt, ignore_errors=True)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(nxt)
        # publish: move old ASIDE (rename, not rmtree), swap staged in, then
        # delete the parked copy.  The no-table window is a single rename gap
        # (rename/rename) instead of a full rmtree(old) duration; a crash in
        # the gap leaves `.next` complete on disk AND the prior snapshot at
        # `.old`, so recovery never has to recompute the dataframe — re-run
        # the commit (idempotent) or restore `.old`.
        old = path + ".old"
        if os.path.exists(path):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(path, old)
        os.rename(nxt, path)
        shutil.rmtree(old, ignore_errors=True)
