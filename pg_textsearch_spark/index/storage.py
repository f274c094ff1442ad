"""Segment storage layer: Parquet-dir today, Iceberg when available.

The north rule names Iceberg as the table substrate. This module is
the seam: everything the index writes goes through a ``SegmentStore``,
whose contract mirrors what the reference gets from its paged segment
storage + WAL'd metapage (src/segment/segment.c, src/index/metapage.h):

- segments are immutable once written (write-once per seg_id);
- readers resolve the live segment set through a manifest, never by
  listing storage;
- manifest updates are atomic (readers see the old or the new segment
  set, never a mix) — the metapage-WAL analog;
- dropped segments are physically reclaimed only after the manifest
  commit (the tombstone-chain analog).

``ParquetDirStore`` implements that contract on plain directories with
an atomic-rename manifest (what this sandbox can run).
``IcebergSegmentStore`` maps it onto Iceberg semantics — segment
writes become table appends partitioned by (seg, bucket), the manifest
commit becomes the Iceberg snapshot commit, vacuum/drop becomes
``DELETE WHERE seg = k`` + ``expire_snapshots``. The mapping is
one-to-one because the Parquet layout was designed Iceberg-shaped from
round 1 (partition dirs = identity-partition columns, dir-level
pruning = partition pruning, manifest.json = snapshot metadata).

DOCUMENTED BLOCKER: this environment has no Iceberg runtime jars
(``org.apache.iceberg:iceberg-spark-runtime``) and no network to fetch
them, so ``IcebergSegmentStore`` probes the session and raises a
precise error instead of activating. On a cluster with the jars +
a configured catalog it activates without code changes; the
round-trip test covers the ParquetDirStore path and pins the probe's
error contract.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class SegmentStore:
    """Write-once segment tables + atomic manifest resolution."""

    def write(
        self,
        df: DataFrame,
        table: str,
        seg_id: int,
        partition_by: str | None = None,
        sort_within: list[str] | None = None,
        parquet_block_size: int | None = None,
        shuffle_by: list[str] | None = None,
    ) -> None:
        """``shuffle_by`` decouples shuffle parallelism from the dir
        layout: rows are hash-distributed on these columns (default:
        ``partition_by``) while ``partitionBy`` still writes one dir
        per ``partition_by`` value — needed when the partition column
        has few distinct values (e.g. 4 LSH bands) but the table is
        corpus-sized."""
        raise NotImplementedError

    def read(
        self, spark: SparkSession, table: str, seg_ids: list[int], schema: str
    ) -> DataFrame:
        raise NotImplementedError

    def exists(self, table: str, seg_id: int | None = None) -> bool:
        """Whether ``table`` (or its ``seg_id`` slice) has been
        written. Existence probes MUST come through here, not through
        ``os.path.exists`` on a joined path: on a non-local store
        (Iceberg/object storage) a filesystem probe answers False for
        data that exists, and callers that treat absence as "no
        deletes pending" / "no dictionary yet" would silently degrade
        — resurrecting deleted docs being the worst case (the exact
        failure the explicit-probe pattern was built to prevent)."""
        raise NotImplementedError

    def drop_segment(self, table: str, seg_id: int) -> None:
        raise NotImplementedError


class ParquetDirStore(SegmentStore):
    """table/seg=<id>/[bucket=<b>/]part-*.parquet under the index dir.

    Identity-partitioned exactly like the Iceberg mapping so a future
    switch is a storage swap, not a layout migration.
    """

    def __init__(self, index_dir: str):
        self.index_dir = index_dir

    def _seg_path(self, table: str, seg_id: int) -> str:
        return os.path.join(self.index_dir, table, f"seg={seg_id}")

    def write(
        self,
        df: DataFrame,
        table: str,
        seg_id: int,
        partition_by: str | None = None,
        sort_within: list[str] | None = None,
        parquet_block_size: int | None = None,
        shuffle_by: list[str] | None = None,
    ) -> None:
        if shuffle_by:
            df = df.repartition(*shuffle_by)
        elif partition_by:
            df = df.repartition(partition_by)
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        w = df.write.mode("overwrite")
        if parquet_block_size:
            w = w.option("parquet.block.size", parquet_block_size)
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(self._seg_path(table, seg_id))

    def read(
        self, spark: SparkSession, table: str, seg_ids: list[int], schema: str
    ) -> DataFrame:
        root = os.path.join(self.index_dir, table)
        return (
            spark.read.schema(schema)
            .option("basePath", root)
            .parquet(*[self._seg_path(table, s) for s in seg_ids])
        )

    def exists(self, table: str, seg_id: int | None = None) -> bool:
        if seg_id is None:
            return os.path.exists(os.path.join(self.index_dir, table))
        return os.path.exists(self._seg_path(table, seg_id))

    def drop_segment(self, table: str, seg_id: int) -> None:
        shutil.rmtree(self._seg_path(table, seg_id), ignore_errors=True)


#: how each ParquetDirStore/manifest concept lands in Iceberg — kept
#: next to the code so the mapping is reviewable even where the
#: runtime can't load (see DOCUMENTED BLOCKER above)
ICEBERG_MAPPING = {
    "segment write": "INSERT INTO <catalog>.<db>.<table> (identity-"
                     "partitioned by seg, bucket) — one append per segment",
    "manifest commit": "the Iceberg snapshot commit itself (atomic swap "
                       "of the manifest list); manifest.json's segment "
                       "array becomes a snapshot summary property",
    "read resolution": "time-travel-stable scan of the committed "
                       "snapshot; seg IN (...) is partition pruning",
    "term pruning": "Iceberg file-level column stats (min/max on term) "
                    "replace parquet row-group pushdown one level up",
    "drop/vacuum": "DELETE FROM ... WHERE seg = k, then "
                   "CALL expire_snapshots(...) — the tombstone chain",
    "resumable build": "per-batch appends + snapshot lineage; "
                       "checkpoint.py's batch manifest becomes snapshot "
                       "metadata",
}


class IcebergSegmentStore(SegmentStore):
    """Iceberg-backed store: activates only when the session has an
    Iceberg catalog; otherwise raises with the exact blocker."""

    def __init__(self, spark: SparkSession, catalog: str, database: str):
        self.spark = spark
        self.catalog = catalog
        self.database = database
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if impl is None:
            raise RuntimeError(
                f"no Iceberg catalog configured at spark.sql.catalog."
                f"{catalog}; add the iceberg-spark-runtime jar and set "
                f"spark.sql.catalog.{catalog}=org.apache.iceberg.spark."
                f"SparkCatalog (this sandbox has no Iceberg jars and no "
                f"network — see index/storage.py DOCUMENTED BLOCKER)"
            )

    def _fqn(self, table: str) -> str:
        return f"{self.catalog}.{self.database}.{table}"

    def write(
        self,
        df: DataFrame,
        table: str,
        seg_id: int,
        partition_by: str | None = None,
        sort_within: list[str] | None = None,
        parquet_block_size: int | None = None,
        shuffle_by: list[str] | None = None,
    ) -> None:
        from pyspark.sql import functions as F  # pragma: no cover

        if sort_within:  # pragma: no cover — needs the runtime jars
            df = df.sortWithinPartitions(*sort_within)
        df = df.withColumn("seg", F.lit(int(seg_id)))  # pragma: no cover
        df.writeTo(self._fqn(table)).append()  # pragma: no cover

    def read(
        self, spark: SparkSession, table: str, seg_ids: list[int], schema: str
    ) -> DataFrame:  # pragma: no cover — needs the runtime jars
        ids = ", ".join(str(s) for s in seg_ids)
        return spark.table(self._fqn(table)).filter(f"seg IN ({ids})")

    def exists(
        self, table: str, seg_id: int | None = None
    ) -> bool:  # pragma: no cover — needs the runtime jars
        if not self.spark.catalog.tableExists(self._fqn(table)):
            return False
        if seg_id is None:
            return True
        return bool(
            self.spark.table(self._fqn(table))
            .filter(f"seg = {int(seg_id)}")
            .limit(1)
            .count()
        )

    def drop_segment(self, table: str, seg_id: int) -> None:  # pragma: no cover
        self.spark.sql(
            f"DELETE FROM {self._fqn(table)} WHERE seg = {seg_id}"
        )
