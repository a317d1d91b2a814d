"""Storage adapter: Iceberg-shaped semantics over a local parquet fallback.

On a real cluster the engine targets Iceberg tables (atomic snapshot commits,
``MERGE INTO`` for the checkpoint upsert — replacing the reference's
tmp-file+rename atomicity and timestamp-numbered CSV paths,
/root/reference/app.py:2269-2292, 1281-1291).  This sandbox has no Iceberg
runtime jars, so the adapter exposes the same three verbs with a parquet
implementation; the Iceberg implementation swaps in via ``use_iceberg``.
"""

from __future__ import annotations

import os
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class StorageAdapter:
    """append / merge_upsert / read over a keyed table."""

    def __init__(self, use_iceberg: bool = False) -> None:
        self.use_iceberg = use_iceberg

    # -- parquet implementation (local tests) --

    @staticmethod
    def _local(path: str) -> str:
        """Filesystem view of a local path that may carry a file:// scheme
        (os.path/os.rename need the bare path; Spark accepts either)."""
        return path[len("file://"):] if path.startswith("file://") else path

    def exists(self, spark: SparkSession, path: str) -> bool:
        if self.use_iceberg:
            return spark.catalog.tableExists(path)
        p = self._local(path)
        return os.path.isdir(p) and bool(os.listdir(p))

    def read(self, spark: SparkSession, path: str) -> Optional[DataFrame]:
        if not self.exists(spark, path):
            return None
        if self.use_iceberg:
            return spark.read.table(path)
        return spark.read.parquet(path)

    def append(self, df: DataFrame, path: str) -> None:
        """Atomic append (Iceberg: snapshot commit; parquet: dir append —
        Spark's output committer keeps partial task output invisible)."""
        if self.use_iceberg:
            df.writeTo(path).append()
        else:
            df.write.mode("append").parquet(path)

    def overwrite_partitions(self, df: DataFrame, path: str,
                             partition_cols: List[str]) -> None:
        """Idempotent keyed write: each partition value present in `df`
        REPLACES its previous output instead of appending next to it, so a
        replayed key (crash between output write and lineage commit) cannot
        duplicate rows.  Iceberg: ``overwritePartitions()`` snapshot commit;
        parquet fallback: dynamic partitionOverwriteMode.

        The parquet fallback clusters rows by the partition columns first
        (a REBALANCE hint — Iceberg's hash write distribution), so each key
        is written by one task: one file per key instead of one per (task,
        key) pair.  Rebalance rather than ``repartition(n, *cols)``: AQE
        coalesces the tiny keys into few tasks and splits an oversized key
        at the advisory partition size, so no task ever holds a whole
        run's worth of one key."""
        if self.use_iceberg:
            df.writeTo(path).overwritePartitions()
        else:
            (df.hint("rebalance", *partition_cols)
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy(*partition_cols)
             .parquet(path))

    def merge_upsert(self, spark: SparkSession, path: str, updates: DataFrame,
                     key_cols: List[str], order_col: str) -> None:
        """Upsert by key, newest ``order_col`` wins.

        Iceberg: ``MERGE INTO target USING updates ON keys WHEN MATCHED THEN
        UPDATE ... WHEN NOT MATCHED THEN INSERT``.  Parquet fallback
        (LOCAL FILESYSTEM ONLY — it swaps directories with os.rename):
        read + union + keep latest per key + overwrite (the checkpoint table
        is tiny — one row per partition key — so this stays cheap even at
        10^12-document scale: key cardinality is the bucket count, not the
        row count)."""
        if self.use_iceberg:
            updates.createOrReplaceTempView("_ckpt_updates")
            on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
            spark.sql(
                f"MERGE INTO {path} t USING _ckpt_updates s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            return
        existing = self.read(spark, path)
        merged = updates if existing is None else existing.unionByName(updates)
        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # parquet can't overwrite its own input: stage the merged table
        # beside it, then swap directories.  The compute is distributed (no
        # driver collect); the SWAP is driver-local os.rename, so this
        # fallback is LOCAL-FILESYSTEM ONLY — HDFS/S3/abfs deployments must
        # use the Iceberg path (use_iceberg=True), whose MERGE INTO commit is
        # the real production mechanism.  If a
        # crash lands between the remove and the rename the checkpoint is
        # lost, which is SAFE: the keyed output sink makes a full replay
        # idempotent (overwrite-by-partition-key), just slower.
        import shutil
        if "://" in path and not path.startswith("file://"):
            raise ValueError(
                "parquet merge_upsert fallback swaps directories with local "
                f"os.rename and cannot target {path!r}; use "
                "StorageAdapter(use_iceberg=True) for non-local URIs")
        # the os-level swap needs a FILESYSTEM path: strip a file:// scheme
        # (Spark accepts either spelling for the write itself)
        local = self._local(path)
        staging = path.rstrip("/") + ".staging"
        staging_local = local.rstrip("/") + ".staging"
        shutil.rmtree(staging_local, ignore_errors=True)
        latest.write.mode("overwrite").parquet(staging)
        old = local.rstrip("/") + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(local.rstrip("/")):
            os.rename(local.rstrip("/"), old)
        os.rename(staging_local, local.rstrip("/"))
        shutil.rmtree(old, ignore_errors=True)
