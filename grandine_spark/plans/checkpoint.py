"""Per-stage checkpointing with per-partition lineage and resume.

North-rule machinery (BASELINE.json): every stage checkpoints to a warehouse
table with lineage rows ``(stage, bucket, key_min, key_max, row_count,
digest)`` — the bucket's KEY RANGE (cell range when the key is a cell id),
row count, and order/partitioning-independent content digest — so a killed
run resumes mid-pipeline and completed work is verifiable.

The warehouse is a directory of parquet tables + ``_LINEAGE`` sidecars +
``_STAGE_DONE`` markers. On a production cluster the same API maps 1:1 onto
Iceberg tables (``writeTo(...).createOrReplace()``, snapshot metadata as the
marker, a lineage table instead of the sidecar); the Iceberg runtime jar is
not available in this sandbox, so the parquet backend is the tested one.

Lineage digests are ORDER- and PARTITIONING-INDEPENDENT: each row hashes via
xxhash64 of its JSON form, rows are bucketed by a deterministic key hash
(NOT spark_partition_id, which is plan-dependent), and the per-bucket digest
is the sum of row hashes mod 2^61 — so local[1] and local[32] produce the
same lineage bytes, which the tests assert.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_DONE = "_STAGE_DONE"
# row hashes bounded to 2^32 so an ANSI-mode SUM stays in int64 up to 2^31
# rows per bucket; the digest folds the sum back mod 2^61
_ROW_MOD = 1 << 32
_MOD = 1 << 61


class Warehouse:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 64):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def table_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def lineage_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}__lineage")

    def is_done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self.table_path(stage), _DONE))

    # -- lineage ---------------------------------------------------------------
    def _lineage(self, df: DataFrame, stage: str, key_col: str) -> DataFrame:
        rowhash = F.pmod(
            F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in df.columns]))),
            F.lit(_ROW_MOD),
        )
        bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(self.n_buckets))
        return (
            df.select(
                bucket.alias("bucket"),
                rowhash.alias("h"),
                F.col(key_col).cast("string").alias("_k"),
            )
            .groupBy("bucket")
            .agg(
                F.min("_k").alias("key_min"),
                F.max("_k").alias("key_max"),
                F.count(F.lit(1)).alias("row_count"),
                F.pmod(F.sum("h"), F.lit(_MOD)).alias("digest"),
            )
            .withColumn("stage", F.lit(stage))
        )

    # -- checkpoint / resume -----------------------------------------------------
    def checkpoint(self, df: DataFrame, stage: str, key_col: str) -> DataFrame:
        """Write ``df`` as the stage table + lineage, unless the stage is
        already complete — then just read it back (RESUME path, no
        recompute). Returns the checkpointed DataFrame."""
        path = self.table_path(stage)
        if self.is_done(stage):
            return self.spark.read.parquet(path)

        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        self._lineage(out, stage, key_col).write.mode("overwrite").parquet(
            self.lineage_path(stage)
        )
        with open(os.path.join(path, _DONE), "w") as f:
            f.write("ok")
        return out

    def lineage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path(stage))

    def verify(self, df: DataFrame, stage: str, key_col: str) -> bool:
        """Recompute lineage of ``df`` and compare with the stored one —
        detects divergence between a resumed and a fresh run."""

        def canon(r):
            return (r.key_min, r.key_max, r.row_count, r.digest)

        fresh = {
            r.bucket: canon(r)
            for r in self._lineage(df, stage, key_col).collect()
        }
        stored = {r.bucket: canon(r) for r in self.lineage(stage).collect()}
        return fresh == stored


def anti_join_completed(
    df: DataFrame, completed: DataFrame, keys: list[str]
) -> DataFrame:
    """Partition-level resume: drop work units whose keys already appear in
    the completed table (e.g. tiles already written)."""
    return df.join(completed.select(*keys).distinct(), keys, "left_anti")
