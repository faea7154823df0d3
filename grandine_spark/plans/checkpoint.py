"""Per-stage checkpointing with per-partition lineage and resume.

North-rule machinery (BASELINE.json): every stage checkpoints to a warehouse
table with lineage rows ``(stage, bucket, key_min, key_max, row_count,
digest)`` — the bucket's KEY RANGE (cell range when the key is a cell id,
ordered by the key's own type), row count, and order/partitioning-independent
content digest — so a killed run resumes mid-pipeline and completed work is
verifiable.

The warehouse is a directory per stage. Format:

- ``<stage>/``: the stage table, zstd-compressed parquet;
- ``<stage>__lineage/``: its lineage sidecar, zstd-compressed parquet;
- ``<stage>/_STAGE_DONE``: the marker, the table's Spark schema as JSON.
  It is written last, after the table and the sidecar, through a temp file
  and ``os.replace``, so it exists only once both are complete. Its schema
  lets the read-back and every resumed read skip Spark's schema-inference
  job. A marker that does not parse as a schema (a truncated write, or the
  old ``ok`` marker of a snappy warehouse) means "not done": the stage
  recomputes.

zstd is the codec because it is Iceberg's own Parquet default (since 1.4):
on a production cluster the same API maps 1:1 onto Iceberg tables
(``writeTo(...).createOrReplace()``, snapshot metadata as the marker, a
lineage table instead of the sidecar). The project ships no Iceberg
runtime jar, so the parquet backend is the tested one.

Lineage digests are ORDER- and PARTITIONING-INDEPENDENT: each row hashes via
xxhash64 of its JSON form, rows are bucketed by a deterministic key hash
(NOT spark_partition_id, which is plan-dependent), and the per-bucket digest
is the sum of row hashes mod 2^61 — so local[1] and local[32] produce the
same lineage bytes, which the tests assert.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_DONE = "_STAGE_DONE"
_CODEC = "zstd"
# row hashes bounded to 2^32 so an ANSI-mode SUM stays in int64 up to 2^31
# rows per bucket; the digest folds the sum back mod 2^61
_ROW_MOD = 1 << 32
_MOD = 1 << 61
# the sidecar's columns as ``_lineage`` writes them, so a read needs no
# schema-inference job
_LINEAGE_DDL = (
    "bucket bigint, key_min string, key_max string, row_count bigint, "
    "digest bigint, stage string"
)


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

    def _done_schema(self, stage: str) -> StructType | None:
        """The stage table's schema from its marker; None when the stage is
        not complete (no marker, or one that does not parse as a schema)."""
        try:
            with open(os.path.join(self.table_path(stage), _DONE)) as f:
                return StructType.fromJson(json.load(f))
        except (OSError, ValueError, TypeError, KeyError, AttributeError):
            return None

    def is_done(self, stage: str) -> bool:
        return self._done_schema(stage) is not None

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
                F.col(key_col).alias("_k"),
            )
            .groupBy("bucket")
            .agg(
                # typed min/max, cast after: a numeric key's range is numeric
                F.min("_k").cast("string").alias("key_min"),
                F.max("_k").cast("string").alias("key_max"),
                F.count(F.lit(1)).alias("row_count"),
                F.pmod(F.sum("h"), F.lit(_MOD)).alias("digest"),
            )
            .withColumn("stage", F.lit(stage))
        )

    # -- checkpoint / resume -----------------------------------------------------
    def checkpoint(
        self, df: DataFrame | None, stage: str, key_col: str
    ) -> DataFrame:
        """Write ``df`` as the stage table + lineage, unless the stage is
        already complete — then just read it back (RESUME path, no
        recompute; ``df`` is unused there, so a caller that checked
        :meth:`is_done` passes None instead of planning it). Both reads
        take the schema the writer knew, so neither runs a
        schema-inference job. Returns the checkpointed DataFrame."""
        path = self.table_path(stage)
        schema = self._done_schema(stage)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(path)

        df.write.parquet(path, mode="overwrite", compression=_CODEC)
        out = self.spark.read.schema(df.schema).parquet(path)
        self._lineage(out, stage, key_col).write.parquet(
            self.lineage_path(stage), mode="overwrite", compression=_CODEC
        )
        marker = os.path.join(path, _DONE)
        with open(marker + ".tmp", "w") as f:
            f.write(out.schema.json())
        os.replace(marker + ".tmp", marker)
        return out

    def lineage(self, stage: str) -> DataFrame:
        return self.spark.read.schema(_LINEAGE_DDL).parquet(
            self.lineage_path(stage)
        )

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
