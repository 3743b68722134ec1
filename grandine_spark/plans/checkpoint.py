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

A stage is built lazily: ``checkpoint`` takes a zero-argument builder and
calls it only when the stage is not done, so a resumed stage plans nothing
and runs no driver-side work (e.g. the join's dim build). A stage that runs
is written once through Spark and read back with its known schema (no
footer-inference job). Its lineage is computed by Spark over the READ-BACK
table, so the digest describes what is on disk, and collected to the
driver — at most ``n_buckets`` rows — which writes the sidecar with
pyarrow. The commit is ordered: the sidecar lands by rename of a finished
temporary directory, then ``_STAGE_DONE`` by rename of a temporary file, so
a stage is done only once both are whole.

Lineage digests are ORDER- and PARTITIONING-INDEPENDENT: each row hashes via
xxhash64 of its JSON form, rows are bucketed by a deterministic key hash
(NOT spark_partition_id, which is plan-dependent), and the per-bucket digest
is the sum of row hashes mod 2^61 — so local[1] and local[32] produce the
same lineage bytes, which the tests assert.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

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
    def checkpoint(
        self, build: Callable[[], DataFrame], stage: str, key_col: str
    ) -> DataFrame:
        """Write ``build()`` as the stage table + lineage, unless the stage
        is already complete — then just read it back (RESUME path: ``build``
        is never called). Returns the checkpointed DataFrame."""
        path = self.table_path(stage)
        if self.is_done(stage):
            return self.spark.read.parquet(path)

        df = build()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.schema(df.schema).parquet(path)
        self._write_sidecar(self._lineage(out, stage, key_col), stage)
        tmp = os.path.join(path, _DONE + ".tmp")
        with open(tmp, "w") as f:
            f.write("ok")
        os.replace(tmp, os.path.join(path, _DONE))
        return out

    def _write_sidecar(self, lineage: DataFrame, stage: str) -> None:
        """Collect the lineage rows and write them as the stage's sidecar:
        one parquet file in a temporary directory, renamed into place."""
        table = pa.Table.from_pylist(
            [r.asDict() for r in lineage.collect()],
            schema=to_arrow_schema(lineage.schema),
        )
        dest = self.lineage_path(stage)
        tmp = tempfile.mkdtemp(prefix=f".{stage}__lineage.", dir=self.root)
        try:
            pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
            shutil.rmtree(dest, ignore_errors=True)
            os.replace(tmp, dest)
        finally:  # a no-op once the rename has happened
            shutil.rmtree(tmp, ignore_errors=True)

    def lineage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path(stage))

    def verify(self, df: DataFrame, stage: str, key_col: str) -> bool:
        """Recompute lineage of ``df`` and compare with the stored one —
        detects divergence between a resumed and a fresh run.

        Sidecars written before lineage rows carried key ranges (no
        key_min/key_max columns) are still verifiable: comparison falls back
        to (row_count, digest) per bucket instead of raising on the missing
        columns."""
        stored_df = self.lineage(stage)
        has_range = "key_min" in stored_df.columns

        def canon(r):
            if has_range:
                return (r.key_min, r.key_max, r.row_count, r.digest)
            return (r.row_count, r.digest)

        fresh = {
            r.bucket: canon(r)
            for r in self._lineage(df, stage, key_col).collect()
        }
        stored = {r.bucket: canon(r) for r in stored_df.collect()}
        return fresh == stored


def anti_join_completed(
    df: DataFrame, completed: DataFrame, keys: list[str]
) -> DataFrame:
    """Partition-level resume: drop work units whose keys already appear in
    the completed table (e.g. tiles already written)."""
    return df.join(completed.select(*keys).distinct(), keys, "left_anti")
