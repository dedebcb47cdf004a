"""Resumable stage checkpointing with per-partition lineage + metrics.

The reference checkpoints work units as fingerprint-keyed JSON with atomic
tmp+rename writes and a completed-set skip on resume
(pelinker/model_selection_checkpoint.py:122-183, :236-252;
model_selection/runner.py:221-262). Here that pattern is lifted to tables
(SURVEY.md §2.10): every pipeline stage writes its output to
``<root>/<stage>/`` as parquet and appends metric rows

    (run_fingerprint, stage, partition_id, n_rows, wall_ms, status,
     updated_at)

to ``<root>/_metrics/``. On resume, a stage whose output exists with a
matching fingerprint is read back instead of recomputed — the anti-join of
expected-vs-completed work collapses to a directory existence + fingerprint
check because parquet stage outputs are all-or-nothing (Spark's _SUCCESS
commit protocol gives the atomicity the reference got from tmp+rename; on
a real deployment the same class writes to Iceberg tables and gets
snapshot-commit atomicity). StagePolicy picks this or in-memory stages
per run; `release` frees what in-memory stages hold.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsio import fs_exists, fs_mkdirs, fs_read_text, fs_write_text_atomic


def run_fingerprint(config: dict, input_id: str | None = None) -> str:
    """sha256 of sorted-key config JSON plus an input-identity token
    (reference keys work units per (config, input),
    model_selection_checkpoint.py:122-124). Without input identity,
    resuming the same config against different pages would silently read
    back stale stage parquet (ADVICE r1)."""
    payload = {"config": config, "input_id": input_id}
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def input_identity(df: DataFrame) -> str:
    """Cheap, deterministic identity for a source table: scan file paths +
    sizes when file-backed (no data pass), else the logical plan string.
    On Iceberg this would be the snapshot id."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    if files:
        token = ";".join(files)
    else:
        # strip per-construction expression ids (#123) so the same logical
        # input re-built in another session fingerprints identically
        import re

        token = re.sub(
            r"#\d+L?", "#", df._jdf.queryExecution().logical().toString()
        )
    return hashlib.sha256(token.encode()).hexdigest()[:16]


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        config: dict,
        input_df: DataFrame | None = None,
    ):
        self.spark = spark
        self.root = root
        self.fingerprint = run_fingerprint(
            config, input_identity(input_df) if input_df is not None else None
        )
        self.metrics_path = os.path.join(root, "_metrics")
        # Hadoop-FS, not os.makedirs: the checkpoint root lives wherever
        # the stage parquet lives (HDFS/S3 on a real cluster) — a
        # driver-local mkdir/exists would make every resume a silent full
        # recompute there (VERDICT r3 #1).
        fs_mkdirs(spark, root)

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _is_complete(self, stage: str) -> bool:
        p = self._stage_path(stage)
        marker = os.path.join(p, "_FINGERPRINT")
        if not fs_exists(self.spark, os.path.join(p, "_SUCCESS")):
            return False
        if not fs_exists(self.spark, marker):
            return False
        return fs_read_text(self.spark, marker).strip() == self.fingerprint

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Run (or resume) a stage. Returns the stage output DataFrame,
        always backed by parquet so downstream stages re-read columnar data
        rather than re-deriving lineage."""
        path = self._stage_path(name)
        if self._is_complete(name):
            return self.spark.read.parquet(path)

        t0 = time.monotonic()
        df = build()
        df.write.mode("overwrite").parquet(path)
        wall_ms = int((time.monotonic() - t0) * 1000)

        out = self.spark.read.parquet(path)
        part_counts = (
            out.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .count()
            .select(
                F.lit(self.fingerprint).alias("run_fingerprint"),
                F.lit(name).alias("stage"),
                "partition_id",
                F.col("count").alias("n_rows"),
                F.lit(wall_ms).alias("wall_ms"),
                F.lit("complete").alias("status"),
                F.current_timestamp().alias("updated_at"),
            )
        )
        part_counts.write.mode("append").parquet(self.metrics_path)
        fs_write_text_atomic(
            self.spark, os.path.join(path, "_FINGERPRINT"), self.fingerprint
        )
        return out

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self.metrics_path)


def release(*frames: DataFrame) -> None:
    """Free each frame's cache entry and, for a localCheckpoint (also seen
    through column subsets such as ``drop``), the checkpointed RDD's
    blocks, which ``DataFrame.unpersist()`` does not reach. Blocking, so
    storage is back to its earlier level on return. Only release
    checkpoints the caller owns."""
    for df in frames:
        df.unpersist(blocking=True)
        plan = df._jdf.queryExecution().analyzed()
        while plan.nodeName() == "Project" and plan.outputSet().subsetOf(
            plan.child().outputSet()
        ):
            plan = plan.child()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(True)


class StagePolicy:
    """How one link run materializes its stages, chosen once from
    checkpoint_dir. With one, every stage is a resumable parquet
    CheckpointManager stage. Without, a `cache` stage gets a serialized
    MEMORY_AND_DISK persist and a `barrier` stage an eager localCheckpoint
    (lineage truncated out of downstream plans; not recoverable on
    executor loss, which in local mode loses the application anyway).
    `scratch` takes caches that only feed the next barrier and is freed
    once it materializes; `held` is what the run keeps until
    `release(*held)`."""

    def __init__(self, spark, checkpoint_dir, config, input_df=None):
        self.ckpt = (
            CheckpointManager(spark, checkpoint_dir, config, input_df)
            if checkpoint_dir
            else None
        )
        self.scratch: list[DataFrame] = []
        self.held: list[DataFrame] = []

    def stage(self, name, build, cache=False, barrier=False) -> DataFrame:
        if self.ckpt is not None:
            df = self.ckpt.stage(name, build)
        elif barrier:
            df = self.hold(build().localCheckpoint())
        elif cache:
            df = self.hold(build().persist(StorageLevel.MEMORY_AND_DISK))
        else:
            df = build()
        if barrier:
            release(*self.scratch)
            self.scratch.clear()
        return df

    def hold(self, df: DataFrame) -> DataFrame:
        self.held.append(df)
        return df
