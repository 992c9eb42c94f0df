"""Checkpoint / lineage / resume protocol (SURVEY.md §4 item 3, §7 step 5).

The reference keeps all cross-batch state in driver variables
(DatatoPatternGraph.scala:177-204) — a crash loses everything. Here every
stage writes its output to a deterministic parquet location

    <root>/state/<stage>/batch=<batch_id>/

plus per-partition lineage rows

    lineage(stage, batch_id, partition_id, rows_in, rows_out, sha_ok, wall_ms)

to ``<root>/lineage/stage=<stage>/batch=<batch_id>/``. A (stage, batch) is
"done" iff its _SUCCESS marker AND lineage rows exist; ``run_stage`` skips
done work, making re-runs after failure exact resumes. Writes are
idempotent overwrites of their own directory only.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # ---------------------------------------------------------------- paths
    def stage_path(self, stage: str, batch_id: int) -> str:
        return f"{self.root}/state/{stage}/batch={batch_id}"

    def lineage_path(self, stage: str, batch_id: int) -> str:
        return f"{self.root}/lineage/stage={stage}/batch={batch_id}"

    # ---------------------------------------------------------------- state
    def is_done(self, stage: str, batch_id: int) -> bool:
        return os.path.exists(
            os.path.join(self.stage_path(stage, batch_id), "_SUCCESS")
        ) and os.path.exists(
            os.path.join(self.lineage_path(stage, batch_id), "_SUCCESS")
        )

    def read_stage(self, stage: str, batch_id: int) -> DataFrame:
        return self.spark.read.parquet(self.stage_path(stage, batch_id))

    def read_all_batches(self, stage: str) -> DataFrame:
        return self.spark.read.option("basePath", f"{self.root}/state/{stage}").parquet(
            f"{self.root}/state/{stage}/batch=*"
        )

    def lineage(self) -> DataFrame:
        return self.spark.read.option("basePath", f"{self.root}/lineage").parquet(
            f"{self.root}/lineage/stage=*/batch=*"
        )

    # ----------------------------------------------------------------- run
    def run_stage(
        self,
        stage: str,
        batch_id: int,
        compute: "callable[[], DataFrame]",
        rows_in: "callable[[], int] | None" = None,
        sha_check: "callable[[DataFrame], bool] | None" = None,
        partition_cols: list[str] | None = None,
    ) -> DataFrame:
        """Execute a stage with checkpoint + lineage, or skip if done.

        ``compute`` is only invoked when work is needed (resume skips it
        entirely — no recompute, no lineage rewrite). ``rows_in`` is a
        zero-arg callable (e.g. ``df.count``) for the same reason: a
        skipped stage never runs its input count. ``sha_check``
        receives the *written-and-read-back* output so the invariant is
        verified against what is actually on disk.
        """
        if self.is_done(stage, batch_id):
            return self.read_stage(stage, batch_id)

        n_in = rows_in() if rows_in is not None else -1
        t0 = time.perf_counter()
        df = compute()
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(self.stage_path(stage, batch_id))
        out = self.read_stage(stage, batch_id)

        sha_ok = bool(sha_check(out)) if sha_check is not None else True
        wall_ms = (time.perf_counter() - t0) * 1000.0

        per_part = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows_out"))
        )
        lineage = per_part.select(
            F.lit(stage).alias("stage"),
            F.lit(batch_id).cast("int").alias("batch_id"),
            F.col("partition_id").cast("int"),
            F.lit(n_in).cast("long").alias("rows_in"),
            F.col("rows_out").cast("long"),
            F.lit(sha_ok).alias("sha_ok"),
            F.lit(wall_ms).alias("wall_ms"),
        )
        lineage.coalesce(1).write.mode("overwrite").parquet(
            self.lineage_path(stage, batch_id)
        )
        if not sha_ok:
            # A failed invariant must NOT leave a resumable "done" stage on
            # disk. The lineage rows above keep sha_ok=false for diagnostics,
            # but both _SUCCESS markers are dropped so is_done() stays false
            # and the next run recomputes (and re-checks) instead of silently
            # serving the corrupt output.
            for marker in (
                os.path.join(self.stage_path(stage, batch_id), "_SUCCESS"),
                os.path.join(self.lineage_path(stage, batch_id), "_SUCCESS"),
            ):
                try:
                    os.remove(marker)
                except FileNotFoundError:
                    pass
            raise RuntimeError(
                f"sha256 invariant violated in stage={stage} batch={batch_id}"
            )
        return out
