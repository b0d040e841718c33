"""Operational tables: checkpoints, lineage, metrics (FIXTURES.md §6).

Replaces the reference's filesystem metadata (execution_info.json /
metadata.json / summary.json — reference src/utils/batch_utils.py:156-164,
src/llm/openai_batch_processor.py:147-157) with three append-only tables.
Resume = left-anti join of input docs against the checkpoint table — the
exact semantics of the reference's processed_item_ids skip
(reference src/runners/run_llm_task.py:37-49).

Parquet-append here; on Iceberg these become ``writeTo(...).append()`` on
unpartitioned tables (tiny relative to the data plane).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .session import local_frame


class OpsStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # table name -> (path, schema): the one map read() and compact() use
        self.tables = {
            name: (os.path.join(root, name), schema)
            for name, schema in (("checkpoints", schemas.CHECKPOINTS),
                                 ("lineage", schemas.LINEAGE),
                                 ("metrics", schemas.METRICS),
                                 ("runs", schemas.RUNS))
        }
        (self.checkpoints_path, self.lineage_path,
         self.metrics_path, self.runs_path) = (p for p, _ in self.tables.values())

    # -- run registry (SURVEY §2.3 rows 20-21) ------------------------------
    def next_run_id(self) -> str:
        """Allocate run_{max(run_num)+1} and register it — the reference's
        next-version counter (reference src/utils/batch_utils.py:117-158)."""
        nums = [r["run_num"] for r in self.read("runs").select("run_num").collect()]
        n = (max(nums) + 1) if nums else 1
        run_id = f"run_{n}"
        # read("runs") above already ran _recover for this path
        local_frame(
            self.spark, [(run_id, n)], "run_id string, run_num int"
        ).withColumn("created_at", F.current_timestamp()).write.mode("append").parquet(
            self.runs_path
        )
        return run_id

    def latest_run_id(self) -> str | None:
        """Highest-numbered registered run — the reference's latest-version
        pick (reference src/utils/batch_utils.py:95-115)."""
        rows = self.read("runs").orderBy(F.desc("run_num")).limit(1).collect()
        return rows[0]["run_id"] if rows else None

    # -- checkpoints --------------------------------------------------------
    def processed_docs(self, run_id: str, stage: str) -> DataFrame:
        self._recover(self.checkpoints_path)
        if not os.path.isdir(self.checkpoints_path):
            return local_frame(self.spark, [], schemas.CHECKPOINTS).select("doc_id")
        cp = self.spark.read.schema(schemas.CHECKPOINTS).parquet(self.checkpoints_path)
        return cp.filter(
            (F.col("run_id") == run_id) & (F.col("stage") == stage)
        ).select("doc_id")

    def checkpoint_docs(self, run_id: str, stage: str, docs: DataFrame,
                        id_col: str = "doc_id") -> None:
        out = docs.select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col(id_col).alias("doc_id"),
            F.spark_partition_id().alias("partition_id"),
            F.current_timestamp().alias("updated_at"),
        )
        # _recover BEFORE every append, not just reads: a crash between
        # compact()'s two renames leaves the table parked at __retired; an
        # append that recreated the live dir first would make the next
        # _recover treat the swap as completed and delete the entire
        # history sitting in __retired.
        self._recover(self.checkpoints_path)
        out.write.mode("append").parquet(self.checkpoints_path)

    # -- lineage ------------------------------------------------------------
    def log_lineage(self, run_id: str, stage: str, input_rows: int,
                    output_rows: int, dropped_rows: int, status: str = "ok") -> None:
        row = self.spark.sql(
            "SELECT current_timestamp() AS started_at, current_timestamp() AS finished_at"
        ).select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.lit(-1).cast("int").alias("partition_id"),  # -1 = whole-stage row
            F.lit(input_rows).cast("long").alias("input_rows"),
            F.lit(output_rows).cast("long").alias("output_rows"),
            F.lit(dropped_rows).cast("long").alias("dropped_rows"),
            "started_at", "finished_at",
            F.lit(status).alias("status"),
        )
        self._recover(self.lineage_path)  # see checkpoint_docs
        row.write.mode("append").parquet(self.lineage_path)

    def log_partition_lineage(self, run_id: str, stage: str, df: DataFrame) -> None:
        """Per-partition row counts (north rule: per-partition lineage)."""
        per_part = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
            F.count(F.lit(1)).alias("output_rows")
        )
        out = per_part.select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col("partition_id").cast("int"),
            F.col("output_rows").alias("input_rows"),
            F.col("output_rows"),
            F.lit(0).cast("long").alias("dropped_rows"),
            F.current_timestamp().alias("started_at"),
            F.current_timestamp().alias("finished_at"),
            F.lit("ok").alias("status"),
        )
        self._recover(self.lineage_path)  # see checkpoint_docs
        out.write.mode("append").parquet(self.lineage_path)

    # -- metrics ------------------------------------------------------------
    def log_metrics(self, run_id: str, stage: str, values: dict[str, float]) -> None:
        rows = [(run_id, stage, k, float(v)) for k, v in values.items()]
        self._recover(self.metrics_path)  # see checkpoint_docs
        local_frame(self.spark, rows, schemas.METRICS).write.mode("append").parquet(
            self.metrics_path
        )

    def read(self, which: str) -> DataFrame:
        path, schema = self.tables[which]
        self._recover(path)
        if not os.path.isdir(path):
            return local_frame(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(path)

    # -- small-file hygiene (the ops-plane rewrite_data_files analog) --------
    @staticmethod
    def _n_files(path: str) -> int:
        if not os.path.isdir(path):
            return 0
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))

    @staticmethod
    def _recover(path: str) -> None:
        """Finish or roll back a compaction swap a crash interrupted.
        ``__retired`` holds the pre-swap dir; ``__compact`` the rewrite. If
        the rewrite finished (_SUCCESS), install it; else restore the
        original. Idempotent and cheap (three existence checks)."""
        import shutil

        retired, tmp = path + "__retired", path + "__compact"
        if os.path.isdir(path):
            # swap completed (or never started): drop leftovers
            shutil.rmtree(retired, ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
            return
        if os.path.isdir(retired):
            if os.path.exists(os.path.join(tmp, "_SUCCESS")):
                os.rename(tmp, path)
                shutil.rmtree(retired, ignore_errors=True)
            else:
                shutil.rmtree(tmp, ignore_errors=True)
                os.rename(retired, path)

    def compact(self, max_files: int = 64) -> dict[str, int]:
        """Rewrite any ops table holding more than ``max_files`` parquet
        files into one file (VERDICT r2 #8): every micro-batch appends a
        file per table, and after thousands of batches EVERY resume's
        anti-join re-reads thousands of file footers. The pipeline calls
        this with the default threshold each batch (an os.listdir per
        table — cheap), so the footer count stays bounded while recent
        appends keep their fast path. Swap is crash-safe via _recover:
        write aside, rename the live dir out, rename the rewrite in.
        Returns {table: files_before} for what was compacted."""
        import shutil

        done: dict[str, int] = {}
        for which, (path, _) in self.tables.items():
            self._recover(path)
            n = self._n_files(path)
            if n <= max_files:
                continue
            df = self.read(which)
            tmp, retired = path + "__compact", path + "__retired"
            shutil.rmtree(tmp, ignore_errors=True)
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            os.rename(path, retired)
            os.rename(tmp, path)
            shutil.rmtree(retired, ignore_errors=True)
            done[which] = n
        return done
