"""Per-partition lineage + idempotent resume (north rule).

Every stage that materializes results also emits one lineage row per
work cell:

    (stage, cell_id, row_count, checksum, completed_at)

checksum is an order-independent content digest: the per-row md5 of
the canonical row JSON is truncated to 60 bits and summed modulo 2^61
— commutative, so the digest is identical regardless of partitioning
or execution order (the same property that lets the zonal aggs
bit-match under any plan). Both the sum and count are computed
map-side (partial agg) — no extra shuffle beyond the cell groupBy.

Resume protocol (FIXTURES.md §9):
    pending = all_cells ANTI JOIN lineage ON (stage, cell_id)
Re-running a completed stage is a no-op; deleting a lineage row (or a
corrupt checksum mismatch) re-enqueues exactly that cell.

Storage is a parquet directory in the sandbox (the Iceberg catalog
jars are not shipped here); the write pattern (append-only lineage +
data partitioned by cell) maps 1:1 to Iceberg table appends.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

CHECKSUM_MOD = 1 << 61


def row_digest_col(df: DataFrame, exclude=("cell_id",)) -> F.Column:
    """Order-independent 60-bit content digest of a row."""
    cols = [c for c in df.columns if c not in exclude]
    canon = F.to_json(F.struct(*[F.col(c) for c in sorted(cols)]))
    return F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")


def lineage_rows(df: DataFrame, stage: str, cell_col: str = "cell_id") -> DataFrame:
    """(stage, cell_id, row_count, checksum) aggregated per cell."""
    digest = row_digest_col(df, exclude=(cell_col,))
    return (
        df.withColumn("_digest", digest)
        .groupBy(F.col(cell_col).alias("cell_id"))
        .agg(
            F.count("*").alias("row_count"),
            # sum in exact decimal(38,0): a long sum of 60-bit digests
            # overflows int64 (ANSI throw) after ~8 rows per cell; the
            # decimal sum is exact, so sum % 2^61 equals the
            # arbitrary-precision python golden
            (
                F.sum(F.col("_digest").cast("decimal(38,0)"))
                % F.lit(CHECKSUM_MOD)
            )
            .cast("long")
            .alias("checksum"),
        )
        .select(
            F.lit(stage).alias("stage"),
            "cell_id",
            "row_count",
            "checksum",
            F.current_timestamp().alias("completed_at"),
        )
    )


class CheckpointTable:
    """Append-only lineage store + resumable stage runner."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.lineage_path = os.path.join(root, "_lineage")

    def lineage(self) -> DataFrame:
        try:
            return self.spark.read.parquet(self.lineage_path)
        except Exception:
            return local_frame(
                self.spark,
                [],
                "stage string, cell_id long, row_count long, "
                "checksum long, completed_at timestamp",
            )

    def completed_cells(self, stage: str) -> DataFrame:
        return self.lineage().filter(F.col("stage") == stage).select("cell_id")

    def pending_cells(self, stage: str, all_cells: DataFrame) -> DataFrame:
        """all_cells: DataFrame with a cell_id column. Anti-join against
        completed lineage."""
        return all_cells.select("cell_id").distinct().join(
            self.completed_cells(stage), "cell_id", "left_anti"
        )

    def run_stage(
        self,
        stage: str,
        work: DataFrame,
        cell_col: str = "cell_id",
    ) -> tuple[int, int]:
        """Materialize `work` for pending cells only; append data +
        lineage. Returns (cells_processed, rows_written). Idempotent:
        a second call processes 0 cells."""
        pending = self.pending_cells(
            stage, work.select(F.col(cell_col).alias("cell_id"))
        )
        n_cells = pending.count()
        if n_cells == 0:
            return 0, 0
        # persisted: the row count and both writes read the cached rows
        # instead of each re-running `work` and the anti-join
        todo = work.join(
            F.broadcast(pending.withColumnRenamed("cell_id", cell_col)),
            cell_col,
            "inner",
        ).persist()
        try:
            rows = todo.count()
            data_path = os.path.join(self.root, stage)
            todo.write.mode("append").parquet(data_path)
            lin = lineage_rows(todo, stage, cell_col)
            lin.write.mode("append").parquet(self.lineage_path)
            return n_cells, rows
        finally:
            todo.unpersist()

    def verify_stage(self, stage: str) -> DataFrame:
        """Recompute checksums from the stored data and compare with
        the lineage rows: (cell_id, ok). Detects partial/corrupt
        writes before trusting a resume."""
        data = self.spark.read.parquet(os.path.join(self.root, stage))
        fresh = lineage_rows(data, stage).select(
            "cell_id",
            F.col("row_count").alias("rc2"),
            F.col("checksum").alias("ck2"),
        )
        lin = self.lineage().filter(F.col("stage") == stage)
        return lin.join(fresh, "cell_id", "left").select(
            "cell_id",
            (
                (F.col("row_count") == F.col("rc2"))
                & (F.col("checksum") == F.col("ck2"))
            ).alias("ok"),
        )
