"""SparkSession factory tuned for the sandbox (local[N]) while keeping
cluster-honest defaults: AQE on (skew-join split), Arrow on, shuffle
partitions sized to cores not 200."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

# the directory holding the geokit_spark package: workers need it on
# their path to import the daemon module below and any UDF's module,
# whatever directory the driver was started from
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app: str = "geokit_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # local[N] puts driver + executor + every task thread in ONE JVM,
    # so heap must be sized per task slot like an executor would be
    # (guide: size memory to concurrent tasks, not a flat constant).
    # 1.5 GiB/slot, floor 16g: at 32 cores the former flat 16g default
    # left 0.5 GiB/slot and the bench's 80M-row stages accrued GC debt
    # that inflated every LATER stage ~15-30% (measured: suite 40.7 ->
    # 35.9 s, ann_topk_large 7.4-8.8 -> 6.5 s at 48g, retries 5 -> 1).
    # SPARK_DRIVER_MEM still overrides for other geometries.
    default_mem = f"{max(16, (3 * cores + 1) // 2)}g"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_mem),
        )
        .config("spark.ui.enabled", "false")
        # Python workers start from geokit_spark.worker_entry, which
        # stops each task re-reading Spark's bundled zips (see there)
        .config("spark.python.daemon.module", "geokit_spark.worker_entry")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, data, schema: str | None = None) -> DataFrame:
    """A DataFrame from driver-side data, handed to the JVM as Arrow.

    ``data`` is a list of row tuples with a DDL ``schema``, or a pandas
    DataFrame (``schema`` optional). Spark builds a list, and an empty
    pandas frame, as a Python RDD: every run of the plan then starts
    Python tasks and a second pool of workers (a 4-row frame: ~0.2 s
    wall per run on a 4-vCPU box, ~0.5 s and ~1 s of worker CPU under
    Spark's own daemon). An Arrow table is parallelised by the JVM (a
    local relation when small) and starts no Python task. Every frame the package builds on
    the driver goes through here (tests/test_worker_entry.py checks).
    """
    if isinstance(data, pd.DataFrame):
        table = pa.Table.from_pandas(data, preserve_index=False)
        return spark.createDataFrame(table, schema)
    struct = DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*data)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def load_tables(spark: SparkSession, sf_dir: str, names=None) -> dict:
    names = names or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
