"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the same confs are what we'd set on a
1000-executor cluster (AQE on, skew-join handling, partition sizing),
so plans exercised in tests are the plans we'd ship.
"""

from __future__ import annotations

import os

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier


def get_spark(app_name: str = "iq_to_hdl_migration_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE enabled: runtime coalescing + skew-join splitting stand in for
      the reference's hand-tuned parallel degree
      (reference: Migration/migration.py:2145 Temp_Extract_Max_Parallel_Degree=64).
    - shuffle.partitions defaults to the local core count; on a real
      cluster set it ~2-3x total cores or rely on AQE coalescing.
    - Session timezone pinned to UTC so timestamp semantics are
      engine-independent (and match the DuckDB oracle).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    parts = cpus if shuffle_partitions is None else max(1, shuffle_partitions)
    # Driver memory must be set BEFORE the local JVM launches (builder
    # config is ignored after); default 1g OOMs broadcast builds on
    # bigger local runs. No-op if a JVM/session already exists or the
    # caller set PYSPARK_SUBMIT_ARGS themselves.
    if (not SparkSession.getActiveSession()
            and "PYSPARK_SUBMIT_ARGS" not in os.environ):
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {mem} pyspark-shell")
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER",
                                                f"local[{cpus}]"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[Sequence],
                schema: str | StructType) -> DataFrame:
    """DataFrame over driver-side rows, as a JVM `LocalRelation`.

    `createDataFrame(<list>)` is `parallelize` + a Python-RDD scan:
    every scan of the frame starts Python-worker tasks, and the plan
    carries no size statistics. An Arrow table instead lands in the JVM
    as a `LocalRelation` (up to
    `spark.sql.execution.arrow.localRelationThreshold`, above it a JVM
    scan of the Arrow batches): no Python worker, real statistics, and
    filter/project-only lookups fold to a local result at plan time.

    `schema` is a DDL string or a StructType; the frame's schema is
    exactly that one. Every row is checked against it first, as
    `createDataFrame`'s `verifySchema` does, so a wrong-typed value or
    a None in a non-nullable field still raises.
    """
    struct = (schema if isinstance(schema, StructType)
              else StructType.fromDDL(schema))
    rows = list(rows)
    verify = _make_type_verifier(struct)
    for row in rows:
        verify(row)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
                     schema=arrow)
    return spark.createDataFrame(table, schema=struct)
