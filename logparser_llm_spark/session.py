"""SparkSession factory with the scale-tuned defaults.

Everything here is the 100 TB posture applied at any scale: AQE on
(runtime coalescing + skew-join splitting), Arrow batching for the
pandas-UDF stages, sensible shuffle parallelism. ``cores`` is the
local-mode stand-in for executor count (the driver benches local[8] vs
local[32] as the N vs 4N evidence). :func:`local_frame` is how a
driver-built table enters a plan.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def build_session(
    app_name: str = "logparser_llm_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(32, cores * 2)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r6 (guide §2: scale-adaptive partitioning): cached plans freeze
        # their shuffle partitioning at spark.sql.shuffle.partitions and,
        # by default, AQE may not re-plan anything under an
        # InMemoryRelation — so every persisted model/shingle/gram frame
        # ran its shuffle UNcoalesced and every downstream stage inherited
        # that fixed width regardless of data size. Letting AQE own the
        # cached plan's output partitioning restores size-based coalescing
        # (bytes-driven, so it adapts from the 28k-row bench model frames
        # to TB-scale ones). Measured: sb_quality 4.4→1.5 s warm.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType) -> DataFrame:
    """Driver-built rows (a dimension, a probe list, a pool map) as a
    one-slice JVM ``LocalTableScan`` typed exactly by ``schema`` (DDL or
    ``StructType``), empty or not, with or without Arrow conversion: the
    rows go in as a ``pyarrow.Table`` of the schema's Arrow types. A
    ``parallelize``d frame is a ``PythonRDD`` whose every job (each
    broadcast build included) starts a Python worker, and a pandas input
    falls back to it when empty or when Arrow is off."""
    arrow = to_arrow_schema(StructType.fromDDL(schema) if isinstance(schema, str) else schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table).coalesce(1)  # not min(rows, cores) slices
