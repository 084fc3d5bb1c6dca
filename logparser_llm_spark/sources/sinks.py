"""Sink writers.

``write_sink_table`` is the one partitioned parquet fan-out write of
``pipeline.run_pipeline`` (partition column ``sink_id``, one pass, never
K filtered scans). ``write_run_idempotent`` / ``abort_run`` are the
run-keyed parquet protocol of the incremental drivers (``run=<key>``
directories, overwrite-on-retry), and ``shard_export`` is the
md5-addressed sharded export with a read-back manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_sink_table(
    df: DataFrame,
    target: str,
    partition_by: list[str] | None = None,
    mode: str = "append",
) -> None:
    """Write ``df`` under ``target`` as Hive-partitioned parquet
    (``partition_by``, default ``sink_id``): one partitioned single-pass
    write, never K filtered scans."""
    df.write.mode(mode).partitionBy(*(partition_by or ["sink_id"])).parquet(target)


# --------------------------------------------------------------------------
# idempotent per-run writes (the run_resumable retry protocol)
# --------------------------------------------------------------------------


def write_run_idempotent(
    df: DataFrame,
    target: str,
    run_key: str,
    partition_by: list[str] | None = None,
) -> None:
    """Retry-safe per-run append — the write half of the run-key protocol
    (``plans/checkpoint.py:write_slice``): overwrite-write into
    ``<target>/run=<key>``, so a retry of the same key replaces the
    previous attempt's rows and a new key lands alongside."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(f"{target}/run={run_key}")


def abort_run(spark: SparkSession, target: str, run_key: str) -> None:
    """Drop a (possibly partial) run directory — the cleanup half of the
    retry protocol.

    ``run_key`` must be a plain token ([A-Za-z0-9_-]): it becomes a
    directory name, and the protocol's keys (md5 hex, ``batch-<id>``) are
    plain by construction."""
    import re

    if not re.fullmatch(r"[A-Za-z0-9_-]+", run_key):
        raise ValueError(f"run_key must be a plain token, got {run_key!r}")
    from ..plans.checkpoint import delete_path

    delete_path(spark, f"{target}/run={run_key}")


def shard_export(
    df: DataFrame,
    id_col: str,
    path: str,
    n_shards: int,
    *,
    text_col: str | None = None,
) -> DataFrame:
    """Deterministic sharded training-data export + read-back manifest.

    Writes ``df`` as a Hive-partitioned parquet dataset with
    ``shard = portable-md5-slice(id) % n_shards`` (the repo's 60-bit
    signed-BIGINT-safe convention, so Spark, DuckDB and Python agree on
    every assignment — a re-run, a different engine, or a different
    partitioning lands every row in the SAME shard file group), then
    reads the WRITTEN files back and returns the per-shard manifest:

      (shard, n_rows, id_anchor[, n_chars])

    ``id_anchor`` is the integer sum of each row's 32-bit md5 slice —
    order-insensitive, map-side combinable, exact in any engine, and
    overflow-safe to 2^31 rows per shard — so a writer bug (a lost,
    duplicated or mis-routed row) changes the manifest even when the
    row COUNT survives. Because the manifest is computed from the
    files on disk, comparing it against a direct recompute over the
    source table verifies the whole write→read round trip, not just
    the plan.

    Scale: the write is one hash-partitioned fan-out (the same shape as
    the per-sink fan-out write of ``write_sink_table``); the manifest is
    one partially-aggregable scan of the written data.
    """
    from ..functions.hashing import md5_slice_col

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if "shard" in df.columns:
        raise ValueError("input already has a 'shard' column")
    sid = F.col(id_col).cast("string")
    shard = md5_slice_col(sid) % n_shards
    df.withColumn("shard", shard).write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(path)
    back = df.sparkSession.read.parquet(path)
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(md5_slice_col(F.col(id_col).cast("string"), 8))
        .cast("bigint")
        .alias("id_anchor"),
    ]
    if text_col is not None:
        aggs.append(
            F.sum(F.coalesce(F.length(F.col(text_col)), F.lit(0)))
            .cast("bigint")
            .alias("n_chars")
        )
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(*aggs)


def shard_manifest_sql(
    table: str,
    id_expr: str,
    n_shards: int,
    *,
    text_expr: str | None = None,
) -> str:
    """DuckDB recompute of the :func:`shard_export` manifest DIRECTLY
    from the source table (no files) — agreement with the Spark side's
    read-back manifest proves the write→read round trip."""
    from ..functions.hashing import md5_slice_sql

    sid = f"cast({id_expr} as varchar)"
    cols = [
        f"({md5_slice_sql(sid)} % {n_shards}) as shard",
        "cast(count(*) as bigint) as n_rows",
        f"cast(sum({md5_slice_sql(sid, 8)}) as bigint) as id_anchor",
    ]
    if text_expr is not None:
        cols.append(
            f"cast(sum(coalesce(length({text_expr}), 0)) as bigint) as n_chars"
        )
    return f"select {', '.join(cols)} from {table} group by 1"
