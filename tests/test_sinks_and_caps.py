"""Sink abstraction fallback, pool-cap behavior, and skewed-corpus
aggregation."""

import pytest
from pyspark.sql import functions as F

from logparser_llm_spark.config import PipelineConfig, ScaleConfig
from logparser_llm_spark.operators.cluster import (
    assign_templates,
    discover_templates,
)
from logparser_llm_spark.plans.pipeline import sink_counts
from logparser_llm_spark.sources.sinks import (
    iceberg_catalog,
    read_sink_table,
    write_sink_table,
)
from logparser_llm_spark.sources.synth import generate_log_lines


def test_sink_fallback_to_parquet(spark, tmp_path):
    assert not iceberg_catalog(spark)  # no runtime jars in this container
    df = spark.range(100).withColumn("sink_id", F.pmod("id", F.lit(4)))
    target = str(tmp_path / "sinks")
    fmt = write_sink_table(df, target, mode="overwrite")
    assert fmt == "parquet"
    back = read_sink_table(spark, target)
    assert back.count() == 100
    assert back.select("sink_id").distinct().count() == 4


def test_pool_cap_routes_tail_to_unknown(spark):
    lines = generate_log_lines(spark, 200, seed=23).cache()
    full_pool = discover_templates(lines, "text")
    cap = max(2, len(full_pool) // 4)
    cfg = PipelineConfig(scale=ScaleConfig(broadcast_pool_max_templates=cap))
    capped_pool = discover_templates(lines, "text", cfg)
    assert len(capped_pool) <= cap
    assigned = assign_templates(lines, "text", capped_pool, cfg)
    counts = {r["template_id"]: r["count"] for r in assigned.groupBy("template_id").count().collect()}
    assert "unknown" in counts  # the capped tail routes to the fallback sink
    assert sum(counts.values()) == lines.count()
    # the kept templates are the highest-frequency ones → they should cover
    # the majority of rows
    assert counts["unknown"] < lines.count() / 2


def test_salted_counts_on_skewed_corpus(spark):
    """80% of rows share one key (web-boilerplate skew); the per-sink
    counts (a plain groupBy, map-side partial aggregation absorbing the
    hot key) must still be exact."""
    skewed = spark.range(50_000).select(
        F.when(F.col("id") % 5 != 0, F.lit("tmpl_boilerplate"))
        .otherwise(F.concat(F.lit("tmpl_"), (F.col("id") % 97).cast("string")))
        .alias("template_id"),
        F.pmod(F.col("id"), F.lit(4)).alias("sink_id"),
    )
    got = {
        (r["sink_id"], r["template_id"]): r["doc_count"]
        for r in sink_counts(skewed).collect()
    }
    want = {
        (r["sink_id"], r["template_id"]): r["count"]
        for r in skewed.groupBy("sink_id", "template_id").count().collect()
    }
    assert got == want
    assert sum(got.values()) == 50_000


def test_write_run_idempotent_parquet_identical_to_direct(spark, tmp_path):
    """The run-key adapter's parquet fallback must produce EXACTLY the
    layout run_resumable has always written: <target>/run=<key> with the
    same partitioning, rows, and overwrite-on-retry semantics (VERDICT r2
    item 8)."""
    import os

    from logparser_llm_spark.sources.sinks import abort_run, write_run_idempotent

    df = spark.createDataFrame(
        [(i, i % 3, f"row {i}") for i in range(30)],
        "doc_id bigint, sink_id int, text string",
    )
    direct = str(tmp_path / "direct")
    via = str(tmp_path / "via")
    df.write.mode("overwrite").partitionBy("sink_id").parquet(f"{direct}/run=k1")
    write_run_idempotent(df, via, "k1", partition_by=["sink_id"])

    # identical hive layout...
    assert sorted(os.listdir(f"{direct}/run=k1")) == sorted(os.listdir(f"{via}/run=k1"))
    # ...and identical rows
    a = sorted(tuple(r) for r in spark.read.parquet(f"{direct}/run=k1").collect())
    b = sorted(tuple(r) for r in spark.read.parquet(f"{via}/run=k1").collect())
    assert a == b

    # retry of the same run_key overwrites, never duplicates
    write_run_idempotent(df, via, "k1", partition_by=["sink_id"])
    assert spark.read.parquet(f"{via}/run=k1").count() == 30
    # a different run_key appends alongside
    write_run_idempotent(df.limit(5), via, "k2", partition_by=["sink_id"])
    assert spark.read.parquet(via).count() == 35

    # abort drops exactly its run
    abort_run(spark, via, "k2")
    assert spark.read.parquet(via).count() == 30
    assert not os.path.exists(f"{via}/run=k2")


def test_iceberg_gate_is_honest(spark):
    """No Iceberg runtime in this container: the catalog probe must say
    so (write_sink_table's iceberg branch is gated on it), even when a
    catalog conf is set."""
    from logparser_llm_spark.sources.sinks import iceberg_catalog

    assert iceberg_catalog(spark, "local") is False
    # even with a catalog conf set, the classpath probe keeps the gate shut
    spark.conf.set("spark.sql.catalog.probe_cat", "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert iceberg_catalog(spark, "probe_cat") is False
    finally:
        spark.conf.unset("spark.sql.catalog.probe_cat")


# --- sharded export ---------------------------------------------------------


def test_shard_export_layout_and_manifest(spark, tmp_path):
    """The written dataset must be Hive-partitioned by the portable
    shard id, every row in exactly one shard, and the manifest (from
    the read-back files) must equal a hashlib recompute per shard."""
    import hashlib
    import os

    from logparser_llm_spark.sources.sinks import shard_export

    rows = [(i, "x" * (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    dest = str(tmp_path / "shards")
    man = {
        r["shard"]: (r["n_rows"], r["id_anchor"], r["n_chars"])
        for r in shard_export(df, "doc_id", dest, 4, text_col="text").collect()
    }
    # hashlib reference
    ref = {}
    for i, t in rows:
        h = hashlib.md5(str(i).encode()).hexdigest()
        s = int(h[:15], 16) % 4
        n, a, c = ref.get(s, (0, 0, 0))
        ref[s] = (n + 1, a + int(h[:8], 16), c + len(t))
    assert man == ref
    dirs = sorted(d for d in os.listdir(dest) if d.startswith("shard="))
    assert dirs == [f"shard={s}" for s in sorted(ref)]
    # round trip really reads the files: total rows survive exactly
    assert spark.read.parquet(dest).count() == 200


def test_shard_export_is_rerun_stable_and_validates(spark, tmp_path):
    import pytest

    from logparser_llm_spark.sources.sinks import shard_export

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id bigint")
    dest = str(tmp_path / "s2")
    a = {tuple(r) for r in shard_export(df, "doc_id", dest, 3).collect()}
    # overwrite mode: a second export of the same data is byte-stable
    b = {tuple(r) for r in shard_export(df.repartition(7), "doc_id", dest, 3).collect()}
    assert a == b
    with pytest.raises(ValueError, match="n_shards"):
        shard_export(df, "doc_id", dest, 0)
    with pytest.raises(ValueError, match="shard"):
        shard_export(df.withColumn("shard", df.doc_id), "doc_id", dest, 3)
