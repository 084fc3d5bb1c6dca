"""End-to-end pipeline tests: enrich, route, per-sink counts, fan-out write,
and checkpoint/resume without reprocessing."""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from logparser_llm_spark.config import PipelineConfig, ScaleConfig
from logparser_llm_spark.functions.hashing import sink_id
from logparser_llm_spark.plans.checkpoint import Checkpoint, parse_slice, run_resumable
from logparser_llm_spark.plans.pipeline import (
    domain_of,
    enrich,
    run_pipeline,
    sink_counts,
)
from logparser_llm_spark.sources.synth import generate_log_lines, generate_pages

CFG = PipelineConfig(scale=ScaleConfig(num_sinks=4))


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 200, seed=3, partitions=4).cache()


def test_domain_extraction(spark):
    df = spark.createDataFrame(
        [("https://example.com/a/b",), ("http://x.y.z:8080/q?p=1",), ("nota url",)],
        "url string",
    )
    got = [r[0] for r in df.select(domain_of(F.col("url"))).collect()]
    assert got == ["example.com", "x.y.z", ""]


def test_enrich_broadcast_join(spark, pages):
    out = enrich(pages)
    assert {"lang_name", "lang_family", "domain", "domain_category"} <= set(out.columns)
    assert out.filter(F.col("lang_name").isNull()).count() == 0
    assert out.filter(F.col("domain_category").isNull()).count() == 0
    # plan must be broadcast joins, not sort-merge
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_route_and_counts(spark, pages):
    routed = parse_slice(pages, "text", [], CFG).routed
    counts = sink_counts(routed).collect()
    assert sum(r["doc_count"] for r in counts) == pages.count()
    # sink ids are the portable md5 buckets
    for r in counts:
        assert r["sink_id"] == sink_id(r["template_id"], CFG.scale.num_sinks)


def test_run_pipeline_with_fanout_write(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    result = run_pipeline(spark, pages, output_dir=out, cfg=CFG)
    assert result["lineage"]["rows_total"] == pages.count()
    assert result["lineage"]["rows_valid"] <= result["lineage"]["rows_total"]
    # fan-out write produced sink_id=* hive partitions
    sinks = [d for d in os.listdir(f"{out}/sinks") if d.startswith("sink_id=")]
    assert len(sinks) >= 2
    written = spark.read.parquet(f"{out}/sinks")
    assert written.count() == pages.count()
    # per-sink counts from the written data match the in-flight ones
    assert sum(r["doc_count"] for r in result["counts"]) == pages.count()


def _tuples(rows):
    return sorted(tuple(r) for r in rows)


@pytest.mark.parametrize("variant", ["incremental_capped", "empty", "all_invalid"])
def test_slice_counts_equal_routed_rows(spark, variant):
    """A slice's driver-side counts equal counting its routed rows, and
    its lineage conserves rows. ``incremental_capped`` grows an existing
    pool from a slice that hits a cap of 3, so the tail patterns only the
    older pool knows are counted by the extra filtered aggregate."""
    cfg = CFG
    pool = []
    lines = generate_log_lines(spark, 300, seed=61, partitions=3)
    if variant == "incremental_capped":
        pool = parse_slice(lines, "text", [], CFG).pool
        assert len(pool) > 3
        cfg = PipelineConfig(scale=ScaleConfig(num_sinks=4, broadcast_pool_max_templates=3))
        lines = generate_log_lines(spark, 200, seed=62, partitions=2)
    elif variant == "empty":
        lines = lines.limit(0)
    else:
        lines = spark.createDataFrame([("??",)] * 6 + [(None,), ("",)], "text string")
    s = parse_slice(lines, "text", pool, cfg)
    got = _tuples(s.counts.collect())
    assert got == _tuples(sink_counts(s.routed).collect())
    assert s.counts.schema.simpleString() == "struct<sink_id:bigint,template_id:string,doc_count:bigint>"
    total = lines.count()
    assert s.lineage["rows_total"] == sum(n for _, _, n in got) == total
    assert s.lineage["rows_unknown"] == sum(n for _, t, n in got if t == "unknown")
    assert s.lineage["rows_valid"] == s.routed.filter("is_valid").count()
    if variant == "incremental_capped":
        old = {t["template_id"] for t in pool}
        assert {t for _, t, _ in got} & old  # the older pool still labels rows
        assert s.lineage["rows_unknown"] < total
    elif variant == "empty":
        assert got == []
    else:
        assert got == [(sink_id("unknown", 4), "unknown", 8)]
        assert s.lineage == {"rows_total": 8, "rows_valid": 0, "rows_unknown": 8}


def test_run_pipeline_equals_resumable_run(spark, tmp_path):
    """The one-shot and the resumable driver share the slice step: on one
    input they give the same pool, the same sink rows and the same
    counts."""
    src = str(tmp_path / "src")
    generate_pages(spark, 90, seed=63).coalesce(1).write.parquet(src)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    result = run_pipeline(spark, spark.read.parquet(src), output_dir=a, cfg=CFG)
    run_resumable(spark, src, str(tmp_path / "ck"), b, cfg=CFG)

    def ids(pool):
        return [(t["template_id"], t["pattern"]) for t in pool]

    assert ids(result["pool"]) == ids(Checkpoint.load(str(tmp_path / "ck")).pool)
    sa, sb = spark.read.parquet(f"{a}/sinks"), spark.read.parquet(f"{b}/sinks")
    shared = sorted(set(sa.columns) & set(sb.columns))
    assert {"template_id", "sink_id", "variables", "text"} <= set(shared)

    def multiset(df):  # maps become sorted item tuples
        return Counter(
            tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v for v in r)
            for r in df.select(*shared).collect()
        )

    rows_a = multiset(sa)
    assert sum(rows_a.values()) == 90
    assert rows_a == multiset(sb)
    counts_b = spark.read.parquet(f"{b}/counts").select("sink_id", "template_id", "doc_count")
    assert _tuples(result["counts"]) == _tuples(counts_b.collect())


def test_resume_skips_completed_files(spark, tmp_path):
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    generate_pages(spark, 120, seed=5).write.mode("overwrite").parquet(src)

    r1 = run_resumable(spark, src, ck, out)
    assert len(r1["processed"]) >= 1 and not r1["skipped"]
    total1 = spark.read.parquet(f"{out}/sinks").count()
    assert total1 == 120

    # second run: nothing to do, nothing reprocessed, output unchanged
    r2 = run_resumable(spark, src, ck, out)
    assert r2["processed"] == [] and len(r2["skipped"]) == len(r1["processed"])
    assert spark.read.parquet(f"{out}/sinks").count() == total1

    # manifest carries per-file lineage counters
    manifest = Checkpoint.load(ck)
    assert len(manifest.completed) == len(r1["processed"])
    for entry in manifest.completed.values():
        assert entry["rows_total"] > 0 and "pool_version" in entry


def test_resume_processes_only_new_files(spark, tmp_path):
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    generate_pages(spark, 80, seed=6).coalesce(1).write.mode("overwrite").parquet(src)
    r1 = run_resumable(spark, src, ck, out)
    n1 = len(r1["processed"])

    # new data arrives as additional files
    generate_pages(spark, 40, seed=7).coalesce(1).write.mode("append").parquet(src)
    r2 = run_resumable(spark, src, ck, out)
    assert len(r2["processed"]) >= 1
    assert len(r2["skipped"]) == n1
    assert spark.read.parquet(f"{out}/sinks").count() == 120

    # template ids from run 1 are stable in run 2's pool (prefix property)
    ck2 = Checkpoint.load(ck)
    ids = [t["template_id"] for t in ck2.pool]
    assert ids == [f"tmpl_{i:04d}" for i in range(len(ids))]


def test_statistics_sidecar_accumulates_across_restarts(spark, tmp_path):
    """S7 parity (reference parser.py:432-455): the A3 statistics dict is
    persisted to statistics.json next to the pool, accumulates across
    runs, and a RESTARTED operator (fresh Checkpoint.load) sees the
    cumulative lifetime view — not just the last run's slice."""
    import json

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    generate_pages(spark, 80, seed=6).coalesce(1).write.mode("overwrite").parquet(src)
    r1 = run_resumable(spark, src, ck, out)
    s1 = r1["statistics"]
    assert s1["total_logs"] == 80
    assert s1["successfully_parsed"] + s1["failed"] == 80
    assert s1["llm_efficiency"] == float("inf")

    # the sidecar file exists and round-trips (inf included)
    spath = os.path.join(ck, "statistics.json")
    assert os.path.exists(spath)
    with open(spath) as f:
        on_disk = json.load(f)
    assert on_disk["total_logs"] == 80 and on_disk["llm_efficiency"] == "inf"

    # "restart": new data + a fresh load must ACCUMULATE, not reset
    generate_pages(spark, 40, seed=7).coalesce(1).write.mode("append").parquet(src)
    r2 = run_resumable(spark, src, ck, out)
    s2 = r2["statistics"]
    assert s2["total_logs"] == 120
    assert s2["total_processing_time_ms"] > s1["total_processing_time_ms"]

    reloaded = Checkpoint.load(ck)
    assert reloaded.statistics["total_logs"] == 120
    assert reloaded.statistics["llm_efficiency"] == float("inf")

    # a no-op run (nothing new) reports the same cumulative view
    r3 = run_resumable(spark, src, ck, out)
    assert r3["processed"] == [] and r3["statistics"]["total_logs"] == 120


def test_list_input_files_is_metadata_only(spark, tmp_path):
    """Enumerating resume units must launch NO Spark job (VERDICT r1
    item 5: the old input_file_name().distinct() was a full scan)."""
    from logparser_llm_spark.plans.checkpoint import list_input_files

    src = str(tmp_path / "src")
    generate_pages(spark, 50, seed=8).repartition(3).write.parquet(src)

    group = "metadata-only-probe"
    sc = spark.sparkContext
    sc.setJobGroup(group, "list_input_files must not run jobs")
    try:
        files = list_input_files(spark, src)
    finally:
        sc.setJobGroup(None, None)
    assert len(files) == 3
    assert all(f.startswith("file://") and f.endswith(".parquet") for f in files)
    assert not any(f.rsplit("/", 1)[-1].startswith("_") for f in files)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_manifest_keys_match_input_file_name(spark, tmp_path):
    """Hadoop-FS listing and Spark's input_file_name() must normalize to
    the same manifest keys, or resume reprocesses everything."""
    from pyspark.sql import functions as F

    from logparser_llm_spark.plans.checkpoint import list_input_files, norm_file_uri

    src = str(tmp_path / "src")
    generate_pages(spark, 20, seed=9).coalesce(1).write.parquet(src)
    listed = set(list_input_files(spark, src))
    scanned = {
        norm_file_uri(r[0])
        for r in spark.read.parquet(src).select(F.input_file_name()).distinct().collect()
    }
    assert listed == scanned


def test_manifest_rows_are_per_file_in_one_run(spark, tmp_path):
    """Files of different sizes read in ONE run: each file's manifest
    counters are its own rows. Eight small files make the scan pack
    several into one task, where a file name read after the Arrow
    variables stage names whichever file the scan reached last."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    from logparser_llm_spark.plans.checkpoint import list_input_files

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    for i in range(8):
        generate_pages(spark, 5 + 7 * i, seed=31 + i).coalesce(1).write.mode("append").parquet(src)
    files = list_input_files(spark, src)
    sizes = {f: pq.ParquetFile(urlparse(f).path).metadata.num_rows for f in files}
    assert len(set(sizes.values())) == 8

    r = run_resumable(spark, src, ck, out)
    assert sorted(r["processed"]) == sorted(files)
    manifest = Checkpoint.load(ck)
    assert {f: e["rows_total"] for f, e in manifest.completed.items()} == sizes


def test_crashed_sink_append_is_idempotent(spark, tmp_path):
    """A run that died between the sink write and the manifest save must
    not duplicate rows on retry (ADVICE r1): the journaled pending_run
    directory is dropped before reprocessing."""
    import hashlib

    from logparser_llm_spark.plans.checkpoint import list_input_files

    src = str(tmp_path / "src")
    ck_dir = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    generate_pages(spark, 80, seed=10).coalesce(1).write.parquet(src)
    run_resumable(spark, src, ck_dir, out)
    assert spark.read.parquet(f"{out}/sinks").drop("run").count() == 80

    # new data arrives; simulate a crashed attempt at processing it:
    # the run dir was (partially) written, pending_run journaled, but the
    # manifest never recorded completion
    generate_pages(spark, 40, seed=11).coalesce(1).write.mode("append").parquet(src)
    ck = Checkpoint.load(ck_dir)
    todo = [f for f in list_input_files(spark, src) if f not in ck.completed]
    run_key = hashlib.md5("\n".join(todo).encode()).hexdigest()[:16]
    # fake partial output: duplicate rows under the pending run key
    spark.read.parquet(f"{out}/sinks").drop("run", "sink_id").limit(25).write.parquet(
        f"{out}/sinks/run={run_key}/sink_id=0"
    )
    ck.pending_run = run_key
    ck.save()

    r = run_resumable(spark, src, ck_dir, out)
    assert len(r["processed"]) == 1
    assert spark.read.parquet(f"{out}/sinks").drop("run").count() == 120  # no dups
    assert Checkpoint.load(ck_dir).pending_run is None


def test_parsed_projection_matches_reference_shapes(spark):
    """P1: ParsedLog fields (parser.py:285-297) — pattern/confidence from
    the pool, fallback shape for invalid rows, variables equal to the
    canonical drain.extract_variables on every row."""
    from logparser_llm_spark.operators.cluster import parse_and_count
    from logparser_llm_spark.operators.drain import extract_variables
    from logparser_llm_spark.plans.pipeline import parsed_projection

    rows = [
        ("login failed for user 4242 from 10.0.0.1",),
        ("login failed for user 7 from 10.9.9.9",),
        ("cache flush completed in 93 ms",),
        ("???",),  # invalid (< 10 chars) → unknown fallback
    ]
    df = spark.createDataFrame(rows, "text string")
    assigned, pool = parse_and_count(df, "text")
    out = parsed_projection(assigned, pool).collect()
    by_text = {r["text"]: r for r in out}

    pool_by_id = {t["template_id"]: t for t in pool}
    for r in out:
        if r["template_id"] == "unknown":
            assert r["template_pattern"] == r["cleaned"]  # fallback: log itself
            assert r["confidence"] == 0.0 and not r["cache_hit"]
            assert r["variables"] == {}
        else:
            assert r["template_pattern"] == pool_by_id[r["template_id"]]["pattern"]
            assert r["confidence"] == pytest.approx(0.9) and r["cache_hit"]
            want = extract_variables(r["cleaned"], r["template_pattern"])
            assert dict(r["variables"]) == want
        assert r["used_llm"] is False
    # 2-digit numbers survive the default clean (normalize_numbers only
    # hits \d{4,} and decimals) → extracted verbatim as a variable
    flush = by_text["cache flush completed in 93 ms"]
    assert "93" in flush["variables"].values()


def test_parsing_statistics_derived_rates(spark):
    """A3: reference log_entry.py:141-170 derived rates materialized from
    the Observation lineage."""
    from logparser_llm_spark.plans.pipeline import run_pipeline

    rows = [("alpha beta gamma delta 111",)] * 8 + [("??",)] * 2
    df = spark.createDataFrame(rows, "text string")
    res = run_pipeline(spark, df)
    st = res["statistics"]
    assert st["total_logs"] == 10
    assert st["successfully_parsed"] == 8 and st["failed"] == 2
    assert st["success_rate"] == pytest.approx(0.8)
    assert st["cache_hit_rate"] == pytest.approx(0.8)
    assert st["llm_calls"] == 0 and st["llm_efficiency"] == float("inf")
    assert st["unique_templates"] == len(res["pool"])
    # per-row mean over ALL rows: 8 matched at 0.9, 2 unknown at 0.0
    assert st["average_confidence"] == pytest.approx(0.72)
    assert st["cost_usd"] == 0.0


def test_zero_row_input_file_is_marked_complete(spark, tmp_path):
    """Empty parquet files never appear in the lineage groupBy; they must
    still be recorded in the manifest or every later run reprocesses."""
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    generate_pages(spark, 30, seed=12).coalesce(1).write.parquet(src)
    # an upstream-filtered empty file (0 rows, valid schema)
    spark.read.parquet(src).limit(0).coalesce(1).write.mode("append").parquet(src)

    r1 = run_resumable(spark, src, ck, out)
    assert len(r1["processed"]) == 2
    r2 = run_resumable(spark, src, ck, out)
    assert r2["processed"] == [] and len(r2["skipped"]) == 2
    manifest = Checkpoint.load(ck)
    assert any(e["rows_total"] == 0 for e in manifest.completed.values())


def test_incremental_counts_match_full_reaggregation(spark, tmp_path):
    """Global counts are merged from per-run count tables; they must
    equal a full re-aggregation of all accumulated sink rows."""
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    generate_pages(spark, 60, seed=15).coalesce(1).write.parquet(src)
    run_resumable(spark, src, ck, out)
    generate_pages(spark, 30, seed=16).coalesce(1).write.mode("append").parquet(src)
    run_resumable(spark, src, ck, out)

    counts = {
        (r["sink_id"], r["template_id"]): r["doc_count"]
        for r in spark.read.parquet(f"{out}/counts").collect()
    }
    full = {
        (r["sink_id"], r["template_id"]): r["cnt"]
        for r in spark.read.parquet(f"{out}/sinks")
        .groupBy("sink_id", "template_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert counts == full
    assert sum(counts.values()) == 90
