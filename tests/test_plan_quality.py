"""Plan-quality gates: the physical plans must be the ones we designed —
broadcast joins (never sort-merge for dims), whole-stage codegen in the hot
path, no Python workers in the default parse path, column pruning into the
scan."""

import pytest
from pyspark.sql import functions as F

from logparser_llm_spark.operators.cluster import (
    assign_templates,
    discover_templates,
)
from logparser_llm_spark.plans.inspect import physical_plan, plan_facts
from logparser_llm_spark.plans.pipeline import enrich, route, sink_counts
from logparser_llm_spark.sources.synth import generate_pages

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 100, seed=41).cache()


def test_assignment_is_jvm_only_broadcast_join(spark, pages):
    pool = discover_templates(pages, "text")
    assigned = assign_templates(pages, "text", pool)
    assigned.collect()  # finalize THIS query's AQE plan (codegen marks appear post-exec)
    facts = plan_facts(assigned)
    assert facts["broadcast_hash_join"], "pattern→tid must be a broadcast join"
    assert not facts["sort_merge_join"]
    assert facts["whole_stage_codegen"]
    # default path: zero Python in pass 2 (generate_pages itself is a
    # python source, so check only the stages above the scan)
    plan_above_scan = physical_plan(assigned).split("Scan")[0]
    assert "EvalPython" not in plan_above_scan
    # ... and none in the broadcast build either: the map is a JVM local
    # relation, not a Python RDD that starts a worker per build
    _assert_broadcasts_are_local(_executed_nodes(assigned))


def _plan_nodes(node):
    """Every physical node of an executed plan, descending through AQE
    query stages but not into a cached relation's own plan (what an
    InMemoryTableScan reads is its storage blocks, not that plan)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _plan_nodes(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return [node] + _plan_nodes(node.plan())
    children = node.children()
    return [node] + [n for i in range(children.size()) for n in _plan_nodes(children.apply(i))]


def _executed_nodes(df):
    return _plan_nodes(df._jdf.queryExecution().executedPlan())


def _names(nodes):
    return [n.getClass().getSimpleName() for n in nodes]


def _assert_broadcasts_are_local(nodes):
    """Every broadcast build reads a driver-built LocalTableScan and no
    RDD scan (a ``parallelize``d frame is a PythonRDD: each build of it
    is a one-task job that starts a Python worker)."""
    builds = [n for n in nodes if n.getClass().getSimpleName() == "BroadcastExchangeExec"]
    assert builds, _names(nodes)
    for b in builds:
        below = _names(_plan_nodes(b))
        assert "LocalTableScanExec" in below and "RDDScanExec" not in below, below


def test_flagship_counts_read_only_the_pattern_aggregate(spark, tmp_path):
    """The counts-only flagship's only Spark work is the discovery
    aggregate and its one collect: the frame it returns is a driver-built
    local relation (no file scan, exchange, broadcast or cached relation
    under it), nothing stays persisted, and the call plus the collect of
    its result run three jobs — the aggregate's shuffle map stage, the
    ordered collect of its cap + 2 rows, and the one-slice local frame."""
    from logparser_llm_spark.plans.queries import parse_route_agg_frame
    from logparser_llm_spark.sources.synth import generate_log_lines

    src = str(tmp_path / "lines")
    generate_log_lines(spark, 200, seed=43, partitions=4).write.parquet(src)
    lines = spark.read.parquet(src)

    sc = spark.sparkContext
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    group = "flagship-counts"
    sc.setJobGroup(group, "parse_route_agg_frame + collect")
    try:
        out = parse_route_agg_frame(lines)
        rows = out.collect()
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    assert {i.id() for i in sc._jsc.sc().getRDDStorageInfo()} == before
    assert sum(r["doc_count"] for r in rows) == lines.count()

    names = _names(_executed_nodes(out))
    assert "LocalTableScanExec" in names, names
    assert not [n for n in names if "Scan" in n and n != "LocalTableScanExec"], names
    assert not [n for n in names if "Exchange" in n], names
    assert "InMemoryTableScanExec" not in names and "BroadcastExchangeExec" not in names


def test_per_row_parse_broadcasts_are_local(spark, pages):
    """The per-row chain's four broadcast builds — the assignment map,
    the pool dim of the projection and the two enrichment dims — are
    all JVM local relations."""
    from logparser_llm_spark.plans.pipeline import parsed_projection

    pool = discover_templates(pages, "text")
    out = enrich(parsed_projection(assign_templates(pages, "text", pool), pool))
    out.collect()
    nodes = _executed_nodes(out)
    assert _names(nodes).count("BroadcastExchangeExec") == 4, _names(nodes)
    _assert_broadcasts_are_local(nodes)


def test_fan_out_spreads_only_narrow_inputs(spark, tmp_path):
    """``_fan_out`` round-robins a single-split scan to defaultParallelism
    and leaves an input already split at least that wide as it is."""
    from logparser_llm_spark.plans.queries import _fan_out

    width = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "wide")
    spark.range(4000).repartition(width).write.parquet(src)
    wide = spark.read.parquet(src)
    assert wide.rdd.getNumPartitions() >= width
    assert "RoundRobinPartitioning" not in physical_plan(_fan_out(wide))

    narrow = spark.read.parquet(f"{SF}/documents.parquet")
    assert narrow.rdd.getNumPartitions() == 1
    assert f"RoundRobinPartitioning({width})" in physical_plan(_fan_out(narrow))


def _jobs_of(spark, group, fn):
    """(fn(), number of Spark jobs it ran), counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def page_files(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("pages") / "src")
    generate_pages(spark, 150, seed=47, partitions=3).write.parquet(src)
    return src


def test_run_pipeline_counts_cost_no_more_than_the_flagship(spark, page_files):
    """The one-shot driver takes its counts from the discovery collect:
    without an output dir it runs no more jobs than the counts-only
    flagship over the same input."""
    from logparser_llm_spark.plans.pipeline import run_pipeline
    from logparser_llm_spark.plans.queries import parse_route_agg_frame

    df = spark.read.parquet(page_files)
    flagship, n_flagship = _jobs_of(
        spark, "flagship-jobs", lambda: parse_route_agg_frame(df).collect()
    )
    result, n_pipeline = _jobs_of(spark, "run-pipeline-jobs", lambda: run_pipeline(spark, df))
    assert n_pipeline <= n_flagship, (n_pipeline, n_flagship)
    assert sorted(map(tuple, result["counts"])) == sorted(map(tuple, flagship))


def test_run_pipeline_write_job_count(spark, page_files, tmp_path):
    """With an output dir the call runs nine jobs: the discovery
    aggregate's map stage and its collect, five for the per-row chain's
    broadcast builds and the sink write, the pool write and the collect
    of the local counts frame — no read-back scan of the sinks and no
    count shuffle."""
    from logparser_llm_spark.plans.pipeline import run_pipeline

    df = spark.read.parquet(page_files)
    out = str(tmp_path / "out")
    result, n = _jobs_of(
        spark, "run-pipeline-write-jobs", lambda: run_pipeline(spark, df, output_dir=out)
    )
    assert n == 9, n
    assert sum(r["doc_count"] for r in result["counts"]) == 150


def test_micro_batch_persists_nothing(spark, monkeypatch, tmp_path):
    """A micro-batch's routed rows have one consumer (the sink write), so
    nothing is cached while or after its writes run."""
    from logparser_llm_spark.sources import sinks
    from logparser_llm_spark.streaming.incremental import StreamingParser

    sc = spark.sparkContext

    def cached():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    seen = []
    write = sinks.write_run_idempotent

    def recording_write(*args, **kwargs):
        write(*args, **kwargs)
        seen.append(cached())

    before = cached()
    monkeypatch.setattr(sinks, "write_run_idempotent", recording_write)
    StreamingParser(str(tmp_path / "out")).process_batch(generate_pages(spark, 60, seed=48), 0)
    assert len(seen) == 2  # sink rows, run counts
    assert seen == [before, before] and cached() == before


def test_enrich_joins_are_broadcast(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "url", F.lit("https://example.com/x")
    )
    out = enrich(docs)
    facts = plan_facts(out)
    assert facts["broadcast_hash_join"] and not facts["sort_merge_join"]


def test_column_pruning_reaches_scan(spark):
    """A 2-column aggregate over documents must scan only those columns."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = docs.groupBy("lang").agg(F.sum("n_chars").alias("chars"))
    plan = physical_plan(out)
    assert "ReadSchema: struct<lang:string,n_chars:bigint>" in plan, plan[-1500:]


def test_counts_use_partial_aggregation(spark, pages):
    pool = discover_templates(pages, "text")
    counts = sink_counts(route(assign_templates(pages, "text", pool)))
    assert plan_facts(counts)["partial_aggregate"], "map-side combine missing"


def test_filter_pushdown_to_parquet(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("lang") == "en")
    plan = physical_plan(docs.select("doc_id"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan[-1500:]

def test_embedding_near_dup_has_no_cartesian_product(spark):
    """The registered near-dup query must candidate-generate via the LSH
    bucket join — never an all-pairs cross join (VERDICT r1 item 2)."""
    from logparser_llm_spark.plans.queries import q_embedding_near_dup

    plan = physical_plan(q_embedding_near_dup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_query_is_skew_capped(spark):
    """The registered query must pass the document-frequency skew cap
    (VERDICT r1 item 3) — visible as the left_anti hot-shingle join."""
    from logparser_llm_spark.plans.queries import q_ngram_jaccard

    plan = physical_plan(q_ngram_jaccard(spark, SF))
    assert "LeftAnti" in plan, "hot-shingle anti-join missing from plan"


def test_ngram_jaccard_reuses_shingle_subtree(spark):
    """VERDICT r3 item 1: the distinct-shingle frame feeds five branches
    of the capped plan; without persist Catalyst materialized it
    independently in each (288-node / 66-exchange plan, zero reuse). The
    persisted plan must show InMemoryTableScan and materially fewer
    exchanges."""
    from logparser_llm_spark.plans.queries import q_ngram_jaccard

    plan = physical_plan(q_ngram_jaccard(spark, SF))
    # ≥4 cache reads: sh (5 uses), sizes (2), sh_rare (2), cand (2).
    # NOTE: the plan STRING replays each cached subtree under every
    # InMemoryTableScan, so a raw Exchange count over the text does not
    # drop — cache presence is the reuse evidence (execution reads the
    # materialized blocks instead of re-running those exchanges).
    assert plan.count("InMemoryTableScan") >= 4, "persisted shingle frames not reused"


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join WITHOUT a shuffle (the pre-shuffled-on-disk co-location layout)."""
    from logparser_llm_spark.sources.bucketed import (
        bucketed_join,
        create_location_db,
        write_bucketed,
    )

    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    db = create_location_db(spark, "bktdb", str(tmp_path / "warehouse"))
    try:
        write_bucketed(c, f"{db}.cust_b", "c_custkey", n_buckets=4)
        write_bucketed(o, f"{db}.ord_b", "c_custkey", n_buckets=4)
        joined = bucketed_join(spark, f"{db}.cust_b", f"{db}.ord_b", "c_custkey")
        # disable broadcast so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = physical_plan(joined)
            assert "Exchange" not in plan, plan[:2000]
            assert "SortMergeJoin" in plan
            n = joined.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        # sanity: same rows as the plain join
        assert n == c.join(o, "c_custkey").count()
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_sink_read_prunes_partitions(spark, tmp_path):
    """A sink_id-filtered read of the fan-out table must scan only that
    partition directory (PartitionFilters in the scan, not a post-filter)."""
    import os

    from logparser_llm_spark.plans.pipeline import run_pipeline
    from logparser_llm_spark.sources.synth import generate_pages

    out = str(tmp_path / "out")
    run_pipeline(spark, generate_pages(spark, 120, seed=44), output_dir=out)
    sink_dirs = [d for d in os.listdir(f"{out}/sinks") if d.startswith("sink_id=")]
    assert len(sink_dirs) >= 2
    one = int(sink_dirs[0].split("=")[1])
    df = spark.read.parquet(f"{out}/sinks").filter(F.col("sink_id") == one)
    plan = physical_plan(df)
    import re as _re

    assert _re.search(rf"PartitionFilters: \[[^\]]*sink_id#\d+ = {one}", plan), plan[-1500:]


def test_ngram_topk_uses_take_ordered(spark):
    """Top-k heavy hitters must be TakeOrderedAndProject (bounded per-
    partition top-k + tiny driver merge), never a global Sort+Exchange of
    every shingle count."""
    from logparser_llm_spark.plans.queries import q_ngram_topk

    plan = physical_plan(q_ngram_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan[:1200]
    # the only exchange allowed is the aggregation shuffle — no
    # rangepartitioning exchange for a global sort
    assert "rangepartitioning" not in plan.lower(), plan[:1500]


def test_knn_and_ann_queries_have_no_cartesian(spark):
    """knn_join (blocked GEMM) and ivf_ann (cell join) must not plan a
    CartesianProduct; ann_topk's single-query crossJoin must broadcast."""
    from logparser_llm_spark.plans.queries import q_ann_topk, q_ivf_ann, q_knn_join

    for fn in (q_knn_join, q_ivf_ann):
        plan = physical_plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, (fn.__name__, plan[:1200])
    # ann_topk's one-row crossJoin must actually broadcast — a plain
    # disjunction would pass even if the broadcast regressed
    plan = physical_plan(q_ann_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan[:1200]
    assert "CartesianProduct" not in plan


def test_exact_substring_reuses_token_and_window_subtrees(spark):
    """exact_substring_dedup's token frame feeds the window builder AND
    the final reassembly; the window frame feeds the stats groupBy AND
    the join probe. Both are persisted (the ngram_jaccard r3 lesson) —
    the plan must read the cached subtrees instead of re-running
    tokenize+gram-build per branch."""
    from logparser_llm_spark.plans.queries import q_exact_substring

    plan = physical_plan(q_exact_substring(spark, SF))
    assert plan.count("InMemoryTableScan") >= 3, "persisted token/window frames not reused"


def test_hll_sketch_is_partial_agg_jvm_only(spark):
    """The HLL register build must combine map-side (that's the sketch's
    whole scale story) and never leave the JVM."""
    from logparser_llm_spark.operators.sketch import hll_distinct

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "source", F.col("doc_id").cast("bigint").cast("string").alias("id")
    )
    facts = plan_facts(hll_distinct(docs, ["source"], "id", p=8))
    assert facts["partial_aggregate"], "register max must combine map-side"
    assert not facts["python_udf"] and not facts["map_in_pandas"]


def test_bm25_reuses_token_preagg_and_stays_jvm(spark):
    """The (doc, query-term-or-null) pre-agg frame must be computed once
    and served from cache to both its consumers (dl and tf), and the
    whole scoring plan must stay JVM-side with map-side combine."""
    from logparser_llm_spark.plans.queries import QUERIES

    df = QUERIES["bm25_topk"][0](spark, SF)
    plan = physical_plan(df)
    facts = plan_facts(df)
    assert facts["partial_aggregate"]
    assert not facts["python_udf"] and not facts["map_in_pandas"]
    assert plan.count("InMemoryTableScan") >= 2, plan[-2000:]


def test_loghist_sketch_is_partial_agg_jvm_only(spark):
    """The log-histogram counter build must combine map-side (the
    quantile sketch's whole scale story) and never leave the JVM."""
    from logparser_llm_spark.operators.sketch import loghist_build

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "source", F.col("n_chars").cast("bigint").alias("v")
    )
    facts = plan_facts(loghist_build(docs, ["source"], "v"))
    assert facts["partial_aggregate"], "counter sum must combine map-side"
    assert not facts["python_udf"] and not facts["map_in_pandas"]


def test_triangle_count_reuses_oriented_edges_and_stays_jvm(spark):
    """The oriented-edge frame feeds three consumers (both wedge sides
    and the closing-edge join); without persist Catalyst re-runs the
    canonicalize+degree subtree for each. The plan must show the cache
    reads, no Python, and no cartesian fallback."""
    from logparser_llm_spark.plans.queries import q_triangle_count

    plan = physical_plan(q_triangle_count(spark, SF))
    assert plan.count("InMemoryTableScan") >= 3, "oriented-edge frame not reused"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "python" not in plan.lower()


def test_gopher_and_c4_are_scanbound_map_stages(spark):
    """Both published-recipe filters must be what a 100 TB filtering
    pass needs: one scan, zero exchanges, no Python anywhere — the
    whole rule set rides whole-stage codegen."""
    from logparser_llm_spark.plans.queries import q_c4_clean, q_gopher_rules

    for q in (q_gopher_rules, q_c4_clean):
        facts = plan_facts(q(spark, SF))
        assert facts["exchanges"] == 0, q.__name__
        assert not facts["python_udf"] and not facts["map_in_pandas"], q.__name__


def test_inverted_index_preagg_is_partial_and_jvm_only(spark):
    """The (term, shard, doc) tf count must combine map-side (a term
    repeated 10^6 times in one doc pre-reduces before the shuffle) and
    the whole build must stay JVM-side."""
    from logparser_llm_spark.plans.queries import q_inverted_index

    facts = plan_facts(q_inverted_index(spark, SF))
    assert facts["partial_aggregate"]
    assert not facts["python_udf"] and not facts["map_in_pandas"]


def test_gopher_repetition_is_jvm_with_one_spread_exchange(spark):
    """Per-doc fold work, JVM only; the single exchange is the explicit
    32-way spread of the one-file sf table (a real corpus's input
    splits make it unnecessary) — nothing else may shuffle."""
    from logparser_llm_spark.plans.queries import q_gopher_repetition

    facts = plan_facts(q_gopher_repetition(spark, SF))
    assert facts["exchanges"] <= 1
    assert not facts["python_udf"] and not facts["map_in_pandas"]


def test_incremental_dedup_has_no_cartesian_and_no_rowwise_python(spark):
    """The snapshot probe must be the banded bucket join + anti-joins —
    never an all-pairs product (that algebra lives only in the DuckDB
    oracle); simhash is the Arrow UDF, not row-wise Python."""
    from logparser_llm_spark.plans.queries import q_incremental_dedup

    plan = physical_plan(q_incremental_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_winnow_pairs_reuses_fingerprint_subtree(spark):
    """The fingerprint frame feeds three branches of the pair join
    (doc-frequency count + both join sides); without persist Catalyst
    re-evaluates the explode+window subtree per branch (the
    ngram_jaccard lesson). The plan must read the caches, stay JVM-only,
    and never fall back to an all-pairs product."""
    from logparser_llm_spark.plans.queries import q_winnow_dups

    df = q_winnow_dups(spark, SF)
    plan = physical_plan(df)
    assert plan.count("InMemoryTableScan") >= 3, "persisted fps/kept not reused"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_prefix_filter_join_reuses_token_subtree(spark):
    """setjoin's token frame feeds four branches (df counts, sizes,
    prefix rank, both verify sides) and the candidate frame two; both
    are persisted so the scan+explode+distinct subtree materializes
    once (the ngram_jaccard lesson). JVM-only, no all-pairs product."""
    from logparser_llm_spark.plans.queries import q_set_jaccard_join

    df = q_set_jaccard_join(spark, SF)
    plan = physical_plan(df)
    assert plan.count("InMemoryTableScan") >= 4, "persisted tok/cand not reused"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_twelfth_arc_queries_stay_jvm_no_cartesian(spark):
    """cdc_upsert's batch reduction and blocklist_join's per-(doc,
    token) count are partial aggregates; none of the four may plan a
    cartesian product, a nested-loop join, or any Python stage. (HITS
    and BFS persist the edge frame across rounds, but their per-round
    lazy localCheckpoints truncate lineage — the components.py
    convention — so the FINAL plan shows checkpoint RDD scans rather
    than InMemoryTableScans; the reuse is exercised by the graph
    differential tests, not assertable here.)"""
    from logparser_llm_spark.plans.queries import QUERIES

    for name in ["hits_scores", "crawl_depth", "cdc_upsert",
                 "blocklist_join"]:
        df = QUERIES[name][0](spark, SF)
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        if name in ("cdc_upsert", "blocklist_join"):
            assert plan_facts(QUERIES[name][0](spark, SF))[
                "partial_aggregate"], name


def test_thirteenth_arc_plans(spark):
    """containment_join reuses its persisted tok/cand subtrees (the
    prefix_filter_pairs convention) and joins only equi; curriculum
    ordering must NOT plan the single-partition global window (its
    entire reason to exist) — range partitioning only; fetch_schedule
    is one hash shuffle on the host. No Python anywhere."""
    from logparser_llm_spark.plans.queries import QUERIES

    plan = physical_plan(QUERIES["containment_join"][0](spark, SF))
    assert plan.count("InMemoryTableScan") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = physical_plan(QUERIES["curriculum_order"][0](spark, SF))
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = physical_plan(QUERIES["fetch_schedule"][0](spark, SF))
    assert "hashpartitioning" in plan and "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nineteenth_arc_plans(spark):
    """mad_outliers: the persisted deviation frame must feed both the
    MAD histogram and the final output (InMemoryTableScan reuse — two
    corpus scans total, not four), medians window over the small
    distinct-value histogram, joins broadcast, no Python anywhere.
    skew_audit: every candidate is a partial-aggregable count with the
    rank window over the per-key frame; no cartesian, no Python."""
    from logparser_llm_spark.plans.queries import QUERIES

    plan = physical_plan(QUERIES["mad_outliers"][0](spark, SF))
    assert plan.count("InMemoryTableScan") >= 2, "deviation frame not reused"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = physical_plan(QUERIES["skew_audit"][0](spark, SF))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_twentieth_arc_plans(spark):
    """template_drift is one partial-agg (type, period) count rolled
    up per type with broadcast totals — no window, no Python, and the
    only nested-loop is the broadcast grand-total attach. source_overlap
    must reuse its persisted distinct-token frame for sizes AND both
    self-join sides (InMemoryTableScans), join intersections equi on
    the token, and keep its nested-loop confined to the tiny pair
    grid; no Python anywhere."""
    from logparser_llm_spark.plans.queries import QUERIES

    plan = physical_plan(QUERIES["template_drift"][0](spark, SF))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = physical_plan(QUERIES["source_overlap"][0](spark, SF))
    assert plan.count("InMemoryTableScan") >= 3, "token frame not reused"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_twenty_first_arc_plans(spark):
    """drop_ledger's single corpus shuffle is the md5 family window
    (all other signals ride the scan projection) — exactly one
    hash-Exchange before the window, no Python, no cartesian;
    drop_funnel adds only partial aggregation plus the broadcast
    grand-total attach."""
    from logparser_llm_spark.plans.queries import QUERIES

    plan = physical_plan(QUERIES["drop_ledger"][0](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, "extra shuffle"
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = physical_plan(QUERIES["drop_funnel"][0](spark, SF))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_twenty_second_arc_plans(spark):
    """budget_select must spell the global cut as the prefix-sum range
    shuffle — rangepartitioning present, NO single-partition global
    window (the 100 TB stage-killer it exists to avoid); the entropy
    pipeline stays partial-aggregable; the only Python is the
    prefix-sum's bounded mapInPandas scan stage."""
    from logparser_llm_spark.plans.queries import QUERIES

    plan = physical_plan(QUERIES["budget_select"][0](spark, SF))
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_twenty_third_arc_plans(spark):
    """trustrank reuses the pagerank per-round shape: the co-
    partitioned edge frame persists across rounds (InMemoryTableScans),
    inflow is a partial-aggregable integer sum, no cartesian, no
    Python anywhere."""
    from logparser_llm_spark.plans.queries import QUERIES

    plan = physical_plan(QUERIES["trustrank"][0](spark, SF))
    assert plan.count("InMemoryTableScan") >= 4, "edge/node frames not reused"
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_twenty_fourth_arc_plans(spark):
    """quantile_norm: histogram-CDF windows run over the distinct
    (lang, score) frame, assignment join equi, entropy pipeline
    partial-aggregable, no Python. shard_plan: the prefix-sum range
    shuffle — rangepartitioning, never SinglePartition."""
    from logparser_llm_spark.plans.queries import QUERIES

    plan = physical_plan(QUERIES["quantile_norm"][0](spark, SF))
    assert "Window" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = physical_plan(QUERIES["shard_plan"][0](spark, SF))
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_twenty_fifth_arc_plans(spark):
    """fuzzy_titles: the deletion-key self-join is an equi SortMerge/
    shuffled-hash join (never a cartesian — the whole point of the
    banding), the verify is the JVM levenshtein (no Python), and the
    candidate distinct is partial-aggregable."""
    from logparser_llm_spark.plans.queries import QUERIES

    plan = physical_plan(QUERIES["fuzzy_titles"][0](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_twenty_sixth_arc_plans(spark):
    """politeness_audit is one host-keyed shuffle feeding a lag
    window — no extra exchange, no Python; dup_family_hist is two
    stacked partial-agg counts with only the tiny grand-total
    broadcast nested-loop."""
    from logparser_llm_spark.plans.queries import QUERIES

    plan = physical_plan(QUERIES["politeness_audit"][0](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, "extra shuffle"
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = physical_plan(QUERIES["dup_family_hist"][0](spark, SF))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
