"""End-to-end distributed clustering tests: oracle parity (GA=1.0),
partition-count invariance, and per-template count parity."""

import pytest
from pyspark.sql import functions as F

from logparser_llm_spark.config import PipelineConfig, ScaleConfig
from logparser_llm_spark.metrics import (
    adjusted_rand_index,
    cluster_f1,
    grouping_accuracy,
)
from logparser_llm_spark.operators.cluster import (
    assign_templates,
    discover_templates,
    pool_to_df,
)
from logparser_llm_spark.reference_oracle import SequentialParser
from logparser_llm_spark.sources.synth import generate_log_lines

TEST_CFG = PipelineConfig()


@pytest.fixture(scope="module")
def log_df(spark):
    return generate_log_lines(spark, 300, seed=7, partitions=4).cache()


def _collected_lines(log_df):
    return [r["text"] for r in log_df.orderBy("url", "line_no").collect()]


def test_discovery_finds_templates(spark, log_df):
    pool = discover_templates(log_df, "text", TEST_CFG)
    patterns = [t["pattern"] for t in pool]
    assert len(pool) >= 10
    # canonical ids are rank-ordered over sorted patterns
    assert patterns == sorted(patterns)
    assert [t["template_id"] for t in pool] == [f"tmpl_{i:04d}" for i in range(len(pool))]
    # boilerplate GET template must be discovered
    assert any(p.startswith("GET") for p in patterns)


FIXTURE_LOGS = [
    # designed so clustering is order-insensitive: distinct ≤5-token
    # prefixes are far apart (no fuzzy ambiguity); variables are
    # digit-bearing tokens the extractor wildcards deterministically
    "User alice logged in from 10.0.0.1 session a1b2c3d4",
    "User alice logged in from 10.9.8.7 session ffeeddcc",
    "User alice logged in from 172.16.0.5 session 00112233",
    "Failed to connect to db-01 on port 5432 retry 1",
    "Failed to connect to db-02 on port 5432 retry 2",
    "Failed to connect to db-03 on port 6543 retry 9",
    "Disk usage warning reached 95 percent on volume 1",
    "Disk usage warning reached 82 percent on volume 2",
    "Disk usage warning reached 71 percent on volume 3",
    "short",  # invalid → 'unknown'
    "!!!???...",  # invalid → 'unknown'
] * 3  # duplicates exercise the exact-hash fast path


def test_fixture_parity_with_sequential_oracle(spark):
    """On designed fixtures: grouping is EXACTLY the oracle's (F1 = ARI
    = 1.0, the formulas the reference itself evaluates clusterings by,
    metrics.py:69-209), and routed-row sets per template are equal."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(FIXTURE_LOGS)], "row_id int, text string")
    pool = discover_templates(df, "text", TEST_CFG)
    assigned = assign_templates(df, "text", pool, TEST_CFG)
    rows = assigned.orderBy("row_id").select("text", "template_id").collect()
    spark_ids = [r["template_id"] for r in rows]

    oracle = SequentialParser()
    oracle_ids = [oracle.parse(FIXTURE_LOGS[i]) for i in range(len(FIXTURE_LOGS))]

    assert cluster_f1(spark_ids, oracle_ids)[0] == pytest.approx(1.0)
    assert adjusted_rand_index(spark_ids, oracle_ids) == pytest.approx(1.0)
    # invalids → 'unknown' on both sides (routed-row parity for the
    # fallback sink, parser.py:388-398)
    for s, o in zip(spark_ids, oracle_ids):
        assert (s == "unknown") == (o == "unknown")


def test_corpus_grouping_close_to_sequential_oracle(spark, log_df):
    """On the synthetic web corpus the oracle's own grouping is
    order-sensitive at fuzzy boundaries (insertion-order-dependent tree,
    prefix_tree.py:96-152) — unreproducible by ANY parallel run; we
    require F1/ARI ≥ 0.99 against it (reference baseline itself is 0.906
    F1 on LogPub)."""
    pool = discover_templates(log_df, "text", TEST_CFG)
    assigned = assign_templates(log_df, "text", pool, TEST_CFG)
    rows = assigned.orderBy("url", "line_no").select("text", "template_id").collect()
    spark_ids = [r["template_id"] for r in rows]

    oracle = SequentialParser()
    oracle_ids = [oracle.parse(r["text"]) for r in rows]

    f1, precision, recall = cluster_f1(spark_ids, oracle_ids)
    ari = adjusted_rand_index(spark_ids, oracle_ids)
    assert f1 >= 0.99, (f1, precision, recall)
    assert ari >= 0.99


def test_assignment_is_partition_invariant(spark, log_df):
    """Same clustering at any parallelism: the local[8] ≡ local[32]
    precondition for the scaling-efficiency claim."""
    pool_a = discover_templates(log_df.repartition(2), "text", TEST_CFG)
    pool_b = discover_templates(log_df.repartition(13), "text", TEST_CFG)

    a = {
        (r["url"], r["line_no"]): r["template_id"]
        for r in assign_templates(log_df, "text", pool_a, TEST_CFG).collect()
    }
    b = {
        (r["url"], r["line_no"]): r["template_id"]
        for r in assign_templates(log_df, "text", pool_b, TEST_CFG).collect()
    }
    ga = grouping_accuracy([a[k] for k in sorted(a)], [b[k] for k in sorted(b)])
    assert ga == pytest.approx(1.0)


def test_counts_sum_to_rows(spark, log_df):
    pool = discover_templates(log_df, "text", TEST_CFG)
    assigned = assign_templates(log_df, "text", pool, TEST_CFG)
    counts = assigned.groupBy("template_id").count()
    assert counts.agg(F.sum("count")).collect()[0][0] == log_df.count()
    # every assigned id is either in the pool or 'unknown'
    valid_ids = {t["template_id"] for t in pool} | {"unknown"}
    got_ids = {r["template_id"] for r in counts.collect()}
    assert got_ids <= valid_ids


def test_extract_template_col_matches_python(spark):
    """JVM regex-free extractor ≡ the Python reference extractor,
    token-for-token on adversarial inputs."""
    import pyspark.sql.functions as F

    from logparser_llm_spark.operators.drain import extract_template, extract_template_col

    cases = [
        "plain words only here",
        "error 404 on /index page",
        "<NUM> <PATH> <*> literal tokens",
        "hex deadbeef01 short dead ffff upper DEADBEEF99",
        "kv a=b =x x= == a=b=c key= =",
        "mixed srv-07.internal 10.0.0.1 3.14 007",
        "hexish abcdef01 abcdefg1 0123456 01234567",
        "  spaced   out   tokens  ",
        "",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [r[0] for r in df.select(extract_template_col(F.col("t"))).collect()]
    want = [extract_template(c) for c in cases]
    assert got == want


def test_persist_intermediate_equals_default(spark, log_df):
    from logparser_llm_spark.operators.cluster import parse_and_count

    a1, p1 = parse_and_count(log_df, "text", TEST_CFG)
    a2, p2 = parse_and_count(log_df, "text", TEST_CFG, persist_intermediate=True)
    assert [(t["template_id"], t["pattern"]) for t in p1] == [
        (t["template_id"], t["pattern"]) for t in p2
    ]
    k1 = {(r["url"], r["line_no"]): r["template_id"] for r in a1.collect()}
    k2 = {(r["url"], r["line_no"]): r["template_id"] for r in a2.collect()}
    assert k1 == k2


@pytest.mark.parametrize(
    "variant", ["pool_cap_hit", "slot_voting", "merged_tail", "empty", "all_invalid"]
)
def test_flagship_counts_equal_per_row_path(spark, log_df, variant):
    """The counts-only flagship (one pass to the pattern grain, the map
    applied to the collected pattern counts) equals assigning every row,
    routing and counting — with invalid and null-text lines in the
    corpus, on the pool-cap branch (the tail routes to 'unknown'), with
    slot voting, with a capped-tail pattern the vote created (the per-row
    join labels it, so the counts path must fetch it), on empty input (no
    total row) and on input with no valid line."""
    from dataclasses import replace

    from logparser_llm_spark.functions.hashing import sink_id
    from logparser_llm_spark.operators.cluster import cleaned_frame, parse_and_count, pattern_counts
    from logparser_llm_spark.plans.pipeline import route
    from logparser_llm_spark.plans.queries import parse_route_agg_frame

    junk = spark.createDataFrame(
        [("short",), ("!!!???...",), (None,), ("",), ("   ",)] * 2, "text string"
    )
    df = log_df.select("text").unionByName(junk)
    cfg = TEST_CFG
    voting = replace(TEST_CFG, merging=replace(TEST_CFG.merging, enable_slot_voting=True))
    if variant == "pool_cap_hit":
        patterns = pattern_counts(cleaned_frame(df, "text")).filter(F.col("pattern").isNotNull())
        cap = patterns.count() // 2
        cfg = PipelineConfig(scale=ScaleConfig(broadcast_pool_max_templates=cap))
    elif variant == "slot_voting":
        cfg = voting
    elif variant == "merged_tail":
        # the top 4 patterns vote into "worker <*> finished task ok"; the
        # same pattern, extracted from a numeric slot, is the capped tail
        words = [f"worker {w} finished task ok" for w in ("alpha", "bravo", "charlie", "delta")]
        tail = ["worker 42 finished task ok"] * 2
        df = spark.createDataFrame([(t,) for t in words * 5 + tail], "text string")
        df = df.unionByName(junk)
        cfg = replace(voting, scale=replace(voting.scale, broadcast_pool_max_templates=4))
    elif variant == "empty":
        df = spark.createDataFrame([], "text string")
    else:
        df = junk

    assigned, pool = parse_and_count(df, "text", cfg)
    want = {
        (r["sink_id"], r["template_id"]): r["count"]
        for r in route(assigned, cfg).groupBy("sink_id", "template_id").count().collect()
    }
    out = parse_route_agg_frame(df, "text", cfg)
    assert out.schema.simpleString() == "struct<sink_id:bigint,template_id:string,doc_count:bigint>"
    got = {(r["sink_id"], r["template_id"]): r["doc_count"] for r in out.collect()}
    assert got == want
    assert sum(got.values()) == df.count()
    unknown = sum(v for (_, t), v in got.items() if t == "unknown")
    if variant == "pool_cap_hit":
        assert len(pool) <= cap
        assert unknown > 10  # the 10 invalid lines plus the capped tail
    elif variant == "slot_voting":
        assert unknown == 10
        # the vote merged patterns: the map joins pre-merge source patterns
        assert any(len(t["sources"]) > 1 for t in pool)
    elif variant == "merged_tail":
        assert [t["pattern"] for t in pool] == ["worker <*> finished task ok"]
        assert got == {
            (sink_id("tmpl_0000", 8), "tmpl_0000"): 22,
            (sink_id("unknown", 8), "unknown"): 10,
        }
    elif variant == "empty":
        assert got == {}
    else:
        assert got == {(sink_id("unknown", 8), "unknown"): 10}


def test_pool_to_df_roundtrip(spark, log_df):
    pool = discover_templates(log_df, "text", TEST_CFG)
    pdf = pool_to_df(spark, pool)
    assert pdf.count() == len(pool)
    assert set(pdf.columns) == {"template_id", "pattern", "discovery_count", "confidence"}
