"""Metrics formula parity vs the actual reference metrics module, plus the
distributed variants."""

import random

import pytest

from logparser_llm_spark.metrics import (
    adjusted_rand_index,
    adjusted_rand_index_df,
    cluster_f1,
    grouping_accuracy,
    grouping_accuracy_df,
    parsing_accuracy,
    template_accuracy,
)

from .ref_loader import needs_reference, ref_metrics


def _random_labels(seed: int, n: int, k: int) -> list[str]:
    rng = random.Random(seed)
    return [f"c{rng.randint(0, k)}" for _ in range(n)]


@needs_reference
@pytest.mark.parametrize("seed", [1, 5, 9])
def test_formula_parity_with_reference(seed):
    REF = ref_metrics().ParsingMetrics
    pred = _random_labels(seed, 200, 8)
    truth = _random_labels(seed + 1, 200, 6)
    assert grouping_accuracy(pred, truth) == REF.grouping_accuracy(pred, truth)
    assert cluster_f1(pred, truth) == REF.f1_score(pred, truth)
    assert adjusted_rand_index(pred, truth) == pytest.approx(
        REF.adjusted_rand_index(pred, truth)
    )
    t1 = {f"t{i}": f"User  <*> logged   in {i}" for i in range(5)}
    t2 = {f"t{i}": f"User <*> logged in {i}" for i in range(5)}
    assert template_accuracy(t1, t2) == REF.template_accuracy(t1, t2) == 1.0
    assert parsing_accuracy(list(t1.values()), list(t2.values())) == REF.parsing_accuracy(
        list(t1.values()), list(t2.values())
    )


def test_perfect_scores():
    labels = ["a", "a", "b", "c", "c", "c"]
    relabeled = ["x", "x", "y", "z", "z", "z"]  # same clustering, new names
    f1, p, r = cluster_f1(labels, relabeled)
    assert (f1, p, r) == (1.0, 1.0, 1.0)
    assert adjusted_rand_index(labels, relabeled) == pytest.approx(1.0)
    assert grouping_accuracy(labels, labels) == 1.0


def test_distributed_variants_match(spark):
    pred = _random_labels(3, 500, 10)
    truth = _random_labels(4, 500, 7)
    df = spark.createDataFrame(list(zip(pred, truth)), "pred string, truth string")
    assert grouping_accuracy_df(df, "pred", "truth") == pytest.approx(
        grouping_accuracy(pred, truth)
    )
    assert adjusted_rand_index_df(df, "pred", "truth") == pytest.approx(
        adjusted_rand_index(pred, truth)
    )


def test_grouping_accuracy_groups_basics():
    from logparser_llm_spark.metrics import grouping_accuracy_groups

    # identical clusterings under different label names → 1.0
    assert grouping_accuracy_groups(["x", "x", "y"], ["a", "a", "b"]) == 1.0
    # one over-split cluster: lines 0,1 predicted apart but together in
    # truth → both wrong; line 2's singleton matches → 1/3
    assert grouping_accuracy_groups(["p", "q", "y"], ["a", "a", "b"]) == pytest.approx(1 / 3)
    assert grouping_accuracy_groups([], []) == 0.0


def test_accuracy_scorecard(spark):
    """The published scorecard (VERDICT r2 item 3; numbers in
    BENCH/BASELINE.md). Bounds assert the three claims the table makes:

    - the distributed pipeline reproduces the sequential reference flow
      almost exactly (disagreement only at the tree's insertion-order-
      dependent fuzzy/prefix boundaries, unreproducible by ANY parallel
      run — see test_corpus_grouping_close_to_sequential_oracle);
    - against seeded ground truth both sides over-SPLIT but never
      cross-group (precision 1.0) — the safe direction for dedup/routing;
    - F1 vs truth within the stated bound.
    """
    from logparser_llm_spark.metrics import accuracy_scorecard

    sc = accuracy_scorecard(spark, n_pages=600, seed=101)
    svo = sc["spark_vs_oracle"]
    assert svo["GA"] >= 0.97 and svo["F1"] >= 0.99 and svo["ARI"] >= 0.99, svo
    for side in ("spark_vs_truth", "oracle_vs_truth"):
        s = sc[side]
        assert s["precision"] == pytest.approx(1.0), (side, s)
        assert s["F1"] >= 0.78, (side, s)
        assert 0.25 <= s["PA"] <= 1.0, (side, s)
    # spark and oracle are near-identical graders of the same corpus
    assert abs(sc["spark_vs_truth"]["F1"] - sc["oracle_vs_truth"]["F1"]) < 0.02
    # slot-voting rows (VERDICT r3 item 2): the cross-member slot vote
    # recovers the word/path slots the per-row extractor over-splits —
    # near-perfect grouping vs seeded truth at unchanged precision, with
    # pipeline/oracle agreement maintained under symmetric treatment
    sv = sc["spark_vs_truth_slotvote"]
    assert sv["precision"] == pytest.approx(1.0), sv
    assert sv["recall"] >= 0.99, sv
    assert sv["GA"] >= 0.99 and sv["F1"] >= 0.99 and sv["ARI"] >= 0.99, sv
    # r5: PA_norm canonicalizes placeholder runs on both sides
    # (metrics.canonicalize_template) — semantic template agreement is
    # exact on this fixture (was 0.831 before canonicalization, vs the
    # reference's published LLM PA 81.1% in raw space)
    assert sv["PA_norm"] >= 0.99, sv
    ov = sc["oracle_vs_truth_slotvote"]
    assert ov["precision"] == pytest.approx(1.0) and ov["recall"] >= 0.98, ov
    assert sc["spark_vs_oracle_slotvote"]["GA"] >= 0.97


def test_fixture_grouping_accuracy_is_exactly_one(spark):
    """On the designed fixture corpus the distributed grouping equals the
    sequential oracle EXACTLY — GA (Loghub exact-group metric) == 1.0."""
    from logparser_llm_spark.metrics import grouping_accuracy_groups
    from logparser_llm_spark.operators.cluster import assign_templates, discover_templates
    from logparser_llm_spark.reference_oracle import SequentialParser
    from tests.test_cluster_spark import FIXTURE_LOGS, TEST_CFG

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXTURE_LOGS)], "row_id int, text string"
    )
    pool = discover_templates(df, "text", TEST_CFG)
    assigned = assign_templates(df, "text", pool, TEST_CFG)
    spark_ids = [
        r["template_id"] for r in assigned.orderBy("row_id").collect()
    ]
    oracle = SequentialParser(TEST_CFG)
    oracle_ids = [oracle.parse(t) for t in FIXTURE_LOGS]
    assert grouping_accuracy_groups(spark_ids, oracle_ids) == 1.0


def test_canonicalize_template_collapses_placeholder_runs():
    """VERDICT r4 item 6: runs of placeholders separated by punctuation
    collapse to one <*>; literals and structure are untouched."""
    from logparser_llm_spark.metrics import canonicalize_template as c

    assert c("Scheduled job <*>-<*> completed") == "Scheduled job <*> completed"
    assert c("from <NUM>.<NUM> session <*>") == "from <*> session <*>"
    assert c("a <*>:<NUM>/<PATH> b") == "a <*> b"
    # single placeholders (even with adjacent punctuation) stay put
    assert c("code <*>, done") == "code <*>, done"
    assert c("worker <*> finished") == "worker <*> finished"
    # whitespace never joins a run; literals between placeholders block it
    assert c("<*> - <*>") == "<*> - <*>"
    assert c("<*>x<*>") == "<*>x<*>"
