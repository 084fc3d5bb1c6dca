"""The benchmark's tracer wraps package functions by module attribute
(``perfbench/spans.py``). A refactor that renames, moves or stops calling
through one of those bindings silently blanks a layer of the traced
report, so this pins both halves: every traced binding exists, and a
resumable run fires the spans of the layers it runs."""

import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


@pytest.fixture(scope="module")
def spans():
    sys.path.insert(0, PERFBENCH)
    try:
        import spans
    finally:
        sys.path.remove(PERFBENCH)
    return spans


def test_every_traced_binding_exists(spans):
    for owner, attr, _ in spans.SPANNED + spans.COUNTED:
        assert attr in owner.__dict__, f"{owner.__name__}.{attr}"


def test_resumable_run_records_layer_spans(spark, spans, tmp_path):
    from logparser_llm_spark.plans.checkpoint import run_resumable
    from logparser_llm_spark.sources.synth import generate_pages

    src = str(tmp_path / "src")
    generate_pages(spark, 40, seed=51).coalesce(1).write.parquet(src)
    tracer = spans.Tracer(spark.sparkContext)
    tracer.install()
    try:
        run_resumable(spark, src, str(tmp_path / "ck"), str(tmp_path / "out"))
    finally:
        tracer.uninstall()
    names = {s["name"] for s in tracer.spans}
    for name in ("cluster.discover", "merging.dedup", "sinks.write", "checkpoint.save"):
        assert name in names, name


def test_flagship_counts_charge_the_aggregate_to_discovery(spark, spans):
    """The counts-only flagship runs its aggregate inside discovery's
    collect, so a traced run charges that job to ``cluster.discover`` and
    still records the driver-side map and merge layers."""
    from logparser_llm_spark.plans.queries import parse_route_agg_frame
    from logparser_llm_spark.sources.synth import generate_log_lines

    lines = generate_log_lines(spark, 200, seed=45, partitions=2)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # span ids repeat across tracers: count only the jobs started after this one
    sc.setJobGroup("before-trace", "job id watermark")
    spark.range(2).count()
    mark = max(tracker.getJobIdsForGroup("before-trace"))
    tracer = spans.Tracer(sc)
    tracer.install()
    try:
        parse_route_agg_frame(lines).collect()
    finally:
        tracer.uninstall()
        sc.setJobGroup(None, None)
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s["id"])
    for name in ("cluster.discover", "drain.assignment_map", "merging.merge"):
        assert name in by_name, name
    groups = by_name["cluster.discover"]
    jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g) if j > mark]
    assert len(jobs) >= 2, jobs  # the aggregate's map stage and its ordered collect
