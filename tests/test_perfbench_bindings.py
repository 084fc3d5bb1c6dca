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
