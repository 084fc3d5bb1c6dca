"""Pool mutation API (merge_templates / remove_template) — differential
against the reference TemplatePool (template_pool.py:128-196)."""

import pytest

from logparser_llm_spark.operators.merging import (
    merge_patterns_zip,
    pool_merge_templates,
    pool_remove_template,
)

from .ref_loader import needs_reference, ref_template_pool

POOL = [
    {"template_id": "tmpl_0000", "pattern": "connect to <*> failed with <*>",
     "count": 7, "examples": ["connect to db failed with timeout"], "confidence": 0.9},
    {"template_id": "tmpl_0001", "pattern": "connect to <*> failed after retries",
     "count": 3, "examples": ["connect to cache failed after retries"], "confidence": 0.8},
    {"template_id": "tmpl_0002", "pattern": "user <*> logged in",
     "count": 11, "examples": ["user 7 logged in"], "confidence": 0.95},
]


def _ref_pool():
    mod = ref_template_pool()
    models = __import__("sys").modules["logparser_llm.models.log_entry"]
    pool = mod.TemplatePool()
    for t in POOL:
        pool.templates[t["template_id"]] = models.Template(
            template_id=t["template_id"],
            template_pattern=t["pattern"],
            count=t["count"],
            example_logs=list(t["examples"]),
            confidence=t["confidence"],
        )
    return pool


@needs_reference
def test_merge_templates_differential():
    ref = _ref_pool()
    ref_id = ref.merge_templates("tmpl_0000", "tmpl_0001")
    ours, our_id = pool_merge_templates(POOL, "tmpl_0000", "tmpl_0001")

    assert our_id == ref_id == "tmpl_0000"
    merged_ref = ref.templates["tmpl_0000"]
    merged = next(t for t in ours if t["template_id"] == "tmpl_0000")
    assert merged["pattern"] == merged_ref.template_pattern  # zip-truncating
    assert merged["count"] == merged_ref.count == 10
    assert merged["examples"] == merged_ref.example_logs
    assert merged["confidence"] == pytest.approx(merged_ref.confidence) == 0.8
    assert "tmpl_0001" not in {t["template_id"] for t in ours}
    assert "tmpl_0001" not in ref.templates
    # untouched template preserved
    assert next(t for t in ours if t["template_id"] == "tmpl_0002")["count"] == 11
    # absorbed patterns keep routing to the merged id via sources
    assert set(merged["sources"]) == {
        "connect to <*> failed with <*>", "connect to <*> failed after retries"
    }


@needs_reference
def test_merge_templates_missing_id_is_noop():
    ref = _ref_pool()
    assert ref.merge_templates("tmpl_0000", "nope") is None
    ours, rid = pool_merge_templates(POOL, "tmpl_0000", "nope")
    assert rid is None and ours == POOL


@needs_reference
def test_remove_template_differential():
    ref = _ref_pool()
    assert ref.remove_template("tmpl_0002") is True
    assert ref.remove_template("tmpl_0002") is False
    ours, ok = pool_remove_template(POOL, "tmpl_0002")
    assert ok and "tmpl_0002" not in {t["template_id"] for t in ours}
    ours2, ok2 = pool_remove_template(ours, "tmpl_0002")
    assert not ok2 and ours2 == ours


@needs_reference
def test_merge_patterns_zip_matches_reference():
    ref = _ref_pool()
    cases = [
        ("a b c d", "a x c"),          # truncation
        ("one two", "one two three"),  # truncation the other way
        ("same same", "same same"),
    ]
    for p1, p2 in cases:
        assert merge_patterns_zip(p1, p2) == ref._merge_patterns(p1, p2)


def test_merged_pool_still_assigns_absorbed_patterns():
    """After a pool-API merge, rows matching either original pattern must
    route to the merged id (the log_to_template re-pointing analogue)."""
    from logparser_llm_spark.operators.cluster import assignment_map

    merged, _ = pool_merge_templates(POOL, "tmpl_0000", "tmpl_0001")
    amap = assignment_map(merged)
    assert amap["connect to <*> failed with <*>"] == "tmpl_0000"
    assert amap["connect to <*> failed after retries"] == "tmpl_0000"
