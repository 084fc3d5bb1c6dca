"""Pool export in the reference's templates.json format must be loadable
by the reference's own TemplatePool (differential round-trip)."""

import json

from logparser_llm_spark.operators.cluster import (
    discover_templates,
    pool_to_reference_json,
)
from logparser_llm_spark.sources.synth import generate_log_lines

from .ref_loader import needs_reference, ref_template_pool


@needs_reference
def test_reference_pool_roundtrip(spark, tmp_path):
    lines = generate_log_lines(spark, 150, seed=19)
    pool = discover_templates(lines, "text")
    data = pool_to_reference_json(pool)
    path = tmp_path / "templates.json"
    path.write_text(json.dumps(data, indent=2))

    ref_pool_mod = ref_template_pool()
    rp = ref_pool_mod.TemplatePool()
    rp.load_from_file(str(path))
    assert len(rp.templates) == len(pool)
    for t in pool:
        loaded = rp.get_template(t["template_id"])
        assert loaded is not None
        assert loaded.template_pattern == t["pattern"]
        assert loaded.count == t["count"]
    # reference pool statistics work over our exported pool
    stats = rp.get_statistics()
    assert stats["total_templates"] == len(pool)
    assert stats["total_logs_parsed"] == sum(t["count"] for t in pool)
