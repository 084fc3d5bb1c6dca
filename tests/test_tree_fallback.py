"""New data against an old pool (incremental-corpus scenario): rows whose
extract-pattern is absent from the broadcast map route to 'unknown', even
when their tokens would fuzzy-match an old template's tree path."""

import pytest
from pyspark.sql import functions as F

from logparser_llm_spark.operators.cluster import (
    assign_templates,
    discover_templates,
)

OLD_CORPUS = [
    "Failed to connect to database db-01 on port 5432",
    "Failed to connect to database db-02 on port 5433",
    "Failed to connect to database db-03 on port 5434",
    "User alice logged in from 10.0.0.1 successfully",
    "User bobby logged in from 10.0.0.2 successfully",
]

# new lines whose extract pattern is NOT in the old pool, but whose tokens
# fuzzy-match an old template's path (levenshtein ≥ 0.8 at some level)
NEW_LINES = [
    # 'databasa' ~ 'database' similarity 7/8 = 0.875 ≥ 0.8 → fuzzy hit
    "Failed to connect to databasa db-09 on port 9999",
    # totally new shape → no match at all
    "Scheduler fired cron job cleanup without incident",
]


@pytest.fixture(scope="module")
def pool(spark):
    df = spark.createDataFrame([(t,) for t in OLD_CORPUS], "text string")
    return discover_templates(df, "text")


def test_unknown_fallback_without_tree(spark, pool):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(NEW_LINES)], "i int, text string")
    out = {r["i"]: r["template_id"] for r in assign_templates(df, "text", pool).collect()}
    assert out[0] == "unknown"  # exact-map miss, no tree
    assert out[1] == "unknown"
