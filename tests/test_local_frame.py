"""``session.local_frame``: every driver-built dimension is an exactly
typed JVM LocalRelation, whatever its rows, schema form or the Arrow
setting — and the Python-RDD idiom it replaces stays out of the package."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from logparser_llm_spark.operators.cluster import assign_patterns
from logparser_llm_spark.operators.sampling import _PORTABLE_KEY_TYPES, quota_mix
from logparser_llm_spark.session import local_frame

NULLABLE_DDL = "s string, n bigint, x double"
NULLABLE_ROWS = [("a", 1, 0.5), (None, None, None), ("", -(2**63), 1e300)]


def _is_local(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan and "Scan ExistingRDD" not in plan


@pytest.fixture(params=["arrow_on", "arrow_off"])
def session(spark, request):
    """The shared session, and a fresh one with Arrow conversion off."""
    if request.param == "arrow_on":
        return spark
    fresh = spark.newSession()
    fresh.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    return fresh


@pytest.mark.parametrize("rows", [NULLABLE_ROWS, []], ids=["nulls", "empty"])
@pytest.mark.parametrize(
    "schema",
    [
        NULLABLE_DDL,
        StructType(
            [
                StructField("s", StringType()),
                StructField("n", LongType()),
                StructField("x", DoubleType()),
            ]
        ),
    ],
    ids=["ddl", "struct"],
)
def test_exact_types_rows_and_local_plan(session, rows, schema):
    df = local_frame(session, rows, schema)
    assert df.schema.simpleString() == "struct<s:string,n:bigint,x:double>"
    assert [tuple(r) for r in df.collect()] == rows
    assert _is_local(df)
    assert df.rdd.getNumPartitions() == 1


@pytest.mark.parametrize("key_type", sorted(_PORTABLE_KEY_TYPES))
def test_sampling_key_types_round_trip(spark, key_type):
    """``quota_mix`` builds its quota dim with the input's own key type;
    every key type sampling accepts survives exactly, null key included."""
    keys = ["k1", "k2"] if key_type == "string" else [-(2**7), 2**7 - 1]
    rows = [(keys[0], 3), (keys[1], 0), (None, 1)]
    df = local_frame(spark, rows, f"key {key_type}, __quota bigint")
    assert dict(df.dtypes) == {"key": key_type, "__quota": "bigint"}
    assert [tuple(r) for r in df.collect()] == rows
    assert _is_local(df)


def test_quota_mix_int_keys_plan_local(spark):
    df = spark.range(30).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("smallint").alias("bucket")
    )
    out = quota_mix(df, "bucket", "doc_id", {}, 9, default_frac=0.5)
    assert sorted(r["bucket"] for r in out.collect()) == [0] * 4 + [1] * 4 + [2] * 4  # floor(0.5 · 9) each
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan


def test_empty_pool_labels_every_row_unknown(spark):
    df = spark.createDataFrame([("a b c",), (None,), ("x",)], "pattern string")
    out = assign_patterns(df, [])
    assert [r["template_id"] for r in out.collect()] == ["unknown"] * 3


def test_no_python_rdd_frames_in_package():
    """Driver-built tables go through ``local_frame``; the only
    ``parallelize`` left is the components local finish, a data-sized
    result (up to ~1M rows) that would not belong embedded in a plan."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "logparser_llm_spark"
    hits = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if re.search(r"sparkContext\.parallelize\(", p.read_text())
    )
    assert hits == ["operators/components.py"], hits
