"""Physical-plan inspection: assert the plans we designed are the plans
Spark runs. Used by tests and by ``bench_extra.py --plans-only``, which
dumps the registered queries' plans (BENCH/PLANS.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_facts(df: DataFrame) -> dict[str, bool | int]:
    """The properties we design for, extracted from the physical plan."""
    plan = physical_plan(df)
    return {
        "broadcast_hash_join": "BroadcastHashJoin" in plan,
        "sort_merge_join": "SortMergeJoin" in plan,
        # '*(n)' is the whole-stage-codegen marker in executedPlan strings
        "whole_stage_codegen": "WholeStageCodegen" in plan or "*(" in plan,
        "python_udf": "BatchEvalPython" in plan or "ArrowEvalPython" in plan,
        # deliberate Arrow-batched Python stages (not row-wise UDF eval) —
        # reported separately so a mapInPandas operator doesn't read as
        # "no Python anywhere"
        "map_in_pandas": "MapInPandas" in plan,
        "partial_aggregate": "partial_" in plan,
        "exchanges": plan.count("Exchange"),
    }
