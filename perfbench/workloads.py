"""The closed-loop workload, its output check, and the layer ladder.

Closed loop (bulk_counts): one run at a time over a fixed corpus. Open
loop (deltas): ``deltas.DeltaWorkload``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from logparser_llm_spark.operators import cluster
from logparser_llm_spark.plans import pipeline, queries

import corpus
from reference import Reference, digest


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, data files) under ``path``, hidden and marker files excluded."""
    mb, files = 0.0, 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if not n.startswith((".", "_")):
                mb += os.path.getsize(os.path.join(root, n)) / 1e6
                files += 1
    return mb, files


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ladder(df, rows: bool) -> list[tuple[str, object]]:
    """Probes of successively longer lazy plans over ``df``; each rung's
    extra time over the previous one is the self time of one layer.
    ``rows`` adds the per-row projection and enrich layers."""
    pool = cluster.discover_templates(df, "text")
    cleaned = cluster.cleaned_frame(df, "text")
    assigned = cluster.assign_templates(df, "text", pool)
    rungs = [
        ("sources.scan_s", lambda: noop(df)),
        ("cleaning.s", lambda: noop(cleaned)),
        ("drain.extract_s", lambda: noop(cleaned.withColumn("_p", cluster.pattern_col()(F.col("cleaned"))))),
        ("cluster.assign_s", lambda: noop(assigned)),
    ]
    last = assigned
    if rows:
        parsed = pipeline.parsed_projection(assigned, pool)
        last = pipeline.enrich(parsed)
        rungs += [
            ("pipeline.projection_s", lambda: noop(parsed)),
            ("pipeline.enrich_s", lambda: noop(last)),
        ]

    def route_agg():
        # a fresh plan per probe: re-collecting one DataFrame would reuse
        # its shuffle files and skip the map side
        if rows:  # run_pipeline's salted per-sink counts
            return pipeline.sink_counts(pipeline.route(last)).collect()
        return pipeline.route(last).groupBy("sink_id", "template_id").agg(F.count(F.lit(1))).collect()

    rungs.append(("pipeline.route_agg_s", route_agg))
    return rungs


class BulkWorkload:
    """Counts-only flagship: ``parse_route_agg_frame(...).collect()``."""

    name = "bulk_counts"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.input = f"{work}/input"
        self.labels = f"{work}/labels"

    def setup(self, spark) -> None:
        for d in (self.input, self.labels):
            shutil.rmtree(d, ignore_errors=True)
        corpus.synth_lines(20_000, self.seed, 8, self.input, self.labels)
        self.ref = Reference(f"{self.input}/*.parquet", f"{self.labels}/*.parquet", self.work)
        self.lines = self.ref.lines

    def frame(self, spark):
        return spark.read.parquet(self.input)

    def run(self, spark, out: str):
        return queries.parse_route_agg_frame(self.frame(spark)).collect()

    def check(self, result, out: str) -> dict:
        rows = [(r["sink_id"], r["template_id"], r["doc_count"]) for r in result]
        total = sum(r[2] for r in rows)
        unknown = sum(r[2] for r in rows if r[1] == "unknown")
        ok = digest(rows) == self.ref.digest and total == self.lines and unknown == self.ref.unknown
        # counts-only output: its per-line grouping is the reference's,
        # which the digest match has just confirmed
        return {"ok": ok, "total": total, "unknown": unknown, "ga": self.ref.ga}

