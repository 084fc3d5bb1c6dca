"""The traced run: per-layer metrics from spans, the event log and a ladder.

Untraced runs first give the reference time; then the same runs with the
span recorders installed (``spans.Tracer``); then the prefix ladder probes
the lazy layers. The session is stopped so the event log is complete, and
``attribution`` charges each Spark job to its span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

from logparser_llm_spark.config import DEFAULT_CONFIG
from logparser_llm_spark.operators import cluster

import attribution
from run import closed_run, warm_up
from spans import Tracer
from workloads import dir_stats, ladder

RUNS = 3          # traced runs of a closed-loop workload
LADDER_REPS = 3   # probes per ladder rung (median taken)

S, MB, COUNT, RATIO = "s", "MB", "count", "ratio"
PER_LAYER = {  # metric -> unit, as BENCHMARK.json lists them
    "sources.scan_s": S, "sources.input_mb": MB, "sources.input_files": COUNT,
    "cleaning.s": S, "cleaning.rows_invalid": COUNT,
    "drain.extract_s": S, "drain.assignment_map_s": S, "drain.tree_walks": COUNT,
    "cluster.discover_s": S, "cluster.assign_s": S, "cluster.patterns_collected": COUNT,
    "cluster.pool_size": COUNT, "cluster.pool_cap_hit": COUNT, "cluster.cached_mb": MB,
    "cluster.hit_rate": RATIO,
    "merging.s": S, "merging.pair_checks": COUNT, "merging.collapse_ratio": RATIO,
    "pipeline.projection_s": S, "pipeline.enrich_s": S, "pipeline.route_agg_s": S,
    "sinks.write_s": S, "sinks.mb_written": MB, "sinks.files_written": COUNT,
    "checkpoint.list_s": S, "checkpoint.refresh_s": S, "checkpoint.save_s": S,
    "checkpoint.files_per_run": COUNT, "checkpoint.new_templates": COUNT,
    "spark.jobs": COUNT, "spark.stages": COUNT, "spark.tasks": COUNT, "spark.tasks_failed": COUNT,
    "spark.job_s": S, "spark.driver_gap_s": S, "spark.shuffle_mb": MB, "spark.input_scans": COUNT,
    "loadgen.lag_s": S, "trace.overhead_share": RATIO,
}


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def run_ladder(spark, rungs) -> dict[str, float]:
    """Median probe time per rung, minus the previous rung's."""
    out, prev = {}, 0.0
    for name, probe in rungs:
        times = []
        for _ in range(LADDER_REPS):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            probe()
            times.append(time.perf_counter() - t0)
        med = statistics.median(times)
        out[name], prev = med - prev, med
    return out


def input_stats(paths: list[str]) -> tuple[float, int, int]:
    """(MB, files, rows) of parquet inputs."""
    import pyarrow.parquet as pq

    files = []
    for p in paths:
        if os.path.isdir(p):
            files += [os.path.join(r, n) for r, _, ns in os.walk(p) for n in ns if n.endswith(".parquet")]
        else:
            files.append(p)
    return (sum(os.path.getsize(f) for f in files) / 1e6, len(files),
            sum(pq.ParquetFile(f).metadata.num_rows for f in files))


def traced_run(args, wl, spark, work: str, evlog: str) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    tracer = Tracer(spark.sparkContext)
    if wl.name == "deltas":

        @contextmanager
        def every_other(i):
            # traced and untraced calls alternate within one window
            if i % 2 == 0:
                yield False
                return
            tracer.install()
            try:
                yield True
            finally:
                tracer.uninstall()

        wl.warm_up(spark)
        win = wl.window(spark, args.seconds, around_call=every_other)
        calls = win["calls"]
        n_runs = sum(c["tag"] for c in calls)
        attempted = len(win["files"])
        failed = 0 if win["ok"] else attempted
        m["trace.overhead_share"] = (statistics.median(c["s"] for c in calls if c["tag"])
                                     / statistics.median(c["s"] for c in calls if not c["tag"]) - 1)
        m["loadgen.lag_s"] = max(win["lag"], default=0.0)
        m["checkpoint.files_per_run"] = sum(c["files"] for c in calls) / len(calls)
        m["checkpoint.new_templates"] = win["new_templates"]
        m["cluster.pool_size"] = calls[-1]["pool"]
        paths = [f"{win['dir']}/input/{n}" for n in win["files"]]
        mb, files, rows = input_stats(paths)
        m["sources.input_mb"], m["sources.input_files"] = mb / len(calls), files / len(calls)
        out_mb, out_files = dir_stats(f"{win['dir']}/out")
        boot_mb, boot_files = dir_stats(f"{work}/boot/out")
        m["sinks.mb_written"] = (out_mb - boot_mb) / len(calls)
        m["sinks.files_written"] = (out_files - boot_files) / len(calls)
        frame = spark.read.parquet(*paths)
        rungs = ladder(frame, rows=True)
        scan_rows = rows
        scanned_rows = sum(c["lines"] for c in calls if c["tag"])  # rows the traced calls read
    else:
        warm_up(spark, wl, f"{work}/out")
        # untraced and traced runs alternate, so JIT warm-up and drift
        # cannot pass for tracing overhead
        plain, runs, cached = [], [], []
        for _ in range(RUNS):
            plain.append(closed_run(spark, wl, f"{work}/out"))
            tracer.install()
            try:
                with tracer.span("run"):
                    rec = closed_run(spark, wl, f"{work}/out",
                                     probe=lambda: {"cached_mb": cached_mb(spark)})
            finally:
                tracer.uninstall()
            cached.append(rec.pop("cached_mb"))
            runs.append(rec)
        n_runs = RUNS
        attempted = len(plain) + len(runs)
        failed = sum(not r["ok"] for r in plain + runs)
        base = statistics.median(r["s"] for r in plain)
        m["trace.overhead_share"] = statistics.median(r["s"] for r in runs) / base - 1
        m["cluster.cached_mb"] = statistics.median(cached)
        m["sinks.mb_written"] = statistics.median(r["out_mb"] for r in runs)
        m["sinks.files_written"] = statistics.median(r["out_files"] for r in runs)
        mb, files, scan_rows = input_stats([wl.input])
        scanned_rows = scan_rows * n_runs
        m["sources.input_mb"], m["sources.input_files"] = mb, files
        frame = wl.frame(spark)
        rungs = ladder(frame, rows=False)
    m.update(run_ladder(spark, rungs))
    cleaned = cluster.cleaned_frame(frame, "text")
    m["cleaning.rows_invalid"] = cleaned.filter(~F.col("is_valid")).count()
    spans_by_name = defaultdict(float)
    self_s = tracer.self_seconds()
    for s in tracer.spans:
        spans_by_name[s["name"]] += self_s[s["id"]]
    for name, key in (("drain.assignment_map", "drain.assignment_map_s"),
                      ("cluster.discover", "cluster.discover_s"),
                      ("sinks.write", "sinks.write_s"),
                      ("checkpoint.list", "checkpoint.list_s"),
                      ("checkpoint.refresh", "checkpoint.refresh_s"),
                      ("checkpoint.save", "checkpoint.save_s")):
        m[key] = spans_by_name[name] / n_runs
    m["merging.s"] = sum(v for k, v in spans_by_name.items() if k.startswith("merging.")) / n_runs
    m["merging.pair_checks"] = tracer.counts["merging.pair_checks"] / n_runs
    m["drain.tree_walks"] = tracer.counts["drain.tree_walks"] / n_runs
    by_id = {s["id"]: s for s in tracer.spans}
    merges = [s for s in tracer.spans if s["name"] == "merging.merge"]
    if merges:
        m["merging.collapse_ratio"] = 1 - sum(s["n_out"] for s in merges) / sum(s["n_in"] for s in merges)
    collected = [s["n_in"] for s in tracer.spans if s["name"] == "merging.dedup"
                 and by_id.get(s["parent"], {}).get("name") == "cluster.discover"]
    m["cluster.patterns_collected"] = sum(collected) / n_runs
    m["cluster.pool_cap_hit"] = float(any(
        c >= DEFAULT_CONFIG.scale.broadcast_pool_max_templates for c in collected))
    if wl.name != "deltas":
        pools = [s["n_out"] for s in tracer.spans if s["name"] == "merging.canonicalize"]
        m["cluster.pool_size"] = pools[-1] if pools else 0
        total = sum(r["total"] for r in runs)
        valid = total - m["cleaning.rows_invalid"] * n_runs
        m["cluster.hit_rate"] = (total - sum(r["unknown"] for r in runs)) / valid
    else:
        invalid_share = m["cleaning.rows_invalid"] / max(1, scan_rows)
        m["cluster.hit_rate"] = (1 - win["unknown_share"]) / (1 - invalid_share)
    spark.stop()
    app = attribution.attribute(attribution.read_events(evlog), "/input")
    totals = defaultdict(float)
    gap = 0.0
    for s in tracer.spans:
        g = app.get(s["id"], {})
        for k in ("jobs", "stages", "tasks", "tasks_failed", "job_s", "shuffle_mb", "input_rows"):
            totals[k] += g.get(k, 0)
        gap += self_s[s["id"]] - g.get("job_s", 0.0)
    for k in ("jobs", "stages", "tasks", "tasks_failed", "job_s", "shuffle_mb"):
        m[f"spark.{k}"] = totals[k] / n_runs
    m["spark.driver_gap_s"] = gap / n_runs
    m["spark.input_scans"] = totals["input_rows"] / scanned_rows
    wall = sum(s["t1"] - s["t0"] for s in tracer.spans if s["parent"] is None)
    ladder_s = sum(m[k] for k, _ in rungs)
    print(json.dumps({"detail": {
        "runs": n_runs, "wall_s": wall / n_runs, "ladder_s": ladder_s,
        "spans_self_s": {k: v / n_runs for k, v in sorted(spans_by_name.items())},
    }}))
    return {
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": float(m[k]), "unit": u} for k, u in PER_LAYER.items()},
    }

