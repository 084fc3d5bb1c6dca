"""Checkpoint / lineage manifest: resumable runs without reprocessing.

The Spark equivalent of the reference's ``save_state``/``load_state``
(reference core/parser.py:432-455: templates.json + statistics.json),
extended to the north rule's "resumable from checkpoint with
per-partition lineage + metrics":

- the unit of work is an **input file** (parquet split) — stable,
  enumerable, and exactly what a 10^12-row Iceberg table exposes as
  partitions/files;
- a JSON **manifest** records every completed unit with its row counters
  (per-partition lineage) and the pool version it was parsed with;
- the **template pool** is checkpointed like the reference's
  templates.json (template_pool.py:198-245) and reloaded on resume —
  existing template ids stay STABLE (the reference's online-learning
  contract: already-routed rows are never re-labeled); genuinely new
  patterns get fresh ids appended after the existing ones;
- resume = set-difference(input files, manifest) → only new files are
  read (Spark never even scans completed ones: the file list is pruned
  before ``spark.read``), their routed rows appended, and their counts
  added on the driver to the manifest's cumulative counts (the reference's
  ``Template.count``), which are published, never read back from output;
- one slice step does the work: ``parse_slice`` (discover → grow the
  stable pool → assign → project → enrich → route, with the slice's
  per-sink counts and lineage summed on the driver from the discovery
  collect) and ``write_slice`` (the run-keyed sink and count writes).
  ``run_resumable`` runs it per set of new files,
  ``streaming.incremental.StreamingParser`` per micro-batch and
  ``pipeline.run_pipeline`` once over its whole input.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..operators import cluster
from ..operators.cluster import discover_templates  # noqa: F401  -- only for perfbench/spans.py's tracer
from ..operators.drain import UNKNOWN_ID
from ..operators.merging import dedup_pool_exact
from ..session import local_frame
from .pipeline import COUNTS_SCHEMA, enrich, parsed_projection, route, slice_counts

MANIFEST_NAME = "manifest.json"
POOL_NAME = "pool.json"
STATS_NAME = "statistics.json"


def _json_safe_stats(stats: dict) -> dict:
    """float('inf') is not valid JSON — serialize like the reference's
    json.dump(default=str) would NOT (it crashes); we map inf <-> the
    string 'inf' explicitly so round-trips are lossless."""
    return {k: ("inf" if v == float("inf") else v) for k, v in stats.items()}


def _stats_from_json(stats: dict) -> dict:
    return {k: (float("inf") if v == "inf" else v) for k, v in stats.items()}


@dataclass
class Checkpoint:
    directory: str
    pool: list[dict] = field(default_factory=list)
    completed: dict[str, dict] = field(default_factory=dict)  # file -> lineage
    pending_run: str | None = None  # write-ahead marker for the sink append
    # sorted [sink_id, template_id, doc_count] over the completed files,
    # saved in the same manifest replace as `completed`: never out of step
    counts: list[list] = field(default_factory=list)
    # cumulative A3 statistics across every completed run — the sidecar
    # the reference's save_state persists next to the templates
    # (reference core/parser.py:432-455: statistics.json); reloaded on
    # resume so a restarted operator keeps the lifetime stats view
    statistics: dict = field(default_factory=dict)

    @classmethod
    def load(cls, directory: str) -> "Checkpoint":
        ck = cls(directory)
        mpath = os.path.join(directory, MANIFEST_NAME)
        ppath = os.path.join(directory, POOL_NAME)
        spath = os.path.join(directory, STATS_NAME)
        if os.path.exists(mpath):
            with open(mpath) as f:
                m = json.load(f)
            ck.completed = m["completed"]
            ck.pending_run = m.get("pending_run")
            if ck.completed and "counts" not in m:
                raise ValueError(f"checkpoint {directory!r} predates stored counts: reprocess its input")
            ck.counts = m.get("counts", [])
        if os.path.exists(ppath):
            with open(ppath) as f:
                ck.pool = json.load(f)["templates"]
        if os.path.exists(spath):
            with open(spath) as f:
                ck.statistics = _stats_from_json(json.load(f))
        return ck

    def save(self) -> None:
        os.makedirs(self.directory, exist_ok=True)
        tmp = os.path.join(self.directory, MANIFEST_NAME + ".tmp")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "completed": self.completed,
                    "pending_run": self.pending_run,
                    "counts": self.counts,
                    "saved_at": time.time(),
                },
                f,
                indent=1,
            )
        os.replace(tmp, os.path.join(self.directory, MANIFEST_NAME))
        tmp = os.path.join(self.directory, POOL_NAME + ".tmp")
        with open(tmp, "w") as f:
            json.dump(
                {"templates": self.pool, "metadata": {"total_templates": len(self.pool)}},
                f,
                indent=1,
            )
        os.replace(tmp, os.path.join(self.directory, POOL_NAME))
        if self.statistics:
            tmp = os.path.join(self.directory, STATS_NAME + ".tmp")
            with open(tmp, "w") as f:
                json.dump(_json_safe_stats(self.statistics), f, indent=1)
            os.replace(tmp, os.path.join(self.directory, STATS_NAME))


def _merge_into_pool(existing: list[dict], discovered: list[dict]) -> list[dict]:
    """Grow the pool keeping existing ids stable; new patterns get the
    next sequential ids (sorted for determinism)."""
    known = {t["pattern"] for t in existing}
    fresh = [t for t in discovered if t["pattern"] not in known]
    if not fresh:
        return existing
    fresh = dedup_pool_exact(fresh)
    out = list(existing)
    next_id = len(existing)
    for t in sorted(fresh, key=lambda t: t["pattern"]):
        t = dict(t)
        t["template_id"] = f"tmpl_{next_id:04d}"
        next_id += 1
        out.append(t)
    return out


class Slice(NamedTuple):
    """One parsed slice: its routed rows, the grown pool, its per-sink
    counts (driver rows ``Row(sink_id, template_id, doc_count)``) and
    its lineage (``rows_total``, ``rows_valid``, ``rows_unknown``)."""

    routed: DataFrame
    pool: list[dict]
    counts: list
    lineage: dict


def parse_slice(
    df: DataFrame, text_col: str, pool: list[dict], cfg: PipelineConfig
) -> Slice:
    """The online-learning step for one new slice (a run's files or a
    micro-batch): discover on the slice only, grow the stable pool
    (existing ids kept, new patterns appended), then assign → ParsedLog
    projection → enrich → route against it. The counts and lineage come
    from the discovery collect (``pipeline.slice_counts``), so no Spark
    job counts the routed rows."""
    agg = cluster.pattern_counts(cluster.cleaned_frame(df, text_col, cfg))
    found = cluster.discover_templates_from_cleaned(agg, cfg)
    pool = _merge_into_pool(pool, found.pool) if pool else found.pool
    counts, lineage = slice_counts(agg, found, pool, cfg)
    assigned = cluster.assign_templates(df, text_col, pool, cfg)
    routed = route(enrich(parsed_projection(assigned, pool)), cfg)
    return Slice(routed, pool, counts, lineage)


def write_slice(s: Slice, output_dir: str, run_key: str) -> None:
    """Write a parsed slice under ``run=<run_key>``: its sink rows
    (partitioned by ``sink_id``) and its per-template counts. Both writes
    overwrite their run dir, so retrying a key replaces, never duplicates.
    The per-run counts are that run's output table only: nothing reads
    them back (``run_resumable`` keeps the cumulative counts in the
    checkpoint)."""
    from ..sources.sinks import write_run_idempotent

    payload = s.routed.drop("is_valid", "html", "_src")
    write_run_idempotent(payload, f"{output_dir}/sinks", run_key, partition_by=["sink_id"])
    counts = local_frame(s.routed.sparkSession, s.counts, COUNTS_SCHEMA)
    write_run_idempotent(counts, f"{output_dir}/run_counts", run_key)


def norm_file_uri(uri: str) -> str:
    """Canonical form for an input-file URI so Hadoop FS listings
    (``file:/p``), Spark's ``input_file_name()`` (``file:///p``,
    percent-encoded) and plain paths all key the manifest identically."""
    p = urlparse(uri)
    scheme = p.scheme or "file"
    return f"{scheme}://{p.netloc}{unquote(p.path)}"


def _hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for any supported scheme."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def delete_path(spark: SparkSession, path: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def rename_path(spark: SparkSession, src: str, dst: str) -> None:
    """Rename via Hadoop FS. fs.rename() signals failure by RETURNING
    False (dst exists, cross-FS move) rather than raising — swallowing
    that left <output>/counts absent/stale with no error (ADVICE r3), so
    a False return raises here."""
    fs, jsrc = _hadoop_fs(spark, src)
    jvm = spark.sparkContext._jvm
    if not fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(
            f"Hadoop fs.rename({src!r} -> {dst!r}) returned false "
            "(destination exists or cross-filesystem move?)"
        )


def list_input_files(spark: SparkSession, input_path: str) -> list[str]:
    """Enumerate parquet data files (the resume units) via Hadoop FS
    METADATA ONLY — a recursive directory listing, same as an Iceberg
    manifest read. The previous implementation ran
    ``spark.read.parquet(...).select(input_file_name()).distinct()``: a
    full cluster-wide scan of every split before any work starts, which
    at the 10^12-row target is itself a large job (VERDICT r1 item 5).
    A pytest asserts this launches zero Spark jobs.

    The walk is ``listStatus`` per directory, not ``listFiles``: that
    one wraps each file in a ``LocatedFileStatus``, whose constructor
    loads the file's permissions — on the local FS a process per file,
    about 8 ms each, so the listing grew with every file ever landed."""
    fs, jpath = _hadoop_fs(spark, input_path)
    root = norm_file_uri(jpath.toString()).rstrip("/")
    out = []
    todo = [fs.getFileStatus(jpath)]
    while todo:
        status = todo.pop()
        if status.isDirectory():
            todo.extend(fs.listStatus(status.getPath()))
            continue
        uri = norm_file_uri(status.getPath().toString())
        # Spark/Hadoop PathFilters hide any path SEGMENT starting with
        # _ or . (e.g. _temporary/0/part-*.parquet from a crashed writer,
        # .spark-staging-*/...), not just the basename — mirror that, but
        # only for segments below the input root (a job may legitimately
        # live under a _work-style parent directory)
        rel = uri[len(root):].lstrip("/") if uri.startswith(root) else uri
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        out.append(uri)
    return sorted(out)


def refresh_global_counts(spark: SparkSession, output_dir: str, counts: list) -> None:
    """Publish the cumulative counts (``Checkpoint.counts``) as
    <output>/counts: one write of a driver-built local relation.

    Publish protocol: write to a tmp dir, park the previous counts dir
    aside (counts → _counts_old), rename tmp into place, drop the old
    copy. Readers never observe a HALF-WRITTEN dir (renames are atomic
    per path); they can observe a brief ABSENCE between the two renames
    — and a crash inside the window leaves _counts_old as the recovery
    copy until the next run republishes. A crash after the publish leaves
    the manifest's counts and ``pending_run`` as they were, so the next
    run redoes the slice and republishes."""
    tmp = f"{output_dir}/_counts_tmp"
    published = f"{output_dir}/counts"
    old = f"{output_dir}/_counts_old"
    local_frame(spark, counts, COUNTS_SCHEMA).write.mode("overwrite").parquet(tmp)
    delete_path(spark, old)  # leftover from a previous crash, if any
    if path_exists(spark, published):
        rename_path(spark, published, old)
    rename_path(spark, tmp, published)
    delete_path(spark, old)


# above this many files, per-file counters on the sink write's
# observation cost more than they save: three aggregates per file are
# built over py4j and evaluated on every row, against the fixed cost of
# persisting the rows and one groupBy. Write + lineage time, observed vs
# groupBy, medians of 3 warm runs on 4 vCPUs: at 250 rows per file
# 1 file 0.95 vs 1.27 s, 8 files 1.10 vs 1.20 s, 16 files 1.17 vs 1.08 s,
# 64 files 2.70 vs 1.72 s; at 2500 rows per file 4 files 1.85 vs 2.03 s,
# 8 files 1.78 vs 1.77 s. Past 8 files the groupBy wins.
MAX_OBSERVED_FILES = 8


def _write_counting_files(
    s: Slice, files: list[str], output_dir: str, run_key: str
) -> dict[str, tuple[int, int, int]]:
    """``write_slice`` plus each input file's ``(rows_total, rows_valid,
    rows_unknown)``, keyed by ``norm_file_uri``. ``files`` is the scan's
    ``inputFiles()``, spelled exactly as ``input_file_name()`` tags the
    rows' ``_src``, so up to :data:`MAX_OBSERVED_FILES` files are counted
    by ``count_if`` aggregates observed on the sink write itself (no job
    of their own, nothing persisted). Wider runs persist the routed rows
    and count them with one groupBy after the write."""
    valid = F.col("is_valid")
    unknown = F.col("template_id") == UNKNOWN_ID
    if len(files) <= MAX_OBSERVED_FILES:
        obs = Observation()
        exprs = []
        for i, f in enumerate(files):
            mine = F.col("_src") == f
            exprs += [
                F.count_if(mine).alias(f"t{i}"),
                F.count_if(mine & valid).alias(f"v{i}"),
                F.count_if(mine & unknown).alias(f"u{i}"),
            ]
        write_slice(s._replace(routed=s.routed.observe(obs, *exprs)), output_dir, run_key)
        m = obs.get
        return {
            norm_file_uri(f): (m[f"t{i}"], m[f"v{i}"], m[f"u{i}"]) for i, f in enumerate(files)
        }
    s.routed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        write_slice(s, output_dir, run_key)
        rows = (
            s.routed.groupBy("_src")
            .agg(F.count_if(F.lit(True)), F.count_if(valid), F.count_if(unknown))
            .collect()
        )
    finally:
        s.routed.unpersist()
    return {norm_file_uri(r[0]): (r[1], r[2], r[3]) for r in rows}


def run_resumable(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    output_dir: str,
    text_col: str = "text",
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> dict:
    """Process only input files not yet in the manifest; append routed
    rows, add the slice's counts to the checkpoint's and publish them,
    checkpoint pool + manifest.

    Returns {"processed": [files], "skipped": [files], "pool_size": n,
    "statistics": cumulative parsing statistics}.
    """
    run_t0 = time.monotonic()
    ck = Checkpoint.load(checkpoint_dir)

    # a pending_run marker with no completion means the previous attempt
    # died between the sink write and the manifest save — drop its
    # (possibly partial) run dirs so the retry is idempotent
    from ..sources.sinks import abort_run

    if ck.pending_run:
        abort_run(spark, f"{output_dir}/sinks", ck.pending_run)
        abort_run(spark, f"{output_dir}/run_counts", ck.pending_run)
        ck.pending_run = None

    all_files = list_input_files(spark, input_path)
    todo = [f for f in all_files if f not in ck.completed]
    skipped = [f for f in all_files if f in ck.completed]
    if not todo:
        return {
            "processed": [],
            "skipped": skipped,
            "pool_size": len(ck.pool),
            "statistics": ck.statistics,
        }

    # tag each row with its file AT THE SCAN: input_file_name() names the
    # file the scan task is reading when the expression runs, so above
    # an operator that buffers rows (a batching Python stage, a sort) it
    # names whichever file a task that packs several small files reached
    # last
    df = spark.read.parquet(*todo).withColumn("_src", F.input_file_name())

    s = parse_slice(df, text_col, ck.pool, cfg)
    ck.pool = s.pool

    # idempotent append: each run lands under its run=<key> (key = hash
    # of the work set) written with OVERWRITE, and the key is journaled
    # as pending_run BEFORE the write. A failure anywhere between write
    # and manifest completion leaves either nothing or a run that the
    # next attempt aborts (above) / overwrites — never duplicate sink
    # rows (ADVICE r1: append-then-save was not retryable).
    run_key = hashlib.md5("\n".join(todo).encode()).hexdigest()[:16]
    ck.pending_run = run_key
    ck.save()

    per_file = _write_counting_files(s, df.inputFiles(), output_dir, run_key)
    total = Counter({(sid, tid): n for sid, tid, n in ck.counts})
    total.update({(sid, tid): n for sid, tid, n in s.counts})
    ck.counts = [[sid, tid, n] for (sid, tid), n in sorted(total.items())]
    refresh_global_counts(spark, output_dir, ck.counts)

    pool_version = len(ck.pool)
    for f in todo:
        # a file with no rows has no group in the wide branch's groupBy:
        # it is recorded too, or it would be re-listed as todo every run
        rows_total, rows_valid, rows_unknown = per_file.get(f, (0, 0, 0))
        ck.completed[f] = {
            "rows_total": rows_total,
            "rows_valid": rows_valid,
            "rows_unknown": rows_unknown,
            "pool_version": pool_version,
            "completed_at": time.time(),
        }
    from .pipeline import parsing_statistics

    # cumulative statistics sidecar (S7 parity — parser.py:432-455):
    # totals are re-derived from the manifest's per-file counters (the
    # durable source of truth), so they survive restarts AND stay exact
    # if a run crashes between sink write and manifest save; processing
    # time accumulates across runs from the previous sidecar.
    cum_lineage = {
        "rows_total": sum(v["rows_total"] for v in ck.completed.values()),
        "rows_valid": sum(v["rows_valid"] for v in ck.completed.values()),
        "rows_unknown": sum(v["rows_unknown"] for v in ck.completed.values()),
    }
    prev_ms = float(ck.statistics.get("total_processing_time_ms", 0.0) or 0.0)
    elapsed = time.monotonic() - run_t0
    stats = parsing_statistics(cum_lineage, ck.pool, elapsed_sec=elapsed)
    stats["total_processing_time_ms"] = prev_ms + elapsed * 1000.0
    stats["avg_time_per_log_ms"] = (
        stats["total_processing_time_ms"] / stats["total_logs"]
        if stats["total_logs"]
        else 0.0
    )
    ck.statistics = stats
    ck.pending_run = None
    ck.save()

    return {
        "processed": todo,
        "skipped": skipped,
        "pool_size": len(ck.pool),
        "statistics": ck.statistics,
    }
