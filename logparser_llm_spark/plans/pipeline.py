"""End-to-end pipeline: parse → enrich → route → aggregate.

The Spark generalization of the reference's ``parse_file`` flow
(reference core/parser.py:241-304): scan → clean/match/cluster → project,
extended per the north rule with broadcast-join enrichment, hash fan-out
routing to per-sink tables, and per-sink aggregate counts.

Scale design notes (explicit partitioning / shuffle / skew handling):

- **Enrichment joins are broadcast** (J5): lang/domain lookups are tiny
  dims; ``F.broadcast`` pins the plan to BroadcastHashJoin — no shuffle
  of the fact side, no skew exposure. Dims are ``session.local_frame``s:
  their broadcast builds start no Python worker.
- **Routing is a pure map-side column** (``sink_id = md5-bucket of
  template_id``) + ONE partitioned write (``partitionBy('sink_id')``) —
  a single pass, not K filtered scans of the input.
- **Per-sink counts come from the discovery collect**
  (:func:`slice_counts`): discovery already returns each kept pattern's
  count and the line total, so the counts are summed on the driver
  under the assignment map, once per pattern, and no caller runs a
  count job over its routed rows. :func:`sink_counts` (a plain groupBy)
  remains for ``bench.py``'s per-row reference path.
- **AQE** (adaptive coalescing + skew-join splitting) is enabled in
  session defaults (session.py) as the runtime backstop.
"""

from __future__ import annotations

import functools
from collections import Counter

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..functions.hashing import sink_id, sink_id_col
from ..operators import cluster
from ..operators.cluster import Discovery, pool_to_df
from ..operators.cluster import discover_templates  # noqa: F401  -- only for perfbench/spans.py's tracer
from ..operators.drain import UNKNOWN_ID, extract_variables_col
from ..session import local_frame

# Small built-in dimension tables for enrichment (J5). Deterministic
# literals — in production these would be Iceberg dim tables.
LANG_DIM = [
    ("en", "English", "germanic"),
    ("de", "German", "germanic"),
    ("fr", "French", "romance"),
    ("es", "Spanish", "romance"),
    ("zh", "Chinese", "sinitic"),
]
LANG_DIM_SCHEMA = "lang string, lang_name string, lang_family string"
COUNTS_SCHEMA = "sink_id bigint, template_id string, doc_count bigint"
CountRow = Row("sink_id", "template_id", "doc_count")

DOMAIN_DIM = [
    ("example.com", "reference"),
    ("logs.acme.io", "infrastructure"),
    ("srv.foobar.net", "infrastructure"),
    ("app.widgets.org", "saas"),
    ("cdn.bigsite.com", "cdn"),
    ("shop.retail.biz", "commerce"),
    ("api.cloudy.dev", "saas"),
    ("blog.writer.me", "media"),
]
DOMAIN_DIM_SCHEMA = "domain string, domain_category string"


def explode_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Split multi-line page text into one log line per row (S3 semantics:
    line-per-row, blanks dropped — parser.py:271-274). Use this before
    parsing page-shaped inputs: feeding whole multi-line documents to
    discovery inflates the pattern space combinatorially (each distinct
    line-combination becomes its own pattern)."""
    out_cols = [c for c in df.columns if c != text_col]
    return df.select(
        *out_cols, F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", text_col)
    ).filter(F.length(F.trim(F.col(text_col))) > 0)


def domain_of(url: Column) -> Column:
    """Host extraction from a url column (pure JVM regex)."""
    return F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)


def lang_dim(spark: SparkSession) -> DataFrame:
    return local_frame(spark, LANG_DIM, LANG_DIM_SCHEMA)


def domain_dim(spark: SparkSession) -> DataFrame:
    return local_frame(spark, DOMAIN_DIM, DOMAIN_DIM_SCHEMA)


def enrich(
    df: DataFrame,
    lang_lookup: DataFrame | None = None,
    domain_lookup: DataFrame | None = None,
    url_col: str = "url",
    lang_col: str = "lang",
) -> DataFrame:
    """Broadcast hash-join enrichment (J5, north_star requirement)."""
    spark = df.sparkSession
    out = df
    if lang_col in df.columns:
        out = out.join(F.broadcast(lang_lookup or lang_dim(spark)), on=lang_col, how="left")
    if url_col in df.columns:
        out = out.withColumn("domain", domain_of(F.col(url_col))).join(
            F.broadcast(domain_lookup or domain_dim(spark)), on="domain", how="left"
        )
    return out


def parsed_projection(assigned: DataFrame, pool: list[dict]) -> DataFrame:
    """P1 complete: append the ParsedLog fields the reference's result
    rows carry (parser.py:285-297, log_entry.py:80-125) to an assigned
    frame: ``template_pattern``, ``confidence``, ``cache_hit``,
    ``used_llm`` and the per-row ``variables`` map.

    - pattern/confidence come from a BROADCAST join against the (small)
      pool dim — no shuffle of the fact side;
    - unknown rows get the reference's fallback shape
      (_create_fallback_result: pattern = the log itself, confidence 0.0);
    - ``cache_hit`` mirrors the reference's cached-template fast path:
      true iff the row matched the broadcast pool; ``used_llm`` is
      constant False (the LLM is replaced by the deterministic extractor);
    - ``variables`` is :func:`~..operators.drain.extract_variables_col`
      of the row's ``template_pattern``, a JVM column, so the projection
      starts no Python worker; counts-only callers never build it.
    """
    spark = assigned.sparkSession
    pool_dim = pool_to_df(spark, pool).select(
        "template_id",
        F.col("pattern").alias("_pool_pattern"),
        F.col("confidence").alias("_pool_confidence"),
    )
    unknown = F.col("template_id") == UNKNOWN_ID
    out = (
        assigned.join(F.broadcast(pool_dim), "template_id", "left")
        .withColumn(
            "template_pattern",
            F.when(unknown, F.col("cleaned")).otherwise(F.col("_pool_pattern")),
        )
        .withColumn(
            "confidence",
            F.when(unknown, F.lit(0.0)).otherwise(F.col("_pool_confidence")),
        )
        .withColumn("cache_hit", ~unknown)
        .withColumn("used_llm", F.lit(False))
        .drop("_pool_pattern", "_pool_confidence")
    )
    return out.withColumn("variables", _variables())


@functools.cache
def _variables() -> Column:
    """The ``variables`` Column, built once per process (see
    ``cluster._clean_cols``)."""
    return extract_variables_col(F.col("cleaned"), F.col("template_pattern"))


def route(df: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Fan-out bucket: ``sink_id = int(md5(template_id)[:8],16) % K``.

    Map-side only; md5-based so routed-row sets are reproducible in
    DuckDB/Python for the parity gate (routed-row equality)."""
    return df.withColumn("sink_id", sink_id_col(F.col("template_id"), cfg.scale.num_sinks))


def sink_counts(routed: DataFrame) -> DataFrame:
    """Per-sink per-template counts of routed rows, one groupBy (the
    per-row reference for :func:`slice_counts`)."""
    return (
        routed.groupBy("sink_id", "template_id")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("sink_id", "template_id")
    )


def slice_counts(
    agg: DataFrame, found: Discovery, pool: list[dict], cfg: PipelineConfig = DEFAULT_CONFIG
) -> tuple[list[Row], dict]:
    """Per-sink counts and lineage of the rows behind a discovery
    aggregate (``cluster.pattern_counts``), from its collect (``found``).

    Each collected pattern counts under its id in ``pool``'s assignment
    map and ``unknown`` takes the rest (invalid lines, the capped tail),
    so the counts are summed on the driver and come back as a sorted,
    pool-sized list of ``Row(sink_id, template_id, doc_count)``. Equal to
    routing every row and counting (:func:`sink_counts`) because every
    line of a pattern gets its pattern's id. The one exception needs the
    cap hit: a tail pattern the map knows (one the merge created, or one
    an incremental slice's older pool holds) is labelled by the per-row
    join, so its count is fetched with one more aggregate job.

    The lineage is ``rows_total``, ``rows_valid`` and ``rows_unknown``."""
    amap = cluster.assignment_map(pool, cfg)
    counts = found.counts
    unseen = sorted(set(amap).difference(counts))
    if unseen and found.total > sum(counts.values()):
        tail = agg.filter(F.col("pattern").isin(unseen)).collect()
        counts = {**counts, **{r["pattern"]: r["count"] for r in tail}}
    per_tid: Counter = Counter()
    for pattern, n in counts.items():
        tid = amap.get(pattern, UNKNOWN_ID)
        if tid != UNKNOWN_ID:
            per_tid[tid] += n
    per_tid[UNKNOWN_ID] = found.total - sum(per_tid.values())
    rows = sorted(CountRow(sink_id(t, cfg.scale.num_sinks), t, n) for t, n in per_tid.items() if n)
    lineage = {
        "rows_total": found.total,
        "rows_valid": found.total - found.counts.get(None, 0),
        "rows_unknown": per_tid[UNKNOWN_ID],
    }
    return rows, lineage


def parsing_statistics(
    lineage: dict, pool: list[dict], elapsed_sec: float = 0.0
) -> dict:
    """A3: the reference's derived-rate statistics
    (models/log_entry.py:141-170 ParsingStatistics.to_dict +
    core/parser.py:418-430 get_statistics), computed from a run's row
    lineage instead of per-row mutation:

    - successfully_parsed = rows assigned a real template (the reference
      increments on non-fallback parse); failed = the 'unknown' rows;
    - cache_hits = the broadcast-map fast-path rows — the analogue of the
      reference's cached-template hit (every successful row here, since
      the deterministic extractor replaces the LLM);
    - llm_calls = 0, so llm_efficiency = inf (get_llm_efficiency's
      explicit zero-call branch) and cost_usd = 0.0;
    - average_confidence is the per-row mean over ALL rows — matched rows
      weighted by the pool's count-weighted confidence, unknown rows
      contributing 0.0 (the fallback result's confidence), like the
      reference's running mean over every ParsedLog.
    """
    total = int(lineage.get("rows_total") or 0)
    unknown = int(lineage.get("rows_unknown") or 0)
    ok = total - unknown
    pool_rows = sum(int(t.get("count", 0)) for t in pool)
    conf_mass = sum(int(t.get("count", 0)) * float(t.get("confidence", 0.0)) for t in pool)
    matched_mean = (conf_mass / pool_rows) if pool_rows else 0.0
    return {
        "total_logs": total,
        "successfully_parsed": ok,
        "failed": unknown,
        "unique_templates": len(pool),
        "llm_calls": 0,
        "cache_hits": ok,
        "total_processing_time_ms": elapsed_sec * 1000.0,
        "average_confidence": (matched_mean * ok / total) if total else 0.0,
        "cost_usd": 0.0,
        "cache_hit_rate": (ok / total) if total else 0.0,
        "success_rate": (ok / total) if total else 0.0,
        "llm_efficiency": float("inf"),
        "avg_time_per_log_ms": (elapsed_sec * 1000.0 / total) if total else 0.0,
    }


def run_pipeline(
    spark: SparkSession,
    df: DataFrame,
    output_dir: str | None = None,
    text_col: str = "text",
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> dict:
    """Full job over one input: the slice step with an empty pool
    (``checkpoint.parse_slice``), then optionally the fan-out write of
    its routed rows to ``{output_dir}/sinks/sink_id=*`` and of the pool
    to ``{output_dir}/pool``. Returns a result dict with the per-sink
    counts, the pool, the lineage and the reference-shaped derived
    statistics (A3)."""
    import time as _time

    from .checkpoint import parse_slice

    t0 = _time.perf_counter()
    s = parse_slice(df, text_col, [], cfg)
    if output_dir is not None:
        # imported at call time so the benchmark's tracer sees the write
        from ..sources.sinks import write_sink_table

        write_sink_table(s.routed.drop("is_valid", "html"), f"{output_dir}/sinks", mode="overwrite")
        pool_to_df(spark, s.pool).write.mode("overwrite").json(f"{output_dir}/pool")
    return {
        "counts": s.counts,
        "pool": s.pool,
        "lineage": s.lineage,
        "statistics": parsing_statistics(s.lineage, s.pool, _time.perf_counter() - t0),
        "num_sinks": cfg.scale.num_sinks,
    }
