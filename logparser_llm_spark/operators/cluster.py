"""Distributed Drain clustering: discover → merge → broadcast → assign.

The Spark realization of the reference's stateful clustering engine
(SURVEY.md §2.7). The reference is sequential (core/parser.py:66-166); the
distributed shape here is the classic two-pass Drain-at-scale design:

Pass 1 (discovery, one shuffle):
    clean (JVM ``regexp_replace`` chain) → validity filter →
    deterministic template extraction per row (the LLM replacement) →
    ``rollup(pattern)`` (:func:`pattern_counts`, a group per pattern plus
    one total row) → one ordered collect of ≤ cap + 2 rows.

    Discovery is PURELY FUNCTIONAL per row — ``extract_template`` depends
    only on the row's own cleaned text — so the discovered pool is
    byte-identical at any parallelism (local[8] ≡ local[32] ≡ a
    1000-executor cluster) and under any row order. The rollup is the
    only shuffle and carries just (pattern, partial count) pairs after
    map-side combine, so boilerplate skew (one template owning 40% of a
    web corpus) is absorbed by partial aggregation, not a hot reducer.

    An earlier design ran the reference's stateful tree *during*
    discovery (partition-local mapInPandas); it was abandoned because
    fuzzy tree grouping is insertion-order-dependent (prefix_tree.py:
    96-152) — results varied with partitioning, which is exactly what a
    1000-executor run can't tolerate. The tree still runs, but only at
    assignment time against the globally-merged pool.

Driver merge (pools are O(10²..10³) rows — collect is safe):
    exact-pattern dedup (template_pool.py:27-59 semantics) → greedy
    similarity merge (merger.py:92-134 semantics) → canonical ids
    ``tmpl_{rank:04d}`` by sorted pattern (order-independent, resolving
    the reference's insertion-order-dependent ids, prefix_tree.py:315-317).
    A top-N-by-count cap (``broadcast_pool_max_templates``) bounds the
    broadcast, mirroring the reference's pool-bounding auto-merge trigger
    (parser.py:229-232).

Pass 2 (assignment, no shuffle of the fact side):
    **broadcast hash join** of each pattern against a driver-precomputed
    pattern→template_id map, shipped as a JVM local relation
    (``session.local_frame``) so building the broadcast starts no Python
    worker. Tree-walk semantics (first template node on
    the ≤max_depth walk, prefix_tree.py:154-186, which collapses patterns
    sharing a ≤max_depth prefix) are preserved by running the tree
    matcher ONCE PER PATTERN on the driver while building the map — so
    the per-row path is pure whole-stage codegen with zero Python
    workers. Patterns outside the map (the capped tail / genuinely new
    patterns in incremental runs) route to 'unknown' (parser.py:388-398).
    This is the "cached template-match fast path" that replaces the
    reference's per-row LLM call. Per-row output (:func:`assign_templates`)
    joins every row. Counts need no pass 2 at all: the discovery collect
    already holds each kept pattern's count and the line total
    (:class:`Discovery`), so the map is applied to those rows on the
    driver (``plans.pipeline.slice_counts``, which every per-sink count
    of the package comes from) — the work is once per pattern, not once
    per line.
"""

from __future__ import annotations

import functools
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig, PreprocessingConfig
from ..functions.cleaning import clean_col, is_valid_log_col
from ..session import local_frame
from .drain import UNKNOWN_ID, TemplateTree, extract_template, extract_template_col
from .merging import dedup_pool_exact, generalize_pool, merge_pool


# The fixed per-row Columns are built once per process: each is a tree
# of JVM expression nodes whose construction takes tens of milliseconds
# of py4j calls. A Column is an unresolved expression bound to no
# session, so one object serves every frame of every session.


@functools.cache
def _clean_cols(text_col: str, preprocessing: PreprocessingConfig) -> tuple[Column, Column]:
    return clean_col(F.col(text_col), preprocessing), is_valid_log_col(F.col("cleaned"))


@functools.cache
def _pattern() -> Column:
    """Null for an invalid line, else the JVM extractor of ``cleaned``."""
    return F.when(F.col("is_valid"), extract_template_col(F.col("cleaned")))


def cleaned_frame(df: DataFrame, text_col: str, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Append a ``cleaned`` column (the extractor's JVM ``regexp_replace``
    chain — whole-stage codegen, no Python workers) and a validity flag.
    Tests cross-check it byte-for-byte against the Python reference
    ``clean_pandas``."""
    cleaned, is_valid = _clean_cols(text_col, cfg.preprocessing)
    return df.withColumn("cleaned", cleaned).withColumn("is_valid", is_valid)


def pattern_col():
    """cleaned → pattern: the JVM extractor (token-for-token equal to the
    Python :func:`~.drain.extract_template`, asserted in tests)."""
    return extract_template_col


def pattern_counts(cleaned_df: DataFrame) -> DataFrame:
    """The discovery aggregate of a cleaned frame, a ``rollup(pattern)``:
    one row per pattern ``(pattern, count, example, is_total=0)``, where
    ``example`` is the min cleaned line (example_logs parity,
    template_pool.py:102-105), one null-pattern row carrying the invalid
    lines, and one grand-total row (``is_total=1``, null pattern) counting
    every line — absent when the input has no rows. Everything a
    counts-only caller needs follows from it: discovery collects the
    total, the invalid count and the top patterns in one job."""
    return cleaned_df.rollup(_pattern().alias("pattern")).agg(
        F.count(F.lit(1)).alias("count"),
        F.min("cleaned").alias("example"),
        F.grouping_id().alias("is_total"),
    )


class Discovery(NamedTuple):
    """One discovery collect: the pool, the collected ``pattern → count``
    rows (the ``None`` key holds the invalid lines; at most the top-cap
    patterns) and the count of every line seen."""

    pool: list[dict]
    counts: dict[str | None, int]
    total: int


def discover_templates(
    df: DataFrame, text_col: str, cfg: PipelineConfig = DEFAULT_CONFIG
) -> list[dict]:
    """Pass 1: per-row template extraction + groupBy(pattern) agg
    (count + deterministic min-line exemplar); returns the merged,
    canonicalized global pool (small, driver-side). Pool bounded by a
    top-N-by-count cap (the reference's pool-bounding auto-merge
    analogue, parser.py:229-232; the capped tail routes to 'unknown').

    Deterministic at any parallelism: no per-partition state.
    """
    counts = pattern_counts(cleaned_frame(df, text_col, cfg))
    return discover_templates_from_cleaned(counts, cfg).pool


def canonicalize_pool(templates: list[dict]) -> list[dict]:
    """Deterministic ids: sort by pattern, id = tmpl_{rank:04d}."""
    out = []
    for i, t in enumerate(sorted(templates, key=lambda t: t["pattern"])):
        t = dict(t)
        t["template_id"] = f"tmpl_{i:04d}"
        out.append(t)
    return out


def make_matcher(pool: list[dict], cfg: PipelineConfig = DEFAULT_CONFIG):
    """The reference's template search over ``pool``: a function
    str→template_id that walks the prefix tree and falls back to an
    exact lookup of the line's extracted pattern."""
    tree_cfg = cfg.tree
    tree = TemplateTree(
        max_depth=tree_cfg.max_depth,
        min_cluster_size=tree_cfg.min_cluster_size,
        delimiter=tree_cfg.token_delimiter,
        enable_fuzzy=tree_cfg.enable_fuzzy,
        fuzzy_threshold=tree_cfg.fuzzy_threshold,
    )
    exact: dict[str, str] = {}
    for t in pool:
        tree.add_pattern(t["pattern"], t["template_id"])
        exact.setdefault(t["pattern"], t["template_id"])

    def match_one(cleaned: str) -> str:
        tid = tree.match(cleaned)
        if tid is not None:
            return tid
        return exact.get(extract_template(cleaned, tree_cfg.token_delimiter), UNKNOWN_ID)

    return match_one


def assignment_map(pool: list[dict], cfg: PipelineConfig = DEFAULT_CONFIG) -> dict[str, str]:
    """Driver-side pattern → template_id map with TREE semantics baked in.

    For every pre-merge source pattern (and every canonical pattern), the
    assigned id is what the prefix-tree matcher would return for a line
    of that pattern — i.e. the first template node on its ≤max_depth walk
    (prefix_tree.py:154-186), which collapses patterns sharing a
    ≤max_depth prefix exactly like the reference's search does. Running
    the walk ONCE PER PATTERN on the driver (pool is small) instead of
    once per row on executors turns pass 2 into a pure broadcast hash
    join — zero Python in the row path."""
    matcher = make_matcher(pool, cfg)
    out: dict[str, str] = {}
    for t in pool:
        for pattern in {t["pattern"], *t.get("sources", [])}:
            out[pattern] = matcher(pattern)
    return out


def assign_patterns(
    df: DataFrame, pool: list[dict], cfg: PipelineConfig = DEFAULT_CONFIG, pattern: str = "pattern"
) -> DataFrame:
    """Append ``template_id`` to a frame with a pattern column (null for
    invalid lines): a broadcast hash join against the driver-computed
    pattern→tid map; a null or unmapped pattern gets 'unknown'
    (parser.py:388-398)."""
    # map-side column aliased _map_pattern: a bare 'pattern' would make
    # drop('pattern') also take out an input column of that name
    map_df = local_frame(
        df.sparkSession, assignment_map(pool, cfg).items(), "_map_pattern string, _tid string"
    )
    joined = df.join(F.broadcast(map_df), df[pattern] == map_df["_map_pattern"], "left")
    return joined.withColumn(
        "template_id", F.coalesce(F.col("_tid"), F.lit(UNKNOWN_ID))
    ).drop("_map_pattern", "_tid")


def assign_templates(
    df: DataFrame,
    text_col: str,
    pool: list[dict],
    cfg: PipelineConfig = DEFAULT_CONFIG,
    pre_cleaned: bool = False,
) -> DataFrame:
    """Pass 2: per-row template assignment — clean (JVM) → extract
    pattern (JVM) → :func:`assign_patterns`. Map-side only, whole-stage
    codegen, no shuffle of the fact side, no Python workers. Keeps the
    ``cleaned``/``is_valid`` columns for the projection downstream."""
    cleaned = df if pre_cleaned else cleaned_frame(df, text_col, cfg)
    base = cleaned.withColumn("_pattern", _pattern())
    return assign_patterns(base, pool, cfg, "_pattern").drop("_pattern")


def pool_to_df(spark: SparkSession, pool: list[dict]) -> DataFrame:
    """The template pool as a (broadcastable) dimension DataFrame
    (pool-sized, bounded by the discovery cap)."""
    return local_frame(
        spark,
        [
            (t["template_id"], t["pattern"], int(t.get("count", 0)), float(t.get("confidence", 0.9)))
            for t in pool
        ],
        "template_id string, pattern string, discovery_count bigint, confidence double",
    )


def pool_to_reference_json(pool: list[dict], saved_at: str = "1970-01-01T00:00:00") -> dict:
    """Render the pool in the reference's templates.json shape
    (template_pool.py:198-218 / models Template fields, log_entry.py:40-57)
    so a user of the reference can load our pool with their tooling.
    ``saved_at`` is caller-provided (deterministic exports for tests)."""
    templates = []
    for t in pool:
        pattern = t["pattern"]
        tokens = pattern.split()
        templates.append(
            {
                "template_id": t["template_id"],
                "template_pattern": pattern,
                "static_tokens": [tok for tok in tokens if tok != "<*>"],
                "variable_positions": [i for i, tok in enumerate(tokens) if tok == "<*>"],
                "example_logs": t.get("examples", [])[:10],
                "count": int(t.get("count", 0)),
                "confidence": float(t.get("confidence", 0.9)),
                "created_at": saved_at,
                "updated_at": saved_at,
            }
        )
    return {
        "templates": templates,
        "metadata": {"total_templates": len(templates), "saved_at": saved_at},
    }


def parse_and_count(
    df: DataFrame, text_col: str, cfg: PipelineConfig = DEFAULT_CONFIG
) -> tuple[DataFrame, list[dict]]:
    """Discover + assign: every row labeled, plus the pool — the per-row
    path (parsed projection, sink writes). Per-template counts alone need
    neither pass 2 nor a Spark job after discovery: they follow on the
    driver from the rows the discovery collect returns
    (``plans.pipeline.slice_counts``).

    The two passes each evaluate clean+extract over the input: that work
    is RECOMPUTED — the right trade at 10^12 rows, where materializing a
    cleaned copy of the corpus costs more than the CPU to re-derive it."""
    pool = discover_templates(df, text_col, cfg)
    return assign_templates(df, text_col, pool, cfg), pool


def discover_templates_from_cleaned(
    counts: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> Discovery:
    """The pool from a cleaned frame's discovery aggregate
    (:func:`pattern_counts`): top-N cap, exact dedup, similarity merge,
    optional slot vote, canonical ids — returned with the collected
    pattern counts and the line total."""
    merge_cfg = cfg.merging
    # one collect, ordered total row → invalid (null) row → the top-N
    # patterns by (-count, pattern), cut DISTRIBUTED (TakeOrderedAndProject)
    # so the driver only ever receives ≤ cap + 2 rows — a web corpus can
    # have more distinct patterns than driver memory
    cap = cfg.scale.broadcast_pool_max_templates
    rows = (
        counts.orderBy(
            F.desc("is_total"), F.col("pattern").isNotNull(), F.desc("count"), "pattern"
        )
        .limit(cap + 2)
        .collect()
    )
    total = rows[0]["count"] if rows else 0  # rollup over no rows has no total row
    kept = [r for r in rows[1:] if r["pattern"] is not None][:cap]
    invalid = {None: r["count"] for r in rows[1:2] if r["pattern"] is None}
    templates = [
        {"pattern": r["pattern"], "count": r["count"], "confidence": 0.9,
         "examples": [r["example"]]}
        for r in kept
    ]
    templates = dedup_pool_exact(templates)
    merged = merge_pool(
        templates,
        enable=merge_cfg.enable_auto_merge,
        merge_threshold=merge_cfg.merge_threshold,
        max_edit_distance=merge_cfg.max_edit_distance,
    )
    if merge_cfg.enable_slot_voting:
        merged = generalize_pool(merged, merge_cfg.slot_min_distinct)
    return Discovery(
        canonicalize_pool(merged), {**invalid, **{r["pattern"]: r["count"] for r in kept}}, total
    )
