"""Query registry: every operator from SURVEY.md §2 as a (Spark, oracle-SQL)
pair for the driver's correctness gate.

Conventions that make the cross-engine value-hash robust:

- every float output is integerized: ``CAST(ROUND(x * 10^k) AS BIGINT)``
  aliased ``*_e{k}`` — identical on both engines regardless of float
  formatting;
- all counts/sizes cast to BIGINT on the Spark side (DuckDB count()/len()
  are BIGINT);
- every hash is md5 (identical in Spark, DuckDB, Python);
- ordering never matters (the driver's compare is order-insensitive) but
  every LIMIT carries a deterministic total tiebreak.

The events table doubles as the log corpus: a constructed line
``{event_type} value {cents} from user {user_id}`` exercises clean →
extract → cluster → route → aggregate end-to-end, and because the
corpus has exactly 5 well-separated templates the ENTIRE clustering
pipeline is SQL-expressible (pattern = digit-wildcarded tokens,
template_id = rank over sorted patterns) — the flagship query has a real
DuckDB oracle, not just a rows-only check.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..functions.cleaning import (
    clean_col,
    extract_log_level_col,
    is_valid_log_col,
)
from ..functions.hashing import pattern_bucket_col, sink_id_col, sink_id_sql
from ..functions.text import (
    BPE_TOKEN_PATTERN,
    TOKENS_SQL as _TOKENS_SQL,
    fingerprint,
    lang_id,
    quality_score,
    token_count_bpe,
    token_count_ws,
    STOPWORDS,
)
from ..operators import cluster
from ..operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_col,
)
from ..operators.drain import extract_template_col, extract_variables_col
from ..operators.similarity import cosine_expr
from ..session import local_frame
from .pipeline import COUNTS_SCHEMA, LANG_DIM, enrich, lang_dim, slice_counts

NUM_SINKS = 8

# the flagship with slot-voting generalization on (operators/merging.py:
# generalize_pool) — the slot-vote queries' one config
SLOT_VOTING = replace(
    DEFAULT_CONFIG, merging=replace(DEFAULT_CONFIG.merging, enable_slot_voting=True)
)


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(_t(sf_dir, name))


def _fan_out(df: DataFrame) -> DataFrame:
    """Input-skew guard (guide §2.5 "one huge unsplittable file ...
    repartition immediately after the read"): the sf tables are single
    row-group parquet files, so every scan is ONE input split and any
    per-row-heavy stage stacked on it (regex clean/extract, Arrow
    codecs, per-line parsing) runs on one core. A keyless round-robin
    repartition moves the few hundred bytes/row through one exchange so
    the 10–100 µs/row of downstream compute parallelizes. Width is the
    session's ``defaultParallelism`` (cores locally, executors × cores
    on a cluster) — scale-adaptive, never a constant. Applied only
    where the downstream per-row work dominates the exchange cost, and
    only to an input split fewer than ``defaultParallelism`` ways."""
    width = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= width:
        return df
    return df.repartition(width)


def e6(col: Column, alias: str) -> Column:
    return F.round(col * 1_000_000).cast("bigint").alias(alias)


def e2(col: Column, alias: str) -> Column:
    return F.round(col * 100).cast("bigint").alias(alias)


# --- the constructed log line over events (shared by several queries) ----

def event_log_line_col() -> Column:
    """event_type value {cents} from user {user_id} — deterministic,
    digit-bearing, clusterable into exactly 5 templates."""
    cents = F.round(F.col("value") * 100).cast("bigint").cast("string")
    return F.concat_ws(
        " ", F.col("event_type"), F.lit("value"), cents, F.lit("from user"),
        F.col("user_id").cast("string"),
    )


EVENT_LINE_SQL = (
    "concat_ws(' ', event_type, 'value', "
    "cast(cast(round(value * 100) as bigint) as varchar), 'from user', "
    "cast(user_id as varchar))"
)

# DuckDB rendering of the default clean (normalize numbers+paths ON,
# timestamps/ips OFF, no lowercase — reference cleaner.py:39-77 order)
def clean_sql(expr: str) -> str:
    out = f"trim({expr})"
    out = f"regexp_replace({out}, '\\b\\d+\\.\\d+\\b', '<NUM>', 'g')"
    out = f"regexp_replace({out}, '\\b\\d{{4,}}\\b', '<NUM>', 'g')"
    out = f"regexp_replace({out}, '/(?:[a-zA-Z0-9._-]+/)+[a-zA-Z0-9._-]+', '<PATH>', 'g')"
    out = f"regexp_replace({out}, '[A-Z]:\\\\(?:[^\\\\]+\\\\)+[^\\\\]+', '<PATH>', 'g')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


VALID_SQL = "(length(trim({c})) >= 10 and not regexp_matches(trim({c}), '^[\\W_]+$'))"

# DuckDB rendering of the deterministic template extractor (drain.py
# extract_template): digit-bearing / placeholder / hex / k=v tokens → <*>
PATTERN_SQL_BODY = (
    "array_to_string(list_transform("
    "list_filter(string_split(trim({c}), ' '), x -> x <> ''), "
    "t -> case when regexp_matches(t, '\\d') or t = '<NUM>' or t = '<PATH>' "
    "or regexp_matches(t, '^[a-f0-9]{{8,}}$') or regexp_matches(t, '=[^ ]+$') "
    "then '<*>' else t end), ' ')"
)

# re-exported from functions/text.py (single definition next to its
# Spark twin ws_tokens; review r5)
TOKENS_SQL = _TOKENS_SQL


def tmpl_ids_cte(src: str = "pat") -> str:
    """The canonical-id CTE shared by every clustering oracle — ONE
    rendering of ``canonicalize_pool``'s id rule (sort distinct patterns,
    ``tmpl_{rank:04d}``). Keep call sites on this helper: a divergent
    copy would let one oracle's id space silently drift (review r5)."""
    return (
        "ids as (select pattern, printf('tmpl_%04d',\n"
        "           cast(dense_rank() over (order by pattern) as int) - 1) as tid\n"
        f"        from (select distinct pattern from {src} where pattern is not null))"
    )

# the toks→sh CTE pair every 3-gram-shingle oracle shares — ONE SQL
# rendering of operators.dedup._distinct_shingles(n=3); keep in lockstep
# with the Spark side (a divergent copy would let one oracle silently
# disagree with the shared shingles())
SHINGLE_CTES = (
    "toks as (\n"
    "          select doc_id, " + TOKENS_SQL.format(c="text") + " as tk from documents\n"
    "        ),\n"
    "        sh as (\n"
    "          select distinct doc_id, array_to_string(tk[i:i+2], ' ') as shingle\n"
    "          from toks, lateral (select unnest(range(1, len(tk) - 1)) as i)\n"
    "          where len(tk) >= 3\n"
    "        )"
)


# --------------------------------------------------------------------------
# query implementations
# --------------------------------------------------------------------------

def q_clean_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: the vectorized extractor over constructed event log lines."""
    ev = _read(spark, sf_dir, "events")
    line = event_log_line_col()
    return ev.select(
        F.col("event_id"), clean_col(line, DEFAULT_CONFIG.preprocessing).alias("cleaned")
    )


def q_clean_extract_sql(sf: str) -> str:
    return f"""
        select event_id, {clean_sql(EVENT_LINE_SQL)} as cleaned
        from events
    """


def q_valid_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: validity predicate over documents."""
    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id").filter(is_valid_log_col(F.col("text")))


def q_valid_filter_sql(sf: str) -> str:
    return f"select doc_id from documents where {VALID_SQL.format(c='text')}"


def q_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 + token counting (whitespace & BPE-ish)."""
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).cast("bigint").alias("n_ws"),
        token_count_bpe(F.col("text")).cast("bigint").alias("n_bpe"),
    )


def q_tokenize_stats_sql(sf: str) -> str:
    return f"""
        select doc_id,
               len({TOKENS_SQL.format(c='text')}) as n_ws,
               len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) as n_bpe
        from documents
    """


def q_template_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic extractor (LLM replacement) per event line.

    The JVM ``extract_template_col`` (whole-stage codegen;
    token-for-token equality with the Python extractor is asserted in
    tests)."""
    # r6: fan out the one-split scan before the extract regex (guide §2.5)
    ev = _fan_out(_read(spark, sf_dir, "events").select(
        "event_id", event_log_line_col().alias("__line")
    ))
    cleaned = clean_col(F.col("__line"), DEFAULT_CONFIG.preprocessing)
    return ev.select(
        "event_id", cluster.pattern_col()(cleaned).alias("pattern")
    )


def q_template_extract_sql(sf: str) -> str:
    cleaned = clean_sql(EVENT_LINE_SQL)
    return f"select event_id, {PATTERN_SQL_BODY.format(c=cleaned)} as pattern from events"


def q_template_prefix_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: first-3-token md5[:8] bucket of each pattern → counts."""
    pat = q_template_extract(spark, sf_dir).select("pattern")
    return (
        pat.groupBy(pattern_bucket_col(F.col("pattern")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_template_prefix_buckets_sql(sf: str) -> str:
    cleaned = clean_sql(EVENT_LINE_SQL)
    return f"""
        with pat as (select {PATTERN_SQL_BODY.format(c=cleaned)} as pattern from events),
        b as (select substr(md5(array_to_string(
                ({TOKENS_SQL.format(c='pattern')})[1:3], '_')), 1, 8) as bucket
              from pat)
        select bucket, count(*) as cnt from b group by bucket
    """


def parse_route_agg_frame(
    lines: DataFrame, text_col: str = "text", cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The counts-only flagship over ANY line frame: discovery, driver
    merge, assignment, md5 fan-out routing, per-sink counts. Shared by the
    registered flagship queries and bench.py's multi-split flagship so
    they always measure the identical plan.

    Work happens once per pattern, not once per line (the paper's one
    LLM call per template): ONE clean+extract pass aggregates the corpus
    to the pattern grain plus a total row, and discovery's one collect
    returns the total, the invalid count and the top-cap patterns with
    their counts, from which ``pipeline.slice_counts`` sums the per-sink
    counts on the driver. Equal to the per-row path (assign every row,
    route, count) — asserted in tests."""
    agg = cluster.pattern_counts(cluster.cleaned_frame(lines, text_col, cfg))
    found = cluster.discover_templates_from_cleaned(agg, cfg)
    return local_frame(lines.sparkSession, slice_counts(agg, found, found.pool, cfg)[0], COUNTS_SCHEMA)


def q_parse_route_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: full parse → route → aggregate over event log lines.

    r6: the one-file events table is one input split, so the regex
    clean/extract ran on a single core — ``_fan_out`` spreads the
    constructed lines before the heavy stages (guide §2.5)."""
    ev = _fan_out(_read(spark, sf_dir, "events").select(event_log_line_col().alias("text")))
    return parse_route_agg_frame(ev)


FLAGSHIP_SPLITS = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_SPLITS", "16"))


def ensure_flagship_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the flagship input (the constructed event log lines)
    as ``FLAGSHIP_SPLITS`` parquet files. The raw sf events table is a
    single small file = ONE input split = one scan task — it measures the
    single-task path, not the parallel plan the scaling harness proves
    (VERDICT r2 item 2). Same rows, same logical work; ≥8 splits.

    Shared by bench.py's flagship docs/sec measure and the registered
    ``parse_route_agg_multisplit`` query (VERDICT r4 item 4) so the
    driver's own bench row tracks the parallel path."""
    import hashlib

    # the cache key includes the source table's (mtime, size) so a
    # REGENERATED testdata dir at the same path invalidates the /tmp copy
    # instead of silently benchmarking stale rows
    src = f"{sf_dir}/events.parquet"
    # os.stat() on a DIRECTORY succeeds on Linux (ADVICE r3): branch on
    # isdir, not on OSError, so directory-style parquet signatures come
    # from the part files (the dir's own mtime can miss an in-place
    # regeneration and silently benchmark a stale /tmp corpus)
    if os.path.isdir(src):
        parts = sorted(
            os.path.join(src, f) for f in os.listdir(src) if not f.startswith((".", "_"))
        )
        src_sig = ":".join(
            f"{int(os.stat(p).st_mtime)}:{os.stat(p).st_size}" for p in parts
        )
    else:
        st = os.stat(src)
        src_sig = f"{int(st.st_mtime)}:{st.st_size}"
    tag = hashlib.md5(f"{sf_dir}:{FLAGSHIP_SPLITS}:{src_sig}".encode()).hexdigest()[:8]
    dest = f"/tmp/spark_graft_flagship_{tag}"
    if not (os.path.isdir(dest) and os.path.exists(f"{dest}/_SUCCESS")):
        (
            _read(spark, sf_dir, "events")
            .select(event_log_line_col().alias("text"))
            .repartition(FLAGSHIP_SPLITS)
            .write.mode("overwrite")
            .parquet(dest)
        )
    return dest


def q_parse_route_agg_multisplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP over a multi-split materialization of the SAME lines
    (VERDICT r4 item 4): the registered single-file flagship reads one
    ~2 MB parquet = one scan task, so its bench constant measures split
    count, not the engine (it swung 3.3–6.1s across rounds). This
    variant reads the 16-file /tmp materialization every flagship
    docs/sec measure uses (``ensure_flagship_corpus``) — identical rows
    and logical plan, so the DuckDB oracle is ``q_parse_route_agg_sql``
    verbatim, while the bench time tracks the parallel path."""
    corpus = ensure_flagship_corpus(spark, sf_dir)
    return parse_route_agg_frame(spark.read.parquet(corpus))


def q_parse_route_agg_sql(sf: str) -> str:
    cleaned = clean_sql(EVENT_LINE_SQL)
    return f"""
        with lines as (select {cleaned} as cleaned from events),
        pat as (
          select case when {VALID_SQL.format(c='cleaned')}
                 then {PATTERN_SQL_BODY.format(c='cleaned')} else null end as pattern
          from lines
        ),
        {tmpl_ids_cte('pat')},
        assigned as (
          select coalesce(ids.tid, 'unknown') as template_id
          from pat left join ids on pat.pattern = ids.pattern
        )
        select {sink_id_sql('template_id', NUM_SINKS)} as sink_id,
               template_id, count(*) as doc_count
        from assigned group by 1, 2
    """


def q_parse_route_agg_slotvote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline with slot-voting generalization enabled
    (merging.enable_slot_voting — operators/merging.py:generalize_pool):
    the round-4 accuracy path, registered so the driver exercises the
    distributed slot-voted plan end-to-end.

    ORACLE (round 5 — closes the VERDICT r4 `no_oracle` hole): the
    union-find fixpoint itself is not SQL-expressible, but its OUTCOME
    on this corpus is, because the corpus pins the vote analytically:
    the 5 raw patterns ``{event_type} value <*> from user <*>`` differ
    at exactly token 0 with 5 ≥ slot_min_distinct(3) distinct values
    (→ wildcarded), every other varying position is already ``<*>``
    from the extractor, and the literal positions are constant — so
    the voted pool is exactly the raw pattern with token 0 replaced by
    ``<*>``. The oracle computes that per row
    (``regexp_replace(pattern, '^[^ ]+', '<*>')``), ranks distinct
    voted patterns for canonical ids (same rule as canonicalize_pool),
    and re-aggregates — verifying the distributed vote's grouping,
    ids, sinks, and counts, not just row counts. The ALGORITHM'S gates
    stay in pytest: tests/test_slot_voting.py (unit +
    partition-invariance + end-to-end grouping + sequential-oracle
    remap + sf0.01 per-row parity) and the scorecard bounds
    (test_metrics.py::test_accuracy_scorecard). See also
    ``slotvote_routes`` for a corpus whose voted pool keeps ≥3
    templates with a discriminator split, so collapse-to-one cannot
    mask a vote bug.

    On THIS corpus the vote also wildcards the event-type token (5
    distinct values at one position — indistinguishable from a word
    slot without semantics; classic Drain's similarity threshold merges
    these the same way), collapsing the pool to one template. That is
    the documented trade of the generalizing config, and why the
    DEFAULT flagship keeps slot voting off."""
    ev = _fan_out(_read(spark, sf_dir, "events").select(event_log_line_col().alias("text")))
    return parse_route_agg_frame(ev, "text", SLOT_VOTING)


def q_parse_route_agg_slotvote_sql(sf: str) -> str:
    cleaned = clean_sql(EVENT_LINE_SQL)
    return f"""
        with lines as (select {cleaned} as cleaned from events),
        pat as (
          select case when {VALID_SQL.format(c='cleaned')}
                 then regexp_replace({PATTERN_SQL_BODY.format(c='cleaned')}, '^[^ ]+', '<*>')
                 else null end as pattern
          from lines
        ),
        {tmpl_ids_cte('pat')},
        assigned as (
          select coalesce(ids.tid, 'unknown') as template_id
          from pat left join ids on pat.pattern = ids.pattern
        )
        select {sink_id_sql('template_id', NUM_SINKS)} as sink_id,
               template_id, count(*) as doc_count
        from assigned group by 1, 2
    """


def q_slotvote_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slot-voted parse→route→aggregate over a constructed corpus whose
    voted pool keeps THREE templates with a 2-way discriminator split —
    VERDICT r4 item 1(b): a collapse-to-one pool (the events flagship's
    outcome) cannot mask a broken vote here.

    Line construction (deterministic from events, both engines):

    - even event_id → ``queue {alpha|beta by user_id parity} handled
      {event_type} fine`` (5 tokens)
    - odd  event_id → ``worker {event_type} finished cleanly`` (4 tokens)

    Why the vote outcome is analytically pinned (and hence
    SQL-expressible) on this corpus: no token carries digits, so the
    extractor keeps lines verbatim → 10 + 5 raw patterns. The
    reference auto-merge leaves all 15 alone (max pairwise similarity
    0.76 < merge_threshold 0.9). The vote then sees, in the 5-token
    family, the event-type position with 5 ≥ slot_min_distinct(3)
    distinct values (→ slot) and the alpha/beta position with only 2
    (→ discriminator: partition and re-vote per part); the 4-token
    family merges its 5-distinct event-type position. Different token
    counts never connect. Final pool: ``queue alpha handled <*>
    fine``, ``queue beta handled <*> fine``, ``worker <*> finished
    cleanly`` — the oracle derives each row's voted pattern from the
    same parity/branch columns, ranks distinct patterns for canonical
    ids, and compares sinks/ids/counts exactly."""
    ev = _read(spark, sf_dir, "events")
    disc = F.when(F.col("user_id") % 2 == 0, F.lit("alpha")).otherwise(F.lit("beta"))
    # coalesce keeps the token COUNT fixed under a NULL event_type
    # (concat_ws would silently skip it, shortening the line and breaking
    # the analytically-pinned family structure the oracle relies on —
    # review r5); 'none' is just a 6th distinct slot value, still ≥3
    etype = F.coalesce(F.col("event_type"), F.lit("none"))
    line = F.when(
        F.col("event_id") % 2 == 0,
        F.concat_ws(" ", F.lit("queue"), disc, F.lit("handled"), etype, F.lit("fine")),
    ).otherwise(
        F.concat_ws(" ", F.lit("worker"), etype, F.lit("finished cleanly"))
    )
    # r6: fan out the one-split scan (same rationale as q_parse_route_agg)
    return parse_route_agg_frame(_fan_out(ev.select(line.alias("text"))), "text", SLOT_VOTING)


def q_slotvote_routes_sql(sf: str) -> str:
    return f"""
        with voted as (
          select case when event_id % 2 = 0
                 then 'queue ' ||
                      (case when user_id % 2 = 0 then 'alpha' else 'beta' end) ||
                      ' handled <*> fine'
                 else 'worker <*> finished cleanly' end as pattern
          from events
        ),
        {tmpl_ids_cte('voted')},
        assigned as (
          select coalesce(ids.tid, 'unknown') as template_id
          from voted left join ids on voted.pattern = ids.pattern
        )
        select {sink_id_sql('template_id', NUM_SINKS)} as sink_id,
               template_id, count(*) as doc_count
        from assigned group by 1, 2
    """


def q_enrich_lang_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: broadcast-join enrichment + per-family counts."""
    d = _read(spark, sf_dir, "documents")
    return (
        d.join(F.broadcast(lang_dim(spark)), "lang", "left")
        .groupBy("lang_family", "lang_name")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_chars").alias("chars"))
    )


def q_enrich_lang_join_sql(sf: str) -> str:
    dim_rows = ", ".join(f"('{a}', '{b}', '{c}')" for a, b, c in LANG_DIM)
    return f"""
        with dim(lang, lang_name, lang_family) as (values {dim_rows})
        select lang_family, lang_name, count(*) as docs,
               cast(sum(n_chars) as bigint) as chars
        from documents left join dim using (lang)
        group by 1, 2
    """


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable md5 fan-out routing over event types."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.withColumn("sink_id", sink_id_col(F.col("event_type"), NUM_SINKS))
        .groupBy("sink_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), e2(F.sum("value"), "value_e2"))
    )


def q_route_counts_sql(sf: str) -> str:
    return f"""
        select {sink_id_sql('event_type', NUM_SINKS)} as sink_id, event_type,
               count(*) as cnt, cast(round(sum(value) * 100) as bigint) as value_e2
        from events group by 1, 2
    """


def q_top_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/O1: top-10 patterns by frequency (deterministic tiebreak)."""
    pat = q_template_extract(spark, sf_dir)
    return (
        pat.groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pattern")
        .limit(10)
    )


def q_top_patterns_sql(sf: str) -> str:
    cleaned = clean_sql(EVENT_LINE_SQL)
    return f"""
        with pat as (select {PATTERN_SQL_BODY.format(c=cleaned)} as pattern from events)
        select pattern, count(*) as cnt from pat
        group by pattern order by cnt desc, pattern limit 10
    """


def q_log_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: log-level extraction from constructed timestamped lines."""
    ev = _read(spark, sf_dir, "events")
    line = F.concat_ws(
        " ", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), F.upper("event_type"),
        F.lit("happened for user"), F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id", F.coalesce(extract_log_level_col(line), F.lit("NONE")).alias("level")
    )


def q_log_levels_sql(sf: str) -> str:
    line = (
        "concat_ws(' ', strftime(ts, '%Y-%m-%d %H:%M:%S'), upper(event_type), "
        "'happened for user', cast(user_id as varchar))"
    )
    return f"""
        select event_id,
          coalesce(nullif(upper(regexp_extract({line},
            '(?i)\\b(TRACE|DEBUG|INFO|WARN|WARNING|ERROR|FATAL|CRITICAL)\\b', 1)), ''),
            'NONE') as level
        from events
    """


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate (A1-A3 relational tail)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            e2(F.sum("l_quantity"), "sum_qty_e2"),
            e2(F.sum("l_extendedprice"), "sum_base_price_e2"),
            e2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), "sum_disc_price_e2"),
            e6(F.avg("l_discount"), "avg_disc_e6"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_pricing_summary_sql(sf: str) -> str:
    return """
        select l_returnflag, l_linestatus,
          cast(round(sum(l_quantity) * 100) as bigint) as sum_qty_e2,
          cast(round(sum(l_extendedprice) * 100) as bigint) as sum_base_price_e2,
          cast(round(sum(l_extendedprice * (1 - l_discount)) * 100) as bigint) as sum_disc_price_e2,
          cast(round(avg(l_discount) * 1000000) as bigint) as avg_disc_e6,
          count(*) as count_order
        from lineitem
        where l_shipdate <= timestamp '2001-09-02'
        group by l_returnflag, l_linestatus
    """


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + top-k."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(e2(F.sum("o_totalprice"), "revenue_e2"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("revenue_e2"), "c_custkey")
        .limit(10)
    )


def q_top_customers_sql(sf: str) -> str:
    return """
        select c_custkey, c_name,
               cast(round(sum(o_totalprice) * 100) as bigint) as revenue_e2,
               count(*) as n_orders
        from orders join customer on o_custkey = c_custkey
        group by c_custkey, c_name
        order by revenue_e2 desc, c_custkey limit 10
    """


def q_events_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), e2(F.sum("value"), "value_e2"))
        .withColumn("hour", F.date_format("hour", "yyyy-MM-dd HH:mm:ss"))
    )


def q_events_by_hour_sql(sf: str) -> str:
    return """
        select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as hour,
               event_type, count(*) as cnt,
               cast(round(sum(value) * 100) as bigint) as value_e2
        from events group by 1, 2
    """


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles per event_type (Spark `percentile` and DuckDB
    `quantile_cont` share the linear-interpolation definition — parity
    verified to 1e-6). The telemetry-rollup shape: p50/p95/p99 latency-
    style stats per key. (At 10^12 rows swap for approx_percentile — the
    t-digest sketch is mergeable/map-side; exact percentile needs a full
    sort per group.)"""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.5, 0.95, 0.99))").alias("p"))
        .select(
            "event_type",
            F.round(F.col("p")[0] * 1_000_000).cast("bigint").alias("p50_e6"),
            F.round(F.col("p")[1] * 1_000_000).cast("bigint").alias("p95_e6"),
            F.round(F.col("p")[2] * 1_000_000).cast("bigint").alias("p99_e6"),
        )
    )


def q_value_percentiles_sql(sf: str) -> str:
    return """
        select event_type,
          cast(round(quantile_cont(value, 0.5) * 1000000) as bigint) as p50_e6,
          cast(round(quantile_cont(value, 0.95) * 1000000) as bigint) as p95_e6,
          cast(round(quantile_cont(value, 0.99) * 1000000) as bigint) as p99_e6
        from events group by event_type
    """


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup over (event_type, hour-of-day): every grouping-set
    subtotal in one pass (partial-aggregatable)."""
    ev = _read(spark, sf_dir, "events")
    hour = F.hour("ts").cast("bigint").alias("hour_of_day")
    return (
        ev.select(F.col("event_type"), hour, F.col("value"))
        .cube("event_type", "hour_of_day")
        .agg(F.count(F.lit(1)).alias("cnt"), e2(F.sum("value"), "value_e2"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("hour_of_day"), F.lit(-1)).alias("hour_of_day"),
            "cnt",
            "value_e2",
        )
    )


def q_events_cube_sql(sf: str) -> str:
    return """
        select coalesce(event_type, '<all>') as event_type,
               cast(coalesce(hour_of_day, -1) as bigint) as hour_of_day,
               count(*) as cnt,
               cast(round(sum(value) * 100) as bigint) as value_e2
        from (select event_type, cast(extract(hour from ts) as bigint) as hour_of_day,
                     value
              from events)
        group by cube(event_type, hour_of_day)
    """


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: sessionization by 30-min gaps per user."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    starts = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("session_start", starts)
        .groupBy("user_id")
        .agg(
            F.sum("session_start").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_user_sessions_sql(sf: str) -> str:
    return """
        with g as (
          select user_id,
            case when lag(ts) over (partition by user_id order by ts, event_id) is null
                 or cast(floor(epoch(ts)) as bigint)
                    - cast(floor(epoch(lag(ts) over (partition by user_id order by ts, event_id))) as bigint)
                    > 1800
                 then 1 else 0 end as session_start
          from events
        )
        select user_id, cast(sum(session_start) as bigint) as n_sessions,
               count(*) as n_events
        from g group by user_id
    """


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return dedup_exact(d, "doc_id", "text")


def q_dedup_exact_sql(sf: str) -> str:
    return """
        select md5(text) as text_hash, min(doc_id) as rep_id, count(*) as dup_count
        from documents group by md5(text)
    """


# Skew cap for the registered n-gram query. Provably inert at test
# scales (max shingle document-frequency is 7 at sf0.01 / 25 at sf0.1,
# asserted in tests), so the result equals the uncapped DuckDB oracle —
# while at corpus scale it bounds the inverted-index self-join against
# boilerplate shingles. Scores stay TRUE Jaccard either way (the
# operator re-verifies capped candidates against full shingle sets).
NGRAM_MAX_SHINGLE_DF = 1000


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.3, max_shingle_df=NGRAM_MAX_SHINGLE_DF
    )
    return pairs.select("id_a", "id_b", e6(F.col("jaccard"), "jaccard_e6"))


def q_ngram_jaccard_sql(sf: str) -> str:
    return f"""
        with {SHINGLE_CTES},
        sizes as (select doc_id, count(*) as n from sh group by doc_id),
        inter as (
          select a.doc_id as id_a, b.doc_id as id_b, count(*) as i
          from sh a join sh b using (shingle)
          where a.doc_id < b.doc_id
          group by 1, 2
        )
        select id_a, id_b,
          cast(round(1000000.0 * i / (sa.n + sb.n - i)) as bigint) as jaccard_e6
        from inter
        join sizes sa on sa.doc_id = id_a
        join sizes sb on sb.doc_id = id_b
        where 1.0 * i / (sa.n + sb.n - i) >= 0.3
    """


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: fan out the one-split scan (guide §2.5)
    d = _fan_out(_read(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(d, "doc_id", "text", num_hashes=16, bands=4)


def q_minhash_lsh_sql(sf: str) -> str:
    from ..operators.dedup import MINHASH_PRIME, minhash_coeffs

    coeff_rows = ", ".join(
        f"({i}, {a}::bigint, {b}::bigint)" for i, (a, b) in enumerate(minhash_coeffs(16))
    )
    return f"""
        with {SHINGLE_CTES},
        coeffs(hi, a, b) as (values {coeff_rows}),
        mh as (
          select doc_id, hi,
            min((a * ('0x' || substr(md5(shingle), 1, 8))::bigint + b)
                % {MINHASH_PRIME}) as h
          from sh, coeffs
          group by doc_id, hi
        ),
        sig as (select doc_id, list(h order by hi) as sig from mh group by doc_id),
        bands as (
          select doc_id, b as band_idx,
            md5(array_to_string(list_transform(sig[b*4+1 : b*4+4],
                x -> cast(x as varchar)), ',')) as band_key
          from sig, lateral (select unnest(range(4)) as b)
        )
        select a.doc_id as id_a, b.doc_id as id_b, count(*) as shared_bands
        from bands a join bands b using (band_idx, band_key)
        where a.doc_id < b.doc_id
        group by 1, 2
    """


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the Arrow+numpy path: measured ~20× faster than the 32 interpreted
    # higher-order JVM aggregates (equality of the two is a test)
    from ..operators.dedup import make_simhash_udf

    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", make_simhash_udf()(F.col("text")).alias("simhash"))


def _simhash_bit_terms() -> str:
    """The 32-bit SimHash majority-vote rendering shared by every
    DuckDB oracle that recomputes simhash (single definition — a drift
    here would desynchronize the near-dup oracles from each other)."""
    return " + ".join(
        f"(case when coalesce(list_sum(list_transform(hs, "
        f"h -> case when (h >> {b}) & 1 = 1 then 1 else -1 end)), 0) >= 0 "
        f"then {2**b}::bigint else 0 end)"
        for b in range(32)
    )


def q_simhash_sql(sf: str) -> str:
    return f"""
        with toks as (
          select doc_id,
            list_transform({TOKENS_SQL.format(c='text')},
              t -> ('0x' || substr(md5(t), 1, 8))::bigint) as hs
          from documents
        )
        select doc_id,
          case when len(hs) > 0 then {_simhash_bit_terms()} else 0 end as simhash
        from toks
    """


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the query vector stays on the cluster (broadcast one-row frame) —
    # no driver-side .first() probe job before the scoring scan
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qv"))
    return (
        emb.crossJoin(F.broadcast(q))
        .select("vec_id", cosine_expr(F.col("embedding"), F.col("_qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
        .select("vec_id", e6(F.col("cosine"), "cosine_e6"))
    )


def q_ann_topk_sql(sf: str) -> str:
    return """
        with q as (select embedding as qv from embeddings where vec_id = 0)
        select vec_id,
          cast(round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]) * 1000000) as bigint)
            as cosine_e6
        from embeddings, q
        order by list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]) desc, vec_id
        limit 10
    """


# CCNet corpus-level paragraph dedup: shared boilerplate paragraphs
# seeded on doc_id residues (a newsletter banner on mod 2, a copyright
# footer on mod 3) — the exact text that repeats ACROSS pages and must
# die everywhere but its global first occurrence.
_CCNET_SEED_SQL = """
    select doc_id, text
      || case when doc_id % 2 = 0 then chr(10) || 'subscribe to our newsletter' else '' end
      || case when doc_id % 3 = 0 then chr(10) || 'all rights reserved 2026' else '' end
      as t from documents
"""


def _ccnet_seed_col() -> Column:
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(d % 2 == 0, F.lit("\nsubscribe to our newsletter")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit("\nall rights reserved 2026")).otherwise(F.lit("")),
    )


def q_ccnet_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet corpus-level paragraph dedup (Wenzek et al. 2020 §3.1;
    operators/dedup.py:dedup_paragraphs_corpus): drop any paragraph
    whose exact text occurs anywhere else in the corpus — the web's
    shared boilerplate — keeping the globally first occurrence.

    Scale shape: ONE partially-aggregable groupBy on md5(paragraph)
    (the hash shuffles, never the text twice; a banner repeated 10⁶
    times pre-counts map-side), hash-keyed join back, one doc-keyed
    reassembly. ``dedup_md5`` pins the kept paragraphs AND their order
    cross-engine; the DuckDB oracle is a different legitimate spelling
    (window count + row_number) generated by the same module.
    """
    from ..operators.dedup import dedup_paragraphs_corpus

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _ccnet_seed_col().alias("t"),
    )
    out = dedup_paragraphs_corpus(d, "doc_id", "t", keep="first")
    return out.select(
        "doc_id", "n_paras", "n_kept", F.md5("text_dedup").alias("dedup_md5")
    )


def q_ccnet_para_dedup_sql(sf: str) -> str:
    from ..operators.dedup import dedup_paragraphs_corpus_sql

    inner = dedup_paragraphs_corpus_sql(
        src=f"({_CCNET_SEED_SQL})", id_col="doc_id", text_col="t", keep="first",
    )
    return f"""
        with _cc as ({inner})
        select doc_id::BIGINT as doc_id, n_paras, n_kept,
               md5(text_dedup) as dedup_md5
        from _cc
    """


# Reproducible train/val/test split: 90/5/5 on the portable doc_id hash.
SPLIT_FRACTIONS = {"train": 0.90, "val": 0.05, "test": 0.05}


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split rollup (operators/sampling.py:
    dataset_split): every document lands in exactly one split as a pure
    function of its id (contiguous md5-bucket ranges), so re-runs and
    incremental corpus growth can never leak a document across the
    boundary. Output: per (lang, split) count + the md5 of the sorted
    id list — the assignment SET is the cross-engine contract, not just
    its size. Pure map-side CASE + one partially-aggregable rollup.
    """
    from ..operators.sampling import dataset_split

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    )
    out = dataset_split(d, "doc_id", SPLIT_FRACTIONS)
    return out.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), ",")
        ).alias("ids_md5"),
    )


def q_dataset_split_sql(sf: str) -> str:
    from ..operators.sampling import dataset_split_sql

    case = dataset_split_sql("doc_id", SPLIT_FRACTIONS)
    return f"""
        with sp as (
          select doc_id::BIGINT as doc_id, lang, {case} as split
          from documents
        )
        select lang, split, count(*)::BIGINT as n_docs,
               md5(string_agg(doc_id::VARCHAR, ','
                   order by doc_id::VARCHAR)) as ids_md5
        from sp group by 1, 2
    """


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (operators/ranking.py:
    doc_keywords): the top-3 characteristic terms of every document —
    the per-doc inversion of BM25's per-query ranking (tagging /
    cluster naming / corpus exploration).

    Scale shape: one token explode into a persisted partially-
    aggregable (doc, term, tf) frame; per-term df broadcast back; final
    top-k is a row_number window partitioned BY DOCUMENT (partition-
    parallel — no global sort). Integer score tf·idf_e6 makes the
    ranking deterministic and the module-generated DuckDB oracle
    hash-exact.
    """
    from ..operators.ranking import doc_keywords

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return doc_keywords(d, "doc_id", "text", top_k=3)


def q_doc_keywords_sql(sf: str) -> str:
    from ..operators.ranking import doc_keywords_sql

    return doc_keywords_sql("documents", "doc_id::BIGINT", "text", top_k=3)


# Passage retrieval: BM25 over the token-window chunks — chunk ids are
# the closed-form composite doc_id·PASSAGE_ID_BASE + chunk_idx. The
# base of 10⁶ means a collision needs a single document of ≥ 12M
# whitespace tokens (stride 12) — far beyond any web page; the sf-scale
# law (max chunk_idx ≪ base) is additionally pinned in pytest.
PASSAGE_ID_BASE = 1_000_000
PASSAGE_QUERY = "customer window batch"


def q_passage_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style passage retrieval: the token-window chunker
    (operators/chunking.py) feeds BM25 ranked retrieval
    (operators/ranking.py) — retrieve the top-10 PASSAGES, not
    documents, exactly how a retrieval index over a chunked corpus
    works. A composition query in the training_pipeline tradition: it
    gates the two operators working TOGETHER (a chunk-boundary bug
    changes passage lengths and therefore BM25 length normalization —
    the hash breaks even if each piece passes alone).

    Scale shape is the two components' own: zero-shuffle chunk explode
    into BM25's single partially-aggregable token count; df and (N,
    avgdl) broadcast; TakeOrdered top-k. The oracle composes the two
    module-generated SQL bodies the same way.
    """
    from ..operators.chunking import token_window_chunks
    from ..operators.ranking import bm25_topk

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    chunks = token_window_chunks(
        d, "doc_id", "text",
        chunk_tokens=CHUNK_TOKENS, stride_tokens=CHUNK_STRIDE,
    )
    passages = chunks.select(
        (F.col("doc_id") * PASSAGE_ID_BASE + F.col("chunk_idx")).alias("passage_id"),
        "chunk_text",
    )
    return bm25_topk(passages, "passage_id", "chunk_text", PASSAGE_QUERY, top_k=10)


def q_passage_retrieval_sql(sf: str) -> str:
    from ..operators.chunking import token_window_sql
    from ..operators.ranking import bm25_topk_sql

    tw = token_window_sql(
        src="documents", id_col="doc_id", text_col="text",
        chunk_tokens=CHUNK_TOKENS, stride_tokens=CHUNK_STRIDE,
    )
    passages = (
        f"(select doc_id * {PASSAGE_ID_BASE} + chunk_idx as passage_id, "
        f"chunk_text from ({tw}))"
    )
    inner = bm25_topk_sql(
        passages, "passage_id", "chunk_text", PASSAGE_QUERY, top_k=10
    )
    # the generator's internal alias for the id is doc_id; surface the
    # passage grain under the Spark side's column name
    return f"""
        with _pr as ({inner})
        select rnk, doc_id::BIGINT as passage_id, score_e6, n_terms_hit
        from _pr
    """


# C4 badwords filter: small stand-in blocklist (the real list is an
# external resource callers supply); trip classes by doc_id residue so
# every signal carries both verdicts at sf0.01 AND sf0.1 — word hit
# (mod 3: a blocklisted token, punctuation-adjacent on mod 6 to pin the
# tokenizer boundary), phrase hit (mod 5), double word hit (mod 9).
BADWORDS = ("badwordx", "nastyterm")
BADPHRASES = ("forbidden phrase",)
_BADWORDS_SEED_SQL = """
    select doc_id, text
      || case when doc_id % 3 = 0 then case when doc_id % 6 = 0
              then ' so badwordx, happened' else ' so badwordx happened' end
              else '' end
      || case when doc_id % 9 = 0 then ' NASTYTERM again' else '' end
      || case when doc_id % 5 = 0 then ' a Forbidden Phrase appears' else '' end
      as t from documents
"""


def _badwords_seed_col() -> Column:
    """Spark twin of _BADWORDS_SEED_SQL: word hit with and without
    adjacent punctuation (token-boundary semantics), case-folded word
    and phrase hits, multi-hit docs."""
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            d % 3 == 0,
            F.when(d % 6 == 0, F.lit(" so badwordx, happened"))
            .otherwise(F.lit(" so badwordx happened")),
        ).otherwise(F.lit("")),
        F.when(d % 9 == 0, F.lit(" NASTYTERM again")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" a Forbidden Phrase appears")).otherwise(F.lit("")),
    )


def q_c4_badwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 blocklist filter (Raffel et al. 2020 §2.2;
    functions/quality.py:badwords_cols): drop any page containing a
    blocklisted word (token-boundary, case-folded) or phrase
    (substring, counted by exact integer length arithmetic) — the one
    §2.2 stage q_c4_clean deliberately left out.

    Pure JVM expressions, zero exchanges (the scan-bound filter shape);
    the DuckDB oracle is generated by the same module (badwords_sql).
    The seed puts a word hit adjacent to punctuation on mod-6 docs, so
    a substring-instead-of-token matcher or a case-sensitive one breaks
    the hash.
    """
    from ..functions.quality import badwords_cols

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _badwords_seed_col().alias("t"),
    )
    sig = badwords_cols(F.col("t"), words=BADWORDS, phrases=BADPHRASES)
    return d.select("doc_id", *[v.alias(k) for k, v in sig.items()])


def q_c4_badwords_sql(sf: str) -> str:
    from ..functions.quality import badwords_sql

    inner = badwords_sql(
        _BADWORDS_SEED_SQL, words=BADWORDS, phrases=BADPHRASES,
        text_col="t", id_col="doc_id",
    )
    return f"""
        with _bw_out as ({inner})
        select doc_id::BIGINT as doc_id, n_bad_words, n_bad_phrases, ok_badwords
        from _bw_out
    """


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized exact top-k (operators/similarity.py:
    quantized_topk): both sides unit-normalize → symmetric int8
    quantization (q_i = round(127·v_i/‖v‖)) → INTEGER dot product, the
    memory-bound ANN scale path (float32 → int8 cuts a 100 TB embedding
    store 4× and turns scoring into integer SIMD work).

    Same on-cluster query-vector convention as ann_topk (vec_id = 0,
    broadcast one-row frame, no driver probe job); one scan +
    TakeOrdered, no corpus shuffle. The score is a pure integer, so the
    DuckDB oracle — quantization and dot regenerated by the same
    module — is hash-exact with no float-ordering caveat; the float
    cosine ranking (ann_topk) is the recall reference (pytest pins the
    top-10 overlap on this corpus).
    """
    from ..operators.similarity import quantized_topk

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding")
    return quantized_topk(emb, "vec_id", "embedding", q, k=10)


def q_ann_quantized_sql(sf: str) -> str:
    from ..operators.similarity import quantized_topk_sql

    return quantized_topk_sql(
        src="embeddings", id_col="vec_id", vec_col="embedding",
        query_where="vec_id = 0", k=10,
    )


# --- embedding near-dup: planted-dup corpus + LSH bucket join ------------
#
# The synthetic embeddings table has no high-cosine pairs (max ≈ 0.6), so
# a *near-dup* operator exercised on it alone either needs a threshold so
# low (0.35) that every pair is a candidate — forcing the all-pairs cross
# join the 100 TB design forbids — or returns nothing. Instead the query
# derives a corpus with DETERMINISTIC planted near-dups (every 10th
# vector re-emitted with a ±5% md5-keyed per-element perturbation, id
# offset +1'000'000; reproducible bit-for-bit in DuckDB) and runs the LSH
# bucket-join path at the realistic near-dup threshold 0.9. The oracle is
# the brute-force cross join over the same derived corpus.

PLANT_EVERY = 10
PLANT_ID_OFFSET = 1_000_000
NEAR_DUP_THRESHOLD = 0.9
EMB_DIM = 64  # dimensionality of testdata embeddings.parquet (all SFs)


def embeddings_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )

    def _perturb(x: Column, i: Column) -> Column:
        # the md5 key uses the ORIGINAL id — staged as _orig_id because an
        # output column aliased vec_id would shadow the input vec_id
        # inside the lambda (Spark re-resolves against the projection)
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("_orig_id").cast("string"), F.lit(":"), i.cast("string"))
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("bigint")
            % 1000
        )
        return x.cast("double") * (F.lit(1.0) + (h / F.lit(1000.0) - F.lit(0.5)) * F.lit(0.1))

    pert = (
        emb.filter(F.col("vec_id") % PLANT_EVERY == 0)
        .select(F.col("vec_id").cast("bigint").alias("_orig_id"), "embedding")
        .select(
            (F.col("_orig_id") + F.lit(PLANT_ID_OFFSET)).alias("vec_id"),
            F.transform("embedding", _perturb).alias("embedding"),
        )
    )
    return base.unionByName(pert)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORACLE COUPLING (ADVICE r2): the LSH path has recall < 1 by
    # construction while the DuckDB oracle is brute force; parity holds
    # because the planted dups sit at cosine ≈ 0.99 where the 4-table,
    # 8-bit miss probability is ≈ 0 (measured recall 1.0 at sf0.01/0.1 in
    # tests). Changing PLANT_* / NEAR_DUP_THRESHOLD / bits / tables, or
    # regenerating the testdata, can legitimately drop a qualifying pair
    # here without any code bug — re-check recall in
    # tests/test_similarity.py before blaming the operator.
    from ..operators.dedup import embedding_near_dup_lsh

    allv = embeddings_with_planted_dups(spark, sf_dir)
    pairs = embedding_near_dup_lsh(
        allv, "vec_id", "embedding", threshold=NEAR_DUP_THRESHOLD,
        bits=8, tables=4, dim=EMB_DIM,  # explicit dim → no .first() probe job
    )
    return pairs.select("id_a", "id_b", e6(F.col("cosine"), "cosine_e6"))


def q_embedding_near_dup_sql(sf: str) -> str:
    return f"""
        with base as (
          select cast(vec_id as bigint) as vec_id, embedding::DOUBLE[] as v
          from embeddings
        ),
        dup as (
          select vec_id + {PLANT_ID_OFFSET} as vec_id,
            list_transform(v, (x, i) -> x * (1.0 +
              ((('0x' || substr(md5(vec_id::varchar || ':' || (i-1)::varchar), 1, 4))::bigint
                % 1000) / 1000.0 - 0.5) * 0.1)) as v
          from base where vec_id % {PLANT_EVERY} = 0
        ),
        allv as (select * from base union all select * from dup)
        select a.vec_id as id_a, b.vec_id as id_b,
          cast(round(list_cosine_similarity(a.v, b.v) * 1000000) as bigint) as cosine_e6
        from allv a join allv b on a.vec_id < b.vec_id
        where list_cosine_similarity(a.v, b.v) >= {NEAR_DUP_THRESHOLD}
    """


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-band near-dup: EXACT pairs within Hamming ≤ 3 via
    pigeonhole banding (4 bands × 8 bits) + bit_count verification."""
    from ..operators.dedup import simhash_near_dup_pairs

    # r6: fan out the one-split scan (guide §2.5) — also feeds the
    # two dedup_components variants
    d = _fan_out(_read(spark, sf_dir, "documents"))
    return simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3, bands=4)


def q_simhash_near_dup_sql(sf: str) -> str:
    inner = q_simhash_sql(sf)
    return f"""
        with s as ({inner})
        select a.doc_id as id_a, b.doc_id as id_b,
               cast(bit_count(xor(a.simhash, b.simhash)) as bigint) as hamming
        from s a join s b on a.doc_id < b.doc_id
        where bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup group formation: connected components (min-label) over the
    SimHash Hamming-≤3 near-dup pair set — every near-dup family labeled
    by its minimum member id."""
    from ..operators.components import connected_components

    pairs = q_simhash_near_dup(spark, sf_dir)
    return connected_components(pairs).select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component_id").cast("bigint").alias("component_id"),
    )


def q_dedup_components_sql(sf: str) -> str:
    simhash_inner = q_simhash_sql(sf)
    return f"""
        with recursive
        s as ({simhash_inner}),
        pairs as (
          select a.doc_id as id_a, b.doc_id as id_b
          from s a join s b on a.doc_id < b.doc_id
          where bit_count(xor(a.simhash, b.simhash)) <= 3
        ),
        edges as (select id_a as a, id_b as b from pairs
                  union select id_b, id_a from pairs),
        reach(node, r) as (
          select a, a from (select distinct a from edges)
          union
          select e.b, reach.r from reach join edges e on e.a = reach.node
        )
        select cast(node as bigint) as doc_id,
               cast(min(r) as bigint) as component_id
        from reach group by node
    """


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dedup group formation computed by the OTHER algorithm:
    large-star/small-star contraction (O(log² n) rounds at any graph
    diameter — the adversarial-diameter fallback). Shares the min-label
    query's recursive-CTE oracle: both must produce the identical
    (node → min reachable id) labeling."""
    from ..operators.components import connected_components_star

    pairs = q_simhash_near_dup(spark, sf_dir)
    return connected_components_star(pairs).select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component_id").cast("bigint").alias("component_id"),
    )


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join via the blocked-GEMM default (``similarity.knn_join``):
    per-Arrow-batch local top-k bounds the shuffle to batches × |Q| × k.
    Queries = the first 5 embedding rows; k = 5."""
    from ..operators.similarity import knn_join

    emb = _read(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_join(emb, queries, "vec_id", "embedding", k=5)
    return out.select(
        "query_id",
        "vec_id",
        e6(F.col("cosine"), "cosine_e6"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_knn_join_sql(sf: str) -> str:
    return """
        with q as (
          select cast(vec_id as bigint) as query_id, embedding::DOUBLE[] as qv
          from embeddings where vec_id < 5
        ),
        scored as (
          select q.query_id, cast(e.vec_id as bigint) as vec_id,
                 list_cosine_similarity(e.embedding::DOUBLE[], q.qv) as c
          from embeddings e, q
        ),
        ranked as (
          select query_id, vec_id, c,
                 row_number() over (partition by query_id
                                    order by c desc, vec_id) as rank
          from scored
        )
        select query_id, vec_id,
               cast(round(c * 1000000) as bigint) as cosine_e6,
               cast(rank as bigint) as rank
        from ranked where rank <= 5
    """


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in EXACT mode (n_probe = n_centroids → every cell probed):
    proves the full IVF plumbing — sample-trained centroids, GEMM cell
    assignment, cell join, per-query rank — against the same window-rank
    SQL oracle as the blocked kNN join (exact mode ≡ brute force).
    Partial-probe recall is covered by pytest (not SQL-expressible)."""
    from ..operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, "vec_id", "embedding", k=5, n_centroids=8, n_probe=8)
    return out.select(
        "query_id",
        "vec_id",
        e6(F.col("cosine"), "cosine_e6"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: top-20 3-gram shingles by document frequency over
    the documents table (the boilerplate detector feeding the n-gram
    dedup cap). Distributed partial-agg groupBy + TakeOrdered — the
    exact top-k shape that scales; tiebreak on shingle."""
    from ..operators.dedup import _distinct_shingles

    # r6: fan out the one-split scan (guide §2.5)
    d = _fan_out(_read(spark, sf_dir, "documents"))
    sh = _distinct_shingles(d, "doc_id", "text", 3)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .orderBy(F.desc("df_count"), "shingle")
        .limit(20)
    )


def q_ngram_topk_sql(sf: str) -> str:
    return f"""
        with {SHINGLE_CTES}
        select shingle, count(*) as df_count
        from sh group by shingle
        order by df_count desc, shingle
        limit 20
    """


STRATA_RATES = {"en": 0.05, "de": 0.5, "zh": 0.8}
STRATA_DEFAULT = 0.2


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling of documents (md5-bucket
    predicate, pure map — the corpus-rebalancing primitive): keep 5% of
    the dominant 'en', 50% 'de', 80% 'zh', 20% of everything else.
    Output: per-language kept counts (verifies both the predicate and
    its reproducibility)."""
    from ..operators.sampling import stratified_sample

    d = _read(spark, sf_dir, "documents")
    kept = stratified_sample(d, "doc_id", "lang", STRATA_RATES, STRATA_DEFAULT)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("kept"))


def q_stratified_sample_sql(sf: str) -> str:
    from ..operators.sampling import stratified_sample_sql

    pred = stratified_sample_sql("doc_id", "lang", STRATA_RATES, STRATA_DEFAULT)
    return f"""
        select lang, count(*) as kept from documents
        where {pred}
        group by lang
    """


def q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition removal (operators/dedup.py:
    dedup_paragraphs — the Dolma/RefinedWeb cleanup step, round 4):
    build one document per user from their event-type stream (ordered by
    event_id), drop repeated lines keeping first-occurrence order, and
    report (n_paras, n_distinct, md5 of the deduped text). md5 of the
    reassembled text makes the order-preservation cross-engine
    verifiable, not just the counts."""
    from ..operators.dedup import dedup_paragraphs

    ev = _read(spark, sf_dir, "events")
    docs = (
        ev.select(
            "user_id",
            F.struct(F.col("event_id"), F.col("event_type").alias("para")).alias("_s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("_s")), lambda s: s["para"]),
                "\n",
            ).alias("text")
        )
    )
    out = dedup_paragraphs(docs, "user_id", "text")
    return out.select(
        "user_id", "n_paras", "n_distinct", F.md5("text_dedup").alias("dedup_md5")
    )


def q_para_dedup_sql(sf: str) -> str:
    return """
        with docs as (
          select user_id, string_agg(event_type, chr(10) order by event_id) as text
          from events group by user_id
        ),
        lists as (
          select user_id, string_split(text, chr(10)) as paras from docs
        ),
        parts as (
          select user_id, unnest(paras) as para,
                 generate_subscripts(paras, 1) as pos
          from lists
        ),
        firsts as (
          select user_id, para, min(pos) as pos, count(*) as n
          from parts group by user_id, para
        )
        select user_id, cast(sum(n) as bigint) as n_paras,
               cast(count(*) as bigint) as n_distinct,
               md5(string_agg(para, chr(10) order by pos)) as dedup_md5
        from firsts group by user_id
    """


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators/sampling.py:reservoir_per_key):
    keep exactly min(40, |source|) docs per source by deterministic
    md5 rank — the per-domain cap a web-corpus pipeline applies so one
    crawl host cannot dominate training data. The chosen SET is
    cross-engine verifiable because the rank is the shared md5 hash."""
    from ..operators.sampling import reservoir_per_key

    d = _read(spark, sf_dir, "documents")
    return reservoir_per_key(d.select("doc_id", "source"), "source", "doc_id", 40)


def q_source_cap_sql(sf: str) -> str:
    return """
        select doc_id, source from (
          select doc_id, source,
                 row_number() over (
                   partition by source
                   order by md5(cast(doc_id as varchar)), doc_id) as rk
          from documents
        ) where rk <= 40
    """


MIX_FRACTIONS = {"en": 0.40, "de": 0.25, "zh": 0.20, "fr": 0.15}
MIX_TOTAL = 300


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix composer (operators/sampling.py:quota_mix): fill a
    300-doc budget at a published-recipe language mix (40/25/20/15
    en/de/zh/fr; unlisted languages excluded). The zh/de/fr strata are
    SHORT of their quotas on this corpus, so the keep-everything-short
    branch is exercised alongside the md5-rank truncation of 'en'.
    Output: the selected rows (the SET is the contract), cross-engine
    because quota arithmetic is exact integers and the rank is the
    shared md5. One tiny driver agg + one window shuffle."""
    from ..operators.sampling import quota_mix

    d = _read(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    out = quota_mix(d, "lang", "doc_id", MIX_FRACTIONS, MIX_TOTAL)
    return out.select("doc_id", "lang", "source")


def q_training_mix_sql(sf: str) -> str:
    from ..operators.sampling import quota_mix_sql

    body = quota_mix_sql(
        "(select doc_id, lang, source from documents)",
        "lang",
        "doc_id",
        MIX_FRACTIONS,
        MIX_TOTAL,
    )
    return f"with {body} select doc_id, lang, source from mix_sel"


TP_MIN_TOKENS = 25  # quality floor: drops the short ~15% of the corpus


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline CAPSTONE: the published LLM-data
    recipe end to end as one composed query over the REAL operators —
    exact dedup (min-id representative per md5,
    ``operators/dedup.py:dedup_exact``) → benchmark decontamination
    (broadcast gram set, ``operators/decontaminate.py``) → quality
    floor (≥25 whitespace tokens) → training-mix quota composition
    (``operators/sampling.py:quota_mix``, 40/25/20/15 en/de/zh/fr over
    a 300-doc budget) → per-language rollup whose ``set_md5`` pins the
    SELECTED SET exactly. Every stage drops rows on this corpus: dups
    are PLANTED (every 13th doc re-emitted under id+10⁶ — the copies
    must die at dedup or every downstream count shifts), every 37th doc
    seeds the benchmark, the floor cuts the short tail, 'en' overflows
    its quota while 'es' is unlisted — so a bug in any stage or in how
    the stages COMPOSE breaks the hash.

    Scale shape: one groupBy + one join shuffle for dedup, zero corpus
    shuffle for decon, the kept frame persisted MEMORY_AND_DISK for the
    mix's two consumers (quota counts + window rank), one window
    shuffle for the mix — every stage is its operator's registered
    100 TB shape."""
    from ..operators.decontaminate import decontaminate
    from ..operators.dedup import dedup_exact
    from ..operators.sampling import quota_mix
    from ..functions.text import token_count_ws

    base = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    d = base.unionByName(
        base.where(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
            "text",
            "lang",
            "source",
        )
    )
    reps = dedup_exact(d, "doc_id", "text").select(
        F.col("rep_id").alias("doc_id")
    )
    deduped = d.join(reps, "doc_id")
    verdicts = decontaminate(
        deduped, "doc_id", "text", _decon_bench(spark, sf_dir), "bench_text"
    )
    kept = (
        verdicts.where(~F.col("contaminated"))
        .where(token_count_ws(F.col("text")) >= TP_MIN_TOKENS)
        .select("doc_id", "text", "lang", "source")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mixed = quota_mix(kept, "lang", "doc_id", MIX_FRACTIONS, MIX_TOTAL)
    return mixed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(F.col("text")).cast("bigint")).alias(
            "tokens_total"
        ),
        F.countDistinct("source").alias("n_sources"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.col("doc_id").cast("bigint"))),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("set_md5"),
    )


def q_training_pipeline_sql(sf: str) -> str:
    from ..operators.decontaminate import decontaminate_sql
    from ..operators.sampling import quota_mix_sql

    tk = TOKENS_SQL.format(c="text")
    tk_c = TOKENS_SQL.format(c="c.text")
    decon_body = decontaminate_sql(
        "tp_dedup", "doc_id", "text", "decon_bench_src", "bench_text"
    )
    mix_body = quota_mix_sql(
        "tp_kept", "lang", "doc_id", MIX_FRACTIONS, MIX_TOTAL
    )
    return f"""
        with tp_corpus as (
          select doc_id, text, lang, source from documents
          union all
          select doc_id + 1000000 as doc_id, text, lang, source
          from documents where doc_id % 13 = 0
        ),
        tp_reps as (
          select min(doc_id) as doc_id from tp_corpus group by md5(text)
        ),
        tp_dedup as (
          select d.doc_id, d.text, d.lang, d.source
          from tp_corpus d join tp_reps using (doc_id)
        ),
        decon_bench_src as (
          select case when len({tk}) >= 12
                      then array_to_string(({tk})[4:12], ' ')
                      else text end as bench_text
          from documents where doc_id % {DECON_BENCH_MOD} = 0
        ),
        {decon_body},
        tp_kept as (
          select c.doc_id, c.text, c.lang, c.source
          from tp_dedup c join decon v on v.id = c.doc_id
          where not v.contaminated and len({tk_c}) >= {TP_MIN_TOKENS}
        ),
        {mix_body}
        select lang,
               count(*) as n_docs,
               sum(len({tk}))::BIGINT as tokens_total,
               count(distinct source) as n_sources,
               md5(string_agg(cast(doc_id as varchar), ',' order by doc_id))
                 as set_md5
        from mix_sel
        group by lang
    """


def q_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join with a non-equi condition —
    orders having any line shipped >100 days after the order date,
    counted per priority. Catalyst plans the equi part as the join key
    and the date comparison as the join condition (one shuffle pair, no
    cartesian); the semi-join never duplicates orders rows."""
    o = _read(spark, sf_dir, "orders")
    l = _read(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("late_orders"))
    )


def q_late_orders_sql(sf: str) -> str:
    return """
        select o_orderpriority, count(*) as late_orders
        from orders o
        where exists (
          select 1 from lineitem l
          where l.l_orderkey = o.o_orderkey
            and l.l_shipdate > o.o_orderdate + interval 100 day
        )
        group by o_orderpriority
    """


def q_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional aggregation —
    per returnflag, line counts split by order priority class and the
    discounted revenue."""
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = _read(spark, sf_dir, "lineitem")
    # NULL priority counts as low (the SQL CASE else-branch) — a bare
    # sum(bool.cast) would skip NULLs from BOTH columns and diverge from
    # the oracle on non-TPC-H reuse of this shape
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).cast("bigint").alias("high_lines"),
            F.sum(1 - high).cast("bigint").alias("low_lines"),
            e2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                "revenue_e2",
            ),
        )
    )


def q_priority_revenue_sql(sf: str) -> str:
    return """
        select l_returnflag,
               cast(sum(case when o_orderpriority in ('1-URGENT', '2-HIGH')
                        then 1 else 0 end) as bigint) as high_lines,
               cast(sum(case when o_orderpriority in ('1-URGENT', '2-HIGH')
                        then 0 else 1 end) as bigint) as low_lines,
               cast(round(sum(l_extendedprice * (1 - l_discount)) * 100) as bigint)
                 as revenue_e2
        from lineitem join orders on l_orderkey = o_orderkey
        group by l_returnflag
    """


def q_dedup_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: rows surviving exact dedup + SimHash
    near-dup group collapse (keep each family's min-id representative)."""
    from ..operators.dedup import dedup_corpus_keep_ids

    d = _read(spark, sf_dir, "documents")
    return dedup_corpus_keep_ids(d, "doc_id", "text").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )


def q_dedup_filtered_sql(sf: str) -> str:
    simhash_inner = q_simhash_sql(sf)
    return f"""
        with recursive
        s as ({simhash_inner}),
        pairs as (
          select a.doc_id as id_a, b.doc_id as id_b
          from s a join s b on a.doc_id < b.doc_id
          where bit_count(xor(a.simhash, b.simhash)) <= 3
        ),
        edges as (select id_a as a, id_b as b from pairs
                  union select id_b, id_a from pairs),
        reach(node, r) as (
          select a, a from (select distinct a from edges)
          union
          select e.b, reach.r from reach join edges e on e.a = reach.node
        ),
        comp as (select node, min(r) as cid from reach group by node),
        exact_reps as (select min(doc_id) as doc_id from documents group by md5(text))
        select cast(doc_id as bigint) as doc_id from exact_reps
        where doc_id not in (select node from comp where node <> cid)
    """


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup (operators/dedup.py:
    dedup_against_snapshot): a new batch — fresh docs (doc_id % 3 == 0)
    ∪ EXACT copies of snapshot rows (id + 10⁶, must die via md5) ∪
    one-token-appended NEAR copies (id + 2·10⁶, die iff their simhash
    lands within Hamming ≤ 3 of the original — whichever way the data
    falls, the oracle recomputes the same arithmetic) — filtered
    against the snapshot (doc_id % 3 != 0) using only the snapshot's
    (md5, simhash) summary. The DuckDB oracle uses the NAIVE all-pairs
    NOT EXISTS formulation while Spark runs the banded pigeonhole path
    — an independent algebra validating the band join's
    no-false-negative guarantee. Output: kept (doc_id, src_class) with
    src_class = id div 10⁶ (0 fresh / 1 copy / 2 near)."""
    from ..operators.dedup import dedup_against_snapshot

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    snap = d.where(F.col("doc_id") % 3 != 0)
    fresh = d.where(F.col("doc_id") % 3 == 0)
    copies = snap.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    nears = snap.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    batch = fresh.unionByName(copies).unionByName(nears)
    kept = dedup_against_snapshot(batch, snap, "doc_id", "text")
    return kept.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.floor(F.col("doc_id") / 1_000_000).cast("bigint").alias("src_class"),
    )


def q_incremental_dedup_sql(sf: str) -> str:
    toks = TOKENS_SQL.format(c="text")
    bit_terms = _simhash_bit_terms()
    sig = (
        "select doc_id, md5(text) as h,\n"
        "  case when len(hs) > 0 then " + bit_terms + " else 0 end as simhash\n"
        "from (select doc_id, text,\n"
        f"  list_transform({toks}, t -> ('0x' || substr(md5(t), 1, 8))::bigint) as hs\n"
        "  from {src})"
    )
    return f"""
        with snap as (select doc_id, text from documents where doc_id % 3 <> 0),
        batch as (
          select doc_id, text from documents where doc_id % 3 = 0
          union all select doc_id + 1000000, text from snap
          union all select doc_id + 2000000, text || ' extra' from snap
        ),
        ssig as ({sig.format(src='snap')}),
        bsig as ({sig.format(src='batch')})
        select b.doc_id, b.doc_id // 1000000 as src_class
        from bsig b
        where b.h not in (select h from ssig)
          and not exists (
            select 1 from ssig s
            where bit_count(xor(b.simhash, s.simhash)) <= 3
          )
    """


def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharded export round trip (sources/sinks.py:
    shard_export): documents → 8 md5-addressed shard partitions WRITTEN
    to /tmp parquet → manifest (n_rows, 32-bit-slice id_anchor,
    n_chars) computed from the files READ BACK. The DuckDB oracle
    recomputes the manifest directly from the source table, so a lost,
    duplicated or mis-routed row anywhere in the write→read round trip
    breaks the hash even when counts survive. The write happens every
    run on purpose — the round trip IS the thing being measured. The
    destination is a PER-PROCESS tempdir (review r5: a path keyed only
    on sf_dir races when a bench pass and a pytest run overwrite each
    other's dataset mid-scan), removed at interpreter exit."""
    from ..sources.sinks import shard_export

    d = _read(spark, sf_dir, "documents")
    dest = os.path.join(_shard_export_root(), sf_dir.strip("/").replace("/", "_"))
    return shard_export(d, "doc_id", dest, 8, text_col="text")


def _shard_export_root() -> str:
    """One tempdir per process for shard-export round trips, cleaned up
    at exit (repeat passes within a process legitimately reuse it —
    overwrite mode makes the write idempotent)."""
    global _SHARD_EXPORT_ROOT
    if _SHARD_EXPORT_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SHARD_EXPORT_ROOT = tempfile.mkdtemp(prefix="spark_graft_shards_")
        atexit.register(shutil.rmtree, _SHARD_EXPORT_ROOT, ignore_errors=True)
    return _SHARD_EXPORT_ROOT


_SHARD_EXPORT_ROOT: str | None = None


def q_shard_export_sql(sf: str) -> str:
    from ..sources.sinks import shard_manifest_sql

    return shard_manifest_sql("documents", "doc_id", 8, text_expr="text")


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings-list construction (operators/ranking.py:
    build_inverted_index) over the documents table with doc_shards=4 —
    the term-skew scale path is the tested path (shard = portable
    60-bit md5 slice of the doc id % 4, so both engines agree on every
    assignment; per-shard df/cf sum to global). postings_md5 pins the
    doc-ordered doc:tf rendering of every postings list exactly; the
    DuckDB oracle is generated by the same module."""
    from ..operators.ranking import build_inverted_index

    d = _read(spark, sf_dir, "documents")
    return build_inverted_index(d, "doc_id", "text", doc_shards=4).select(
        "term",
        F.col("shard").cast("bigint").alias("shard"),
        "df",
        "cf",
        "postings_md5",
    )


def q_inverted_index_sql(sf: str) -> str:
    from ..operators.ranking import inverted_index_sql

    return inverted_index_sql("documents", "doc_id", "text", doc_shards=4)


def q_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority dedup (operators/dedup.py:dedup_corpus_keep_best):
    within every duplicate family (exact-md5 star edges ∪ SimHash
    Hamming-≤3 near-dup pairs, families = connected components) keep the
    LONGEST member (score = char length, ties → min id) instead of the
    min id — the keep rule a production pipeline actually uses. The
    DuckDB oracle recomputes the whole composition: simhash pairs, the
    exact-dup star edges, the recursive-CTE components, and a
    row_number window argmax per family."""
    from ..operators.dedup import dedup_corpus_keep_best

    d = _read(spark, sf_dir, "documents")
    # text_len is not a table column: derive it first
    d2 = d.withColumn("text_len", F.length("text"))
    kept = dedup_corpus_keep_best(d2, "doc_id", "text", "text_len")
    return kept.join(d2.select("doc_id", "text_len"), "doc_id").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("text_len").cast("bigint").alias("score_len"),
    )


def q_dedup_best_sql(sf: str) -> str:
    simhash_inner = q_simhash_sql(sf)
    return f"""
        with recursive
        s as ({simhash_inner}),
        pairs as (
          select a.doc_id as id_a, b.doc_id as id_b
          from s a join s b on a.doc_id < b.doc_id
          where bit_count(xor(a.simhash, b.simhash)) <= 3
        ),
        scored as (select doc_id, md5(text) as h, length(text) as score
                   from documents),
        gmin as (select h, min(doc_id) as rep, count(*) as n
                 from scored group by h),
        exact_edges as (
          select e.doc_id as id_a, g.rep as id_b
          from scored e join gmin g using (h)
          where g.n > 1 and e.doc_id <> g.rep
        ),
        allpairs as (select id_a, id_b from pairs
                     union select id_a, id_b from exact_edges),
        edges as (select id_a as a, id_b as b from allpairs
                  union select id_b, id_a from allpairs),
        reach(node, r) as (
          select a, a from (select distinct a from edges)
          union
          select e.b, reach.r from reach join edges e on e.a = reach.node
        ),
        comp as (select node, min(r) as cid from reach group by node),
        member as (
          select c.node, c.cid, x.score,
                 row_number() over (partition by c.cid
                                    order by x.score desc, c.node asc) as rn
          from comp c join scored x on x.doc_id = c.node
        ),
        keep as (
          select doc_id from scored
          where doc_id not in (select node from comp)
          union all
          select node from member where rn = 1
        )
        select cast(k.doc_id as bigint) as doc_id,
               cast(x.score as bigint) as score_len
        from keep k join scored x on x.doc_id = k.doc_id
    """


def q_image_features_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multimodal pipeline over a SEEDED image corpus
    (VERDICT r4 item 8 — the one operator family that had no per-round
    driver-visible entry): one deterministic BMP/PNG/baseline-JPEG
    payload per documents row (operators/multimodal.py:make_synth_image,
    a pure function of doc_id — the sf tables carry no binary column),
    encoded AND decoded distributed (mapInPandas Arrow batches over a
    pruned (id, binary) projection), real features
    (image_stat_feature: channel means + L2-normalized gray thumbnail),
    then a per-format aggregate.

    Registered ROWS-ONLY: DuckDB cannot decode images, so the oracle is
    the Python-side ROW-LEVEL recompute in
    tests/test_multimodal.py::test_image_features_agg_row_level_oracle
    (same pattern as the slot-vote sf0.01 parity test). Output:
    (format, n, mean_f0_e6, mean_thumb_e6) — the means separate the
    lossless (bmp/png identical statistics) from the lossy (jpeg) path,
    so a broken codec shows up as a shifted mean, not just a count."""
    from ..operators.multimodal import image_features, synth_image_corpus

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    # r6: persist the synthetic input corpus (the encoder half) so
    # steady-state passes measure the decode under test (the
    # audio_decode convention)
    img_corpus = synth_image_corpus(d, "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
    feats = image_features(img_corpus, "doc_id", "img")
    return feats.groupBy("format").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        e6(F.avg(F.element_at("feature", 1)), "mean_f0_e6"),
        e6(F.avg(F.element_at("feature", 4)), "mean_thumb_e6"),
    )


def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-pass Arrow UDF (~10× the interpreted higher-order Column
    # expressions); semantics identical to lang_id/quality_score/
    # fingerprint — gated by the DuckDB oracle below
    from ..functions.text import make_text_profile_udf

    d = _read(spark, sf_dir, "documents")
    prof = make_text_profile_udf()(F.col("text")).alias("p")
    return d.select("doc_id", prof).select(
        "doc_id",
        F.col("p.lid").alias("lid"),
        e6(F.col("p.quality"), "quality_e6"),
        F.col("p.fp").alias("fp"),
    )


def _lang_id_sql_parts() -> tuple[dict, str]:
    """The DuckDB rendering of functions/text.py:lang_id over a token
    array column ``tk`` — ONE definition shared by q_lang_quality_sql
    and q_lang_confusion_sql so the spellings cannot drift. Returns
    (per-language hit exprs, the language-id CASE expression)."""
    langs = sorted(STOPWORDS)
    hit_exprs = {
        lg: (
            f"len(list_filter(tk, t -> list_contains("
            f"[{', '.join(repr(w) for w in STOPWORDS[lg])}], lower(t))))"
        )
        for lg in langs
    }
    best = f"greatest({', '.join(hit_exprs[lg] for lg in langs)})"
    lid_case = "case "
    for lg in langs:
        lid_case += f"when {best} > 0 and {hit_exprs[lg]} = {best} then '{lg}' "
    lid_case += "else 'und' end"
    return hit_exprs, lid_case


def q_lang_quality_sql(sf: str) -> str:
    hit_exprs, lid_case = _lang_id_sql_parts()
    en_hits = hit_exprs["en"]
    return f"""
        with toks as (
          select doc_id, text, {TOKENS_SQL.format(c='text')} as tk from documents
        ),
        m as (
          select doc_id, text, tk,
            len(tk) as n,
            length(text) as nchars,
            length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) as nstripped,
            case when len(tk) > 0
                 then 1.0 * list_sum(list_transform(tk, t -> length(t))) / len(tk)
                 else 0.0 end as mwl,
            {lid_case} as lid,
            {en_hits} as en_hits
          from toks
        ),
        q as (
          select doc_id, lid, tk, n,
            0.25 * least(1.0, nchars / 500.0)
            + 0.25 * (1.0 - least(1.0, (case when nchars > 0
                 then 1.0 * (nchars - nstripped) / nchars else 0.0 end) * 2))
            + 0.30 * least(1.0, (case when n > 0 then 1.0 * en_hits / n else 0.0 end) * 4)
            + 0.20 * (case when mwl >= 3 and mwl <= 10 then 1.0 else 0.0 end) as quality,
            m.text as text
          from m
        )
        select doc_id, lid,
          cast(round(quality * 1000000) as bigint) as quality_e6,
          case when n >= 5 then
            list_min(list_transform(range(1, n - 3),
                     i -> md5(array_to_string(tk[i:i+4], ' '))))
          else md5(text) end as fp
        from q
    """


def q_variables_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: variable extraction with the reference's exact quirks
    (parser.py:400-416 — lazy groups, unanchored end: the LAST variable
    captures a single character), each row against its own extracted
    template, as JVM columns (``extract_template_col`` →
    ``extract_variables_col``)."""
    # r6: fan out the one-split scan — the per-row clean, template and
    # regex work is the heavy part; only (event_id, line) crosses the
    # exchange
    ev = _fan_out(_read(spark, sf_dir, "events").select(
        "event_id", event_log_line_col().alias("__line")
    ))
    # selected on its own so the clean runs once per row, not once per use
    ev = ev.select("event_id", clean_col(F.col("__line"), DEFAULT_CONFIG.preprocessing).alias("c"))
    cleaned = F.col("c")
    return ev.select(
        "event_id", extract_variables_col(cleaned, extract_template_col(cleaned)).alias("v")
    ).select(
        "event_id",
        F.element_at("v", "var_1").alias("var_1"),
        F.element_at("v", "var_2").alias("var_2"),
    )


def q_variables_extract_sql(sf: str) -> str:
    # the per-row template is "{event_type} value <*> from user <*>" →
    # regex "^{etype} value (.+?) from user (.+?)" (no $ — the quirk)
    cleaned = clean_sql(EVENT_LINE_SQL)
    return f"""
        with c as (select event_id, event_type, {cleaned} as cleaned from events)
        select event_id,
          regexp_extract(cleaned, '^' || event_type || ' value (.+?) from user (.+?)', 1) as var_1,
          regexp_extract(cleaned, '^' || event_type || ' value (.+?) from user (.+?)', 2) as var_2
        from c
    """


def q_parsed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 complete: the ParsedLog-shaped per-row output of the full
    pipeline (reference parser.py:285-297 / log_entry.py:80-125) —
    template_id + template_pattern + confidence + extracted variables +
    cache_hit, over the constructed event corpus."""
    from .pipeline import parsed_projection

    ev = _read(spark, sf_dir, "events")
    # r6: fan out the one-split scan + share the cleaned frame between
    # the discover/assign passes — per-row output needs both passes, so
    # the cleaned frame is cached rather than re-derived; the per-row
    # variable extraction downstream inherits the width
    lines = _fan_out(ev.select("event_id", event_log_line_col().alias("text")))
    cleaned = cluster.cleaned_frame(lines, "text").persist()
    pool = cluster.discover_templates_from_cleaned(cluster.pattern_counts(cleaned)).pool
    assigned = cluster.assign_templates(cleaned, "text", pool, pre_cleaned=True)
    parsed = parsed_projection(assigned, pool)
    return parsed.select(
        "event_id",
        "template_id",
        "template_pattern",
        e6(F.col("confidence"), "confidence_e6"),
        F.element_at("variables", "var_1").alias("var_1"),
        F.element_at("variables", "var_2").alias("var_2"),
        F.col("cache_hit").cast("bigint").alias("cache_hit"),
    )


def q_parsed_projection_sql(sf: str) -> str:
    # every constructed event line is valid and matches its own pattern:
    # template_pattern = the row's extracted pattern, confidence = the
    # discovery default 0.9, cache_hit = 1, vars from the lazy-group
    # unanchored-end regex (the reference's extract_variables quirks)
    cleaned = clean_sql(EVENT_LINE_SQL)
    return f"""
        with c as (select event_id, event_type, {cleaned} as cleaned from events),
        pat as (
          select event_id, event_type, cleaned,
                 case when {VALID_SQL.format(c='cleaned')}
                      then {PATTERN_SQL_BODY.format(c='cleaned')} else null end as pattern
          from c
        ),
        {tmpl_ids_cte('pat')}
        select event_id,
          coalesce(ids.tid, 'unknown') as template_id,
          coalesce(pat.pattern, cleaned) as template_pattern,
          cast(case when ids.tid is not null then 900000 else 0 end as bigint) as confidence_e6,
          regexp_extract(cleaned, '^' || event_type || ' value (.+?) from user (.+?)', 1) as var_1,
          regexp_extract(cleaned, '^' || event_type || ' value (.+?) from user (.+?)', 2) as var_2,
          cast(case when ids.tid is not null then 1 else 0 end as bigint) as cache_hit
        from pat left join ids on pat.pattern = ids.pattern
    """


def q_split_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (cleaner.py:128-148): split line into (timestamp, level,
    message-with-both-removed) — replace-all of the found timestamp, then
    case-insensitive word-boundary removal of the found level, strip."""
    from ..functions.cleaning import extract_timestamp_col

    ev = _read(spark, sf_dir, "events")
    line = F.concat_ws(
        " ", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), F.upper("event_type"),
        F.lit("happened for user"), F.col("user_id").cast("string"),
    )
    ts = extract_timestamp_col(line)
    level = extract_log_level_col(line)
    msg = F.when(ts.isNotNull(), F.replace(line, ts, F.lit(""))).otherwise(line)
    lvl_pattern = F.concat(F.lit("(?i)\\b"), level, F.lit("\\b"))
    msg = F.trim(
        F.when(level.isNotNull(), F.regexp_replace(msg, lvl_pattern, F.lit(""))).otherwise(msg)
    )
    return ev.select(
        "event_id",
        F.coalesce(ts, F.lit("NONE")).alias("ts_str"),
        F.coalesce(level, F.lit("NONE")).alias("level"),
        msg.alias("message"),
    )


def q_split_components_sql(sf: str) -> str:
    line = (
        "concat_ws(' ', strftime(ts, '%Y-%m-%d %H:%M:%S'), upper(event_type), "
        "'happened for user', cast(user_id as varchar))"
    )
    ts_pat = r"\d{4}-\d{2}-\d{2}[T\s]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?"
    lvl_pat = r"(?i)\b(TRACE|DEBUG|INFO|WARN|WARNING|ERROR|FATAL|CRITICAL)\b"
    return f"""
        with l as (select event_id, {line} as line from events),
        x as (
          select event_id, line,
            nullif(regexp_extract(line, '{ts_pat}'), '') as ts_str,
            nullif(upper(regexp_extract(line, '{lvl_pat}', 1)), '') as level
          from l
        )
        select event_id,
          coalesce(ts_str, 'NONE') as ts_str,
          coalesce(level, 'NONE') as level,
          trim(case when level is not null then
                 regexp_replace(
                   case when ts_str is not null then replace(line, ts_str, '') else line end,
                   '(?i)\\b' || level || '\\b', '', 'g')
               else case when ts_str is not null then replace(line, ts_str, '') else line end
          end) as message
        from x
    """


def q_per_sink_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink top-3 templates by count (window row_number — the
    per-sink report shape from SURVEY §2.8)."""
    counts = q_parse_route_agg(spark, sf_dir)
    w = Window.partitionBy("sink_id").orderBy(F.desc("doc_count"), "template_id")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("sink_id", "template_id", "doc_count", F.col("rnk").cast("bigint").alias("rnk"))
    )


def q_per_sink_topk_sql(sf: str) -> str:
    inner = q_parse_route_agg_sql(sf)
    return f"""
        with counts as ({inner})
        select sink_id, template_id, doc_count, rnk from (
          select *, row_number() over (partition by sink_id
                    order by doc_count desc, template_id) as rnk
          from counts
        ) where rnk <= 3
    """


# --- grok parse over constructed syslog-ish lines --------------------------

GROK_EXPR = (
    "%{TIMESTAMP_ISO8601:g_ts} %{LOGLEVEL:g_level} user=%{INT:g_user} "
    "%{WORD:g_action} value=%{NUMBER:g_val} from %{IP:g_ip}"
)

_LEVELS = ["INFO", "WARN", "ERROR", "DEBUG"]


def _grok_line_col() -> Column:
    level = F.element_at(
        F.array(*[F.lit(x) for x in _LEVELS]),
        ((F.col("event_id") % 4) + 1).cast("int"),
    )
    cents = F.round(F.col("value") * 100).cast("bigint").cast("string")
    ip = F.concat(
        F.lit("10."),
        (F.col("user_id") % 256).cast("string"),
        F.lit(".0."),
        (F.col("event_id") % 256).cast("string"),
    )
    return F.concat_ws(
        " ",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        level,
        F.concat(F.lit("user="), F.col("user_id").cast("string")),
        F.col("event_type"),
        F.concat(F.lit("value="), cents),
        F.lit("from"),
        ip,
    )


GROK_LINE_SQL = (
    "concat_ws(' ', strftime(ts, '%Y-%m-%d %H:%M:%S'), "
    "(['INFO','WARN','ERROR','DEBUG'])[(event_id % 4) + 1], "
    "'user=' || user_id::varchar, event_type, "
    "'value=' || cast(round(value * 100) as bigint)::varchar, 'from', "
    "'10.' || (user_id % 256)::varchar || '.0.' || (event_id % 256)::varchar)"
)


def q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok-pattern parsing (the north rule's 'grok/regex parse'): one
    compiled regex, per-field JVM regexp_extract, RE2-compatible so the
    DuckDB oracle extracts with the identical pattern + group indexes."""
    from ..functions.grok import grok_columns

    ev = _read(spark, sf_dir, "events")
    return ev.select("event_id", _grok_line_col().alias("_line")).select(
        "event_id", *grok_columns(F.col("_line"), GROK_EXPR)
    )


def q_grok_parse_sql(sf: str) -> str:
    from ..functions.grok import grok_sql

    return f"""
        with l as (select event_id, {GROK_LINE_SQL} as line from events)
        select event_id, {grok_sql(GROK_EXPR, 'line')} from l
    """


# --- PII redaction over deterministically augmented text ------------------
# (the synthetic documents carry no PII, so — like the planted embedding
# dups — every 5th doc gets a deterministic email + IP + phone appended
# in BOTH engines; the redaction chain is then verified byte-for-byte
# via md5 of the redacted text)

PII_AUG_SQL = (
    "text || case when doc_id % 5 = 0 then ' contact user' || doc_id::varchar "
    "|| '@mail.example.com from 10.' || (doc_id % 256)::varchar "
    "|| '.0.1 or call 555-123-4567' else '' end"
)


def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    extra = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 or call 555-123-4567"),
    )
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.when(F.col("doc_id") % 5 == 0, extra).otherwise(F.lit(""))
        ).alias("aug"),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (training-data hygiene): chained email/IP/phone
    redaction, RE2-compatible patterns identical across engines; output
    anchored by the md5 of the redacted text + per-kind match counts."""
    from ..functions.quality import pii_count_col, redact_pii_col

    aug = _pii_augmented(spark, sf_dir)
    return aug.select(
        "doc_id",
        F.md5(redact_pii_col(F.col("aug"))).alias("redacted_hash"),
        pii_count_col(F.col("aug"), "email").alias("n_emails"),
        pii_count_col(F.col("aug"), "ip").alias("n_ips"),
        pii_count_col(F.col("aug"), "phone").alias("n_phones"),
    )


def q_pii_redact_sql(sf: str) -> str:
    from ..functions.quality import pii_count_sql, pii_redact_sql

    return f"""
        with aug as (select doc_id, {PII_AUG_SQL} as aug from documents)
        select doc_id,
          md5({pii_redact_sql('aug')}) as redacted_hash,
          {pii_count_sql('aug', 'email')} as n_emails,
          {pii_count_sql('aug', 'ip')} as n_ips,
          {pii_count_sql('aug', 'phone')} as n_phones
        from aug
    """


_GOPHER_SEED_SQL = """
    select doc_id, concat_ws(chr(10),
      'the corpus reads ' || text || ' today',
      case when doc_id % 2 = 0
           then 'it is the way of that and to be done with care' end,
      case when doc_id % 15 = 0
           then repeat('• bullet item row' || chr(10), 40) end,
      case when doc_id % 7 = 0
           then 'to be continued...' || chr(10) || 'and more to come...' end,
      case when doc_id % 11 = 0
           then '### ### ### ### ### ### ### ###' end,
      case when doc_id % 13 = 0
           then '12 34 56 78 90 11 22 33 44 55 66 77 88 99 10 20 30 40 50 60' end,
      case when doc_id % 17 = 0
           then repeat('pneumonoultramicroscopicsilico ', 30) end
    ) as t from documents
"""


def _gopher_seed_col() -> Column:
    """Spark twin of _GOPHER_SEED_SQL's text expression: each rule class
    is tripped by a deterministic doc_id residue so every ok_* flag has
    both verdicts in the corpus (the 100k upper word bound excepted —
    unreachable at sf scale, noted in the query docstring)."""
    d = F.col("doc_id")
    return F.concat_ws(
        "\n",
        F.concat(F.lit("the corpus reads "), F.col("text"), F.lit(" today")),
        F.when(d % 2 == 0, F.lit("it is the way of that and to be done with care")),
        F.when(d % 15 == 0, F.repeat(F.lit("• bullet item row\n"), 40)),
        F.when(d % 7 == 0, F.lit("to be continued...\nand more to come...")),
        F.when(d % 11 == 0, F.lit("### ### ### ### ### ### ### ###")),
        F.when(
            d % 13 == 0,
            F.lit("12 34 56 78 90 11 22 33 44 55 66 77 88 99 10 20 30 40 50 60"),
        ),
        F.when(d % 17 == 0, F.repeat(F.lit("pneumonoultramicroscopicsilico "), 30)),
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021 A1.1;
    functions/quality.py:gopher_signal_cols/gopher_rule_cols) over a
    SEEDED multi-line corpus: base word-soup line plus residue-class
    trip lines — stopword-rich (mod 2), 40-line bullet block (mod 15),
    ellipsis-ended lines (mod 7), hash symbols (mod 11), numeric
    non-alpha words (mod 13), 30-char words pushing mean length past 10
    (mod 17) — so every rule flag carries BOTH verdicts at sf0.01
    except the 100k max-words bound (unreachable at sf scale). All
    signals and verdicts are integer arithmetic, pure JVM, zero
    exchanges; the DuckDB oracle is generated by the same module
    (gopher_sql) so the formulations cannot drift."""
    from ..functions.quality import GOPHER_OUT_COLS, gopher_rule_cols, gopher_signal_cols

    d = _read(spark, sf_dir, "documents").select("doc_id", _gopher_seed_col().alias("t"))
    # staged selects, NOT one projection: each rule references several
    # signals and `keep` references all seven, so inlining the signal
    # expressions would re-run the token pipeline ~15× per row (a first
    # cut did exactly that and read 5.1s at sf0.1 vs 0.9s staged —
    # Catalyst's CollapseProject keeps a projection boundary when it
    # would duplicate expensive expressions, so name the signals first
    # and build rules from column refs)
    sig = gopher_signal_cols(F.col("t"))
    with_sig = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        *[v.alias(k) for k, v in sig.items()],
    )
    rules = gopher_rule_cols({k: F.col(k) for k in sig})
    return with_sig.select(
        "doc_id",
        *[c for c in GOPHER_OUT_COLS if c in sig],
        *[rules[c].alias(c) for c in GOPHER_OUT_COLS if c in rules],
    )


def q_gopher_rules_sql(sf: str) -> str:
    from ..functions.quality import gopher_sql

    return gopher_sql(_GOPHER_SEED_SQL, text_col="t", id_col="doc_id")


_GOPHER_REP_SEED_SQL = """
    select doc_id,
      'intro paragraph about ' || text
      || case when doc_id % 2 = 0 then chr(10) || 'repeated filler line right here'
              || chr(10) || 'repeated filler line right here' else '' end
      || case when doc_id % 5 = 0 then chr(10) || repeat('click here ', 12) else '' end
      || case when doc_id % 7 = 0 then chr(10) || repeat('terms of service ', 10) else '' end
      || case when doc_id % 3 = 0 then chr(10) || chr(10) || 'duplicated paragraph body'
              || chr(10) || chr(10) || 'duplicated paragraph body' else '' end
      as t from documents
"""


def _gopher_rep_seed_col() -> Column:
    """Spark twin of _GOPHER_REP_SEED_SQL: duplicate-line pair (mod 2),
    dominating 2-gram (mod 5) and 3-gram (mod 7) repeats inside the
    first paragraph, and a duplicated stand-alone paragraph (mod 3,
    appended LAST so gram repeats can't make the two copies differ)."""
    d = F.col("doc_id")
    return F.concat(
        F.lit("intro paragraph about "),
        F.col("text"),
        F.when(
            d % 2 == 0,
            F.lit(
                "\nrepeated filler line right here"
                "\nrepeated filler line right here"
            ),
        ).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit("\n"), F.repeat(F.lit("click here "), 12)))
        .otherwise(F.lit("")),
        F.when(
            d % 7 == 0, F.concat(F.lit("\n"), F.repeat(F.lit("terms of service "), 10))
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.lit("\n\nduplicated paragraph body\n\nduplicated paragraph body"),
        ).otherwise(F.lit("")),
    )


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher A1.2 repetition rules (functions/quality.py:
    gopher_repetition): duplicate-line / duplicate-paragraph count and
    char-mass rules plus top 2-/3-gram char-mass rules, all integer
    arithmetic, over a SEEDED corpus whose residue classes trip each
    rule family (see _gopher_rep_seed_col). Completes the published
    Gopher filter together with `gopher_rules` (A1.1). Pure map-side
    per-document work — O(L²) in the doc's token count, no shuffle;
    oracle generated by the same module (gopher_repetition_sql)."""
    from ..functions.quality import gopher_repetition

    # the sf documents table is ONE parquet file = one input split; the
    # per-doc fold work is the cost here, so spread it 32 ways (same
    # rationale as image_features_agg — on a real corpus the splits
    # provide this for free and the repartition is unnecessary)
    d = (
        _read(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            _gopher_rep_seed_col().alias("t"),
        )
        # r6: session parallelism, not a constant (scale-adaptive width)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    return gopher_repetition(d, "doc_id", "t")


def q_gopher_repetition_sql(sf: str) -> str:
    from ..functions.quality import gopher_repetition_sql

    return gopher_repetition_sql(_GOPHER_REP_SEED_SQL, text_col="t", id_col="doc_id")


_C4_SEED_SQL = """
    select doc_id, concat_ws(chr(10),
      'The article explains ' || substr(text, 1, 60) || ' clearly.',
      'Second sentence adds more interesting detail for readers.',
      case when doc_id % 9 <> 0
           then 'A third sentence closes the excerpt nicely.' end,
      case when doc_id % 2 = 0 then 'Short line.' end,
      case when doc_id % 3 = 0
           then 'this line has no terminal punctuation at all' end,
      case when doc_id % 4 = 0
           then 'Please enable javascript to continue reading now.' end,
      case when doc_id % 5 = 0
           then 'lorem ipsum dolor sit amet consectetur.' end,
      case when doc_id % 7 = 0 then 'var x = { a: 1 };' end
    ) as t from documents
"""


def _c4_seed_col() -> Column:
    """Spark twin of _C4_SEED_SQL: two always-kept sentences, a third
    withheld at mod 9 (page then fails the 3-sentence floor), and one
    trip line per C4 rule class — too-few-words (mod 2), no terminal
    punctuation (mod 3), the word javascript (mod 4), page-poison
    lorem ipsum (mod 5, its LINE is individually valid — pins that the
    page rule reads the raw page), curly brace (mod 7, its line also
    fails the punctuation rule)."""
    d = F.col("doc_id")
    return F.concat_ws(
        "\n",
        F.concat(
            F.lit("The article explains "),
            F.substring(F.col("text"), 1, 60),
            F.lit(" clearly."),
        ),
        F.lit("Second sentence adds more interesting detail for readers."),
        F.when(d % 9 != 0, F.lit("A third sentence closes the excerpt nicely.")),
        F.when(d % 2 == 0, F.lit("Short line.")),
        F.when(d % 3 == 0, F.lit("this line has no terminal punctuation at all")),
        F.when(d % 4 == 0, F.lit("Please enable javascript to continue reading now.")),
        F.when(d % 5 == 0, F.lit("lorem ipsum dolor sit amet consectetur.")),
        F.when(d % 7 == 0, F.lit("var x = { a: 1 };")),
    )


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/page cleaning (Raffel et al. 2020 §2.2;
    functions/quality.py:c4_kept_lines/c4_stats_cols) over a SEEDED
    multi-line corpus (see _c4_seed_col for the trip classes). Line
    rules: terminal punctuation, >=5 words, no 'javascript'; page
    rules on the RAW page: 'lorem ipsum', '{', and a >=3-sentence
    floor on the retained text. clean_md5 anchors the retained text
    byte-for-byte cross-engine (removal positions AND order); the
    corpus-level three-sentence-span dedup half of C4 is the separate
    exact_substring operator. Pure JVM chain, zero exchanges; oracle
    generated by the same module (c4_sql)."""
    from ..functions.quality import c4_clean_frame

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), _c4_seed_col().alias("t")
    )
    return c4_clean_frame(d, "doc_id", "t")


def q_c4_clean_sql(sf: str) -> str:
    from ..functions.quality import c4_sql

    return c4_sql(_C4_SEED_SQL, text_col="t", id_col="doc_id")


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token fraction and
    top-token frequency share."""
    from ..functions.quality import dup_token_fraction, top_token_fraction
    from ..functions.text import ws_tokens

    # r6: single-consumer per-doc fold chain over the one-split scan —
    # the _fan_out winning shape (cf. main_content/decontaminate)
    d = _fan_out(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = ws_tokens(F.col("text"))
    return d.select(
        "doc_id",
        e6(dup_token_fraction(toks), "dup_frac_e6"),
        e6(top_token_fraction(toks), "top_frac_e6"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )


def q_repetition_signals_sql(sf: str) -> str:
    tk = TOKENS_SQL.format(c="text")
    return f"""
        with t as (select doc_id, {tk} as tk from documents)
        select doc_id,
          cast(round(case when len(tk) > 0
            then (1.0 - len(list_distinct(tk))::double / len(tk)) * 1000000
            else 0.0 end) as bigint) as dup_frac_e6,
          cast(round(case when len(tk) > 0
            then list_max(list_transform(list_distinct(tk),
                   u -> len(list_filter(tk, x -> x = u))))::double / len(tk) * 1000000
            else 0.0 end) as bigint) as top_frac_e6,
          cast(len(tk) as bigint) as n_tokens
        from t
    """


def q_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join rollup."""
    r = _read(spark, sf_dir, "region")
    n = _read(spark, sf_dir, "nation")
    c = _read(spark, sf_dir, "customer")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            e2(F.sum("c_acctbal"), "acctbal_e2"),
            F.countDistinct("n_name").cast("bigint").alias("nations"),
        )
    )


def q_region_rollup_sql(sf: str) -> str:
    return """
        select r_name, count(*) as customers,
               cast(round(sum(c_acctbal) * 100) as bigint) as acctbal_e2,
               count(distinct n_name) as nations
        from customer
        join nation on c_nationkey = n_nationkey
        join region on n_regionkey = r_regionkey
        group by r_name
    """


def q_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-substring dedup (operators/dedup.py:
    exact_substring_dedup — ExactSubstr from Lee et al. 2022, the
    training-data cleanup the n-gram/MinHash family cannot express:
    SPAN-level removal, not document-level): every run of >=5 tokens
    occurring more than once anywhere in the corpus loses all but its
    globally-first occurrence. Per doc: (n_tokens, n_dup_tokens, md5 of
    the span-removed text) — the md5 makes removal positions and
    first-occurrence ties cross-engine verifiable, not just counts."""
    from ..operators.dedup import exact_substring_dedup

    d = _read(spark, sf_dir, "documents")
    out = exact_substring_dedup(d, "doc_id", "text", k=5)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        "n_dup_tokens",
        F.md5("text_dedup").alias("dedup_md5"),
    )


def q_exact_substring_sql(sf: str) -> str:
    return """
        with toks as (
          select doc_id, unnest(string_split(coalesce(text,''),' ')) as tok,
                 generate_subscripts(string_split(coalesce(text,''),' '),1) as pos,
                 len(string_split(coalesce(text,''),' ')) as n_tokens
          from documents
        ),
        grams as (
          select a.doc_id, a.pos, md5(string_agg(b.tok,' ' order by b.pos)) as h
          from toks a join toks b
            on b.doc_id = a.doc_id and b.pos between a.pos and a.pos+4
          group by a.doc_id, a.pos having count(*) = 5
        ),
        ranked as (
          select doc_id, pos,
                 count(*) over (partition by h) as cnt,
                 row_number() over (partition by h order by doc_id, pos) as rk
          from grams
        ),
        dupw as (select doc_id, pos as s, pos+4 as e
                 from ranked where cnt >= 2 and rk > 1),
        isl as (
          select doc_id, s, e,
                 case when s > coalesce(max(e) over (partition by doc_id
                      order by s rows between unbounded preceding and 1 preceding),
                      -1) then 1 else 0 end as ng
          from dupw
        ),
        grp as (select doc_id, s, e,
                       sum(ng) over (partition by doc_id order by s
                                     rows unbounded preceding) as g
                from isl),
        iv as (select doc_id, min(s) as s, max(e) as e from grp group by doc_id, g),
        covered as (select doc_id, unnest(generate_series(s, e)) as pos from iv)
        select t.doc_id, cast(max(t.n_tokens) as bigint) as n_tokens,
               cast(count(c.pos) as bigint) as n_dup_tokens,
               md5(coalesce(string_agg(case when c.pos is null then t.tok end,
                                       ' ' order by t.pos), '')) as dedup_md5
        from toks t left join covered c on c.doc_id = t.doc_id and c.pos = t.pos
        group by t.doc_id
    """


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MP4/MP3 container demux over a SEEDED media corpus
    (operators/media.py — the container half of the r4 "MP3/MP4
    library-gated" gap, closed natively): one deterministic MP4 (even
    doc_id) or MP3 (odd doc_id) payload per documents row, encoded AND
    demuxed distributed (mapInPandas over a pruned (id, binary)
    projection, explicit 32-way spread past the single-file sf table),
    one unified metadata row per payload.

    Full DuckDB oracle via the pinning pattern: the synthesizers'
    metadata is closed-form in doc_id (see make_synth_mp4/make_synth_mp3
    docstrings), so the oracle derives every column arithmetically while
    Spark must round-trip box-writer → box-walker (MP4) and
    frame-writer → frame-walker (MP3) to reproduce it — a wrong
    fixed-point shift, box traversal, or frame-length formula breaks the
    hash."""
    from ..operators.media import media_metadata, synth_media_corpus

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    media_corpus = synth_media_corpus(d, "doc_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return media_metadata(media_corpus, "doc_id", "media")


def q_media_metadata_sql(sf: str) -> str:
    return """
        with base as (
          select doc_id,
                 20 + doc_id % 40 as nf,
                 case doc_id % 3 when 0 then 44100 when 1 then 48000
                      else 32000 end as sr,
                 1 + (doc_id % 4) // 2 as mp4_streams
          from documents
        )
        select doc_id,
          case when doc_id % 2 = 0 then 'mp4' else 'mp3' end as container,
          cast(case when doc_id % 2 = 0 then 1500 + doc_id % 700
               else (nf * 1152 * 1000) // sr end as bigint) as duration_ms,
          cast(case when doc_id % 2 = 0 then mp4_streams else 1 end
               as bigint) as n_streams,
          case when doc_id % 2 = 0 then 'avc1' else 'mp3' end as codec,
          cast(case when doc_id % 2 = 0
               then (10 + doc_id % 20)
                    + case when mp4_streams = 2 then 30 + doc_id % 25 else 0 end
               else nf * 1152 end as bigint) as n_samples,
          cast(case when doc_id % 2 = 0
               then case when mp4_streams = 2
                    then 44100 + ((doc_id // 2) % 2) * 3900 else 0 end
               else sr end as bigint) as sample_rate,
          cast(case when doc_id % 2 = 0 then 0
               when doc_id % 4 = 3
               then (128 * ((nf + 1) // 2) + 192 * (nf // 2)) // nf
               else case doc_id % 3 when 0 then 128 when 1 then 192
                    else 256 end end as bigint) as bitrate_kbps,
          cast(case when doc_id % 2 = 0 then 16 * (1 + doc_id % 8) else 0 end
               as bigint) as width,
          cast(case when doc_id % 2 = 0 then 16 * (1 + doc_id % 6) else 0 end
               as bigint) as height
        from base
    """


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MPEG-1 Layer II PCM decode over a SEEDED audio corpus
    (operators/mpeg_audio.py — the audio-PAYLOAD half of the r4
    "MP3/MP4 library-gated" gap, closed natively like JPEG closed the
    image half): one REAL Layer II stream per documents row
    (make_synth_mp2_audio, a pure tone centered in subband
    3 + doc_id % 12), encoded AND entropy-decoded distributed
    (two chained mapInPandas stages over a pruned id projection, 32-way
    spread past the single-file sf table), one stats row per payload.

    Full DuckDB oracle via the pinning pattern, one level deeper than
    media_metadata's demux pin: the reported ``dominant_subband`` is the
    argmax of DECODED subband energy, so reproducing the closed-form
    3 + doc_id % 12 requires the whole codec round trip — filterbank
    analysis, bit allocation, scalefactor/scfsi coding, grouped-code
    packing, then the decoder's independent parse and dequantization.
    A bug anywhere in that chain moves energy to the wrong subband (or
    raises) and breaks the hash."""
    from ..operators.media import audio_decode_stats, synth_audio_corpus

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    # r6: persist the synthetic INPUT corpus (the encoder half) so the
    # steady-state passes measure the decode under test, not the input
    # construction — the ensure_flagship_corpus convention, in-memory
    corpus = synth_audio_corpus(d, "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
    return audio_decode_stats(corpus, "doc_id", "audio")


def q_audio_decode_sql(sf: str) -> str:
    return """
        select doc_id,
               cast(case doc_id % 3 when 0 then 44100 when 1 then 48000
                    else 32000 end as bigint) as sample_rate,
               cast(1 as bigint) as nch,
               cast((2 + doc_id % 3) * 1152 as bigint) as n_samples,
               cast(3 + doc_id % 12 as bigint) as dominant_subband
        from documents
    """


PAGERANK_ITERATIONS = 4


def _pagerank_edges_cte() -> str:
    """DuckDB edge generator mirroring q_pagerank's Spark-side synth:
    node u links to (u·7 + 3j + 1) mod N for j = 0..(u mod 3), so every
    page has 1-3 deterministic out-links and outdeg is closed-form."""
    return """
        select d.doc_id as src,
               (d.doc_id * 7 + 3 * j.j + 1)
                 % (select count(*) from documents) as dst,
               1 + d.doc_id % 3 as outdeg
        from documents d, generate_series(0, 2) as j(j)
        where j.j <= d.doc_id % 3
    """


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-arithmetic PageRank (operators/graph.py) over a SEEDED
    link graph on the documents table: node u links to
    (u·7 + 3j + 1) mod N for j = 0..(u mod 3). Four damped iterations
    (d = 85/100, scale 10⁹) entirely in int64 — per-edge contributions
    are floor divisions and per-node inflow is an integer sum, so the
    result is bit-exact under any partitioning and any engine: the
    DuckDB oracle unrolls the same four iterations as CTEs
    (graph.pagerank_oracle_sql, generated by the same module so the two
    formulations cannot drift) and the driver hash must match exactly —
    no tolerance, unlike float PageRank where distributed sum order
    makes exact comparison impossible."""
    from ..operators.graph import pagerank_integer

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    n = d.count()  # bounded driver scalar (node count)
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3)).alias("j"),
        )
        .select(
            "src",
            ((F.col("src") * 7 + F.col("j") * 3 + 1) % F.lit(n)).alias("dst"),
        )
    )
    ranks = pagerank_integer(edges, nodes=d, iterations=PAGERANK_ITERATIONS)
    return ranks.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("pr").cast("bigint").alias("pr"),
    )


def q_pagerank_sql(sf: str) -> str:
    from ..operators.graph import pagerank_oracle_sql

    inner = pagerank_oracle_sql(
        "documents", "doc_id", _pagerank_edges_cte(),
        iterations=PAGERANK_ITERATIONS,
    )
    return f"select node as doc_id, pr from ({inner})"


def _triangle_edges_cte() -> str:
    """DuckDB edge generator mirroring q_triangle_count's Spark synth:
    ring edges u→(u+1)%N and u→(u+2)%N (every consecutive triple closes
    a triangle) plus hub edges u→0 for even u>0 (node 0's degree is
    ~N/2 — real skew for the degree-ordered orientation to absorb; each
    even u also closes the triangle {0, u, u+2})."""
    return """
        select d.doc_id as src,
               (d.doc_id + k.k) % (select count(*) from documents) as dst
        from documents d, (values (1), (2)) as k(k)
        union all
        select d.doc_id as src, 0 as dst
        from documents d where d.doc_id % 2 = 0 and d.doc_id > 0
    """


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.py:triangle_counts —
    degree-ordered node-iterator, wedges only at an edge pair's
    lower-ordered endpoint so hub skew never squares on one reducer)
    over a SEEDED graph on documents: ring edges u→u+1, u→u+2 (mod N)
    make every consecutive triple a triangle, and hub edges u→0 for
    even u>0 give node 0 degree ~N/2 — the skew case the orientation
    exists for — closing {0, u, u+2} triangles at even u. The DuckDB
    oracle counts triangles with the NAIVE id-ordered triple join
    (graph.triangle_oracle_sql) — an independent algebra, so agreement
    validates the orientation trick rather than restating it."""
    from ..operators.graph import triangle_counts

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    n = d.count()  # bounded driver scalar (node count)
    ring = d.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("k"),
    ).select("src", ((F.col("src") + F.col("k")) % F.lit(n)).alias("dst"))
    hub = (
        d.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") > 0))
        .select(F.col("doc_id").alias("src"), F.lit(0).cast("long").alias("dst"))
    )
    out = triangle_counts(ring.unionAll(hub), nodes=d)
    return out.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("degree").cast("bigint").alias("degree"),
        F.col("triangles").cast("bigint").alias("triangles"),
    )


def q_triangle_count_sql(sf: str) -> str:
    from ..operators.graph import triangle_oracle_sql

    inner = triangle_oracle_sql("documents", "doc_id", _triangle_edges_cte())
    return f"select node as doc_id, degree, triangles from ({inner})"


REDIRECT_MAX_HOPS = 8


def _redirect_edges_cte() -> str:
    """DuckDB edge generator mirroring q_redirect_resolve's Spark synth:
    within each group of 7 consecutive doc_ids, residue 0 is terminal,
    residues 1-3 chain down one step each (chains of length 1-3 ending
    at the group's residue-0 terminal), residues 4 and 5 form a 2-cycle
    (4→5→4), and residue 6 leads INTO that cycle (6→4) — so cycles and
    cycle lead-ins both exercise the unresolved branch. The residue-4
    edge is emitted only when its target exists (tail group guard)."""
    return """
        select doc_id as src,
               case when doc_id % 7 in (1, 2, 3) then doc_id - 1
                    when doc_id % 7 = 4 then doc_id + 1
                    when doc_id % 7 = 5 then doc_id - 1
                    when doc_id % 7 = 6 then doc_id - 2 end as dst
        from documents
        where doc_id % 7 <> 0
          and not (doc_id % 7 = 4
                   and doc_id + 1 >= (select count(*) from documents))
    """


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (operators/graph.py:resolve_redirects —
    pointer doubling, ceil(log2(max_hops)) co-partitioned self-join
    rounds TOTAL regardless of corpus size) over a SEEDED functional
    redirect graph on documents: per 7-id group, residue 0 is terminal,
    residues 1-3 chain down to it (hops 1-3), residues 4-5 form a
    2-cycle and residue 6 leads into that cycle — so the output carries
    both verdict classes (resolved with exact hop counts / unresolved
    with NULL final) at sf0.01 AND sf0.1. The DuckDB oracle chases the
    same chains LINEARLY (one hop per recursive-CTE step,
    graph.redirect_oracle_sql, generated by the same module) — an
    independent algebra, so agreement validates the doubling composition
    arithmetic (cur/hops/done) rather than restating it. Budget
    semantics are the crawler's: anything not terminated within
    max_hops = 8 hops reports resolved = false, cycles included."""
    from ..operators.graph import resolve_redirects

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    n = d.count()  # bounded driver scalar (node count)
    m = F.col("doc_id") % 7
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.when(m.isin(1, 2, 3, 5), F.col("doc_id") - 1)
            .when((m == 4) & (F.col("doc_id") + 1 < F.lit(n)), F.col("doc_id") + 1)
            .when(m == 6, F.col("doc_id") - 2)
            .alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    out = resolve_redirects(edges, nodes=d, max_hops=REDIRECT_MAX_HOPS)
    return out.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("final").cast("bigint").alias("final_id"),
        F.col("hops").cast("bigint").alias("hops"),
        F.col("resolved").alias("resolved"),
    )


def q_redirect_resolve_sql(sf: str) -> str:
    from ..operators.graph import redirect_oracle_sql

    inner = redirect_oracle_sql(
        "documents", "doc_id", _redirect_edges_cte(), max_hops=REDIRECT_MAX_HOPS
    )
    return (
        "select node as doc_id, final as final_id, hops, resolved "
        f"from ({inner})"
    )


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/web.py) over SEEDED messy crawl
    URLs: each documents row gets a deterministic URL whose spelling
    varies by doc_id — upper/lower scheme (mod 2), upper/lower host
    (mod 3), explicit :443 default port (mod 4), utm tracking params
    (mod 2), fragment (mod 5) — while the canonical form is the SAME
    closed-form string for every variation class. The Spark side runs
    the real canonicalizer chain (trim, case-fold scheme+authority
    only, default-port strip, fragment strip, tracking-param removal
    with separator tidy-up) plus host/registrable-domain extraction;
    the DuckDB oracle derives the expected canonical string
    arithmetically from (doc_id, source) — so any regex-chain bug on
    any variation class breaks the hash. Adversarial single-URL cases
    (multipart ccTLD domains, userinfo, schemeless inputs) are pinned
    in tests/test_web.py."""
    from ..functions.web import canonicalize_url, host_of, registrable_domain

    d = _read(spark, sf_dir, "documents").select("doc_id", "source")
    sid = F.col("doc_id").cast("string")
    messy = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".example.com"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Articles/"),
        sid,
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("?utm_source=feed&id="), sid, F.lit("&utm_campaign=x")),
        ).otherwise(F.concat(F.lit("?id="), sid)),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    canon = canonicalize_url(messy)
    host = host_of(canon)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        canon.alias("canon_url"),
        host.alias("host"),
        registrable_domain(host).alias("domain"),
    )


def q_url_canonicalize_sql(sf: str) -> str:
    return """
        select doc_id,
               'https://' || source || '.example.com/Articles/'
                 || cast(doc_id as varchar) || '?id=' || cast(doc_id as varchar)
                 as canon_url,
               source || '.example.com' as host,
               'example.com' as domain
        from documents
    """


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML text extraction (functions/html.py) over SEEDED markup: each
    documents row is rendered into a full page — head with entity-bearing
    title and a meta tag whose attribute order flips by doc_id, body with
    a comment (mod 4), a script block (mod 2) and a style block (mod 3)
    that must NOT leak into the text, the doc text in a <p>, and
    (doc_id mod 3 + 1) anchor links whose hrefs carry an &amp; entity.
    The Spark side runs the real extractor chain (content-drop, block
    breaks, tag strip, entity decode, whitespace collapse) plus title /
    links / meta extraction; the DuckDB oracle derives every expected
    value arithmetically from (doc_id, text, source) — the rendered text,
    link count, first decoded href and meta content are all closed-form —
    so a regex bug on any variation class breaks the hash. Single-page
    adversarial pins (uppercase tags, &amp;lt; double-escape, bare hrefs,
    attribute-order-flipped meta) live in tests/test_html.py."""
    from ..functions.html import html_links, html_meta, html_title, html_to_text

    d = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    html = F.encode(_seeded_page_col(), "UTF-8")  # the input_hint column is binary
    text_col = F.decode(html, "UTF-8")
    lk = html_links(text_col)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        html_title(text_col).alias("title"),
        html_to_text(text_col).alias("body_text"),
        F.size(lk).cast("bigint").alias("n_links"),
        F.element_at(lk, 1).alias("first_link"),
        html_meta(text_col, "author").alias("author"),
    )


def _seeded_page_col():
    """The shared seeded full-page column over (doc_id, text, source) —
    used by q_html_extract AND q_html_template_cluster so their oracles
    describe the same markup."""
    sid = F.col("doc_id").cast("string")
    amp = F.when(F.col("doc_id") % 2 == 0, F.lit("&#38;")).otherwise(F.lit("&amp;"))
    meta = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<meta name="author" content="writer '),
            (F.col("doc_id") % 7).cast("string"),
            F.lit('">'),
        ),
    ).otherwise(
        F.concat(
            F.lit('<meta content="writer '),
            (F.col("doc_id") % 7).cast("string"),
            F.lit('" name="author">'),
        )
    )
    links = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.col("doc_id") % 3),
            lambda j: F.concat(
                F.lit('<div><a href="https://'),
                F.col("source"),
                F.lit(".example.com/p/"),
                sid,
                F.lit("?a=1&amp;j="),
                j.cast("string"),
                F.lit('">more</a></div>'),
            ),
        ),
    )
    page = F.concat(
        F.lit("<html><head><title>Doc "),
        amp,
        F.lit(" "),
        sid,
        F.lit("</title>"),
        meta,
        F.lit("</head><body>"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("<!-- hidden <b>c</b> -->")).otherwise(
            F.lit("")
        ),
        F.lit("<h1>Doc "),
        amp,
        F.lit(" "),
        sid,
        F.lit("</h1>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit('<SCRIPT>var x = "<p>not text</p>";</SCRIPT>'),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("<style>body { color: red; }</style>")
        ).otherwise(F.lit("")),
        F.lit("<p>"),
        F.col("text"),
        F.lit("</p><p>end of "),
        F.col("source"),
        F.lit("</p>"),
        links,
        F.lit("</body></html>"),
    )
    return page


def q_html_extract_sql(sf: str) -> str:
    return """
        select doc_id,
               'Doc & ' || cast(doc_id as varchar) as title,
               'Doc & ' || cast(doc_id as varchar) || chr(10) || text
                 || chr(10) || 'end of ' || source
                 || repeat(chr(10) || 'more', cast(doc_id % 3 + 1 as int))
                 as body_text,
               doc_id % 3 + 1 as n_links,
               'https://' || source || '.example.com/p/'
                 || cast(doc_id as varchar) || '?a=1&j=0' as first_link,
               'writer ' || cast(doc_id % 7 as varchar) as author
        from documents
    """


def q_html_template_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template clustering by tag-skeleton fingerprint
    (functions/html.py html_tag_fingerprint) over the SAME seeded page
    family as ``html_extract``.

    The CMS-template detection move: pages rendered from one template
    share their tag sequence even when every word differs, so one
    md5-groupBy clusters a 10^12-page crawl into its templates — a
    partially-aggregable single shuffle over (fingerprint) with the
    skeleton computed in the scan stage. On this corpus the skeleton
    varies ONLY by the script axis (doc_id%2) and the style/link axis
    (doc_id%3) — six classes — while the comment axis (%4), meta
    attribute order (%2), entity spelling and the whole text column
    must collapse: the DuckDB oracle builds each class's expected tag
    sequence closed-form, md5s it, and derives the class sizes
    arithmetically, so a tag missed (comment/script content leaking
    in) or over-dropped (real structure lost) breaks the hash.
    """
    from ..functions.html import html_tag_fingerprint, html_tag_seq

    d = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    page = _seeded_page_col()
    clustered = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        html_tag_fingerprint(page).alias("fp"),
        html_tag_seq(page).alias("seq"),
    )
    return clustered.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.min("doc_id").alias("example_doc"),
        F.size(F.split(F.min("seq"), ">")).cast("bigint").alias("n_tags"),
    )


def q_html_template_cluster_sql(sf: str) -> str:
    return """
        with skel as (
          select doc_id,
                 'html>head>title>/title>meta>/head>body>h1>/h1'
                 || case when doc_id % 2 = 0 then '>script>/script' else '' end
                 || case when doc_id % 3 = 0 then '>style>/style' else '' end
                 || '>p>/p>p>/p'
                 || repeat('>div>a>/a>/div', cast(doc_id % 3 + 1 as int))
                 || '>/body>/html' as seq
          from documents
        )
        select md5(seq) as fp,
               count(*)::BIGINT as n_pages,
               min(doc_id)::BIGINT as example_doc,
               (len(string_split(min(seq), '>')))::BIGINT as n_tags
        from skel
        group by 1
    """


CDC_FOOTER_A = " | subscribe to the "
CDC_FOOTER_B = (
    " newsletter for updates and the daily morning digest delivered to "
    "every reader every single day without fail"
)


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup (operators/chunking.py): the top
    duplicated chunks of a corpus whose every page carries a per-source
    boilerplate footer — the storage-dedup shape (rsync/LBFS/backup
    chunk stores): rolling-hash boundaries realign after any edit, so
    the shared footer chunks dedupe across documents even though every
    page's PREFIX differs.

    Scale shape: boundary detection is a per-row map (Arrow-vectorized
    sliding-window product, equality-tested against the pure-JVM
    expression path); the only shuffle is the chunk-md5 groupBy,
    partially aggregable. The DuckDB oracle regenerates the ENTIRE
    chunker (`cdc_chunks_sql` — same module, zero drift) and recomputes
    every boundary, so a hash/window/cut bug anywhere breaks it. Output
    is the deterministic top-15 by (occurrences desc, md5 asc): the
    footer-internal chunks dominate (one 90-char chunk appears once per
    document), with organic short-window dups behind them.
    """
    from ..operators.chunking import cdc_chunks

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "source"
    )
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(CDC_FOOTER_A), F.col("source"), F.lit(CDC_FOOTER_B)
        ).alias("s"),
    )
    ch = cdc_chunks(seeded, "doc_id", "s", impl="arrow")
    return (
        ch.groupBy(
            F.md5(F.encode("chunk", "UTF-8")).alias("chunk_md5"),
            F.length("chunk").cast("bigint").alias("chunk_len"),
        )
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_occ") >= 2)
        .orderBy(F.desc("n_occ"), F.asc("chunk_md5"))
        .limit(15)
    )


def q_cdc_dedup_sql(sf: str) -> str:
    from ..operators.chunking import cdc_chunks_sql

    body = cdc_chunks_sql("seeded", "doc_id", "s")
    return f"""
      with seeded as (
        select doc_id,
               text || '{CDC_FOOTER_A}' || source || '{CDC_FOOTER_B}' as s
        from documents
      ),{body}
      select md5(chunk) as chunk_md5,
             length(chunk)::BIGINT as chunk_len,
             count(distinct id)::BIGINT as n_docs,
             count(*)::BIGINT as n_occ
      from cdc_chunks group by 1, 2 having count(*) >= 2
      order by n_occ desc, chunk_md5 limit 15
    """


# Token-window chunking: 16-token windows, stride 12 (4-token overlap)
# — small enough that the ~40-token average document yields several
# windows including a partial tail (both shapes exercised at sf0.01).
CHUNK_TOKENS, CHUNK_STRIDE = 16, 12


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping context windows
    (operators/chunking.py:token_window_chunks): the chunker a
    pretraining/RAG pipeline runs over every document — window starts
    every ``stride`` tokens, partial tail kept.

    Scale shape: a pure per-row map + explode, zero shuffles,
    whole-stage codegen (the scan-bound 100 TB stage, like the C4 and
    Gopher filters). The oracle regenerates the whole chunker in
    DuckDB from the same module; ``chunk_md5`` pins each window's exact
    token slice and joining, so an off-by-one in start, length or tail
    handling breaks the hash.
    """
    from ..operators.chunking import token_window_chunks

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    w = token_window_chunks(
        d, "doc_id", "text",
        chunk_tokens=CHUNK_TOKENS, stride_tokens=CHUNK_STRIDE,
    )
    return w.select(
        "doc_id", "chunk_idx", "start_tok", "n_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


def q_chunk_windows_sql(sf: str) -> str:
    from ..operators.chunking import token_window_sql

    inner = token_window_sql(
        src="documents", id_col="doc_id", text_col="text",
        chunk_tokens=CHUNK_TOKENS, stride_tokens=CHUNK_STRIDE,
    )
    return f"""
        with tw as ({inner})
        select doc_id::BIGINT as doc_id, chunk_idx, start_tok, n_tokens,
               md5(chunk_text) as chunk_md5
        from tw
    """


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction (functions/html.py html_main_text) over
    the shared seeded page family: the largest-text-block heuristic at
    the core of readability/trafilatura-style extractors, plus the
    link-density boilerplate signal.

    Pure JVM chain, zero exchanges — another scan-bound extraction
    stage (the 100 TB shape). The seeded pages carry exactly two real
    paragraphs (the doc text and a short trailer) plus a DECOY
    ``<p>not text</p>`` inside the script block on even ids — a
    paragraph extractor that fails to drop script bodies counts three
    and may pick the wrong block. The oracle derives everything
    closed-form: paragraph count, the argmax-length block (first on
    ties), its md5, and the basis-point link-density ratio from the
    rendered-text length formula q_html_extract's oracle already pins.
    """
    from ..functions.html import (
        html_boilerplate_ratio_e4,
        html_main_text,
        html_paragraphs,
    )

    # r6: fan out the one-split scan (guide §2.5) before the page
    # construction + extraction regexes
    d = _fan_out(_read(spark, sf_dir, "documents").select("doc_id", "text", "source"))
    page = F.decode(F.encode(_seeded_page_col(), "UTF-8"), "UTF-8")
    main = html_main_text(page)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(html_paragraphs(page)).cast("bigint").alias("n_paras"),
        F.length(main).cast("bigint").alias("main_len"),
        F.md5(F.encode(main, "UTF-8")).alias("main_md5"),
        html_boilerplate_ratio_e4(page).alias("boilerplate_e4"),
    )


def q_main_content_sql(sf: str) -> str:
    return """
        with base as (
          select doc_id, text, source,
                 'end of ' || source as trailer,
                 -- rendered-text length, same formula q_html_extract pins
                 length('Doc & ' || cast(doc_id as varchar)) + 1
                   + length(text) + 1 + length('end of ' || source)
                   + 5 * (doc_id % 3 + 1) as body_len,
                 4 * (doc_id % 3 + 1) as anchor_chars
          from documents
        )
        select doc_id,
               2::BIGINT as n_paras,
               (case when length(text) >= length(trailer)
                     then length(text) else length(trailer) end)::BIGINT
                 as main_len,
               md5(case when length(text) >= length(trailer)
                        then text else trailer end) as main_md5,
               floor((anchor_chars * 10000)::DOUBLE / body_len)::BIGINT
                 as boilerplate_e4
        from base
    """


DECON_BENCH_MOD = 37  # every 37th document seeds the "benchmark"


def _decon_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seeded evaluation set: a contiguous 9-token window (tokens
    4..12) of every 37th document — so contamination is PARTIAL-text
    overlap, not whole-document equality (which exact dedup would
    already catch). Short docs contribute their whole text."""
    from ..functions.text import ws_tokens

    d = _read(spark, sf_dir, "documents").where(
        F.col("doc_id") % DECON_BENCH_MOD == 0
    )
    toks = ws_tokens(F.col("text"))
    return d.select(
        F.when(F.size(toks) >= 12, F.array_join(F.slice(toks, 4, 9), " "))
        .otherwise(F.col("text"))
        .alias("bench_text")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): the
    train/test-overlap removal step of the published LLM pipelines
    (GPT-3's 13-gram rule at this corpus's 5-gram width) against a
    seeded eval set drawn as partial-text windows of every 37th doc.

    Scale shape: the tiny benchmark gram set broadcasts as ONE row;
    the corpus side is scan + array-intersect map with ZERO shuffle
    (the per-source rollup on top is partially aggregable). The DuckDB
    oracle recomputes every gram relationally (distinct-gram join —
    an independent algorithm), so a window/tokenize/hash bug on either
    side breaks the hash."""
    from ..operators.decontaminate import decontaminate

    # r6: fan out the one-split scan (guide §2.5)
    d = _fan_out(_read(spark, sf_dir, "documents").select("doc_id", "text", "source"))
    verdicts = decontaminate(
        d, "doc_id", "text", _decon_bench(spark, sf_dir), "bench_text"
    )
    return (
        verdicts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("contaminated").cast("bigint")).alias("n_contaminated"),
            F.sum("n_hit").alias("hits_total"),
            F.sum("n_grams").alias("grams_total"),
        )
    )


def q_decontaminate_sql(sf: str) -> str:
    from ..operators.decontaminate import decontaminate_sql

    body = decontaminate_sql(
        "documents", "doc_id", "text", "decon_bench_src", "bench_text"
    )
    tk = TOKENS_SQL.format(c="text")
    return f"""
        with decon_bench_src as (
          select case when len({tk}) >= 12
                      then array_to_string(({tk})[4:12], ' ')
                      else text end as bench_text
          from documents where doc_id % {DECON_BENCH_MOD} = 0
        ),{body}
        select d.source,
               count(*) as n_docs,
               sum(case when v.contaminated then 1 else 0 end)::BIGINT
                 as n_contaminated,
               sum(v.n_hit)::BIGINT as hits_total,
               sum(v.n_grams)::BIGINT as grams_total
        from decon v join documents d on v.id = d.doc_id
        group by d.source
    """


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): chop the doc_id-ordered
    token stream into 512-token training sequences via the distributed
    two-pass prefix sum (ONE range shuffle + a per-partition Arrow
    scan — never the single-partition global window). Output: per
    sequence, how many docs start in it, their token mass, and how many
    straddle the boundary. The DuckDB oracle computes the same packing
    with the global window — an independent algorithm, so a subtotal /
    offset / partition-boundary bug breaks the hash."""
    from ..functions.text import token_count_ws
    from ..operators.packing import SEQ_LEN, pack_sequences

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).cast("bigint").alias("tok")
    )
    packed = pack_sequences(d, "doc_id", "tok", seq_len=SEQ_LEN)
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("tokens_sum"),
        F.sum(F.col("straddles").cast("bigint")).alias("n_straddle"),
    )


def q_seq_pack_sql(sf: str) -> str:
    from ..operators.packing import SEQ_LEN

    tk = TOKENS_SQL.format(c="text")
    return f"""
        with t as (
          select doc_id, len({tk})::BIGINT as tok from documents
        ),
        c as (
          select doc_id, tok,
                 coalesce(sum(tok) over (order by doc_id
                   rows between unbounded preceding and 1 preceding), 0)
                   as cum_before
          from t
        )
        select (cum_before // {SEQ_LEN})::BIGINT as seq_id,
               count(*) as n_docs,
               sum(tok)::BIGINT as tokens_sum,
               sum(case when cum_before % {SEQ_LEN} + tok > {SEQ_LEN}
                        then 1 else 0 end)::BIGINT as n_straddle
        from c group by 1
    """


KMEANS_K = 8
KMEANS_ITERS = 3


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (operators/kmeans.py) over the
    embeddings table: k=8, 3 rounds, md5-rank deterministic init.
    Per-iteration scale shape: broadcast-literal centroid argmin (zero
    data shuffle) + one partially-aggregable k×(dim+1) update. All
    assignment arithmetic is integer (quantized grid), so the DuckDB
    oracle — the whole algorithm unrolled per iteration, generated by
    the same module — matches bit for bit: sizes, integer WCSS, and the
    centroid md5 fingerprints."""
    from ..operators.kmeans import centroid_md5, kmeans_fit

    emb = _read(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_fit(
        emb, "vec_id", "embedding", k=KMEANS_K, dim=EMB_DIM, iters=KMEANS_ITERS
    )
    stats = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dist").alias("wcss")
    )
    md5s = local_frame(
        spark, [(i, centroid_md5(c)) for i, c in enumerate(cents)], "cluster int, centroid_md5 string"
    )
    return stats.join(F.broadcast(md5s), "cluster").select(
        F.col("cluster").cast("bigint").alias("cluster"),
        "n",
        "wcss",
        "centroid_md5",
    )


def q_kmeans_sql(sf: str) -> str:
    from ..operators.kmeans import kmeans_sql

    body = kmeans_sql(
        "embeddings", "vec_id", "embedding", k=KMEANS_K, dim=EMB_DIM,
        iters=KMEANS_ITERS,
    )
    return f"""
        with {body}
        select f.cluster::BIGINT as cluster,
               count(*) as n,
               sum(f.dist)::BIGINT as wcss,
               md5(array_to_string(c.cq, ',')) as centroid_md5
        from km_final f join km_cent{KMEANS_ITERS} c on f.cluster = c.cid
        group by f.cluster, c.cq
    """


SEM_K = 8       # SemDeDup cells (the paper sizes k so cells stay small)
SEM_TAU = 0.95  # within-cell cosine dup threshold
SEM_ITERS = 2


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-style (operators/dedup.py:
    semantic_dedup — Abbas et al. 2023): k-means partition of the
    embedding space, then pairwise cosine WITHIN each cell only; a
    vector is a duplicate if a lower-id cellmate sits at cosine ≥ 0.95.
    Runs over the planted-dup corpus (every 10th vector re-emitted
    perturbed at cosine ≈ 0.99 under id+10⁶ — same seeding as
    ``embedding_near_dup``), so the drop set is non-trivial. Output per
    cell: size, dup count, and the md5 of the sorted KEPT ids — the
    kept SET is the contract. Cluster assignment is bit-exact
    (integer-grid k-means) and the verdict compares at e6 quantization,
    so the composed DuckDB oracle hash-matches."""
    from ..operators.dedup import semantic_dedup

    allv = embeddings_with_planted_dups(spark, sf_dir)
    out = semantic_dedup(
        allv, "vec_id", "embedding",
        dim=EMB_DIM, k=SEM_K, threshold=SEM_TAU, iters=SEM_ITERS,
    )
    return (
        out.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("is_dup").cast("bigint")).alias("n_dups"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(~F.col("is_dup"), F.col("vec_id"))
                            )
                        ),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("kept_md5"),
        )
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_vecs",
            "n_dups",
            "kept_md5",
        )
    )


def q_semantic_dedup_sql(sf: str) -> str:
    from ..operators.dedup import semantic_dedup_sql

    body = semantic_dedup_sql(
        "sem_src", "vec_id", "v",
        dim=EMB_DIM, k=SEM_K, threshold=SEM_TAU, iters=SEM_ITERS,
    )
    return f"""
        with sem_base as (
          select cast(vec_id as bigint) as vec_id, embedding::DOUBLE[] as v
          from embeddings
        ),
        sem_plant as (
          select vec_id + {PLANT_ID_OFFSET} as vec_id,
            list_transform(v, (x, i) -> x * (1.0 +
              ((('0x' || substr(md5(vec_id::varchar || ':' || (i-1)::varchar), 1, 4))::bigint
                % 1000) / 1000.0 - 0.5) * 0.1)) as v
          from sem_base where vec_id % {PLANT_EVERY} = 0
        ),
        sem_src as (select * from sem_base union all select * from sem_plant),
        {body}
        select cluster::BIGINT as cluster,
               count(*) as n_vecs,
               sum(case when is_dup then 1 else 0 end)::BIGINT as n_dups,
               md5(string_agg(case when not is_dup then cast(id as varchar) end,
                              ',' order by id)) as kept_md5
        from sem
        group by cluster
    """


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container round trip (sources/warc.py) at Common-Crawl
    shape: the documents table is serialized into real WARC files (25
    docs/file; a warcinfo record plus one HTTP-response record per doc;
    even file_ids gzip-per-record, odd plain — both reader paths on
    every run), the files are exploded back into records distributed
    (mapInPandas, file = unit of parallelism exactly as on a cluster),
    and the HTTP payloads are parsed JVM-side (status via
    regexp_extract, body after the first CRLF-CRLF). Every output field
    is closed-form in (doc_id, text, source) — url, status, date, body
    length and body md5 — so the DuckDB oracle recomputes them
    arithmetically and a framing/compression/HTTP bug anywhere in the
    writer→parser chain breaks the hash. Byte-level format pins and
    corrupt-input contracts live in tests/test_warc.py."""
    from ..sources.warc import synth_warc_corpus, warc_records

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # r6: persist the synthetic WARC files (the writer half) so
    # steady-state passes measure the reader under test
    files = synth_warc_corpus(docs, docs_per_file=25).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    recs = warc_records(files).filter(F.col("warc_type") == "response")
    payload = F.decode(F.col("payload"), "UTF-8")
    body = F.regexp_replace(payload, r"(?s)^.*?\r\n\r\n", "")
    return recs.select(
        F.regexp_extract("target_uri", r"/p/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.regexp_extract(payload, r"^HTTP/1\.1 (\d+)", 1).cast("int").alias("status"),
        F.col("warc_date").alias("warc_date"),
        F.length(body).cast("bigint").alias("body_len"),
        F.md5(F.encode(body, "UTF-8")).alias("body_md5"),
    )


def q_warc_extract_sql(sf: str) -> str:
    return """
        select doc_id,
               'https://' || source || '.example.com/p/'
                 || cast(doc_id as varchar) as url,
               cast(case when doc_id % 10 = 7 then 404 else 200 end as int)
                 as status,
               '2024-01-' || lpad(cast(doc_id % 28 + 1 as varchar), 2, '0')
                 || 'T00:00:00Z' as warc_date,
               cast(length('<html><body><p>' || text || '</p></body></html>')
                 as bigint) as body_len,
               md5('<html><body><p>' || text || '</p></body></html>')
                 as body_md5
        from documents
    """


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 crawl-permission filtering (functions/robots.py): each
    distinct source becomes a host with a SEEDED robots.txt — a decoy
    ``badbot`` group that must NOT apply (group selection), a ``*``
    group with a Disallow prefix, a LONGER Allow carve-out under it
    (longest-match precedence), and on even-index hosts a
    wildcard+anchor rule (``/tmp/*.bak$``) — and every documents row
    becomes a url in one of four path classes by doc_id. The Spark side
    parses the robots dim once (mapInPandas over hosts) and evaluates
    the url volume pure-JVM (broadcast rule join + per-row regexp +
    max_by precedence); the DuckDB oracle states the verdict
    closed-form in (doc_id, host index) — group selection, precedence,
    wildcard, anchor and the no-rule default each gate a different
    output class, so any of those bugs breaks the hash. Adversarial
    single-file pins (empty Disallow, rules outside a group, UA
    substring selection) live in tests/test_robots.py."""
    from ..functions.robots import robots_allowed, robots_rules

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )
    idx = F.regexp_replace("source", "src", "").cast("int")
    robots = d.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit(
                "User-agent: badbot\nDisallow: /\n\n"
                "User-agent: *\nDisallow: /private/\n"
                "Allow: /private/public*\n"
            ),
            F.when(idx % 2 == 0, F.lit("Disallow: /tmp/*.bak$\n")).otherwise(
                F.lit("")
            ),
        ).alias("robots_txt"),
    )
    rules = robots_rules(robots, agent="sparkbot/1.0")
    sid = F.col("doc_id").cast("string")
    c = F.col("doc_id") % 4
    path = (
        F.when(c == 0, F.concat(F.lit("/articles/"), sid))
        .when(c == 1, F.concat(F.lit("/private/"), sid))
        .when(c == 2, F.concat(F.lit("/private/public/"), sid))
        .otherwise(F.concat(F.lit("/tmp/"), sid, F.lit(".bak")))
    )
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"), path
        ).alias("url"),
    )
    return robots_allowed(urls, rules)


def q_robots_filter_sql(sf: str) -> str:
    return """
        select doc_id,
               'https://' || source || '.example.com' ||
               case doc_id % 4
                 when 0 then '/articles/' || cast(doc_id as varchar)
                 when 1 then '/private/' || cast(doc_id as varchar)
                 when 2 then '/private/public/' || cast(doc_id as varchar)
                 else '/tmp/' || cast(doc_id as varchar) || '.bak'
               end as url,
               case doc_id % 4
                 when 0 then true
                 when 1 then false
                 when 2 then true
                 else cast(replace(source, 'src', '') as int) % 2 <> 0
               end as allowed
        from documents
    """


def q_web_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parse→enrich→route→aggregate story over the WEB stack in one
    composed query: documents become urls (same seeding as
    ``robots_filter``), the REAL robots machinery evaluates crawl
    permission per url, exact-dup identity comes from md5(text), and
    everything rolls up per host — docs, crawl-allowed docs, distinct
    texts, total chars, distinct langs. Every component the composition
    exercises (robots verdict classes, md5 identity, the aggregates) is
    closed-form or directly recomputable in DuckDB, so the oracle
    checks the COMPOSITION end-to-end, not just the pieces; per-sink
    count parity per host is exactly the north rule's acceptance
    shape."""
    from ..functions.robots import robots_allowed, robots_rules

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        "text",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    idx = F.regexp_replace("source", "src", "").cast("int")
    robots = d.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit(
                "User-agent: badbot\nDisallow: /\n\n"
                "User-agent: *\nDisallow: /private/\n"
                "Allow: /private/public*\n"
            ),
            F.when(idx % 2 == 0, F.lit("Disallow: /tmp/*.bak$\n")).otherwise(
                F.lit("")
            ),
        ).alias("robots_txt"),
    )
    rules = robots_rules(robots, agent="sparkbot/1.0")
    sid = F.col("doc_id").cast("string")
    c = F.col("doc_id") % 4
    path = (
        F.when(c == 0, F.concat(F.lit("/articles/"), sid))
        .when(c == 1, F.concat(F.lit("/private/"), sid))
        .when(c == 2, F.concat(F.lit("/private/public/"), sid))
        .otherwise(F.concat(F.lit("/tmp/"), sid, F.lit(".bak")))
    )
    urls = d.select(
        "doc_id",
        "text",
        "lang",
        "n_chars",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"), path
        ).alias("url"),
    )
    verdicts = robots_allowed(urls, rules)
    return verdicts.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("allowed").cast("bigint")).alias("n_allowed"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


def q_web_domain_rollup_sql(sf: str) -> str:
    return """
        select source || '.example.com' as host,
               count(*) as n_docs,
               cast(sum(case
                 when doc_id % 4 = 1 then 0
                 when doc_id % 4 = 3
                      and cast(replace(source, 'src', '') as int) % 2 = 0
                   then 0
                 else 1
               end) as bigint) as n_allowed,
               count(distinct md5(text)) as n_unique_texts,
               cast(sum(n_chars) as bigint) as total_chars,
               count(distinct lang) as n_langs
        from documents
        group by source
    """


def q_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (functions/html.py:html_anchors): what
    other pages CALL a page — the classic web-search relevance signal,
    and the natural companion of the link-graph query (it reuses the
    SAME seeded edge family as ``pagerank``: src links to
    (src·7 + 3j + 1) mod N for j = 0..src%3). Each documents row is
    rendered into a page whose anchors carry an entity-bearing text;
    the distributed side extracts (href, text) pairs with the real
    anchor parser, explodes, parses the target id back out of the href
    and aggregates per target (in-link count, lexicographic first/last
    anchor text). The DuckDB oracle generates the same edges from the
    shared CTE (graph module) and states the anchor strings
    closed-form — an extraction, entity-decode or explode bug breaks
    the hash."""
    from ..functions.html import html_anchors

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    n = d.count()  # bounded driver scalar (node count)
    links = F.transform(
        F.sequence(F.lit(0), F.col("doc_id") % 3),
        lambda j: F.concat(
            F.lit('<p><a href="/p/'),
            ((F.col("doc_id") * 7 + j * 3 + 1) % F.lit(n)).cast("string"),
            F.lit('">site '),
            ((F.col("doc_id") * 7 + j * 3 + 1) % F.lit(n)).cast("string"),
            F.lit(" &amp; src "),
            F.col("doc_id").cast("string"),
            F.lit("</a></p>"),
        ),
    )
    page = F.concat(
        F.lit("<html><body>"), F.concat_ws("", links), F.lit("</body></html>")
    )
    a = d.select(F.explode(html_anchors(page)).alias("a")).select(
        F.regexp_extract(F.col("a.href"), r"/p/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("a.text").alias("anchor"),
    )
    return a.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.min("anchor").alias("first_anchor"),
        F.max("anchor").alias("last_anchor"),
    )


def q_anchor_text_agg_sql(sf: str) -> str:
    return f"""
        with edges as ({_pagerank_edges_cte()})
        select dst as doc_id,
               count(*) as n_inlinks,
               min('site ' || cast(dst as varchar) || ' & src '
                   || cast(src as varchar)) as first_anchor,
               max('site ' || cast(dst as varchar) || ' & src '
                   || cast(src as varchar)) as last_anchor
        from edges
        group by dst
    """


def q_charset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniff + transcode (functions/charset.py) over SEEDED
    payloads: each documents row becomes binary page bytes in one of
    four real crawl shapes by doc_id — plain UTF-8 with multibyte
    chars, UTF-8 with BOM, UTF-16LE with BOM, and meta-declared Latin-1
    whose bytes are INVALID UTF-8 (the case that kills a strict decode:
    Spark 4 raises MALFORMED_CHARACTER_CODING without the sniff). The
    Spark side builds the bytes with F.encode/BOM-concat and runs the
    real sniff→decode chain; the DuckDB oracle states the expected
    charset name and decoded string closed-form per class — a BOM,
    meta-alias or fallback bug on any class breaks the hash.
    Adversarial single-payload pins (lying utf-8 meta, windows-1252
    alias, BOM-over-meta precedence) live in tests/test_charset.py."""
    from ..functions.charset import decode_page, sniff_charset

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    sid = F.col("doc_id").cast("string")
    c = F.col("doc_id") % 4
    payload = (
        F.when(c == 0, F.encode(F.concat(F.lit("café "), sid), "UTF-8"))
        .when(
            c == 1,
            F.concat(
                F.lit(b"\xef\xbb\xbf"),
                F.encode(F.concat(F.lit("résumé "), sid), "UTF-8"),
            ),
        )
        .when(
            c == 2,
            F.concat(
                F.lit(b"\xff\xfe"),
                F.encode(F.concat(F.lit("naïve "), sid), "UTF-16LE"),
            ),
        )
        .otherwise(
            F.encode(
                F.concat(F.lit('<meta charset="latin-1">Ä '), sid), "ISO-8859-1"
            )
        )
    )
    text = decode_page(payload)
    return d.select(
        "doc_id",
        sniff_charset(payload).alias("charset"),
        text.alias("text"),
        F.length(text).cast("bigint").alias("n_chars"),
    )


def q_charset_decode_sql(sf: str) -> str:
    return """
        select doc_id,
               case doc_id % 4
                 when 0 then 'UTF-8'
                 when 1 then 'UTF-8'
                 when 2 then 'UTF-16LE'
                 else 'ISO-8859-1'
               end as charset,
               case doc_id % 4
                 when 0 then 'café ' || cast(doc_id as varchar)
                 when 1 then 'résumé ' || cast(doc_id as varchar)
                 when 2 then 'naïve ' || cast(doc_id as varchar)
                 else '<meta charset="latin-1">Ä ' || cast(doc_id as varchar)
               end as text,
               cast(length(case doc_id % 4
                 when 0 then 'café ' || cast(doc_id as varchar)
                 when 1 then 'résumé ' || cast(doc_id as varchar)
                 when 2 then 'naïve ' || cast(doc_id as varchar)
                 else '<meta charset="latin-1">Ä ' || cast(doc_id as varchar)
               end) as bigint) as n_chars
        from documents
    """


# Bloom sizing for the registered frontier query: 2^15 bits / k=4 —
# small enough that the sf0.1 seen-set (25k urls, ~3 bits load/bit)
# produces real false positives alongside the definitive negatives, so
# the rows demonstrate BOTH output classes; production frontier filters
# size m at ~14.4 bits/url for 0.1% fp.
BLOOM_M_BITS, BLOOM_K = 1 << 15, 4


def q_bloom_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier seen-set via the portable Bloom filter
    (operators/sketch.py): the membership third of the sketch trio
    (HLL = how many distinct, CMS = how often, Bloom = have we SEEN
    it). The filter is built over the urls of even-doc_id documents
    (the "already crawled" half — at most m_bits/60 rows ever shuffle,
    however large the crawl), then EVERY document's url is probed:
    ``maybe_present`` true can be a false positive, false is a
    definitive never-seen. All bit positions come from the shared md5
    bucket hash and words are 60-bit signed-BIGINT-safe integers, so
    the DuckDB oracle (sketch.bloom_sql — generated by the same module)
    recomputes the exact words and verdicts: zero tolerance, and the
    no-false-negative law (seen ⇒ maybe_present) is hash-checked row by
    row rather than asserted."""
    from ..operators.sketch import bloom_build, bloom_contains

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )
    probes = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    seen = probes.filter(F.col("doc_id") % 2 == 0).select("url")
    bl = bloom_build(seen, "url", m_bits=BLOOM_M_BITS, k=BLOOM_K)
    res = bloom_contains(
        bl, probes.select("url"), "url", m_bits=BLOOM_M_BITS, k=BLOOM_K
    )
    return probes.join(res, "url").select(
        "doc_id",
        "url",
        "maybe_present",
        (F.col("doc_id") % 2 == 0).alias("seen"),
    )


def q_bloom_frontier_sql(sf: str) -> str:
    from ..operators.sketch import bloom_sql

    body = bloom_sql(
        "seen", "v", "pv", "v", m_bits=BLOOM_M_BITS, k=BLOOM_K
    )
    return f"""
        with probes as (
          select doc_id,
                 'https://' || source || '.example.com/p/'
                   || cast(doc_id as varchar) as url
          from documents
        ),
        pv as (select url as v from probes),
        seen as (select url as v from probes where doc_id % 2 = 0),
        {body}
        select p.doc_id, p.url, e.maybe_present, p.doc_id % 2 = 0 as seen
        from probes p join bloom_e e on e.v = p.url
    """


# Precision for the registered HLL query: m = 256 registers (~6.5%
# expected error). Deliberately SMALL so the zero-register accounting
# and branch structure are exercised at test-data cardinalities; the
# operator default is p=12. The per-group cardinalities (~1,600
# user-days at sf0.01, more at sf0.1) keep every group on the
# raw-division branch — the branch whose cross-engine parity is exact —
# asserted in tests/test_sketch.py::test_registered_corpus_stays_on_raw_branch.
HLL_QUERY_P = 8


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate distinct count (portable HyperLogLog,
    operators/sketch.py): distinct (user, day) pairs per event_type.

    THE 100 TB counting shape: exact count(distinct) shuffles every
    (key, value) pair and cannot pre-aggregate; the sketch shuffles at
    most m=2^p integers per key, combines map-side, and sketches union
    across days/partitions by register max (``hll_merge``) so rollups
    never rescan raw data. The md5 register construction is
    bit-identical in Spark, DuckDB and Python, and the estimate is one
    IEEE double division per group (exact-integer harmonic sum), so the
    oracle recomputes the SKETCH itself — hash parity, no tolerance.

    The ``exact_distinct`` column is the accuracy demonstration for
    this small-scale query; at corpus scale you drop it (dropping it is
    the point of the sketch).
    """
    from ..operators.sketch import hll_distinct

    ev = _read(spark, sf_dir, "events")
    user_day = F.concat(
        F.col("user_id").cast("bigint").cast("string"),
        F.lit("|"),
        F.date_format("ts", "yyyy-MM-dd"),
    )
    base = ev.select("event_type", user_day.alias("user_day"))
    est = hll_distinct(base, ["event_type"], "user_day", p=HLL_QUERY_P)
    exact = base.groupBy("event_type").agg(
        F.countDistinct("user_day").cast("bigint").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_registers", "zero_registers", "est_distinct", "exact_distinct"
    )


def q_hll_distinct_sql(sf: str) -> str:
    from ..operators.sketch import hll_estimate_sql

    est_sql = hll_estimate_sql(
        "base",
        "event_type",
        "user_id::BIGINT::VARCHAR || '|' || strftime(ts, '%Y-%m-%d')",
        HLL_QUERY_P,
        group_alias="event_type",
    )
    return f"""
        with base as (select event_type, user_id, ts from events),
        est as ({est_sql}),
        exact as (
          select event_type,
                 cast(count(distinct user_id::BIGINT::VARCHAR || '|'
                            || strftime(ts, '%Y-%m-%d')) as bigint)
                   as exact_distinct
          from base group by 1
        )
        select est.event_type, est.n_registers, est.zero_registers,
               est.est_distinct, exact.exact_distinct
        from est join exact using (event_type)
    """


# The registered retrieval probe. Multi-term so per-doc scores sum
# across terms (exercising the quantize-then-sum contract), with terms
# spanning different document frequencies.
BM25_QUERY = "hash join spark"


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BM25 ranked retrieval (operators/ranking.py): top-10
    documents for a fixed probe query.

    Scale shape: one token explode → one partially-aggregable
    (doc, query-term-or-null) count from which BOTH per-doc length and
    tf derive (the token stream is never shuffled twice); df and the
    (N, avgdl) row broadcast; TakeOrdered top-k. The oracle recomputes
    the full scoring pipeline in DuckDB; per-term scores are quantized
    to integer micro-units BEFORE the per-doc sum, so cross-engine
    float-summation order is out of the contract (module docstring).
    """
    from ..operators.ranking import bm25_topk

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return bm25_topk(d, "doc_id", "text", BM25_QUERY, top_k=10)


def q_bm25_topk_sql(sf: str) -> str:
    from ..operators.ranking import bm25_topk_sql

    return bm25_topk_sql(
        "documents", "doc_id::BIGINT", "text", BM25_QUERY, top_k=10
    )


HYBRID_POOL = 20  # per-retriever candidate depth feeding the fusion


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/ranking.py:hybrid_rrf_topk): BM25
    lexical top-20 fused with dense-cosine top-20 by reciprocal-rank
    fusion — the standard two-tower + keyword combiner of a modern
    retrieval stack. Both retrievers keep their registered scale shapes
    (BM25's single-shuffle token agg; the broadcast-query cosine scan);
    the fusion itself joins two 20-row lists. RRF contributions are
    exact integer nano-units, so the oracle (both retrievers + the
    fusion re-rendered in DuckDB) hash-matches with no float-order
    caveat."""
    from ..operators.ranking import bm25_topk, hybrid_rrf_topk

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    lex = bm25_topk(d, "doc_id", "text", BM25_QUERY, top_k=HYBRID_POOL)

    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qv"))
    # rank on the QUANTIZED cosine (the bm25_topk convention, review r5):
    # ordinals baked into the hashed output must not depend on sub-e6
    # float-summation differences between engines
    w = Window.orderBy(F.desc("cos_e6"), "doc_id")
    dense = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").cast("bigint").alias("doc_id"),
            e6(cosine_expr(F.col("embedding"), F.col("_qv")), "cos_e6"),
        )
        .orderBy(F.desc("cos_e6"), "doc_id")
        .limit(HYBRID_POOL)
        .select("doc_id", F.row_number().over(w).alias("rnk"))
    )
    return hybrid_rrf_topk(lex, dense, "doc_id", top_k=10)


def q_hybrid_rrf_sql(sf: str) -> str:
    from ..operators.ranking import RRF_K, RRF_SCALE, bm25_topk_sql

    bm = bm25_topk_sql(
        "documents", "doc_id::BIGINT", "text", BM25_QUERY, top_k=HYBRID_POOL
    )
    return f"""
        with lex as (select doc_id, rnk as lex_rnk from ({bm})),
        q as (select embedding as qv from embeddings where vec_id = 0),
        dense as (
          select doc_id, row_number() over (order by cos_e6 desc, doc_id)
                   as dense_rnk
          from (
            select vec_id::BIGINT as doc_id,
                   cast(round(list_cosine_similarity(embedding::DOUBLE[],
                                                     qv::DOUBLE[]) * 1000000)
                        as bigint) as cos_e6
            from embeddings, q
            order by cos_e6 desc, doc_id limit {HYBRID_POOL}
          )
        ),
        fused as (
          select doc_id,
                 coalesce(floor({RRF_SCALE} / ({RRF_K} + lex_rnk))::BIGINT, 0)
                 + coalesce(floor({RRF_SCALE} / ({RRF_K} + dense_rnk))::BIGINT, 0)
                   as rrf_e9,
                 coalesce(lex_rnk, 0)::BIGINT as lex_rnk,
                 coalesce(dense_rnk, 0)::BIGINT as dense_rnk
          from lex full outer join dense using (doc_id)
        )
        select cast(row_number() over (order by rrf_e9 desc, doc_id) as bigint)
                 as rnk,
               doc_id, rrf_e9, lex_rnk, dense_rnk
        from fused
        order by rrf_e9 desc, doc_id
        limit 10
    """


# LM quality filter: train on the trusted 80% (doc_id % 10 < 8), score
# everything. The keep cutoff sits at the per-gram-NLL median of the
# synthetic corpus (~3.40 nats ≈ perplexity 30) so BOTH classes appear
# at sf0.01 AND sf0.1 (probed: medians 3.388M / 3.402M micro-nats).
LM_TRAIN_WHERE = "doc_id % 10 < 8"
LM_KEEP_MAX_E6 = 3_400_000


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM perplexity filter (operators/lm.py): train a
    bigram model on the trusted 80% of documents, score EVERY document
    with its negative log likelihood in integer micro-nats, keep the
    low-perplexity tail.

    The classic webtext quality gate (Wenzek et al. 2020). Scale shape:
    training is one token explode into a partially-aggregable bigram
    count (model is O(distinct bigrams), never O(corpus)); scoring
    pre-aggregates the doc bigram stream to (doc, w1, w2, cnt) before
    the two model joins. Rational add-k smoothing keeps every
    probability a ratio of exact integers; per-bigram scores quantize
    to micro-nats BEFORE the per-doc sum, so the DuckDB oracle — the
    whole train+score pipeline regenerated by the same module — is
    hash-exact (module docstring covers the ≤1-ulp ln caveat).
    """
    from ..operators.lm import lm_score_bigram, lm_train_bigram

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    bigrams, contexts, v = lm_train_bigram(d.where(F.expr(LM_TRAIN_WHERE)), "text")
    scored = lm_score_bigram(d, "doc_id", "text", bigrams, contexts, v)
    return scored.select(
        "doc_id", "n_bigrams", "nll_e6", "nll_per_gram_e6",
        (
            (F.col("n_bigrams") > 0)
            & (F.col("nll_per_gram_e6") <= LM_KEEP_MAX_E6)
        ).alias("keep"),
    )


def q_lm_quality_sql(sf: str) -> str:
    from ..operators.lm import lm_score_sql

    inner = lm_score_sql(
        train_where=LM_TRAIN_WHERE, score_from="documents",
        id_col="doc_id", text_col="text",
    )
    return f"""
        with scored as ({inner})
        select doc_id::BIGINT as doc_id, n_bigrams, nll_e6, nll_per_gram_e6,
               (n_bigrams > 0 and nll_per_gram_e6 <= {LM_KEEP_MAX_E6}) as keep
        from scored
    """


# DSIR: hashed-ngram importance weights against the English target
# subset. Buckets deliberately small (256 over a ~30-word vocabulary +
# bigrams) so hash collisions occur in the registered rows; the keep
# cutoff at weight 0 splits the corpus at sf0.01 AND sf0.1 (probed:
# 39% / 45% kept — both branches asserted in pytest).
DSIR_BUCKETS = 256
DSIR_TARGET_WHERE = "lang = 'en'"
DSIR_KEEP_MIN_E6 = 0


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling selection (operators/dsir.py, Xie et
    al. 2023): score every document by how much more likely its hashed
    unigram+bigram profile is under the trusted English target subset
    than under the raw pool, keep the high-weight tail.

    The published data-selection recipe for "sample the crawl down to
    something target-shaped". Scale shape: ONE token explode feeds the
    (doc, bucket, cnt) feature frame, both bucket models, both totals
    and the scoring sum (persisted across its four consumers —
    plan-gated); model frames are ≤256 rows and broadcast. Per-bucket
    log-ratios quantize to integer micro-nats BEFORE the per-doc sum,
    so the DuckDB oracle — features, models and weights regenerated by
    the same module — is hash-exact (dsir.py docstring covers the
    ≤1-ulp ln caveat).
    """
    from ..operators.dsir import dsir_features, dsir_weights

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "text",
        (F.col("lang") == F.lit("en")).alias("__is_t"),
    )
    feats = dsir_features(
        d, "doc_id", "text", buckets=DSIR_BUCKETS, carry=("__is_t",)
    )
    w = dsir_weights(feats, "doc_id", target=F.col("__is_t"), buckets=DSIR_BUCKETS)
    return (
        d.select("doc_id")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("weight_e6", F.lit(0)).alias("weight_e6"),
            (
                (F.coalesce("n_feats", F.lit(0)) > 0)
                & (F.coalesce("weight_e6", F.lit(0)) >= DSIR_KEEP_MIN_E6)
            ).alias("keep"),
        )
    )


def q_dsir_select_sql(sf: str) -> str:
    from ..operators.dsir import dsir_sql

    inner = dsir_sql(
        score_from="documents", id_col="doc_id", text_col="text",
        target_where=DSIR_TARGET_WHERE, buckets=DSIR_BUCKETS,
    )
    return f"""
        with scored as ({inner})
        select doc_id::BIGINT as doc_id, n_feats, weight_e6,
               (n_feats > 0 and weight_e6 >= {DSIR_KEEP_MIN_E6}) as keep
        from scored
    """


# Count-Min probe set: common vocabulary spanning a range of true
# frequencies plus one absent term (pins the zero/absent-counter path).
CMS_PROBE_TERMS = [
    "join", "hash", "row", "batch", "scan", "customer",
    "spark", "window", "vector", "merge", "stream", "zzzmissing",
]
# Width deliberately SMALL (64 counters/row over a ~30-word vocabulary)
# so collisions actually occur and the registered rows demonstrate the
# est ≥ exact overcount contract; depth 4. Production default is 1024.
CMS_QUERY_DEPTH, CMS_QUERY_WIDTH = 4, 64


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates (operators/sketch.py): how
    often does each probe term occur in the documents token stream.

    The mergeable counting sketch for streams too wide to count per
    value: D·W integer counters, union = element-wise sum (map-side
    combinable), point estimate = min over D addressed counters —
    always ≥ the true count, never under. No floating point anywhere:
    the DuckDB oracle reproduces every counter and estimate EXACTLY.
    The ``exact_count`` column is the accuracy demonstration (est ≥
    exact, equal when the term's D counters are collision-free).
    """
    from ..operators.ranking import TOKEN_SPLIT_RE
    from ..operators.sketch import cms_build, cms_estimate

    # r6: fan out the one-split scan (guide §2.5)
    d = _fan_out(_read(spark, sf_dir, "documents"))
    toks = (
        d.select(F.explode(F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE)).alias("term"))
        .where(F.col("term") != "")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cms = cms_build(toks, "term", depth=CMS_QUERY_DEPTH, width=CMS_QUERY_WIDTH)
    probes = local_frame(spark, [(t,) for t in CMS_PROBE_TERMS], "term string")
    est = cms_estimate(
        cms, probes, "term", depth=CMS_QUERY_DEPTH, width=CMS_QUERY_WIDTH
    )
    exact = (
        toks.where(F.col("term").isin(CMS_PROBE_TERMS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return est.join(exact, "term", "left").select(
        "term",
        "est_count",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("exact_count"),
    )


def q_cms_counts_sql(sf: str) -> str:
    from ..operators.sketch import cms_sql

    terms_list = ", ".join(f"'{t}'" for t in CMS_PROBE_TERMS)
    body = cms_sql(
        "toks", "term", "probes", "term",
        depth=CMS_QUERY_DEPTH, width=CMS_QUERY_WIDTH,
    )
    return f"""
        with toks as (
          select unnest(list_filter(regexp_split_to_array(lower(text),
                                                          '[^a-z0-9]+'),
                                    x -> x <> '')) as term
          from documents
        ),
        probes as (select unnest([{terms_list}]) as term),
        {body},
        exact as (
          select term, count(*) as c from toks
          where term in ({terms_list}) group by 1
        )
        select cms_e.v as term, cms_e.est_count,
               cast(coalesce(exact.c, 0) as bigint) as exact_count
        from cms_e left join exact on exact.term = cms_e.v
    """


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketch.py loghist):
    p50/p95/p99 of event value (integer cents) per event_type, from an
    HdrHistogram-style logarithmic histogram.

    The fourth sketch shape: exact per-key percentiles
    (``value_percentiles``) shuffle every (key, value) pair; the log
    histogram shuffles at most a few hundred (key, bucket) counter rows
    per key, combines map-side, and unions by counter sum so
    hour→day→month latency rollups never rescan raw data. No hash and
    no floating point anywhere (bucket = octave from binary bit length
    + top 3 mantissa bits; rank = exact-integer ceil), so the DuckDB
    oracle recomputes the sketch bit for bit — zero tolerance. The
    ``p*_exact`` columns are the accuracy demonstration: same rank
    definition over the raw values, with the contract
    p_est ≤ p_exact < p_est·(1 + 2^-3) for values ≥ 2^4.
    """
    from pyspark.sql import Window

    from ..operators.sketch import loghist_build, loghist_quantiles

    ev = _read(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    est = loghist_quantiles(
        loghist_build(base, ["event_type"], "cents"), ["event_type"]
    ).select(
        "event_type",
        "n",
        F.col("p50").alias("p50_est"),
        F.col("p95").alias("p95_est"),
        F.col("p99").alias("p99_est"),
    )
    # exact demonstration side: identical rank definition over the raw
    # integers (min value whose cumulative count reaches ceil(n·pct/100))
    w = Window.partitionBy("event_type").orderBy("cents")
    cum = (
        base.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            "cents",
            F.sum("cnt").over(w).alias("cum"),
            F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
        )
    )
    exacts = cum.groupBy("event_type").agg(
        *[
            F.min(
                F.expr(f"case when cum >= (n * {pct} + 99) div 100 then cents end")
            ).alias(f"p{pct}_exact")
            for pct in (50, 95, 99)
        ]
    )
    return est.join(exacts, "event_type").select(
        "event_type", "n", "p50_est", "p95_est", "p99_est",
        "p50_exact", "p95_exact", "p99_exact",
    )


def q_quantile_sketch_sql(sf: str) -> str:
    from ..operators.sketch import loghist_sql

    body = loghist_sql(
        "base", "event_type", "cents", percents=(50, 95, 99),
        group_alias="event_type",
    )
    exact_cols = ", ".join(
        f"min(case when cum >= (n * {pct} + 99) // 100 then cents end)"
        f" as p{pct}_exact"
        for pct in (50, 95, 99)
    )
    return f"""
        with base as (
          select event_type, floor(value * 100)::BIGINT as cents from events
        ),
        {body},
        ecnt as (
          select event_type, cents, count(*) as cnt
          from base group by 1, 2
        ),
        ecum as (
          select event_type, cents,
                 sum(cnt) over (partition by event_type order by cents) as cum,
                 sum(cnt) over (partition by event_type) as n
          from ecnt
        ),
        exacts as (
          select event_type, {exact_cols} from ecum group by 1
        )
        select q.event_type, q.n, q.p50 as p50_est, q.p95 as p95_est,
               q.p99 as p99_est, e.p50_exact, e.p95_exact, e.p99_exact
        from lh_q q join exacts e using (event_type)
    """


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX index generation (functions/web.py surt_key): Common Crawl's
    capture-index row shape — (urlkey, timestamp, canonical url, digest,
    length) — over SEEDED messy crawl URLs.

    The index that makes a 10^12-capture crawl addressable: the SURT
    urlkey reverses host labels so one domain's pages sort contiguously
    and permuted query args share a key; at scale the key is computed
    in the scan stage (pure codegen'd JVM chain, zero exchanges here)
    and the index is one global sort on it. The seeded URLs vary by
    doc_id across five axes the key must collapse — scheme case, a
    WWW. prefix, an explicit :443, query-arg ORDER (b=..&a=.. vs
    a=..&b=..), an utm_ tracking param and a fragment — while the
    expected urlkey is the same closed form for every class, so the
    DuckDB oracle derives every column arithmetically and any
    reorder/fold/strip bug breaks the hash. The fake timestamp is
    integer-arithmetic (no timezone anywhere); the digest is md5 of the
    doc text, identical in both engines.
    """
    from ..functions.web import canonicalize_url, surt_key

    d = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    sid = F.col("doc_id").cast("string")
    m7 = (F.col("doc_id") % 7).cast("string")
    messy = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Articles/"),
        sid,
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("?b="), m7, F.lit("&utm_source=feed&a="), sid),
        ).otherwise(F.concat(F.lit("?a="), sid, F.lit("&b="), m7)),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    ts = F.concat(
        F.lit("2024"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
        F.lpad((F.col("doc_id") * 7 % 60).cast("string"), 2, "0"),
    )
    return d.select(
        surt_key(messy).alias("urlkey"),
        ts.alias("ts"),
        canonicalize_url(messy).alias("url"),
        F.md5("text").alias("digest"),
        F.length("text").cast("bigint").alias("length"),
    )


def q_cdx_index_sql(sf: str) -> str:
    return """
        select
          'com,example,' || source || ')/articles/' || cast(doc_id as varchar)
            || '?a=' || cast(doc_id as varchar)
            || '&b=' || cast(doc_id % 7 as varchar) as urlkey,
          '2024'
            || lpad(cast(doc_id % 12 + 1 as varchar), 2, '0')
            || lpad(cast(doc_id % 28 + 1 as varchar), 2, '0')
            || lpad(cast(doc_id % 24 as varchar), 2, '0')
            || lpad(cast(doc_id % 60 as varchar), 2, '0')
            || lpad(cast(doc_id * 7 % 60 as varchar), 2, '0') as ts,
          'https://' || case when doc_id % 2 = 0 then 'www.' else '' end
            || source || '.example.com/Articles/' || cast(doc_id as varchar)
            || case when doc_id % 3 = 0
               then '?b=' || cast(doc_id % 7 as varchar)
                 || '&a=' || cast(doc_id as varchar)
               else '?a=' || cast(doc_id as varchar)
                 || '&b=' || cast(doc_id % 7 as varchar) end as url,
          md5(text) as digest,
          length(text)::BIGINT as length
        from documents
    """


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot diff on the SURT urlkey: classify every page of
    two crawl snapshots as added / gone / changed / unchanged, rolled
    up per source domain.

    The incremental-recrawl shape: at 10^12 captures "what changed
    since last month" is ONE full-outer join of two CDX-keyed snapshots
    plus a digest compare — never a re-fetch. The two snapshots here
    spell the SAME pages differently on purpose (A: 'https' + a WWW.
    prefix on even ids; B: uppercase scheme, no www, an explicit :443,
    a tracking param and a fragment) so the join only lines up if
    ``surt_key`` collapses both spellings to one key — a misclassified
    spelling shows up as a spurious added+gone pair and breaks the
    hash. Membership and change are closed-form in doc_id (A drops
    id%16==0, B drops id%16==1, B rewrites text when id%5==0), so the
    DuckDB oracle derives the expected class per row arithmetically
    while Spark must earn it through the real key join.
    """
    from ..functions.web import surt_key

    d = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    sid = F.col("doc_id").cast("string")
    url_a = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".example.com/Pages/"), sid,
    )
    url_b = F.concat(
        F.lit("HTTPS://"), F.col("source"), F.lit(".example.com:443/Pages/"),
        sid, F.lit("?utm_source=diff#frag"),
    )
    # presence is carried by explicit flags (NOT by digest nullability:
    # a NULL text would null its md5 and misread as absent); digests
    # coalesce text to '' so the compare is total
    text_a = F.coalesce(F.col("text"), F.lit(""))
    snap_a = d.where(F.col("doc_id") % 16 != 0).select(
        surt_key(url_a).alias("k"),
        F.md5(text_a).alias("dg_a"),
        F.col("source").alias("src_a"),
        F.lit(True).alias("in_a"),
    )
    text_b = F.when(
        F.col("doc_id") % 5 == 0, F.concat(text_a, F.lit(" v2"))
    ).otherwise(text_a)
    snap_b = d.where(F.col("doc_id") % 16 != 1).select(
        surt_key(url_b).alias("k"),
        F.md5(text_b).alias("dg_b"),
        F.col("source").alias("src_b"),
        F.lit(True).alias("in_b"),
    )
    j = snap_a.join(snap_b, "k", "full_outer")
    status = (
        F.when(F.col("in_a").isNull(), F.lit("added"))
        .when(F.col("in_b").isNull(), F.lit("gone"))
        .when(~F.col("dg_a").eqNullSafe(F.col("dg_b")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(F.coalesce("src_a", "src_b").alias("source"), status.alias("status"))
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_crawl_diff_sql(sf: str) -> str:
    return """
        select source,
               case when doc_id % 16 = 0 then 'added'
                    when doc_id % 16 = 1 then 'gone'
                    when doc_id % 5 = 0 then 'changed'
                    else 'unchanged' end as status,
               count(*)::BIGINT as n
        from documents
        group by 1, 2
    """


# frequency threshold: ceil(N/800), exact rational. The synthetic
# documents text is near-uniform (top bigram ≈ 1/555 at sf0.01, 1/744
# at sf0.1), so 1/800 keeps the result set nonempty at BOTH driver
# scales (asserted in tests); the implied cap (1600) exceeds the
# corpus' ~930 distinct bigrams, so this query exercises the exact
# two-pass path end-to-end while the MG decrement path is pinned by
# the tiny-cap unit tests (test_sketch.py).
HH_PHI = (1, 800)
_HH_GRAMS_EXPR = (
    "case when size(__syms) >= 2 then "
    "transform(sequence(0, size(__syms) - 2), "
    "i -> concat(__syms[i], ' ', __syms[i + 1])) else array() end"
)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass exact heavy hitters (operators/sketch.py Misra-Gries):
    every word BIGRAM covering ≥ 1/64 of the documents bigram stream,
    with its exact count.

    The bounded-memory frequency-threshold shape: pass 1 keeps ≤ cap
    counters per partition (Arrow-batched mapInPandas, no shuffle) and
    can provably not lose a true heavy hitter; pass 2 recounts the
    ≈cap-sized candidate set exactly behind a broadcast semi-join.
    Because the output is EXACT, the oracle is plain SQL (group by +
    having against the exact-integer ceil threshold) — no sketch
    recompute, the strongest possible cross-check of the MG machinery.
    """
    from ..operators.ranking import TOKEN_SPLIT_RE
    from ..operators.sketch import heavy_hitters_exact

    d = _read(spark, sf_dir, "documents")
    grams = d.select(
        F.filter(
            F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE), lambda w: w != ""
        ).alias("__syms")
    ).select(F.explode(F.expr(_HH_GRAMS_EXPR)).alias("gram"))
    num, den = HH_PHI
    return heavy_hitters_exact(grams, "gram", phi_num=num, phi_den=den)


def q_heavy_hitters_sql(sf: str) -> str:
    num, den = HH_PHI
    return f"""
        with syms as (
          select list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') as s
          from documents
        ),
        grams as (
          select s[i] || ' ' || s[i + 1] as gram
          from syms, unnest(range(1, len(s))) as g(i)
        ),
        tot as (select count(*) as n from grams)
        select gram, count(*)::BIGINT as cnt from grams group by 1
        having count(*) >= (select (n * {num} + {den} - 1) // {den} from tot)
    """


BPE_QUERY_MERGES = 12


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): the first
    12 learned merges over the documents corpus.

    The tokenizer-side training-data operator: the corpus is scanned
    ONCE into a word frequency table; every merge round is one JVM
    explode + partially-aggregable groupBy over that distinct-word
    frame plus a one-row driver argmax — the same structure industrial
    BPE trainers use (counts on the word dictionary, never the raw
    text), so a 100 TB corpus costs one scan regardless of merge count.
    The DuckDB oracle is the whole trainer unrolled into a CTE chain
    GENERATED by the same module (the pagerank pattern): identical
    doubled-separator replace semantics, identical (count desc, pair
    asc) tiebreak, so the two formulations cannot drift and the hash is
    zero-tolerance. Tests assert every learned pair count stays above
    the early-stop threshold at sf0.01 AND sf0.1 (the unrolled oracle
    has no early stop).
    """
    from ..operators.bpe import bpe_merges_df, bpe_train

    d = _read(spark, sf_dir, "documents")
    merges = bpe_train(d, "text", num_merges=BPE_QUERY_MERGES, min_pair_count=2)
    return bpe_merges_df(spark, merges)


def q_bpe_merges_sql(sf: str) -> str:
    from ..operators.bpe import bpe_sql

    body = bpe_sql("documents", "text", num_merges=BPE_QUERY_MERGES)
    return f"""
        with {body}
        select rank, lhs, rhs, merged, pair_count
        from bpe_merges order by rank
    """


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the trained BPE merges
    (operators/bpe.py bpe_encode): per-document word and subword-token
    counts — the data-budgeting pass every training pipeline runs
    ("how many tokens is this corpus?").

    Scale shape: training as in ``bpe_merges`` (one scan into the word
    dictionary); encoding is a pure JVM chained-replace expression per
    row — NO shuffle, no Python, the whole encode rides the scan's
    codegen stage. The DuckDB oracle's encoder chain is GENERATED by
    the same module (`bpe_encode_sql`) and deliberately uses the other
    legitimate shape — encode each DISTINCT word once, join back to
    per-doc counts — so the two formulations agree only if the merge
    semantics match exactly.
    """
    from ..operators.bpe import bpe_encode, bpe_train
    from ..operators.ranking import TOKEN_SPLIT_RE

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    merges = bpe_train(d, "text", num_merges=BPE_QUERY_MERGES, min_pair_count=2)
    if len(merges) != BPE_QUERY_MERGES:
        # the generated oracle chain has no early stop — a weaker corpus
        # would silently desynchronize the pair, so fail loudly instead
        raise ValueError(
            f"corpus supports only {len(merges)} of {BPE_QUERY_MERGES} "
            "merges; the unrolled oracle would diverge"
        )
    enc = bpe_encode(d, "text", merges)
    n_words = F.size(
        F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE), lambda w: w != "")
    )
    return enc.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.col("n_bpe_tokens").cast("bigint").alias("n_tokens"),
    )


def q_bpe_tokenize_sql(sf: str) -> str:
    from ..operators.bpe import bpe_encode_sql, bpe_sql

    train = bpe_sql("documents", "text", num_merges=BPE_QUERY_MERGES)
    enc = bpe_encode_sql(
        "documents", "doc_id", "text", num_merges=BPE_QUERY_MERGES
    )
    return f"""
        with {train},{enc}
        select d.doc_id::BIGINT as doc_id,
               coalesce(e.n_words, 0)::BIGINT as n_words,
               coalesce(e.n_tokens, 0)::BIGINT as n_tokens
        from documents d left join bpe_enc e on d.doc_id = e.doc_id
    """


def q_asof_lastpurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/joins.py): every error event paired with
    the same user's most recent purchase at-or-before it.

    The merge-shape point-in-time join: one shuffle on user_id, one
    window sort, running last(purchase) carry — no non-equi join, no
    row multiplication. The right side is reduced to one row per
    (user, ts) first (max-struct keeps the highest event_id) so the
    at-same-ts winner is deterministic. The DuckDB oracle uses the
    native ASOF LEFT JOIN — an INDEPENDENT algorithm (binary-search
    probe) validating the window construction, inclusive-tie semantics
    included."""
    from ..operators.joins import asof_join

    ev = _read(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max(F.struct("event_id", "value")).alias("m"))
        .select(
            "user_id",
            "ts",
            F.col("m.event_id").alias("purchase_id"),
            F.col("m.value").alias("purchase_value"),
        )
    )
    out = asof_join(errors, purchases, ["user_id"], "ts")
    return out.select(
        "event_id",
        "user_id",
        "purchase_id",
        e2(F.col("purchase_value"), "purchase_value_e2"),
    )


def q_asof_lastpurchase_sql(sf: str) -> str:
    return """
        with errors as (
          select event_id, user_id, ts from events where event_type = 'error'
        ),
        purchases as (
          select user_id, ts,
                 arg_max(event_id, event_id) as purchase_id,
                 arg_max(value, event_id) as purchase_value
          from events where event_type = 'purchase'
          group by user_id, ts
        )
        select e.event_id, e.user_id, p.purchase_id,
               cast(round(p.purchase_value * 100) as bigint)
                 as purchase_value_e2
        from errors e
        asof left join purchases p
          on e.user_id = p.user_id and e.ts >= p.ts
    """


ATTRIBUTION_WINDOW_S = 7200  # clicks within 2h after a purchase


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join (operators/joins.py:interval_join): count
    clicks inside each purchase's 2-hour attribution window, per user.

    The grid-bucketed equi-join shape — each window explodes to ≤2
    grid cells (bucket_width = window length), each click addresses
    one cell, containment filtered after an ordinary hash join — where
    the naive ``BETWEEN`` formulation is a nested-loop row multiplier.
    The DuckDB oracle runs exactly that naive inequality join (its
    IEJoin handles it fine at oracle scale), independently validating
    the bucketing algebra, boundary inclusivity included."""
    from ..operators.joins import interval_join

    ev = _read(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_timestamp("ts").alias("w_start"),
        (F.unix_timestamp("ts") + ATTRIBUTION_WINDOW_S).alias("w_end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.unix_timestamp("ts").alias("ct")
    )
    pairs = interval_join(
        clicks,
        purchases,
        ["user_id"],
        "ct",
        "w_start",
        "w_end",
        bucket_width=ATTRIBUTION_WINDOW_S,
    )
    counts = pairs.groupBy("purchase_id").agg(F.count(F.lit(1)).alias("c"))
    return purchases.join(counts, "purchase_id", "left").select(
        "purchase_id",
        "user_id",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_clicks"),
    )


def q_purchase_attribution_sql(sf: str) -> str:
    return f"""
        with purchases as (
          select event_id as purchase_id, user_id,
                 cast(floor(epoch(ts)) as bigint) as w_start
          from events where event_type = 'purchase'
        ),
        clicks as (
          select user_id, cast(floor(epoch(ts)) as bigint) as ct
          from events where event_type = 'click'
        ),
        m as (
          select p.purchase_id, count(*) as c
          from purchases p join clicks c
            on c.user_id = p.user_id
           and c.ct between p.w_start and p.w_start + {ATTRIBUTION_WINDOW_S}
          group by 1
        )
        select p.purchase_id, p.user_id,
               cast(coalesce(m.c, 0) as bigint) as n_clicks
        from purchases p left join m using (purchase_id)
    """


# Naive Bayes classifier: train a language head on the 80% training
# split (doc_id % 5 != 0), predict the language of EVERY document. The
# per-lang word distributions of the synthetic corpus differ enough
# that the trained head beats 5-class chance ~2x (asserted in pytest) —
# the prediction is learned signal, not a constant.
NB_TRAIN_WHERE = "doc_id % 5 != 0"


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style Naive Bayes classification (operators/classifier
    .py): train class-conditional token counts on the 80% split, score
    every document's log-posterior per class in integer micro-nats,
    emit the argmax with its runner-up margin.

    The classifier stage of the published webtext recipes (GPT-3's
    quality head, CCNet's language head). Scale shape: training is one
    token explode into a partially-aggregable (label, word) count;
    scoring uses the OOV-baseline rearrangement so the model join is an
    equi-join on the word and the class-way replication happens on the
    one-row-per-doc frame, never the token stream; the per-doc argmax
    is a window partitioned by document. Rational add-k smoothing +
    quantize-before-sum make the DuckDB oracle — deliberately the NAIVE
    direct algebra, an independent formulation — hash-exact (module
    docstring covers the ≤1-ulp ln caveat).
    """
    from ..operators.classifier import nb_predict, nb_train

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "lang"
    )
    words, classes, v = nb_train(d.where(F.expr(NB_TRAIN_WHERE)), "text", "lang")
    pred = nb_predict(d, "doc_id", "text", words, classes, v)
    return pred.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "n_tokens", "pred_label", "score_e6", "margin_e6",
        (F.col("pred_label") == F.col("lang")).alias("correct"),
        F.expr(NB_TRAIN_WHERE).alias("is_train"),
    )


def q_nb_classify_sql(sf: str) -> str:
    from ..operators.classifier import nb_sql

    inner = nb_sql(
        train_where=NB_TRAIN_WHERE, score_from="documents",
        id_col="doc_id", text_col="text", label_col="lang",
    )
    return f"""
        with scored as ({inner})
        select s.doc_id::BIGINT as doc_id, s.n_tokens, s.pred_label,
               s.score_e6, s.margin_e6,
               (s.pred_label = d.lang) as correct,
               ({NB_TRAIN_WHERE}) as is_train
        from scored s join documents d using (doc_id)
    """


# Z-order layout statistics: the events table as a 2D (user bucket,
# value bucket) space, 8 bits per dim, 16 files. Both dims scale into
# [0, 256) by exact integer division (user_id < 2048 and value_e2 <
# 65536 at every sf scale — the morton guard fails loudly if a future
# corpus breaks that).
ZORDER_BITS = 8
ZORDER_FILES = 16
ZORDER_X_SPARK = "user_id div 8"
ZORDER_X_SQL = "(user_id // 8)"
ZORDER_Y_SPARK = "cast(round(value * 100) as bigint) div 256"
ZORDER_Y_SQL = "(cast(round(value * 100) as bigint) // 256)"


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear layout statistics (operators/layout.py): tile
    the events 2D space into 16 files under (a) the Morton-code z-order
    and (b) a linear sort on x alone, and report every file's bounding
    box — the data-layout evidence for multi-dimensional scan pruning.

    The 100 TB story: a file whose (min, max) range excludes the
    predicate is skipped at plan time; z-order gives every file a small
    span in BOTH dimensions (each of the 16 tiles is a 64×64 quadrant)
    while the linear layout leaves y at full width, so a predicate on y
    touches every linear file but only one z column of tiles (pinned in
    pytest). The file assignment here is the deterministic uniform
    z-space tiling — pure integer bit arithmetic, zero shuffle before
    the rollup, exact on every engine; the production writer
    (layout.zorder_write) range-partitions on the sampled z
    distribution instead and is pytest-gated on its actual output
    files.
    """
    from ..operators.layout import morton_code, zorder_file

    # negative inputs must fail loudly BEFORE the scaling division:
    # Spark `div` truncates toward zero, so a small negative would
    # slip into tile 0 past the morton guard while DuckDB's `//`
    # floors to -1 (the review-caught divergence)
    guard = F.expr(
        "assert_true(user_id >= 0 and value >= 0,"
        " 'zorder_layout: negative input')"
    )
    ev = (
        _read(spark, sf_dir, "events")
        .select(
            F.when(guard.isNull(), F.expr(ZORDER_X_SPARK)).alias("x"),
            F.expr(ZORDER_Y_SPARK).alias("y"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)  # feeds both strategies
    )
    z = morton_code([F.col("x"), F.col("y")], ZORDER_BITS)
    zo = ev.select(
        "x", "y",
        zorder_file(z, n_dims=2, bits=ZORDER_BITS, files=ZORDER_FILES)
        .alias("file_id"),
    )
    li = ev.select(
        "x", "y",
        zorder_file(F.col("x"), n_dims=1, bits=ZORDER_BITS, files=ZORDER_FILES)
        .alias("file_id"),
    )

    def stats(df: DataFrame, strategy: str) -> DataFrame:
        return (
            df.groupBy(F.lit(strategy).alias("strategy"), "file_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.min("x").alias("x_min"),
                F.max("x").alias("x_max"),
                F.min("y").alias("y_min"),
                F.max("y").alias("y_max"),
            )
            .select(
                "strategy", "file_id", "n_rows",
                "x_min", "x_max", "y_min", "y_max",
                (F.col("x_max") - F.col("x_min")).alias("x_span"),
                (F.col("y_max") - F.col("y_min")).alias("y_span"),
            )
        )

    return stats(zo, "zorder").unionByName(stats(li, "linear"))


def q_zorder_layout_sql(sf: str) -> str:
    from ..operators.layout import morton_sql, zorder_file_sql

    z = morton_sql(["x", "y"], ZORDER_BITS)
    zf = zorder_file_sql(z, n_dims=2, bits=ZORDER_BITS, files=ZORDER_FILES)
    lf = zorder_file_sql("x", n_dims=1, bits=ZORDER_BITS, files=ZORDER_FILES)
    return f"""
        with pts as (
          select {ZORDER_X_SQL} as x, {ZORDER_Y_SQL} as y from events
        ),
        assigned as (
          select 'zorder' as strategy, {zf} as file_id, x, y from pts
          union all
          select 'linear' as strategy, {lf} as file_id, x, y from pts
        )
        select strategy, file_id::BIGINT as file_id,
               count(*)::BIGINT as n_rows,
               min(x)::BIGINT as x_min, max(x)::BIGINT as x_max,
               min(y)::BIGINT as y_min, max(y)::BIGINT as y_max,
               (max(x) - min(x))::BIGINT as x_span,
               (max(y) - min(y))::BIGINT as y_span
        from assigned group by 1, 2
    """


# SCD2 capture history: 4 seeded snapshots per document. Docs with
# doc_id % 5 == 0 keep a constant digest (single island); all others
# change digest whenever (doc_id + snap) div 2 increments, giving 2 OR
# 3 islands depending on parity — single-, two- and three-version keys
# all occur (asserted in pytest), so a collapse or off-by-one in the
# island algebra cannot hide.
SCD_SNAPSHOTS = 4


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build (operators/scd.py): collapse 4 seeded
    per-document content-digest snapshots into validity intervals —
    the capture-history shape of a continuous crawl (when did this
    url's content change?).

    Scale shape: ONE shuffle on the key — the change-detection lag,
    the running island sum, the per-island aggregate (partially
    aggregable) and the interval-chain lead all share
    partitionBy(doc_id), so the whole history build is partition-
    parallel with no global sort (plan-gated: exactly one Exchange, no
    Python). Island boundaries are exact null-safe equality over md5
    digests, so the DuckDB oracle — the gap-and-islands algebra
    regenerated by the same module — is hash-exact with zero
    tolerance.
    """
    from ..operators.scd import scd2_history

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    snaps = (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(SCD_SNAPSHOTS))).alias("snap"),
            "text",
        )
        .select(
            "doc_id",
            F.col("snap").cast("bigint").alias("snap_ts"),
            F.when(F.col("doc_id") % 5 == 0, F.md5("text"))
            .otherwise(
                F.md5(
                    F.concat(
                        F.col("text"),
                        F.lit("|"),
                        F.expr("cast((doc_id + snap) div 2 as string)"),
                    )
                )
            )
            .alias("digest"),
        )
    )
    return scd2_history(snaps, ["doc_id"], "snap_ts", ["digest"])


def q_scd2_history_sql(sf: str) -> str:
    from ..operators.scd import scd2_sql

    snap = f"""(
      select doc_id::BIGINT as doc_id, i::BIGINT as snap_ts,
             case when doc_id % 5 = 0 then md5(text)
                  else md5(text || '|' || cast((doc_id + i) // 2 as varchar))
             end as digest
      from documents, unnest(range(1, {SCD_SNAPSHOTS + 1})) as t(i)
    )"""
    return scd2_sql(
        snapshots=snap, key_cols=["doc_id"],
        ts_col="snap_ts", attr_cols=["digest"],
    )


# Weighted sampling: 50 documents, selection probability ∝ n_chars
# (always ≥ 44 on the driver corpora — the operator's non-positive
# guard would fail loudly otherwise).
WS_K = 50
WS_SEED = "r5"


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement
    (operators/sampling.py): the 50 documents with the largest
    ``u^(1/weight)`` rank keys, weight = document length — the
    temperature-sampling shape of training-mix composition.

    Scale shape: the rank key is a pure map (one md5 + one ln per
    row); top-k compiles to TakeOrderedAndProject (per-partition heaps
    + a 50-row driver merge — no global sort, no shuffle). The key
    quantizes the log-uniform to integer micro-nats BEFORE the integer
    floor division by the weight (non-negative operands only, so
    Spark/DuckDB/Python floor semantics agree), making the selected
    SET and every rank key hash-exact against the DuckDB oracle
    regenerated by the same module.
    """
    from ..operators.sampling import weighted_sample

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_chars").cast("bigint").alias("weight"),
    )
    return weighted_sample(d, "doc_id", "weight", WS_K, seed=WS_SEED)


def q_weighted_sample_sql(sf: str) -> str:
    from ..operators.sampling import weighted_sample_sql

    return weighted_sample_sql(
        from_rel=(
            "(select doc_id::BIGINT as doc_id, n_chars::BIGINT as weight"
            " from documents)"
        ),
        key_expr="doc_id", weight_expr="weight",
        k=WS_K, seed=WS_SEED, select="doc_id, weight",
    )


# File-skipping Bloom index: 16 md5-sharded files, one 4096-bit k=3
# filter per file. Sized so the index is sharp at sf0.01 (load ~0.02,
# fp ≈ 1e-5) and still useful at sf0.1 (load ~0.23, fp ≈ 1%) — both
# regimes visible in the registered rows. Probe ids: present at both
# scales, present only at sf0.1 (4999), absent everywhere (99999).
FSI_M_BITS = 4096
FSI_K = 3
FSI_FILES = 16
FSI_PROBE_IDS = (0, 1, 7, 123, 444, 4999, 99999)


def q_file_skip_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom skip index (operators/sketch.py grouped Bloom):
    shard documents into 16 md5-addressed files, build one independent
    Bloom filter per file, probe a fixed key set against every file's
    filter — the secondary-index / data-skipping shape (a point lookup
    reads only the files whose filter might contain the key; at 10^12
    rows that is 1-2 files instead of all of them).

    Scale shape: the build is one partially-aggregable groupBy over
    the k-expanded stream (≤ m_bits/60 rows per file shuffle, however
    large the corpus); the probe side is the probes×files grid (7×16
    rows) joined against the broadcast-sized filter frame. Output per
    probe: whether the doc exists, how many candidate files the index
    admits, and whether the true file is among them — the
    no-false-negative law as a checked row set (true_file_covered ==
    doc_exists on every row, pinned in pytest). All md5 bit
    arithmetic: the DuckDB oracle (grouped bloom_sql from the same
    module) is exact with zero tolerance.
    """
    from ..functions.hashing import md5_bucket_col
    from ..operators.sketch import bloom_build, bloom_contains

    d = (
        _read(spark, sf_dir, "documents")
        .select(
            F.concat(
                F.lit("doc-"), F.col("doc_id").cast("bigint").cast("string")
            ).alias("v")
        )
        .withColumn("file_id", md5_bucket_col(F.col("v"), FSI_FILES))
    )
    blooms = bloom_build(
        d, "v", m_bits=FSI_M_BITS, k=FSI_K, group_cols=("file_id",)
    )
    probes = local_frame(spark, [(f"doc-{i}",) for i in FSI_PROBE_IDS], "v string")
    grid = probes.crossJoin(
        F.broadcast(spark.range(FSI_FILES).select(F.col("id").alias("file_id")))
    )
    verdicts = bloom_contains(
        blooms, grid, "v", m_bits=FSI_M_BITS, k=FSI_K, group_cols=("file_id",)
    )
    truth = d.groupBy("v").agg(F.min("file_id").alias("true_file"))
    return (
        verdicts.join(truth, "v", "left")
        .groupBy(F.col("v").alias("probe"))
        .agg(
            F.max(F.col("true_file").isNotNull()).alias("doc_exists"),
            F.sum(F.col("maybe_present").cast("bigint")).alias("n_candidate_files"),
            F.max(
                F.coalesce(
                    F.col("maybe_present") & (F.col("file_id") == F.col("true_file")),
                    F.lit(False),
                )
            ).alias("true_file_covered"),
        )
    )


def q_file_skip_index_sql(sf: str) -> str:
    from ..functions.hashing import md5_bucket_sql
    from ..operators.sketch import bloom_sql

    probes_vals = ", ".join(f"('doc-{i}')" for i in FSI_PROBE_IDS)
    inner = bloom_sql(
        "assigned", "v", "grid", "v",
        m_bits=FSI_M_BITS, k=FSI_K, group_expr="file_id",
    )
    return f"""
        with assigned as (
          select 'doc-' || cast(doc_id as varchar) as v,
                 {md5_bucket_sql("('doc-' || cast(doc_id as varchar))", FSI_FILES)}
                   as file_id
          from documents
        ),
        probe_vals (v) as (values {probes_vals}),
        grid as (
          select p.v, f.file_id
          from probe_vals p
          cross join (select unnest(range({FSI_FILES})) as file_id) f
        ),
        {inner},
        truth as (select v, min(file_id) as true_file from assigned group by 1)
        select e.v as probe,
               bool_or(t.true_file is not null) as doc_exists,
               sum(case when e.maybe_present then 1 else 0 end)::BIGINT
                 as n_candidate_files,
               bool_or(coalesce(
                 e.maybe_present and e.grp = t.true_file, false
               )) as true_file_covered
        from bloom_e e
        left join truth t on t.v = e.v
        group by 1
    """


# Event analytics (operators/events.py): funnel / transitions /
# cohort / burst over the events stream. Calibration constants are
# pinned here and verified class-complete at sf0.01 AND sf0.1 in
# tests/test_events.py.
FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_S = 86_400  # 24h: 150/60/25 users at sf0.01, 1500/536/217 at sf0.1
COHORT_THIN_MOD = 29  # sparse-signal thinning: ~2.3 thinned events/user
# seeded surge hour for burst detection: 2024-01-15 12:00:00 UTC —
# mid-corpus, so 24h of trailing baseline exists on every scale
BURST_EPOCH_S = 1_705_320_000
BURST_HOUR_IDX = BURST_EPOCH_S // 3600


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-attempt windowed funnel view→click→purchase within 24h
    (operators/events.py:funnel_counts).

    Scale shape: the event stream is never shuffled — each step is a
    filter-pushed scan joined (broadcast) against the previous step's
    per-user anchor frame (≤ |users| rows, persisted, shrinking per
    step) and reduced by a partially-aggregable min. The 24h window is
    calibrated so the funnel is strictly decreasing and non-empty at
    both driver scales (pinned in tests/test_events.py).
    """
    from ..operators.events import funnel_counts

    ev = _read(spark, sf_dir, "events")
    return funnel_counts(
        ev, "user_id", "ts", "event_type", FUNNEL_STEPS,
        window_s=FUNNEL_WINDOW_S,
    )


def q_funnel_steps_sql(sf: str) -> str:
    from ..operators.events import funnel_sql

    return funnel_sql(
        events="events", user_col="user_id", ts_col="ts",
        type_col="event_type", steps=FUNNEL_STEPS,
        window_s=FUNNEL_WINDOW_S,
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov next-event transition matrix
    (operators/events.py:event_transitions): per-user event sequences
    (total order: ts micros, event_id tiebreak) → (from, to) adjacent
    pair counts + integer-permille transition probabilities.

    One shuffle on user_id (the lead window), then a partially-
    aggregable count down to ≤ |event types|² rows.
    """
    from ..operators.events import event_transitions

    ev = _read(spark, sf_dir, "events")
    return event_transitions(ev, "user_id", "ts", "event_type", ["event_id"])


def q_event_transitions_sql(sf: str) -> str:
    from ..operators.events import transitions_sql

    return transitions_sql(
        events="events", user_col="user_id", ts_col="ts",
        type_col="event_type", order_cols=["event_id"],
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle
    (operators/events.py:cohort_retention) over a deterministically
    thinned stream (event_id % 29 == 0 ≈ a sparse engagement signal —
    the raw stream is so dense every user is active every week and the
    triangle collapses to 1000s; thinned, every cohort week and partial
    retention class occurs at BOTH driver scales, pinned in pytest).

    Two shuffles regardless of stream size: first-seen per user and
    the distinct over (cohort, offset, user), both partially
    aggregable; the dimension joins broadcast.
    """
    from ..operators.events import cohort_retention

    ev = _read(spark, sf_dir, "events").where(
        F.col("event_id") % COHORT_THIN_MOD == 0
    )
    return cohort_retention(ev, "user_id", "ts")


def q_cohort_retention_sql(sf: str) -> str:
    from ..operators.events import cohort_sql

    return cohort_sql(
        events=f"(select * from events where event_id % {COHORT_THIN_MOD} = 0)",
        user_col="user_id", ts_col="ts",
    )


def _burst_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ∪ a seeded surge: every error event contributes 2 extra
    copies inside the 2024-01-15 12:00 UTC hour (ts spread over the
    hour by event_id % 3600 s) — the same seeded-corpus pattern as the
    SCD snapshots, so a burst provably exists at every scale while the
    rest of the series stays the natural baseline."""
    ev = _read(spark, sf_dir, "events").select("ts", "event_type")
    surge = (
        _read(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(2))).alias("__copy"),
            F.timestamp_micros(
                (F.lit(BURST_EPOCH_S) + F.col("event_id") % 3600)
                * F.lit(1_000_000)
            ).alias("ts"),
            F.col("event_type"),
        )
        .select("ts", "event_type")
    )
    return ev.unionByName(surge)


def q_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window burst detection (operators/events.py:
    burst_hours) on hourly per-type counts of the seeded-surge stream:
    a bucket is a burst when count exceeds 2× the trailing-24h mean,
    tested as the exact integer cross-multiplication n·wn > 2·wsum
    (12-bucket warm-up, absolute floor 5). Full scored series out, so
    the oracle checks the negative class too.

    One partially-aggregable groupBy down to (type, hour) — thousands
    of rows however large the stream — then a per-type RANGE-frame
    window (gap-aware) on the tiny frame.
    """
    from ..operators.events import burst_hours

    return burst_hours(_burst_stream(spark, sf_dir), "ts", "event_type")


def q_burst_hours_sql(sf: str) -> str:
    from ..operators.events import burst_sql

    stream = f"""(
      select ts, event_type from events
      union all
      select make_timestamp(({BURST_EPOCH_S} + event_id % 3600) * 1000000)
               as ts, event_type
      from events, unnest(range(1, 3)) as t(i)
      where event_type = 'error'
    )"""
    return burst_sql(events=stream, ts_col="ts", type_col="event_type")


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection (operators/collocation.py:bigram_pmi):
    top-100 adjacent word pairs of the documents corpus by the
    integer-exact PMI-monotone score — the word2phrase step of a
    tokenizer-training pipeline.

    Tokenize/zip/explode are pure JVM array ops; counts are partially
    aggregable down to vocab size; the unigram joins broadcast; top-k
    compiles to TakeOrderedAndProject. Bigint headroom is guarded with
    a loud assert_true (NU ≤ 3e6) instead of Spark's silent non-ANSI
    overflow wrap.
    """
    from ..operators.collocation import bigram_pmi

    return bigram_pmi(_read(spark, sf_dir, "documents"), "text")


def q_pmi_bigrams_sql(sf: str) -> str:
    from ..operators.collocation import bigram_pmi_sql

    return bigram_pmi_sql(docs="documents", text_col="text")


# staged profile columns: everything integerized/stringified per the
# repo convention; type_nonerr exercises the NULL-count path
# deterministically (nullif never fires on 'error' rows)
PROFILE_COLS = (
    "event_id", "user_id", "event_type", "value_e2", "props", "ts_us",
    "type_nonerr",
)


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion profiling (operators/profile.py:table_profile): per-
    column n_rows / n_nulls / exact n_distinct / min / max over the
    staged events table (doubles → cents, timestamps → epoch micros,
    plus a deliberately nullable column so the NULL path is hot).

    ONE aggregation pass (Expand strategy for the multi-column exact
    distincts → a single one-row shuffle), unpivoted to per-column rows
    by an explode over a 7-element array. The extreme-scale variant
    swaps exact distincts for the HLL sketch (operators/sketch.py).
    """
    from ..operators.events import _ts_us
    from ..operators.profile import table_profile

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_type"),
        e2(F.col("value"), "value_e2"),
        F.col("props"),
        _ts_us("ts").alias("ts_us"),
        F.expr("nullif(event_type, 'error')").alias("type_nonerr"),
    )
    return table_profile(ev, PROFILE_COLS)


def _quality_eval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_words, keep) over the gopher-seeded corpus: the evaluation
    corpus for eval_curve/eval_auc — score = raw word count (the
    trivial length baseline every recipe compares against), truth = the
    full Gopher A1.1 verdict. Length dominates the keep rule (ok_words)
    but the residue-class trip lines fail long documents on OTHER rules,
    so the curve is genuinely non-trivial (AUC strictly inside
    (0.5, 1.0)) and the score has heavy ties — exactly the regime the
    exact tie algebra exists for."""
    from ..functions.quality import gopher_rule_cols, gopher_signal_cols

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", _gopher_seed_col().alias("t")
    )
    sig = gopher_signal_cols(F.col("t"))
    with_sig = d.select(*[v.alias(k) for k, v in sig.items()])
    rules = gopher_rule_cols({k: F.col(k) for k in sig})
    return with_sig.select(F.col("n_words"), rules["keep"].alias("keep"))


def _quality_eval_rel() -> str:
    from ..functions.quality import gopher_sql

    g = gopher_sql(_GOPHER_SEED_SQL, text_col="t", id_col="doc_id")
    return f"(with _g as ({g}) select n_words, keep from _g)"


def q_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter operating curve (operators/evaluation.py:
    eval_curve): every achievable precision/recall/F1 point of the
    decision rule "keep iff n_words >= threshold" against the Gopher
    A1.1 verdict, exact integer arithmetic with one row per distinct
    score (ties handled exactly). One partially-aggregable rollup over
    the corpus, then windows over the tiny distinct-score frame (the
    burst_hours pattern). Oracle: the gopher CTE composed with the
    curve SQL, both regenerated by their modules."""
    from ..operators.evaluation import eval_curve

    return eval_curve(_quality_eval_frame(spark, sf_dir), "n_words", "keep")


def q_quality_eval_sql(sf: str) -> str:
    from ..operators.evaluation import eval_curve_sql

    return eval_curve_sql(
        rel=_quality_eval_rel(), score_col="n_words", label_col="keep"
    )


def q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row ROC-AUC of the length baseline against the Gopher
    verdict (operators/evaluation.py:eval_auc) — Mann-Whitney rank form
    with the exact integer tie term, identical in Spark/DuckDB/Python.
    Both class-presence and bigint-headroom guards are woven into the
    kept expression (the bigram_pmi lesson)."""
    from ..operators.evaluation import eval_auc

    return eval_auc(_quality_eval_frame(spark, sf_dir), "n_words", "keep")


def q_quality_auc_sql(sf: str) -> str:
    from ..operators.evaluation import eval_auc_sql

    return eval_auc_sql(
        rel=_quality_eval_rel(), score_col="n_words", label_col="keep"
    )


_CALIB_BIN_WORDS = 20


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the length baseline vs the Gopher verdict
    (operators/evaluation.py:calibration_bins, 20-word bins): per-bin
    observed keep rate in permille — ONE partially-aggregable groupBy,
    no window, map-side combinable. Binning and the bin mean are exact
    integer floor division (the events.py pre-epoch lesson applied from
    birth), so the DuckDB twin agrees for any score sign."""
    from ..operators.evaluation import calibration_bins

    return calibration_bins(
        _quality_eval_frame(spark, sf_dir), "n_words", "keep",
        bin_width=_CALIB_BIN_WORDS,
    )


def q_quality_calibration_sql(sf: str) -> str:
    from ..operators.evaluation import calibration_sql

    return calibration_sql(
        rel=_quality_eval_rel(), score_col="n_words", label_col="keep",
        bin_width=_CALIB_BIN_WORDS,
    )


def q_table_profile_sql(sf: str) -> str:
    from ..operators.profile import table_profile_sql

    staged = """(
      select event_id::BIGINT as event_id, user_id::BIGINT as user_id,
             event_type, cast(round(value * 100) as BIGINT) as value_e2,
             props, epoch_us(ts) as ts_us,
             nullif(event_type, 'error') as type_nonerr
      from events
    )"""
    return table_profile_sql(rel=staged, cols=PROFILE_COLS)


_DAY_US = 86_400_000_000
_ASSOC_MIN_SUPPORT = 5
_WINNOW_K, _WINNOW_W = 12, 6


def _events_day_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, day, event_type) staging for the basket queries: the
    epoch-day floor in the events.py pmod spelling, as a NAMED column
    before anything consumes it (the staged-select house lesson)."""
    staged = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    return staged.select(
        "user_id",
        "event_type",
        F.expr(f"(us - pmod(us, {_DAY_US})) div {_DAY_US}").alias("day"),
    )


def _events_day_sql() -> str:
    us = "epoch_us(ts)"
    day = f"(({us}) - ((({us}) % {_DAY_US} + {_DAY_US}) % {_DAY_US})) // {_DAY_US}"
    return day


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule pair mining (operators/assoc.py:assoc_pairs —
    A-Priori's pair pass) over (user, day) session baskets of event
    types: exact integer support/confidence/lift, pure bigint (no
    floats, no logs). One groupBy collapses the stream to distinct
    basket items; pairs come from a per-basket sorted-array upper
    triangle (JVM HOFs, size-guarded); the count joins broadcast. The
    oracle deliberately uses the independent self-join formulation."""
    from ..operators.assoc import assoc_pairs

    return assoc_pairs(
        _events_day_items(spark, sf_dir),
        ["user_id", "day"],
        "event_type",
        min_support=_ASSOC_MIN_SUPPORT,
        k=50,
    )


def q_assoc_rules_sql(sf: str) -> str:
    from ..operators.assoc import assoc_pairs_sql

    return assoc_pairs_sql(
        rel="events",
        basket_exprs=["user_id", f"{_events_day_sql()} as day"],
        item_expr="event_type",
        min_support=_ASSOC_MIN_SUPPORT,
        k=50,
    )


def q_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily volume (operators/trend.py:
    group_trend): slope numerator/denominator as exact bigints and
    slope_e6 via the sign-safe pmod floor — falling trends (negative
    numerators) hash identically on all three engines. The corpus pass
    is one partially-aggregable (type, day) count; the window + OLS
    groupBy run on that tiny frame, reusing its hash partitioning."""
    from ..operators.trend import group_trend

    daily = (
        _events_day_items(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    return group_trend(daily, ["event_type"], "day", "y")


def q_trend_slopes_sql(sf: str) -> str:
    from ..operators.trend import group_trend_sql

    daily = f"""(
      select event_type, {_events_day_sql()} as day,
             count(*)::BIGINT as y
      from events group by 1, 2
    ) daily"""
    return group_trend_sql(
        rel=daily, group_exprs=["event_type"], x_expr="day", y_expr="y"
    )


def q_winnow_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing copy detection (operators/winnow.py:winnow_pairs,
    Schleimer et al. 2003): document pairs sharing ≥2 selected local
    fingerprints — finds shared PASSAGES (with the w+k-1 guarantee)
    where MinHash/SimHash only see global overlap. The per-window
    argmin is one integer min over a packed (hash, rightmost-pos) key;
    the pair join is doc-frequency-capped like ngram_jaccard's rare
    filter, so no boilerplate hash can square a bucket at 100 TB."""
    from ..operators.winnow import winnow_pairs

    return winnow_pairs(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=_WINNOW_K,
        w=_WINNOW_W,
        min_shared=2,
        max_doc_freq=8,
        topk=100,
    )


def q_winnow_dups_sql(sf: str) -> str:
    from ..operators.winnow import winnow_pairs_sql

    return winnow_pairs_sql(
        docs="documents",
        id_col="doc_id",
        text_col="text",
        k=_WINNOW_K,
        w=_WINNOW_W,
        min_shared=2,
        max_doc_freq=8,
        topk=100,
    )


_SETJOIN_T = (9, 10)  # Jaccard threshold as an exact rational


def _setjoin_seed_spark(d) -> DataFrame:
    """Seeded set-similarity corpus over documents ids: every doc gets
    1 corpus-wide stopword ('the'), 18 family tokens shared by its
    5-id group, and m = doc_id%5 member-only tokens — so within a
    family J(m1,m2) = 19/(19+m1+m2): (0,1)=0.950 and (0,2)=19/21
    (cross-mult 190 >= 189, one count inside the 9/10 boundary) pass
    while (1,2)=19/22 and everything wider fail, and cross-family
    pairs share only 'the'. The raw documents TEXT column is useless
    here — its word sets are drawn from so small a vocabulary that
    5k docs yield 965k pairs at J>=0.9 (measured), i.e. everything is
    everything's near-dup; the seed keeps both verdict classes at
    every sf instead. Member tokens are the variable-arity part:
    NULL-skipping concat_ws (identical semantics in Spark and DuckDB)
    avoids Spark's descending sequence(1,0) footgun."""
    sid = F.col("doc_id").cast("string")
    fam = F.expr(
        "array_join(transform(sequence(1, 18),"
        " j -> concat('f', cast(doc_id div 5 as string), 't',"
        " cast(j as string))), ' ')"
    )
    m = F.col("doc_id") % 5
    own = [
        F.when(m >= j, F.concat(F.lit("doc"), sid, F.lit(f"u{j}")))
        for j in (1, 2, 3, 4)
    ]
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat_ws(" ", F.lit("the"), fam, *own).alias("text"),
    )


_SETJOIN_SEED_SQL = """
    select cast(doc_id as bigint) as doc_id,
           concat_ws(' ', 'the',
             array_to_string(list_transform(range(1, 19),
               j -> 'f' || cast(doc_id // 5 as varchar) || 't'
                 || cast(j as varchar)), ' '),
             case when doc_id % 5 >= 1 then 'doc' || cast(doc_id as varchar) || 'u1' end,
             case when doc_id % 5 >= 2 then 'doc' || cast(doc_id as varchar) || 'u2' end,
             case when doc_id % 5 >= 3 then 'doc' || cast(doc_id as varchar) || 'u3' end,
             case when doc_id % 5 >= 4 then 'doc' || cast(doc_id as varchar) || 'u4' end
           ) as text
    from documents
"""


def q_set_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering set-similarity join (operators/setjoin.py —
    the All-Pairs/PPJoin candidate rule): exact word-set Jaccard >=
    9/10 pairs where candidates join only on each doc's rarest-token
    prefix under the global (df ASC, token ASC) order, so the
    every-doc stopword 'the' (df = corpus size) never enters a
    candidate bucket — the skew guard IS the ordering. The DuckDB
    oracle uses the naive every-shared-token candidate rule (12.5M
    intermediate pairs at sf0.1 from 'the' alone) with the same
    integer cross-multiplication verify — an independent algebra, so
    the hash match checks the prefix-completeness lemma itself.
    Two pairs qualify per 5-doc family, one of them a single count
    inside the threshold boundary (190 >= 189)."""
    from ..operators.setjoin import prefix_filter_pairs

    d = _setjoin_seed_spark(
        _read(spark, sf_dir, "documents").select("doc_id")
    )
    num, den = _SETJOIN_T
    return prefix_filter_pairs(d, "doc_id", "text", t_num=num, t_den=den)


def q_set_jaccard_join_sql(sf: str) -> str:
    from ..operators.setjoin import prefix_filter_pairs_sql

    num, den = _SETJOIN_T
    return prefix_filter_pairs_sql(
        f"({_SETJOIN_SEED_SQL}) seeded",
        "doc_id",
        "text",
        t_num=num,
        t_den=den,
    )


HITS_ITERATIONS = 3
HITS_SCALE = 10**6


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer max-normalized HITS hubs & authorities
    (operators/graph.py:hits_integer) over the SAME seeded link graph
    as `pagerank` and `anchor_text_agg` — the three web-graph queries
    deliberately share one edge family so an edge-generation bug breaks
    all three hashes differently. Three iterations, every step an
    integer sum or floor division, so the result is bit-exact under any
    partitioning; the DuckDB oracle unrolls the same iterations with
    scalar-subquery max normalizers (graph.hits_oracle_sql, generated
    by the same module). Hub scores separate pages by out-degree class
    (u mod 3) while authorities separate by inbound pattern — both
    carry many distinct values at sf0.01 AND sf0.1."""
    from ..operators.graph import hits_integer

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    n = d.count()  # bounded driver scalar (node count)
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3)).alias("j"),
        )
        .select(
            "src",
            ((F.col("src") * 7 + F.col("j") * 3 + 1) % F.lit(n)).alias("dst"),
        )
    )
    out = hits_integer(
        edges, nodes=d, iterations=HITS_ITERATIONS, scale=HITS_SCALE
    )
    return out.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("hub").cast("bigint").alias("hub"),
        F.col("auth").cast("bigint").alias("auth"),
    )


def q_hits_scores_sql(sf: str) -> str:
    from ..operators.graph import hits_oracle_sql

    edge_cte = f"select src, dst from ({_pagerank_edges_cte()})"
    inner = hits_oracle_sql(
        "documents", "doc_id", edge_cte,
        iterations=HITS_ITERATIONS, scale=HITS_SCALE,
    )
    return f"select node as doc_id, hub, auth from ({inner})"


CRAWL_SEED_MOD = 29
CRAWL_MAX_DEPTH = 2


def q_crawl_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS crawl depth (operators/graph.py:bfs_depths —
    level-synchronous frontier expansion, O(m) total work over all
    rounds) from the seed list doc_id % 29 == 0 over the shared
    pagerank/HITS/anchor edge family, depth budget 2. The seed density
    and fan-out bound (out-degree ≤ 3, so reached ≤ 13·|seeds|)
    GUARANTEE both verdict classes — reached at depths 0/1/2 and
    unreached — at sf0.01 and sf0.1. The DuckDB oracle walks every
    path up to the budget with a recursive CTE and takes min(depth)
    (graph.bfs_oracle_sql) — an independent algebra validating the
    Spark side's first-seen-wins frontier invariant."""
    from ..operators.graph import bfs_depths

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    n = d.count()  # bounded driver scalar (node count)
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3)).alias("j"),
        )
        .select(
            "src",
            ((F.col("src") * 7 + F.col("j") * 3 + 1) % F.lit(n)).alias("dst"),
        )
    )
    seeds = d.where(F.col("doc_id") % CRAWL_SEED_MOD == 0)
    out = bfs_depths(edges, seeds, nodes=d, max_depth=CRAWL_MAX_DEPTH)
    return out.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("depth").cast("bigint").alias("depth"),
        F.col("reached").alias("reached"),
    )


def q_crawl_depth_sql(sf: str) -> str:
    from ..operators.graph import bfs_oracle_sql

    edge_cte = f"select src, dst from ({_pagerank_edges_cte()})"
    inner = bfs_oracle_sql(
        "documents", "doc_id", edge_cte,
        f"n.doc_id % {CRAWL_SEED_MOD} = 0",
        max_depth=CRAWL_MAX_DEPTH,
    )
    return f"select node as doc_id, depth, reached from ({inner})"


def q_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE/upsert apply (operators/scd.py:cdc_apply) — the
    lakehouse ingestion shape next to its history sibling
    `scd2_history`: a seeded change batch against the documents
    snapshot where every residue class of doc_id % 7 pins a different
    merge rule — %7=1 two updates (LATEST seq wins, the earlier one
    must be invisible), %7=2 a delete, %7=3 delete THEN update (row
    survives updated — op order), %7=4 update THEN delete (row gone —
    delete-wins), %7=5 an insert under a brand-new key doc_id + N.
    Spark reduces the batch with one partially-aggregable max_by
    groupBy; the DuckDB oracle reduces it with the INDEPENDENT window
    row_number spelling (scd.cdc_apply_sql) and regenerates the same
    change batch from the residue algebra — so the hash gates both the
    reduction and the apply-join semantics."""
    from ..operators.scd import cdc_apply

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    n = d.count()  # bounded driver scalar (insert-key offset)
    m = F.col("doc_id") % 7
    did = F.col("doc_id")

    def ch(pred, key, seq, op, lang, n_chars):
        return d.where(pred).select(
            key.cast("long").alias("doc_id"),
            F.lit(seq).cast("long").alias("seq"),
            F.lit(op).alias("op"),
            (F.lit(lang) if isinstance(lang, (str, type(None))) else lang
             ).cast("string").alias("lang"),
            (F.lit(None) if n_chars is None else n_chars
             ).cast("long").alias("n_chars"),
        )

    changes = (
        ch(m == 1, did, 1, "U", "u1", did * 3 + 7)
        .unionByName(ch(m == 1, did, 2, "U", "u2", did * 5 + 1))
        .unionByName(ch(m == 2, did, 1, "D", None, None))
        .unionByName(ch(m == 3, did, 1, "D", None, None))
        .unionByName(ch(m == 3, did, 2, "U", "u3", did + 11))
        .unionByName(ch(m == 4, did, 1, "U", "u4", did + 13))
        .unionByName(ch(m == 4, did, 2, "D", None, None))
        .unionByName(ch(m == 5, did + F.lit(n), 1, "I", "new", did * 2))
    )
    return cdc_apply(
        d, changes, ["doc_id"], "seq", "op", ["lang", "n_chars"]
    )


def _cdc_changes_cte() -> str:
    """DuckDB change-batch generator mirroring q_cdc_upsert's Spark
    synth (see its docstring for the residue-class merge rules)."""
    return """
        select doc_id, 1 as seq, 'U' as op, 'u1' as lang,
               cast(doc_id * 3 + 7 as bigint) as n_chars
        from documents where doc_id % 7 = 1
        union all
        select doc_id, 2, 'U', 'u2', doc_id * 5 + 1
        from documents where doc_id % 7 = 1
        union all
        select doc_id, 1, 'D', null, null
        from documents where doc_id % 7 = 2
        union all
        select doc_id, 1, 'D', null, null
        from documents where doc_id % 7 = 3
        union all
        select doc_id, 2, 'U', 'u3', doc_id + 11
        from documents where doc_id % 7 = 3
        union all
        select doc_id, 1, 'U', 'u4', doc_id + 13
        from documents where doc_id % 7 = 4
        union all
        select doc_id, 2, 'D', null, null
        from documents where doc_id % 7 = 4
        union all
        select doc_id + (select count(*) from documents), 1, 'I', 'new',
               doc_id * 2
        from documents where doc_id % 7 = 5
    """


def q_cdc_upsert_sql(sf: str) -> str:
    from ..operators.scd import cdc_apply_sql

    return cdc_apply_sql(
        snapshot="(select doc_id, lang, cast(n_chars as bigint) as n_chars"
                 " from documents)",
        changes=f"({_cdc_changes_cte()})",
        key_cols=["doc_id"],
        seq_col="seq",
        op_col="op",
        attr_cols=["lang", "n_chars"],
    )


_BLOCKLIST_TERMS = ["Merge!", "STREAM", "window", "zzzgone"]


def q_blocklist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huge-blocklist filtering as a JOIN
    (operators/blocklist.py:blocklist_join) — the scale path
    c4_badwords' docstring promises for blocklists too large to live
    in an expression: the list is a TABLE met in an equi-join after a
    partially-aggregable per-(doc, token) count, so a 10⁷-entry
    denylist shuffles instead of being O(L·W)-scanned per row. The
    seeded list carries messy spellings ('Merge!', 'STREAM') that must
    canonicalize through the single-sourced tokenizer, plus a term
    absent from the corpus ('zzzgone'); ~3% of documents contain none
    of the terms, so both verdict classes (clean / hit with exact
    occurrence and distinct-term counts) appear at sf0.01 AND sf0.1.
    The DuckDB oracle retokenizes and recounts everything from the raw
    text (blocklist.blocklist_join_sql, generated by the same
    module)."""
    from ..operators.blocklist import blocklist_join

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    bl = local_frame(spark, [(t,) for t in _BLOCKLIST_TERMS], "term string")
    out = blocklist_join(d, "doc_id", "text", bl)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "hits", "hit_terms", "clean",
    )


def q_blocklist_join_sql(sf: str) -> str:
    from ..operators.blocklist import blocklist_join_sql

    vals = ", ".join(f"('{t}')" for t in _BLOCKLIST_TERMS)
    return blocklist_join_sql(
        doc_source="documents",
        id_col="doc_id",
        text_col="text",
        blocklist_cte=f"select * from (values {vals}) t(term)",
    )


_CONTAIN_T = (9, 10)  # containment threshold as an exact rational


def _containment_seed_spark(d) -> DataFrame:
    """Seeded containment corpus over documents ids: groups of 4
    consecutive ids share a token family g{G}w0..w18 and the residue
    class picks the shape — %4=0 the CONTAINER (all 19 family tokens +
    a unique token, size 20), %4=1 a fully-contained quote (w0..w9,
    C→container = 1.0), %4=2 a boundary case (w0..w8 + unique,
    C = 9/10 exactly — qualifies by the cross-multiplication with zero
    slack), %4=3 a near-miss (w0..w7 + TWO uniques, C = 8/10, fails).
    Four ordered pairs qualify per complete group (1→0 at 1.0; 2→0,
    1→2 and 2→1 at the 0.9 boundary) and NOTHING crosses groups, so
    both verdict classes and the asymmetry (0→1 never qualifies while
    1→0 does) are pinned at every sf. Jaccard CANNOT see the 1→0 pair
    (J = 10/20 = 0.5) — the reason this operator exists next to
    set_jaccard_join."""
    sid = F.col("doc_id").cast("string")

    def fam(n: int):
        return F.expr(
            f"array_join(transform(sequence(0, {n - 1}),"
            " j -> concat('g', cast(doc_id div 4 as string), 'w',"
            " cast(j as string))), ' ')"
        )

    m = F.col("doc_id") % 4
    text = (
        F.when(m == 0, F.concat_ws(" ", fam(19), F.concat(F.lit("u"), sid)))
        .when(m == 1, fam(10))
        .when(m == 2, F.concat_ws(" ", fam(9), F.concat(F.lit("u"), sid)))
        .otherwise(
            F.concat_ws(
                " ",
                fam(8),
                F.concat(F.lit("u"), sid, F.lit("a")),
                F.concat(F.lit("u"), sid, F.lit("b")),
            )
        )
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"), text.alias("text")
    )


_CONTAINMENT_SEED_SQL = """
    select cast(doc_id as bigint) as doc_id,
           case doc_id % 4
             when 0 then concat_ws(' ',
               array_to_string(list_transform(range(0, 19),
                 j -> 'g' || cast(doc_id // 4 as varchar) || 'w'
                   || cast(j as varchar)), ' '),
               'u' || cast(doc_id as varchar))
             when 1 then
               array_to_string(list_transform(range(0, 10),
                 j -> 'g' || cast(doc_id // 4 as varchar) || 'w'
                   || cast(j as varchar)), ' ')
             when 2 then concat_ws(' ',
               array_to_string(list_transform(range(0, 9),
                 j -> 'g' || cast(doc_id // 4 as varchar) || 'w'
                   || cast(j as varchar)), ' '),
               'u' || cast(doc_id as varchar))
             else concat_ws(' ',
               array_to_string(list_transform(range(0, 8),
                 j -> 'g' || cast(doc_id // 4 as varchar) || 'w'
                   || cast(j as varchar)), ' '),
               'u' || cast(doc_id as varchar) || 'a',
               'u' || cast(doc_id as varchar) || 'b')
           end as text
    from documents
"""


def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-CONTAINMENT join (operators/setjoin.py:
    containment_pairs — one-sided prefix filtering): ordered pairs
    with C(a→b) = |a∩b|/|a| >= 9/10 over the seeded group corpus. The
    contained side probes with its rarest-token prefix only; the
    container side is probed on ALL tokens (containment bounds where
    common tokens fall in a's order, not b's). The DuckDB oracle runs
    the naive every-shared-token both-directions algebra — agreement
    validates the one-sided prefix lemma. The headline pair each group
    plants (quote fully inside a 2× container) has J = 0.5: invisible
    to every Jaccard-threshold operator in the repo, which is the
    point of this one."""
    from ..operators.setjoin import containment_pairs

    d = _containment_seed_spark(
        _read(spark, sf_dir, "documents").select("doc_id")
    )
    num, den = _CONTAIN_T
    return containment_pairs(d, "doc_id", "text", t_num=num, t_den=den)


def q_containment_join_sql(sf: str) -> str:
    from ..operators.setjoin import containment_pairs_sql

    num, den = _CONTAIN_T
    return containment_pairs_sql(
        f"({_CONTAINMENT_SEED_SQL}) seeded",
        "doc_id",
        "text",
        t_num=num,
        t_den=den,
    )


CURRICULUM_BUCKET_DIV = 200
CURRICULUM_BUCKET_CAP = 3


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training (operators/packing.py:
    global_rank): every document gets its exact 0-based GLOBAL position
    under (difficulty bucket ASC, md5 shuffle, id) — easy-to-hard
    curriculum with a deterministic shuffle inside each bucket — via
    the scale-correct spelling: range shuffle + partition-parallel
    local ranks + one bounded driver pass over per-partition counts,
    NEVER the empty-window row_number that funnels 100 TB through one
    task. The order key is a fixed-width string (bucket, md5-hex8 of
    the id, zero-padded id) so it is total, unique, and lexicographic-
    identical in Spark, DuckDB and Python; the oracle IS the window
    spelling — row_number() over the same key — an independent algebra
    validating the prefix-sum construction."""
    from ..operators.packing import global_rank

    d = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sid = F.col("doc_id").cast("string")
    bucket = F.least(
        F.lit(CURRICULUM_BUCKET_CAP),
        F.expr(f"cast(n_chars as bigint) div {CURRICULUM_BUCKET_DIV}"),
    )
    keyed = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        bucket.cast("long").alias("bucket"),
        F.concat(
            bucket.cast("string"),
            F.lit("-"),
            F.substring(F.md5(sid), 1, 8),
            F.lit("-"),
            F.lpad(sid, 12, "0"),
        ).alias("ckey"),
    )
    out = global_rank(keyed, "ckey")
    return out.select(
        "doc_id", "bucket", F.col("global_pos").cast("long").alias("global_pos")
    )


def q_curriculum_order_sql(sf: str) -> str:
    return f"""
        with keyed as (
          select cast(doc_id as bigint) as doc_id,
                 cast(least({CURRICULUM_BUCKET_CAP},
                            n_chars // {CURRICULUM_BUCKET_DIV}) as bigint)
                   as bucket,
                 cast(least({CURRICULUM_BUCKET_CAP},
                            n_chars // {CURRICULUM_BUCKET_DIV}) as varchar)
                   || '-' || substr(md5(cast(doc_id as varchar)), 1, 8)
                   || '-' || lpad(cast(doc_id as varchar), 12, '0') as ckey
          from documents
        )
        select doc_id, bucket,
               cast(row_number() over (order by ckey) - 1 as bigint)
                 as global_pos
        from keyed
    """


FETCH_DELAY_MS = 500
FETCH_PER_CYCLE = 8


def q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier politeness scheduling (operators/frontier.py):
    per-host fetch slots over documents grouped by source host — one
    hash shuffle on the host, a partition-parallel md5-interleaved
    rank, pure integer slot/cycle/offset arithmetic (delay 500 ms,
    8 fetches per cycle). The md5 interleave is the determinism
    contract: reproducible across engines AND fair across ingest
    batches, unlike arrival order. Oracle: the same window spelling
    regenerated by fetch_schedule_sql from the same module."""
    from ..operators.frontier import fetch_schedule

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
    )
    return fetch_schedule(
        d, "doc_id", "host", delay_ms=FETCH_DELAY_MS,
        per_cycle=FETCH_PER_CYCLE,
    )


def q_fetch_schedule_sql(sf: str) -> str:
    from ..operators.frontier import fetch_schedule_sql

    return fetch_schedule_sql(
        source="(select cast(doc_id as bigint) as doc_id,"
               " source || '.example.com' as host from documents)",
        id_col="doc_id",
        host_col="host",
        delay_ms=FETCH_DELAY_MS,
        per_cycle=FETCH_PER_CYCLE,
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy in integer micro-nats
    (operators/profile.py:char_entropy) — the codec-free
    compression-ratio proxy of the published quality recipes: encoded
    blobs read near-uniform-high, single-character runs read 0,
    natural text sits in a mid band. Quantize-before-sum (the lm.py ln
    convention) makes the per-doc aggregate an order-free exact
    integer sum, so the DuckDB oracle (char_entropy_sql, generated by
    the same module) recomputes every term and the hash has zero
    tolerance. The corpus stages three classes: doc_id%17=0 a
    50-char single-character run (entropy EXACTLY 0), %17=1 a 64-char
    md5-hex blob (near-uniform 16-char alphabet, the encoded-blob
    class), all else the raw documents text. (On this corpus the
    natural text's alphabet is LARGER than hex, so its entropy
    overlaps the blob band — the pinned contrasts are run-vs-anything
    and blob-vs-its-own ln 16 ceiling, at both SFs in pytest.)"""
    from ..operators.profile import char_entropy

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 17
    staged = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(m == 0, F.expr("repeat('a', 50)"))
        .when(m == 1, F.concat(F.md5(sid), F.md5(F.concat(sid, F.lit("x")))))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return char_entropy(staged, "doc_id", "text")


def q_char_entropy_sql(sf: str) -> str:
    from ..operators.profile import char_entropy_sql

    staged = """
        select cast(doc_id as bigint) as doc_id,
               case when doc_id % 17 = 0 then repeat('a', 50)
                    when doc_id % 17 = 1 then
                      md5(cast(doc_id as varchar))
                      || md5(cast(doc_id as varchar) || 'x')
                    else text end as text
        from documents
    """
    return char_entropy_sql(
        rel=f"({staged})", id_col="doc_id", text_col="text"
    )


def q_sb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff trigram LM scoring (operators/lm.py, Brants et
    al. 2007 — THE web-scale LM recipe: raw relative frequencies, no
    discounting, fixed α = 0.4 backoff penalty; α = 2/5 exactly, so
    every branch stays a ratio of exact integers under the module's
    one-division-one-ln micro-nat quantization). Train on the trusted
    slice (doc_id %% 10 < 8), score EVERY doc; the output carries the
    three branch counts, so the oracle hash breaks if ANY backoff
    level routes differently. The corpus stages all three branches by
    construction: in-train docs get ' alpha beta gamma' appended
    (their trigrams are all in-model → pure branch 0); %%10=8 docs are
    'zq<hapax> beta gamma' (unseen trigram, TRAINED bigram → branch
    1); %%10=9 docs are 'alpha beta zz<hapax>' (unseen trigram, unseen
    bigram, unseen unigram → branch 2, count-clamp convention). Each
    pinned at both SFs in pytest."""
    from ..operators.lm import sb_score_trigram, sb_train_trigram

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    m = F.col("doc_id") % 10
    hap = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    staged = d.select(
        "doc_id",
        F.when(m == 8, F.concat(F.lit("zq"), hap, F.lit(" beta gamma")))
        .when(m == 9, F.concat(F.lit("alpha beta zz"), hap))
        .otherwise(F.concat(F.col("text"), F.lit(" alpha beta gamma")))
        .alias("text"),
    )
    grams, n = sb_train_trigram(staged.where(F.expr(LM_TRAIN_WHERE)), "text")
    return sb_score_trigram(staged, "doc_id", "text", grams, n)


def q_sb_quality_sql(sf: str) -> str:
    from ..operators.lm import sb_score_sql

    staged = """
        select cast(doc_id as bigint) as doc_id,
               case when doc_id % 10 = 8 then
                      'zq' || substr(md5(cast(doc_id as varchar)), 1, 8)
                      || ' beta gamma'
                    when doc_id % 10 = 9 then
                      'alpha beta zz'
                      || substr(md5(cast(doc_id as varchar)), 1, 8)
                    else text || ' alpha beta gamma' end as text
        from documents
    """
    return sb_score_sql(
        train_where=LM_TRAIN_WHERE,
        score_from=f"({staged})",
        id_col="doc_id",
        text_col="text",
    )


_LS_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (operators/dedup.py:
    leakage_safe_split): the split key is the duplicate-FAMILY
    representative, so near-identical documents can never straddle the
    eval boundary — the memorization-reads-as-generalization bug a
    plain per-doc hash split ships. Corpus: documents ∪ EXACT copies
    of every 13th doc (id + 10⁷ — same md5, guaranteed family) ∪
    one-token-appended NEAR copies of every 19th doc (id + 2·10⁷ —
    family iff simhash lands within Hamming ≤ 3; the oracle recomputes
    the same arithmetic whichever way the data falls). The DuckDB
    oracle rebuilds the whole composition independently: simhash
    all-pairs + exact star edges + recursive-CTE components + the
    md5-bucket split CASE on the rep — a bug in family formation OR
    bucket arithmetic moves some doc's split and breaks the hash.
    Output: (doc_id, family_rep, split)."""
    from ..operators.dedup import leakage_safe_split

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    copies = d.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    nears = d.where(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    corpus = d.unionByName(copies).unionByName(nears)
    return leakage_safe_split(corpus, "doc_id", "text", _LS_FRACTIONS)


def q_leakage_split_sql(sf: str) -> str:
    from ..operators.sampling import dataset_split_sql

    toks = TOKENS_SQL.format(c="text")
    bit_terms = _simhash_bit_terms()
    split_case = dataset_split_sql("family_rep", _LS_FRACTIONS)
    return f"""
        with recursive
        corpus as (
          select cast(doc_id as bigint) as doc_id, text from documents
          union all
          select doc_id + 10000000, text from documents where doc_id % 13 = 0
          union all
          select doc_id + 20000000, text || ' extra' from documents
          where doc_id % 19 = 0
        ),
        sig as (
          select doc_id, h,
                 case when len(hs) > 0 then {bit_terms} else 0 end as simhash
          from (
            select doc_id, md5(text) as h,
                   list_transform({toks},
                     t -> ('0x' || substr(md5(t), 1, 8))::bigint) as hs
            from corpus
          )
        ),
        pairs as (
          select a.doc_id as id_a, b.doc_id as id_b
          from sig a join sig b on a.doc_id < b.doc_id
          where bit_count(xor(a.simhash, b.simhash)) <= 3
        ),
        gmin as (select h, min(doc_id) as rep, count(*) as n
                 from sig group by h),
        exact_edges as (
          select s.doc_id as id_a, g.rep as id_b
          from sig s join gmin g using (h)
          where g.n > 1 and s.doc_id <> g.rep
        ),
        allpairs as (select id_a, id_b from pairs
                     union select id_a, id_b from exact_edges),
        edges as (select id_a as a, id_b as b from allpairs
                  union select id_b, id_a from allpairs),
        reach(node, r) as (
          select a, a from (select distinct a from edges)
          union
          select e.b, reach.r from reach join edges e on e.a = reach.node
        ),
        comp as (select node, min(r) as cid from reach group by node),
        keyed as (
          select c.doc_id,
                 cast(coalesce(k.cid, c.doc_id) as bigint) as family_rep
          from corpus c left join comp k on k.node = c.doc_id
        )
        select doc_id, family_rep, {split_case} as split
        from keyed
    """


_RD_SIMPLE = "The cat sat. The dog ran. It is fun."
_RD_COMPLEX = (
    "Extraordinary incomprehensibility demonstrating institutional "
    "modernization necessitates interdisciplinary collaboration "
    "throughout heterogeneous organizational infrastructures."
)


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade + Flesch reading ease in exact integer
    micro-units (functions/quality.py:readability_frame) — the classic
    prose-complexity axis of the published quality recipes, restated
    with the fixed vowel-run syllable heuristic so the score is a
    cross-engine contract rather than a library call. Pure JVM map
    stage, zero exchanges. Three seeded classes: doc_id%13=0 short
    simple sentences (low grade, high ease), %13=1 one polysyllabic
    academic sentence (high grade, negative ease), all else the raw
    documents text; the class contrast is pinned at both SFs in
    pytest, and the DuckDB oracle (readability_sql, generated by the
    same module) recomputes every count and division."""
    from ..functions.quality import readability_frame

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 13
    staged = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(m == 0, F.lit(_RD_SIMPLE))
        .when(m == 1, F.lit(_RD_COMPLEX))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return readability_frame(staged, "doc_id", "text")


def q_readability_sql(sf: str) -> str:
    from ..functions.quality import readability_sql

    staged = f"""
        select cast(doc_id as bigint) as doc_id,
               case when doc_id % 13 = 0 then '{_RD_SIMPLE}'
                    when doc_id % 13 = 1 then '{_RD_COMPLEX}'
                    else text end as text
        from documents
    """
    return readability_sql(staged, text_col="text", id_col="doc_id")


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl loop a web-scale pipeline actually runs, composed from
    the REAL machinery: candidate urls (the ``robots_filter`` seeding —
    four path classes against seeded per-host robots.txt) → RFC 9309
    permission via functions/robots.py (broadcast rule join + max_by
    precedence) → seen-set dedup against yesterday's crawl (md5(url)
    LEFT ANTI join — the exact form of the Bloom-frontier shape; the
    snapshot here is the doc_id%3=0 slice) → politeness scheduling over
    the survivors (operators/frontier.py: one host-keyed shuffle,
    md5-interleaved slots). Host priority (pagerank) joins in the same
    way and is registered separately. Every stage's effect is
    closed-form in (doc_id, host index), so the DuckDB oracle derives
    the survivor set independently and recomputes the schedule — a bug
    in robots precedence, the anti-join, or the slot arithmetic each
    breaks the hash differently. Per-host survivor counts exceed
    per_cycle at both SFs, so multi-cycle rows exist."""
    from ..functions.robots import robots_allowed, robots_rules
    from ..operators.frontier import fetch_schedule

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )
    idx = F.regexp_replace("source", "src", "").cast("int")
    robots = d.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit(
                "User-agent: badbot\nDisallow: /\n\n"
                "User-agent: *\nDisallow: /private/\n"
                "Allow: /private/public*\n"
            ),
            F.when(idx % 2 == 0, F.lit("Disallow: /tmp/*.bak$\n")).otherwise(
                F.lit("")
            ),
        ).alias("robots_txt"),
    )
    rules = robots_rules(robots, agent="sparkbot/1.0")
    sid = F.col("doc_id").cast("string")
    c = F.col("doc_id") % 4
    path = (
        F.when(c == 0, F.concat(F.lit("/articles/"), sid))
        .when(c == 1, F.concat(F.lit("/private/"), sid))
        .when(c == 2, F.concat(F.lit("/private/public/"), sid))
        .otherwise(F.concat(F.lit("/tmp/"), sid, F.lit(".bak")))
    )
    urls = d.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"), path
        ).alias("url"),
    )
    allowed = robots_allowed(urls, rules).where("allowed").drop("allowed")
    seen = urls.where(F.col("doc_id") % 3 == 0).select(
        F.md5("url").alias("seen_md5")
    )
    fresh = allowed.join(
        seen, F.md5(allowed["url"]) == seen["seen_md5"], "left_anti"
    )
    return fetch_schedule(
        fresh, "doc_id", "host", delay_ms=FETCH_DELAY_MS,
        per_cycle=FETCH_PER_CYCLE,
    ).select("doc_id", "host", "slot", "cycle", "sched_ms")


def q_crawl_frontier_sql(sf: str) -> str:
    from ..operators.frontier import fetch_schedule_sql

    # survivor set derived INDEPENDENTLY: the robots verdict stated
    # closed-form per (path class, host parity) + the %3 seen slice
    survivors = """
        select cast(doc_id as bigint) as doc_id,
               source || '.example.com' as host,
               'https://' || source || '.example.com' ||
               case doc_id % 4
                 when 0 then '/articles/' || cast(doc_id as varchar)
                 when 1 then '/private/' || cast(doc_id as varchar)
                 when 2 then '/private/public/' || cast(doc_id as varchar)
                 else '/tmp/' || cast(doc_id as varchar) || '.bak'
               end as url
        from documents
        where doc_id % 3 <> 0
          and (case doc_id % 4
                 when 0 then true
                 when 1 then false
                 when 2 then true
                 else cast(replace(source, 'src', '') as int) % 2 <> 0
               end)
    """
    return fetch_schedule_sql(
        source=f"({survivors})",
        id_col="doc_id",
        host_col="host",
        delay_ms=FETCH_DELAY_MS,
        per_cycle=FETCH_PER_CYCLE,
    )


def _host_boilerplate_seed_col() -> Column:
    """Multi-line pages over the documents corpus, host = source.

    Four contrast classes against the (min_docs=2, ratio=300‰) bar:
    a nav line on EVERY page of its host (always removed), a copyright
    line on ~1/3 of pages (rides the 300‰ bar — exact integers decide
    per host), a 'trending' widget on 100% of src0 but ~8% elsewhere
    (HOST-scoping: removed there, kept here), and a %97 promo line on
    0–1 pages per host (under min_docs — kept even when unique-ish).
    doc_id % 20 == source index, so only moduli coprime to 20 vary
    within a host (3, 13, 97 are)."""
    d = F.col("doc_id")
    return F.concat(
        F.lit("nav home about contact "), F.col("source"),
        F.lit("\n"), F.col("text"),
        F.when(d % 3 == 0, F.concat(F.lit("\ncopyright "), F.col("source")))
        .otherwise(F.lit("")),
        F.when(
            (F.col("source") == F.lit("src0")) | (d % 13 == 0),
            F.lit("\ntrending widget sidebar"),
        ).otherwise(F.lit("")),
        F.when(d % 97 == 0, F.lit("\nlimited promo today"))
        .otherwise(F.lit("")),
    )


_HOST_BOILERPLATE_SEED_SQL = """
    select doc_id, source,
           'nav home about contact ' || source || chr(10) || text
           || case when doc_id % 3 = 0
                   then chr(10) || 'copyright ' || source else '' end
           || case when source = 'src0' or doc_id % 13 = 0
                   then chr(10) || 'trending widget sidebar' else '' end
           || case when doc_id % 97 = 0
                   then chr(10) || 'limited promo today' else '' end
             as page
    from documents
"""


def q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style host-scoped line boilerplate removal (Penedo et
    al. 2023 §G.2; operators/dedup.py:remove_host_boilerplate): a line
    on ≥ 2 docs AND ≥ 30% of a host's docs is template chrome and is
    removed from EVERY page of that host — including the first copy
    (vs ccnet_para_dedup's keep-first global scope), but ONLY within
    the host that templates it. The threshold is integer permille
    arithmetic, so boundary hosts decide identically cross-engine.

    Scale shape: posexplode → per-(host, line-md5) distinct-doc count
    (map-side pre-reduced) → tiny host-totals frame → small filtered
    boilerplate set joined back on the hash → one doc-keyed ordered
    reassembly. No UDF; clean_md5 pins kept lines AND their order."""
    from ..operators.dedup import remove_host_boilerplate

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("source"),
        _host_boilerplate_seed_col().alias("page"),
    )
    out = remove_host_boilerplate(
        d, "doc_id", "source", "page", min_docs=2, ratio_permille=300
    )
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("text_clean").alias("clean_md5")
    )


def q_host_boilerplate_sql(sf: str) -> str:
    from ..operators.dedup import remove_host_boilerplate_sql

    inner = remove_host_boilerplate_sql(
        src=f"({_HOST_BOILERPLATE_SEED_SQL})",
        id_col="doc_id",
        host_col="source",
        text_col="page",
        min_docs=2,
        ratio_permille=300,
    )
    return f"""
        with _hb as ({inner})
        select doc_id::BIGINT as doc_id, n_lines, n_kept,
               md5(text_clean) as clean_md5
        from _hb
    """


def q_mixture_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence from the corpus mixture in
    integer micro-nats (operators/profile.py:mixture_jsd) — the
    data-mixture drift audit run on every crawl drop. The corpus
    stages two drifted sources against the natural background:
    source index 5 docs become two md5 hex blobs (disjoint token
    support → JSD near its ln 2 ceiling) and index 3 docs get an
    8-token spam flood appended (shared-vocab drift → a mid band);
    everything else keeps the raw text (near-0 band). Every quantized
    term is an exact bigint (quantize-before-sum, all ln arguments
    ≥ 1), so the hash has zero tolerance; jsd_e6 is derived from the
    exact numerators by one identically-spelled floor expression."""
    from ..operators.profile import mixture_jsd

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 20
    staged = d.select(
        F.col("source"),
        F.when(
            m == 5,
            F.concat(F.md5(sid), F.lit(" "), F.md5(F.concat(sid, F.lit("x")))),
        )
        .when(
            m == 3,
            F.concat(
                F.col("text"),
                F.lit(" casino casino casino casino"
                      " casino casino casino casino"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return mixture_jsd(staged, "source", "text")


def q_mixture_jsd_sql(sf: str) -> str:
    from ..operators.profile import mixture_jsd_sql

    staged = """
        select source,
               case when doc_id % 20 = 5 then
                      md5(cast(doc_id as varchar)) || ' '
                      || md5(cast(doc_id as varchar) || 'x')
                    when doc_id % 20 = 3 then
                      text || ' casino casino casino casino'
                           || ' casino casino casino casino'
                    else text end as text
        from documents
    """
    return mixture_jsd_sql(
        rel=f"({staged})", group_col="source", text_col="text"
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail shards (Wenzek et al. 2020 §4.3;
    operators/lm.py:ppl_buckets): train the bigram LM on the trusted
    80%, score EVERY document in integer micro-nats, then cut each
    LANGUAGE's score distribution into perplexity terciles by the
    exact histogram-CDF law (cum*3 <= n — ties move wholesale, the cut
    is a perplexity VALUE, never a row index). Docs that cannot be
    scored (%41 staged to a single token → n_bigrams = 0) go to an
    explicit ``none`` bucket rather than poisoning the head with their
    zero score. Scale shape: the LM pipeline's partial-agg joins +
    ONE per-language histogram window over distinct integer scores
    (never a corpus sort) + one small (lang, score) assignment join."""
    from ..operators.lm import lm_score_bigram, lm_train_bigram, ppl_buckets

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("lang"),
        F.when(F.col("doc_id") % 41 == 0, F.lit("solo"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bigrams, contexts, v = lm_train_bigram(d.where(F.expr(LM_TRAIN_WHERE)), "text")
    scored = lm_score_bigram(d, "doc_id", "text", bigrams, contexts, v)
    # r6 (guide §5): three consumers (tercile histogram, assignment
    # join, the none-bucket branch) each re-ran the whole LM scoring
    # pipeline — persist the scored frame once
    with_lang = scored.join(d.select("doc_id", "lang"), "doc_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cols = ["doc_id", "lang", "n_bigrams", "nll_per_gram_e6"]
    bucketed = ppl_buckets(
        with_lang.where(F.col("n_bigrams") > 0), "lang", "nll_per_gram_e6"
    ).select(*cols, "bucket")
    none = with_lang.where(F.col("n_bigrams") == 0).select(
        *cols, F.lit("none").alias("bucket")
    )
    return bucketed.unionByName(none)


def q_ccnet_buckets_sql(sf: str) -> str:
    from ..operators.lm import lm_score_sql, ppl_buckets_sql

    scored = lm_score_sql(
        train_where=LM_TRAIN_WHERE, score_from="_ccb_staged",
        id_col="doc_id", text_col="text",
    )
    bucketed = ppl_buckets_sql(
        rel="_ccb_elig", group_col="lang", score_col="nll_per_gram_e6",
        cols="r.doc_id, r.lang, r.n_bigrams, r.nll_per_gram_e6",
    )
    return f"""
        with _ccb_staged as (
          select doc_id, lang,
                 case when doc_id % 41 = 0 then 'solo' else text end as text
          from documents
        ),
        _ccb_scored as ({scored}),
        _ccb_wl as (
          select s.doc_id, g.lang, s.n_bigrams, s.nll_per_gram_e6
          from _ccb_scored s join _ccb_staged g using (doc_id)
        ),
        _ccb_elig as (select * from _ccb_wl where n_bigrams > 0)
        select doc_id, lang, n_bigrams, nll_per_gram_e6, bucket
        from ({bucketed})
        union all
        select doc_id, lang, n_bigrams, nll_per_gram_e6, 'none' as bucket
        from _ccb_wl where n_bigrams = 0
    """


def q_host_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host quality ranking by the Wilson score LOWER bound of the
    exact-dedup survival rate (functions/quality.py:wilson_lower_e6)
    — the small-sample-honest ordering a crawl prioritizer uses: a
    host keeping 2/2 docs must not outrank one keeping 180/200. The
    keep signal is corpus-level keep-first exact dedup (doc is the
    min-id holder of its md5(text) family); the staging plants a
    per-host blob on ids ≡ 0 (mod host_idx+2), so dup mass DESCENDS
    across hosts — src0 is 100% one family (k = 1), high hosts carry
    only the corpus's natural dup families — and the ranking must
    invert it. One md5-keyed window (a single corpus shuffle, the
    dedup_exact shape) + one per-host partial agg + the closed-form
    Wilson bound (one sqrt, two divisions, exact-bigint products,
    e6-quantized once — sqrt is correctly rounded, bit-identical
    cross-engine) + a row_number over the 20-row host frame."""
    from pyspark.sql.window import Window

    from ..functions.quality import wilson_lower_e6

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("source"),
        F.when(
            F.col("doc_id") % (F.col("doc_id") % 20 + 2) == 0,
            F.concat(F.lit("dupblob "), F.col("source")),
        ).otherwise(F.col("text")).alias("t"),
    )
    fam = Window.partitionBy(F.md5("t"))
    kept = d.select(
        "source",
        (F.min("doc_id").over(fam) == F.col("doc_id")).alias("is_first"),
    )
    agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_first").cast("bigint")).alias("n_kept"),
    )
    scored = agg.select(
        "source", "n_docs", "n_kept",
        wilson_lower_e6(F.col("n_kept"), F.col("n_docs")).alias("wilson_e6"),
    )
    rk = Window.orderBy(F.desc("wilson_e6"), F.col("source"))
    return scored.select(
        "source", "n_docs", "n_kept", "wilson_e6",
        F.row_number().over(rk).cast("int").alias("rank"),
    )


def q_host_wilson_sql(sf: str) -> str:
    from ..functions.quality import wilson_lower_e6_sql

    wilson = wilson_lower_e6_sql("n_kept", "n_docs")
    return f"""
        with _hw_staged as (
          select doc_id, source,
                 case when doc_id % ((doc_id % 20) + 2) = 0
                      then 'dupblob ' || source else text end as t
          from documents
        ),
        _hw_kept as (
          select source,
                 (min(doc_id) over (partition by md5(t)) = doc_id)
                   as is_first
          from _hw_staged
        ),
        _hw_agg as (
          select source, count(*)::BIGINT as n_docs,
                 sum(case when is_first then 1 else 0 end)::BIGINT as n_kept
          from _hw_kept group by 1
        ),
        _hw_scored as (
          select source, n_docs, n_kept, {wilson} as wilson_e6
          from _hw_agg
        )
        select source, n_docs, n_kept, wilson_e6,
               cast(row_number() over (order by wilson_e6 desc, source)
                    as int) as rank
        from _hw_scored
    """


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD anomaly flags on event values per event_type
    (operators/robust.py:mad_outliers): a row is anomalous iff
    |x − med| > 3·MAD — the breakdown-point-0.5 alerting rule a
    latency monitor uses so one straggler host cannot move its own
    fence (a mean/stddev fence chases the outliers it should flag).
    Values integer-staged to cents; ids ≡ 0 (mod 397) carry a planted
    +1000.00 spike (far above the natural max ~490) that MUST flag,
    giving the oracle a decidable planted class on top of the natural
    long tail. Lower medians via histogram-CDF (window over distinct
    cent values per type, never a corpus sort); the flag is an
    all-integer comparison — no division, bit-decidable cross-engine."""
    from ..operators.robust import mad_outliers

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("event_type"),
        (
            F.round(F.col("value") * 100).cast("bigint")
            + F.when(F.col("event_id") % 397 == 0, F.lit(100_000))
            .otherwise(F.lit(0))
        ).alias("value_e2"),
    )
    return mad_outliers(ev, "event_type", "value_e2", k=3).select(
        "event_id", "event_type", "value_e2",
        F.col("med").alias("med_e2"), F.col("mad").alias("mad_e2"),
        "is_outlier",
    )


def q_mad_outliers_sql(sf: str) -> str:
    from ..operators.robust import mad_outliers_sql

    body = mad_outliers_sql(
        rel="_mo_staged", group_col="event_type", val_col="value_e2",
        cols="r.event_id, r.event_type, r.value_e2", k=3,
    )
    return f"""
        with _mo_staged as (
          select cast(event_id as bigint) as event_id, event_type,
                 cast(round(value * 100) as bigint)
                 + case when event_id % 397 = 0 then 100000 else 0 end
                   as value_e2
          from events
        )
        select event_id, event_type, value_e2,
               med as med_e2, mad as mad_e2, is_outlier
        from ({body})
    """


def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit over events
    (operators/robust.py:key_skew_audit) — the pre-flight check run
    BEFORE picking a join/groupBy key at 100 TB: per candidate key,
    the parallelism ceiling (n_keys), the hottest-reducer share
    (top1_share_e6 — one key never splits without salting, so this IS
    the straggler bound) and the exact-integer Gini of the key-count
    distribution. The four candidates span the decision space:
    user_id (many keys, low skew — safe), event_type (5 keys — ceiling
    too low), hour-of-day (24 keys), and the degenerate lit(1)
    single-reducer key whose Gini is 0 yet top1_share is 100% —
    exactly why the audit reports BOTH statistics."""
    from ..operators.robust import key_skew_audit

    ev = _read(spark, sf_dir, "events")
    return key_skew_audit(ev, {
        "user_id": F.col("user_id").cast("bigint"),
        "event_type": F.col("event_type"),
        "hour_of_day": F.hour("ts").cast("bigint"),
        "single": F.lit(1).cast("bigint"),
    })


def q_skew_audit_sql(sf: str) -> str:
    from ..operators.robust import key_skew_audit_sql

    return key_skew_audit_sql(rel="events", candidates={
        "user_id": "cast(user_id as bigint)",
        "event_type": "event_type",
        "hour_of_day": "cast(extract(hour from ts) as bigint)",
        "single": "cast(1 as bigint)",
    })


def q_template_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-template drift audit between alternating-day windows
    (operators/profile.py:g_test_drift): each event_type's 2x2
    G-statistic (Dunning 1993 log-likelihood ratio — the text-count
    drift test) against the rest of the corpus, flagged at the
    chi-square(1) 95% bar. The staging deletes half of one template's
    period-1 mass (click events on odd days with odd ids), so 'click'
    MUST flag with the suite's largest G while the quantized signed
    micro-nat cells keep the whole statistic an exact bigint (zero-
    tolerance hash). One (type, period) partial-agg count, a tiny
    per-type rollup with broadcast totals — the corpus is scanned
    once, no window."""
    from ..operators.profile import g_test_drift

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("event_type"),
        (F.dayofyear("ts") % 2).cast("bigint").alias("period"),
    )
    staged = ev.where(
        ~(
            (F.col("event_type") == "click")
            & (F.col("period") == 1)
            & (F.col("event_id") % 2 == 1)
        )
    )
    return g_test_drift(staged, "event_type", "period")


def q_template_drift_sql(sf: str) -> str:
    from ..operators.profile import g_test_drift_sql

    staged = """
        select cast(event_id as bigint) as event_id, event_type,
               cast(dayofyear(ts) % 2 as bigint) as period
        from events
    """
    return g_test_drift_sql(
        rel=(
            f"(select * from ({staged}) where not (event_type = 'click'"
            " and period = 1 and event_id % 2 = 1))"
        ),
        group_col="event_type", period_col="period",
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source vocabulary-overlap matrix
    (operators/profile.py:source_token_jaccard) — the exact Jaccard
    between every pair of source token sets, read before weighting a
    training mixture. The corpus stages the three decidable bands:
    source index 7 docs become per-doc md5 hex blobs (disjoint from
    everything → every src7 pair is EXACTLY 0, and only survives
    because the pair grid left-joins the intersection), indices 2 and
    4 collapse to one shared sentinel phrase (identical sets → the
    (src2, src4) pair is EXACTLY 1e6), everything else keeps natural
    text (strictly interior band). One persisted distinct
    (source, token) frame feeds sizes + both self-join sides; the
    190-row pair grid is a deliberate tiny nested-loop."""
    from ..operators.profile import source_token_jaccard

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 20
    staged = d.select(
        F.col("source"),
        F.when(m == 7, F.md5(sid))
        .when(
            (m == 2) | (m == 4),
            F.lit("shared sentinel overlap phrase zq"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return source_token_jaccard(staged, "source", "text")


def q_source_overlap_sql(sf: str) -> str:
    from ..operators.profile import source_token_jaccard_sql

    staged = """
        select source,
               case when doc_id % 20 = 7 then md5(cast(doc_id as varchar))
                    when doc_id % 20 in (2, 4)
                      then 'shared sentinel overlap phrase zq'
                    else text end as text
        from documents
    """
    return source_token_jaccard_sql(
        rel=f"({staged})", group_col="source", text_col="text"
    )


# 63 words: clears the ledger's min_words=50 bar (7 × 9-word sentence)
_LEDGER_FILLER = " " + " ".join(
    ["the quick brown fox jumps over the lazy dog"] * 7
)
# the shared dup blob also clears the bar, so each family's FIRST
# holder must flow through to 'kept' — a ledger that drops the whole
# family (instead of keep-first) breaks the hash
_LEDGER_BLOB = "shared ledger blob" + _LEDGER_FILLER
_LEDGER_STAGE_SQL = f"""
        select doc_id,
               case when doc_id % 41 = 0 then ''
                    when doc_id % 23 = 0 then '{_LEDGER_BLOB}'
                    when doc_id % 19 = 0
                      then text || '{_LEDGER_FILLER} so badwordx happened'
                    when doc_id % 17 = 0 then text || '{_LEDGER_FILLER}'
                    else text end as t
        from documents
"""


def _ledger_stage_col() -> Column:
    """Spark twin of _LEDGER_STAGE_SQL."""
    d = F.col("doc_id")
    return (
        F.when(d % 41 == 0, F.lit(""))
        .when(d % 23 == 0, F.lit(_LEDGER_BLOB))
        .when(d % 19 == 0,
              F.concat(F.col("text"),
                       F.lit(_LEDGER_FILLER + " so badwordx happened")))
        .when(d % 17 == 0, F.concat(F.col("text"), F.lit(_LEDGER_FILLER)))
        .otherwise(F.col("text"))
    )


def q_drop_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document drop provenance (operators/ledger.py:drop_ledger):
    every page gets exactly ONE stage by first-drop-wins precedence
    (invalid → exact_dup → too_short → badwords → kept), so the funnel
    partitions the corpus — the attrition table a CCNet/C4/RefinedWeb
    -style pipeline publishes per drop. The staging plants every
    stage: %41 empty (invalid), %23 a shared 66-word blob (dup family
    whose FIRST holder must flow through to kept), %19 filler + a
    blocklisted token (badwords — the filler proves the page died at
    the blocklist, not at length), %17 clean filler (kept), natural
    short docs (too_short). One md5 family window is the single
    corpus shuffle; all other signals ride one scan-bound JVM
    projection."""
    from ..operators.ledger import drop_ledger

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _ledger_stage_col().alias("t"),
    )
    return drop_ledger(d, "doc_id", "t", min_words=50,
                       badwords=["badwordx"])


def q_drop_ledger_sql(sf: str) -> str:
    from ..operators.ledger import drop_ledger_sql

    return drop_ledger_sql(
        rel=f"({_LEDGER_STAGE_SQL})", id_col="doc_id", text_col="t",
        min_words=50, badwords=["badwordx"],
    )


def q_drop_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-attrition rollup of the drop ledger
    (operators/ledger.py:drop_funnel): (stage, n_docs, share_e6),
    additive because the ledger's first-drop-wins stages partition the
    corpus — sum(n_docs) is exactly the document count. One partial
    agg over the ledger with the grand total broadcast back."""
    from ..operators.ledger import drop_funnel

    return drop_funnel(q_drop_ledger(spark, sf_dir))


def q_drop_funnel_sql(sf: str) -> str:
    from ..operators.ledger import drop_funnel_sql

    return drop_funnel_sql(ledger_sql=q_drop_ledger_sql(sf))


BUDGET_SELECT_TOKENS = 8_000


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (operators/packing.py:
    budget_select): keep the highest-character-entropy documents (the
    gibberish-resistant quality proxy from char_entropy) until the
    next doc would cross the 8k-token budget — the "best N tokens"
    mixture cut, exact and whole-doc. The total order is the repo's
    fixed-width string convention: 7-digit DESCENDING entropy
    complement + zero-padded doc_id, lexicographic-identical on every
    engine. Scale shape: the entropy partial-agg pipeline, one
    doc-keyed equi-join to attach token counts, then the prefix-sum
    range shuffle (partition-parallel local sums + a bounded driver
    pass) — never a single-task global window; the oracle IS the
    window spelling, an independent algebra validating the prefix-sum
    construction."""
    from ..functions.text import lower_tokens
    from ..operators.packing import budget_select
    from ..operators.profile import char_entropy

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    ent = char_entropy(d, "doc_id", "text").select("doc_id", "entropy_e6")
    toks = d.select(
        "doc_id",
        F.size(lower_tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("bigint").alias("n_tokens"),
    )
    keyed = ent.join(toks, "doc_id").select(
        "doc_id", "entropy_e6", "n_tokens",
        F.concat(
            F.lpad((F.lit(9_999_999) - F.col("entropy_e6")).cast("string"),
                   7, "0"),
            F.lit("-"),
            F.lpad(F.col("doc_id").cast("string"), 12, "0"),
        ).alias("skey"),
    )
    out = budget_select(keyed, "skey", "n_tokens",
                        budget=BUDGET_SELECT_TOKENS)
    return out.select("doc_id", "entropy_e6", "n_tokens",
                      "cum_before", "selected")


def q_budget_select_sql(sf: str) -> str:
    from ..functions.text import LOWER_TOKENS_SQL
    from ..operators.profile import char_entropy_sql

    ent = char_entropy_sql(
        rel="(select cast(doc_id as bigint) as doc_id, text from documents)",
        id_col="doc_id", text_col="text",
    )
    toks = LOWER_TOKENS_SQL.format(c="coalesce(text, '')")
    return f"""
        with _bs_ent as ({ent}),
        _bs_tok as (
          select cast(doc_id as bigint) as doc_id,
                 len({toks})::BIGINT as n_tokens
          from documents
        ),
        _bs_keyed as (
          select e.doc_id, e.entropy_e6, t.n_tokens,
                 lpad(cast(9999999 - e.entropy_e6 as varchar), 7, '0')
                 || '-' || lpad(cast(e.doc_id as varchar), 12, '0') as skey
          from _bs_ent e join _bs_tok t using (doc_id)
        )
        select doc_id, entropy_e6, n_tokens,
               coalesce(sum(n_tokens) over (order by skey
                 rows between unbounded preceding and 1 preceding),
                 0)::BIGINT as cum_before,
               (coalesce(sum(n_tokens) over (order by skey
                  rows between unbounded preceding and 1 preceding), 0)
                + n_tokens) <= {BUDGET_SELECT_TOKENS} as selected
        from _bs_keyed
    """


TRUSTRANK_ITERATIONS = 4


def _trustrank_edges_cte() -> str:
    """DuckDB edge generator mirroring q_trustrank's Spark-side synth:
    node u links to (u·11 + 5j + 2) mod N for j = 0..(u mod 3) —
    distinct constants from the PageRank graph so the two queries
    exercise different topologies."""
    return """
        select d.doc_id as src,
               (d.doc_id * 11 + 5 * j.j + 2)
                 % (select count(*) from documents) as dst,
               1 + d.doc_id % 3 as outdeg
        from documents d, generate_series(0, 2) as j(j)
        where j.j <= d.doc_id % 3
    """


def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer TrustRank (Gyongyi et al. 2004; operators/graph.py:
    trustrank_integer) over a seeded link graph on documents: trust
    originates only at the vetted set (doc_id % 13 == 0 — the
    "manually reviewed" pages) and decays along the same style of
    deterministic synth edges as q_pagerank (different constants).
    All-integer per-edge floor divisions make the result bit-exact
    under any partitioning — including the EXACT ZERO on every node
    with no in-path from a seed within 4 hops, which float TrustRank
    cannot express. Oracle: 4 unrolled CTE iterations generated by
    the same module."""
    from ..operators.graph import trustrank_integer

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    n = d.count()  # bounded driver scalar (node count)
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3)).alias("j"),
        )
        .select(
            "src",
            ((F.col("src") * 11 + F.col("j") * 5 + 2) % F.lit(n)).alias("dst"),
        )
    )
    seeds = d.where(F.col("doc_id") % 13 == 0)
    out = trustrank_integer(edges, seeds, nodes=d,
                            iterations=TRUSTRANK_ITERATIONS)
    return out.select(F.col("node").alias("doc_id"), "is_seed", "trust")


def q_trustrank_sql(sf: str) -> str:
    from ..operators.graph import trustrank_oracle_sql

    inner = trustrank_oracle_sql(
        "documents", "doc_id", _trustrank_edges_cte(),
        "doc_id % 13 = 0", iterations=TRUSTRANK_ITERATIONS,
    )
    return f"select node as doc_id, is_seed, trust from ({inner})"


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile-rank normalization of document quality
    (operators/robust.py:quantile_normalize): each doc's char-entropy
    score becomes its percentile WITHIN its language — the
    cross-language-comparable form (CCNet's per-language-percentile
    lesson: raw scores from different languages are incommensurable;
    ranks are not). Exact law: pct_e6 = round(1e6·cum_below/(n−1))
    over the per-language score histogram — strictly-below numerator,
    group min → 0, unique max → exactly 1e6, ties share a value. The
    histogram-CDF window runs over distinct scores per language only;
    assignment back is one (lang, score) equi-join."""
    from ..operators.profile import char_entropy
    from ..operators.robust import quantile_normalize

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang", "text"
    )
    ent = char_entropy(d, "doc_id", "text").select("doc_id", "entropy_e6")
    scored = d.select("doc_id", "lang").join(ent, "doc_id")
    return quantile_normalize(scored, "lang", "entropy_e6").select(
        "doc_id", "lang", "entropy_e6", "pct_e6"
    )


def q_quantile_norm_sql(sf: str) -> str:
    from ..operators.profile import char_entropy_sql
    from ..operators.robust import quantile_normalize_sql

    ent = char_entropy_sql(
        rel="(select cast(doc_id as bigint) as doc_id, text from documents)",
        id_col="doc_id", text_col="text",
    )
    scored = f"""(
          select d.doc_id, d.lang, e.entropy_e6
          from (select cast(doc_id as bigint) as doc_id, lang
                from documents) d
          join ({ent}) e using (doc_id)
        )"""
    return quantile_normalize_sql(
        rel=scored, group_col="lang", score_col="entropy_e6",
        cols="r.doc_id, r.lang, r.entropy_e6",
    )


SHARD_PLAN_TARGET = 20_000


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced export sharding (operators/packing.py:
    shard_plan): documents in deterministic doc_id order are assigned
    shard_id = exclusive-prefix-bytes div 20k — contiguous, resumable
    byte-range shards whose overshoot is bounded by one document. The
    prefix-sum range shuffle is the scale spelling (no single-task
    window); the oracle is the window spelling — independent algebra.
    Byte size is n_chars (the documents table's materialized length
    column, validated against length(text) by the table_profile
    family)."""
    from ..operators.packing import shard_plan

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_chars").cast("bigint").alias("n_bytes"),
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("okey"),
    )
    out = shard_plan(d, "okey", "n_bytes", target_bytes=SHARD_PLAN_TARGET)
    return out.select("doc_id", "n_bytes", "cum_before", "shard_id")


def q_shard_plan_sql(sf: str) -> str:
    return f"""
        with _sp as (
          select cast(doc_id as bigint) as doc_id,
                 cast(n_chars as bigint) as n_bytes,
                 lpad(cast(doc_id as varchar), 12, '0') as okey
          from documents
        )
        select doc_id, n_bytes,
               coalesce(sum(n_bytes) over (order by okey
                 rows between unbounded preceding and 1 preceding),
                 0)::BIGINT as cum_before,
               coalesce(sum(n_bytes) over (order by okey
                 rows between unbounded preceding and 1 preceding),
                 0)::BIGINT // {SHARD_PLAN_TARGET} as shard_id
        from _sp
    """


def q_fuzzy_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo'd-title fuzzy self-join (operators/fuzzy.py:fuzzy_join_ed1
    — FastSS/SymSpell deletion-neighborhood banding, EXACT for d = 1):
    every unordered doc pair whose staged 12-hex title is within one
    edit. The staging builds 5-doc families on a shared md5 stem with
    one substitution / one deletion / one insertion / two exact copies,
    so all three edit kinds and the ed = 0 class are planted; pairs of
    DIFFERENT edits (distance 2) must be absent — they enter the
    candidate set via a shared deletion key and must die at the verify.
    The oracle is the independent brute-force algebra (length-prune +
    levenshtein, no deletion keys), so a banding false-negative breaks
    the row count."""
    from ..operators.fuzzy import fuzzy_join_ed1

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    base = F.substring(F.md5(F.expr("cast(doc_id div 5 as string)")), 1, 12)
    m = F.col("doc_id") % 5
    title = (
        F.when(m == 1, F.concat(F.substring(base, 1, 2), F.lit("z"),
                                F.substring(base, 4, 9)))
        .when(m == 2, F.substring(base, 2, 11))
        .when(m == 3, F.concat(F.lit("q"), base))
        .otherwise(base)
    )
    return fuzzy_join_ed1(d.select("doc_id", title.alias("title")),
                          "doc_id", "title")


def q_fuzzy_titles_sql(sf: str) -> str:
    from ..operators.fuzzy import fuzzy_join_ed1_oracle_sql

    staged = """
        select cast(doc_id as bigint) as doc_id,
               case when doc_id % 5 = 1 then
                      substr(b, 1, 2) || 'z' || substr(b, 4, 9)
                    when doc_id % 5 = 2 then substr(b, 2, 11)
                    when doc_id % 5 = 3 then 'q' || b
                    else b end as title
        from (select doc_id,
                     substr(md5(cast(doc_id // 5 as varchar)), 1, 12) as b
              from documents)
    """
    return fuzzy_join_ed1_oracle_sql(
        rel=f"({staged})", id_col="doc_id", str_col="title"
    )


# 3 ms: strictly below the corpus's minimum natural same-host gap at
# every SF (4,217 µs at sf0.1, growing at smaller SFs), so unstaged
# hosts are compliant by construction
POLITENESS_MIN_GAP_US = 3_000


def q_politeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay compliance audit (operators/frontier.py:
    politeness_audit — the inverse of fetch_schedule): per host, the
    integer-microsecond gap to the previous fetch, flagged when
    strictly under the crawl delay. Hosts are users folded mod 25;
    the staging collapses host h3's clock to ``raw_us % 1000`` (a
    crawler hammering one host — every staged gap ≤ 999 µs), so EVERY
    non-first h3 fetch violates the 3 ms delay while every other
    host's natural cadence (≥ 4,217 µs between same-host events at
    the densest SF) stays compliant — both flag classes planted,
    decided by exact integer arithmetic. One host-keyed shuffle + a
    partition-parallel lag window; the single corpus scan shape."""
    from ..operators.events import _ts_us
    from ..operators.frontier import politeness_audit

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.concat(F.lit("h"), (F.col("user_id") % 25).cast("string"))
        .alias("host"),
        _ts_us("ts").alias("raw_us"),
    ).select(
        "event_id", "host",
        F.when(F.col("host") == "h3", F.col("raw_us") % 1000)
        .otherwise(F.col("raw_us")).alias("ts_us"),
    )
    # h3's collapsed clock guarantees equal-µs ties → event_id tiebreak
    return politeness_audit(
        ev, "host", "ts_us", min_gap_us=POLITENESS_MIN_GAP_US,
        tiebreak_col="event_id",
    )


def q_politeness_audit_sql(sf: str) -> str:
    from ..operators.frontier import politeness_audit_sql

    staged = """
        select event_id, host,
               case when host = 'h3' then raw_us % 1000
                    else raw_us end as ts_us
        from (select cast(event_id as bigint) as event_id,
                     'h' || cast(user_id % 25 as varchar) as host,
                     epoch_us(ts) as raw_us
              from events)
    """
    return politeness_audit_sql(
        rel=f"({staged})", host_col="host", ts_col="ts_us",
        min_gap_us=POLITENESS_MIN_GAP_US,
        cols="event_id, host, ts_us", tiebreak_col="event_id",
    )


def q_dup_family_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family size distribution (operators/ledger.py:
    dup_family_histogram) — the post-dedup corpus-health histogram.
    The staging plants one mega-family (every %7 doc becomes the same
    blob — the boilerplate-page-crawled-N-times pathology whose
    docs_share row is the cap-don't-dedup signal) on top of the
    natural corpus families. Two stacked partial-agg counts; the
    share division runs on the tiny size-histogram frame."""
    from ..operators.ledger import dup_family_histogram

    d = _read(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 7 == 0, F.lit("megafam boilerplate blob"))
        .otherwise(F.col("text")).alias("t")
    )
    return dup_family_histogram(d, "t")


def q_dup_family_hist_sql(sf: str) -> str:
    from ..operators.ledger import dup_family_histogram_sql

    staged = """
        select case when doc_id % 7 = 0 then 'megafam boilerplate blob'
                    else text end as t
        from documents
    """
    return dup_family_histogram_sql(rel=f"({staged})", text_col="t")


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode script histogram + mixed-script spam flag
    (operators/profile.py:script_mix) — the encoding-health signal run
    before language ID. The ASCII corpus is staged with every
    decidable class: %11==3 docs keep their Latin text but gain a
    Cyrillic tail (Latin-dominant AND mixed), %11==7 become 18 Han chars
    plus 'ok' — 2/20 letters sits EXACTLY on the inclusive 100‰ bar
    (Han-dominant, is_mixed must read true), %11==5 become Arabic-pure (dominant
    arabic, not mixed), everything else stays Latin-only. Pure
    whole-stage-codegen regexp chain, zero exchanges — the cdx_index
    scan-bound shape."""
    from ..operators.profile import script_mix

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 11
    staged = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.when(m == 3, F.concat(F.col("text"), F.lit(" привет мир зеркало")))
        .when(m == 7, F.lit("你好世界网页抓取与清洗流水线数据处理 ok"))
        .when(m == 5, F.lit("مرحبا بالعالم تحليل النصوص"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return script_mix(staged, "doc_id", "text")


def q_script_mix_sql(sf: str) -> str:
    from ..operators.profile import script_mix_sql

    staged = """
        select cast(doc_id as bigint) as doc_id,
               case when doc_id % 11 = 3
                      then text || ' привет мир зеркало'
                    when doc_id % 11 = 7
                      then '你好世界网页抓取与清洗流水线数据处理 ok'
                    when doc_id % 11 = 5
                      then 'مرحبا بالعالم تحليل النصوص'
                    else text end as text
        from documents
    """
    return script_mix_sql(rel=f"({staged})", id_col="doc_id", text_col="text")


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl-priority ranking (operators/frontier.py:
    decayed_activity): per-user exact power-of-2 time-decayed activity
    over the 30-day event stream — newest-day events weigh 2^30, each
    day halves, all bigint (no float decay), so the hot-yesterday key
    outranks the same lifetime volume spread thin. One broadcast
    max-date anchor + ONE map-side-combinable per-key agg; the rank
    window runs over the ~150-row aggregate, never the events."""
    from ..operators.frontier import decayed_activity

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"), F.col("ts")
    )
    return decayed_activity(
        ev, "user_id", "ts", horizon_days=30, recent_days=7
    )


def q_recrawl_priority_sql(sf: str) -> str:
    from ..operators.frontier import decayed_activity_sql

    return decayed_activity_sql(
        rel="(select cast(user_id as bigint) as user_id, ts from events)",
        key_col="user_id",
        ts_col="ts",
        horizon_days=30,
        recent_days=7,
    )


def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery-gap audit (operators/frontier.py:
    sitemap_coverage): per host, declared-vs-crawled URL coverage. The
    sitemap XML is BUILT per host from the documents table (locs for
    doc_id%3!=1, string_agg in sorted order so both engines render the
    same blob), the crawl log covers doc_id%4!=2 — so every host has
    all three decidable classes (both / gap / orphan). The Spark side
    is the broadcast semi-join decomposition (the fetch log is scanned,
    never shuffled); the oracle is the INDEPENDENT full-outer spelling."""
    from ..operators.frontier import sitemap_coverage

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), F.col("source")
    )
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example/page"),
        F.col("doc_id").cast("string"),
    )
    sitemaps = (
        d.where(F.expr("(doc_id div 20) % 3 != 1"))
        .select(F.col("source"), F.concat(F.lit("<url><loc>"), url,
                                          F.lit("</loc></url>")).alias("entry"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(F.array_sort(F.collect_list("entry")), ""),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    crawled = d.where(F.expr("(doc_id div 20) % 4 != 2")).select(
        F.col("source"), url.alias("url")
    )
    return sitemap_coverage(sitemaps, "source", "xml", crawled, "source", "url")


def q_sitemap_coverage_sql(sf: str) -> str:
    from ..operators.frontier import sitemap_coverage_sql

    url = "'https://' || source || '.example/page' || cast(doc_id as varchar)"
    sitemaps = f"""
        select source,
               '<urlset>' || string_agg(
                 '<url><loc>' || {url} || '</loc></url>', ''
                 order by '<url><loc>' || {url} || '</loc></url>'
               ) || '</urlset>' as xml
        from documents where (doc_id // 20) % 3 != 1
        group by source
    """
    crawled = f"""
        select source, {url} as url
        from documents where (doc_id // 20) % 4 != 2
    """
    return sitemap_coverage_sql(
        sitemaps_rel=f"({sitemaps})", host_col="source", xml_col="xml",
        crawled_rel=f"({crawled})", crawled_host_col="source", url_col="url",
    )


def q_minhash_calib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration bins (operators/dedup.py:
    minhash_calibration) — per estimate decile over the production LSH
    candidate pairs, how far the 16-hash signature agreement sits from
    the exact shingle Jaccard. Same corpus, same shingle law, same
    coefficient family as `minhash_lsh`; shingles and signatures each
    built once and persisted for their two consumers."""
    from ..operators.dedup import minhash_calibration

    d = _read(spark, sf_dir, "documents")
    return minhash_calibration(d, "doc_id", "text", num_hashes=16, bands=4)


def q_minhash_calib_sql(sf: str) -> str:
    from ..operators.dedup import MINHASH_PRIME, minhash_coeffs

    coeff_rows = ", ".join(
        f"({i}, {a}::bigint, {b}::bigint)"
        for i, (a, b) in enumerate(minhash_coeffs(16))
    )
    return f"""
        with {SHINGLE_CTES},
        coeffs(hi, a, b) as (values {coeff_rows}),
        mh as (
          select doc_id, hi,
            min((a * ('0x' || substr(md5(shingle), 1, 8))::bigint + b)
                % {MINHASH_PRIME}) as h
          from sh, coeffs
          group by doc_id, hi
        ),
        sig as (select doc_id, list(h order by hi) as sig from mh group by doc_id),
        bands as (
          select doc_id, b as band_idx,
            md5(array_to_string(list_transform(sig[b*4+1 : b*4+4],
                x -> cast(x as varchar)), ',')) as band_key
          from sig, lateral (select unnest(range(4)) as b)
        ),
        cand as (
          select distinct a.doc_id as id_a, b.doc_id as id_b
          from bands a join bands b using (band_idx, band_key)
          where a.doc_id < b.doc_id
        ),
        est as (
          select c.id_a, c.id_b,
                 sum(case when x.h = y.h then 1 else 0 end)::BIGINT
                   as matches
          from cand c
          join mh x on x.doc_id = c.id_a
          join mh y on y.doc_id = c.id_b and y.hi = x.hi
          group by 1, 2
        ),
        sz as (select doc_id, count(*)::BIGINT as s from sh group by 1),
        inter as (
          select c.id_a, c.id_b, count(*)::BIGINT as i
          from cand c
          join sh p on p.doc_id = c.id_a
          join sh q on q.doc_id = c.id_b and q.shingle = p.shingle
          group by 1, 2
        ),
        pairs as (
          select (e.matches * 1000000 // 16) as est_e6,
                 (coalesce(i.i, 0) * 1000000
                  // (sa.s + sb.s - coalesce(i.i, 0))) as true_e6
          from est e
          left join inter i on i.id_a = e.id_a and i.id_b = e.id_b
          join sz sa on sa.doc_id = e.id_a
          join sz sb on sb.doc_id = e.id_b
        )
        select least(est_e6 // 100000, 9)::BIGINT as bin,
               count(*)::BIGINT as n_pairs,
               (sum(est_e6) // count(*))::BIGINT as mean_est_e6,
               (sum(true_e6) // count(*))::BIGINT as mean_true_e6,
               (sum(abs(est_e6 - true_e6)) // count(*))::BIGINT
                 as mean_abs_err_e6
        from pairs group by 1
    """


def q_snm_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking + verify (operators/fuzzy.py:
    snm_pairs — Hernández & Stolfo merge/purge): candidates are each
    record's window−1 successors in blocking-key order, then one exact
    levenshtein per candidate. The key reuses the fuzzy_titles staged
    family titles (md5 stems with planted substitution / deletion /
    insertion / copies), so family members sort adjacent and the
    verify column carries real 0/1/2 distances. The Spark rank is the
    range-shuffle prefix sum (never the single-task global window);
    the oracle IS that window spelling plus a rank-distance self-join
    — an independent algebra."""
    from ..operators.fuzzy import snm_pairs

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    base = F.substring(F.md5(F.expr("cast(doc_id div 5 as string)")), 1, 12)
    m = F.col("doc_id") % 5
    title = (
        F.when(m == 1, F.concat(F.substring(base, 1, 2), F.lit("z"),
                                F.substring(base, 4, 9)))
        .when(m == 2, F.substring(base, 2, 11))
        .when(m == 3, F.concat(F.lit("q"), base))
        .otherwise(base)
    )
    pairs = snm_pairs(
        d.select("doc_id", title.alias("title")), "doc_id", "title",
        window=4,
    )
    return pairs.withColumn(
        "ed_key", F.levenshtein("key_a", "key_b").cast("bigint")
    )


def q_snm_blocking_sql(sf: str) -> str:
    from ..operators.fuzzy import snm_pairs_oracle_sql

    staged = """
        select cast(doc_id as bigint) as doc_id,
               case when doc_id % 5 = 1
                      then substr(md5(cast(doc_id // 5 as varchar)), 1, 2)
                           || 'z'
                           || substr(md5(cast(doc_id // 5 as varchar)), 4, 9)
                    when doc_id % 5 = 2
                      then substr(md5(cast(doc_id // 5 as varchar)), 2, 11)
                    when doc_id % 5 = 3
                      then 'q' || substr(md5(cast(doc_id // 5 as varchar)), 1, 12)
                    else substr(md5(cast(doc_id // 5 as varchar)), 1, 12)
               end as title
        from documents
    """
    inner = snm_pairs_oracle_sql(
        rel=f"({staged})", id_col="doc_id", key_col="title", window=4
    )
    return f"""
        select id_a, id_b, key_a, key_b, dist,
               levenshtein(key_a, key_b)::BIGINT as ed_key
        from ({inner})
    """


def q_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KS drift of the document-length distribution
    (operators/profile.py:ks_drift) — the shape-sensitive audit that
    catches a source whose LENGTH distribution shifted while its
    volume stayed flat (exactly what the count-based G-test misses).
    Staging shifts src13's n_chars by +250 (one corpus IQR), a pure
    translation with zero volume change — src13 must carry the suite's
    largest ks_e6, clear of the small-sample noise floor
    (KS ~ 1/sqrt(n_g) ≈ 0.25 at the sf0.001 per-source n of 25).
    All bigint cross products over the common n_g·n_rest denominator;
    at_value is the smallest value achieving the max."""
    from ..operators.profile import ks_drift

    d = _read(spark, sf_dir, "documents").select(
        F.col("source"),
        F.when(F.col("source") == "src13", F.col("n_chars") + 250)
        .otherwise(F.col("n_chars"))
        .cast("bigint")
        .alias("len"),
    )
    return ks_drift(d, "source", "len")


def q_length_drift_sql(sf: str) -> str:
    from ..operators.profile import ks_drift_sql

    staged = """
        select source,
               cast(case when source = 'src13' then n_chars + 250
                         else n_chars end as bigint) as len
        from documents
    """
    return ks_drift_sql(rel=f"({staged})", group_col="source", val_col="len")


def q_rater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Cohen's kappa (operators/evaluation.py:cohens_kappa)
    between two cheap quality raters — the chance-corrected check run
    before swapping raters in a filtering pipeline. Rater A: length
    floor (n_chars >= 300); rater B: BPE-token floor (>= 60 tokens) —
    correlated through document length but not identical, so kappa
    sits strictly inside (0, 1); doc_id%31 rows get a NULL rater-A
    label (partially-rated rows must neither vanish nor crash). One
    scan → (source, a, b) counts; marginals, agree and the chance
    cross term all derive from that small frame."""
    from ..operators.evaluation import cohens_kappa

    d = _read(spark, sf_dir, "documents")
    staged = d.select(
        F.col("source"),
        F.when(F.col("doc_id") % 31 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.when(F.col("n_chars") >= 300, F.lit("keep"))
            .otherwise(F.lit("drop"))
        )
        .alias("rater_a"),
        F.when(
            token_count_bpe(F.col("text")) >= 60, F.lit("keep")
        )
        .otherwise(F.lit("drop"))
        .alias("rater_b"),
    )
    return cohens_kappa(staged, "source", "rater_a", "rater_b")


def q_rater_kappa_sql(sf: str) -> str:
    from ..operators.evaluation import cohens_kappa_sql

    staged = f"""
        select source,
               case when doc_id % 31 = 0 then NULL
                    when n_chars >= 300 then 'keep'
                    else 'drop' end as rater_a,
               case when len(regexp_extract_all(text,
                      '{BPE_TOKEN_PATTERN}')) >= 60 then 'keep'
                    else 'drop' end as rater_b
        from documents
    """
    return cohens_kappa_sql(
        rel=f"({staged})", group_col="source",
        rater_a="rater_a", rater_b="rater_b",
    )


def q_lang_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — BPE-ish tokens per
    whitespace word (functions/text.py single-definition token laws),
    the tokenizer-fit audit run before fixing a training mixture (a
    language whose fertility is 2× pays 2× the compute per word and
    silently shrinks its effective mixture share). Staging turns
    lang='de' into hyphen-joined compounds (spaces → hyphens: one ws
    word per doc, the bpe count unchanged) — de must rank top by an
    order of magnitude. One scan, ONE partially-aggregable rollup;
    fertility is a single integer division of the exact sums (NULL
    for a zero-word group, never a divide-by-zero)."""
    d = _read(spark, sf_dir, "documents")
    staged_text = F.when(
        F.col("lang") == "de",
        F.regexp_replace(F.col("text"), " ", "-"),
    ).otherwise(F.col("text"))
    per_doc = d.select(
        F.col("lang"),
        token_count_ws(staged_text).cast("bigint").alias("n_ws"),
        token_count_bpe(staged_text).cast("bigint").alias("n_bpe"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").alias("sum_words"),
        F.sum("n_bpe").alias("sum_tokens"),
    )
    return agg.select(
        "lang", "n_docs", "sum_words", "sum_tokens",
        F.when(F.col("sum_words") == 0, F.lit(None).cast("bigint"))
        .otherwise(F.expr("sum_tokens * 1000 div sum_words"))
        .alias("fertility_e3"),
    )


def q_lang_fertility_sql(sf: str) -> str:
    staged = "case when lang = 'de' then replace(text, ' ', '-') else text end"
    return f"""
        with _lf as (
          select lang,
                 len({_TOKENS_SQL.format(c=staged)}) as n_ws,
                 len(regexp_extract_all({staged},
                     '{BPE_TOKEN_PATTERN}')) as n_bpe
          from documents
        )
        select lang, count(*)::BIGINT as n_docs,
               sum(n_ws)::BIGINT as sum_words,
               sum(n_bpe)::BIGINT as sum_tokens,
               case when sum(n_ws) = 0 then NULL
                    else sum(n_bpe) * 1000 // sum(n_ws)
               end::BIGINT as fertility_e3
        from _lf group by 1
    """


def q_crawl_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-continuity audit (operators/frontier.py:
    crawl_gaps): distinct active days → span, missed days, longest
    gap, coverage. Staging deletes days 10–19 of the 30-day event
    stream for users ≡ 5 (mod 10), so those hosts must read
    longest_gap = 10 while the rest stay gap-free — frontier
    starvation made decidable. The fetch log collapses to a
    (host, day) distinct partial agg before any window."""
    from ..operators.frontier import crawl_gaps

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("host"), F.col("ts")
    )
    staged = ev.where(
        ~(
            (F.col("host") % 10 == 5)
            & F.dayofmonth("ts").between(10, 19)
        )
    )
    return crawl_gaps(staged, "host", "ts")


def q_crawl_gaps_sql(sf: str) -> str:
    from ..operators.frontier import crawl_gaps_sql

    staged = """
        select cast(user_id as bigint) as host, ts from events
        where not (user_id % 10 = 5
                   and day(ts) between 10 and 19)
    """
    return crawl_gaps_sql(rel=f"({staged})", host_col="host", ts_col="ts")


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged-retrieval scorecard (operators/ranking.py:
    retrieval_metrics — exact-integer MRR / P@10 / binary NDCG@10
    with Python-precomputed gain literals, so neither engine evaluates
    a log): each source is a 'query', its docs ranked by portable md5
    (a deterministic stand-in run), relevance = page-index
    (doc_id div 20) ≡ 1 (mod 4) — doc_id itself is congruent mod 20
    per source, so a doc_id-mod relevance would be all-or-nothing per
    query; the page index interleaves, giving interior metrics.
    The per-source ranking window is partition-parallel (20 keys);
    the metrics are two partial aggs + broadcast literal dims."""
    from ..operators.ranking import retrieval_metrics

    d = _read(spark, sf_dir, "documents").select(
        F.col("source"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr("(doc_id div 20) % 4 = 1").alias("rel"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    run = d.select(
        "source", "rel",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )
    return retrieval_metrics(run, "source", "rank", "rel", k=10)


def q_retrieval_eval_sql(sf: str) -> str:
    from ..operators.ranking import retrieval_metrics_sql

    run = """
        select source, ((doc_id // 20) % 4 = 1) as rel,
               cast(row_number() over (
                 partition by source
                 order by md5(cast(doc_id as varchar)), doc_id
               ) as bigint) as rank
        from documents
    """
    return retrieval_metrics_sql(
        rel=f"({run})", query_col="source", rank_col="rank",
        rel_col="rel", k=10,
    )


def q_trimmed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source trimmed mean of document length (operators/robust.py:
    trimmed_mean, 10% symmetric) — the robust host-quality location:
    the staged spam class (page-index ≡ 0 mod 17 gets n_chars × 100)
    must NOT move the trimmed mean materially while it drags the raw
    mean by orders of magnitude. Histogram-CDF clipping, never a
    per-row rank; sign-peeled exact division."""
    from ..operators.robust import trimmed_mean

    d = _read(spark, sf_dir, "documents").select(
        F.col("source"),
        F.when(
            F.expr("(doc_id div 20) % 17 = 0"), F.col("n_chars") * 100
        )
        .otherwise(F.col("n_chars"))
        .cast("bigint")
        .alias("len"),
    )
    return trimmed_mean(d, "source", "len", trim_permille=100)


def q_trimmed_quality_sql(sf: str) -> str:
    from ..operators.robust import trimmed_mean_sql

    staged = """
        select source,
               cast(case when (doc_id // 20) % 17 = 0 then n_chars * 100
                         else n_chars end as bigint) as len
        from documents
    """
    return trimmed_mean_sql(
        rel=f"({staged})", group_col="source", val_col="len",
        trim_permille=100,
    )


def q_param_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host URL parameter-explosion audit (operators/frontier.py:
    param_explosion). Staged URL space: every doc is a fetch of
    ``/page{p%7}`` (p = the per-host page index); hosts with source
    index ≡ 2 (mod 5) append a unique ``?sid=`` per fetch — the
    session-id explosion — so those hosts must read
    urls_per_path_e3 ≫ 1000 and their worst path carries the blown-up
    distinct-URL count, while clean hosts sit at exactly 1000."""
    from ..operators.frontier import param_explosion

    d = _read(spark, sf_dir, "documents").select(
        F.col("source"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )
    sidx = F.regexp_replace(F.col("source"), "[^0-9]", "").cast("bigint")
    base = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example/page"),
        (F.expr("doc_id div 20") % 7).cast("string"),
    )
    url = F.when(
        sidx % 5 == 2,
        F.concat(base, F.lit("?sid="), F.col("doc_id").cast("string")),
    ).otherwise(base)
    return param_explosion(
        d.select("source", url.alias("url")), "source", "url"
    )


def q_param_explosion_sql(sf: str) -> str:
    from ..operators.frontier import param_explosion_sql

    staged = """
        select source,
               case when cast(regexp_replace(source, '[^0-9]', '', 'g')
                         as bigint) % 5 = 2
                    then 'https://' || source || '.example/page'
                         || cast((doc_id // 20) % 7 as varchar)
                         || '?sid=' || cast(doc_id as varchar)
                    else 'https://' || source || '.example/page'
                         || cast((doc_id // 20) % 7 as varchar)
               end as url
        from documents
    """
    return param_explosion_sql(
        rel=f"({staged})", host_col="source", url_col="url"
    )


def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON field extraction over the event props payload
    (functions/json.py) — the semi-structured hot path of every
    telemetry pipeline, JVM-codegen end to end (get_json_object +
    try_cast; no Python parser). The staging nests the real
    ``props`` ({"k": n}) under $.meta and adds a tag array; every
    tolerant-semantics class is planted: event_id ≡ 0 (mod 13)
    truncates the payload (malformed → NULLs + valid=false),
    $.meta.absent probes the missing path, and $.tags[0] reads an
    array element. The DuckDB twin guards via try_cast-to-JSON
    (a CASE over the raw VARCHAR is vector-cast before filtering —
    found live in this arc)."""
    from ..functions.json import json_field, json_field_bigint, json_valid

    # r6: fan out the one-split scan (guide §2.5) before the JSON path
    # extraction chain
    ev = _fan_out(_read(spark, sf_dir, "events"))
    payload = F.concat(
        F.lit('{"meta": '), F.col("props"),
        F.lit(', "tags": ["'), F.col("event_type"), F.lit('", "x"]}'),
    )
    staged = ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.when(
            F.col("event_id") % 13 == 0, F.substring(payload, 1, 9)
        )
        .otherwise(payload)
        .alias("j"),
    )
    return staged.select(
        "event_id",
        json_field_bigint(F.col("j"), "$.meta.k").alias("k"),
        json_field(F.col("j"), "$.tags[0]").alias("tag0"),
        json_field(F.col("j"), "$.meta.absent").alias("absent"),
        json_valid(F.col("j")).alias("valid"),
    )


def q_props_extract_sql(sf: str) -> str:
    from ..functions.json import json_field_sql, json_valid_sql

    staged = """
        select cast(event_id as bigint) as event_id,
               case when event_id % 13 = 0
                    then substr('{"meta": ' || props
                         || ', "tags": ["' || event_type || '", "x"]}',
                         1, 9)
                    else '{"meta": ' || props
                         || ', "tags": ["' || event_type || '", "x"]}'
               end as j
        from events
    """
    return f"""
        select event_id,
               {json_field_sql('j', '$.meta.k', as_bigint=True)} as k,
               {json_field_sql('j', '$.tags[0]')} as tag0,
               {json_field_sql('j', '$.meta.absent')} as absent,
               {json_valid_sql('j')} as valid
        from ({staged})
    """


def q_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type JSON schema-drift profile (operators/profile.py:
    json_schema_profile): top-level key shares, with invalid payloads
    surfacing as the tracked ``∅invalid`` share. Staging gives each
    event type a distinct schema footprint: 'click' adds an "x" key,
    'view' adds "y", event_id ≡ 0 (mod 11) truncates (the producer
    shipping garbage), everything keeps the base "k" — so each type's
    key-share vector is decidable."""
    from ..operators.profile import json_schema_profile

    ev = _read(spark, sf_dir, "events")
    extra = (
        F.when(F.col("event_type") == "click", F.lit(', "x": 1}'))
        .when(F.col("event_type") == "view", F.lit(', "y": 2}'))
        .otherwise(F.lit("}"))
    )
    payload = F.concat(
        F.lit('{"k": '),
        F.get_json_object("props", "$.k"),
        extra,
    )
    staged = ev.select(
        F.col("event_type"),
        F.when(
            F.col("event_id") % 11 == 0, F.substring(payload, 1, 6)
        )
        .otherwise(payload)
        .alias("j"),
    )
    return json_schema_profile(staged, "event_type", "j")


def q_json_schema_sql(sf: str) -> str:
    from ..operators.profile import json_schema_profile_sql

    staged = """
        select event_type,
               case when event_id % 11 = 0
                    then substr(p, 1, 6) else p end as j
        from (
          select event_id, event_type,
                 '{"k": ' || json_extract_string(try_cast(props as json),
                                                 '$.k')
                 || case when event_type = 'click' then ', "x": 1}'
                         when event_type = 'view' then ', "y": 2}'
                         else '}' end as p
          from events
        )
    """
    return json_schema_profile_sql(
        rel=f"({staged})", group_col="event_type", json_col="j"
    )


_SWEEP_NTOK = 16


def _sweep_keep_expr_sql() -> str:
    # members m<=1 are exact copies (hamming-0 truth), m=2 light edit,
    # m=3 heavier, m=4 mostly rewritten
    return ("case when (doc_id % 5) <= 1 then 16 "
            "when doc_id % 5 = 2 then 13 "
            "when doc_id % 5 = 3 then 10 else 7 end")


def q_simhash_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash threshold operating curve (operators/dedup.py:
    simhash_threshold_sweep) over a constructed family corpus: fam =
    doc_id div 5; members 0–1 are EXACT copies (the hamming-0 band),
    member 2 swaps 3 of 16 md5-derived tokens, member 3 swaps 6,
    member 4 swaps 9; truth = family id for members ≤ 2 (so member
    3/4 matches are false positives the curve must price). Every
    precision/recall point is exact; recall's denominator counts ALL
    true pairs, so band-missed pairs stay in fn."""
    from ..operators.dedup import simhash_threshold_sweep

    # r6: fan out the one-split scan (guide §2.5) before the md5
    # token staging + simhash
    d = _fan_out(_read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    ))
    m = F.col("doc_id") % 5
    keep = (
        F.when(m <= 1, F.lit(16))
        .when(m == 2, F.lit(13))
        .when(m == 3, F.lit(10))
        .otherwise(F.lit(7))
    )
    fam = F.expr("doc_id div 5").cast("string")
    toks = [
        F.when(
            F.lit(i) < keep,
            F.substring(
                F.md5(F.concat(F.lit("f"), fam, F.lit(f"-{i}"))), 1, 6
            ),
        ).otherwise(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("d"), F.col("doc_id").cast("string"),
                        F.lit(f"-{i}"),
                    )
                ),
                1, 6,
            )
        )
        for i in range(_SWEEP_NTOK)
    ]
    staged = d.select(
        "doc_id",
        F.concat_ws(" ", *toks).alias("text"),
        F.when(m <= 2, fam).alias("family"),
    )
    return simhash_threshold_sweep(staged, "doc_id", "text", "family")


def q_simhash_sweep_sql(sf: str) -> str:
    keep = _sweep_keep_expr_sql()
    tok_sqls = [
        f"case when {i} < ({keep}) then "
        f"substr(md5('f' || cast(doc_id // 5 as varchar) || '-{i}'), 1, 6) "
        f"else substr(md5('d' || cast(doc_id as varchar) || '-{i}'), 1, 6) "
        f"end"
        for i in range(_SWEEP_NTOK)
    ]
    text = " || ' ' || ".join(tok_sqls)
    staged = f"""
        select cast(doc_id as bigint) as doc_id,
               {text} as text,
               case when doc_id % 5 <= 2
                    then cast(doc_id // 5 as varchar) end as family
        from documents
    """
    bit_terms = _simhash_bit_terms()
    # independent algebra: brute-force all pairs (no banding), exact
    # hamming from the shared simhash rendering, cumulative per t
    return f"""
        with staged as ({staged}),
        s as (
          select doc_id, family,
            case when len(hs) > 0 then {bit_terms} else 0 end as simhash
          from (
            select doc_id, family,
                   list_transform({TOKENS_SQL.format(c='text')},
                     t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) as hs
            from staged
          )
        ),
        pairs as (
          select bit_count(xor(a.simhash, b.simhash)) as h,
                 (a.family is not null and a.family = b.family) as same
          from s a join s b on a.doc_id < b.doc_id
          where bit_count(xor(a.simhash, b.simhash)) <= 7
        ),
        tt as (
          select coalesce(sum(k * (k - 1) // 2), 0)::BIGINT as total_true
          from (select count(*)::BIGINT as k from staged
                where family is not null group by family)
        ),
        grid as (select unnest(range(8)) as t)
        select cast(g.t as bigint) as t,
               count(p.h)::BIGINT as n_pred,
               coalesce(sum(case when p.same then 1 else 0 end),
                        0)::BIGINT as tp,
               coalesce(sum(case when p.same then 0 else 1 end),
                        0)::BIGINT as fp,
               (tt.total_true - coalesce(sum(case when p.same then 1
                 else 0 end), 0))::BIGINT as fn,
               case when count(p.h) = 0 then NULL
                    else coalesce(sum(case when p.same then 1 else 0
                      end), 0) * 1000000 // count(p.h)
               end::BIGINT as precision_e6,
               case when tt.total_true = 0 then 0
                    else coalesce(sum(case when p.same then 1 else 0
                      end), 0) * 1000000 // tt.total_true
               end::BIGINT as recall_e6
        from grid g cross join tt
        left join pairs p on p.h <= g.t
        group by g.t, tt.total_true
    """


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve (operators/profile.py:
    vocab_growth) over the documents corpus in doc_id order, 25-doc
    buckets — the diversity audit read before adding another crawl
    dump (a flattening cum_types curve says the new data repeats the
    old vocabulary). Exact point set, shared token law; the staging
    makes the LAST fifth of the corpus md5-gibberish so the curve
    must bend sharply UP there (gibberish = all-new types), the
    decidable inversion of the natural flattening."""
    from ..operators.profile import vocab_growth

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("text"),
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 20 >= 16,
            F.concat(
                F.md5(F.concat(F.lit("g1"), F.col("doc_id").cast("string"))),
                F.lit(" "),
                F.md5(F.concat(F.lit("g2"), F.col("doc_id").cast("string"))),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return vocab_growth(staged, "doc_id", "text", bucket_size=25)


def q_vocab_growth_sql(sf: str) -> str:
    from ..operators.profile import vocab_growth_sql

    staged = """
        select cast(doc_id as bigint) as doc_id,
               case when doc_id % 20 >= 16
                    then md5('g1' || cast(doc_id as varchar)) || ' '
                         || md5('g2' || cast(doc_id as varchar))
                    else text end as text
        from documents
    """
    return vocab_growth_sql(
        rel=f"({staged})", id_col="doc_id", text_col="text",
        bucket_size=25,
    )


def q_host_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index audit of the host-size distribution
    (operators/profile.py:hill_tail_index, k=10) — the heavy-tail
    check a crawl planner runs before choosing a host partitioning
    (small α: the biggest hosts dominate total mass → stragglers →
    mandatory source caps). Staging gives host sizes a geometric tail
    (per-source char mass shifted by 2^(idx mod 12)), so the top-10
    ln-ratio ladder is decidable and the estimator lands in a pinned
    band."""
    from ..operators.profile import hill_tail_index

    d = _read(spark, sf_dir, "documents")
    staged = d.select(
        F.col("source"),
        (
            F.col("n_chars")
            * F.expr(
                "shiftleft(cast(1 as bigint), "
                "cast(regexp_replace(source, '[^0-9]', '') as int) % 12)"
            )
        ).cast("bigint").alias("mass"),
    )
    return hill_tail_index(staged, "source", "mass", k=10)


def q_host_tail_index_sql(sf: str) -> str:
    from ..operators.profile import hill_tail_index_sql

    staged = """
        select source,
               cast(n_chars * (1::BIGINT <<
                 (cast(regexp_replace(source, '[^0-9]', '', 'g') as int)
                  % 12)) as bigint) as mass
        from documents
    """
    return hill_tail_index_sql(
        rel=f"({staged})", key_col="source", size_col="mass", k=10
    )


def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-epoch deterministic reshuffle plan (operators/packing.py:
    epoch_shuffle, seed 7) over the documents corpus — every epoch is
    an exact bijection onto 0..N−1 in a reproducible md5-keyed order,
    computed by the range-shuffle prefix-sum rank (epoch-major key),
    never a single-task window. The oracle IS the single-node window
    spelling — an independent algebra."""
    from ..operators.packing import epoch_shuffle

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )
    return epoch_shuffle(d, "doc_id", epochs=3, seed=7)


def q_epoch_plan_sql(sf: str) -> str:
    from ..operators.packing import epoch_shuffle_sql

    return epoch_shuffle_sql(
        rel="(select cast(doc_id as bigint) as doc_id from documents)",
        id_col="doc_id",
        epochs=3,
        seed=7,
    )


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph structure constants (operators/graph.py:
    graph_structure) over the SHARED seeded link family (the
    pagerank/HITS/triangle edge builder: u → (u·7+3j+1) mod N,
    j = 0..u%3) plus a planted reciprocal clique (docs ≡ 0 mod 50
    link back to their successor's target), so reciprocity has a
    decidable floor and the assortativity moments are non-degenerate.
    One row: reciprocity + degree assortativity — the crawl-quality
    alarms (link farm → reciprocity ≈ 1; single-hub scrape → strongly
    negative assortativity)."""
    from ..operators.graph import graph_structure

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    n = d.count()
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.sequence(F.lit(0), F.col("doc_id") % 3)
            ).alias("j"),
        )
        .select(
            "src",
            ((F.col("src") * 7 + F.col("j") * 3 + 1) % F.lit(n))
            .alias("dst"),
        )
        .select("src", "dst")
    )
    back = edges.where(F.col("src") % 50 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return graph_structure(edges.unionByName(back), "src", "dst")


def q_graph_stats_sql(sf: str) -> str:
    from ..operators.graph import graph_structure_sql

    edges = """
        with _n as (select count(*)::BIGINT as n from documents),
        fwd as (
          select doc_id as src,
                 (doc_id * 7 + j.j * 3 + 1) % _n.n as dst
          from documents cross join _n
          cross join lateral (
            select unnest(range(doc_id % 3 + 1)) as j
          ) j
        )
        select src, dst from fwd
        union all
        select dst as src, src as dst from fwd where src % 50 = 0
    """
    return graph_structure_sql(
        edges_rel=f"({edges})", src_col="src", dst_col="dst"
    )


def q_crawl_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-ops CAPSTONE — one per-host health scorecard
    composing the family's four audits over the event fetch log:
    politeness violations (hosts ≡ 3 mod 7 get a 1000×-compressed
    clock, so their fetches burst under the 60 s delay), day coverage
    and longest gap (hosts ≡ 5 mod 10 lose days 10–19 — frontier
    starvation), and the decayed recrawl rank. Each component keeps
    its operator's registered scale shape (lag window per host; the
    (host, day) distinct pre-agg; one broadcast anchor + partial
    agg); the stitch joins three tiny per-host frames. Output: one
    row per host (n_fetches, n_violations, violation_share_e6,
    n_active, longest_gap, coverage_e6, score, recrawl_rank)."""
    from ..operators.frontier import crawl_gaps, politeness_audit
    from ..operators.frontier import decayed_activity

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("host"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("ts"),
    )
    base = ev.where(
        ~(
            (F.col("host") % 10 == 5)
            & F.dayofmonth("ts").between(10, 19)
        )
    )
    ts_us = F.unix_micros(F.col("ts").cast("timestamp")).cast("bigint")
    fetch = base.select(
        "host", "event_id",
        F.when(F.col("host") % 7 == 3, F.expr(
            "unix_micros(cast(ts as timestamp)) div 1000"
        ))
        .otherwise(ts_us)
        .alias("ts_us"),
    )
    pol = (
        politeness_audit(
            fetch, "host", "ts_us", min_gap_us=60_000_000,
            tiebreak_col="event_id",
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.sum(F.col("violation").cast("bigint")).alias("n_violations"),
        )
        .select(
            "host", "n_fetches", "n_violations",
            F.expr("n_violations * 1000000 div n_fetches")
            .alias("violation_share_e6"),
        )
    )
    gaps = crawl_gaps(base, "host", "ts").select(
        "host", "n_active", "longest_gap", "coverage_e6"
    )
    act = decayed_activity(base, "host", "ts").select(
        F.col("key").alias("host"), "score",
        F.col("rank").alias("recrawl_rank"),
    )
    return pol.join(gaps, "host").join(act, "host")


def q_crawl_health_sql(sf: str) -> str:
    from ..operators.frontier import (
        crawl_gaps_sql,
        decayed_activity_sql,
        politeness_audit_sql,
    )

    base = """
        select cast(user_id as bigint) as host,
               cast(event_id as bigint) as event_id, ts
        from events
        where not (user_id % 10 = 5 and day(ts) between 10 and 19)
    """
    fetch = f"""
        select host, event_id,
               case when host % 7 = 3
                    then epoch_us(ts) // 1000
                    else epoch_us(ts) end as ts_us
        from ({base})
    """
    pol_rows = politeness_audit_sql(
        rel=f"({fetch})", host_col="host", ts_col="ts_us",
        min_gap_us=60_000_000, cols="host", tiebreak_col="event_id",
    )
    gaps = crawl_gaps_sql(rel=f"({base})", host_col="host", ts_col="ts")
    act = decayed_activity_sql(rel=f"({base})", key_col="host",
                               ts_col="ts")
    return f"""
        with _ch_pol as (
          select host, count(*)::BIGINT as n_fetches,
                 sum(case when violation then 1 else 0 end)::BIGINT
                   as n_violations
          from ({pol_rows}) group by 1
        ),
        _ch_gaps as ({gaps}),
        _ch_act as ({act})
        select p.host, p.n_fetches, p.n_violations,
               (p.n_violations * 1000000 // p.n_fetches)::BIGINT
                 as violation_share_e6,
               g.n_active, g.longest_gap, g.coverage_e6,
               a.score, a.rank as recrawl_rank
        from _ch_pol p
        join _ch_gaps g on g.host = p.host
        join _ch_act a on a.key = p.host
    """


def q_layout_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max clustering quality (operators/layout.py:overlap_depth)
    of TWO 15-file layouts of the event stream, side by side — the
    measurement that justifies sorted/Z-ordered writes instead of
    asserting them: 'hashed' files events by md5 bucket (the
    no-clustering baseline — synthetic event ids are TIME-ORDERED, so
    an id-ranged layout is secretly sorted; found live when 'arrival'
    read depth 1 — every hashed file's ts range spans the month:
    depth = n_files, pruning useless), 'time' files by day pairs
    (depth 1-2, every predicate prunes). Value = epoch micros. One
    partial agg per layout collapses 100k events to 15 (min, max)
    rows; the sweep and pair join run on that frame."""
    from ..operators.layout import overlap_depth

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.dayofmonth("ts").alias("dom"),
    )
    hashed = ev.select(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
                16, 10,
            ).cast("bigint"),
            F.lit(15),
        ).alias("f"),
        F.col("ts_us"),
    )
    by_time = ev.select(
        F.expr("(dom - 1) div 2").alias("f"), F.col("ts_us")
    )
    a = overlap_depth(hashed, "f", "ts_us").select(
        F.lit("hashed").alias("layout"), "*"
    )
    t = overlap_depth(by_time, "f", "ts_us").select(
        F.lit("time").alias("layout"), "*"
    )
    return a.unionByName(t)


def q_layout_depth_sql(sf: str) -> str:
    from ..operators.layout import overlap_depth_sql

    base = """
        select cast(event_id as bigint) as event_id,
               epoch_us(ts) as ts_us, day(ts) as dom,
               (select count(*) from events) as n
        from events
    """
    hashed = f"""
        select ('0x' || substr(md5(cast(event_id as varchar)), 1, 8))::BIGINT
                 % 15 as f,
               ts_us
        from ({base})
    """
    by_time = f"select (dom - 1) // 2 as f, ts_us from ({base})"
    a = overlap_depth_sql(rel=f"({hashed})", file_col="f", val_col="ts_us")
    t = overlap_depth_sql(rel=f"({by_time})", file_col="f", val_col="ts_us")
    return f"""
        select 'hashed' as layout, * from ({a})
        union all
        select 'time' as layout, * from ({t})
    """


def q_encoding_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar encoding advisor (operators/profile.py:
    encoding_advisor) over four staged event columns whose structures
    pin all three advices: 'month' (one giant run → rle), 'etype'
    (5 distinct values alternating id-to-id → dict, runs too short
    for rle), 'eid_str' (all-unique → plain), and 'sparse_flag'
    (NULL except every 97th id — NULL runs are runs → rle). The run
    law uses the id = id+1 equi-join (dense event ids, woven
    assert), never a global window."""
    from ..operators.profile import encoding_advisor

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.month("ts").alias("month"),
        F.col("event_type").alias("etype"),
        F.col("event_id").cast("string").alias("eid_str"),
        F.when(F.col("event_id") % 97 == 0, F.lit("hit")).alias(
            "sparse_flag"
        ),
    )
    return encoding_advisor(
        ev, "event_id", ["month", "etype", "eid_str", "sparse_flag"]
    )


def q_encoding_advice_sql(sf: str) -> str:
    from ..operators.profile import encoding_advisor_sql

    staged = """
        select cast(event_id as bigint) as event_id,
               month(ts) as month, event_type as etype,
               cast(event_id as varchar) as eid_str,
               case when event_id % 97 = 0 then 'hit' end as sparse_flag
        from events
    """
    return encoding_advisor_sql(
        rel=f"({staged})", id_col="event_id",
        cols=["month", "etype", "eid_str", "sparse_flag"],
    )


def q_apportion_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder apportionment (operators/sampling.py:
    apportion) of a 10,000-slot eval budget across sources
    proportional to char mass — the exact-total answer to "mirror the
    corpus mix" (naive per-stratum rounding misses the total). Staged
    geometric mass skew (2^(idx mod 5)) makes quotas decidably uneven
    and exercises the remainder top-up; Σ quota == 10,000 exactly is
    the method's defining property (pinned)."""
    from ..operators.sampling import apportion

    d = _read(spark, sf_dir, "documents").select(
        F.col("source"),
        (
            F.col("n_chars")
            * F.expr(
                "shiftleft(cast(1 as bigint), "
                "cast(regexp_replace(source, '[^0-9]', '') as int) % 5)"
            )
        ).cast("bigint").alias("mass"),
    )
    return apportion(d, "source", "mass", total=10_000)


def q_apportion_mix_sql(sf: str) -> str:
    from ..operators.sampling import apportion_sql

    staged = """
        select source,
               cast(n_chars * (1::BIGINT <<
                 (cast(regexp_replace(source, '[^0-9]', '', 'g') as int)
                  % 5)) as bigint) as mass
        from documents
    """
    return apportion_sql(
        rel=f"({staged})", key_col="source", size_col="mass",
        total=10_000,
    )


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 Sitemap-directive extraction (operators/frontier.py:
    sitemap_directives) over staged per-host robots bodies covering
    every parse class: idx ≡ 0 (mod 4) declares two sitemaps with one
    duplicated line (n_decls 3, n_distinct 2), ≡ 1 has a robots file
    with no directives (zero row), ≡ 2 uses mixed case + tab
    whitespace (the (?im) anchor must still hit), ≡ 3 has a NULL
    body. Completes the discovery loop: robots_filter (may I fetch) →
    THIS (where are the sitemaps) → sitemap_coverage (did I fetch
    what they declared)."""
    from ..operators.frontier import sitemap_directives

    d = _read(spark, sf_dir, "documents").select("source").distinct()
    sidx = F.regexp_replace(F.col("source"), "[^0-9]", "").cast("bigint")
    m = sidx % 4
    url1 = F.concat(F.lit("https://"), F.col("source"),
                    F.lit(".example/sitemap.xml"))
    url2 = F.concat(F.lit("https://"), F.col("source"),
                    F.lit(".example/news.xml"))
    body = (
        F.when(
            m == 0,
            F.concat(
                F.lit("User-agent: *\nDisallow: /private/\nSitemap: "),
                url1, F.lit("\nSitemap: "), url2,
                F.lit("\nSitemap: "), url1,
            ),
        )
        .when(m == 1, F.lit("User-agent: *\nAllow: /"))
        .when(
            m == 2,
            F.concat(F.lit("  SiteMap:\t"), url1,
                     F.lit("\nUser-agent: *")),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return sitemap_directives(
        d.select("source", body.alias("robots")), "source", "robots"
    )


def q_robots_sitemaps_sql(sf: str) -> str:
    from ..operators.frontier import sitemap_directives_sql

    staged = """
        select source,
               case
                 when cast(regexp_replace(source, '[^0-9]', '', 'g')
                      as bigint) % 4 = 0
                 then 'User-agent: *' || chr(10) || 'Disallow: /private/'
                      || chr(10) || 'Sitemap: https://' || source
                      || '.example/sitemap.xml'
                      || chr(10) || 'Sitemap: https://' || source
                      || '.example/news.xml'
                      || chr(10) || 'Sitemap: https://' || source
                      || '.example/sitemap.xml'
                 when cast(regexp_replace(source, '[^0-9]', '', 'g')
                      as bigint) % 4 = 1
                 then 'User-agent: *' || chr(10) || 'Allow: /'
                 when cast(regexp_replace(source, '[^0-9]', '', 'g')
                      as bigint) % 4 = 2
                 then '  SiteMap:' || chr(9) || 'https://' || source
                      || '.example/sitemap.xml' || chr(10)
                      || 'User-agent: *'
                 else NULL
               end as robots
        from (select distinct source from documents)
    """
    return sitemap_directives_sql(
        rel=f"({staged})", host_col="source", robots_col="robots"
    )


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents-side CAPSTONE — the per-source dataset card a
    curator publishes with a corpus drop, composing the audit
    family's registered shapes into one row per source: volume
    (n_docs), robust length (the 10% trimmed mean — one spam blob
    can't move it), exact-dedup retention (keep-first md5 families,
    the dedup_exact law: n_kept + dup_share), and lexical richness
    (distinct token types + types-per-doc). Each component keeps its
    operator's scale shape (histogram-CDF clipping; one md5-keyed
    window; one distinct (source, token) partial agg); the stitch
    joins four tiny per-source frames. The staged ×100 spam class
    (page-index ≡ 0 mod 17) is INCLUDED so the trimmed mean's
    robustness is visible in the card itself."""
    from pyspark.sql.window import Window as W

    from ..operators.robust import trimmed_mean

    d = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("source"),
        F.col("text"),
        F.when(
            F.expr("(doc_id div 20) % 17 = 0"), F.col("n_chars") * 100
        )
        .otherwise(F.col("n_chars"))
        .cast("bigint")
        .alias("len"),
    )
    tm = trimmed_mean(d, "source", "len", trim_permille=100).select(
        "source", F.col("mean_e6").alias("trimmed_len_e6")
    )
    fam = W.partitionBy(F.md5("text"))
    kept = (
        d.select(
            "source",
            (F.min("doc_id").over(fam) == F.col("doc_id"))
            .cast("bigint")
            .alias("is_first"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_first").alias("n_kept"),
        )
        .select(
            "source", "n_docs", "n_kept",
            F.expr("(n_docs - n_kept) * 1000000 div n_docs")
            .alias("dup_share_e6"),
        )
    )
    from ..functions.text import lower_tokens

    vocab = (
        d.select(
            "source",
            F.explode(
                lower_tokens(F.coalesce(F.col("text"), F.lit("")))
            ).alias("tok"),
        )
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("vocab_types"))
    )
    return (
        kept.join(tm, "source")
        .join(vocab, "source")
        .select(
            "source", "n_docs", "n_kept", "dup_share_e6",
            "trimmed_len_e6", "vocab_types",
            F.expr("vocab_types * 1000 div n_docs")
            .alias("types_per_doc_e3"),
        )
    )


def q_dataset_card_sql(sf: str) -> str:
    from ..functions.text import LOWER_TOKENS_SQL
    from ..operators.robust import trimmed_mean_sql

    staged = """
        select cast(doc_id as bigint) as doc_id, source, text,
               cast(case when (doc_id // 20) % 17 = 0 then n_chars * 100
                         else n_chars end as bigint) as len
        from documents
    """
    tm = trimmed_mean_sql(
        rel=f"({staged})", group_col="source", val_col="len",
        trim_permille=100,
    )
    toks = LOWER_TOKENS_SQL.format(c="coalesce(text, '')")
    return f"""
        with _dc_base as ({staged}),
        _dc_tm as (
          select source, mean_e6 as trimmed_len_e6 from ({tm})
        ),
        _dc_kept as (
          select source, count(*)::BIGINT as n_docs,
                 sum(case when is_first then 1 else 0 end)::BIGINT
                   as n_kept
          from (
            select source,
                   min(doc_id) over (partition by md5(text)) = doc_id
                     as is_first
            from _dc_base
          ) group by 1
        ),
        _dc_vocab as (
          select source, count(*)::BIGINT as vocab_types
          from (
            select distinct source, tok from (
              select source, unnest({toks}) as tok from _dc_base
            )
          ) group by 1
        )
        select k.source, k.n_docs, k.n_kept,
               ((k.n_docs - k.n_kept) * 1000000 // k.n_docs)::BIGINT
                 as dup_share_e6,
               t.trimmed_len_e6, v.vocab_types,
               (v.vocab_types * 1000 // k.n_docs)::BIGINT
                 as types_per_doc_e3
        from _dc_kept k
        join _dc_tm t on t.source = k.source
        join _dc_vocab v on v.source = k.source
    """


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class confusion scorecard (operators/evaluation.py:
    confusion_scorecard) of the stopword lang_id heuristic against
    the corpus lang labels — per class: support, predicted count, tp,
    and exact-integer precision/recall/F1 (the 2tp/(n_true+n_pred)
    rational law). The 'und' class (no stopword hits anywhere) is a
    predicted-but-never-true class whose recall is honestly NULL.
    One (truth, pred) count; every statistic from that small matrix."""
    from ..operators.evaluation import confusion_scorecard

    # r6: the stopword lang_id scan is the cost (per-doc token-set
    # intersections) and feeds one map-side-combinable count — fan out
    d = _fan_out(_read(spark, sf_dir, "documents").select("lang", "text")).select(
        F.col("lang"), lang_id(F.col("text")).alias("pred")
    )
    return confusion_scorecard(d, "lang", "pred")


def q_lang_confusion_sql(sf: str) -> str:
    from ..operators.evaluation import confusion_scorecard_sql

    _, lid_case = _lang_id_sql_parts()
    staged = f"""
        select lang, {lid_case} as pred from (
          select lang, {TOKENS_SQL.format(c='text')} as tk
          from documents
        )
    """
    return confusion_scorecard_sql(
        rel=f"({staged})", truth_col="lang", pred_col="pred"
    )


def q_weighted_len_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-median vs BYTE-median length per source (operators/
    robust.py:weighted_lower_median, weight = the length itself):
    on the staged heavy tail (×100 spam class on page-index ≡ 0 mod
    17) the two answers diverge decidably — the byte-weighted median
    JUMPS to the spam lengths (most BYTES live in blobs) while the
    doc median barely moves. Exactly the statistic that tells a
    curator 'your corpus is fine by doc count and dominated by spam
    by volume'. Same histogram-CDF law as the robust family."""
    from ..operators.robust import (
        group_lower_median,
        weighted_lower_median,
    )

    d = _read(spark, sf_dir, "documents").select(
        F.col("source"),
        F.when(
            F.expr("(doc_id div 20) % 17 = 0"), F.col("n_chars") * 100
        )
        .otherwise(F.col("n_chars"))
        .cast("bigint")
        .alias("len"),
    )
    med = group_lower_median(d, "source", "len", alias="doc_median")
    wmed = weighted_lower_median(
        d, "source", "len", "len", alias="byte_median"
    )
    return med.join(wmed, "source")


def q_weighted_len_median_sql(sf: str) -> str:
    from ..operators.robust import weighted_lower_median_sql

    staged = """
        select source,
               cast(case when (doc_id // 20) % 17 = 0 then n_chars * 100
                         else n_chars end as bigint) as len
        from documents
    """
    wm = weighted_lower_median_sql(
        rel=f"({staged})", group_col="source", val_col="len",
        weight_col="len", alias="byte_median",
    )
    return f"""
        with _wl_base as ({staged}),
        _wl_med as (
          select source, min(len) as doc_median from (
            select source, len,
                   sum(c) over (partition by source order by len
                     rows between unbounded preceding and current row
                   ) as cum,
                   sum(c) over (partition by source) as n
            from (select source, len, count(*)::BIGINT as c
                  from _wl_base group by 1, 2)
          ) where cum * 2 >= n group by 1
        )
        select m.source, m.doc_median, w.byte_median
        from _wl_med m join ({wm}) w on w.source = m.source
    """


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    # (spark_fn, sql_fn or None)
    "clean_extract": (q_clean_extract, q_clean_extract_sql),
    "valid_filter": (q_valid_filter, q_valid_filter_sql),
    "tokenize_stats": (q_tokenize_stats, q_tokenize_stats_sql),
    "template_extract": (q_template_extract, q_template_extract_sql),
    "template_prefix_buckets": (q_template_prefix_buckets, q_template_prefix_buckets_sql),
    "parse_route_agg": (q_parse_route_agg, q_parse_route_agg_sql),
    "enrich_lang_join": (q_enrich_lang_join, q_enrich_lang_join_sql),
    "route_counts": (q_route_counts, q_route_counts_sql),
    "top_patterns": (q_top_patterns, q_top_patterns_sql),
    "log_levels": (q_log_levels, q_log_levels_sql),
    "pricing_summary": (q_pricing_summary, q_pricing_summary_sql),
    "top_customers": (q_top_customers, q_top_customers_sql),
    "events_by_hour": (q_events_by_hour, q_events_by_hour_sql),
    "value_percentiles": (q_value_percentiles, q_value_percentiles_sql),
    "events_cube": (q_events_cube, q_events_cube_sql),
    "user_sessions": (q_user_sessions, q_user_sessions_sql),
    "dedup_exact": (q_dedup_exact, q_dedup_exact_sql),
    "ngram_jaccard": (q_ngram_jaccard, q_ngram_jaccard_sql),
    "minhash_lsh": (q_minhash_lsh, q_minhash_lsh_sql),
    "simhash": (q_simhash, q_simhash_sql),
    "ann_topk": (q_ann_topk, q_ann_topk_sql),
    "embedding_near_dup": (q_embedding_near_dup, q_embedding_near_dup_sql),
    "simhash_near_dup": (q_simhash_near_dup, q_simhash_near_dup_sql),
    "dedup_components": (q_dedup_components, q_dedup_components_sql),
    "dedup_components_star": (q_dedup_components_star, q_dedup_components_sql),
    "knn_join": (q_knn_join, q_knn_join_sql),
    "ivf_ann": (q_ivf_ann, q_knn_join_sql),
    "ngram_topk": (q_ngram_topk, q_ngram_topk_sql),
    "stratified_sample": (q_stratified_sample, q_stratified_sample_sql),
    "late_orders": (q_late_orders, q_late_orders_sql),
    "priority_revenue": (q_priority_revenue, q_priority_revenue_sql),
    "dedup_filtered": (q_dedup_filtered, q_dedup_filtered_sql),
    "lang_quality": (q_lang_quality, q_lang_quality_sql),
    "pii_redact": (q_pii_redact, q_pii_redact_sql),
    # r5: the two most-cited published web-corpus recipes, named —
    # Gopher A1.1 quality rules and C4 line/page cleaning, both pure
    # JVM with module-generated oracles over seeded trip-class corpora
    "gopher_rules": (q_gopher_rules, q_gopher_rules_sql),
    "gopher_repetition": (q_gopher_repetition, q_gopher_repetition_sql),
    "c4_clean": (q_c4_clean, q_c4_clean_sql),
    # r5: postings-list construction, doc-sharded for term skew; the
    # postings_md5 anchor pins every list's membership AND order
    "inverted_index": (q_inverted_index, q_inverted_index_sql),
    # r5: sharded-export round trip — oracle recomputes the manifest
    # from the source table while Spark must earn it from written files
    "shard_export": (q_shard_export, q_shard_export_sql),
    # r5: incremental crawl dedup against a (md5, simhash) snapshot
    # summary; oracle is the naive all-pairs NOT EXISTS algebra
    "incremental_dedup": (q_incremental_dedup, q_incremental_dedup_sql),
    "grok_parse": (q_grok_parse, q_grok_parse_sql),
    "repetition_signals": (q_repetition_signals, q_repetition_signals_sql),
    "region_rollup": (q_region_rollup, q_region_rollup_sql),
    "variables_extract": (q_variables_extract, q_variables_extract_sql),
    "parsed_projection": (q_parsed_projection, q_parsed_projection_sql),
    "split_components": (q_split_components, q_split_components_sql),
    "per_sink_topk": (q_per_sink_topk, q_per_sink_topk_sql),
    "para_dedup": (q_para_dedup, q_para_dedup_sql),
    "source_cap": (q_source_cap, q_source_cap_sql),
    # r5: span-level ExactSubstr dedup (Lee et al. 2022)
    "exact_substring": (q_exact_substring, q_exact_substring_sql),
    # r5: native MP4/MP3 container demux, oracle pinned on the
    # closed-form synth metadata (see q_media_metadata docstring)
    "media_metadata": (q_media_metadata, q_media_metadata_sql),
    # r5: native Layer II PCM decode — the oracle pins the DECODED
    # dominant subband (see q_audio_decode docstring)
    "audio_decode": (q_audio_decode, q_audio_decode_sql),
    # r5: integer-arithmetic PageRank — bit-exact cross-engine, oracle
    # unrolled by the same module (see q_pagerank docstring)
    "pagerank": (q_pagerank, q_pagerank_sql),
    # r5: degree-ordered triangle counting over a seeded ring+hub graph
    # — oracle is the independent naive triple join
    "triangle_count": (q_triangle_count, q_triangle_count_sql),
    "redirect_resolve": (q_redirect_resolve, q_redirect_resolve_sql),
    # r5: quality-priority dedup — keep each dup family's LONGEST member;
    # oracle recomputes simhash pairs + exact star edges + recursive-CTE
    # components + a window argmax
    "dedup_best": (q_dedup_best, q_dedup_best_sql),
    # r5: URL canonicalization over seeded messy URLs — oracle derives
    # the expected canonical string arithmetically
    "url_canonicalize": (q_url_canonicalize, q_url_canonicalize_sql),
    # r5: HTML text/title/link/meta extraction over seeded markup —
    # oracle derives the rendered text closed-form (see q_html_extract)
    "html_extract": (q_html_extract, q_html_extract_sql),
    # r5: WARC container write→explode→HTTP-parse round trip — every
    # field closed-form in the documents row (see q_warc_extract)
    "warc_extract": (q_warc_extract, q_warc_extract_sql),
    # r5: crawl-frontier Bloom filter — oracle recomputes the exact
    # words and verdicts (see q_bloom_frontier)
    "bloom_frontier": (q_bloom_frontier, q_bloom_frontier_sql),
    # r5: charset sniff + total transcode over four seeded encoding
    # classes — oracle states charset + decoded text closed-form
    "charset_decode": (q_charset_decode, q_charset_decode_sql),
    # r5: anchor-text aggregation over the shared seeded link family —
    # oracle regenerates edges + anchor strings (see q_anchor_text_agg)
    "anchor_text_agg": (q_anchor_text_agg, q_anchor_text_agg_sql),
    # r5: RFC 9309 robots.txt filtering — verdict closed-form per
    # (path class, host index); see q_robots_filter
    "robots_filter": (q_robots_filter, q_robots_filter_sql),
    # r5: composed web rollup (urls → robots → dup identity → per-host
    # aggregates) — the north rule's per-sink count-parity shape
    "web_domain_rollup": (q_web_domain_rollup, q_web_domain_rollup_sql),
    # r5: portable HyperLogLog — the oracle recomputes the sketch
    # itself (md5 registers are engine-identical; see q_hll_distinct)
    "hll_distinct": (q_hll_distinct, q_hll_distinct_sql),
    # r5: BM25 ranked retrieval, full scoring recompute in DuckDB
    "bm25_topk": (q_bm25_topk, q_bm25_topk_sql),
    # r5: CCNet-style bigram-LM perplexity filter — train on the
    # trusted 80%, integer micro-nat scores, oracle regenerated by the
    # same module
    "lm_quality": (q_lm_quality, q_lm_quality_sql),
    # r5: Count-Min sketch — all-integer, exact cross-engine parity
    "cms_counts": (q_cms_counts, q_cms_counts_sql),
    # r5: mergeable quantile sketch (HdrHistogram-style log histogram)
    # — pure integer bit arithmetic, zero-tolerance oracle
    "quantile_sketch": (q_quantile_sketch, q_quantile_sketch_sql),
    # r5: distributed BPE tokenizer training — oracle is the trainer
    # unrolled into CTEs by the same module (pagerank pattern)
    "bpe_merges": (q_bpe_merges, q_bpe_merges_sql),
    # r5: two-pass exact heavy hitters (Misra-Gries candidates + exact
    # recount) — exact output, plain-SQL oracle
    "heavy_hitters": (q_heavy_hitters, q_heavy_hitters_sql),
    # r5: CDX capture-index rows over seeded messy URLs — the SURT
    # urlkey is closed-form per variation class
    "cdx_index": (q_cdx_index, q_cdx_index_sql),
    # r5: two-snapshot crawl diff keyed on the SURT urlkey — spellings
    # differ across snapshots so the key collapse is load-bearing
    "crawl_diff": (q_crawl_diff, q_crawl_diff_sql),
    # r5: CMS-template clustering by tag-skeleton fingerprint — six
    # closed-form classes; content/comment axes must collapse
    "html_template_cluster": (q_html_template_cluster, q_html_template_cluster_sql),
    # r5: corpus tokenization under the trained merges — Spark encodes
    # per row in codegen, the oracle encodes the distinct vocabulary
    "bpe_tokenize": (q_bpe_tokenize, q_bpe_tokenize_sql),
    # r5: largest-text-block main-content extraction + link-density
    # boilerplate signal — script decoy paragraph must be dropped
    "main_content": (q_main_content, q_main_content_sql),
    # r5: content-defined-chunking dedup — the oracle recomputes every
    # rolling-hash boundary via the module-generated chunker SQL
    "cdc_dedup": (q_cdc_dedup, q_cdc_dedup_sql),
    # r5: benchmark decontamination — broadcast gram set, zero-shuffle
    # corpus side; oracle recomputes every gram via a relational join
    "decontaminate": (q_decontaminate, q_decontaminate_sql),
    # r5: sequence packing — distributed two-pass prefix sum (one range
    # shuffle), oracled by the global-window spelling in DuckDB
    "seq_pack": (q_seq_pack, q_seq_pack_sql),
    # r5: distributed Lloyd k-means — integer-grid arithmetic so the
    # unrolled-iteration DuckDB oracle matches assignments bit for bit
    "kmeans": (q_kmeans, q_kmeans_sql),
    # r5: hybrid retrieval — BM25 + dense-cosine lists fused by
    # integer-nano-unit reciprocal-rank fusion
    "hybrid_rrf": (q_hybrid_rrf, q_hybrid_rrf_sql),
    # r5: training-mix composer — integer quota per key from target
    # fractions, md5-rank selection, short strata keep everything
    "training_mix": (q_training_mix, q_training_mix_sql),
    # r5 capstone: the LLM-data recipe end to end — dedup →
    # decontaminate → quality floor → quota mix → per-lang rollup,
    # set_md5 pinning the selected set exactly
    "training_pipeline": (q_training_pipeline, q_training_pipeline_sql),
    # r5: SemDeDup — k-means cells + within-cell e6-cosine keep-first,
    # kept set pinned per cell by md5
    "semantic_dedup": (q_semantic_dedup, q_semantic_dedup_sql),
    # r5: as-of join, oracled by DuckDB's native ASOF LEFT JOIN (an
    # independent algorithm for the same semantics)
    "asof_lastpurchase": (q_asof_lastpurchase, q_asof_lastpurchase_sql),
    # r5: grid-bucketed range join vs the oracle's naive inequality join
    "purchase_attribution": (q_purchase_attribution, q_purchase_attribution_sql),
    # r5: the vote's OUTCOME is analytically pinned on these corpora, so
    # both slot-vote queries carry full oracles (the fixpoint algorithm's
    # gates stay in pytest — see the q_parse_route_agg_slotvote docstring)
    "parse_route_agg_slotvote": (q_parse_route_agg_slotvote, q_parse_route_agg_slotvote_sql),
    "slotvote_routes": (q_slotvote_routes, q_slotvote_routes_sql),
    # r5: same pipeline+oracle as the flagship over a 16-split /tmp
    # materialization of the same lines (VERDICT r4 item 4)
    "parse_route_agg_multisplit": (q_parse_route_agg_multisplit, q_parse_route_agg_sql),
    # rows-only BY NATURE (DuckDB cannot decode images); the row-level
    # oracle is the Python recompute in tests/test_multimodal.py — see
    # the q_image_features_agg docstring (VERDICT r4 item 8)
    "image_features_agg": (q_image_features_agg, None),
    # r5: DSIR hashed-ngram importance weights vs the English target
    # subset (features/models/weights all regenerated by the oracle)
    "dsir_select": (q_dsir_select, q_dsir_select_sql),
    # r5: fixed-size overlapping token windows (pretraining chunker);
    # chunk_md5 pins every window's exact slice
    "chunk_windows": (q_chunk_windows, q_chunk_windows_sql),
    # r5: int8-quantized exact top-k — integer scores, hash-exact oracle
    "ann_quantized": (q_ann_quantized, q_ann_quantized_sql),
    # r5: the C4 blocklist stage (token-boundary words + substring
    # phrases, integer counts)
    "c4_badwords": (q_c4_badwords, q_c4_badwords_sql),
    # r5: CCNet corpus-level paragraph dedup (global boilerplate kill;
    # dedup_md5 pins kept paragraphs and order)
    "ccnet_para_dedup": (q_ccnet_para_dedup, q_ccnet_para_dedup_sql),
    # r5: RAG passage retrieval — token-window chunks feeding BM25
    # (composition gate: both operators working together)
    "passage_retrieval": (q_passage_retrieval, q_passage_retrieval_sql),
    # r5: per-document TF-IDF keyword extraction (window per doc,
    # integer tf·idf_e6 scores)
    "doc_keywords": (q_doc_keywords, q_doc_keywords_sql),
    # r5: reproducible train/val/test split (assignment SET pinned by
    # per-(lang, split) ids_md5)
    "dataset_split": (q_dataset_split, q_dataset_split_sql),
    # r5: Naive Bayes language head trained on the 80% split — the
    # oracle keeps the naive direct algebra while Spark runs the
    # OOV-baseline rearrangement (independent formulations)
    "nb_classify": (q_nb_classify, q_nb_classify_sql),
    # r5: Z-order vs linear layout bounding boxes — pure integer bit
    # arithmetic (Morton interleave + power-of-two tiling), the
    # multi-dimensional scan-pruning evidence
    "zorder_layout": (q_zorder_layout, q_zorder_layout_sql),
    # r5: SCD Type-2 capture history over seeded digest snapshots —
    # gap-and-islands algebra regenerated by the same module
    "scd2_history": (q_scd2_history, q_scd2_history_sql),
    # r5: Efraimidis-Spirakis weighted sampling (∝ doc length) — exact
    # integer rank keys, TakeOrdered top-k
    "weighted_sample": (q_weighted_sample, q_weighted_sample_sql),
    # r5: per-file Bloom skip index — the data-skipping secondary
    # index; no-false-negative law as a checked row set
    "file_skip_index": (q_file_skip_index, q_file_skip_index_sql),
    # r5 (seventh arc): event-analytics quartet — windowed funnel,
    # Markov transitions, cohort retention, trailing-window burst
    # detection (operators/events.py; integer-exact rates and tests)
    "funnel_steps": (q_funnel_steps, q_funnel_steps_sql),
    "event_transitions": (q_event_transitions, q_event_transitions_sql),
    "cohort_retention": (q_cohort_retention, q_cohort_retention_sql),
    "burst_hours": (q_burst_hours, q_burst_hours_sql),
    # r5 (seventh arc): adjacent-bigram PMI collocations (word2phrase)
    # with pure-bigint scoring
    "pmi_bigrams": (q_pmi_bigrams, q_pmi_bigrams_sql),
    # r5 (seventh arc): per-column ingestion profile (exact distincts,
    # Expand strategy; staged to string/bigint for engine portability)
    "table_profile": (q_table_profile, q_table_profile_sql),
    "quality_eval": (q_quality_eval, q_quality_eval_sql),
    "quality_auc": (q_quality_auc, q_quality_auc_sql),
    "quality_calibration": (q_quality_calibration, q_quality_calibration_sql),
    # r5 (ninth arc): A-Priori pair rules over (user, day) baskets —
    # exact integer support/confidence/lift; independent oracle
    "assoc_rules": (q_assoc_rules, q_assoc_rules_sql),
    # r5 (ninth arc): per-type OLS daily-volume trend — exact rational
    # num/den + sign-safe pmod floor slope_e6
    "trend_slopes": (q_trend_slopes, q_trend_slopes_sql),
    # r5 (ninth arc): MOSS winnowing local-fingerprint copy detection —
    # packed-argmin windows, doc-frequency-capped pair join
    "winnow_dups": (q_winnow_dups, q_winnow_dups_sql),
    # r5 (tenth arc): All-Pairs/PPJoin prefix-filtering exact Jaccard
    # join over a seeded family corpus — naive-candidate oracle
    "set_jaccard_join": (q_set_jaccard_join, q_set_jaccard_join_sql),
    # r5 (twelfth arc): integer max-normalized HITS over the shared
    # pagerank edge family — unrolled-CTE oracle with scalar-subquery
    # normalizers
    "hits_scores": (q_hits_scores, q_hits_scores_sql),
    # r5 (twelfth arc): multi-source BFS crawl depth — recursive-CTE
    # min-rollup oracle (independent of the frontier algebra)
    "crawl_depth": (q_crawl_depth, q_crawl_depth_sql),
    # r5 (twelfth arc): CDC MERGE/upsert apply — max_by reduction vs
    # the oracle's window row_number spelling
    "cdc_upsert": (q_cdc_upsert, q_cdc_upsert_sql),
    # r5 (twelfth arc): huge-blocklist filtering as a join (the
    # c4_badwords scale path)
    "blocklist_join": (q_blocklist_join, q_blocklist_join_sql),
    # r5 (thirteenth arc): asymmetric containment join (one-sided
    # prefix filtering) — naive both-directions oracle
    "containment_join": (q_containment_join, q_containment_join_sql),
    # r5 (thirteenth arc): curriculum ordering via the distributed
    # prefix-sum global rank — window row_number oracle
    "curriculum_order": (q_curriculum_order, q_curriculum_order_sql),
    # r5 (thirteenth arc): crawl-frontier politeness scheduling —
    # md5-interleaved per-host slots
    "fetch_schedule": (q_fetch_schedule, q_fetch_schedule_sql),
    # r5 (fourteenth arc): character-entropy quality signal in integer
    # micro-nats (quantize-before-sum; zero-tolerance oracle)
    "char_entropy": (q_char_entropy, q_char_entropy_sql),
    # r5 (fifteenth arc): Flesch-Kincaid / reading-ease in exact integer
    # micro-units (fixed vowel-run syllable heuristic)
    "readability": (q_readability, q_readability_sql),
    # r5 (fifteenth arc): the composed crawl loop — robots permission →
    # seen-set anti-join → politeness schedule, survivor set derived
    # independently by the oracle
    "crawl_frontier": (q_crawl_frontier, q_crawl_frontier_sql),
    # r5 (sixteenth arc): duplicate-family-keyed train/val/test split —
    # near-dups can never straddle the eval boundary
    "leakage_split": (q_leakage_split, q_leakage_split_sql),
    # r5 (sixteenth arc): Stupid Backoff trigram LM (Brants 2007) —
    # exact-rational branches, per-branch counts in the hash
    "sb_quality": (q_sb_quality, q_sb_quality_sql),
    # r5 (seventeenth arc): RefinedWeb host-scoped line boilerplate
    # removal — remove-everywhere within the templating host only;
    # integer permille bar, order pinned by clean_md5
    "host_boilerplate": (q_host_boilerplate, q_host_boilerplate_sql),
    # r5 (seventeenth arc): per-source JSD drift audit vs the corpus
    # mixture — exact micro-nat numerators, ln-argument-≥1 rewrite
    "mixture_jsd": (q_mixture_jsd, q_mixture_jsd_sql),
    # r5 (eighteenth arc): CCNet perplexity terciles — histogram-CDF
    # exact cut per language, ties move wholesale, no corpus sort
    "ccnet_buckets": (q_ccnet_buckets, q_ccnet_buckets_sql),
    # r5 (eighteenth arc): Wilson lower-bound host quality ranking —
    # one sqrt + two divisions on exact bigints, e6-quantized once
    "host_wilson": (q_host_wilson, q_host_wilson_sql),
    # r5 (nineteenth arc): median/MAD anomaly flags — all-integer
    # |x-med| > k·MAD, lower medians by histogram-CDF, no corpus sort
    "mad_outliers": (q_mad_outliers, q_mad_outliers_sql),
    # r5 (nineteenth arc): shuffle-key skew audit — exact-integer Gini
    # + top-key share per candidate partitioning key
    "skew_audit": (q_skew_audit, q_skew_audit_sql),
    # r5 (twentieth arc): per-template G-test drift between alternating
    # -day windows — signed micro-nat cells, exact bigint statistic
    "template_drift": (q_template_drift, q_template_drift_sql),
    # r5 (twentieth arc): exact pairwise source vocabulary Jaccard —
    # persisted distinct token frame, grid keeps disjoint pairs' 0-rows
    "source_overlap": (q_source_overlap, q_source_overlap_sql),
    # r5 (twenty-first arc): per-doc drop provenance — first-drop-wins
    # stages partition the corpus; one md5 family window
    "drop_ledger": (q_drop_ledger, q_drop_ledger_sql),
    # r5 (twenty-first arc): additive stage-attrition funnel over the
    # ledger — the published attrition table shape
    "drop_funnel": (q_drop_funnel, q_drop_funnel_sql),
    # r5 (twenty-second arc): token-budget corpus selection — exact
    # whole-doc greedy cut via the prefix-sum range shuffle
    "budget_select": (q_budget_select, q_budget_select_sql),
    # r5 (twenty-third arc): integer TrustRank — seed-personalized
    # PageRank, exact zero on seed-unreachable nodes
    "trustrank": (q_trustrank, q_trustrank_sql),
    # r5 (twenty-fourth arc): per-language percentile-rank quality
    # normalization — histogram-CDF rank transform
    "quantile_norm": (q_quantile_norm, q_quantile_norm_sql),
    # r5 (twenty-fourth arc): size-balanced contiguous export shards
    # via the prefix-sum range shuffle
    "shard_plan": (q_shard_plan, q_shard_plan_sql),
    # r5 (twenty-fifth arc): FastSS ed-1 fuzzy join — exact deletion-
    # neighborhood banding vs a brute-force independent oracle
    "fuzzy_titles": (q_fuzzy_titles, q_fuzzy_titles_sql),
    # r5 (twenty-sixth arc): crawl-delay compliance audit — per-host
    # lag window, integer microsecond gaps
    "politeness_audit": (q_politeness_audit, q_politeness_audit_sql),
    # r5 (twenty-sixth arc): duplicate-family size histogram — the
    # post-dedup corpus-health summary
    "dup_family_hist": (q_dup_family_hist, q_dup_family_hist_sql),
    # r5 (twenty-seventh arc): Unicode script-mix signal — zero-exchange
    # codegen scan, all four staged script classes decidable
    "script_mix": (q_script_mix, q_script_mix_sql),
    # r5 (twenty-seventh arc): exact power-of-2 time-decayed recrawl
    # priority — broadcast anchor + one partial agg
    "recrawl_priority": (q_recrawl_priority, q_recrawl_priority_sql),
    # r5 (twenty-eighth arc): sitemap discovery-gap audit — broadcast
    # semi/anti decomposition vs the oracle's full-outer spelling
    "sitemap_coverage": (q_sitemap_coverage, q_sitemap_coverage_sql),
    # r5 (twenty-eighth arc): MinHash estimator calibration bins over
    # the production LSH candidates — exact integer decile audit
    "minhash_calib": (q_minhash_calib, q_minhash_calib_sql),
    # r5 (twenty-ninth arc): sorted-neighborhood blocking (merge/purge)
    # — linear candidate budget via the prefix-sum global rank
    "snm_blocking": (q_snm_blocking, q_snm_blocking_sql),
    # r5 (twenty-ninth arc): per-source KS drift of the length
    # distribution — exact bigint CDF cross products
    "length_drift": (q_length_drift, q_length_drift_sql),
    # r5 (thirtieth arc): chance-corrected dual-rater agreement
    "rater_kappa": (q_rater_kappa, q_rater_kappa_sql),
    # r5 (thirtieth arc): BPE-per-word tokenizer-fit audit
    "lang_fertility": (q_lang_fertility, q_lang_fertility_sql),
    # r5 (thirty-first arc): crawl-continuity day-gap audit
    "crawl_gaps": (q_crawl_gaps, q_crawl_gaps_sql),
    # r5 (thirty-first arc): exact-integer MRR/P@10/NDCG@10 scorecard
    "retrieval_eval": (q_retrieval_eval, q_retrieval_eval_sql),
    # r5 (thirty-second arc): robust trimmed-mean host quality
    "trimmed_quality": (q_trimmed_quality, q_trimmed_quality_sql),
    # r5 (thirty-second arc): URL parameter-explosion crawl-budget audit
    "param_explosion": (q_param_explosion, q_param_explosion_sql),
    # r5 (thirty-third arc): typed JSON field extraction, codegen path
    "props_extract": (q_props_extract, q_props_extract_sql),
    # r5 (thirty-third arc): per-type JSON schema-drift profile
    "json_schema": (q_json_schema, q_json_schema_sql),
    # r5 (thirty-fourth arc): SimHash threshold operating curve
    "simhash_sweep": (q_simhash_sweep, q_simhash_sweep_sql),
    # r5 (thirty-fourth arc): Heaps-law vocabulary growth curve
    "vocab_growth": (q_vocab_growth, q_vocab_growth_sql),
    # r5 (thirty-fifth arc): Hill heavy-tail index of host sizes
    "host_tail_index": (q_host_tail_index, q_host_tail_index_sql),
    # r5 (thirty-fifth arc): deterministic multi-epoch reshuffle plan
    "epoch_plan": (q_epoch_plan, q_epoch_plan_sql),
    # r5 (thirty-sixth arc): reciprocity + assortativity constants
    "graph_stats": (q_graph_stats, q_graph_stats_sql),
    # r5 (thirty-sixth arc): composed per-host crawl-health scorecard
    "crawl_health": (q_crawl_health, q_crawl_health_sql),
    # r5 (thirty-seventh arc): min-max clustering quality, two layouts
    "layout_depth": (q_layout_depth, q_layout_depth_sql),
    # r5 (thirty-seventh arc): columnar encoding advisor
    "encoding_advice": (q_encoding_advice, q_encoding_advice_sql),
    # r5 (thirty-eighth arc): Hamilton largest-remainder quotas
    "apportion_mix": (q_apportion_mix, q_apportion_mix_sql),
    # r5 (thirty-eighth arc): RFC 9309 Sitemap-directive extraction
    "robots_sitemaps": (q_robots_sitemaps, q_robots_sitemaps_sql),
    # r5 (thirty-ninth arc): the documents-side dataset-card capstone
    "dataset_card": (q_dataset_card, q_dataset_card_sql),
    # r5 (fortieth arc): multi-class confusion scorecard for lang_id
    "lang_confusion": (q_lang_confusion, q_lang_confusion_sql),
    # r5 (fortieth arc): doc-median vs byte-median length per source
    "weighted_len_median": (q_weighted_len_median, q_weighted_len_median_sql),
}


def spark_queries() -> dict:
    return {name: fns[0] for name, fns in QUERIES.items()}


def oracle_sqls(sf_dir: str = "") -> dict[str, str]:
    return {name: fns[1](sf_dir) for name, fns in QUERIES.items() if fns[1] is not None}
