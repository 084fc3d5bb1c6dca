"""Streaming / incremental parsing.

The reference's "online learning" is sequential stateful insertion
(reference core/parser.py:127-160); streaming is an unchecked roadmap
item (README.md:333). Our streaming shape is the standard Spark design:

- each ``foreachBatch`` micro-batch runs the resumable batch run's slice
  step (``plans.checkpoint.parse_slice`` → ``write_slice``), so a batch
  and a stream over the same rows yield the same pool, the same sink
  rows and the same per-run counts (pinned by a parity test). The
  counts come from the slice's discovery collect, so the sink write is
  the one consumer of the routed rows and nothing is persisted;
- the template pool is the ONLY cross-batch state — it grows via the
  checkpoint semantics (existing ids stable, new patterns appended),
  exactly like the resumable batch runs;
- each micro-batch overwrites its own ``run=batch-<id>`` dirs under
  ``sinks`` and ``run_counts``, so a replayed batch id (``foreachBatch``
  is at-least-once) replaces its rows instead of duplicating them.

``windowed_template_counts`` additionally shows the watermark/window
shape for late-data-tolerant per-template time-series counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..plans.checkpoint import Checkpoint, parse_slice, write_slice


class StreamingParser:
    """Stateful micro-batch parser for ``foreachBatch``.

    >>> parser = StreamingParser(out, checkpoint_dir=ckpt_dir)
    >>> (stream.writeStream.foreachBatch(parser.process_batch)
    ...        .option("checkpointLocation", ckpt).start())

    The template pool is the only cross-batch state; with
    ``checkpoint_dir`` set it is RELOADED on construction and persisted
    after every micro-batch (the batch Checkpoint's pool.json), so a
    stream restarted from its checkpointLocation keeps the stable-id
    contract — identical patterns get identical template ids across
    restarts (ADVICE r1: a driver-memory-only pool reset on restart)."""

    def __init__(
        self,
        output_dir: str,
        text_col: str = "text",
        cfg: PipelineConfig = DEFAULT_CONFIG,
        checkpoint_dir: str | None = None,
    ):
        self.output_dir = output_dir
        self.text_col = text_col
        self.cfg = cfg
        self.checkpoint = Checkpoint.load(checkpoint_dir) if checkpoint_dir else None
        self.pool: list[dict] = self.checkpoint.pool if self.checkpoint else []

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        s = parse_slice(batch_df, self.text_col, self.pool, self.cfg)
        if not s.lineage["rows_total"]:  # the discovery collect saw no row
            return
        self.pool = s.pool
        write_slice(s, self.output_dir, f"batch-{batch_id}")
        if self.checkpoint is not None:
            self.checkpoint.pool = self.pool
            self.checkpoint.save()


def windowed_template_counts(
    assigned: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window per-template counts (late rows beyond
    the watermark are dropped; state is bounded)."""
    return (
        assigned.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("template_id"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "template_id",
            "doc_count",
        )
    )


def windowed_hll_registers(
    events: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    p: int = 12,
) -> DataFrame:
    """Streaming approximate-distinct state: HLL registers per
    (tumbling window, key), maintained by ONE watermarked streaming
    aggregation (max per register — monotone, so update-mode re-emits
    only ever raise a register).

    The REGISTERS are the streaming output on purpose: they are the
    mergeable form (windows/partitions/days union by element-wise max,
    operators/sketch.hll_merge), so a sink table of registers rolls up
    to any coarser window without rescanning the stream. Finish with
    ``operators.sketch.hll_estimate`` at read time — a cheap driver- or
    batch-side step over ≤ 2^p rows per (window, key). Per-(window,key)
    state is ≤ 2^p small integers, bounded regardless of stream length;
    late rows beyond the watermark are dropped like every windowed
    aggregate here.
    """
    from ..operators.sketch import hll_register_exprs

    idx, rho = hll_register_exprs(value_col, p)
    return (
        events.withWatermark(ts_col, watermark)
        .where(F.col(value_col).isNotNull())
        .groupBy(
            F.window(F.col(ts_col), window).alias("win"),
            F.col(key_col),
            idx.alias("reg_idx"),
        )
        .agg(F.max(rho).alias("rho"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "reg_idx",
            "rho",
        )
    )


def stream_interval_join(
    anchors: DataFrame,
    events: DataFrame,
    key_col: str,
    anchor_ts: str,
    event_ts: str,
    *,
    horizon: str = "2 hours",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream attribution join: every event within
    ``[anchor_ts, anchor_ts + horizon]`` of a same-key anchor — the
    streaming face of :func:`..operators.joins.interval_join`
    (purchase→click attribution, request→error correlation) as ONE
    Spark stream-stream inner join.

    Both sides carry a watermark and the join condition carries an
    explicit time bound in BOTH directions, which is exactly what lets
    Spark bound the join state: an anchor can be dropped from state
    once the event-side watermark passes ``anchor_ts + horizon``, and a
    buffered event once the anchor-side watermark passes ``event_ts``
    — without the range bound the state would grow forever. State per
    key is O(rows inside watermark + horizon), independent of stream
    length.

    The two frames must share ONLY ``key_col`` (other name collisions
    raise — column provenance would be ambiguous in the flat output);
    ``anchor_ts`` / ``event_ts`` must be distinct timestamp columns.
    Output: all anchor columns + all event columns except its key.
    """
    shared = (set(anchors.columns) & set(events.columns)) - {key_col}
    if shared:
        raise ValueError(
            f"anchor/event frames may share only {key_col!r}; also share {sorted(shared)}"
        )
    if anchor_ts == event_ts:
        raise ValueError("anchor_ts and event_ts must be distinct column names")
    a = anchors.withWatermark(anchor_ts, watermark).alias("a")
    e = events.withWatermark(event_ts, watermark).alias("e")
    cond = (
        (F.col(f"a.{key_col}") == F.col(f"e.{key_col}"))
        & (F.col(f"e.{event_ts}") >= F.col(f"a.{anchor_ts}"))
        & (
            F.col(f"e.{event_ts}")
            <= F.col(f"a.{anchor_ts}") + F.expr(f"interval {horizon}")
        )
    )
    keep = [F.col(f"a.{c}") for c in anchors.columns] + [
        F.col(f"e.{c}") for c in events.columns if c != key_col
    ]
    return a.join(e, cond, "inner").select(*keep)


def windowed_bloom_words(
    events: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    m_bits: int = 1 << 15,
    k: int = 4,
) -> DataFrame:
    """Streaming membership state: Bloom-filter words per (tumbling
    window, key), maintained by ONE watermarked streaming aggregation
    (``bit_or`` per word — monotone under OR, so update-mode re-emits
    only ever SET bits, never clear them). The streaming face of the
    crawl-frontier seen-set: a url-dedup front-line that admits a
    bounded false-positive rate and zero false negatives, with
    per-(window, key) state ≤ m_bits/60 small integers regardless of
    stream length.

    The WORDS are the output on purpose, mirroring
    :func:`windowed_hll_registers`: they are the mergeable form
    (``operators.sketch.bloom_merge`` — per-word OR), so a sink table
    of words rolls up across windows/keys without rescanning the
    stream; finish with ``operators.sketch.bloom_contains`` at read
    time. Late rows beyond the watermark drop like every windowed
    aggregate here."""
    from ..operators.sketch import (
        _BLOOM_MASK,
        _BLOOM_WORD,
        _bloom_pos,
        _check_bloom,
    )

    _check_bloom(m_bits, k)
    h = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("hash_i")
    addressed = (
        events.withWatermark(ts_col, watermark)
        .where(F.col(value_col).isNotNull())
        .select(F.col(ts_col), F.col(key_col), F.col(value_col), h)
        .select(
            ts_col,
            key_col,
            _bloom_pos(F.col("hash_i"), value_col, m_bits).alias("pos"),
        )
        .select(
            ts_col,
            key_col,
            F.expr(_BLOOM_WORD).alias("word_idx"),
            F.expr(_BLOOM_MASK).alias("mask"),
        )
    )
    return (
        addressed.groupBy(
            F.window(F.col(ts_col), window).alias("win"),
            F.col(key_col),
            F.col("word_idx"),
        )
        .agg(F.bit_or("mask").alias("bits"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "word_idx",
            "bits",
        )
    )


def stream_dedup_exact(
    stream: DataFrame,
    key_cols: "list[str] | tuple[str, ...]",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    *,
    bounded: bool = True,
) -> DataFrame:
    """Streaming exact dedup — the streaming face of
    ``operators.dedup.dedup_exact`` (the crawl-stream front line: drop
    re-fetched pages before they reach the expensive stages).

    ``bounded=True`` (the scale default) uses
    ``dropDuplicatesWithinWatermark``: a key's dedup state is DROPPED
    once the event watermark passes its last occurrence + the watermark
    delay, so state is O(keys seen within the horizon) regardless of
    stream length — the contract a 10^11-url crawl needs. Duplicates
    arriving farther apart than the horizon are NOT caught (hand those
    to the batch `incremental_dedup` snapshot pass; the two compose).
    ``bounded=False`` is exact-forever ``dropDuplicates`` — unbounded
    state, only for small key spaces; NO watermark is applied on this
    branch (a watermark would silently drop a key whose first arrival
    trails the event watermark — the opposite of exact-forever).

    Emits the FIRST-arriving row per key (append mode). Keys must not
    include ``ts_col`` (two fetches of the same url differ in ts — that
    would make every row unique)."""
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must name at least one column")
    if ts_col in keys:
        raise ValueError(
            f"key_cols must not include the event-time column {ts_col!r}"
        )
    if not bounded:
        return stream.dropDuplicates(keys)
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def windowed_cms_counters(
    events: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Streaming frequency state: Count-Min counters per (tumbling
    window, key), maintained by ONE watermarked streaming aggregation
    (counter SUM per (depth, bucket) — additive, so update-mode
    re-emits only ever grow a counter). Completes the streaming faces
    of the mergeable-sketch trio: HLL = how many distinct
    (:func:`windowed_hll_registers`), Bloom = have we seen it
    (:func:`windowed_bloom_words`), CMS = how OFTEN.

    The COUNTERS are the output on purpose, like the siblings: they are
    the mergeable form (``operators.sketch.cms_merge`` — element-wise
    sum), so a sink table of counters rolls up across windows/keys
    without rescanning the stream; finish with
    ``operators.sketch.cms_estimate`` at read time (min over the D
    addressed counters — always ≥ the true count, never under).
    Per-(window, key) state is ≤ depth·width integers regardless of
    stream length; late rows beyond the watermark drop like every
    windowed aggregate here."""
    from ..operators.sketch import _check_cms, _cms_bucket_expr

    _check_cms(depth, width)
    d = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("depth_i")
    addressed = (
        events.withWatermark(ts_col, watermark)
        .where(F.col(value_col).isNotNull())
        .select(F.col(ts_col), F.col(key_col), F.col(value_col), d)
        .select(
            ts_col,
            key_col,
            F.col("depth_i").cast("int").alias("depth_i"),
            _cms_bucket_expr(F.col("depth_i"), value_col, width).alias("bucket"),
        )
    )
    return (
        addressed.groupBy(
            F.window(F.col(ts_col), window).alias("win"),
            F.col(key_col),
            F.col("depth_i"),
            F.col("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "depth_i",
            "bucket",
            "cnt",
        )
    )


def windowed_loghist_counters(
    events: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    sub_bits: int = None,  # type: ignore[assignment]
) -> DataFrame:
    """Streaming quantile state: log-histogram bucket counters per
    (tumbling window, key), maintained by ONE watermarked streaming
    aggregation (counter COUNT per bucket — additive, so update-mode
    re-emits only ever grow a counter, exactly the CMS contract).
    Completes the streaming faces of the mergeable-sketch QUARTET:
    HLL = how many distinct, Bloom = have we seen it, CMS = how often,
    log-histogram = how BIG (p50/p95/p99 latency-style rollups).

    The COUNTERS are the output on purpose, like the siblings: they
    are the mergeable form (``operators.sketch.loghist_merge`` —
    per-bucket sum), so a sink table of counters rolls hour→day→month
    without rescanning the stream; finish with
    ``operators.sketch.loghist_quantiles`` at read time. Per-(window,
    key) state is ≤ a few hundred bucket counters regardless of stream
    length; NULL values are skipped and negative values raise, the
    batch builder's exact contract."""
    from ..operators.sketch import (
        LOGHIST_DEFAULT_SUB_BITS,
        _check_loghist,
        _loghist_bucket_sql,
    )

    if sub_bits is None:
        sub_bits = LOGHIST_DEFAULT_SUB_BITS
    _check_loghist(sub_bits)
    bucket = F.expr(_loghist_bucket_sql("__lh_v", sub_bits, duck=False))
    guarded = F.when(
        F.expr("assert_true(__lh_v >= 0, 'loghist: negative value')").isNull(),
        bucket,
    )
    return (
        events.withWatermark(ts_col, watermark)
        .where(F.col(value_col).isNotNull())
        .select(
            F.col(ts_col),
            F.col(key_col),
            F.col(value_col).cast("bigint").alias("__lh_v"),
        )
        .select(ts_col, key_col, guarded.alias("bucket"))
        .groupBy(
            F.window(F.col(ts_col), window).alias("win"),
            F.col(key_col),
            F.col("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "bucket",
            "cnt",
        )
    )
