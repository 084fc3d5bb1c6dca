"""Structured Streaming tests: rate-limited file stream through the
foreachBatch parser, and watermarked windowed counts."""

import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from logparser_llm_spark.streaming.incremental import (
    StreamingParser,
    windowed_template_counts,
)
from logparser_llm_spark.sources.synth import generate_pages


def test_foreach_batch_streaming(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # two waves of files → two micro-batches (maxFilesPerTrigger=1)
    generate_pages(spark, 60, seed=31).coalesce(1).write.parquet(src)
    generate_pages(spark, 40, seed=32).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("url string, warc_ts timestamp, html binary, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    parser = StreamingParser(out)
    q = (
        stream.writeStream.foreachBatch(parser.process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert not q.isActive

    written = spark.read.parquet(f"{out}/sinks")
    assert written.count() == 100
    assert written.select("run").distinct().count() >= 2
    assert parser.pool  # pool survived across micro-batches
    ids = [t["template_id"] for t in parser.pool]
    assert ids == [f"tmpl_{i:04d}" for i in range(len(ids))]  # stable ids
    # per-sink counts equal a batch run over the union
    assert written.filter(F.col("template_id") == "unknown").count() == 0


def _rows(df, drop=("run",)):
    """Collected rows as a hashable multiset over every column but
    ``drop`` (maps become sorted item tuples)."""
    cols = sorted(c for c in df.columns if c not in drop)
    out = Counter()
    for r in df.select(*cols).collect():
        out[tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v for v in r)] += 1
    return out


def test_replayed_batch_id_is_written_once(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed batch id must replace
    its own rows, not append a second copy."""
    out = str(tmp_path / "out")
    df = generate_pages(spark, 50, seed=41)
    df2 = generate_pages(spark, 30, seed=42)
    parser = StreamingParser(out)
    parser.process_batch(df, 7)
    parser.process_batch(df, 7)  # replay
    parser.process_batch(df2, 8)

    want = df.count() + df2.count()
    assert spark.read.parquet(f"{out}/sinks").count() == want
    counts = spark.read.parquet(f"{out}/run_counts")
    assert counts.agg(F.sum("doc_count")).first()[0] == want
    assert {r["run"] for r in counts.select("run").distinct().collect()} == {
        "batch-7",
        "batch-8",
    }


def test_empty_micro_batch_writes_nothing(spark, tmp_path):
    """An empty micro-batch leaves no ``run=batch-<id>`` dir and saves no
    checkpoint; the next non-empty batch writes its own run as usual."""
    import os

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    parser = StreamingParser(out, checkpoint_dir=ck)
    pages = generate_pages(spark, 30, seed=45)
    parser.process_batch(pages.limit(0), 3)
    assert not os.path.exists(out) and not os.path.exists(ck)
    assert parser.pool == []

    parser.process_batch(pages, 4)
    assert sorted(os.listdir(f"{out}/sinks")) == ["run=batch-4"]
    assert sorted(os.listdir(f"{out}/run_counts")) == ["run=batch-4"]
    assert os.path.exists(f"{ck}/pool.json") and parser.pool


def test_micro_batch_equals_resumable_run(spark, tmp_path):
    """A micro-batch and a resumable run over the same files share one
    slice step: same pool, same sink rows, same per-run counts."""
    from logparser_llm_spark.plans.checkpoint import (
        Checkpoint,
        list_input_files,
        run_resumable,
    )

    src = str(tmp_path / "src")
    generate_pages(spark, 60, seed=43).coalesce(1).write.parquet(src)
    generate_pages(spark, 40, seed=44).coalesce(1).write.mode("append").parquet(src)
    files = list_input_files(spark, src)
    assert len(files) == 2

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    run_resumable(spark, src, ck, out)
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    parser = StreamingParser(out2, checkpoint_dir=ck2)
    parser.process_batch(spark.read.parquet(*files), 0)

    def ids(pool):
        return [(t["template_id"], t["pattern"]) for t in pool]

    assert ids(Checkpoint.load(ck).pool) == ids(Checkpoint.load(ck2).pool) == ids(parser.pool)
    batch_sinks = spark.read.parquet(f"{out}/sinks")
    stream_sinks = spark.read.parquet(f"{out2}/sinks")
    assert sorted(batch_sinks.columns) == sorted(stream_sinks.columns)
    assert sum(_rows(batch_sinks).values()) == 100
    assert _rows(batch_sinks) == _rows(stream_sinks)
    assert _rows(spark.read.parquet(f"{out}/run_counts")) == _rows(
        spark.read.parquet(f"{out2}/run_counts")
    )


def test_windowed_counts_batch_semantics(spark):
    """The windowed aggregate shape validated in batch mode (same plan
    Structured Streaming executes incrementally)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "template_id", F.col("event_type")
    )
    out = windowed_template_counts(ev, "ts", "60 minutes", "120 minutes")
    rows = out.collect()
    assert rows
    total = sum(r["doc_count"] for r in rows)
    assert total == ev.count()
    for r in rows:
        assert (r["window_end"] - r["window_start"]).total_seconds() == 3600


def test_stream_restart_keeps_template_ids_stable(spark, tmp_path):
    """Pool persisted per micro-batch + reloaded on construction: a
    restarted stream must assign the SAME template ids to patterns it
    already knows (ADVICE r1: memory-only pool broke the contract)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    pool_ck = str(tmp_path / "pool_ck")

    def run_wave(stream_ckpt: str):
        stream = (
            spark.readStream.schema(
                "url string, warc_ts timestamp, html binary, text string, lang string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        parser = StreamingParser(out, checkpoint_dir=pool_ck)
        q = (
            stream.writeStream.foreachBatch(parser.process_batch)
            .option("checkpointLocation", stream_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        return parser.pool

    generate_pages(spark, 50, seed=33).coalesce(1).write.parquet(src)
    pool1 = run_wave(str(tmp_path / "sck"))
    ids1 = {t["pattern"]: t["template_id"] for t in pool1}
    assert ids1

    # "restart": fresh parser instance + same checkpoints, new data wave
    generate_pages(spark, 30, seed=34).coalesce(1).write.mode("append").parquet(src)
    pool2 = run_wave(str(tmp_path / "sck"))
    ids2 = {t["pattern"]: t["template_id"] for t in pool2}
    for pattern, tid in ids1.items():
        assert ids2[pattern] == tid  # stable across restart
    assert len(ids2) >= len(ids1)


def test_stateful_running_template_counts(spark, tmp_path):
    """applyInPandasWithState: per-template totals accumulate across
    micro-batches in engine-managed state (not driver memory)."""
    from logparser_llm_spark.operators.cluster import assign_templates, discover_templates
    from logparser_llm_spark.streaming.stateful import running_template_counts

    src = str(tmp_path / "src")
    # two waves → two micro-batches with overlapping templates
    generate_pages(spark, 40, seed=35).coalesce(1).write.parquet(src)
    generate_pages(spark, 25, seed=36).coalesce(1).write.mode("append").parquet(src)

    static = spark.read.parquet(src)
    pool = discover_templates(static, "text")

    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    assigned = assign_templates(stream, "text", pool)
    counts = running_template_counts(assigned)
    q = (
        counts.writeStream.format("memory")
        .queryName("running_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    rows = spark.sql("select * from running_counts").collect()
    # last emitted total per template == the batch ground truth
    latest: dict = {}
    for r in rows:
        cur = latest.get(r["template_id"])
        if cur is None or r["total_count"] > cur:
            latest[r["template_id"]] = r["total_count"]
    truth = {
        r["template_id"]: r["cnt"]
        for r in assign_templates(static, "text", pool)
        .groupBy("template_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert latest == truth
    # state accumulated ACROSS batches: some template must have been
    # emitted twice with growing totals
    assert any(
        sum(1 for r in rows if r["template_id"] == tid) > 1 for tid in latest
    )


def test_stateful_session_expiry(spark, tmp_path):
    """EventTimeTimeout sessionization: sessions close when the watermark
    passes last_seen + gap, and state is removed."""
    import datetime as dt

    from logparser_llm_spark.streaming.stateful import expiring_user_sessions

    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    wave1 = [
        (1, t0), (1, t0 + dt.timedelta(minutes=5)),
        (2, t0 + dt.timedelta(minutes=1)),
        # user 4: two events in ONE batch separated by > gap → must split
        # into two sessions (in-batch gap handling, not just timeouts)
        (4, t0), (4, t0 + dt.timedelta(hours=2)),
    ]
    # wave 2 advances event time far past gap+watermark → sessions close
    wave2 = [(3, t0 + dt.timedelta(hours=6))]
    spark.createDataFrame(wave1, "user_id bigint, ts timestamp").coalesce(1).write.parquet(src)
    spark.createDataFrame(wave2, "user_id bigint, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sessions = expiring_user_sessions(stream, gap_seconds=1800, watermark="10 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows: dict = {}
    for r in spark.sql("select * from closed_sessions").collect():
        rows.setdefault(r["user_id"], []).append(r)
    (s1,) = rows[1]
    assert s1["n_events"] == 2
    assert s1["session_start"] == t0
    assert s1["session_end"] == t0 + dt.timedelta(minutes=5)
    assert rows[2][0]["n_events"] == 1
    # the in-batch gap split: user 4 closed two single-event sessions
    u4 = sorted(rows[4], key=lambda r: r["session_start"])
    assert len(u4) == 2
    assert [s["n_events"] for s in u4] == [1, 1]
    assert u4[0]["session_start"] == t0
    assert u4[1]["session_start"] == t0 + dt.timedelta(hours=2)


def test_stateful_sessions_string_user_id(spark, tmp_path):
    """The session key type is derived from the input schema — string
    user ids must flow through unchanged (ADVICE r2: the schema was
    hardcoded bigint)."""
    import datetime as dt

    from logparser_llm_spark.streaming.stateful import expiring_user_sessions

    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    wave1 = [("alice", t0), ("alice", t0 + dt.timedelta(minutes=5)), ("bob", t0)]
    wave2 = [("carol", t0 + dt.timedelta(hours=6))]
    spark.createDataFrame(wave1, "user_id string, ts timestamp").coalesce(1).write.parquet(src)
    spark.createDataFrame(wave2, "user_id string, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sessions = expiring_user_sessions(stream, gap_seconds=1800, watermark="10 minutes")
    assert dict(sessions.dtypes)["user_id"] == "string"
    q = (
        sessions.writeStream.format("memory")
        .queryName("closed_sessions_str")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = {
        r["user_id"]: r for r in spark.sql("select * from closed_sessions_str").collect()
    }
    assert rows["alice"]["n_events"] == 2
    assert rows["alice"]["session_end"] == t0 + dt.timedelta(minutes=5)
    assert rows["bob"]["n_events"] == 1


def test_windowed_counts_streaming_append_drops_late_rows(spark, tmp_path):
    """The canonical Structured Streaming shape run as a REAL stream:
    append-mode watermarked tumbling windows. A window emits only once
    the watermark passes its end, and a row arriving after the watermark
    passed its window is dropped — bounded state, exact on-time counts."""
    import datetime as dt

    from logparser_llm_spark.streaming.incremental import windowed_template_counts

    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    wave1 = [("a", t0 + dt.timedelta(minutes=m)) for m in (0, 10, 20, 50)] + [
        ("b", t0 + dt.timedelta(minutes=5))
    ]
    # advances event time to 13:00 → watermark 12:50 → the 10:00 window closes
    wave2 = [("a", t0 + dt.timedelta(hours=3))]
    # LATE: lands in the already-closed 10:00 window → must be dropped
    wave3 = [("a", t0 + dt.timedelta(minutes=30))]
    schema = "template_id string, ts timestamp"

    # one availableNow run per wave against a SHARED checkpoint: the
    # watermark persists in the checkpoint between runs, so wave 3's late
    # row provably arrives AFTER the watermark advanced (a single
    # availableNow run can fold every file into one batch, where the
    # initial watermark drops nothing)
    sink = str(tmp_path / "sink")

    def run_wave(wave, mode):
        spark.createDataFrame(wave, schema).coalesce(1).write.mode(mode).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        out = windowed_template_counts(stream, "ts", "60 minutes", "10 minutes")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    run_wave(wave1, "overwrite")
    run_wave(wave2, "append")
    run_wave(wave3, "append")
    rows = {
        (r["window_start"], r["template_id"]): r["doc_count"]
        for r in spark.read.parquet(sink).collect()
    }
    # the closed 10:00-11:00 window: wave1's on-time rows ONLY — the
    # wave3 late row (10:30, after the watermark reached 12:50) is absent
    assert rows[(t0, "a")] == 4
    assert rows[(t0, "b")] == 1
    # the 13:00 window is still open (watermark never passed its end) —
    # append mode must not have emitted it
    assert not any(ws == t0 + dt.timedelta(hours=3) for ws, _ in rows)


def test_windowed_hll_registers_stream_matches_batch(spark, tmp_path):
    """Streaming HLL registers per (window, key) across two
    micro-batches: the latest register values must equal a BATCH
    hll_registers run over the union, and the finished estimates must
    match batch hll_estimate (update-mode re-emits are max-monotone, so
    taking max per register collapses them correctly)."""
    import datetime as dt

    from logparser_llm_spark.operators.sketch import hll_estimate, hll_registers
    from logparser_llm_spark.streaming.incremental import windowed_hll_registers

    src = str(tmp_path / "src")
    base = dt.datetime(2026, 3, 1, 10, 0, 0)
    wave1 = [
        ("click", f"u{i % 40}", base + dt.timedelta(minutes=i % 50)) for i in range(150)
    ]
    wave2 = [
        ("click", f"v{i % 25}", base + dt.timedelta(minutes=60 + i % 50))
        for i in range(100)
    ] + [("view", f"u{i % 15}", base + dt.timedelta(minutes=i % 50)) for i in range(60)]
    schema = "event_type string, user string, ts timestamp"
    spark.createDataFrame(wave1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    regs = windowed_hll_registers(
        stream, "event_type", "user", ts_col="ts", window="1 hour",
        watermark="10 minutes", p=8,
    )
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = spark.sql(
        "select window_start, event_type, reg_idx, max(rho) as rho "
        "from hll_regs group by 1, 2, 3"
    )
    batch = spark.read.parquet(src)
    want = hll_registers(
        batch.select(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
            "user",
        ),
        ["window_start", "event_type"],
        "user",
        p=8,
    )
    as_set = lambda df: {tuple(r) for r in df.collect()}
    assert as_set(got) == as_set(want)

    est_stream = as_set(
        hll_estimate(got, ["window_start", "event_type"], p=8)
    )
    est_batch = as_set(hll_estimate(want, ["window_start", "event_type"], p=8))
    assert est_stream == est_batch and len(est_batch) >= 3


def test_windowed_bloom_words_stream_matches_batch(spark, tmp_path):
    """Streaming Bloom words per (window, key) across two micro-batches:
    the latest word values must equal a BATCH bloom_build per (window,
    key) over the union (update-mode re-emits are OR-monotone, so
    bit_or per word collapses them correctly), and membership verdicts
    finished from the streamed words must show zero false negatives."""
    import datetime as dt

    from logparser_llm_spark.operators.sketch import bloom_build, bloom_contains
    from logparser_llm_spark.streaming.incremental import windowed_bloom_words

    src = str(tmp_path / "src")
    base = dt.datetime(2026, 4, 1, 9, 0, 0)
    wave1 = [
        ("crawlA", f"https://a.example/p/{i}", base + dt.timedelta(minutes=i % 50))
        for i in range(120)
    ]
    wave2 = [
        ("crawlA", f"https://a.example/p/{i}", base + dt.timedelta(minutes=60 + i % 50))
        for i in range(60, 180)
    ] + [
        ("crawlB", f"https://b.example/q/{i}", base + dt.timedelta(minutes=i % 50))
        for i in range(40)
    ]
    schema = "crawl string, url string, ts timestamp"
    spark.createDataFrame(wave1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(src)

    m_bits, k = 1 << 12, 3
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    words = windowed_bloom_words(
        stream, "crawl", "url", ts_col="ts", window="1 hour",
        watermark="10 minutes", m_bits=m_bits, k=k,
    )
    q = (
        words.writeStream.format("memory")
        .queryName("bloom_words")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = spark.sql(
        "select window_start, crawl, word_idx, bit_or(bits) as bits "
        "from bloom_words group by 1, 2, 3"
    )
    batch = spark.read.parquet(src).select(
        F.window("ts", "1 hour").getField("start").alias("window_start"),
        "crawl",
        "url",
    )
    wins = [r["window_start"] for r in batch.select("window_start").distinct().collect()]
    as_set = lambda df: {tuple(r) for r in df.collect()}
    want = set()
    for w in wins:
        for crawl in ("crawlA", "crawlB"):
            sub = batch.where(
                (F.col("window_start") == w) & (F.col("crawl") == crawl)
            )
            if sub.isEmpty():
                continue
            for r in bloom_build(sub, "url", m_bits=m_bits, k=k).collect():
                want.add((w, crawl, r["word_idx"], r["bits"]))
    assert as_set(got) == want and len(want) > 10

    # finish: every url actually seen in (first window, crawlA) must
    # probe maybe_present=true from the STREAMED words (no false negatives)
    w0 = min(wins)
    filt = got.where(
        (F.col("window_start") == w0) & (F.col("crawl") == "crawlA")
    ).select("word_idx", "bits")
    seen = batch.where(
        (F.col("window_start") == w0) & (F.col("crawl") == "crawlA")
    ).select("url").distinct()
    verdicts = bloom_contains(filt, seen, "url", m_bits=m_bits, k=k)
    assert verdicts.where(~F.col("maybe_present")).isEmpty()


def test_stream_interval_join_matches_batch_and_grid_operator(spark, tmp_path):
    """Stream-stream attribution join across micro-batches on BOTH
    sides: the streamed matches must equal (a) the naive batch join
    with the same condition and (b) the grid-bucketed batch
    interval_join over epoch seconds — two independent implementations
    of the same semantics. Matches must cross micro-batch boundaries
    (a wave-1 purchase attributed to a wave-2 click)."""
    import datetime as dt

    from logparser_llm_spark.operators.joins import interval_join
    from logparser_llm_spark.streaming.incremental import stream_interval_join

    base = dt.datetime(2026, 5, 1, 9, 0, 0)
    m = lambda k: base + dt.timedelta(minutes=k)
    # purchases (anchors): horizon 1 hour
    p1 = [(1, m(0), 500), (2, m(10), 700)]
    p2 = [(1, m(90), 300), (3, m(95), 900)]
    # clicks (events): u1 clicks in both purchase windows; one click
    # 61 min after u2's purchase (outside); u3 clicks before any purchase
    c1 = [(1, m(5), "home"), (2, m(71), "promo"), (3, m(50), "early")]
    c2 = [(1, m(95), "cart"), (1, m(130), "faq"), (2, m(40), "mid")]
    psrc, csrc = str(tmp_path / "p"), str(tmp_path / "c")
    pschema = "user_id bigint, pts timestamp, amount bigint"
    cschema = "user_id bigint, cts timestamp, page string"
    spark.createDataFrame(p1, pschema).coalesce(1).write.parquet(psrc)
    spark.createDataFrame(p2, pschema).coalesce(1).write.mode("append").parquet(psrc)
    spark.createDataFrame(c1, cschema).coalesce(1).write.parquet(csrc)
    spark.createDataFrame(c2, cschema).coalesce(1).write.mode("append").parquet(csrc)

    ps = spark.readStream.schema(pschema).option("maxFilesPerTrigger", "1").parquet(psrc)
    cs = spark.readStream.schema(cschema).option("maxFilesPerTrigger", "1").parquet(csrc)
    joined = stream_interval_join(
        ps, cs, "user_id", "pts", "cts", horizon="1 hour", watermark="10 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    as_set = lambda df: {tuple(r) for r in df.collect()}
    got = as_set(spark.sql("select * from attrib"))

    pb = spark.read.parquet(psrc)
    cb = spark.read.parquet(csrc)
    naive = pb.join(
        cb,
        (pb["user_id"] == cb["user_id"])
        & (cb["cts"] >= pb["pts"])
        & (cb["cts"] <= pb["pts"] + F.expr("interval 1 hour")),
    ).select(pb["user_id"], "pts", "amount", "cts", "page")
    assert got == as_set(naive)
    # mid-wave attribution really happened: u2's wave-2 click (minute 40)
    # sits inside u2's wave-1 purchase window (minute 10)
    assert any(r[0] == 2 and r[4] == "mid" for r in got)
    assert len(got) == 4

    grid = interval_join(
        cb.select("user_id", F.unix_timestamp("cts").alias("csec"), "page"),
        pb.select(
            "user_id",
            F.unix_timestamp("pts").alias("start_s"),
            (F.unix_timestamp("pts") + 3600).alias("end_s"),
            "amount",
        ),
        ["user_id"],
        "csec",
        "start_s",
        "end_s",
        bucket_width=3600,
    )
    grid_set = {
        (r["user_id"], r["start_s"], r["csec"], r["page"], r["amount"])
        for r in grid.collect()
    }
    stream_as_secs = {
        (u, int(pts.timestamp()), int(cts.timestamp()), page, amount)
        for (u, pts, amount, cts, page) in got
    }
    assert stream_as_secs == grid_set


def test_stream_interval_join_rejects_ambiguous_columns(spark):
    from logparser_llm_spark.streaming.incremental import stream_interval_join

    a = spark.createDataFrame([(1,)], "user_id bigint").selectExpr(
        "user_id", "current_timestamp() as ts", "1 as x"
    )
    b = spark.createDataFrame([(1,)], "user_id bigint").selectExpr(
        "user_id", "current_timestamp() as ts", "2 as x"
    )
    with pytest.raises(ValueError, match="share"):
        stream_interval_join(a, b, "user_id", "ts", "ts")
    b2 = b.withColumnRenamed("ts", "ts2").withColumnRenamed("x", "y")
    with pytest.raises(ValueError, match="distinct"):
        stream_interval_join(a.drop("x"), b2.drop("y"), "user_id", "ts2", "ts2")


def test_stream_dedup_exact_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark face of dedup_exact: duplicates
    inside one micro-batch AND across micro-batches (within the
    watermark horizon) collapse to the first arrival; the streamed key
    set equals the batch dropDuplicates key set; validation guards."""
    import datetime as dt

    import pytest as _pytest

    from logparser_llm_spark.streaming.incremental import stream_dedup_exact

    src = str(tmp_path / "src")
    base = dt.datetime(2026, 5, 1, 12, 0, 0)
    # wave 1: urls 0..39, with 0..9 duplicated in-batch
    wave1 = [
        (f"https://ex.com/{i}", f"body{i}", base + dt.timedelta(minutes=i % 7))
        for i in range(40)
    ] + [
        (f"https://ex.com/{i}", f"dup-in-batch{i}", base + dt.timedelta(minutes=1 + i % 7))
        for i in range(10)
    ]
    # wave 2: urls 20..59 — 20..39 are cross-batch duplicates within the
    # horizon, 40..59 fresh
    wave2 = [
        (f"https://ex.com/{i}", f"wave2-{i}", base + dt.timedelta(minutes=3 + i % 7))
        for i in range(20, 60)
    ]
    schema = "url string, body string, ts timestamp"
    spark.createDataFrame(wave1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = stream_dedup_exact(stream, ["url"], ts_col="ts", watermark="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = spark.sql("select url, count(*) as n from dedup_stream group by 1")
    rows = {r["url"]: r["n"] for r in got.collect()}
    assert all(n == 1 for n in rows.values())          # no key emitted twice
    want = {r["url"] for r in spark.read.parquet(src).select("url").distinct().collect()}
    assert set(rows) == want and len(want) == 60

    with _pytest.raises(ValueError, match="at least one"):
        stream_dedup_exact(stream, [])
    with _pytest.raises(ValueError, match="event-time"):
        stream_dedup_exact(stream, ["url", "ts"])
    # exact-forever mode must NOT apply a watermark (review r5e: a
    # watermark there silently drops keys whose first arrival trails it)
    unbounded = stream_dedup_exact(stream, ["url"], bounded=False)
    assert "EventTimeWatermark" not in unbounded._jdf.queryExecution() \
        .logical().toString()


def test_windowed_cms_counters_stream_matches_batch(spark, tmp_path):
    """Streaming CMS counters per (window, key) across two
    micro-batches: the latest counter values (counts only grow, so max
    over update-mode re-emits is the final state) must equal a BATCH
    cms_build per (window, key) over the union, and estimates finished
    from the streamed counters must never undercount."""
    import datetime as dt

    from logparser_llm_spark.operators.sketch import cms_build
    from logparser_llm_spark.streaming.incremental import windowed_cms_counters

    src = str(tmp_path / "src")
    base = dt.datetime(2026, 6, 1, 8, 0, 0)
    wave1 = [
        ("siteA", f"term{i % 7}", base + dt.timedelta(minutes=i % 50))
        for i in range(140)
    ]
    wave2 = [
        ("siteA", f"term{i % 5}", base + dt.timedelta(minutes=60 + i % 50))
        for i in range(80)
    ] + [
        ("siteB", f"term{i % 3}", base + dt.timedelta(minutes=i % 50))
        for i in range(30)
    ]
    schema = "site string, term string, ts timestamp"
    spark.createDataFrame(wave1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(src)

    depth, width = 3, 32
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    counters = windowed_cms_counters(
        stream, "site", "term", ts_col="ts", window="1 hour",
        watermark="10 minutes", depth=depth, width=width,
    )
    q = (
        counters.writeStream.format("memory")
        .queryName("cms_counters")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = spark.sql(
        "select window_start, site, depth_i, bucket, max(cnt) as cnt "
        "from cms_counters group by 1, 2, 3, 4"
    )
    batch = spark.read.parquet(src).select(
        F.window("ts", "1 hour").getField("start").alias("window_start"),
        "site",
        "term",
    )
    want = set()
    for w, site in {(r["window_start"], r["site"]) for r in
                    batch.select("window_start", "site").distinct().collect()}:
        sub = batch.where(
            (F.col("window_start") == w) & (F.col("site") == site)
        )
        for r in cms_build(sub, "term", depth=depth, width=width).collect():
            want.add((w, site, r["depth_i"], r["bucket"], r["cnt"]))
    assert {tuple(r) for r in got.collect()} == want and len(want) > 10

    # estimates from streamed counters never undercount the true counts
    from collections import Counter

    from logparser_llm_spark.operators.sketch import cms_estimate_py

    by_group: dict = {}
    for r in got.collect():
        by_group.setdefault((r["window_start"], r["site"]), {})[
            (r["depth_i"], r["bucket"])] = r["cnt"]
    truth: Counter = Counter()
    for r in batch.collect():
        truth[(r["window_start"], r["site"], r["term"])] += 1
    for (w, site, term), true_n in truth.items():
        est = cms_estimate_py(
            by_group[(w, site)], term, depth=depth, width=width)
        assert est >= true_n


def test_windowed_loghist_counters_stream_matches_batch(spark, tmp_path):
    """Streaming log-histogram counters per (window, key) across two
    micro-batches: the latest counter values must equal a BATCH
    loghist_build per (window, key) over the union, and quantiles
    finished from the streamed counters must satisfy the sketch's
    accuracy contract (p_est <= p_exact < p_est * (1 + 1/2^sub_bits))
    against the exact per-group ranks."""
    import datetime as dt

    from logparser_llm_spark.operators.sketch import (
        loghist_build,
        loghist_quantiles,
    )
    from logparser_llm_spark.streaming.incremental import windowed_loghist_counters

    src = str(tmp_path / "src")
    base = dt.datetime(2026, 6, 1, 8, 0, 0)
    wave1 = [
        ("api", (i * 37) % 900 + 1, base + dt.timedelta(minutes=i % 50))
        for i in range(160)
    ]
    wave2 = [
        ("api", (i * 53) % 4000 + 1, base + dt.timedelta(minutes=60 + i % 50))
        for i in range(90)
    ] + [
        ("db", (i * 11) % 120 + 1, base + dt.timedelta(minutes=i % 50))
        for i in range(40)
    ]
    schema = "svc string, lat_ms bigint, ts timestamp"
    spark.createDataFrame(wave1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    counters = windowed_loghist_counters(
        stream, "svc", "lat_ms", ts_col="ts", window="1 hour",
        watermark="10 minutes",
    )
    q = (
        counters.writeStream.format("memory")
        .queryName("lh_counters")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = spark.sql(
        "select window_start, svc, bucket, max(cnt) as cnt "
        "from lh_counters group by 1, 2, 3"
    )
    batch = spark.read.parquet(src).select(
        F.window("ts", "1 hour").getField("start").alias("window_start"),
        "svc",
        "lat_ms",
    )
    want = {
        tuple(r)
        for r in loghist_build(batch, ["window_start", "svc"], "lat_ms").collect()
    }
    streamed = {tuple(r) for r in got.collect()}
    assert streamed == want and len(want) > 20

    # finish quantiles from the STREAMED state; check the accuracy law
    # against exact ranks computed driver-side
    est = {
        (r["window_start"], r["svc"]): (r["p50"], r["p95"], r["p99"])
        for r in loghist_quantiles(got, ["window_start", "svc"]).collect()
    }
    groups: dict = {}
    for r in batch.collect():
        groups.setdefault((r["window_start"], r["svc"]), []).append(r["lat_ms"])
    assert set(est) == set(groups)
    for g, vals in groups.items():
        vals.sort()
        for p_est, pct in zip(est[g], (50, 95, 99)):
            exact = vals[(len(vals) * pct + 99) // 100 - 1]
            assert p_est <= exact < max(p_est * (1 + 1 / 8), p_est + 1), (g, pct)
