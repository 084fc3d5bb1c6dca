"""Distributed BPE tokenizer training — the missing tokenizer-side
operator of a training-data pipeline (the repo already counts tokens,
``functions/text.py``; this LEARNS the vocabulary).

Byte-pair encoding (Sennrich et al. 2016) trains by repeatedly merging
the most frequent adjacent symbol pair. The scale-right formulation —
the one the original implementation and industrial trainers use — never
iterates over the corpus: the corpus is scanned ONCE into a word
frequency table (Zipf: distinct words ≪ tokens ≪ bytes), and every
merge round runs over that table. Here each round is

  1. one JVM-side explode + partially-aggregable groupBy over the
     distinct-word frame (pair counts, weighted by word frequency,
     combining map-side), and
  2. a one-row driver argmax (count desc, then lexicographic pair — a
     deterministic tiebreak both engines reproduce), and
  3. one JVM literal ``replace`` applying the merge to every word.

No Python touches row data at any point. At 100 TB the word table for
web text is ~10^8 rows — a small frame by cluster standards — so a
10k-merge training run is 10k tiny JVM jobs over it, while the 100 TB
corpus itself is read exactly once.

Symbol sequences are strings with DOUBLED single-space separators and
single-space ends (`` a  b  c ``): the pattern ``' a  b '`` then
consumes one space of each neighboring separator, so a plain
(non-regex) left-to-right ``replace`` — identical semantics in Spark,
DuckDB and Python ``str.replace`` — applies a merge greedily without
overlap bugs (``' a  a  a '`` → ``' aa  a '``, matching reference BPE's
left-to-right scan). That makes the whole trainer expressible as an
unrolled DuckDB CTE chain (:func:`bpe_sql`, generated by this module —
the pagerank pattern, so the two formulations cannot drift) and the
registered query hash-green with zero tolerance.

Words are lowercased ``[a-z0-9]+`` tokens (``ranking.TOKEN_SPLIT_RE``),
so symbols stay ASCII and never contain spaces or quotes.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import local_frame
from .ranking import TOKEN_SPLIT_RE

# re-persist the working word frame every k merges so a long training
# run's lineage (one replace per merge) never grows unbounded
PERSIST_EVERY = 8


def _check_bpe(num_merges: int, min_pair_count: int) -> None:
    if not (isinstance(num_merges, int) and 1 <= num_merges <= 50_000):
        raise ValueError(f"num_merges must be an int in [1, 50000], got {num_merges!r}")
    if not (isinstance(min_pair_count, int) and min_pair_count >= 1):
        raise ValueError(f"min_pair_count must be an int >= 1, got {min_pair_count!r}")


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """The single corpus scan: lowercased ``[a-z0-9]+`` word frequency
    table (``word``, ``cnt``). Partially aggregable."""
    return (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_seqs(words: DataFrame) -> DataFrame:
    """Character-split each word into the doubled-separator sequence
    representation (``seq``, ``cnt``)."""
    return words.select(
        F.concat(
            F.lit(" "), F.concat_ws("  ", F.split(F.col("word"), "")), F.lit(" ")
        ).alias("seq"),
        "cnt",
    )


_PAIRS_EXPR = (
    "case when size(__syms) >= 2 then "
    "transform(sequence(0, size(__syms) - 2), "
    "i -> struct(__syms[i] as l, __syms[i + 1] as r)) "
    "else array() end"
)


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the word frame, weighted by word
    frequency (overlapping instances each count, as in reference BPE).
    One explode + one map-side-combinable groupBy."""
    return (
        seqs.select(F.split(F.trim("seq"), "  ").alias("__syms"), "cnt")
        .select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("pc"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    *,
    num_merges: int,
    min_pair_count: int = 2,
) -> list[dict]:
    """Learn ``num_merges`` BPE merges from a corpus. Returns the merge
    table as driver-side rows ``{rank, lhs, rhs, merged, pair_count}``
    in learned order; stops early when the best pair's corpus count
    falls below ``min_pair_count``. The corpus is scanned once; every
    round runs over the persisted distinct-word frame."""
    _check_bpe(num_merges, min_pair_count)
    seqs = _initial_seqs(word_counts(df, text_col)).persist(StorageLevel.MEMORY_AND_DISK)
    pinned = [seqs]
    merges: list[dict] = []
    try:
        for rank in range(1, num_merges + 1):
            best = (
                _pair_counts(seqs)
                .orderBy(F.desc("pc"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["pc"] < min_pair_count:
                break
            l, r, pc = best[0]["l"], best[0]["r"], int(best[0]["pc"])
            merges.append(
                {"rank": rank, "lhs": l, "rhs": r, "merged": l + r, "pair_count": pc}
            )
            seqs = seqs.select(
                F.replace(
                    F.col("seq"), F.lit(f" {l}  {r} "), F.lit(f" {l}{r} ")
                ).alias("seq"),
                "cnt",
            )
            if rank % PERSIST_EVERY == 0:
                seqs = seqs.persist(StorageLevel.MEMORY_AND_DISK)
                pinned.append(seqs)
                if len(pinned) > 2:
                    pinned.pop(0).unpersist()
    finally:
        for p in pinned:
            p.unpersist()
    return merges


def bpe_merges_df(spark: SparkSession, merges: Sequence[dict]) -> DataFrame:
    """The learned merge table as a DataFrame (broadcast-sized by
    construction: one row per merge)."""
    return local_frame(
        spark,
        [(m["rank"], m["lhs"], m["rhs"], m["merged"], m["pair_count"]) for m in merges],
        "rank int, lhs string, rhs string, merged string, pair_count bigint",
    )


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: Sequence[dict],
    *,
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode text with a learned merge list: per word, apply every
    merge in rank order (the standard BPE encoder on sorted merges),
    emit the concatenated subword array per row plus its length. Pure
    JVM: one split, one chained-replace expression per merge, one
    flatten — no shuffle, no Python."""
    words_arr = F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE), lambda w: w != ""
    )
    return df.withColumn(
        out_col,
        F.flatten(
            F.transform(
                words_arr,
                lambda w: F.split(
                    F.trim(
                        _chained_replace_col(
                            F.concat(
                                F.lit(" "),
                                F.concat_ws("  ", F.split(w, "")),
                                F.lit(" "),
                            ),
                            merges,
                        )
                    ),
                    "  ",
                ),
            )
        ),
    ).withColumn(f"n_{out_col}", F.size(out_col))


def _chained_replace_col(col, merges: Sequence[dict]):
    for m in merges:
        col = F.replace(col, F.lit(f" {m['lhs']}  {m['rhs']} "), F.lit(f" {m['merged']} "))
    return col


def bpe_sql(
    stream_cte: str,
    text_expr: str,
    *,
    num_merges: int,
) -> str:
    """DuckDB rendering of the whole trainer as one unrolled CTE chain
    (generated here so the two formulations cannot drift — the pagerank
    pattern). Returns the chained CTE body ending in
    ``bpe_merges(rank, lhs, rhs, merged, pair_count)``. The unrolled
    oracle has no early stop; the registered query's corpus is asserted
    (tests) to support all ``num_merges`` merges above the library's
    default threshold."""
    _check_bpe(num_merges, 1)
    # every CTE is MATERIALIZED: each round's word frame is referenced
    # twice (next round's pairs + next round's replace), so DuckDB's
    # default inlining re-evaluates the chain 2^rounds times (measured:
    # 376s for 12 merges at sf0.01 inlined, sub-second materialized)
    parts = [
        f"""
      bpe_w0 as materialized (
        select ' ' || list_aggregate(regexp_split_to_array(word, ''),
                                     'string_agg', '  ') || ' ' as seq,
               cnt
        from (
          select word, count(*) as cnt from (
            select unnest(list_filter(
              regexp_split_to_array(lower({text_expr}), '[^a-z0-9]+'),
              x -> x <> '')) as word
            from {stream_cte}
          ) group by 1
        )
      )"""
    ]
    for i in range(1, num_merges + 1):
        parts.append(
            f"""
      bpe_p{i} as materialized (
        select syms[i] as l, syms[i + 1] as r, sum(cnt)::BIGINT as pc
        from (select str_split(trim(seq), '  ') as syms, cnt from bpe_w{i - 1}) w,
             unnest(range(1, len(syms))) as g(i)
        group by 1, 2
      ),
      bpe_b{i} as materialized (select l, r, pc from bpe_p{i} order by pc desc, l, r limit 1),
      bpe_w{i} as materialized (
        select replace(w.seq, ' ' || b.l || '  ' || b.r || ' ',
                       ' ' || b.l || b.r || ' ') as seq, w.cnt
        from bpe_w{i - 1} w cross join bpe_b{i} b
      )"""
        )
    unioned = "\n        union all ".join(
        f"select {i} as rank, l as lhs, r as rhs, l || r as merged, pc as pair_count "
        f"from bpe_b{i}"
        for i in range(1, num_merges + 1)
    )
    parts.append(f"""
      bpe_merges as (
        {unioned}
      )""")
    return ",".join(parts)


def bpe_encode_sql(
    stream_cte: str,
    id_expr: str,
    text_expr: str,
    *,
    num_merges: int,
) -> str:
    """DuckDB rendering of corpus ENCODING under the merges learned by
    :func:`bpe_sql`'s CTE chain (which must precede this fragment in
    the same WITH clause — the ``bpe_b{i}`` one-row frames are reused
    as the merge table). Mirrors the real encoder's shape: each
    DISTINCT word is encoded once (the vocabulary frame, tiny), then
    joined back to per-doc word counts — never re-encoding repeated
    words. Ends in ``bpe_enc(doc_id, n_words, n_tokens)``. Generated
    here so the encoder semantics (doubled-separator replace chain in
    rank order) cannot drift from the Spark side."""
    _check_bpe(num_merges, 1)
    parts = [
        f"""
      bpe_dw as materialized (
        select {id_expr} as doc_id, word, count(*) as cnt from (
          select {id_expr}, unnest(list_filter(
            regexp_split_to_array(lower({text_expr}), '[^a-z0-9]+'),
            x -> x <> '')) as word
          from {stream_cte}
        ) group by 1, 2
      ),
      bpe_v0 as materialized (
        select word,
               ' ' || list_aggregate(regexp_split_to_array(word, ''),
                                     'string_agg', '  ') || ' ' as seq
        from (select distinct word from bpe_dw)
      )"""
    ]
    for i in range(1, num_merges + 1):
        parts.append(
            f"""
      bpe_v{i} as materialized (
        select v.word,
               replace(v.seq, ' ' || b.l || '  ' || b.r || ' ',
                       ' ' || b.l || b.r || ' ') as seq
        from bpe_v{i - 1} v cross join bpe_b{i} b
      )"""
        )
    parts.append(f"""
      bpe_enc as (
        select dw.doc_id,
               sum(dw.cnt)::BIGINT as n_words,
               sum(dw.cnt * len(str_split(trim(v.seq), '  ')))::BIGINT as n_tokens
        from bpe_dw dw join bpe_v{num_merges} v using (word)
        group by 1
      )""")
    return ",".join(parts)


# --- driver-side reference (differential tests) -----------------------


def bpe_train_py(
    word_cnt: dict[str, int], *, num_merges: int, min_pair_count: int = 2
) -> list[dict]:
    """Classic greedy BPE over a word-frequency dict, using the SAME
    doubled-separator string representation and plain ``str.replace``
    so merge application is character-for-character the engine
    semantics."""
    _check_bpe(num_merges, min_pair_count)
    seqs = [(" " + "  ".join(w) + " ", c) for w, c in word_cnt.items()]
    merges: list[dict] = []
    for rank in range(1, num_merges + 1):
        pairs: dict[tuple[str, str], int] = {}
        for seq, c in seqs:
            syms = seq.strip().split("  ")
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (l, r), pc = best
        if pc < min_pair_count:
            break
        merges.append({"rank": rank, "lhs": l, "rhs": r, "merged": l + r, "pair_count": pc})
        seqs = [(s.replace(f" {l}  {r} ", f" {l}{r} "), c) for s, c in seqs]
    return merges


def bpe_encode_py(text: str, merges: Sequence[dict]) -> list[str]:
    import re

    out: list[str] = []
    for w in re.split(TOKEN_SPLIT_RE, text.lower()):
        if not w:
            continue
        seq = " " + "  ".join(w) + " "
        for m in merges:
            seq = seq.replace(f" {m['lhs']}  {m['rhs']} ", f" {m['merged']} ")
        out.extend(seq.strip().split("  "))
    return out
