"""Ranked retrieval over a document corpus: distributed BM25.

The training-data-pipeline use: given a probe query ("find documents
about X"), score every document with Okapi BM25 (the Robertson/Lucene
``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf variant) and return the
top-k. The reference engine has no retrieval surface; this sits in the
repo's beyond-reference tier next to dedup/ANN/sketches.

Scale shape (the part that must survive 100 TB):

- ONE token explode feeds a single partially-aggregable
  ``groupBy(doc, query-term-or-null)`` count; from that small pre-agg
  frame both the per-doc length and the per-(doc, term) tf are derived
  — the raw token stream is never shuffled twice (the pre-agg frame is
  persisted MEMORY_AND_DISK across its two consumers).
- Per-term document frequencies and the global (N, avgdl) row are
  broadcast — the only shuffles are the token pre-agg and the doc-keyed
  tf⋈dl join; the final top-k is a TakeOrdered, not a global sort.
- No UDF anywhere; every expression is JVM codegen.

Cross-engine determinism (the oracle story): tf, dl, df and N are exact
integers in any engine; avgdl is one double division; each per-term
score is a short fixed shape of IEEE double ops mirrored textually in
the DuckDB oracle; and — the trick that removes float-summation order
from the contract — per-term scores are quantized to integer
micro-units (``round(score·10⁶)``) BEFORE the per-doc sum, so the
aggregate is an order-free integer sum. The only residual cross-engine
wiggle is the ≤1-ulp libm-vs-JVM difference inside ``ln``, which after
1e6 quantization has never flipped a value on the test corpora (the
registry oracle hash would catch it loudly if it ever did).
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# single definition lives in functions/text.py next to its Spark/DuckDB
# twins (review r5: a third spelling had crept in via dsir.py)
from ..functions.text import TOKEN_SPLIT_RE  # noqa: F401  (re-export)
from ..session import local_frame

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def query_terms(query: str) -> list[str]:
    """Distinct lowercase query terms, tokenized like the corpus."""
    terms = sorted({t for t in re.split(TOKEN_SPLIT_RE, query.lower()) if t})
    if not terms:
        raise ValueError(f"query {query!r} contains no indexable terms")
    return terms


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    *,
    top_k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> DataFrame:
    """Top-``top_k`` documents for ``query`` by BM25.

    Output: ``rnk`` (1-based, ties broken by ascending id — fully
    deterministic because it orders on the quantized score),
    ``<id_col>``, ``score_e6`` (BM25 in integer micro-units),
    ``n_terms_hit``. Documents containing no query term are absent
    (standard retrieval semantics).
    """
    terms = query_terms(query)
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE)).alias("term"),
    ).where(F.col("term") != "")
    # One shuffle: per-doc counts keyed by (doc, query-term-or-null).
    # The null bucket carries every non-query token, so this frame is
    # |docs| × (|terms|+1) at most — tiny relative to the token stream.
    qt = F.when(F.col("term").isin(terms), F.col("term"))
    ag = (
        toks.groupBy(id_col, qt.alias("qt"))
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dl = ag.groupBy(id_col).agg(F.sum("c").alias("dl"))
    tf = ag.where(F.col("qt").isNotNull()).select(
        id_col, F.col("qt").alias("term"), F.col("c").alias("tf")
    )
    # Global stats: one row, broadcast into the scoring join.
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    term_score = (idf * F.col("tf")) / (F.col("tf") + norm)
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            # quantize BEFORE summing: integer sums are order-free
            F.round(term_score * 1_000_000).cast("bigint").alias("ts_e6"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("ts_e6").alias("score_e6"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
    )
    ranked = (
        scored.orderBy(F.desc("score_e6"), F.col(id_col))
        .limit(top_k)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("score_e6"), F.col(id_col))
            ).cast("bigint"),
        )
    )
    return ranked.select("rnk", id_col, "score_e6", "n_terms_hit")


def bm25_topk_sql(
    table: str,
    id_expr: str,
    text_expr: str,
    query: str,
    *,
    top_k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> str:
    """DuckDB rendering of :func:`bm25_topk` — kept textually in
    lockstep (same op shapes, same quantize-then-sum), the oracle half
    of the registered query."""
    terms = query_terms(query)
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    return f"""
      with bm_toks as (
        select {id_expr} as doc_id,
               unnest(list_filter(regexp_split_to_array(lower({text_expr}),
                                                        '{TOKEN_SPLIT_RE}'),
                                  x -> x <> '')) as term
        from {table}
      ),
      bm_ag as (
        select doc_id,
               case when term in ({terms_sql}) then term end as qt,
               count(*) as c
        from bm_toks group by 1, 2
      ),
      bm_dl as (select doc_id, sum(c) as dl from bm_ag group by 1),
      bm_stats as (
        select count(*) as n_docs,
               cast(sum(dl) as double) / count(*) as avgdl
        from bm_dl
      ),
      bm_tf as (
        select doc_id, qt as term, c as tf from bm_ag where qt is not null
      ),
      bm_df as (select term, count(*) as df from bm_tf group by 1),
      bm_sc as (
        select bm_tf.doc_id,
               cast(round(
                 (ln(1.0 + (bm_stats.n_docs - bm_df.df + 0.5) / (bm_df.df + 0.5))
                  * bm_tf.tf)
                 / (bm_tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * bm_dl.dl
                                          / bm_stats.avgdl))
                 * 1000000) as bigint) as ts_e6
        from bm_tf
        join bm_df using (term)
        join bm_dl using (doc_id)
        cross join bm_stats
      ),
      bm_g as (
        select doc_id, cast(sum(ts_e6) as bigint) as score_e6,
               cast(count(*) as bigint) as n_terms_hit
        from bm_sc group by 1
      )
      select cast(row_number() over (order by score_e6 desc, doc_id)
                  as bigint) as rnk,
             doc_id, score_e6, n_terms_hit
      from bm_g
      order by score_e6 desc, doc_id
      limit {top_k}
    """


def bm25_score_py(
    docs: dict[object, str],
    query: str,
    *,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> dict[object, int]:
    """Pure-Python rendering (tests): id → score_e6 for docs hitting
    ≥1 query term, same quantize-then-sum contract."""
    import math

    terms = query_terms(query)
    tok = {
        i: [t for t in re.split(TOKEN_SPLIT_RE, (txt or "").lower()) if t]
        for i, txt in docs.items()
    }
    n = len(tok)
    avgdl = sum(len(ts) for ts in tok.values()) / float(n)
    dfreq = {
        t: sum(1 for ts in tok.values() if t in ts) for t in terms
    }
    out: dict[object, int] = {}
    for i, ts in tok.items():
        total = 0
        hit = False
        for t in terms:
            tf = ts.count(t)
            if not tf or not dfreq[t]:
                continue
            hit = True
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s = (idf * tf) / (tf + k1 * ((1.0 - b) + b * len(ts) / avgdl))
            total += int(round(s * 1_000_000))
        if hit:
            out[i] = total
    return out


# --- hybrid retrieval: reciprocal-rank fusion -----------------------------

RRF_K = 60                    # the standard RRF damping constant
RRF_SCALE = 1_000_000_000     # integer nano-units per contribution


def rrf_contrib(rank_col: Column) -> Column:
    """``floor(RRF_SCALE / (RRF_K + rank))`` as bigint — the RRF term in
    exact integers. The double division of two small exact integers is
    ≥ 1/denominator away from the next integer except when it IS one,
    so the floor is engine-independent (DuckDB renders the same
    expression verbatim)."""
    return F.floor(F.lit(RRF_SCALE) / (F.lit(RRF_K) + rank_col)).cast("bigint")


def hybrid_rrf_topk(
    lexical: DataFrame,
    dense: DataFrame,
    id_col: str,
    *,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009 — the standard hybrid
    retrieval combiner) of two ranked lists, each ``(<id_col>, rnk)``
    with 1-based deterministic ranks: score = Σ 1/(60 + rank) over the
    lists containing the doc, in exact integer nano-units so the
    cross-engine sum is order-free. Output: ``(rnk, <id_col>, rrf_e9,
    lex_rnk, dense_rnk)`` — absent-list ranks report 0.

    Scale shape: the inputs are already top-k lists (tiny), so the
    fusion is a driver-sized full-outer join; all the data-scale work
    lives in the upstream retrievers."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    lx = lexical.select(F.col(id_col), F.col("rnk").cast("bigint").alias("lex_rnk"))
    dn = dense.select(F.col(id_col), F.col("rnk").cast("bigint").alias("dense_rnk"))
    fused = (
        lx.join(dn, id_col, "full_outer")
        .select(
            F.col(id_col),
            (
                F.coalesce(rrf_contrib(F.col("lex_rnk")), F.lit(0))
                + F.coalesce(rrf_contrib(F.col("dense_rnk")), F.lit(0))
            ).alias("rrf_e9"),
            F.coalesce("lex_rnk", F.lit(0)).alias("lex_rnk"),
            F.coalesce("dense_rnk", F.lit(0)).alias("dense_rnk"),
        )
        .orderBy(F.desc("rrf_e9"), id_col)
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("rrf_e9"), id_col)
    return fused.select(
        F.row_number().over(w).cast("bigint").alias("rnk"),
        id_col,
        "rrf_e9",
        "lex_rnk",
        "dense_rnk",
    )


# --- inverted index ---------------------------------------------------------



def build_inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    doc_shards: int = 1,
    min_df: int = 1,
) -> DataFrame:
    """Distributed postings-list construction — the search-index core:
    term → (df, cf, postings) over the BM25 tokenizer's term space.

    Output: (term, shard, df, cf, postings_md5) where postings_md5 is
    the md5 of the doc-ordered ``doc:tf`` rendering — an exact,
    order-pinned anchor for the whole postings list that any engine can
    recompute (the list itself can be terabytes for a stop term; the
    anchor is 32 bytes).

    Scale shape: ONE token explode feeds a partially-aggregable
    (term, shard, doc) count — a boilerplate term repeated 10⁶ times in
    one document combines map-side before any shuffle — then one
    groupBy(term, shard) builds the postings. ``doc_shards`` is the
    production knob for term skew: postings for a term appearing in
    half the corpus cannot sit in one reducer, so real systems shard
    postings by document range; here shard = md5-slice(doc) %
    doc_shards (the repo's portable 60-bit convention, so Spark, DuckDB
    and Python agree on every shard assignment), and per-(term, shard)
    df/cf sum to the global values. Sorting inside a group uses
    array_sort on (doc, tf) structs — doc is unique per (term, shard),
    so the order is total and engine-independent.
    """
    from ..functions.hashing import md5_slice_col

    if doc_shards < 1:
        raise ValueError(f"doc_shards must be >= 1, got {doc_shards}")
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE),
        lambda t: t != F.lit(""),
    )
    doc = F.col(id_col).cast("string")
    shard = md5_slice_col(doc) % doc_shards
    tf = (
        df.select(
            F.col(id_col).alias("doc"),
            shard.alias("shard"),
            F.explode(toks).alias("term"),
        )
        .groupBy("term", "shard", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    out = tf.groupBy("term", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("doc"), F.col("tf")))),
                    lambda s: F.concat_ws(
                        ":", s["doc"].cast("string"), s["tf"].cast("string")
                    ),
                ),
            )
        ).alias("postings_md5"),
    )
    if min_df > 1:
        out = out.where(F.col("df") >= min_df)
    return out


def inverted_index_sql(
    table: str,
    id_expr: str,
    text_expr: str,
    *,
    doc_shards: int = 1,
    min_df: int = 1,
) -> str:
    """DuckDB rendering of :func:`build_inverted_index` — same
    tokenizer, same md5-slice shard arithmetic, same ``doc:tf``
    postings rendering, generated here so the two cannot drift."""
    from ..functions.hashing import md5_slice_sql

    shard = f"({md5_slice_sql(f'cast({id_expr} as varchar)')} % {doc_shards})"
    having = f"having count(*) >= {min_df}" if min_df > 1 else ""
    return f"""
      with ii_toks as (
        select {id_expr} as doc, {shard} as shard,
               unnest(list_filter(regexp_split_to_array(lower({text_expr}),
                                                        '{TOKEN_SPLIT_RE}'),
                                  x -> x <> '')) as term
        from {table}
      ),
      ii_tf as (
        select term, shard, doc, count(*) as tf
        from ii_toks group by term, shard, doc
      )
      select term, shard,
             cast(count(*) as bigint) as df,
             cast(sum(tf) as bigint) as cf,
             md5(string_agg(doc || ':' || tf, ',' order by doc)) as postings_md5
      from ii_tf group by term, shard {having}
    """


# --- per-document TF-IDF keyword extraction -----------------------------

def doc_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    top_k: int = 3,
) -> DataFrame:
    """Top-``top_k`` characteristic terms per DOCUMENT by TF-IDF — the
    per-doc inversion of :func:`bm25_topk`'s per-query ranking (tag
    extraction / labeling / cluster naming). Smoothed idf:
    ``idf_e6 = round(1e6·ln((1+N)/(1+df)))``; per-term score is the
    exact integer product ``tf·idf_e6``, so ranking (score desc, term
    asc) is deterministic and the DuckDB oracle (generated below) is
    hash-exact — the lm/bm25 quantize-before-compare convention.

    Scale shape: ONE token explode into a partially-aggregable
    ``(doc, term, tf)`` frame persisted across its three consumers
    (df counts, the N scalar, scoring); per-term df is a second small
    aggregate over that frame (O(distinct terms), broadcast back); the
    final top-k is a row_number window partitioned BY DOCUMENT —
    partition-parallel, no global sort anywhere. Zero-token documents
    emit no rows (keywords of nothing — the retrieval convention).
    """
    if not (isinstance(top_k, int) and top_k >= 1):
        raise ValueError(f"top_k must be an int >= 1, got {top_k}")
    from ..functions.text import lower_tokens

    tf = (
        df.select(F.col(id_col), F.explode(lower_tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_docs = tf.select(id_col).distinct().count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_e6 = F.round(
        F.log((1.0 + float(n_docs)) / (1 + F.col("df"))) * 1_000_000
    ).cast("bigint")
    scored = (
        tf.join(F.broadcast(dfreq.select("term", idf_e6.alias("idf_e6"))), "term")
        .select(id_col, "term", "tf", (F.col("tf") * F.col("idf_e6")).alias("score_e6"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_e6"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select(id_col, "rnk", "term", "tf", "score_e6")
    )


def doc_keywords_sql(
    table: str,
    id_expr: str,
    text_expr: str,
    *,
    top_k: int = 3,
) -> str:
    """DuckDB rendering of :func:`doc_keywords` — same tokenizer, same
    smoothed idf quantization, same (score desc, term asc) ranking,
    generated here so the two cannot drift. Yields
    ``(doc_id, rnk, term, tf, score_e6)``."""
    if not (isinstance(top_k, int) and top_k >= 1):
        raise ValueError(f"top_k must be an int >= 1, got {top_k}")
    from ..functions.text import LOWER_TOKENS_SQL

    toks = LOWER_TOKENS_SQL.format(c=text_expr)
    return f"""
      with kw_toks as (
        select {id_expr} as doc_id, unnest({toks}) as term from {table}
      ),
      kw_tf as (
        select doc_id, term, count(*) as tf from kw_toks group by 1, 2
      ),
      kw_n as (select count(distinct doc_id) as n from kw_tf),
      kw_df as (select term, count(*) as df from kw_tf group by 1),
      kw_sc as (
        select t.doc_id, t.term, t.tf,
               t.tf * cast(round(ln((1.0 + kw_n.n) / (1 + kw_df.df))
                                 * 1000000) as bigint) as score_e6
        from kw_tf t join kw_df using (term) cross join kw_n
      ),
      kw_rnk as (
        select *, row_number() over (partition by doc_id
                                     order by score_e6 desc, term) as rnk
        from kw_sc
      )
      select doc_id, cast(rnk as int) as rnk, term,
             cast(tf as bigint) as tf, score_e6
      from kw_rnk where rnk <= {top_k}
    """


# --- judged retrieval evaluation (MRR / P@k / NDCG@k) ------------------------

import math as _math


def ndcg_weights_e6(k: int) -> list[int]:
    """The rank-r NDCG gain ``round(1e6 / log2(r + 1))`` for r = 1..k,
    computed ONCE here in Python and injected as LITERALS into both
    the Spark plan and the DuckDB oracle — cross-engine exactness by
    construction (no engine evaluates a log)."""
    return [round(1_000_000 / _math.log2(r + 1)) for r in range(1, k + 1)]


def retrieval_metrics(
    df: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    *,
    k: int = 10,
) -> DataFrame:
    """Per-query judged-retrieval metrics over a run frame
    ``(query, rank, rel)`` — the scorecard every retrieval stack owes
    its owner (the repo ships BM25, dense cosine and RRF fusion; this
    is how you decide between them): reciprocal rank of the first
    relevant hit, precision at ``k``, and binary NDCG at ``k``, each
    an exact integer.

        rr_e6    = 10⁶ DIV first_rel_rank          (0 if none found)
        p_at_k_e6  = hits_in_top_k · 10⁶ DIV k
        ndcg_e6  = DCG · 10⁶ DIV IDCG, DCG = Σ_{rel hits r ≤ k} w_r,
                   IDCG = Σ_{r ≤ min(n_rel, k)} w_r

    with the gain table w_r = round(10⁶/log2(r+1)) precomputed in
    Python (:func:`ndcg_weights_e6`) and joined as a broadcast
    literal dim — neither engine ever evaluates a log, so the floats
    are gone before the plan starts. A query with NO relevant
    documents anywhere emits 0/0/NULL (NDCG undefined — not perfect,
    not zero: the query can't distinguish systems). Ranks must be
    ≥ 1 and unique per query (enforced by a woven assert on the rank
    domain; uniqueness is the run contract).

    Scale shape: one filter to ranks ≤ k + broadcast weight join for
    DCG/P@k, one partially-aggregable per-query rollup for n_rel and
    the first relevant rank (a MIN, not a window), one broadcast
    IDCG-prefix dim on min(n_rel, k). The run frame is scanned twice
    (top-k slice + n_rel), both scans partial-agg; no windows, no
    driver loops. Output: (query, n_rel, first_rel_rank, rr_e6,
    p_at_k_e6, ndcg_e6)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = df.sparkSession
    w = ndcg_weights_e6(k)
    wdim = local_frame(spark, [(r + 1, w[r]) for r in range(k)], "rnk bigint, w bigint")
    pre = [(m, sum(w[:m])) for m in range(1, k + 1)]
    idim = local_frame(spark, pre, "m bigint, idcg bigint")
    rnk = F.col(rank_col).cast("bigint")
    base = df.select(
        F.col(query_col).alias("q"),
        F.when(
            F.assert_true(
                rnk >= 1, F.lit("retrieval_metrics requires ranks >= 1")
            ).isNull(),
            rnk,
        ).alias("rnk"),
        F.col(rel_col).cast("boolean").alias("rel"),
    )
    per_q = base.groupBy("q").agg(
        F.sum(F.when(F.col("rel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rel"),
        F.min(F.when(F.col("rel"), F.col("rnk"))).alias("first_rel_rank"),
    )
    topk = (
        base.where((F.col("rnk") <= k) & F.col("rel"))
        .join(F.broadcast(wdim), "rnk")
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("hits_k"),
            F.sum("w").alias("dcg"),
        )
    )
    out = (
        per_q.join(topk, "q", "left")
        .join(
            F.broadcast(idim),
            F.least(F.col("n_rel"), F.lit(k).cast("bigint"))
            == F.col("m"),
            "left",
        )
        .select(
            F.col("q").alias(query_col),
            "n_rel",
            "first_rel_rank",
            F.when(F.col("n_rel") == 0, F.lit(0))
            .otherwise(F.expr("1000000 div first_rel_rank"))
            .cast("bigint")
            .alias("rr_e6"),
            F.expr(f"coalesce(hits_k, 0) * 1000000 div {k}")
            .cast("bigint")
            .alias("p_at_k_e6"),
            F.when(F.col("n_rel") == 0, F.lit(None).cast("bigint"))
            .otherwise(
                F.expr("coalesce(dcg, 0) * 1000000 div idcg")
            )
            .alias("ndcg_e6"),
        )
    )
    return out


def retrieval_metrics_sql(
    *, rel: str, query_col: str, rank_col: str, rel_col: str, k: int = 10
) -> str:
    """DuckDB recompute of :func:`retrieval_metrics` — the SAME
    Python-computed gain literals (values dims), same integer laws,
    generated here so the two spellings cannot drift."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = ndcg_weights_e6(k)
    wrows = ", ".join(f"({r + 1}, {w[r]})" for r in range(k))
    irows = ", ".join(
        f"({m}, {sum(w[:m])})" for m in range(1, k + 1)
    )
    return f"""
        with _rm_w(rnk, w) as (values {wrows}),
        _rm_i(m, idcg) as (values {irows}),
        _rm_base as (
          select {query_col} as q, cast({rank_col} as bigint) as rnk,
                 cast({rel_col} as boolean) as rel
          from {rel}
        ),
        _rm_q as (
          select q, sum(case when rel then 1 else 0 end)::BIGINT as n_rel,
                 min(case when rel then rnk end) as first_rel_rank
          from _rm_base group by 1
        ),
        _rm_topk as (
          select b.q, count(*)::BIGINT as hits_k, sum(w.w)::BIGINT as dcg
          from _rm_base b join _rm_w w on w.rnk = b.rnk
          where b.rnk <= {k} and b.rel
          group by 1
        )
        select pq.q as {query_col}, pq.n_rel, pq.first_rel_rank,
               case when pq.n_rel = 0 then 0
                    else 1000000 // pq.first_rel_rank
               end::BIGINT as rr_e6,
               (coalesce(t.hits_k, 0) * 1000000 // {k})::BIGINT
                 as p_at_k_e6,
               case when pq.n_rel = 0 then NULL
                    else coalesce(t.dcg, 0) * 1000000 // i.idcg
               end::BIGINT as ndcg_e6
        from _rm_q pq
        left join _rm_topk t on t.q = pq.q
        left join _rm_i i on i.m = least(pq.n_rel, {k})
    """
