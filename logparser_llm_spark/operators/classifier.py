"""Multinomial Naive Bayes text classification: distributed training on
token counts + per-document log-posterior scoring — the fastText-style
classifier stage of the published webtext recipes (GPT-3's quality
classifier, CCNet's language/quality heads both sit in this family;
Joulin et al. 2016 is the public baseline shape).

The reference engine has no classifier surface; this sits in the repo's
beyond-reference training-data tier next to the CCNet LM filter
(operators/lm.py) and DSIR selection (operators/dsir.py).

Scale shape (the part that must survive 100 TB):

- Training is ONE token explode over the training corpus feeding a
  single partially-aggregable ``groupBy(label, word)`` count; per-class
  token totals and the vocabulary size derive from that same persisted
  frame (O(classes·distinct-words), never O(corpus)). Per-class
  document counts are a label-only ``groupBy`` — column pruning keeps
  the text column out of that scan.
- Scoring uses the OOV-baseline rearrangement so the model join is an
  ordinary equi-join on the word, NOT a classes-way row multiplication
  of the token stream::

      score(d,c) = prior(c) + n_tokens(d)·q0(c)
                   + Σ_{(w,c) in model} cnt(d,w)·(q(w,c) − q0(c))

  where ``q0(c)`` is the smoothed log-probability of an unseen word.
  Only (doc, word) pairs that HIT the model produce join rows; the
  C-way replication happens on the one-row-per-document frame (the
  cheap side), not the token stream. The per-document argmax is a
  window partitioned BY DOCUMENT — partition-parallel, no global sort.
- No UDF anywhere; tokenization is the repo-wide single-definition JVM
  expression (functions/text.py).

Cross-engine determinism (the oracle story, same contract as lm.py):
every count is an exact integer; rational add-k smoothing keeps every
probability a ratio of exact integers,
``P(w|c) = (c_wc·kd + kn) / (n_c·kd + kn·V)`` and
``P(c) = (docs_c·kd + kn) / (n_docs·kd + kn·C)``; each log term is ONE
double division + ONE ``ln`` quantized to integer micro-nats
(``round(1e6·ln p)``) BEFORE any sum, so per-document scores are
order-free integer sums. The rearrangement above is EXACT in those
integers (it adds and subtracts the same quantized ``q0``), which is
why :func:`nb_sql` deliberately keeps the naive direct algebra — two
independent formulations agreeing beats one restated (the
gopher_repetition lesson). Ties break to the lexicographically
smallest label, pinned by tests on both engines.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from typing import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import LOWER_TOKENS_SQL, TOKEN_SPLIT_RE, lower_tokens
from ..session import local_frame

# one million micro-units per nat, the repo-wide quantum
_E6 = 1_000_000
# a text classifier's class dim is small by nature (quality heads have
# 2, language heads tens); the cap is the "bounded driver set" contract
MAX_CLASSES = 10_000


def _check_k(k_num: int, k_den: int) -> None:
    if not (isinstance(k_num, int) and isinstance(k_den, int)
            and k_num >= 1 and k_den >= 1):
        raise ValueError(
            f"smoothing k must be a positive rational k_num/k_den, "
            f"got {k_num}/{k_den}"
        )


def nb_train(
    df: DataFrame, text_col: str, label_col: str
) -> tuple[DataFrame, DataFrame, int]:
    """Train class-conditional token counts from labelled text.

    Returns ``(words, classes, v)``: ``words`` is ``(label, w, cwc)``
    (persisted MEMORY_AND_DISK — it feeds per-class totals, the
    vocabulary scalar AND the scoring join); ``classes`` is
    ``(label, docs_c, n_c)`` with ``n_c`` the class token total (0 for
    a class whose documents are all empty — it still trains, with
    uniform smoothed likelihoods); ``v`` is the vocabulary size.
    NULL labels and >MAX_CLASSES label sets raise — the class dim must
    be a bounded driver set for the priors to be computable at all.
    """
    words = (
        df.select(
            F.col(label_col).alias("label"),
            lower_tokens(F.col(text_col)).alias("__toks"),
        )
        .select("label", F.explode("__toks").alias("w"))
        .groupBy("label", "w")
        .agg(F.count(F.lit(1)).alias("cwc"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # label-only scan: column pruning keeps text out of this pass
    docs = (
        df.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("docs_c"))
    )
    n_c = words.groupBy("label").agg(F.sum("cwc").alias("n_c"))
    classes = docs.join(n_c, "label", "left").select(
        "label", "docs_c", F.coalesce("n_c", F.lit(0)).alias("n_c")
    )
    head = classes.limit(MAX_CLASSES + 1).collect()
    if any(r["label"] is None for r in head):
        raise ValueError("training rows with NULL label")
    if len(head) > MAX_CLASSES:
        raise ValueError(f"more than {MAX_CLASSES} distinct labels")
    if not head:
        raise ValueError("training corpus is empty")
    v = words.agg(F.countDistinct("w").alias("v")).collect()[0]["v"]
    if not v:
        raise ValueError("training corpus contains no tokens")
    return words, classes, int(v)


def _q_e6(num, den) -> Column:
    """round(1e6·ln(num/den)) — integer ops up to ONE double division,
    ONE ln; mirrored textually in :func:`nb_sql` (`_q_e6_sql`)."""
    return F.round(
        F.log(num.cast("double") / den.cast("double")) * _E6
    ).cast("bigint")


def nb_predict(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words: DataFrame,
    classes: DataFrame,
    v: int,
    *,
    k_num: int = 1,
    k_den: int = 10,
) -> DataFrame:
    """Per-document prediction under the trained model, in integer
    micro-nats.

    Output: ``(<id_col>, n_tokens, pred_label, score_e6, margin_e6)``
    for EVERY input document (ids must be unique). A zero-token
    document scores on priors alone; ties break to the smallest label;
    ``margin_e6`` is the gap to the runner-up class (0 when the model
    has a single class). The same ``k_num/k_den`` smooths likelihoods
    AND priors.
    """
    _check_k(k_num, k_den)
    if not (isinstance(v, int) and v >= 1):
        raise ValueError(f"vocabulary size must be a positive int, got {v}")
    cls_rows = classes.limit(MAX_CLASSES + 1).collect()
    c = len(cls_rows)
    if c == 0:
        raise ValueError("classes frame is empty")
    if c > MAX_CLASSES:
        raise ValueError(f"more than {MAX_CLASSES} classes")
    n_docs = sum(r["docs_c"] for r in cls_rows)
    # the class dim is already on the driver — rebuild it as a local
    # frame so the plan's three consumers (wq, base) don't recompute
    # the label scan + n_c aggregate (review finding: 4 redundant jobs)
    classes_local = local_frame(df.sparkSession, cls_rows, classes.schema)
    # class dim with prior and the unseen-word baseline, all ln in JVM
    cls = classes_local.select(
        "label",
        "n_c",
        _q_e6(
            F.col("docs_c") * k_den + k_num, F.lit(n_docs * k_den + k_num * c)
        ).alias("prior_e6"),
        _q_e6(
            F.lit(k_num), F.col("n_c") * k_den + F.lit(k_num * v)
        ).alias("q0_e6"),
    )
    # per-(word, class) adjustment over the model frame (model-sized)
    wq = words.join(F.broadcast(cls), "label").select(
        "label",
        "w",
        (
            _q_e6(
                F.col("cwc") * k_den + k_num,
                F.col("n_c") * k_den + F.lit(k_num * v),
            )
            - F.col("q0_e6")
        ).alias("adj_e6"),
    )
    # map-side combinable doc token pre-agg; the model join is an
    # equi-join on the word — only model hits produce rows. The model
    # side is broadcast-pinned (a word-count model is fastText-sized —
    # O(classes·distinct words); drop the hint if a model ever outgrows
    # executor memory and the join degrades gracefully to shuffled)
    pre = (
        df.select(F.col(id_col), lower_tokens(F.col(text_col)).alias("__toks"))
        .select(id_col, F.explode("__toks").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ntok = pre.groupBy(id_col).agg(F.sum("cnt").alias("n_tokens"))
    doc_adj = (
        pre.join(F.broadcast(wq), "w")
        .groupBy(id_col, "label")
        .agg(F.sum(F.col("cnt") * F.col("adj_e6")).alias("adj_e6"))
    )
    # the C-way replication happens HERE, on one row per document —
    # a broadcast class-dim cross join (bounded by MAX_CLASSES), the
    # ann_topk query-vector pattern, never on the token stream
    base = (
        df.select(id_col)
        .join(ntok, id_col, "left")
        .select(id_col, F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"))
        .crossJoin(F.broadcast(cls.select("label", "prior_e6", "q0_e6")))
    )
    scores = (
        base.join(doc_adj, [id_col, "label"], "left")
        .select(
            id_col,
            "n_tokens",
            "label",
            (
                F.col("prior_e6")
                + F.col("n_tokens") * F.col("q0_e6")
                + F.coalesce("adj_e6", F.lit(0))
            ).alias("score_e6"),
        )
    )
    w_doc = Window.partitionBy(id_col).orderBy(
        F.col("score_e6").desc(), F.col("label").asc()
    )
    return (
        scores.withColumn("__rk", F.row_number().over(w_doc))
        .withColumn("__nxt", F.lead("score_e6").over(w_doc))
        .where(F.col("__rk") == 1)
        .select(
            id_col,
            "n_tokens",
            F.col("label").alias("pred_label"),
            "score_e6",
            F.coalesce(
                F.col("score_e6") - F.col("__nxt"), F.lit(0)
            ).alias("margin_e6"),
        )
    )


# --- oracle ------------------------------------------------------------

def _q_e6_sql(num: str, den: str) -> str:
    return (
        f"cast(round(ln(({num})::DOUBLE / ({den})::DOUBLE) * {_E6})"
        " as bigint)"
    )


def nb_sql(
    *,
    train_where: str,
    score_from: str,
    id_col: str,
    text_col: str,
    label_col: str,
    k_num: int = 1,
    k_den: int = 10,
) -> str:
    """DuckDB recompute of train + predict, generated here so the two
    formulations cannot drift — deliberately the NAIVE direct algebra
    (cross join every class against every document token, coalesce the
    unseen count to 0) rather than the Spark side's OOV-baseline
    rearrangement: independent spellings agreeing validates the
    rearrangement instead of restating it. Yields
    ``(<id_col>, n_tokens, pred_label, score_e6, margin_e6)``."""
    _check_k(k_num, k_den)
    like = _q_e6_sql(
        f"coalesce(wd.cwc, 0) * {k_den} + {k_num}",
        f"pr.n_c * {k_den} + {k_num} * vocab.v",
    )
    prior = _q_e6_sql(
        f"docs_c * {k_den} + {k_num}",
        f"tot.n_docs * {k_den} + {k_num} * tot.n_cls",
    )
    return f"""
        with tr as (
          select {label_col} as label,
                 {LOWER_TOKENS_SQL.format(c=text_col)} as s
          from {score_from} where {train_where}
        ),
        tr_toks as (select label, w from tr, unnest(s) as t(w)),
        words as (select label, w, count(*) as cwc from tr_toks group by 1, 2),
        cls_tok as (select label, sum(cwc) as n_c from words group by 1),
        cls as (
          select {label_col} as label, count(*) as docs_c
          from {score_from} where {train_where} group by 1
        ),
        tot as (select sum(docs_c) as n_docs, count(*) as n_cls from cls),
        vocab as (select count(distinct w) as v from tr_toks),
        priors as (
          select cls.label, coalesce(ct.n_c, 0) as n_c, {prior} as prior_e6
          from cls left join cls_tok ct using (label) cross join tot
        ),
        sc as (
          select {id_col}, {LOWER_TOKENS_SQL.format(c=text_col)} as s
          from {score_from}
        ),
        pre as (
          select {id_col}, w, count(*) as cnt
          from sc, unnest(s) as t(w) group by 1, 2
        ),
        ntok as (select {id_col}, sum(cnt) as n_tokens from pre group by 1),
        tok_cls as (
          select p.{id_col}, pr.label,
                 sum(p.cnt * {like}) as like_e6
          from pre p
          cross join priors pr
          left join words wd on wd.label = pr.label and wd.w = p.w
          cross join vocab
          group by 1, 2
        ),
        scores as (
          select a.{id_col},
                 coalesce(nt.n_tokens, 0) as n_tokens,
                 pr.label,
                 pr.prior_e6 + coalesce(tc.like_e6, 0) as score_e6
          from (select {id_col} from {score_from}) a
          cross join priors pr
          left join ntok nt using ({id_col})
          left join tok_cls tc
            on tc.{id_col} = a.{id_col} and tc.label = pr.label
        ),
        ranked as (
          select *,
                 row_number() over (
                   partition by {id_col}
                   order by score_e6 desc, label asc
                 ) as rk,
                 lead(score_e6) over (
                   partition by {id_col}
                   order by score_e6 desc, label asc
                 ) as nxt
          from scores
        )
        select {id_col},
               n_tokens::BIGINT as n_tokens,
               label as pred_label,
               score_e6::BIGINT as score_e6,
               coalesce(score_e6 - nxt, 0)::BIGINT as margin_e6
        from ranked where rk = 1
    """


# --- driver-side reference (differential tests) ------------------------

def _tokens_py(text: str) -> list[str]:
    return [w for w in re.split(TOKEN_SPLIT_RE, (text or "").lower()) if w]


def _q_e6_py(num: int, den: int) -> int:
    x = math.log(num / den) * _E6
    # Java HALF_UP == away from zero
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def nb_train_py(
    rows: Iterable[tuple[str, str]]
) -> tuple[dict, Counter, Counter, int]:
    """Reference trainer over ``(label, text)`` rows →
    ``(word_counts{(label, w): c}, class_tokens, class_docs, v)``."""
    wc: Counter = Counter()
    n_c: Counter = Counter()
    docs: Counter = Counter()
    vocab: set[str] = set()
    for label, text in rows:
        if label is None:
            raise ValueError("training rows with NULL label")
        toks = _tokens_py(text)
        docs[label] += 1
        n_c[label] += len(toks)
        vocab.update(toks)
        for w in toks:
            wc[(label, w)] += 1
    if not docs:
        raise ValueError("training corpus is empty")
    if not vocab:
        raise ValueError("training corpus contains no tokens")
    return dict(wc), n_c, docs, len(vocab)


def nb_predict_py(
    text: str,
    wc: dict,
    n_c: Counter,
    docs: Counter,
    v: int,
    *,
    k_num: int = 1,
    k_den: int = 10,
) -> tuple[int, str, int, int]:
    """(n_tokens, pred_label, score_e6, margin_e6) — the naive direct
    algebra, mirroring :func:`nb_sql` including HALF_UP rounding."""
    _check_k(k_num, k_den)
    toks = _tokens_py(text)
    cnt = Counter(toks)
    n_docs = sum(docs.values())
    c = len(docs)
    scored = []
    for label in sorted(docs):
        s = _q_e6_py(docs[label] * k_den + k_num, n_docs * k_den + k_num * c)
        for w, n in cnt.items():
            s += n * _q_e6_py(
                wc.get((label, w), 0) * k_den + k_num,
                n_c[label] * k_den + k_num * v,
            )
        scored.append((s, label))
    scored.sort(key=lambda t: (-t[0], t[1]))
    margin = scored[0][0] - scored[1][0] if len(scored) > 1 else 0
    return len(toks), scored[0][1], scored[0][0], margin
