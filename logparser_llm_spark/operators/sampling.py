"""Deterministic sampling operators for training-data pipelines.

Sampling at 100 TB must be (a) a pure map — no shuffle, no global sort,
no driver round-trip — and (b) reproducible across engines and runs, so
every filter here keys on md5 of a stable id (portable to DuckDB bit for
bit) instead of RNG state.

- :func:`hash_sample`: uniform p%% sample — one md5 per row, predicate
  pushed into the scan.

Key columns must be string or integer typed: those are the types whose
cast-to-string renders identically in Spark and DuckDB, keeping the two
engines' samples bit-identical (enforced with a ValueError).
- :func:`stratified_sample`: per-stratum rates (e.g. downsample the
  dominant language, keep the long tail) — the broadcast-map shape; the
  rate lookup is a small literal CASE, never a join.
- :func:`reservoir_per_key`: EXACTLY ``k`` rows per key (md5-ranked —
  deterministic "reservoir") for bounded per-key exemplars; one shuffle
  on the key, the same cost class as the groupBy it usually feeds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

HASH_BUCKETS = 10_000  # rate resolution 0.01%

# Key types whose string rendering is identical in Spark's cast('string')
# and DuckDB's cast(... as varchar). double/decimal/timestamp keys are
# REJECTED: the engines render them differently (scientific notation,
# trailing zeros, timestamp formats), which would silently desynchronize
# cross-engine sampling — the exact failure the shared md5 bucket exists
# to prevent.
_PORTABLE_KEY_TYPES = {"string", "tinyint", "smallint", "int", "bigint"}


def _check_key_type(df: DataFrame, key_col: str) -> None:
    dtype = dict(df.dtypes).get(key_col)
    if dtype is None:
        raise ValueError(f"key column {key_col!r} not in {df.columns}")
    if dtype not in _PORTABLE_KEY_TYPES:
        raise ValueError(
            f"sampling key {key_col!r} has type {dtype!r}; only "
            f"{sorted(_PORTABLE_KEY_TYPES)} render identically across "
            "Spark and DuckDB — cast the key to string with an explicit, "
            "engine-agnostic format first"
        )


def sample_bucket(key: Column) -> Column:
    """Stable per-row bucket in [0, HASH_BUCKETS) — the repo's shared
    cross-engine md5 bucket (functions/hashing.py), identical in Spark,
    DuckDB and Python."""
    from ..functions.hashing import md5_bucket_col

    return md5_bucket_col(key.cast("string"), HASH_BUCKETS)


def sample_bucket_sql(expr: str) -> str:
    """DuckDB rendering of :func:`sample_bucket`."""
    from ..functions.hashing import md5_bucket_sql

    return md5_bucket_sql(f"cast({expr} as varchar)", HASH_BUCKETS)


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Uniform deterministic sample: keep round(fraction·buckets) of the
    md5 bucket space (bucket resolution 1/HASH_BUCKETS — fractions finer
    than that round to the nearest bucket count). Pure map-side predicate
    — survives any re-run, any partitioning, and composes with column
    pruning."""
    _check_key_type(df, key_col)
    threshold = int(round(fraction * HASH_BUCKETS))
    return df.filter(sample_bucket(F.col(key_col)) < threshold)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-rebalancing
    primitive (e.g. ``{"en": 0.05, "zh": 0.5}`` keeps 5% of English and
    half of Chinese; unlisted strata keep ``default_rate``).

    The stratum→threshold map is a literal CASE expression (strata sets
    are small by definition), so the whole operator is one scan-side
    predicate: no join, no shuffle, no skew sensitivity — the dominant
    stratum is *cheaper* to drop than to carry.

    Key type contract: string or integer keys only (see
    :func:`_check_key_type`)."""
    _check_key_type(df, key_col)
    bucket = sample_bucket(F.col(key_col))
    for stratum in rates:
        if "'" in stratum:
            # the SQL twin interpolates strata as quoted literals; keep
            # the two renderings' domains identical
            raise ValueError(f"stratum labels must not contain quotes: {stratum!r}")
    expr = F.lit(int(round(default_rate * HASH_BUCKETS)))
    for stratum, rate in sorted(rates.items()):
        expr = (
            F.when(F.col(strata_col) == stratum, F.lit(int(round(rate * HASH_BUCKETS))))
            .otherwise(expr)
        )
    return df.filter(bucket < expr)


def stratified_sample_sql(
    key_expr: str, strata_expr: str, rates: dict[str, float], default_rate: float = 0.0
) -> str:
    """DuckDB predicate equivalent of :func:`stratified_sample`."""
    for s in rates:
        if "'" in s:
            raise ValueError(f"stratum labels must not contain quotes: {s!r}")
    default_thresh = int(round(default_rate * HASH_BUCKETS))
    if not rates:  # CASE with no WHEN is invalid SQL; the threshold is constant
        return f"{sample_bucket_sql(key_expr)} < {default_thresh}"
    cases = " ".join(
        f"when {strata_expr} = '{s}' then {int(round(r * HASH_BUCKETS))}"
        for s, r in sorted(rates.items())
    )
    thresh = f"(case {cases} else {default_thresh} end)"
    return f"{sample_bucket_sql(key_expr)} < {thresh}"


def reservoir_per_key(
    df: DataFrame, key_col: str, id_col: str, k: int
) -> DataFrame:
    """Exactly ``min(k, |group|)`` rows per key, chosen by md5 rank of the
    row id — a deterministic reservoir: the chosen set for a key depends
    only on the ids present, never on arrival order or partitioning.
    One shuffle (window on the key); rank columns are dropped.

    ``id_col`` feeds the cross-engine md5 rank, so it carries the same
    string/integer type contract as the bucket samplers (review r4: the
    guard covered only 2 of the 3 md5-keyed samplers)."""
    _check_key_type(df, id_col)
    rk = "_reservoir_rk"
    if rk in df.columns:
        raise ValueError(f"input already has a column named {rk!r}")
    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn(rk, F.row_number().over(w))
        .filter(F.col(rk) <= k)
        .drop(rk)
    )


def quota_mix(
    df: DataFrame,
    key_col: str,
    id_col: str,
    fractions: dict[str, float],
    total: int,
    *,
    default_frac: float = 0.0,
) -> DataFrame:
    """Training-mix composer: select documents so each key (language,
    source, domain) fills its TARGET SHARE of a ``total``-row budget —
    the data-recipe step of a published LLM mix (so much web, so much
    code, so much reference), as opposed to the RATE sampler
    (:func:`stratified_sample`, per-key keep probability) or the CAP
    sampler (:func:`reservoir_per_key`, fixed k per key).

    Quota per key = ``min(available, floor(round(frac·10⁶)·total/10⁶))``
    — exact integer arithmetic, portable to the SQL twin verbatim. A
    key short of its quota keeps everything it has (the budget is NOT
    redistributed — deterministic and cross-engine-checkable; callers
    wanting redistribution re-run with adjusted fractions). Selection
    within a key is the md5 rank of ``id_col`` (the module's
    deterministic-reservoir convention), so the chosen SET depends only
    on the ids present.

    Scale shape: one tiny per-key count aggregate to the driver, quotas
    broadcast back, ONE window shuffle on the key — same cost as
    :func:`reservoir_per_key`."""
    _check_key_type(df, id_col)
    _check_key_type(df, key_col)
    for reserved in ("__rk", "__quota"):
        if reserved in df.columns:
            raise ValueError(f"input already has a column named {reserved!r}")
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    for frac in list(fractions.values()) + [default_frac]:
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fractions must be in [0, 1], got {frac}")
    for s in fractions:
        if "'" in s:
            raise ValueError(f"mix labels must not contain quotes: {s!r}")
    fr_e6 = {k: int(round(f * 1_000_000)) for k, f in fractions.items()}
    d_e6 = int(round(default_frac * 1_000_000))
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n")).collect()
    quotas = [
        (
            r[key_col],
            min(int(r["n"]), (fr_e6.get(r[key_col], d_e6) * total) // 1_000_000),
        )
        for r in counts
    ]
    key_type = dict(df.dtypes)[key_col]
    qdf = local_frame(df.sparkSession, quotas, f"{key_col} {key_type}, __quota bigint")
    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.join(F.broadcast(qdf), key_col)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("__quota"))
        .drop("__rk", "__quota")
    )


def quota_mix_sql(
    table: str,
    key_expr: str,
    id_expr: str,
    fractions: dict[str, float],
    total: int,
    *,
    default_frac: float = 0.0,
) -> str:
    """DuckDB rendering of :func:`quota_mix` (same integer quota rule,
    same md5 rank): a CTE chain ending in ``mix_sel`` holding the
    selected rows of ``table``."""
    for s in fractions:
        if "'" in s:
            raise ValueError(f"mix labels must not contain quotes: {s!r}")
    d_e6 = int(round(default_frac * 1_000_000))
    if fractions:
        cases = " ".join(
            f"when k = '{s}' then {int(round(f * 1_000_000))}"
            for s, f in sorted(fractions.items())
        )
        frac_e6 = f"(case {cases} else {d_e6} end)"
    else:
        frac_e6 = str(d_e6)
    return f"""
      mix_counts as (
        select {key_expr} as k, count(*) as n from {table} group by 1
      ),
      mix_quotas as (
        select k, least(n, ({frac_e6} * {total}) // 1000000) as q
        from mix_counts
      ),
      mix_ranked as (
        select t.*, {key_expr} as __k,
               row_number() over (
                 partition by {key_expr}
                 order by md5(cast({id_expr} as varchar)), {id_expr}) as __rk
        from {table} t
      ),
      mix_sel as (
        select * exclude (__k, __rk, k, q)
        from mix_ranked join mix_quotas on __k = k
        where __rk <= q
      )"""


def dataset_split(
    df: DataFrame, key_col: str, fractions: "dict[str, float]"
) -> DataFrame:
    """Deterministic disjoint train/val/test assignment — the split
    every training pipeline needs to be REPRODUCIBLE and leakage-free:
    each row's split is a pure function of its key (contiguous ranges
    of the shared md5 bucket space), so re-runs, re-partitioning and
    incremental additions can never move a document across the split
    boundary (the classic eval-leakage bug).

    ``fractions`` (e.g. ``{"train": 0.9, "val": 0.05, "test": 0.05}``)
    must sum to 1 at bucket resolution (1/HASH_BUCKETS) — a partial
    split would silently drop rows, so it raises instead. Insertion
    order of the dict fixes the bucket ranges (part of the contract —
    reordering renames every row's split). Output: the input plus a
    ``split`` column; pure map-side CASE, no shuffle, composes with
    column pruning like the samplers above."""
    _check_key_type(df, key_col)
    if not fractions:
        raise ValueError("fractions must name at least one split")
    if "split" in df.columns:
        raise ValueError("input already has a 'split' column")
    counts = {name: int(round(f * HASH_BUCKETS)) for name, f in fractions.items()}
    if any(c <= 0 for c in counts.values()):
        raise ValueError(
            f"every split needs >= 1/{HASH_BUCKETS} of the key space, got {fractions}"
        )
    if sum(counts.values()) != HASH_BUCKETS:
        raise ValueError(
            f"fractions must sum to 1 at bucket resolution "
            f"(Σ round(f·{HASH_BUCKETS}) = {sum(counts.values())}, "
            f"need {HASH_BUCKETS}): {fractions}"
        )
    bucket = sample_bucket(F.col(key_col))
    expr = None
    hi = 0
    for name, c in counts.items():
        hi += c
        cond = bucket < hi
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr)


def dataset_split_sql(expr: str, fractions: "dict[str, float]") -> str:
    """DuckDB rendering of :func:`dataset_split`'s CASE (same bucket
    hash, same cumulative ranges, same insertion-order contract)."""
    if not fractions:
        raise ValueError("fractions must name at least one split")
    counts = {name: int(round(f * HASH_BUCKETS)) for name, f in fractions.items()}
    if any(c <= 0 for c in counts.values()):
        raise ValueError(
            f"every split needs >= 1/{HASH_BUCKETS} of the key space, got {fractions}"
        )
    if sum(counts.values()) != HASH_BUCKETS:
        raise ValueError(
            f"fractions must sum to 1 at bucket resolution: {fractions}"
        )
    bucket = sample_bucket_sql(expr)
    parts = []
    hi = 0
    for name, c in counts.items():
        hi += c
        parts.append(f"when {bucket} < {hi} then '{name}'")
    return "case " + " ".join(parts) + " end"


# --- weighted sampling (Efraimidis-Spirakis) ----------------------------

# 13 hex chars = 52 bits: the uniform fits a double EXACTLY, so the one
# ln() sees the same value on every engine
_ES_HEX = 13
_ES_SPACE = 1 << 52
_E6 = 1_000_000


def _es_q_neg(u_slice: Column) -> Column:
    """``-round(1e6·ln((s+1)/2^52))`` — the non-negative quantized
    surprisal of the md5 uniform (ln u ≤ 0 always)."""
    return (
        -F.round(
            F.log((u_slice + 1).cast("double") / F.lit(float(_ES_SPACE))) * _E6
        )
    ).cast("bigint")


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    *,
    seed: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): the k rows with the largest ``u^(1/w)`` where ``u``
    is the portable md5 uniform of ``(key, seed)`` — selection
    probability scales with ``weight_col`` (positive integer; a
    non-positive weight raises at execution time).

    The temperature-sampling shape of training-mix composition ("sample
    sources ∝ quality·size"). Scale shape: the rank key is a pure map
    (one md5 + one ln per row); top-k compiles to TakeOrderedAndProject
    — per-partition heaps + a k-row driver merge, no global sort, no
    shuffle. Output: the selected rows plus ``es_key_e12`` (the exact
    integer rank key, ties broken by the key column ascending).
    """
    from ..functions.hashing import md5_slice_col

    _check_key_type(df, key_col)
    if not (isinstance(k, int) and k >= 1):
        raise ValueError(f"k must be a positive int, got {k}")
    clash = {"es_key_e12", "__es_w", "__es_q"} & set(df.columns)
    if clash:
        raise ValueError(f"reserved output column name(s): {sorted(clash)}")
    wtype = dict(df.dtypes).get(weight_col)
    if wtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"weight column {weight_col!r} must be integer-typed, got {wtype!r}"
        )
    u = md5_slice_col(
        F.concat(F.col(key_col).cast("string"), F.lit("|" + seed)), _ES_HEX
    )
    guarded_w = F.when(F.col(weight_col) > 0, F.col(weight_col)).otherwise(
        F.raise_error(
            F.concat(F.lit("weighted_sample: non-positive weight: "),
                     F.col(weight_col).cast("string"))
        ).cast("bigint")
    )
    # quantize-then-divide with NON-NEGATIVE operands only, so the
    # floor division is identical in Spark (`div`), DuckDB (`//`) and
    # Python (`//`) — negative floor/truncate semantics never enter
    keyed = (
        df.withColumn("__es_w", guarded_w)
        .withColumn("__es_q", _es_q_neg(u))
        .withColumn("es_key_e12", F.expr(f"-((__es_q * {_E6}) div __es_w)"))
        .drop("__es_w", "__es_q")
    )
    return keyed.orderBy(
        F.col("es_key_e12").desc(), F.col(key_col).asc()
    ).limit(k)


def weighted_sample_sql(
    *,
    from_rel: str,
    key_expr: str,
    weight_expr: str,
    k: int,
    seed: str = "",
    select: str = "*",
) -> str:
    """DuckDB recompute of :func:`weighted_sample`, generated here so
    the two spellings cannot drift."""
    from ..functions.hashing import md5_slice_sql

    if not (isinstance(k, int) and k >= 1):
        raise ValueError(f"k must be a positive int, got {k}")
    s = md5_slice_sql(f"(cast({key_expr} as varchar) || '|{seed}')", _ES_HEX)
    q_neg = (
        f"(-cast(round(ln(({s} + 1)::DOUBLE / {float(_ES_SPACE)}) * {_E6})"
        " as bigint))"
    )
    key = f"(-(({q_neg} * {_E6}) // ({weight_expr})))"
    return f"""
        select {select}, {key} as es_key_e12
        from {from_rel}
        order by es_key_e12 desc, {key_expr} asc
        limit {k}
    """


def weighted_sample_py(
    rows: "list[tuple[object, int]]", k: int, *, seed: str = ""
) -> "list[tuple[object, int]]":
    """Reference over ``(key, weight)`` rows → the selected
    ``(key, es_key_e12)`` list, mirroring the engine spelling including
    HALF_UP quantization."""
    import math

    from ..functions.hashing import md5_slice

    if not (isinstance(k, int) and k >= 1):
        raise ValueError(f"k must be a positive int, got {k}")
    out = []
    for key, w in rows:
        if w <= 0:
            raise ValueError(f"weighted_sample: non-positive weight: {w}")
        s = md5_slice(f"{key}|{seed}", _ES_HEX)
        x = math.log((s + 1) / _ES_SPACE) * _E6
        q = math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
        out.append((key, -((-q) * _E6 // w)))
    # NATURAL key order for the tie-break — the engines order the typed
    # key column, so str() here would pick '10' < '2' on integer ties
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


# --- largest-remainder apportionment -----------------------------------------


def apportion(
    df: DataFrame, key_col: str, size_col: str, *, total: int
) -> DataFrame:
    """Hamilton largest-remainder apportionment — allocate EXACTLY
    ``total`` sample slots across strata proportionally to their
    sizes: the integer answer to "give me a 10k-doc eval set that
    mirrors the corpus mix" (naive rounding of per-stratum shares
    drifts by up to n_strata/2 slots; this never misses the total by
    even one). quota = floor(size·total/N) + 1 for the strata with
    the largest remainders, exactly enough to close the gap.

    Entirely exact: base = size·total DIV N and remainder =
    size·total MOD N are bigints, the leftover count is
    total − Σ base, and the top-up goes to the largest remainders
    (ties broken by key asc — deterministic; Hamilton's classic
    Alabama-paradox caveat is inherent to the method and documented
    here rather than hidden). Every quota is floor or ceil of the
    exact proportional share; Σ quota == total is asserted by tests
    as the method's defining property. Overflow: size·total ≤ 2⁶³
    — a woven assert enforces total ≤ 10⁹ with Σ size ≤ 9·10⁹.

    Scale shape: one partial agg to the per-stratum size frame; the
    remainder rank is a window over that tiny frame. Output:
    (key, size, base, remainder, quota)."""
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    if total > 1_000_000_000:
        raise ValueError("total must be <= 1e9 (overflow headroom)")
    sizes = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(F.col(size_col)).cast("bigint").alias("size")
    )
    n_tot = sizes.agg(F.sum("size").alias("N")).select(
        F.when(
            F.assert_true(
                (F.col("N") > 0) & (F.col("N") <= F.lit(9_000_000_000)),
                F.lit("apportion requires 0 < sum(size) <= 9e9"),
            ).isNull(),
            F.col("N"),
        ).alias("N")
    )
    based = sizes.crossJoin(F.broadcast(n_tot)).select(
        "key",
        "size",
        F.expr(f"size * {total} div N").alias("base"),
        F.expr(f"size * {total} % N").alias("remainder"),
    )
    from pyspark.sql import Window as W

    leftover = based.agg(
        (F.lit(total) - F.sum("base")).cast("bigint").alias("k")
    )
    w = W.orderBy(F.desc("remainder"), F.col("key"))
    return (
        based.withColumn("_r", F.row_number().over(w))
        .crossJoin(F.broadcast(leftover))
        .select(
            "key",
            "size",
            "base",
            "remainder",
            (
                F.col("base")
                + (F.col("_r") <= F.col("k")).cast("bigint")
            ).alias("quota"),
        )
    )


def apportion_sql(
    *, rel: str, key_col: str, size_col: str, total: int
) -> str:
    """DuckDB recompute of :func:`apportion` — same integer laws, same
    remainder rank, generated here so the two spellings cannot
    drift."""
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    if total > 1_000_000_000:
        raise ValueError("total must be <= 1e9 (overflow headroom)")
    return f"""
        with _ap_s as (
          select {key_col} as key, sum({size_col})::BIGINT as size
          from {rel} group by 1
        ),
        _ap_n as (select sum(size)::BIGINT as N from _ap_s),
        _ap_b as (
          select key, size,
                 (size * {total} // N)::BIGINT as base,
                 (size * {total} % N)::BIGINT as remainder
          from _ap_s cross join _ap_n
        ),
        _ap_k as (
          select ({total} - sum(base))::BIGINT as k from _ap_b
        )
        select key, size, base, remainder,
               (base + case when row_number() over (
                  order by remainder desc, key) <= k then 1 else 0
                end)::BIGINT as quota
        from _ap_b cross join _ap_k
    """
