"""Deduplication operators for training-data pipelines at corpus scale.

Five families, each a composition of built-in DataFrame ops (no Python in
the hot path; hashes are md5-based so DuckDB oracles can replicate them):

- **exact**: hash-groupBy on md5(text) — one shuffle, map-side combinable.
- **n-gram Jaccard**: shingle → explode → self-join on shingle →
  per-pair intersection counts → Jaccard. The join is the classic
  inverted-index candidate generation; a document-frequency cap drops
  ubiquitous shingles (boilerplate) that would otherwise quadratically
  blow up the hot keys — the explicit skew handling at 100 TB.
- **MinHash + LSH**: per-shingle hash family h_i = int(md5(i:shingle)[:8],16),
  signature = min per i; band keys bucket-join candidates so the
  self-join is on tiny equality keys instead of all-pairs.
- **SimHash**: 32-bit sign-of-weighted-bit-sums over token hashes; near
  dups = equal simhash (or small hamming distance via band rotation).
- **embedding cosine**: see similarity.py (shared kernels).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.functions import pandas_udf
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import shingles, ws_tokens
from ..session import local_frame


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One representative (min id) per distinct text. Output:
    (text_hash, rep_id, dup_count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def _distinct_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) pairs, distinct per doc."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )


def _pair_intersections(sh: DataFrame) -> DataFrame:
    """(id_a, id_b, inter): shared-shingle counts via the inverted-index
    self-join (id_a < id_b)."""
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def _join_sizes(pairs: DataFrame, sizes: DataFrame, col: str = "n_shingles") -> DataFrame:
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col(col).alias("size_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col(col).alias("size_b"))
    return pairs.join(sz_a, "id_a").join(sz_b, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard ≥ threshold.

    Output: (id_a, id_b, jaccard) with id_a < id_b. Jaccard is always the
    TRUE n-gram Jaccard (sizes and intersections over the full shingle
    sets), with or without the skew guard.

    ``max_shingle_df`` is the 100 TB skew guard: shingles appearing in
    more than that many docs (boilerplate — one such shingle in 10^6 docs
    alone generates 10^12 candidate pairs) are excluded from CANDIDATE
    GENERATION only. The hot-shingle set is tiny by construction (each
    one appears in > cap docs, so there are at most |rows|/cap of them)
    and is broadcast for a map-side anti-join. Candidates are then pruned
    with an upper bound — true_inter ≤ inter_rare + min(hot_a, hot_b) —
    and survivors re-verified EXACTLY against the full shingle sets, so
    every reported score is the true Jaccard. The only approximation is
    recall: a qualifying pair sharing *no* rare shingle at all is never
    generated (at that point the docs are boilerplate-only near-dups,
    which exact-dedup on the dominant template catches instead).

    The distinct-shingle frame ``sh`` (a full corpus scan + explode +
    distinct shuffle) feeds five branches of the capped plan (sizes,
    hot-set, rare anti-join, and both exact-verify sides); without an
    explicit ``persist`` Catalyst materializes that subtree independently
    in every branch (observed: a 288-node / 66-exchange plan with zero
    ReusedExchange). ``sh``, ``sizes``, and the candidate frame are
    therefore persisted MEMORY_AND_DISK — the one-pass-per-subtree
    property is asserted by a plan gate in tests. The cache is left to
    Spark's LRU eviction (the result is lazy, so there is no safe point
    to unpersist inside this function).
    """
    from pyspark import StorageLevel

    sh = _distinct_shingles(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if max_shingle_df is None:
        inter = _pair_intersections(sh)
        return (
            _join_sizes(inter, sizes)
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_shingle_df)
        .select("shingle")
    )
    sh_rare = sh.join(F.broadcast(hot), "shingle", "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rare_sizes = sh_rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_rare"))

    inter_rare = _pair_intersections(sh_rare)
    cand = _join_sizes(inter_rare, sizes)
    ra = rare_sizes.select(F.col("doc_id").alias("id_a"), F.col("n_rare").alias("rare_a"))
    rb = rare_sizes.select(F.col("doc_id").alias("id_b"), F.col("n_rare").alias("rare_b"))
    cand = (
        cand.join(ra, "id_a")
        .join(rb, "id_b")
        .withColumn(
            "_slack",
            F.least(F.col("size_a") - F.col("rare_a"), F.col("size_b") - F.col("rare_b")),
        )
        .withColumn(
            "_ub",
            (F.col("inter") + F.col("_slack"))
            / (F.col("size_a") + F.col("size_b") - F.col("inter") - F.col("_slack")),
        )
        .filter(F.col("_ub") >= threshold)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # slack-free pairs: neither doc lost a shingle to the cap → the rare
    # intersection IS the true intersection; emit directly (when the cap
    # doesn't bind, everything lands here and verification costs nothing)
    final_direct = (
        cand.filter(F.col("_slack") == 0)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )

    # pairs touching hot shingles: re-verify exactly over FULL shingle sets
    to_verify = cand.filter(F.col("_slack") > 0).select("id_a", "id_b")
    fa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    fb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    exact_inter = (
        to_verify.join(fa, "id_a")
        .join(fb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    final_verified = (
        _join_sizes(exact_inter, sizes)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return final_direct.unionByName(final_verified)


def dedup_paragraphs(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """WITHIN-document repetition removal — the Dolma/RefinedWeb-style
    cleanup step that drops repeated paragraphs/lines inside one
    document while preserving first-occurrence order.

    Output: (id, n_paras, n_distinct, text_dedup) — the deduped text is
    the distinct paragraphs joined by ``sep`` in original order.

    Scale shape: split → posexplode → groupBy(id, para) min(pos) →
    groupBy(id) array_sort(collect_list(struct)) — two shuffles keyed by
    the document id (never a global key), all JVM built-ins, no UDF.
    Paragraph comparison is exact; for NEAR-duplicate paragraphs compose
    with the simhash/minhash operators over the exploded frame.

    ``sep`` is a LITERAL separator string (quoted with Java regex
    \\Q...\\E for the split side, joined verbatim on the reassembly
    side) — F.split's regex semantics never leak through. A separator
    containing the quoting terminator ``\\E`` is rejected.

    NULL text is coalesced to '' (→ n_paras=1, n_distinct=1,
    text_dedup='') so the document id always survives to the output —
    posexplode over split(NULL) would otherwise silently drop the row
    and downstream joins would lose the document."""
    if "\\E" in sep:
        raise ValueError(r"separator must not contain the \E quoting terminator")
    parts = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E")
        ).alias("_pos", "_para"),
    )
    firsts = parts.groupBy(id_col, "_para").agg(
        F.min("_pos").alias("_pos"), F.count(F.lit(1)).alias("_n")
    )
    return (
        firsts.groupBy(id_col)
        .agg(
            F.sum("_n").alias("n_paras"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                    lambda s: s["_para"],
                ),
                sep,
            ).alias("text_dedup"),
        )
    )


MINHASH_PRIME = 2_147_483_647  # 2^31 − 1 (Mersenne prime)


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-family coefficients (aᵢ, bᵢ), derived from md5
    so Spark / DuckDB / Python all reproduce them. hᵢ(x) = (aᵢ·x + bᵢ)
    mod P over the base hash x = int(md5(shingle)[:8], 16) < 2³². The
    product aᵢ·x < 2³¹·2³² < 2⁶³ never overflows a signed 64-bit int.
    One md5 per shingle instead of ``num_hashes`` md5s — the hash family
    is integer arithmetic, which matters at 10¹²×shingles scale."""
    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % (MINHASH_PRIME - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % MINHASH_PRIME
        out.append((a, b))
    return out


def _base_hash(shingle_col: Column) -> Column:
    """x = int(md5(shingle)[:8], 16) — portable across engines."""
    return F.conv(F.substring(F.md5(shingle_col), 1, 8), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, n: int = 3
) -> DataFrame:
    """MinHash signatures: (doc_id, sig array<bigint>). Docs with no
    shingles are dropped. One md5 + ``num_hashes`` affine maps per
    distinct shingle; one shuffle (groupBy doc, map-side combinable)."""
    sh = _distinct_shingles(df, id_col, text_col, n).withColumn(
        "_x", _base_hash(F.col("shingle"))
    )
    coeffs = minhash_coeffs(num_hashes)
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("_x") + F.lit(b), F.lit(MINHASH_PRIME))).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band of their MinHash
    signature. Output: (id_a, id_b, shared_bands). The band bucket-join
    replaces the all-pairs comparison — candidates meet only inside
    equal (band_idx, band_key) buckets."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) evenly "
            f"(rows per band = num_hashes / bands)"
        )
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, n)
    band_cols = [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.md5(F.array_join(F.transform(F.slice("sig", bi * rows + 1, rows), lambda h: h.cast("string")), ",")).alias("band_key"),
        )
        for bi in range(bands)
    ]
    banded = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("band")).select(
        "doc_id", F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )


def simhash_col(text_col: Column, bits: int = 32) -> Column:
    """32-bit SimHash over whitespace tokens, all JVM-side:

    token → h = int(md5(token)[:8],16); bit b of the result is set iff
    Σ_tokens (±1 by bit b of h) ≥ 0. Empty docs → 0.
    """
    hashes = F.transform(
        ws_tokens(text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    acc = F.lit(0).cast("bigint")
    for b in range(bits):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda s, h: s
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )
        acc = acc + F.when(vote >= 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0))
    return F.when(F.size(ws_tokens(text_col)) > 0, acc).otherwise(F.lit(0))


def make_simhash_udf(bits: int = 32):
    """Arrow-batched numpy SimHash — identical semantics to
    :func:`simhash_col` (same md5-derived token hashes, same vote rule)
    but one vectorized pass per batch with a token-hash memo. The JVM
    version's 32 interpreted higher-order aggregates cost ~2ms/row; this
    is ~20-40× faster on wide corpora and is the scale path. Equality of
    the two is asserted in tests."""
    @pandas_udf("bigint")
    def _simhash(text: pd.Series) -> pd.Series:
        # local imports: the closure ships by value (cloudpickle), so
        # executors need no package on their PYTHONPATH
        import hashlib as _hl

        import numpy as np

        # r6 (guide §4.2): the old per-doc loop paid one numpy vector add
        # PER TOKEN (~2 µs each); this form only appends ints in the
        # Python loop and does ALL vote accumulation as one scatter-add,
        # with md5 computed once per UNIQUE token. Semantics unchanged
        # (same md5-derived ±1 votes, same ≥0 rule, empty docs → 0) —
        # equality with simhash_col stays asserted in tests.
        n = len(text)
        out = np.zeros(n, dtype=np.int64)
        vocab: dict[str, int] = {}
        row_ix: list[int] = []
        tok_ix: list[int] = []
        for i, t in enumerate(text):
            # strip SPACES only: JVM ws_tokens uses F.trim, which removes
            # ASCII spaces but not tabs/newlines — Python's bare strip()
            # would diverge on whitespace-varied text
            for tok in (t or "").strip(" ").split(" "):
                if tok:
                    j = vocab.get(tok)
                    if j is None:
                        j = len(vocab)
                        vocab[tok] = j
                    row_ix.append(i)
                    tok_ix.append(j)
        if not vocab:
            return pd.Series(out)
        hs = np.fromiter(
            (int(_hl.md5(tok.encode()).hexdigest()[:8], 16) for tok in vocab),
            dtype=np.int64,
            count=len(vocab),
        )
        tok_bits = (
            ((hs[:, None] >> np.arange(bits, dtype=np.int64)) & 1) * 2 - 1
        )  # (vocab, bits) of ±1
        votes = np.zeros((n, bits), dtype=np.int64)
        np.add.at(votes, np.asarray(row_ix), tok_bits[np.asarray(tok_ix)])
        weights = np.array([1 << b for b in range(bits)], dtype=np.int64)
        nonempty = np.zeros(n, dtype=bool)
        nonempty[row_ix] = True
        vals = (votes >= 0) @ weights
        out[nonempty] = vals[nonempty]
        return pd.Series(out)

    return _simhash


def simhash_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group docs by identical SimHash: (simhash, rep_id, dup_count)."""
    return (
        df.select(simhash_col(F.col(text_col)).alias("simhash"), F.col(id_col))
        .groupBy("simhash")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
) -> DataFrame:
    """EXACT near-dup pairs within Hamming distance ≤ ``max_hamming`` of
    the 32-bit SimHash, via pigeonhole banding (the Hamming-band path the
    module docstring promises): split the hash into ``bands`` contiguous
    bands of bits/bands bits. Any pair differing in ≤ max_hamming bits
    (max_hamming < bands) leaves ≥1 band untouched, so the equality
    bucket-join on (band_idx, band_bits) generates a candidate SUPERSET —
    no false negatives, unlike probabilistic LSH. Candidates are verified
    with bit_count(xor) ≤ max_hamming. Output: (id_a, id_b, hamming).

    Scale shape: the join keys are small integers; candidates are bounded
    by per-band bucket sizes (docs agreeing on 8 simhash bits), not n²."""
    # hard errors, not asserts: under ``python -O`` a stripped assert
    # would silently void the pigeonhole no-false-negative guarantee
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): a pair "
            "differing in >= bands bits can touch every band and be missed"
        )
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into bands ({bands})")
    width = bits // bands
    mask = (1 << width) - 1
    # r6 (guide §5): the signature frame feeds BOTH self-join sides —
    # un-persisted, each side re-ran the Arrow simhash over the corpus.
    # 16 bytes/doc cached vs a second full UDF pass; also shared by the
    # components/keep-ids/keep-best/leakage compositions downstream.
    sigs = df.select(
        F.col(id_col).alias("doc_id"),
        make_simhash_udf(bits)(F.col(text_col)).alias("sh"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    band_arr = F.array(
        *[F.shiftright(F.col("sh"), b * width).bitwiseAND(F.lit(mask)) for b in range(bands)]
    )
    banded = sigs.select("doc_id", "sh", F.posexplode(band_arr).alias("_band", "_key"))
    a, b = banded.alias("a"), banded.alias("b")
    # verify BEFORE dedup: bit_count is map-side and cheap, so only true
    # near-dup pairs (not every band collision) enter the distinct shuffle
    return (
        a.join(b, ["_band", "_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold — brute-force
    all-pairs. O(n²): this is the SMALL-SCALE ORACLE / ground-truth used
    to validate :func:`embedding_near_dup_lsh`, never the 100 TB path.
    Output: (id_a, id_b, cosine)."""
    from .similarity import cosine_expr

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def dedup_against_snapshot(
    new_df: DataFrame,
    snapshot_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
) -> DataFrame:
    """Incremental crawl dedup: keep only the rows of ``new_df`` that
    are neither EXACT (md5) nor SimHash-near (Hamming ≤ max_hamming)
    duplicates of ANY snapshot row — the continuous-crawl pattern where
    yesterday's corpus is summarized, not rescanned.

    Scale story: the snapshot side reduces to a (md5, simhash) summary
    — ~40 bytes/doc regardless of text size — which is the table a
    production pipeline PERSISTS between crawls; text for old documents
    is never read again. The exact check is one hash anti-join on the
    16-byte key; the near check band-explodes BOTH sides (pigeonhole:
    a pair within max_hamming < bands agrees on ≥1 band) and verifies
    candidates with one bit_count before the distinct, exactly like
    :func:`simhash_near_dup_pairs`. Duplicates WITHIN the new batch are
    out of scope here — compose with :func:`dedup_corpus_keep_ids`.
    Output: the kept new rows' (doc_id).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): a pair "
            "differing in >= bands bits can touch every band and be missed"
        )
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into bands ({bands})")
    width = bits // bands
    mask = (1 << width) - 1
    new = new_df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    old = snapshot_df.select(F.col(text_col).alias("_t"))
    # the persisted-between-crawls snapshot summary (md5 + simhash)
    # r6 (guide §5): both summary frames have two consumers each (exact
    # anti-join + band probe; band probe + final anti-join) — persisted
    # so the Arrow simhash runs once per side, not once per consumer
    old_sum = (
        old.select(
            F.md5("_t").alias("_h"), make_simhash_udf(bits)(F.col("_t")).alias("sh")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    new_sig = new.select(
        "doc_id", F.md5("_t").alias("_h"), make_simhash_udf(bits)(F.col("_t")).alias("sh")
    )
    after_exact = new_sig.join(
        old_sum.select("_h").distinct(), "_h", "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def banded(df2, keep_cols):
        band_arr = F.array(
            *[
                F.shiftright(F.col("sh"), b * width).bitwiseAND(F.lit(mask))
                for b in range(bands)
            ]
        )
        return df2.select(*keep_cols, "sh", F.posexplode(band_arr).alias("_band", "_key"))

    nb = banded(after_exact, ["doc_id"]).alias("n")
    ob = banded(old_sum.select("sh").distinct(), []).alias("o")
    near_hit = (
        nb.join(ob, ["_band", "_key"])
        .filter(
            F.bit_count(F.col("n.sh").bitwiseXOR(F.col("o.sh"))) <= max_hamming
        )
        .select("doc_id")
        .distinct()
    )
    return after_exact.join(near_hit, "doc_id", "left_anti").select("doc_id")


def dedup_corpus_keep_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """The end-to-end dedup materialization: which rows SURVIVE — the
    step after pair mining that an actual training-data pipeline ships.

    1. exact dedup: one representative (min id) per distinct text;
    2. near-dup grouping: SimHash Hamming-band pairs → connected
       components (each near-dup family labeled by its min member id);
    3. keep = exact representatives minus near-dup non-representatives.

    Output: (doc_id) of kept rows. Each stage is the already-tested
    operator; this is their composition (broadcast-free, all bounded
    joins)."""
    from .components import connected_components

    exact_reps = dedup_exact(df, id_col, text_col).select(
        F.col("rep_id").alias("doc_id")
    )
    pairs = simhash_near_dup_pairs(df, id_col, text_col, max_hamming, bands)
    comp = connected_components(pairs)
    drop_near = comp.filter(F.col("node") != F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    return exact_reps.join(drop_near, "doc_id", "left_anti")


def dup_family_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """The duplicate-family edge set shared by
    :func:`dedup_corpus_keep_best` and :func:`leakage_safe_split`:
    exact-dup star edges (every member of a same-md5(text) group ↔ the
    group min — O(group) edges, never the quadratic clique) unioned
    with SimHash Hamming-band near-dup pairs. Output: (id_a, id_b)."""
    grp = df.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("_h")
    )
    gmin = grp.groupBy("_h").agg(
        F.min("doc_id").alias("_rep"), F.count(F.lit(1)).alias("_n")
    )
    exact_edges = (
        grp.join(gmin, "_h")
        .where((F.col("_n") > 1) & (F.col("doc_id") != F.col("_rep")))
        .select(F.col("doc_id").alias("id_a"), F.col("_rep").alias("id_b"))
    )
    near = simhash_near_dup_pairs(
        df, id_col, text_col, max_hamming, bands
    ).select("id_a", "id_b")
    return exact_edges.unionByName(near)


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    fractions: "dict[str, float]",
    *,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates
    across the eval boundary — the split a careful training team
    actually ships. A plain per-document hash split (``sampling.
    dataset_split``) puts two near-identical crawls of the same page
    in train AND test with probability 2·p·(1−p); memorization then
    reads as generalization. Here the split key is the document's
    duplicate-FAMILY representative (family = connected component of
    exact-md5 star edges ∪ SimHash near-dup pairs, rep = min doc id —
    the :func:`dedup_corpus_keep_best` family definition), so every
    member of a family lands in the SAME split by construction;
    documents in no family split by their own id, making the operator
    degrade exactly to ``dataset_split`` on a dup-free corpus.

    Scale: the family edges are the bounded star/band joins (never a
    clique), components are O(log² n) rounds, and the split itself is
    a pure map over the rep key — determinism and incremental
    stability inherit from the md5-bucket contract (adding documents
    never moves an existing family across the boundary unless it
    BRIDGES two families, which is the correct behavior: merged
    families must re-land together).

    Output: ``(doc_id, family_rep, split)``."""
    from .components import connected_components
    from .sampling import dataset_split

    comp = connected_components(
        dup_family_edges(df, id_col, text_col, max_hamming, bands)
    )
    keyed = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id")
            .cast("bigint")
            .alias("family_rep"),
        )
    )
    return dataset_split(keyed, "family_rep", fractions)


def dedup_corpus_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    score_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Quality-priority dedup materialization: keep the BEST-scoring
    member of every duplicate family instead of the min-id one — what a
    production training-data pipeline actually ships (among near-dup
    crawls of a page, keep the longest / highest-quality capture, not
    whichever got the smaller id).

    Family = connected component of the union graph over
    (a) exact-dup star edges (every member of a same-md5(text) group ↔
    the group min) and (b) SimHash Hamming-band near-dup pairs. Within
    a family keep argmax by (score desc, id asc); docs in no family
    keep themselves.

    Scale: the same bounded joins as :func:`dedup_corpus_keep_ids`
    plus ONE ``min_by`` aggregate per family over a (-score, id) struct
    — map-side combinable, so a million-member dup family pre-reduces
    inside each map task. ``score_col`` must be numeric (it is negated
    for the tiebreak). Output: (doc_id) of kept rows.
    """
    from .components import connected_components

    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_text"),
        F.col(score_col).cast("double").alias("_score"),
    )
    comp = connected_components(
        dup_family_edges(df, id_col, text_col, max_hamming, bands)
    )
    member = comp.join(
        base.select(F.col("doc_id").alias("node"), "_score"), "node"
    )
    best = member.groupBy("component_id").agg(
        F.min_by(
            "node", F.struct((-F.col("_score")).alias("ns"), F.col("node").alias("n"))
        ).alias("keep_id")
    )
    singles = base.select("doc_id").join(
        comp.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    )
    return singles.unionByName(best.select(F.col("keep_id").alias("doc_id")))


def make_lsh_band_udf(dim: int, bits: int = 8, tables: int = 4, seed: int = 7):
    """Arrow-batched signature UDF: vector → array of ``tables`` packed
    band keys (one random-hyperplane sign signature per table). Planes
    are the same deterministic md5-derived hyperplanes as
    similarity._hyperplanes (equality asserted in tests); the batch is
    one numpy GEMM — the 10-100× Arrow-vs-interpreted-lambda win this
    repo measures elsewhere. Closure is self-contained (captures only a
    numpy array) so executors need no package on PYTHONPATH."""
    import numpy as np

    from .similarity import _hyperplanes

    planes = np.array(
        [row for t in range(tables) for row in _hyperplanes(dim, bits, seed + 1000 * t)],
        dtype=np.float64,
    )  # (tables*bits, dim)
    n_tables, n_bits = tables, bits

    @pandas_udf("array<bigint>")
    def _sig(vec: pd.Series) -> pd.Series:
        import numpy as np

        v = np.array(vec.tolist(), dtype=np.float64)  # (n, dim)
        signs = (v @ planes.T) >= 0  # (n, tables*bits)
        weights = np.array([1 << b for b in range(n_bits)], dtype=np.int64)
        keys = signs.reshape(len(v), n_tables, n_bits) @ weights  # (n, tables)
        return pd.Series(list(keys))

    return _sig


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    threshold: float = 0.9,
    bits: int = 8,
    tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold — the scale path.

    Multi-table random-hyperplane LSH: a pair meets iff it shares a full
    ``bits``-bit sign signature in ≥1 of ``tables`` tables (miss prob
    (1−p^bits)^tables, p = 1 − θ/π). The bucket join replaces the n²
    cross join; candidates carry only ids through the join (vectors are
    re-attached by id afterwards, so heavy arrays are never exploded
    ``tables``×). Exact cosine verification keeps precision at 1.0 —
    recall is the only approximation, validated against
    :func:`embedding_near_dup_pairs` in tests and by the DuckDB oracle
    at sf0.01. Output: (id_a, id_b, cosine).

    ``dim`` (the embedding width) is REQUIRED and keyword-only: callers
    always know it from the table contract, a row-probe fallback would
    cost an extra Spark job per call (a zero-probe-job test enforces
    this), and keyword-only placement keeps a legacy positional
    ``(df, id, vec, threshold)`` call from silently binding the
    threshold as dim."""
    if dim <= 0:
        raise ValueError(
            "dim (embedding width) is required: pass the vector length from "
            "the table contract instead of relying on a row probe"
        )
    from .similarity import cosine_expr

    sig_udf = make_lsh_band_udf(dim, bits, tables, seed)
    banded = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(sig_udf(F.col(vec_col))).alias("_t", "_k")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["_t", "_k"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_expr(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    keep_first: bool = True,
) -> DataFrame:
    """Corpus-wide EXACT-SUBSTRING deduplication (the ExactSubstr step of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): any run of ``k`` or more whitespace tokens that occurs
    more than once anywhere in the corpus (across or within documents)
    is a duplicated span; covered tokens are removed from the text.

    With ``keep_first=True`` (the paper's keep-one semantics) the
    globally first occurrence of each duplicated k-gram — minimal
    (id, position) — keeps its span; every other occurrence is removed.
    With ``keep_first=False`` every occurrence of a duplicated span is
    removed (the stricter variant the paper also discusses).

    Output, one row per input document (docs whose text is entirely
    duplicated spans still appear): ``(id, n_tokens, n_dup_tokens,
    text_dedup)`` where ``text_dedup`` is the surviving tokens joined by
    a single space in original order ('' when nothing survives).

    Scale shape — three shuffles, no UDF, no Python in the hot path:

    1. tokenize + k-gram windows: ``split`` → guarded ``sequence`` →
       ``transform(slice, array_join)`` → ``posexplode`` — pure JVM map,
       no shuffle. Gram identity is ``md5`` of the gram string so the
       shuffle key is fixed-width (and DuckDB can replicate it).
    2. duplicate detection: groupBy(gram hash) with count + min-struct —
       both partially aggregable, so a boilerplate gram repeated 10^6
       times combines map-side instead of flooding one reducer (the
       skew-safe alternative to a row_number window over the gram key).
       Windows then semi-join the cnt>=2 stats back on the hash (AQE
       handles residual reducer skew).
    3. span merge + reassembly: classic gap-and-islands (one window over
       (id, pos)), covered positions re-exploded via ``sequence`` and
       joined back to tokens — every step doc-keyed, never a global key.

    The canonical-occurrence tiebreak orders by (id, pos) with ``id``
    compared in its NATIVE type, so numeric and string id columns both
    work cross-engine (no lexicographic-vs-numeric mismatch).

    ``toks`` feeds both the window builder and the final reassembly, and
    ``windows`` feeds both the stats groupBy and the join probe — both
    are persisted MEMORY_AND_DISK so Catalyst reads the materialized
    subtree instead of re-running tokenize+gram-build per branch (the
    ngram_jaccard r3 lesson; asserted by a plan gate in
    test_plan_quality.py). The cache is left to Spark's LRU eviction —
    the result is lazy, so there is no safe unpersist point here.
    """
    from pyspark import StorageLevel

    if k < 2:
        raise ValueError(f"k must be >= 2 tokens, got {k}")
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("_toks"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # sequence(0, n-k) descends when n < k — guard to an empty array.
    windows = toks.select(
        "_id",
        F.posexplode(
            F.when(
                F.size("_toks") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - k),
                    lambda i: F.md5(F.array_join(F.slice("_toks", i + 1, k), " ")),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_pos0", "_h"),
    ).select("_id", (F.col("_pos0") + 1).alias("_pos"), "_h")
    windows = windows.persist(StorageLevel.MEMORY_AND_DISK)
    stats = windows.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_first"),
    )
    dupw = windows.join(stats.filter(F.col("_cnt") >= 2), "_h")
    if keep_first:
        dupw = dupw.filter(
            ~(
                (F.col("_first._id") == F.col("_id"))
                & (F.col("_first._pos") == F.col("_pos"))
            )
        )
    spans = dupw.select("_id", F.col("_pos").alias("_s"), (F.col("_pos") + k - 1).alias("_e"))
    w_doc = Window.partitionBy("_id").orderBy("_s")
    w_run = w_doc.rowsBetween(Window.unboundedPreceding, -1)
    islands = spans.withColumn(
        "_new", F.when(F.col("_s") > F.coalesce(F.max("_e").over(w_run), F.lit(-1)), 1).otherwise(0)
    ).withColumn("_g", F.sum("_new").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)))
    intervals = islands.groupBy("_id", "_g").agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
    covered = intervals.select(
        "_id", F.explode(F.sequence(F.col("_s"), F.col("_e"))).alias("_pos")
    ).withColumn("_cov", F.lit(1))
    tok_rows = toks.select(
        "_id",
        F.size("_toks").alias("_n"),
        F.posexplode("_toks").alias("_pos0", "_tok"),
    ).select("_id", "_n", (F.col("_pos0") + 1).alias("_pos"), "_tok")
    marked = tok_rows.join(covered, ["_id", "_pos"], "left")
    return (
        marked.groupBy("_id")
        .agg(
            F.max("_n").alias("n_tokens"),
            F.coalesce(F.sum("_cov"), F.lit(0)).alias("n_dup_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_cov").isNull(), F.struct("_pos", "_tok"))
                        )
                    ),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("text_dedup"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("n_tokens").cast("long"),
            F.col("n_dup_tokens").cast("long"),
            "text_dedup",
        )
    )


# --- semantic dedup (SemDeDup) ---------------------------------------------


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    k: int,
    threshold: float = 0.95,
    iters: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup removal over an
    embedding column — k-means partition, then pairwise cosine WITHIN
    each cell only; a row is a duplicate if some lower-id row in its
    cell sits at cosine ≥ ``threshold`` (keep-first, the corpus
    convention). Cross-cell near-dups are missed by design — that is
    the published recipe's scale trade (they use k ~ sqrt(n) cells so
    cells stay small). Output: ``(<id_col>, cluster, is_dup)``.

    Scale shape: the k-means rounds are zero-data-shuffle assignment +
    one k×(dim+1) partial agg each (operators/kmeans.py); the pairwise
    step is ONE shuffle on the cell id and O(Σ cell²) local work —
    bounded by sizing k to the corpus, exactly how the paper runs at
    1e9 docs. A pathologically hot cell is the known skew caveat:
    raise k (more, smaller cells) before reaching for salting, since
    salting would split cells and change semantics.

    Cross-engine contract: cluster assignment is bit-exact (integer
    grid, operators/kmeans.py) and the cosine compares at e6
    quantization, so the DuckDB twin (:func:`semantic_dedup_sql`,
    generated here — zero drift) reproduces the verdict set exactly on
    corpora whose pair cosines don't straddle the threshold within
    1e-6 (the registered corpus plants dups at ≈0.99 vs randoms ≈0)."""
    from .kmeans import kmeans_fit

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    reserved = {"cluster", "is_dup", "_nrm", "_ida", "_idb", "_va", "_vb",
                "_na", "_nb", "_dup"}
    for c in (id_col, vec_col):
        if c in reserved:
            raise ValueError(f"column name {c!r} is reserved by semantic_dedup")
    tau_e6 = int(round(threshold * 1_000_000))
    assigned, _cents = kmeans_fit(
        df.select(id_col, vec_col), id_col, vec_col, k=k, dim=dim, iters=iters
    )
    # two consumers (the per-cell pairwise verdict + the final join) —
    # persist so the assignment join runs once, not once per consumer.
    from pyspark.storagelevel import StorageLevel

    w = (
        df.select(id_col, vec_col)
        .join(assigned.select(id_col, "cluster"), id_col)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # r6 (guide §4.2 "do the heavy lifting in native code"): the
    # previous formulation self-joined the cell on its id and evaluated
    # one interpreted higher-order dot fold PER PAIR (~4.6 µs/pair
    # measured; an unrolled codegen dot was also A/B-tested and lost —
    # the giant expression tree still evaluates interpreted inside the
    # join). A cell is one group either way (the join key was the cell
    # id, so no partitioning could spread one cell's Σ cell² work), so
    # hand the WHOLE cell to numpy as one Arrow batch and do the
    # pairwise cosines as a single GEMM — the shape SemDeDup itself
    # ships. Distribution granularity and the verdict rule (dup ⟺ some
    # lower-id cellmate at round(cos·1e6) ≥ τ_e6, HALF_UP like Spark's
    # round) are identical; float sums differ only in association order,
    # which cannot flip a verdict unless a pair's cosine sits within
    # ~1e-6 of the threshold (the documented contract above). Memory is
    # not: the join streamed pairs, this task holds several cell×cell
    # float64 matrices (G, denom, cos, ce6: ~80 GB each at 100k rows).
    _id_t = dict(zip(w.columns, (f.dataType.simpleString() for f in w.schema)))[
        id_col
    ]

    def _cell_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids_s = ids[order]
        V = np.array(pdf[vec_col].tolist(), dtype=np.float64)[order]
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        G = V @ V.T
        denom = np.outer(nrm, nrm)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, G / denom, 0.0)
        # Spark ROUND is HALF_UP (away from zero); np.round is banker's
        ce6 = np.sign(cos) * np.floor(np.abs(cos) * 1_000_000 + 0.5)
        hit = np.triu(ce6 >= tau_e6, k=1)  # strictly i<j in id order
        return pd.DataFrame({id_col: ids_s[hit.any(axis=0)]})

    dup_ids = (
        w.select(id_col, vec_col, "cluster")
        .groupBy("cluster")
        .applyInPandas(_cell_dups, schema=f"{id_col} {_id_t}")
        .withColumn("_dup", F.lit(True))
    )
    return w.join(dup_ids, id_col, "left").select(
        F.col(id_col),
        F.col("cluster"),
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
    )


def semantic_dedup_sql(
    src_cte: str,
    id_expr: str,
    vec_expr: str,
    *,
    dim: int,
    k: int,
    threshold: float = 0.95,
    iters: int = 2,
) -> str:
    """DuckDB rendering of :func:`semantic_dedup` (same k-means CTEs via
    ``kmeans_sql``, same e6 cosine verdict): CTE chain ending in
    ``sem(id, cluster, is_dup)``."""
    from .kmeans import kmeans_sql

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    tau_e6 = int(round(threshold * 1_000_000))
    body = kmeans_sql(src_cte, id_expr, vec_expr, k=k, dim=dim, iters=iters)
    return f"""{body},
      sem_w as (
        select f.id, f.cluster, v.v from km_final f join (
          select {id_expr} as id, {vec_expr}::DOUBLE[] as v from {src_cte}
        ) v using (id)
      ),
      sem_dups as (
        select distinct b.id
        from sem_w a join sem_w b
          on a.cluster = b.cluster and a.id < b.id
        where cast(round(list_cosine_similarity(a.v, b.v) * 1000000)
                   as bigint) >= {tau_e6}
      ),
      sem as (
        select w.id, w.cluster, (d.id is not null) as is_dup
        from sem_w w left join sem_dups d using (id)
      )"""


# --- corpus-level paragraph dedup (CCNet, Wenzek et al. 2020 §3.1) -------

def dedup_paragraphs_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    *,
    keep: str = "first",
) -> DataFrame:
    """CORPUS-level paragraph dedup — the CCNet cleanup step: drop any
    paragraph whose exact text occurs anywhere ELSE in the corpus (the
    web's shared boilerplate — nav bars, cookie banners, footers — is
    exactly the text that repeats across pages). The within-document
    sibling is :func:`dedup_paragraphs`; this one's duplicate scope is
    global.

    ``keep="first"``: the globally first occurrence (min (id, pos))
    survives, every other copy is removed. ``keep="none"``: a
    duplicated paragraph is removed EVERYWHERE (CCNet's own choice —
    boilerplate is worthless even once).

    Output: ``(id, n_paras, n_kept, text_dedup)`` for EVERY input
    document — NULL text reads as '' and a document whose every
    paragraph was removed still emits a row with ``text_dedup = ''``
    (the dedup_paragraphs NULL lesson, ADVICE r4).

    Scale shape: split → posexplode → ONE groupBy on md5(paragraph)
    (the HASH shuffles, never the paragraph text twice; partially
    aggregable, so a banner repeated 10⁶ times pre-counts in the map
    tasks) → hash-keyed join back → ONE groupBy id that counts,
    filters and reassembles in a single collect_list (order restored by
    pos). All JVM built-ins, no UDF. ``sep`` is a literal separator
    (``\\Q…\\E``-quoted, same contract as dedup_paragraphs)."""
    if not sep:
        raise ValueError("separator must be non-empty")
    if "\\E" in sep:
        raise ValueError(r"separator must not contain the \E quoting terminator")
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    parts = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E")
        ).alias("_pos", "_para"),
    ).withColumn("_h", F.md5("_para"))
    stats = parts.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct(F.col(id_col).alias("_fid"), F.col("_pos").alias("_fpos"))
              ).alias("_first"),
    )
    kept_flag = (F.col("_c") == 1) if keep == "none" else (
        (F.col("_c") == 1)
        | ((F.col("_first._fid") == F.col(id_col))
           & (F.col("_first._fpos") == F.col("_pos")))
    )
    tagged = parts.join(stats, "_h").select(
        id_col, "_pos", "_para", kept_flag.alias("_k")
    )
    return tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("_k").cast("bigint")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("_pos", "_k", "_para"))),
                    lambda s: s["_k"],
                ),
                lambda s: s["_para"],
            ),
            sep,
        ).alias("text_dedup"),
    )


def dedup_paragraphs_corpus_sql(
    *,
    src: str,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    keep: str = "first",
) -> str:
    """DuckDB recompute of :func:`dedup_paragraphs_corpus` (window
    count + row_number per paragraph hash — a different legitimate
    spelling of the same duplicate law), generated here so the two
    formulations cannot drift."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if not sep:
        raise ValueError("separator must be non-empty")
    sep_sql = " || ".join(f"chr({ord(c)})" for c in sep)
    first_term = "false" if keep == "none" else "rn = 1"
    return f"""
        with _pd_src as (
          select {id_col}, coalesce({text_col}, '') as t from {src}
        ),
        _pd_parts as (
          select {id_col}, g.i - 1 as pos, sp[g.i] as para
          from (select {id_col}, string_split(t, {sep_sql}) as sp from _pd_src),
               unnest(range(1, len(sp) + 1)) as g(i)
        ),
        _pd_marked as (
          select *, count(*) over (partition by md5(para)) as c,
                 row_number() over (partition by md5(para)
                                    order by {id_col}, pos) as rn
          from _pd_parts
        ),
        _pd_kept as (
          select {id_col}, pos, para, (c = 1 or {first_term}) as k
          from _pd_marked
        )
        select {id_col},
               count(*)::BIGINT as n_paras,
               coalesce(sum(k::INT), 0)::BIGINT as n_kept,
               coalesce(array_to_string(list(para order by pos)
                        filter (where k), {sep_sql}), '') as text_dedup
        from _pd_kept group by {id_col}
    """


def remove_host_boilerplate(
    df: DataFrame,
    id_col: str,
    host_col: str,
    text_col: str,
    sep: str = "\n",
    *,
    min_docs: int = 2,
    ratio_permille: int = 300,
) -> DataFrame:
    """HOST-scoped line-frequency boilerplate removal — the RefinedWeb
    "line-wise correction" step (Penedo et al. 2023 §G.2): a line that
    appears on ≥ ``min_docs`` documents of the SAME host AND on at
    least ``ratio_permille``/1000 of that host's documents is template
    chrome (nav bars, cookie banners, share widgets) and is removed
    from EVERY page of that host — including the first occurrence,
    which is what distinguishes this from :func:`dedup_paragraphs_corpus`
    (keep="first" corpus dedup keeps one copy; boilerplate is worthless
    even once, but only WITHIN the host that templates it — the same
    sentence on an unrelated host is content and survives).

    The threshold is pure integer arithmetic (``df_docs*1000 >=
    ratio_permille*host_docs`` — no float ratios), so the decision is
    bit-identical cross-engine, including exact-boundary hosts.

    Output: ``(id, n_lines, n_kept, text_clean)`` for EVERY input
    document — NULL text reads as '' and still emits a row (the
    silent-drop lesson, ADVICE r4).

    Scale shape: split → posexplode → per-(host, line-md5) DISTINCT-doc
    count (the hash shuffles, never the line text twice; the distinct
    pre-reduces map-side so a nav bar on 10⁶ pages of one host costs
    one row per task) → host doc totals (one tiny partial-agg frame) →
    the boilerplate SET is the filtered join of the two (small: only
    lines that clear the per-host frequency bar) → hash-keyed left
    join tags survivors → ONE doc-keyed reassembly (order restored by
    pos). All JVM built-ins, no UDF; ``sep`` is a literal separator
    (``\\Q…\\E``-quoted, same contract as dedup_paragraphs)."""
    if not sep:
        raise ValueError("separator must be non-empty")
    if "\\E" in sep:
        raise ValueError(r"separator must not contain the \E quoting terminator")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    if not (0 < ratio_permille <= 1000):
        raise ValueError(
            f"ratio_permille must be in (0, 1000], got {ratio_permille}"
        )
    parts = df.select(
        F.col(id_col),
        F.col(host_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E")
        ).alias("_pos", "_line"),
    ).withColumn("_h", F.md5("_line"))
    line_docs = (
        parts.select(host_col, "_h", id_col)
        .distinct()
        .groupBy(host_col, "_h")
        .agg(F.count(F.lit(1)).alias("_dfc"))
    )
    host_docs = df.groupBy(host_col).agg(F.count(F.lit(1)).alias("_hd"))
    bp = (
        line_docs.join(host_docs, host_col)
        .where(
            (F.col("_dfc") >= F.lit(int(min_docs)))
            & (F.col("_dfc") * 1000 >= F.lit(int(ratio_permille)) * F.col("_hd"))
        )
        .select(host_col, "_h", F.lit(True).alias("_bp"))
    )
    tagged = parts.join(bp, [host_col, "_h"], "left").select(
        id_col, "_pos", "_line", F.col("_bp").isNull().alias("_k")
    )
    return tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_k").cast("bigint")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("_pos", "_k", "_line"))),
                    lambda s: s["_k"],
                ),
                lambda s: s["_line"],
            ),
            sep,
        ).alias("text_clean"),
    )


def remove_host_boilerplate_sql(
    *,
    src: str,
    id_col: str,
    host_col: str,
    text_col: str,
    sep: str = "\n",
    min_docs: int = 2,
    ratio_permille: int = 300,
) -> str:
    """DuckDB recompute of :func:`remove_host_boilerplate`, generated
    here so the two spellings cannot drift (same integer threshold; the
    oracle spells the distinct-doc count as a grouped subquery instead
    of the distinct-then-count frame)."""
    if not sep:
        raise ValueError("separator must be non-empty")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    if not (0 < ratio_permille <= 1000):
        raise ValueError(
            f"ratio_permille must be in (0, 1000], got {ratio_permille}"
        )
    sep_sql = " || ".join(f"chr({ord(c)})" for c in sep)
    return f"""
        with _hb_src as (
          select {id_col}, {host_col}, coalesce({text_col}, '') as t
          from {src}
        ),
        _hb_parts as (
          select {id_col}, {host_col}, g.i - 1 as pos, sp[g.i] as line
          from (select {id_col}, {host_col}, string_split(t, {sep_sql}) as sp
                from _hb_src),
               unnest(range(1, len(sp) + 1)) as g(i)
        ),
        _hb_linedocs as (
          select {host_col}, md5(line) as h, count(distinct {id_col}) as dfc
          from _hb_parts group by 1, 2
        ),
        _hb_hostdocs as (
          select {host_col}, count(*) as hd from _hb_src group by 1
        ),
        _hb_bp as (
          select ld.{host_col}, ld.h
          from _hb_linedocs ld join _hb_hostdocs hd using ({host_col})
          where ld.dfc >= {int(min_docs)}
            and ld.dfc * 1000 >= {int(ratio_permille)} * hd.hd
        ),
        _hb_tagged as (
          select p.{id_col}, p.pos, p.line,
                 (b.h is null) as k
          from _hb_parts p
          left join _hb_bp b
            on b.{host_col} = p.{host_col} and b.h = md5(p.line)
        )
        select {id_col},
               count(*)::BIGINT as n_lines,
               coalesce(sum(k::INT), 0)::BIGINT as n_kept,
               coalesce(array_to_string(list(line order by pos)
                        filter (where k), {sep_sql}), '') as text_clean
        from _hb_tagged group by {id_col}
    """


# --- MinHash estimator calibration -------------------------------------------


def minhash_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Calibration audit of the MinHash Jaccard ESTIMATOR against exact
    truth — the check a pipeline owner runs before trusting an LSH
    threshold at 100 TB (a mis-calibrated estimator silently moves the
    dedup bar; this measures, per estimate decile, how far the
    signature agreement sits from the true Jaccard on the pipeline's
    OWN candidate pairs).

    For every LSH candidate pair (≥1 shared band — the same candidate
    rule the production dedup uses): the estimate
    ``est_e6 = matches·10⁶ DIV k`` (signature positions agreeing, k =
    ``num_hashes``) and the exact ``true_e6 = inter·10⁶ DIV union``
    over the distinct shingle sets, binned by estimate decile
    (``bin = least(est_e6 DIV 100000, 9)`` — the exact-1.0 pairs land
    in bin 9). Per bin: ``n_pairs``, ``mean_est_e6``, ``mean_true_e6``
    (integer-division means of the exact e6 sums) and
    ``mean_abs_err_e6`` — every number an exact integer, zero-tolerance
    cross-engine.

    Scale shape: the shingle frame and the signature frame are each
    built ONCE and persisted MEMORY_AND_DISK (the ngram_jaccard
    multi-consumer pattern): signatures feed both the banding and the
    per-pair agreement join; shingles feed sizes and the candidate-
    restricted intersection join (candidates × their shingles — the
    verify cost the production path already pays, never all pairs).
    The decile rollup is a 10-row partial agg. Output: (bin, n_pairs,
    mean_est_e6, mean_true_e6, mean_abs_err_e6)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    from pyspark.storagelevel import StorageLevel

    rows = num_hashes // bands
    sh = _distinct_shingles(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh_x = sh.withColumn("_x", _base_hash(F.col("shingle")))
    coeffs = minhash_coeffs(num_hashes)
    aggs = [
        F.min(
            F.pmod(F.lit(a) * F.col("_x") + F.lit(b), F.lit(MINHASH_PRIME))
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = (
        sh_x.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    band_cols = [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice("sig", bi * rows + 1, rows),
                        lambda h: h.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_key"),
        )
        for bi in range(bands)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    est = (
        cand.join(sig.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("sig", "sig_a")
        .join(
            sig.select(
                F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.aggregate(
                F.zip_with(
                    "sig_a",
                    "sig_b",
                    lambda x, y: (x == y).cast("bigint"),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("matches"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    pairs = (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "id_a")
              .withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            F.expr(f"matches * 1000000 div {num_hashes}").alias("est_e6"),
            F.expr(
                "coalesce(inter, 0) * 1000000 div "
                "(sz_a + sz_b - coalesce(inter, 0))"
            ).alias("true_e6"),
        )
    )
    return (
        pairs.groupBy(
            F.least(F.expr("est_e6 div 100000"), F.lit(9))
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("est_e6").alias("_se"),
            F.sum("true_e6").alias("_st"),
            F.sum(F.abs(F.col("est_e6") - F.col("true_e6"))).alias("_sa"),
        )
        .select(
            "bin",
            "n_pairs",
            F.expr("_se div n_pairs").alias("mean_est_e6"),
            F.expr("_st div n_pairs").alias("mean_true_e6"),
            F.expr("_sa div n_pairs").alias("mean_abs_err_e6"),
        )
    )


# --- SimHash threshold operating curve ---------------------------------------


def simhash_threshold_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    family_col: str,
    *,
    max_hamming: int = 7,
    bits: int = 32,
) -> DataFrame:
    """Operating curve for the SimHash near-dup THRESHOLD — the sweep a
    pipeline owner reads before fixing ``max_hamming`` in production
    (every row of this table is a precision/recall point; the knee is
    the threshold). Ground truth comes from ``family_col``: two docs
    are a TRUE duplicate pair iff they share a non-NULL family id (the
    caller's staging/labeling); predictions at threshold t are the
    exact pigeonhole-banded pairs with hamming ≤ t.

    Honesty property: recall's denominator is the FULL true-pair count
    Σ_fam C(k,2) computed from the corpus — true pairs whose hamming
    exceeds ``max_hamming`` (missed by any threshold in the sweep)
    stay in fn, so the curve cannot flatter the banding. Per
    threshold t ∈ [0, max_hamming]: (t, n_pred, tp, fp, fn,
    precision_e6 — NULL when nothing was predicted, recall_e6).

    Scale shape: one banded candidate join
    (:func:`simhash_near_dup_pairs`, exact for hamming ≤ bands−1) +
    two broadcast family-label joins; per-hamming tallies collapse to
    a ≤ max_hamming+1-row frame BEFORE the cumulative window (which
    therefore runs on ≤ 8 rows); the true-pair total is one
    partial-agg over family sizes. No driver loops."""
    if not 0 <= max_hamming <= bits - 1:
        raise ValueError(
            f"max_hamming must be in [0, {bits - 1}], got {max_hamming}"
        )
    bands = max_hamming + 1
    pairs = simhash_near_dup_pairs(
        df, id_col, text_col, max_hamming=max_hamming, bands=bands,
        bits=bits,
    )
    fam = df.select(
        F.col(id_col).alias("_fid"), F.col(family_col).alias("_fam")
    )
    labeled = (
        pairs.join(
            fam.select(F.col("_fid").alias("id_a"),
                       F.col("_fam").alias("fam_a")),
            "id_a",
        )
        .join(
            fam.select(F.col("_fid").alias("id_b"),
                       F.col("_fam").alias("fam_b")),
            "id_b",
        )
        .select(
            "hamming",
            (
                F.col("fam_a").isNotNull()
                & (F.col("fam_a") == F.col("fam_b"))
            ).alias("same"),
        )
    )
    per_h = labeled.groupBy("hamming").agg(
        F.sum(F.when(F.col("same"), 1).otherwise(0)).cast("bigint")
        .alias("tp_h"),
        F.sum(F.when(F.col("same"), 0).otherwise(1)).cast("bigint")
        .alias("fp_h"),
    )
    grid = local_frame(df.sparkSession, [(t,) for t in range(max_hamming + 1)], "t bigint")
    total_true = (
        fam.where(F.col("_fam").isNotNull())
        .groupBy("_fam")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(
            F.coalesce(
                F.sum(F.expr("k * (k - 1) div 2")), F.lit(0)
            ).cast("bigint").alias("total_true")
        )
    )
    cum = (
        grid.join(per_h, per_h["hamming"] <= grid["t"], "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("tp_h"), F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce(F.sum("fp_h"), F.lit(0)).cast("bigint").alias("fp"),
        )
        .crossJoin(F.broadcast(total_true))
    )
    return cum.select(
        "t",
        (F.col("tp") + F.col("fp")).alias("n_pred"),
        "tp",
        "fp",
        (F.col("total_true") - F.col("tp")).alias("fn"),
        F.when(F.col("tp") + F.col("fp") == 0, F.lit(None).cast("bigint"))
        .otherwise(F.expr("tp * 1000000 div (tp + fp)"))
        .alias("precision_e6"),
        F.when(F.col("total_true") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("tp * 1000000 div total_true"))
        .alias("recall_e6"),
    )
