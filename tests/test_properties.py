"""Property-based tests (hypothesis): idempotence, symmetry, and
Python↔JVM agreement on randomized inputs."""

import string

from hypothesis import given, settings, strategies as st

from logparser_llm_spark.config import PreprocessingConfig
from logparser_llm_spark.functions.cleaning import clean_text, is_valid_log
from logparser_llm_spark.operators.drain import (
    extract_template,
    levenshtein,
    token_similarity,
)
from logparser_llm_spark.operators.merging import merge_patterns, pattern_similarity

# log-ish text: words, numbers, ips, paths, punctuation, odd spacing
LOG_ALPHABET = string.ascii_letters + string.digits + " ./:-_=<>[]%\\"
log_text = st.text(alphabet=LOG_ALPHABET, max_size=120)
token = st.text(alphabet=string.ascii_lowercase + string.digits + ".-", min_size=0, max_size=24)

ALL_ON = PreprocessingConfig(
    remove_timestamps=True, remove_ip_addresses=True, lowercase=True
)


@settings(max_examples=300, deadline=None)
@given(log_text)
def test_clean_idempotent(s):
    for cfg in (PreprocessingConfig(), ALL_ON):
        once = clean_text(s, cfg)
        assert clean_text(once, cfg) == once


@settings(max_examples=300, deadline=None)
@given(log_text)
def test_extract_template_idempotent(s):
    cleaned = clean_text(s)
    once = extract_template(cleaned)
    assert extract_template(once) == once


@settings(max_examples=300, deadline=None)
@given(token, token)
def test_token_similarity_symmetric_and_bounded(a, b):
    s1, s2 = token_similarity(a, b), token_similarity(b, a)
    assert s1 == s2
    assert 0.0 <= s1 <= 1.0
    assert token_similarity(a, a) == 1.0


@settings(max_examples=200, deadline=None)
@given(token, token, token)
def test_levenshtein_metric_properties(a, b, c):
    assert levenshtein(a, b) == levenshtein(b, a)
    assert levenshtein(a, a) == 0
    assert levenshtein(a, b) <= levenshtein(a, c) + levenshtein(c, b)  # triangle


PATTERN_TOKEN = st.sampled_from(["User", "<*>", "logged", "in", "disk", "at", "a", "b"])
pattern = st.lists(PATTERN_TOKEN, min_size=1, max_size=10).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(pattern, pattern)
def test_merge_patterns_symmetric_idempotent(p1, p2):
    m = merge_patterns(p1, p2)
    assert merge_patterns(p2, p1) == m
    assert merge_patterns(m, m) == m
    assert len(m.split()) == max(len(p1.split()), len(p2.split()))


@settings(max_examples=300, deadline=None)
@given(pattern, pattern)
def test_pattern_similarity_bounds(p1, p2):
    s = pattern_similarity(p1, p2)
    assert 0.0 <= s <= 1.0
    assert pattern_similarity(p1, p1) == 1.0


@settings(max_examples=300, deadline=None)
@given(log_text)
def test_validity_agrees_with_unknown_routing(s):
    """Invalid cleaned text must never produce a non-empty template."""
    cleaned = clean_text(s)
    if not is_valid_log(cleaned):
        # tokenizing an invalid line may still work, but the pipeline
        # gates on validity; this asserts the gate's own consistency
        assert len(cleaned.strip()) < 10 or not any(ch.isalnum() for ch in cleaned)


def test_jvm_matches_python_on_hypothesis_corpus(spark):
    """One Spark job over a hypothesis-generated corpus: JVM clean_col,
    extract_template_col and extract_variables_col must equal the Python
    definitions byte-for-byte. Variables are extracted against three
    templates per line: its own, the next line's (mostly a non-match)
    and its own cleaned text (the unknown-row fallback)."""
    import pyspark.sql.functions as F

    from logparser_llm_spark.functions.cleaning import clean_col
    from logparser_llm_spark.operators.drain import (
        extract_template_col,
        extract_variables,
        extract_variables_col,
    )

    corpus: list[str] = []

    @settings(max_examples=500, deadline=None)
    @given(log_text)
    def collect(s):
        corpus.append(s)

    collect()
    pairs = [(s, corpus[(i + 1) % len(corpus)]) for i, s in enumerate(corpus)]
    df = spark.createDataFrame(pairs, "t string, u string")
    c = clean_col(F.col("t"))
    p = extract_template_col(c)
    rows = df.select(
        "t",
        "u",
        c.alias("c"),
        p.alias("p"),
        extract_variables_col(c, p).alias("v_own"),
        extract_variables_col(c, extract_template_col(clean_col(F.col("u")))).alias("v_next"),
        extract_variables_col(c, c).alias("v_self"),
    ).collect()
    for r in rows:
        cleaned = clean_text(r["t"])
        own = extract_template(cleaned)
        assert r["c"] == cleaned, repr(r["t"])
        assert r["p"] == own, repr(r["t"])
        assert r["v_own"] == extract_variables(cleaned, own), repr(r["t"])
        nxt = extract_template(clean_text(r["u"]))
        assert r["v_next"] == extract_variables(cleaned, nxt), (r["t"], r["u"])
        assert r["v_self"] == extract_variables(cleaned, cleaned), repr(r["t"])


# ---------------------------------------------------------------------------
# sketch properties (r5): pure-Python renderings, which the Spark/DuckDB
# paths are pinned to bit-for-bit elsewhere (test_sketch.py)

short_vals = st.lists(st.text(max_size=12), max_size=60)


@settings(max_examples=200, deadline=None)
@given(short_vals, short_vals)
def test_hll_union_is_register_max(a, b):
    from logparser_llm_spark.operators.sketch import hll_registers_py

    ra, rb = hll_registers_py(a, p=6), hll_registers_py(b, p=6)
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    assert merged == hll_registers_py(a + b, p=6)


@settings(max_examples=200, deadline=None)
@given(short_vals)
def test_hll_registers_are_multiset_insensitive(vals):
    from logparser_llm_spark.operators.sketch import hll_registers_py

    assert hll_registers_py(vals, p=6) == hll_registers_py(vals * 2, p=6)
    assert hll_registers_py(vals, p=6) == hll_registers_py(list(reversed(vals)), p=6)


@settings(max_examples=150, deadline=None)
@given(short_vals)
def test_cms_never_undercounts(vals):
    from logparser_llm_spark.operators.sketch import cms_build_py, cms_estimate_py

    cms = cms_build_py(vals, depth=3, width=8)  # tiny → heavy collisions
    for v in set(vals):
        assert cms_estimate_py(cms, v, depth=3, width=8) >= vals.count(v)


@settings(max_examples=150, deadline=None)
@given(short_vals, short_vals)
def test_cms_merge_is_counter_sum(a, b):
    from logparser_llm_spark.operators.sketch import cms_build_py

    ca, cb = cms_build_py(a, depth=3, width=16), cms_build_py(b, depth=3, width=16)
    merged: dict = dict(ca)
    for k, v in cb.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == cms_build_py(a + b, depth=3, width=16)
