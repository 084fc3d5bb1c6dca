"""Unit tests for the prefix-tree operator and merge semantics, using the
reference's own __main__ demo cases as fixtures (prefix_tree.py:367-389,
merger.py:280-337)."""

import pytest

from logparser_llm_spark.operators.drain import (
    TemplateTree,
    extract_template,
    extract_variables,
    extract_variables_col,
    levenshtein,
    template_to_regex,
    token_similarity,
    tokenize,
)
from logparser_llm_spark.operators.merging import (
    dedup_pool_exact,
    merge_patterns,
    merge_pool,
    pattern_similarity,
    should_merge,
)


def test_tokenize():
    assert tokenize("  a  b   c ") == ["a", "b", "c"]
    assert tokenize("") == []
    assert tokenize("one") == ["one"]


def test_levenshtein():
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "abc") == 3
    assert levenshtein("same", "same") == 0


def test_token_similarity_table():
    # cases from reference prefix_tree.py:241-279
    assert token_similarity("abc", "abc") == 1.0
    assert token_similarity("123", "456") == 0.9
    assert token_similarity("1.5", "2-2") == 0.9
    # IPs and dates strip to digits, so the numeric check fires FIRST
    # (reference prefix_tree.py:258-260 precedes the pattern table)
    assert token_similarity("10.0.0.1", "192.168.1.1") == 0.9
    assert token_similarity("2024-01-01", "1999-12-31") == 0.9
    assert token_similarity("deadbeef" * 4, "cafebabe" * 4) == 0.85  # md5-shaped
    # levenshtein fallback: server1 vs server2 → 1 - 1/7
    assert abs(token_similarity("server1", "server2") - (1 - 1 / 7)) < 1e-9


def test_tree_clusters_reference_demo():
    """Reference prefix_tree.py:367-389 demo, verified against the actual
    reference module: with max_depth=3 the User logs diverge at token 2
    ('john'/'mary' similarity 0 < 0.8) and never cluster; only the
    Failed-to-connect pair (identical first 3 tokens) promotes."""
    tree = TemplateTree(max_depth=3, min_cluster_size=2)
    logs = [
        ("log1", "User john logged in at 10:00"),
        ("log2", "User mary logged in at 10:05"),
        ("log3", "User bob logged in at 10:10"),
        ("log4", "Failed to connect to server1"),
        ("log5", "Failed to connect to server2"),
        ("log6", "Started process with PID 1234"),
    ]
    results = {lid: tree.insert(msg, lid) for lid, msg in logs}
    assert results["log1"] is None
    assert results["log2"] is None
    assert results["log3"] is None
    assert results["log4"] is None
    assert results["log5"] == "tmpl_0000"  # Failed-to-connect cluster promoted
    assert results["log6"] is None
    assert tree.search("User alice logged in at 11:00") is None
    assert tree.search("Failed to connect to server9") == "tmpl_0000"
    assert tree.search("completely unrelated line") is None
    stats = tree.stats()
    assert stats["num_clusters"] == 1 and stats["total_nodes"] == 14


def test_tree_fuzzy_descent():
    tree = TemplateTree(max_depth=4, min_cluster_size=2)
    tree.insert("error code 1234 found", "a")
    tree.insert("error code 5678 found", "b")  # 1234~5678 similarity 0.9 → same node
    tid = tree.insert("error code 9999 found", "c")
    assert tid is not None


def test_match_tree_wildcards():
    tree = TemplateTree(max_depth=5, min_cluster_size=1)
    tree.add_pattern("User <*> logged in", "tmpl_0001")
    tree.add_pattern("Failed to connect to <*>", "tmpl_0000")
    assert tree.match("User zork logged in") == "tmpl_0001"
    assert tree.match("Failed to connect to db-77") == "tmpl_0000"
    assert tree.match("nothing to see") is None


def test_match_tree_collision_is_deterministic():
    t1 = TemplateTree(max_depth=2, min_cluster_size=1)
    t1.add_pattern("alpha beta gamma", "tmpl_0005")
    t1.add_pattern("alpha beta delta", "tmpl_0002")  # same ≤2-token prefix
    t2 = TemplateTree(max_depth=2, min_cluster_size=1)
    t2.add_pattern("alpha beta delta", "tmpl_0002")
    t2.add_pattern("alpha beta gamma", "tmpl_0005")
    assert t1.match("alpha beta x") == t2.match("alpha beta x") == "tmpl_0002"


def test_extract_template():
    assert (
        extract_template("User john logged in from 10.0.0.1 port 22")
        == "User john logged in from <*> port <*>"
    )
    assert extract_template("request id=abc123 took 3.5 ms") == "request <*> took <*> ms"
    assert extract_template("plain words only here") == "plain words only here"


def test_extract_variables_reference_quirks():
    """parser.py:400-416: lazy groups, unanchored end."""
    assert extract_variables("User john logged in", "User <*> logged in") == {"var_1": "john"}
    # unanchored end: trailing text doesn't break the match
    assert extract_variables("User john logged in today", "User <*> logged in") == {
        "var_1": "john"
    }
    assert extract_variables("no match here", "User <*> logged in") == {}


@pytest.mark.parametrize(
    "log,template,expected",
    [
        ("a x\ry c", "a <*> c", {"var_1": "x\ry"}),
        ("a x\u2028y c", "a <*> c", {"var_1": "x\u2028y"}),
        ("a x\ny c", "a <*> c", {}),  # '.' stops only at \n
        ("a\nb 5", "a\nb <*>", {"var_1": "5"}),
        ("x \U0001F600\U0001F601", "x <*>", {"var_1": "\U0001F600"}),
        ("a\\Eb 5 c", "a\\Eb <*> c", {"var_1": "5"}),
        ("a\\Q 5", "a\\Q <*>", {"var_1": "5"}),
        ("(a)[b]{c}$^|+?.* 1 2", "(a)[b]{c}$^|+?.* <*> <*>", {"var_1": "1", "var_2": "2"}),
        ("lit <*> here 5", "lit <*> here <*>", {"var_1": "<*>", "var_2": "5"}),
        ("val 12345", "val <*>", {"var_1": "1"}),
        ("User john logged in today", "User <*> logged in", {"var_1": "john"}),
        ("no match here", "User <*> logged in", {}),
        ("plain words", "plain words", {}),
        (None, "a <*>", {}),
        ("a b", None, {}),
    ],
)
def test_extract_variables_col_edge_cases(spark, log, template, expected):
    """The JVM column agrees with the Python reference on inputs the
    property corpus does not generate: line terminators, astral
    characters, regex metacharacters and quote markers in the static
    text, a literal wildcard in the log, and nulls (which give {})."""
    from pyspark.sql import functions as F

    if log is not None and template is not None:
        assert extract_variables(log, template) == expected
    df = spark.createDataFrame([(log, template)], "l string, t string")
    (row,) = df.select(extract_variables_col(F.col("l"), F.col("t")).alias("v")).collect()
    assert row["v"] == expected


def test_template_to_regex():
    rx = template_to_regex("User <*> logged in")
    assert rx.match("User john logged in")
    assert not rx.match("User john logged in today")  # anchored, log_entry.py:59-64


def test_pattern_similarity_reference_demo():
    """merger.py:280-337 demo values."""
    s = pattern_similarity("User <*> logged in", "User <*> logged out")
    # 3/4 positional * 0.7 + (3 common of 5 union) * 0.3
    assert abs(s - (0.75 * 0.7 + 0.6 * 0.3)) < 1e-9
    assert pattern_similarity("User <*> logged in", "User <*> logged in") == 1.0


def test_should_merge_reference_demo():
    assert should_merge("User <*> logged in", "User <*> logged in")
    # t1/t2 from the demo: similarity 0.705 < 0.9 → no merge
    assert not should_merge("User <*> logged in", "User <*> logged out")


def test_merge_patterns():
    assert merge_patterns("User <*> logged in", "User <*> logged out") == "User <*> logged <*>"
    # length mismatch pads with wildcards (merger.py:179-207)
    assert merge_patterns("a b", "a b c") == "a b <*>"


def test_merge_pool_respects_thresholds():
    """similarity 0.705 < 0.9 → 'logged in'/'logged on' do NOT merge
    (verified against reference merger.py demo semantics)."""
    ts = [
        {"pattern": "User <*> logged in", "count": 5, "examples": [], "confidence": 0.95},
        {"pattern": "User <*> logged on", "count": 3, "examples": [], "confidence": 0.90},
    ]
    assert len(merge_pool(ts)) == 2


def test_merge_pool_greedy():
    # 15 shared tokens + 1 differing short token → similarity ≈ 0.916 ≥ 0.9
    # and whole-pattern levenshtein 1 ≤ 3 → merges
    base = "a b c d e f g h i j k l m n"
    ts = [
        {"pattern": base + " in", "count": 5, "examples": [], "confidence": 0.95},
        {"pattern": base + " on", "count": 3, "examples": [], "confidence": 0.90},
        {"pattern": "totally different thing", "count": 2, "examples": [], "confidence": 0.92},
    ]
    merged = merge_pool(ts)
    patterns = sorted(t["pattern"] for t in merged)
    assert len(merged) == 2
    assert "totally different thing" in patterns
    assert base + " <*>" in patterns
    m = next(t for t in merged if t["pattern"] == base + " <*>")
    assert m["count"] == 8
    assert abs(m["confidence"] - 0.90 * 0.95) < 1e-9


def test_merge_pool_idempotent():
    base = "a b c d e f g h i j k l m n"
    ts = [
        {"pattern": base + " in", "count": 5, "examples": [], "confidence": 0.95},
        {"pattern": base + " on", "count": 3, "examples": [], "confidence": 0.90},
        {"pattern": "disk <*> at <*> percent", "count": 2, "examples": [], "confidence": 0.9},
    ]
    once = merge_pool(ts)
    twice = merge_pool(once)
    assert sorted(t["pattern"] for t in once) == sorted(t["pattern"] for t in twice)


def test_dedup_pool_exact():
    ts = [
        {"pattern": "b", "count": 1, "examples": ["x"], "confidence": 0.9},
        {"pattern": "a", "count": 2, "examples": [], "confidence": 0.8},
        {"pattern": "b", "count": 3, "examples": ["y"], "confidence": 0.7},
    ]
    out = dedup_pool_exact(ts)
    assert [t["pattern"] for t in out] == ["a", "b"]
    b = out[1]
    assert b["count"] == 4 and b["examples"] == ["x", "y"] and b["confidence"] == 0.9


def test_merge_pool_length_bucket_pruning_is_exact():
    """VERDICT r3 item 7: the length-bucket candidate pruning must be
    semantics-identical to the reference's plain O(n²) greedy scan —
    verified against an inline naive implementation on a mixed pool."""
    from logparser_llm_spark.operators.merging import merge_two, should_merge

    def naive(templates, merge_threshold=0.9, max_edit_distance=3):
        merged, used = [], set()
        for i, t1 in enumerate(templates):
            if i in used:
                continue
            acc = dict(t1)
            acc.setdefault("sources", [t1["pattern"]])
            for j in range(i + 1, len(templates)):
                if j in used:
                    continue
                if should_merge(t1["pattern"], templates[j]["pattern"],
                                merge_threshold, max_edit_distance):
                    acc = merge_two(acc, templates[j])
                    used.add(j)
            merged.append(acc)
            used.add(i)
        return merged

    import hashlib

    base = "a b c d e f g h i j k l m n"
    pool = []
    for i in range(300):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        if h % 3 == 0:
            pool.append({"pattern": base + f" {'in' if h % 2 else 'on'}", "count": 1})
        elif h % 3 == 1:
            pool.append({"pattern": f"disk <*> at level{h % 7} percent", "count": 1})
        else:
            pool.append({"pattern": "x " * (h % 20) + f"tail{h % 5}", "count": 1})
    pool = sorted(pool, key=lambda t: t["pattern"])
    a = merge_pool([dict(t) for t in pool])
    b = naive([dict(t) for t in pool])
    assert [(t["pattern"], t["count"]) for t in a] == [
        (t["pattern"], t["count"]) for t in b
    ]


def test_merge_pool_wall_time_at_cap():
    """The pool-cap contract (BENCH/BASELINE.md): the greedy merge over a
    cap-sized pool of realistic (length-spread) patterns completes in
    seconds on the driver — measured, not assumed. 10k distinct patterns
    here; the pruning makes cost ~Σ bucket², not n²."""
    import hashlib
    import time

    words = ["alpha", "bravo", "delta", "gamma", "omega", "sigma", "kappa", "zeta"]
    pool = []
    for i in range(10_000):
        h = int(hashlib.md5(f"p{i}".encode()).hexdigest()[:8], 16)
        n_toks = 4 + h % 12
        toks = [words[(h >> (j % 24)) % 8] + (str(i) if j == h % n_toks else "")
                for j in range(n_toks)]
        pool.append({"pattern": " ".join(toks), "count": 1})
    pool = sorted(pool, key=lambda t: t["pattern"])
    t0 = time.perf_counter()
    merged = merge_pool(pool)
    dt = time.perf_counter() - t0
    # Measured 18-28s depending on host/steal (28.0s observed on an
    # otherwise-idle round-5 host); the bound exists to catch a
    # complexity regression (naive n² would be minutes), so keep ~2.5x
    # slack over the worst clean measurement rather than flaking on
    # ambient contention.
    assert dt < 75.0, f"pool merge at 10k patterns took {dt:.1f}s"
    assert 0 < len(merged) <= len(pool)


def test_generalize_pool_wall_time_at_cap():
    """VERDICT r4 item 3: the slot-vote pass measured at the FULL
    broadcast pool cap (100k patterns), the way merge_pool was proved at
    10k above. The per-round mask-one-position key build is O(n·L²)
    tuple hashing (not the O(n·L) the docstring's candidate-count
    argument suggests) — measured ≈7s at the cap on this host with a
    realistic mix (30% mergeable word-slot families, 70% singletons,
    8-21 tokens); the 60s bound leaves ~9x steal slack. Deterministic
    corpus (seeded md5-free RNG is fine here: the assertion is a time
    bound + sanity, not a value hash)."""
    import random
    import time

    from logparser_llm_spark.operators.merging import generalize_pool

    rng = random.Random(42)
    words = [f"w{i:03d}" for i in range(400)]
    pool = []
    fam = 0
    while len(pool) < 100_000:
        length = rng.randint(8, 20)
        if rng.random() < 0.3:
            scaffold = [rng.choice(words) for _ in range(length)]
            slot = rng.randrange(length)
            for v in rng.sample(words, rng.randint(3, 8)):
                toks = list(scaffold)
                toks[slot] = v
                pool.append({"pattern": " ".join(toks) + f" fam{fam}", "count": 1})
            fam += 1
        else:
            pool.append(
                {
                    "pattern": " ".join(rng.choice(words) for _ in range(length))
                    + f" s{len(pool)}",
                    "count": 1,
                }
            )
    pool = pool[:100_000]
    t0 = time.perf_counter()
    out = generalize_pool(pool)
    dt = time.perf_counter() - t0
    assert dt < 60.0, f"generalize_pool at the 100k cap took {dt:.1f}s"
    # the word-slot families actually merged (the pass did real work)
    assert len(out) < len(pool) * 0.6
