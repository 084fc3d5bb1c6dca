"""Differential tests: our TemplateTree vs the actual reference
PrefixTree (loaded read-only from /root/reference) on randomized logs."""

import random

import pytest

from logparser_llm_spark.operators.drain import TemplateTree, token_similarity

from .ref_loader import needs_reference, ref_prefix_tree

pytestmark = needs_reference


WORDS = ["user", "failed", "connect", "disk", "error", "warn", "login", "logout",
         "start", "stop", "process", "request", "response", "timeout", "retry"]
VARS = ["123", "4567", "10.0.0.1", "abc123", "2024-01-01", "98.6", "xyz", "a1b2c3d4"]


def _random_logs(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    logs = []
    for _ in range(n):
        k = rng.randint(2, 8)
        toks = [rng.choice(WORDS) if rng.random() < 0.7 else rng.choice(VARS) for _ in range(k)]
        logs.append(" ".join(toks))
    return logs


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_insert_search_parity_with_reference(seed):
    REF = ref_prefix_tree()
    ours = TemplateTree(max_depth=5, min_cluster_size=3)
    ref = REF.PrefixTree(max_depth=5, min_cluster_size=3)
    logs = _random_logs(seed, 300)
    for i, log in enumerate(logs):
        got = ours.insert(log, f"log{i}")
        want = ref.insert(log, f"log{i}")
        assert got == want, f"insert diverged on row {i}: {log!r} -> {got} vs {want}"
    probes = _random_logs(seed + 1000, 100)
    for p in probes:
        got = ours.search(p)
        ref_res = ref.search(p)
        want = ref_res[0] if ref_res else None
        assert got == want, f"search diverged on {p!r}: {got} vs {want}"
    assert ours.stats()["total_nodes"] == ref.get_statistics()["total_nodes"]
    assert ours.stats()["num_clusters"] == ref.get_statistics()["num_clusters"]


@pytest.mark.parametrize("seed", [3, 11])
def test_token_similarity_parity_with_reference(seed):
    REF = ref_prefix_tree()
    rng = random.Random(seed)
    tokens = WORDS + VARS + ["deadbeef" * 4, "cafebabe" * 4, "x" * 64, ""]
    for _ in range(500):
        a, b = rng.choice(tokens), rng.choice(tokens)
        assert token_similarity(a, b) == REF.PrefixTree._token_similarity(a, b), (a, b)
