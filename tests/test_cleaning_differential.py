"""Byte-identical extracted-text parity: our vectorized clean vs the ACTUAL
reference LogCleaner (north-rule invariant: "byte-identical extracted text
per url"), plus merger-semantics parity on randomized patterns."""

import random

import pandas as pd
import pytest

from logparser_llm_spark.config import PreprocessingConfig
from logparser_llm_spark.functions.cleaning import (
    clean_pandas,
    clean_text,
    extract_log_level,
    extract_timestamp,
    is_valid_log,
)
from logparser_llm_spark.operators.merging import (
    merge_patterns,
    pattern_similarity,
    should_merge,
)

from .ref_loader import needs_reference, ref_cleaner, ref_config, ref_merger, ref_models

pytestmark = needs_reference

FRAGMENTS = [
    "2024-01-01 10:00:00", "2024-01-01T10:00:00.123Z", "12/31/2024 23:59:59",
    "Jan  5 03:02:01", "INFO", "error", "WARN", "user", "logged", "in",
    "192.168.1.1", "10.0.0.1", "fe80:0000:0000:0000:0202:b3ff:fe1e:8329",
    "12345", "3.14", "007", "98765432", "/var/log/app.log", "/usr/bin/env",
    "C:\\Users\\admin\\file.txt", "port", "5432", "<NUM>", "  ", "!!!",
    "request_id=abc-123", "0xDEADBEEF", "99.9%", "a.b.c", "...", "__",
]


def _random_lines(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    lines = []
    for _ in range(n):
        k = rng.randint(0, 10)
        lines.append(" ".join(rng.choice(FRAGMENTS) for _ in range(k)))
    return lines


CONFIG_VARIANTS = [
    {},
    {"remove_timestamps": True},
    {"remove_ip_addresses": True},
    {"remove_timestamps": True, "remove_ip_addresses": True, "lowercase": True},
    {"normalize_numbers": False, "normalize_paths": False},
]


@pytest.mark.parametrize("overrides", CONFIG_VARIANTS)
@pytest.mark.parametrize("seed", [5, 99])
def test_clean_byte_identical_to_reference(overrides, seed):
    REF_CLEANER, REF_CONFIG = ref_cleaner(), ref_config()
    ref = REF_CLEANER.LogCleaner(REF_CONFIG.PreprocessingConfig(**overrides))
    ours_cfg = PreprocessingConfig(**overrides)
    lines = _random_lines(seed, 400)
    expected = [ref.clean(line) for line in lines]
    assert [clean_text(line, ours_cfg) for line in lines] == expected
    assert clean_pandas(pd.Series(lines), ours_cfg).tolist() == expected


def test_validity_and_extracts_match_reference():
    REF_CLEANER = ref_cleaner()
    ref = REF_CLEANER.LogCleaner()
    for line in _random_lines(17, 300):
        assert is_valid_log(line) == REF_CLEANER.LogCleaner.is_valid_log(line), line
        assert extract_timestamp(line) == ref.extract_timestamp(line), line
        assert extract_log_level(line) == ref.extract_log_level(line), line


PATTERN_TOKENS = ["User", "<*>", "logged", "in", "out", "disk", "at", "percent",
                  "Failed", "to", "connect", "server", "a", "b", "c", "d"]


def _random_patterns(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    return [
        " ".join(rng.choice(PATTERN_TOKENS) for _ in range(rng.randint(1, 16)))
        for _ in range(n)
    ]


def test_merger_semantics_match_reference():
    REF_MERGER, REF_MODELS = ref_merger(), ref_models()
    merger = REF_MERGER.TemplateMerger()
    Template = REF_MODELS.Template
    pats = _random_patterns(23, 60)
    for i in range(0, len(pats) - 1, 2):
        p1, p2 = pats[i], pats[i + 1]
        assert abs(pattern_similarity(p1, p2) - merger.calculate_similarity(p1, p2)) < 1e-12
        assert merge_patterns(p1, p2) == merger._merge_patterns(p1, p2)
        t1 = Template(template_id="a", template_pattern=p1)
        t2 = Template(template_id="b", template_pattern=p2)
        assert should_merge(p1, p2) == merger.should_merge(t1, t2), (p1, p2)
