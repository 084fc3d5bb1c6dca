"""The vectorized "extractor": cleaning / normalization of raw log text.

Semantics replicate the reference ``LogCleaner`` (reference
preprocessor/cleaner.py:39-206) exactly — same regexes, same application
order (strip → remove_timestamps → remove_ips → normalize_numbers →
normalize_paths → lowercase → collapse whitespace) — because the north
rule requires byte-identical extracted text per url.

Two implementations are provided:

- :func:`clean_text` / :func:`clean_pandas` — Python ``re``, scalar and
  over a pandas Series. The reference semantics (Python ``re`` and Java
  regex disagree on corner cases like unicode ``\\w``), used by the
  single-process oracle and as the differential tests' reference.
- :func:`clean_col` — a chain of JVM-side ``F.regexp_replace`` staying
  inside whole-stage codegen: the pipeline's clean. The test suite
  cross-checks it against :func:`clean_pandas` on fixtures and the
  synthetic corpus so we know where the two coincide.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import PreprocessingConfig

# Patterns from reference cleaner.py:13-28 (kept verbatim — parity-critical).
TIMESTAMP_PATTERNS = [
    r"\d{4}-\d{2}-\d{2}[T\s]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    r"\d{2}/\d{2}/\d{4}\s\d{2}:\d{2}:\d{2}",
    r"\w{3}\s+\d{1,2}\s\d{2}:\d{2}:\d{2}",
]
IPV4_PATTERN = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
IPV6_PATTERN = r"(?:[0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}"
DECIMAL_PATTERN = r"\b\d+\.\d+\b"
BIGINT_PATTERN = r"\b\d{4,}\b"
UNIX_PATH_PATTERN = r"/(?:[a-zA-Z0-9._-]+/)+[a-zA-Z0-9._-]+"
WIN_PATH_PATTERN = r"[A-Z]:\\(?:[^\\]+\\)+[^\\]+"
WHITESPACE_PATTERN = r"\s+"
LOG_LEVELS = ["TRACE", "DEBUG", "INFO", "WARN", "WARNING", "ERROR", "FATAL", "CRITICAL"]
LOG_LEVEL_PATTERN = r"\b(" + "|".join(LOG_LEVELS) + r")\b"
ALL_SYMBOLS_PATTERN = r"^[\W_]+$"

_TS_RES = [re.compile(p) for p in TIMESTAMP_PATTERNS]
_IPV4_RE = re.compile(IPV4_PATTERN)
_IPV6_RE = re.compile(IPV6_PATTERN)
_DECIMAL_RE = re.compile(DECIMAL_PATTERN)
_BIGINT_RE = re.compile(BIGINT_PATTERN)
_UNIX_PATH_RE = re.compile(UNIX_PATH_PATTERN)
_WIN_PATH_RE = re.compile(WIN_PATH_PATTERN)
_WS_RE = re.compile(WHITESPACE_PATTERN)
_LEVEL_RE = re.compile(LOG_LEVEL_PATTERN, re.IGNORECASE)
_SYMBOLS_RE = re.compile(ALL_SYMBOLS_PATTERN)


def clean_text(text: str, cfg: PreprocessingConfig = PreprocessingConfig()) -> str:
    """Scalar clean — semantics of reference cleaner.py:39-77.

    Used by the single-process oracle; never called row-at-a-time from
    Spark.
    """
    if text is None or not text.strip():
        return ""
    out = text.strip()
    if cfg.remove_timestamps:
        for ts_re in _TS_RES:
            out = ts_re.sub("", out)
    if cfg.remove_ip_addresses:
        out = _IPV4_RE.sub("", out)
        out = _IPV6_RE.sub("", out)
    if cfg.normalize_numbers:
        out = _DECIMAL_RE.sub("<NUM>", out)
        out = _BIGINT_RE.sub("<NUM>", out)
    if cfg.normalize_paths:
        out = _UNIX_PATH_RE.sub("<PATH>", out)
        out = _WIN_PATH_RE.sub("<PATH>", out)
    if cfg.lowercase:
        out = out.lower()
    return _WS_RE.sub(" ", out).strip()


def clean_pandas(s: pd.Series, cfg: PreprocessingConfig = PreprocessingConfig()) -> pd.Series:
    """Vectorized clean over a pandas Series.

    ``Series.str.replace`` applies each regex over the whole batch at C
    speed; order matches :func:`clean_text`.
    """
    out = s.fillna("").str.strip()
    if cfg.remove_timestamps:
        for p in TIMESTAMP_PATTERNS:
            out = out.str.replace(p, "", regex=True)
    if cfg.remove_ip_addresses:
        out = out.str.replace(IPV4_PATTERN, "", regex=True)
        out = out.str.replace(IPV6_PATTERN, "", regex=True)
    if cfg.normalize_numbers:
        out = out.str.replace(DECIMAL_PATTERN, "<NUM>", regex=True)
        out = out.str.replace(BIGINT_PATTERN, "<NUM>", regex=True)
    if cfg.normalize_paths:
        out = out.str.replace(UNIX_PATH_PATTERN, "<PATH>", regex=True)
        out = out.str.replace(WIN_PATH_PATTERN, "<PATH>", regex=True)
    if cfg.lowercase:
        out = out.str.lower()
    return out.str.replace(WHITESPACE_PATTERN, " ", regex=True).str.strip()


def clean_col(col: Column, cfg: PreprocessingConfig = PreprocessingConfig()) -> Column:
    """JVM-side clean: chained ``regexp_replace`` (whole-stage codegen).

    Same regexes/order as :func:`clean_text`; cross-checked against the
    Python-``re`` path in tests. Use in the 100 TB hot path where the
    corpus has been validated to not hit Python/Java regex divergences.
    """
    out = F.trim(col)
    if cfg.remove_timestamps:
        for p in TIMESTAMP_PATTERNS:
            out = F.regexp_replace(out, p, "")
    if cfg.remove_ip_addresses:
        out = F.regexp_replace(out, IPV4_PATTERN, "")
        out = F.regexp_replace(out, IPV6_PATTERN, "")
    if cfg.normalize_numbers:
        out = F.regexp_replace(out, DECIMAL_PATTERN, "<NUM>")
        out = F.regexp_replace(out, BIGINT_PATTERN, "<NUM>")
    if cfg.normalize_paths:
        out = F.regexp_replace(out, UNIX_PATH_PATTERN, "<PATH>")
        out = F.regexp_replace(out, WIN_PATH_PATTERN, "<PATH>")
    if cfg.lowercase:
        out = F.lower(out)
    return F.trim(F.regexp_replace(out, WHITESPACE_PATTERN, " "))


def is_valid_log_col(col: Column) -> Column:
    """Validity predicate — reference cleaner.py:184-206 (P2).

    Non-empty, ≥10 chars after strip, not all symbols/underscores.
    """
    stripped = F.trim(col)
    return (
        col.isNotNull()
        & (F.length(stripped) >= 10)
        & ~stripped.rlike(ALL_SYMBOLS_PATTERN)
    )


def is_valid_log(text: str) -> bool:
    """Scalar validity check (oracle path) — cleaner.py:184-206."""
    if not text or not text.strip():
        return False
    stripped = text.strip()
    if len(stripped) < 10:
        return False
    return _SYMBOLS_RE.match(stripped) is None


def extract_timestamp_col(col: Column) -> Column:
    """First timestamp match of the 3 patterns (F7, cleaner.py:97-111)."""
    candidates = [F.regexp_extract(col, p, 0) for p in TIMESTAMP_PATTERNS]
    out = F.lit(None).cast("string")
    # coalesce with ''→null per pattern, preserving pattern priority order
    exprs = [F.when(c != "", c) for c in candidates]
    return F.coalesce(*exprs, out)


def extract_log_level_col(col: Column) -> Column:
    """Case-insensitive first log level, upper-cased (F8, cleaner.py:113-126)."""
    m = F.regexp_extract(col, "(?i)" + LOG_LEVEL_PATTERN, 1)
    return F.when(m != "", F.upper(m))


def extract_timestamp(text: str) -> str | None:
    for ts_re in _TS_RES:
        m = ts_re.search(text)
        if m:
            return m.group(0)
    return None


def extract_log_level(text: str) -> str | None:
    m = _LEVEL_RE.search(text)
    return m.group(0).upper() if m else None
