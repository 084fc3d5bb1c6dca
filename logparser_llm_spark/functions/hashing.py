"""Hash functions: log keys, template-prefix buckets, sink routing.

All hashes are md5-based so they are *portable* — identical in Spark SQL,
DuckDB and Python ``hashlib`` — which is what makes routed-row-set parity
checkable across engines (the reference uses md5 for both its log cache
key, log_entry.py:25-27, and its pattern index, template_pool.py:295-302).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def log_hash(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def pattern_bucket_col(pattern: Column, delimiter: str = " ") -> Column:
    """First-3-token md5[:8] bucket (F12, template_pool.py:295-302).

    Used as the pool's partition/bucket key so similar-template probes
    prune to one bucket.
    """
    tokens3 = F.slice(F.split(pattern, delimiter), 1, 3)
    return F.substring(F.md5(F.array_join(tokens3, "_")), 1, 8)


def md5_bucket_col(key: Column, buckets: int) -> Column:
    """THE portable bucket hash: int(md5(key)[:8], 16) % buckets.

    Single definition for every cross-engine bucketing in the repo
    (sink routing, sampling) — deliberately md5-based (not ``F.hash``)
    so the identical value is reproducible in DuckDB
    (:func:`md5_bucket_sql`) and Python. Keep the three renderings in
    lockstep: a change to one silently desynchronizes routing from
    sampling from the oracles."""
    return F.pmod(
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint"),
        F.lit(buckets),
    )


def md5_bucket_sql(expr: str, buckets: int) -> str:
    """DuckDB rendering of :func:`md5_bucket_col`."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT % {buckets})"


def md5_bucket(key: str, buckets: int) -> int:
    """Python rendering of :func:`md5_bucket_col`."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % buckets


SAFE_HEX_CHARS = 15  # widest md5 prefix whose unsigned value fits a signed BIGINT


def md5_slice_col(key: Column, hex_chars: int = SAFE_HEX_CHARS) -> Column:
    """Unsigned integer of the first ``hex_chars`` of md5(key) — the
    portable wide hash (sharding, content anchors). ``hex_chars`` must
    be ≤ 15 to stay signed-BIGINT-safe in every engine. Same
    single-definition contract as :func:`md5_bucket_col`."""
    if not 1 <= hex_chars <= SAFE_HEX_CHARS:
        raise ValueError(f"hex_chars must be in [1, {SAFE_HEX_CHARS}], got {hex_chars}")
    return F.conv(F.substring(F.md5(key), 1, hex_chars), 16, 10).cast("bigint")


def md5_slice_sql(expr: str, hex_chars: int = SAFE_HEX_CHARS) -> str:
    """DuckDB rendering of :func:`md5_slice_col`."""
    if not 1 <= hex_chars <= SAFE_HEX_CHARS:
        raise ValueError(f"hex_chars must be in [1, {SAFE_HEX_CHARS}], got {hex_chars}")
    return f"(('0x' || substr(md5({expr}), 1, {hex_chars}))::BIGINT)"


def md5_slice(key: str, hex_chars: int = SAFE_HEX_CHARS) -> int:
    """Python rendering of :func:`md5_slice_col`."""
    return int(hashlib.md5(key.encode()).hexdigest()[:hex_chars], 16)


def sink_id_col(template_id: Column, num_sinks: int) -> Column:
    """Portable fan-out bucket — routed-row equality across engines is
    part of the north rule."""
    return md5_bucket_col(template_id, num_sinks)


def sink_id(template_id: str, num_sinks: int) -> int:
    return md5_bucket(template_id, num_sinks)


def sink_id_sql(expr: str, num_sinks: int) -> str:
    """DuckDB-SQL rendering of the same routing function (for oracles)."""
    return md5_bucket_sql(expr, num_sinks)
