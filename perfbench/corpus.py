"""Seeded inputs for the benchmark workloads.

The program only ever sees the input parquet files; the labels (which
template produced each line) are written to a separate directory and are
read by the benchmark's own check.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from logparser_llm_spark.sources.synth import make_labeled_row

# invalid lines (too short or symbols only): they must route to 'unknown'
JUNK = ["--", "ok", "#####", "...", "=" * 24, "* * *"]
JUNK_EVERY = 200  # one junk line per this many lines

SYLLABLES = ["ka", "lo", "mi", "nu", "ro", "ta", "vi", "zu", "po", "se"]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _lines_table(url, line_no, text) -> pa.Table:
    return pa.table({
        "url": pa.array(url, pa.string()),
        "line_no": pa.array(line_no, pa.int32()),
        "text": pa.array(text, pa.string()),
    })


def _labels_table(url, line_no, gt) -> pa.Table:
    return pa.table({
        "url": pa.array(url, pa.string()),
        "line_no": pa.array(line_no, pa.int32()),
        "gt_id": pa.array(gt, pa.string()),
    })


def _add_junk(url: list, line_no: list, text: list, tag: str) -> None:
    for k in range(len(text) // JUNK_EVERY):
        url.append(f"junk://{tag}/{k}")
        line_no.append(0)
        text.append(JUNK[k % len(JUNK)])


def _pages(seed: int, first: int, n: int):
    """``sources.synth`` pages ``first .. first+n-1`` with their line labels."""
    for i in range(first, first + n):
        yield make_labeled_row(seed, i)


def synth_lines(n_pages: int, seed: int, files: int, input_dir: str, labels_dir: str) -> None:
    """``sources.synth`` pages exploded to lines, split over ``files``
    parquet files, plus junk lines."""
    per = n_pages // files
    for f in range(files):
        url, line_no, text, gt = [], [], [], []
        for page_url, _ts, _html, page, _lang, labels in _pages(seed, f * per, per):
            for k, (line, label) in enumerate(zip(page.split("\n"), labels)):
                url.append(page_url)
                line_no.append(k)
                text.append(line)
                gt.append(f"gt_{label:02d}")
        _write(_labels_table(url, line_no, gt), f"{labels_dir}/part-{f:03d}.parquet")
        _add_junk(url, line_no, text, f"s{f}")
        _write(_lines_table(url, line_no, text), f"{input_dir}/part-{f:03d}.parquet")


def novel_line(seed: int, delta: int, k: int) -> str:
    """A line of a template no other delta (and no bootstrap file) has:
    its literal words are unique to (seed, delta)."""
    rng = random.Random(f"{seed}:{delta}")
    a = "".join(rng.choice(SYLLABLES) for _ in range(4))
    b = "".join(rng.choice(SYLLABLES) for _ in range(4))
    return f"subsystem {a} raised condition {b} with code {1000 + 7 * k} on shard {k}"


def delta_files(seed: int, n_base: int, n_deltas: int, delta_pages: int,
                novel_per_delta: int, base_dir: str, stage_dir: str, labels_dir: str) -> list[str]:
    """Bootstrap files (``n_base`` pages over 4 files) and ``n_deltas``
    staged delta files. Returns the staged paths in landing order."""
    chunks: dict[str, dict[str, list]] = {}
    for p, (page_url, _ts, _html, page, _lang, labels) in enumerate(
        _pages(seed, 0, n_base + n_deltas * delta_pages)
    ):
        key = f"base-{p % 4}" if p < n_base else f"delta-{(p - n_base) // delta_pages:04d}"
        c = chunks.setdefault(key, {k: [] for k in ("url", "line_no", "text", "gt_id")})
        for k, (line, label) in enumerate(zip(page.split("\n"), labels)):
            c["url"].append(page_url)
            c["line_no"].append(k)
            c["text"].append(line)
            c["gt_id"].append(f"gt_{label:02d}")
    out = []
    for key in sorted(chunks):
        c = chunks[key]
        if key.startswith("delta"):
            n = int(key.split("-")[1])
            for k in range(novel_per_delta):
                c["url"].append(f"novel://{n}")
                c["line_no"].append(k)
                c["text"].append(novel_line(seed, n, k))
                c["gt_id"].append(f"novel_{n}")
        _write(_labels_table(c["url"], c["line_no"], c["gt_id"]), f"{labels_dir}/{key}.parquet")
        _add_junk(c["url"], c["line_no"], c["text"], key)
        path = f"{base_dir if key.startswith('base') else stage_dir}/{key}.parquet"
        _write(_lines_table(c["url"], c["line_no"], c["text"]), path)
        if key.startswith("delta"):
            out.append(path)
    return out
