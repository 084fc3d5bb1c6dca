"""Span recording around the package's public functions.

``Tracer.install`` replaces each traced function at the module name its
callers bind it under, so a call made anywhere in the package lands in a
span. Spans are kept in memory (name, start, end, parent) and every span
runs under its own Spark job group, which lets ``attribution`` charge each
Spark job to exactly one span.
"""

from __future__ import annotations

import functools
import time
from collections import Counter
from contextlib import contextmanager

from logparser_llm_spark.operators import cluster, drain, merging
from logparser_llm_spark.plans import checkpoint, pipeline
from logparser_llm_spark.sources import sinks

# (module, attribute, span name); one function may be bound in several modules
SPANNED = [
    (cluster, "discover_templates", "cluster.discover"),
    (pipeline, "discover_templates", "cluster.discover"),
    (checkpoint, "discover_templates", "cluster.discover"),
    (cluster, "discover_templates_from_cleaned", "cluster.discover"),
    (cluster, "assignment_map", "drain.assignment_map"),
    (cluster, "dedup_pool_exact", "merging.dedup"),
    (checkpoint, "dedup_pool_exact", "merging.dedup"),
    (cluster, "merge_pool", "merging.merge"),
    (cluster, "canonicalize_pool", "merging.canonicalize"),
    (pipeline, "run_pipeline", "pipeline.run_pipeline"),
    (sinks, "write_sink_table", "sinks.write"),
    (sinks, "write_run_idempotent", "sinks.write"),
    (checkpoint, "list_input_files", "checkpoint.list"),
    (checkpoint, "refresh_global_counts", "checkpoint.refresh"),
    (checkpoint.Checkpoint, "save", "checkpoint.save"),
    (checkpoint, "run_resumable", "checkpoint.run_resumable"),
]
# (module, attribute, counter): counted, not timed — called per pair / per walk
COUNTED = [
    (merging, "should_merge", "merging.pair_checks"),
    (drain.TemplateTree, "match", "drain.tree_walks"),
]


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: Counter = Counter()
        self._saved: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": f"span-{len(self.spans)}", "name": name,
               "parent": self.stack[-1]["id"] if self.stack else None, "t0": time.time()}
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.stack.pop()
            top = self.stack[-1] if self.stack else {"id": "", "name": ""}
            self.sc.setJobGroup(top["id"], top["name"])

    def _spanned(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if name.startswith("merging.") and args and isinstance(args[0], list):
                rec["n_in"], rec["n_out"] = len(args[0]), len(out)
            return out
        return wrapper

    def _counted(self, fn, counter):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.counts[counter] += 1
            return fn(*args, **kwargs)
        return wrapper

    def install(self) -> None:
        for owner, attr, name in SPANNED:
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._spanned(fn, name))
        for owner, attr, counter in COUNTED:
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._counted(fn, counter))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def self_seconds(self) -> dict[str, float]:
        """Span id → its duration minus the part its child spans cover."""
        child: Counter = Counter()
        for s in self.spans:
            if s["parent"]:
                child[s["parent"]] += s["t1"] - s["t0"]
        return {s["id"]: s["t1"] - s["t0"] - child[s["id"]] for s in self.spans}
