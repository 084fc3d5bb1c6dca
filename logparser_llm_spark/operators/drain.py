"""Drain-style prefix-tree template clustering — the core custom operator.

Semantics replicate the reference tree (reference core/prefix_tree.py):

- tokenize = strip + split on delimiter, drop empty tokens (:78-94)
- insert walks ≤ ``max_depth`` tokens; per level try exact child then fuzzy
  child (best similarity ≥ ``fuzzy_threshold``); create child on miss; the
  landing node collects log ids and is promoted to a template once it holds
  ``min_cluster_size`` logs (:96-152)
- search walks the same way but returns the FIRST template node
  encountered along the path (:154-186) — a quirk we keep for parity
- token similarity: 1.0 exact; 0.9 both-numeric; 0.85 both matching one of
  IP/MD5/SHA256/date regexes; else 1 − levenshtein/maxlen (:241-279)

This is deliberately NOT a distributed structure: the tree's fuzzy
grouping is insertion-order-dependent, so the distributed pipeline
(cluster.py) discovers templates with the order-free extractor instead
and uses the tree only as the broadcast-pool *matcher*: ``add_pattern``
inserts template token sequences (``<*>`` becomes a wildcard child
matching any token) and ``match`` walks raw tokens — the fast path that
replaces the reference's per-row LLM call. The discovery-mode
``insert``/``search`` remain for the sequential parity oracle
(reference_oracle.py) and differential tests against the reference.
"""

from __future__ import annotations

import re
from typing import Iterable, Optional

WILDCARD = "<*>"
UNKNOWN_ID = "unknown"  # fallback template id (reference parser.py:388-398)

# Token classes that compare as "same kind of variable" (prefix_tree.py:263-268).
_VAR_CLASS_RES = [
    re.compile(r"^\d+\.\d+\.\d+\.\d+$"),  # IPv4
    re.compile(r"^[a-f0-9]{32}$"),        # MD5
    re.compile(r"^[a-f0-9]{64}$"),        # SHA256
    re.compile(r"^\d{4}-\d{2}-\d{2}$"),   # date
]

# Variable-ish token detector for the deterministic extractor (our
# replacement for the reference LLM call, llm/client.py:70-96). A token is
# a variable if it contains any digit (classic Drain preprocessing — covers
# numbers, ips, hostnames-with-ids, hex ids, versions), is a placeholder
# the cleaner already normalized (<NUM>/<PATH>), is an all-hex-letter id,
# or is a key=value pair. Digit-wildcarding keeps the extractor
# order-insensitive: two lines differing only in variable slots always
# produce the SAME pattern, which is what makes the distributed two-pass
# grouping agree with the sequential reference flow.
_CONTAINS_DIGIT_RE = re.compile(r"\d")
_EXTRACT_VAR_RES = [
    re.compile(r"^<NUM>$"),
    re.compile(r"^<PATH>$"),
    re.compile(r"^[a-f0-9]{8,}$"),
    re.compile(r".*=\S+$"),
]


def tokenize(text: str, delimiter: str = " ") -> list[str]:
    """Whitespace tokenization, empties dropped (prefix_tree.py:78-94)."""
    return [t for t in text.strip().split(delimiter) if t]


def levenshtein(a: str, b: str) -> int:
    """Edit distance (semantics of prefix_tree.py:281-300)."""
    if len(a) < len(b):
        a, b = b, a
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a):
        cur = [i + 1]
        for j, cb in enumerate(b):
            cur.append(min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (ca != cb)))
        prev = cur
    return prev[-1]


def token_similarity(t1: str, t2: str) -> float:
    """Token similarity table (prefix_tree.py:241-279)."""
    if t1 == t2:
        return 1.0
    if (
        t1.replace(".", "").replace("-", "").isdigit()
        and t2.replace(".", "").replace("-", "").isdigit()
    ):
        return 0.9
    for rx in _VAR_CLASS_RES:
        if rx.match(t1) and rx.match(t2):
            return 0.85
    max_len = max(len(t1), len(t2))
    if max_len == 0:
        return 1.0
    return 1.0 - levenshtein(t1, t2) / max_len


def extract_template(cleaned: str, delimiter: str = " ") -> str:
    """Deterministic template extraction — the LLM replacement.

    Where the reference calls an LLM for a brand-new pattern
    (parser.py:129-142), we wildcard variable-ish tokens: numbers, hex
    ids, uuids, ips, key=value tails. Deterministic, order-free, and
    cheap enough to run vectorized per batch.
    """
    out: list[str] = []
    for tok in tokenize(cleaned, delimiter):
        if _CONTAINS_DIGIT_RE.search(tok) or any(rx.match(tok) for rx in _EXTRACT_VAR_RES):
            out.append(WILDCARD)
        else:
            out.append(tok)
    return " ".join(out)


def extract_template_col(cleaned):
    """JVM Column version of :func:`extract_template` — identical
    wildcarding rules as a ``transform`` over the token array, staying
    inside whole-stage codegen (no Python workers in the 100 TB hot
    path). Deliberately regex-free: each per-token regex would allocate a
    Matcher + result string per token (the dominant GC pressure at 32
    cores); ``translate``/``locate`` are single char-scans. Equivalences
    (tokens are whitespace-free by construction — split on the delimiter):

    - ``\\d`` search            ≡ translate(t, '0123456789', '') shrinks
    - ``^[a-f0-9]{8,}$``       ≡ len ≥ 8 and translate(t, hex, '') empty
    - ``.*=\\S+$`` (re.match)   ≡ first '=' exists at position < len
    Cross-checked token-for-token against the Python version in tests."""
    from pyspark.sql import functions as F

    toks = F.filter(F.split(F.trim(cleaned), " "), lambda t: t != F.lit(""))

    def is_var(t):
        has_digit = F.length(F.translate(t, "0123456789", "")) != F.length(t)
        is_hex = (F.length(t) >= 8) & (
            F.length(F.translate(t, "abcdef0123456789", "")) == 0
        )
        eq_pos = F.locate("=", t)
        is_kv = (eq_pos > 0) & (eq_pos < F.length(t))
        return has_digit | (t == "<NUM>") | (t == "<PATH>") | is_hex | is_kv

    return F.array_join(
        F.transform(toks, lambda t: F.when(is_var(t), F.lit(WILDCARD)).otherwise(t)),
        " ",
    )


def template_to_regex(pattern: str) -> re.Pattern:
    """Template → anchored regex, ``<*>`` → ``.*?`` (log_entry.py:59-64)."""
    return re.compile("^" + re.escape(pattern).replace(re.escape(WILDCARD), ".*?") + "$")


def extract_variables(log: str, template: str) -> dict[str, str]:
    """Variable extraction with the reference's exact quirks
    (parser.py:400-416): escaped template, ``<*>`` → lazy ``(.+?)``,
    ``re.match`` with an UNanchored end."""
    pattern = re.escape(template).replace(re.escape(WILDCARD), "(.+?)")
    try:
        m = re.match(pattern, log)
        if m:
            return {f"var_{i}": v for i, v in enumerate(m.groups(), 1)}
    except re.error:
        pass
    return {}


def extract_variables_col(log, template):
    """JVM Column version of :func:`extract_variables` →
    ``map<string,string>``, with the regex built per row from the
    template column: static parts ``\\Q…\\E``-quoted (a ``\\E`` inside
    one is closed, emitted as ``\\\\E`` and reopened), joined by
    ``(.+?)``, prefixed ``(?d)^`` — UNIX_LINES, so ``.`` excludes only
    ``\\n`` as Python's does, and ``^`` with ``find`` is ``re.match``.

    - Group ``i`` is extracted only for ``i ≤ n``, the template's
      wildcard count; an index past the group count raises
      ``REGEX_GROUP_INDEX``.
    - A match never leaves a ``(.+?)`` group empty and ``regexp_extract``
      returns ``''`` on no match, so dropping empty values leaves ``{}``
      exactly when the row does not match; a null log or template also
      gives ``{}``."""
    from pyspark.sql import functions as F

    def extract(row):
        parts = row["parts"]
        n = F.size(parts) - 1
        rx = F.concat(
            F.lit("(?d)^"),
            F.array_join(
                F.transform(
                    parts,
                    lambda p: F.concat(
                        F.lit(r"\Q"), F.replace(p, F.lit(r"\E"), F.lit(r"\E\\E\Q")), F.lit(r"\E")
                    ),
                ),
                "(.+?)",
            ),
        )
        idx = F.when(n > 0, F.sequence(F.lit(1), n))
        # PySpark's regexp_extract takes only a literal pattern
        vals = F.transform(idx, lambda i: F.call_function("regexp_extract", row["log"], rx, i))
        keys = F.transform(idx, lambda i: F.concat(F.lit("var_"), i.cast("string")))
        return F.map_filter(F.map_from_arrays(keys, vals), lambda k, v: v != "")

    # a lambda body re-evaluates every outer expression it names once per
    # element, so the inputs are bound once per row as a one-element array
    row = F.struct(log.alias("log"), F.split(template, r"<\*>", -1).alias("parts"))
    return F.coalesce(
        F.transform(F.array(row), extract)[0], F.create_map().cast("map<string,string>")
    )


class _Node:
    __slots__ = ("token", "children", "log_ids", "template_id")

    def __init__(self, token: str):
        self.token = token
        self.children: dict[str, _Node] = {}
        self.log_ids: set[str] = set()
        self.template_id: Optional[str] = None


class TemplateTree:
    """Prefix tree with fuzzy + wildcard children.

    Two modes of use:
    - *discovery* (cluster raw cleaned lines): :meth:`insert` — semantics
      of prefix_tree.py:96-152 including min_cluster_size promotion.
    - *matching* (broadcast-pool assignment): :meth:`add_pattern` inserts
      a known template's token sequence (``<*>`` becomes a wildcard child
      matching any token), then :meth:`match` walks raw tokens.
    """

    def __init__(
        self,
        max_depth: int = 5,
        min_cluster_size: int = 3,
        delimiter: str = " ",
        enable_fuzzy: bool = True,
        fuzzy_threshold: float = 0.8,
    ):
        self.root = _Node("<ROOT>")
        self.max_depth = max_depth
        self.min_cluster_size = min_cluster_size
        self.delimiter = delimiter
        self.enable_fuzzy = enable_fuzzy
        self.fuzzy_threshold = fuzzy_threshold
        self.num_clusters = 0
        self.total_logs = 0

    # -- discovery mode -------------------------------------------------

    def _descend_fuzzy(self, node: _Node, token: str) -> Optional[_Node]:
        """Best-scoring child ≥ threshold (prefix_tree.py:215-239)."""
        best, best_score = None, 0.0
        for child_token, child in node.children.items():
            if child_token == WILDCARD:
                continue
            s = token_similarity(token, child_token)
            if s > best_score and s >= self.fuzzy_threshold:
                best, best_score = child, s
        return best

    def insert(self, cleaned: str, log_id: str) -> Optional[str]:
        """Insert a cleaned line; returns template_id once the landing
        node reaches min_cluster_size (prefix_tree.py:96-152)."""
        tokens = tokenize(cleaned, self.delimiter)
        if not tokens:
            return None
        node = self.root
        for token in tokens[: self.max_depth]:
            child = node.children.get(token)
            if child is None and self.enable_fuzzy:
                child = self._descend_fuzzy(node, token)
            if child is None:
                child = _Node(token)
                node.children[token] = child
            node = child
        node.log_ids.add(log_id)
        self.total_logs += 1
        if len(node.log_ids) >= self.min_cluster_size:
            if node.template_id is None:
                node.template_id = f"tmpl_{self.num_clusters:04d}"
                self.num_clusters += 1
            return node.template_id
        return None

    def search(self, cleaned: str) -> Optional[str]:
        """First template node on the walk wins (prefix_tree.py:154-186)."""
        node = self.root
        for token in tokenize(cleaned, self.delimiter)[: self.max_depth]:
            child = node.children.get(token)
            if child is None and self.enable_fuzzy:
                child = self._descend_fuzzy(node, token)
            if child is None:
                return None
            node = child
            if node.template_id is not None:
                return node.template_id
        return node.template_id

    # -- matching mode (broadcast pool → row assignment) -----------------

    def add_pattern(self, pattern: str, template_id: str) -> None:
        """Insert a template pattern; ``<*>`` tokens become wildcard
        children. On node collision the lexicographically-smallest
        template id wins (deterministic under any insertion order)."""
        tokens = tokenize(pattern, self.delimiter)
        if not tokens:
            return
        node = self.root
        for token in tokens[: self.max_depth]:
            child = node.children.get(token)
            if child is None:
                child = _Node(token)
                node.children[token] = child
            node = child
        if node.template_id is None or template_id < node.template_id:
            node.template_id = template_id

    def match(self, cleaned: str) -> Optional[str]:
        """Walk raw tokens against a pattern tree: exact child, else
        wildcard child, else fuzzy; first template node on path wins
        (search semantics of prefix_tree.py:154-186 extended with the
        standard Drain wildcard descent)."""
        node = self.root
        for token in tokenize(cleaned, self.delimiter)[: self.max_depth]:
            child = node.children.get(token)
            if child is None:
                child = node.children.get(WILDCARD)
            if child is None and self.enable_fuzzy:
                child = self._descend_fuzzy(node, token)
            if child is None:
                return None
            node = child
            if node.template_id is not None:
                return node.template_id
        return node.template_id

    # -- introspection ---------------------------------------------------

    def iter_clusters(self) -> Iterable[tuple[str, str, set[str]]]:
        """Yield (template_id, path-pattern, log_ids) for promoted nodes."""
        stack: list[tuple[_Node, list[str]]] = [(self.root, [])]
        while stack:
            node, path = stack.pop()
            if node.template_id is not None:
                yield node.template_id, " ".join(path), set(node.log_ids)
            for child in node.children.values():
                stack.append((child, path + [child.token]))

    def node_count(self) -> int:
        n, stack = 0, [self.root]
        while stack:
            node = stack.pop()
            n += 1
            stack.extend(node.children.values())
        return n

    def stats(self) -> dict:
        """Tree statistics (prefix_tree.py:203-213)."""
        return {
            "total_logs": self.total_logs,
            "num_clusters": self.num_clusters,
            "avg_cluster_size": self.total_logs / self.num_clusters if self.num_clusters else 0,
            "max_depth": self.max_depth,
            "total_nodes": self.node_count(),
        }
