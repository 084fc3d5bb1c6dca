"""Independent reference for the benchmark's output check.

Per-line work (clean, validity, pattern) runs in DuckDB through the repo's
oracle SQL renderings; the driver-side pool logic (greedy merge, canonical
ids, prefix-tree collapse of the assignment map) is re-implemented here from
its documented semantics, so a change to ``operators.merging`` or
``operators.cluster`` cannot silently move both sides of the check.
"""

from __future__ import annotations

import hashlib

import duckdb

from logparser_llm_spark.functions.hashing import sink_id_sql
from logparser_llm_spark.plans.queries import PATTERN_SQL_BODY, VALID_SQL, clean_sql

WILDCARD = "<*>"
NUM_SINKS = 8
POOL_CAP = 100_000
MERGE_THRESHOLD = 0.9
MAX_EDIT = 3
MAX_DEPTH = 5
FUZZY_THRESHOLD = 0.8


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _mergeable(p1: str, p2: str) -> bool:
    if abs(len(p1) - len(p2)) > MAX_EDIT:
        return False
    t1, t2 = p1.split(), p2.split()
    if not t1 or not t2:
        return False
    same = sum(a == b for a, b in zip(t1, t2))
    s1, s2 = set(t1), set(t2)
    sim = 0.7 * same / max(len(t1), len(t2)) + 0.3 * len(s1 & s2) / len(s1 | s2)
    return sim >= MERGE_THRESHOLD and _lev(p1, p2) <= MAX_EDIT


def _merged(p1: str, p2: str) -> str:
    t1, t2 = p1.split(), p2.split()
    n = max(len(t1), len(t2))
    t1 += [None] * (n - len(t1))
    t2 += [None] * (n - len(t2))
    return " ".join(a if a == b else WILDCARD for a, b in zip(t1, t2))


def _token_sim(a: str, b: str) -> float:
    if a == b:
        return 1.0
    if a.replace(".", "").replace("-", "").isdigit() and b.replace(".", "").replace("-", "").isdigit():
        return 0.9
    return 1.0 - _lev(a, b) / max(len(a), len(b))


class _Tree:
    """Pattern prefix tree: wildcard children, fuzzy descent, first
    template node on the walk wins, smallest id wins a shared node."""

    def __init__(self):
        self.root = ({}, [None])

    def add(self, pattern: str, tid: str) -> None:
        node = self.root
        for tok in pattern.split()[:MAX_DEPTH]:
            node = node[0].setdefault(tok, ({}, [None]))
        if node[1][0] is None or tid < node[1][0]:
            node[1][0] = tid

    def match(self, text: str):
        node = self.root
        for tok in text.split()[:MAX_DEPTH]:
            child = node[0].get(tok) or node[0].get(WILDCARD)
            if child is None:
                best = 0.0
                for ctok, c in node[0].items():
                    if ctok == WILDCARD:
                        continue
                    s = _token_sim(tok, ctok)
                    if s > best and s >= FUZZY_THRESHOLD:
                        child, best = c, s
            if child is None:
                return None
            node = child
            if node[1][0] is not None:
                return node[1][0]
        return node[1][0]


def pattern_to_tid(pattern_counts: dict[str, int]) -> dict[str, str]:
    """Discovered pattern → template id, as the pipeline's pool should
    assign it (greedy merge in pattern order, ids by sorted merged
    pattern, tree walk per source pattern)."""
    if len(pattern_counts) > POOL_CAP:
        raise ValueError("workload exceeds the pool cap; the reference does not model the cap")
    pats = sorted(pattern_counts)
    by_len: dict[int, list[int]] = {}
    for i, p in enumerate(pats):
        by_len.setdefault(len(p), []).append(i)
    used: set[int] = set()
    merged: list[tuple[str, list[str]]] = []
    for i, p in enumerate(pats):
        if i in used:
            continue
        acc, srcs = p, [p]
        cands = sorted(
            j for n in range(len(p) - MAX_EDIT, len(p) + MAX_EDIT + 1)
            for j in by_len.get(n, ()) if j > i
        )
        for j in cands:
            if j not in used and _mergeable(p, pats[j]):
                acc = _merged(acc, pats[j])
                srcs.append(pats[j])
                used.add(j)
        merged.append((acc, srcs))
        used.add(i)
    merged.sort(key=lambda m: m[0])
    tree, exact = _Tree(), {}
    pool = [(f"tmpl_{i:04d}", pat, srcs) for i, (pat, srcs) in enumerate(merged)]
    for tid, pat, _ in pool:
        tree.add(pat, tid)
        exact.setdefault(pat, tid)
    out = {}
    for _, pat, srcs in pool:
        for src in {pat, *srcs}:
            out[src] = tree.match(src) or exact.get(src) or "unknown"
    return out


def digest(rows) -> str:
    """Order-free digest of (sink_id, template_id, count) rows."""
    body = "\n".join(f"{int(s)}|{t}|{int(c)}" for s, t, c in sorted(rows))
    return hashlib.sha256(body.encode()).hexdigest()


class Reference:
    """Expected counts, invalid-line count and grouping accuracy of one corpus."""

    def __init__(self, input_glob: str, labels_glob: str, temp_dir: str):
        con = duckdb.connect()
        con.execute(f"set temp_directory='{temp_dir}'")
        con.execute("set threads=2")
        con.execute(
            f"create table l as select url, line_no, {clean_sql('text')} as cleaned "
            f"from read_parquet('{input_glob}')"
        )
        con.execute(
            "create table p as select url, line_no, case when "
            f"{VALID_SQL.format(c='cleaned')} then {PATTERN_SQL_BODY.format(c='cleaned')} "
            "end as pattern from l"
        )
        counts = dict(con.execute(
            "select pattern, count(*) from p where pattern is not null group by 1"
        ).fetchall())
        amap = pattern_to_tid(counts)
        con.execute("create table m(pattern varchar, tid varchar)")
        con.executemany("insert into m values (?, ?)", list(amap.items()))
        con.execute(
            "create table a as select p.url, p.line_no, coalesce(m.tid, 'unknown') as tid "
            "from p left join m using (pattern)"
        )
        rows = con.execute(
            f"select {sink_id_sql('tid', NUM_SINKS)}, tid, count(*) from a group by 1, 2"
        ).fetchall()
        self.digest = digest(rows)
        self.lines = sum(r[2] for r in rows)
        self.unknown = sum(r[2] for r in rows if r[1] == "unknown")
        self.ga = grouping_accuracy(con, "a", "tid", labels_glob)
        con.close()


def grouping_accuracy(con, table: str, pred: str, labels_glob: str) -> float:
    """Loghub GA: a line counts iff its predicted group holds exactly the
    lines of its labelled group. Lines absent from the labels are junk."""
    q = f"""
        with j as (
          select t.{pred} as pred, coalesce(g.gt_id, 'junk') as truth
          from {table} t left join read_parquet('{labels_glob}') g using (url, line_no)
        ),
        pt as (select pred, truth, count(*) n from j group by 1, 2),
        np as (select pred, sum(n) n from pt group by 1),
        nt as (select truth, sum(n) n from pt group by 1)
        select sum(case when pt.n = np.n and pt.n = nt.n then pt.n else 0 end) / sum(pt.n)
        from pt join np using (pred) join nt using (truth)
    """
    return float(con.execute(q).fetchone()[0])
