"""Integer PageRank: bit-exact parity with a single-threaded reference
loop, partition invariance (the property the integer formulation
exists to guarantee), dangling/isolated node semantics, contracts.
The sf0.01 DuckDB-oracle parity for the registered ``pagerank`` query
runs via test_queries_oracle."""

from collections import defaultdict

import pytest

from logparser_llm_spark.operators.graph import (
    pagerank_integer,
    pagerank_oracle_sql,
    triangle_counts,
    triangle_oracle_sql,
)

SCALE = 10**9


def ref_pagerank(edges, nodes, iterations, scale=SCALE, dn=85, dd=100):
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    pr = {v: scale for v in nodes}
    base = (dd - dn) * scale // dd
    for _ in range(iterations):
        inflow = defaultdict(int)
        for s, t in edges:
            inflow[t] += pr[s] * dn // (dd * outdeg[s])
        pr = {v: base + inflow.get(v, 0) for v in nodes}
    return pr


def _graph(n_nodes=60, seed=5):
    """Deterministic scraggly graph: hubs, chains, a dangling node, a
    self-loop, duplicate-free."""
    edges = []
    for u in range(n_nodes - 1):  # node n_nodes-1 stays dangling-ish
        for j in range(1 + (u * seed) % 4):
            edges.append((u, (u * 13 + 7 * j + seed) % n_nodes))
    edges.append((3, 3))  # self-loop
    nodes = list(range(n_nodes + 1))  # +1: isolated node, never linked
    return edges, nodes


def _run(spark, edges, nodes, iterations, partitions=None):
    e = spark.createDataFrame(edges, "src long, dst long")
    if partitions:
        e = e.repartition(partitions)
    nd = spark.createDataFrame([(v,) for v in nodes], "node long")
    out = pagerank_integer(e, nodes=nd, iterations=iterations)
    return {r["node"]: r["pr"] for r in out.collect()}


def test_matches_reference_loop_bit_exact(spark):
    edges, nodes = _graph()
    got = _run(spark, edges, nodes, iterations=4)
    assert got == ref_pagerank(edges, nodes, 4)


def test_partition_invariance(spark):
    """The whole point of the integer formulation: any partitioning of
    the edge frame yields the IDENTICAL int64 per node."""
    edges, nodes = _graph(n_nodes=40, seed=9)
    a = _run(spark, edges, nodes, iterations=3, partitions=1)
    b = _run(spark, edges, nodes, iterations=3, partitions=17)
    assert a == b


def test_isolated_and_dangling_nodes(spark):
    # 2 -> dangling (no out-edges): absorbs, never contributes;
    # 9 isolated: holds exactly the base rank after one iteration
    edges = [(0, 1), (1, 2), (0, 2)]
    nodes = [0, 1, 2, 9]
    got = _run(spark, edges, nodes, iterations=2)
    ref = ref_pagerank(edges, nodes, 2)
    assert got == ref
    assert got[9] == (100 - 85) * SCALE // 100


def test_default_nodes_are_edge_endpoints(spark):
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = pagerank_integer(e, iterations=1)
    assert {r["node"] for r in out.collect()} == {1, 2, 3}


def test_contracts(spark):
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank_integer(e, iterations=0)
    with pytest.raises(ValueError):
        pagerank_integer(e, damp_num=100, damp_den=100)


def test_oracle_sql_mirrors_reference(spark):
    """The generated DuckDB CTE chain must agree with the Python
    reference loop on an arbitrary closed-form graph — this is the
    drift gate between pagerank_oracle_sql and pagerank_integer."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "create table pages as select range as pid from range(30)"
    )
    edge_cte = """
        select p.pid as src,
               (p.pid * 11 + 5 * j.j + 2) % 30 as dst,
               1 + p.pid % 2 as outdeg
        from pages p, generate_series(0, 1) as j(j)
        where j.j <= p.pid % 2
    """
    sql = pagerank_oracle_sql("pages", "pid", edge_cte, iterations=3)
    got = dict(con.execute(sql).fetchall())
    edges = []
    for u in range(30):
        for j in range(1 + u % 2):
            edges.append((u, (u * 11 + 5 * j + 2) % 30))
    assert got == ref_pagerank(edges, list(range(30)), 3)


# ---------------------------------------------------------------- triangles


def ref_triangles(edges, nodes):
    """Single-threaded reference: canonicalize, then count triangles by
    brute-force adjacency intersection."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    tri = defaultdict(int)
    seen = set()
    for a, b in und:
        for c in adj[a] & adj[b]:
            t = tuple(sorted((a, b, c)))
            if t not in seen:
                seen.add(t)
                for v in t:
                    tri[v] += 1
    return {v: (len(adj[v]), tri.get(v, 0)) for v in nodes}


def _run_tri(spark, edges, nodes, partitions=None):
    e = spark.createDataFrame(edges, "src long, dst long")
    if partitions:
        e = e.repartition(partitions)
    nd = spark.createDataFrame([(v,) for v in nodes], "node long")
    out = triangle_counts(e, nodes=nd)
    return {r["node"]: (r["degree"], r["triangles"]) for r in out.collect()}


def test_triangles_match_reference_on_scraggly_graph(spark):
    edges, nodes = _graph()
    assert _run_tri(spark, edges, nodes) == ref_triangles(edges, nodes)


def test_triangles_partition_invariance(spark):
    edges, nodes = _graph(n_nodes=40, seed=9)
    a = _run_tri(spark, edges, nodes, partitions=1)
    b = _run_tri(spark, edges, nodes, partitions=17)
    assert a == b


def test_triangles_k4(spark):
    # K4: every node sits in C(3,2) = 3 triangles, degree 3
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = _run_tri(spark, edges, list(range(4)))
    assert got == {v: (3, 3) for v in range(4)}


def test_triangles_collapse_direction_duplicates_and_self_loops(spark):
    # (0,1) twice + reversed, a self-loop, and both orientations of the
    # closing edge: still exactly ONE triangle
    edges = [(0, 1), (1, 0), (0, 1), (1, 2), (2, 0), (0, 2), (1, 1)]
    got = _run_tri(spark, edges, [0, 1, 2, 7])
    assert got == {0: (2, 1), 1: (2, 1), 2: (2, 1), 7: (0, 0)}


def test_triangles_star_hub_plus_one_closing_edge(spark):
    # hub 0 linked to 1..20 (no triangles), then close (1, 2): the hub
    # participates in exactly that one triangle — the skew shape the
    # degree ordering exists for
    edges = [(0, v) for v in range(1, 21)] + [(1, 2)]
    got = _run_tri(spark, edges, list(range(21)))
    assert got[0] == (20, 1)
    assert got[1] == (2, 1) and got[2] == (2, 1)
    assert all(got[v] == (1, 0) for v in range(3, 21))


def test_triangle_oracle_sql_mirrors_reference(spark):
    """Drift gate: the generated naive-triple-join DuckDB oracle must
    agree with the Python reference on a closed-form graph."""
    import duckdb

    con = duckdb.connect()
    con.execute("create table pages as select range as pid from range(24)")
    edge_cte = """
        select p.pid as src, (p.pid * 5 + 3) % 24 as dst from pages p
        union all
        select p.pid as src, (p.pid + 1) % 24 as dst from pages p
        union all
        select p.pid as src, (p.pid + 2) % 24 as dst from pages p
    """
    sql = triangle_oracle_sql("pages", "pid", edge_cte)
    got = {n: (d, t) for n, d, t in con.execute(sql).fetchall()}
    edges = []
    for u in range(24):
        edges += [(u, (u * 5 + 3) % 24), (u, (u + 1) % 24), (u, (u + 2) % 24)]
    assert got == ref_triangles(edges, list(range(24)))


# ---------------------------------------------------------------- redirects


def ref_resolve(edges: dict, nodes, max_hops):
    """Single-threaded linear chase reference for resolve_redirects."""
    out = {}
    for n in nodes:
        cur, hops = n, 0
        while cur in edges and hops <= max_hops:
            cur = edges[cur]
            hops += 1
        if cur in edges or hops > max_hops:  # budget exhausted mid-chain
            out[n] = (None, None, False)
        else:
            out[n] = (cur, hops, True)
    return out


def _redirect_frame(spark, edges):
    return spark.createDataFrame(
        [(s, d) for s, d in edges.items()], "src long, dst long"
    )


def test_resolve_redirects_matches_reference_chase(spark):
    """Chains, a 2-cycle, a self-loop, a cycle lead-in, and a chain of
    length exactly max_hops all agree with the linear-chase reference
    (doubling vs linear — independent formulations)."""
    from logparser_llm_spark.operators.graph import resolve_redirects

    edges = {1: 0, 2: 1, 3: 2, 4: 3, 5: 4,            # chain 5→…→0
             10: 11, 11: 10,                           # 2-cycle
             12: 12,                                   # self-loop
             13: 10,                                   # leads into cycle
             20: 21}                                   # 1-hop
    nodes = list(range(0, 7)) + [10, 11, 12, 13, 20, 21, 30]
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "node long")
    for max_hops in (1, 3, 5, 8):
        got = {
            r["node"]: (r["final"], r["hops"], r["resolved"])
            for r in resolve_redirects(
                _redirect_frame(spark, edges), nodes=nodes_df, max_hops=max_hops
            ).collect()
        }
        assert got == ref_resolve(edges, nodes, max_hops), max_hops


def test_resolve_redirects_default_universe_is_endpoints(spark):
    from logparser_llm_spark.operators.graph import resolve_redirects

    edges = {5: 3, 3: 1}
    got = {
        r["node"]: (r["final"], r["hops"], r["resolved"])
        for r in resolve_redirects(_redirect_frame(spark, edges)).collect()
    }
    assert got == {5: (1, 2, True), 3: (1, 1, True), 1: (1, 0, True)}


def test_resolve_redirects_duplicate_src_raises(spark):
    from logparser_llm_spark.operators.graph import resolve_redirects
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    with pytest.raises(SparkRuntimeException, match="multiple outgoing"):
        resolve_redirects(df).collect()


def test_resolve_redirects_validates_max_hops(spark):
    from logparser_llm_spark.operators.graph import resolve_redirects

    df = _redirect_frame(spark, {1: 0})
    with pytest.raises(ValueError, match="max_hops"):
        resolve_redirects(df, max_hops=0)


def test_redirect_oracle_sql_mirrors_reference():
    """Drift gate: the generated recursive-CTE oracle must agree with
    the linear-chase reference on the registered seed shape."""
    import duckdb

    from logparser_llm_spark.operators.graph import redirect_oracle_sql

    n = 40
    con = duckdb.connect()
    con.execute(f"create table pages as select range as pid from range({n})")
    edge_cte = f"""
        select pid as src,
               case when pid % 7 in (1, 2, 3) then pid - 1
                    when pid % 7 = 4 then pid + 1
                    when pid % 7 = 5 then pid - 1
                    when pid % 7 = 6 then pid - 2 end as dst
        from pages
        where pid % 7 <> 0 and not (pid % 7 = 4 and pid + 1 >= {n})
    """
    sql = redirect_oracle_sql("pages", "pid", edge_cte, max_hops=8)
    got = {r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()}
    edges = {}
    for u in range(n):
        m = u % 7
        if m in (1, 2, 3, 5):
            edges[u] = u - 1
        elif m == 4 and u + 1 < n:
            edges[u] = u + 1
        elif m == 6:
            edges[u] = u - 2
    assert got == ref_resolve(edges, list(range(n)), 8)


def test_redirect_resolve_classes_present_both_sf(spark):
    """The registered corpus must carry BOTH verdict classes (resolved
    at hops 0-3, unresolved cycles) at sf0.01 AND sf0.1."""
    from logparser_llm_spark.plans.queries import QUERIES

    fn, _ = QUERIES["redirect_resolve"]
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        rows = fn(spark, sf).collect()
        hist = {}
        for r in rows:
            hist[(r["resolved"], r["hops"])] = hist.get(
                (r["resolved"], r["hops"]), 0) + 1
        for h in (0, 1, 2, 3):
            assert hist.get((True, h), 0) > 0, (sf, h)
        assert hist.get((False, None), 0) > 0, sf
        assert all(
            (r["final_id"] is None) == (not r["resolved"]) for r in rows
        )


# --- HITS (integer max-normalized hubs & authorities) --------------------


def ref_hits(edges, nodes, iterations, scale=10**6):
    """Single-threaded mirror of hits_integer's documented semantics."""
    srcs = {s for s, _ in edges}
    hub = {s: scale for s in srcs}
    auth = {}
    for _ in range(iterations):
        raw = defaultdict(int)
        for s, t in edges:
            if s in hub:
                raw[t] += hub[s]
        mx = max(raw.values(), default=0) or 1
        auth = {v: x * scale // mx for v, x in raw.items()}
        raw = defaultdict(int)
        for s, t in edges:
            if t in auth:
                raw[s] += auth[t]
        mx = max(raw.values(), default=0) or 1
        hub = {v: x * scale // mx for v, x in raw.items()}
    return {v: (hub.get(v, 0), auth.get(v, 0)) for v in nodes}


def _run_hits(spark, edges, nodes, iterations, partitions=None):
    from logparser_llm_spark.operators.graph import hits_integer

    e = spark.createDataFrame(edges, "src long, dst long")
    if partitions:
        e = e.repartition(partitions)
    nd = spark.createDataFrame([(v,) for v in nodes], "node long")
    out = hits_integer(e, nodes=nd, iterations=iterations)
    return {r["node"]: (r["hub"], r["auth"]) for r in out.collect()}


def test_hits_matches_reference_bit_exact(spark):
    edges, nodes = _graph()
    assert _run_hits(spark, edges, nodes, 3) == ref_hits(edges, nodes, 3)


def test_hits_partition_invariance(spark):
    edges, nodes = _graph(n_nodes=40, seed=9)
    a = _run_hits(spark, edges, nodes, 2, partitions=1)
    b = _run_hits(spark, edges, nodes, 2, partitions=17)
    assert a == b


def test_hits_shapes(spark):
    # star: center 0 points at 1..4 → 0 is the only hub, leaves are the
    # authorities; isolated node 9 scores (0, 0)
    edges = [(0, 1), (0, 2), (0, 3), (0, 4)]
    nodes = [0, 1, 2, 3, 4, 9]
    got = _run_hits(spark, edges, nodes, 2)
    assert got == ref_hits(edges, nodes, 2)
    scale = 10**6
    assert got[0] == (scale, 0)
    assert got[9] == (0, 0)
    assert all(got[v] == (0, scale) for v in (1, 2, 3, 4))


def test_hits_holds_two_edge_copies(spark):
    """HITS persists one src-partitioned and one dst-partitioned edge copy
    and nothing else of the edge list; the default node set (every linked
    node) and the hub seed read those two."""
    from logparser_llm_spark.operators.graph import hits_integer

    sc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in sc.getRDDStorageInfo()}
    edges, _ = _graph()
    out = hits_integer(spark.createDataFrame(edges, "src long, dst long"), iterations=2)
    got = {r["node"]: (r["hub"], r["auth"]) for r in out.collect()}
    assert got == ref_hits(edges, sorted({v for e in edges for v in e}), 2)
    added = [i for i in sc.getRDDStorageInfo() if i.id() not in before]
    # the per-round score frames are local checkpoints, named by their RDD
    # class; every other held RDD is a cached relation
    held = [i.name() for i in added if i.name() != "MapPartitionsRDD"]
    assert len(held) == 2, held


def test_hits_contracts(spark):
    from logparser_llm_spark.operators.graph import hits_integer

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        hits_integer(e, iterations=0)
    with pytest.raises(ValueError):
        hits_integer(e, scale=0)


def test_hits_oracle_sql_mirrors_reference():
    """Drift gate between hits_oracle_sql and the reference loop on a
    closed-form graph."""
    import duckdb

    from logparser_llm_spark.operators.graph import hits_oracle_sql

    con = duckdb.connect()
    con.execute("create table pages as select range as pid from range(30)")
    edge_cte = """
        select p.pid as src, (p.pid * 11 + 5 * j.j + 2) % 30 as dst
        from pages p, generate_series(0, 1) as j(j)
        where j.j <= p.pid % 2
    """
    sql = hits_oracle_sql("pages", "pid", edge_cte, iterations=3)
    got = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    edges = []
    for u in range(30):
        for j in range(1 + u % 2):
            edges.append((u, (u * 11 + 5 * j + 2) % 30))
    assert got == ref_hits(edges, list(range(30)), 3)


# --- BFS crawl depth ------------------------------------------------------


def ref_bfs(edges, seeds, nodes, max_depth):
    adj = defaultdict(list)
    for s, t in edges:
        adj[s].append(t)
    depth = {s: 0 for s in seeds}
    frontier = list(seeds)
    for r in range(1, max_depth + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in depth:
                    depth[v] = r
                    nxt.append(v)
        frontier = nxt
    return {v: (depth.get(v), v in depth) for v in nodes}


def _run_bfs(spark, edges, seeds, nodes, max_depth, partitions=None):
    from logparser_llm_spark.operators.graph import bfs_depths

    e = spark.createDataFrame(edges, "src long, dst long")
    if partitions:
        e = e.repartition(partitions)
    sd = spark.createDataFrame([(v,) for v in seeds], "node long")
    nd = spark.createDataFrame([(v,) for v in nodes], "node long")
    out = bfs_depths(e, sd, nodes=nd, max_depth=max_depth)
    return {r["node"]: (r["depth"], r["reached"]) for r in out.collect()}


def test_bfs_matches_reference(spark):
    edges, nodes = _graph()
    seeds = [0, 7, 31]
    got = _run_bfs(spark, edges, seeds, nodes, 3)
    assert got == ref_bfs(edges, seeds, nodes, 3)


def test_bfs_partition_invariance(spark):
    edges, nodes = _graph(n_nodes=40, seed=9)
    a = _run_bfs(spark, edges, [0, 5], nodes, 2, partitions=1)
    b = _run_bfs(spark, edges, [0, 5], nodes, 2, partitions=17)
    assert a == b


def test_bfs_min_depth_wins_and_budget(spark):
    # two paths to node 3: 0→1→2→3 and 0→3 — min (depth 1) must win;
    # chain past the budget stays unreached; early-exit path (frontier
    # empties before max_depth) must not error
    edges = [(0, 1), (1, 2), (2, 3), (0, 3), (3, 4), (4, 5)]
    nodes = [0, 1, 2, 3, 4, 5, 9]
    got = _run_bfs(spark, edges, [0], nodes, 2)
    assert got == ref_bfs(edges, [0], nodes, 2)
    assert got[3] == (1, True)
    assert got[5] == (None, False)
    assert got[9] == (None, False)
    deep = _run_bfs(spark, edges, [0], nodes, 50)  # frontier dries up
    assert deep == ref_bfs(edges, [0], nodes, 50)


def test_bfs_depth_zero_and_contract(spark):
    from logparser_llm_spark.operators.graph import bfs_depths

    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    s = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: (r["depth"], r["reached"])
        for r in bfs_depths(e, s, max_depth=0).collect()
    }
    assert got == {0: (0, True), 1: (None, False)}
    with pytest.raises(ValueError):
        bfs_depths(e, s, max_depth=-1)


def test_bfs_oracle_sql_mirrors_reference():
    import duckdb

    from logparser_llm_spark.operators.graph import bfs_oracle_sql

    con = duckdb.connect()
    con.execute("create table pages as select range as pid from range(40)")
    edge_cte = """
        select p.pid as src, (p.pid * 11 + 5 * j.j + 2) % 40 as dst
        from pages p, generate_series(0, 1) as j(j)
        where j.j <= p.pid % 2
    """
    sql = bfs_oracle_sql("pages", "pid", edge_cte, "n.pid % 13 = 0",
                         max_depth=2)
    got = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    edges = []
    for u in range(40):
        for j in range(1 + u % 2):
            edges.append((u, (u * 11 + 5 * j + 2) % 40))
    seeds = [u for u in range(40) if u % 13 == 0]
    assert got == ref_bfs(edges, seeds, list(range(40)), 2)


def test_crawl_depth_classes_present_both_sf(spark):
    """The registered corpus must carry reached rows at every depth in
    the budget AND unreached rows at sf0.01 and sf0.1."""
    from logparser_llm_spark.plans.queries import CRAWL_MAX_DEPTH, QUERIES

    fn, _ = QUERIES["crawl_depth"]
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        rows = fn(spark, sf).collect()
        depths = {r["depth"] for r in rows if r["reached"]}
        assert depths == set(range(CRAWL_MAX_DEPTH + 1)), sf
        assert any(not r["reached"] for r in rows), sf
        assert all((r["depth"] is None) == (not r["reached"]) for r in rows)


# --- trustrank_integer -------------------------------------------------------


def test_trustrank_seed_decay_and_exact_zero(spark):
    """A 2-hop chain from the one seed: the seed holds base + returned
    mass, each hop multiplies by 85/100 with floor division, and a
    node with no in-path from the seed is EXACTLY 0 (the integer
    arithmetic promise). Hand graph: s→a, a→b, x→y (x unvetted)."""
    from logparser_llm_spark.operators.graph import trustrank_integer

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in (0, 1, 2, 10, 11)], "n long")
    seeds = spark.createDataFrame([(0,)], "n long")
    got = {r["node"]: r for r in trustrank_integer(
        edges, seeds, nodes=nodes, iterations=4).collect()}
    assert got[0]["is_seed"] and not got[1]["is_seed"]
    base = (100 - 85) * 10**9 // 100
    assert got[0]["trust"] == base          # nothing links back to s
    # a: base-less, receives floor(tr(s)·85/100) from the previous round
    assert got[1]["trust"] == base * 85 // 100
    assert got[2]["trust"] == base * 85 // 100 * 85 // 100
    assert got[10]["trust"] == 0 and got[11]["trust"] == 0


def test_trustrank_no_seeds_all_zero_and_validation(spark):
    import pytest as _pytest

    from logparser_llm_spark.operators.graph import trustrank_integer

    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    none = spark.createDataFrame([], "n long")
    got = trustrank_integer(edges, none, iterations=3).collect()
    assert got and all(r["trust"] == 0 for r in got)
    seeds = spark.createDataFrame([(0,)], "n long")
    with _pytest.raises(ValueError, match="iterations"):
        trustrank_integer(edges, seeds, iterations=0)
    with _pytest.raises(ValueError, match="damp"):
        trustrank_integer(edges, seeds, damp_num=100, damp_den=100)


def test_trustrank_partition_invariance_and_outdeg_split(spark):
    """Bit-exact under repartitioning; a seed with outdegree 3 splits
    its contribution by floor division over outdeg (link-bombing a
    node many times from one page does not multiply trust)."""
    from logparser_llm_spark.operators.graph import trustrank_integer

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (5, 1), (2, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "n long")
    a = sorted(map(tuple, trustrank_integer(
        edges.repartition(1), seeds, iterations=4).collect()))
    b = sorted(map(tuple, trustrank_integer(
        edges.repartition(7), seeds, iterations=4).collect()))
    assert a == b
    got = dict((r[0], r[2]) for r in a)
    base = (100 - 85) * 10**9 // 100
    assert got[1] == base * 85 // (100 * 3)  # one third per out-link
    assert got[1] == got[3]


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_trustrank_registered_classes(spark, sf):
    """Seeds hold at least the teleport base; unreachable nodes exist
    and are exactly 0; any positive-trust non-seed has an in-edge from
    a positive-trust node (trust cannot appear from nowhere)."""
    from logparser_llm_spark.plans.queries import QUERIES

    rows = QUERIES["trustrank"][0](spark, sf).collect()
    got = {r["doc_id"]: r for r in rows}
    n = len(rows)
    base = (100 - 85) * 10**9 // 100
    seeds = [r for r in rows if r["is_seed"]]
    assert seeds and all(r["doc_id"] % 13 == 0 for r in seeds), sf
    assert all(r["trust"] >= base for r in seeds), sf
    zeros = [r for r in rows if r["trust"] == 0]
    assert zeros and all(not r["is_seed"] for r in zeros), sf
    # rebuild the synth edges driver-side and check conservation-style
    # sanity on a sample of positive non-seeds
    in_edges = {}
    for u in range(n):
        for j in range(u % 3 + 1):
            in_edges.setdefault((u * 11 + 5 * j + 2) % n, []).append(u)
    for r in rows:
        if not r["is_seed"] and r["trust"] > 0:
            assert any(got[u]["trust"] > 0 or got[u]["is_seed"]
                       for u in in_edges.get(r["doc_id"], [])), r


# --- graph_structure ---------------------------------------------------------


def test_graph_structure_hand_values_and_star_degeneracy(spark):
    """Self-loops drop, duplicate edges collapse; reciprocity counts
    directed edges whose reverse exists; assortativity matches the
    closed-form Pearson on the hand graph; a star graph (zero
    src-degree variance) emits NULL, not 0."""
    import math

    from logparser_llm_spark.operators.graph import graph_structure

    rows = [(1, 2), (2, 1), (1, 3), (3, 4), (4, 4), (1, 2)]
    df = spark.createDataFrame(rows, "s long, d long")
    r = graph_structure(df, "s", "d").collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_reciprocal"],
            r["reciprocity_e6"]) == (4, 4, 2, 500_000)
    xs, ys = [3, 2, 3, 2], [2, 3, 2, 1]
    m, sx, sy = 4, sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    rr = (m * sxy - sx * sy) / math.sqrt(
        (m * sxx - sx * sx) * (m * syy - sy * sy))
    assert r["assortativity_e6"] == round(rr * 1e6)
    star = spark.createDataFrame([(0, i) for i in range(1, 6)],
                                 "s long, d long")
    assert graph_structure(star, "s", "d").collect()[0][
        "assortativity_e6"] is None


def test_graph_structure_matches_duckdb_and_clique(spark):
    """A bidirectional clique reads reciprocity exactly 1.0 (the link
    farm alarm); unit-scale parity with the generated SQL."""
    import duckdb

    from logparser_llm_spark.operators.graph import (
        graph_structure,
        graph_structure_sql,
    )

    rows = [(i, (i * 7 + j) % 23) for i in range(23) for j in (1, 2)]
    df = spark.createDataFrame(rows, "s long, d long")
    got = sorted(map(tuple, graph_structure(df, "s", "d").collect()))
    con = duckdb.connect()
    con.execute("create table e (s bigint, d bigint)")
    con.executemany("insert into e values (?,?)", rows)
    want = sorted(map(tuple, con.execute(graph_structure_sql(
        edges_rel="e", src_col="s", dst_col="d")).fetchall()))
    assert got == want
    clique = [(i, j) for i in range(5) for j in range(5) if i != j]
    cdf = spark.createDataFrame(clique, "s long, d long")
    rc = graph_structure(cdf, "s", "d").collect()[0]
    assert rc["reciprocity_e6"] == 1_000_000
