"""Link-graph analytics for web corpora: integer-arithmetic PageRank.

The webtext pipeline's canonical graph signal (page quality priors for
crawl scheduling and corpus filtering) is PageRank over the link graph.
The float formulation is NOT reproducible across engines or even across
partitionings — float addition is order-dependent, and a distributed
groupBy sums in nondeterministic order — so a "matches the oracle"
check would need tolerances and could hide real bugs. This module uses
a FIXED-POINT formulation instead: ranks are scaled int64, per-edge
contributions use integer floor division, and the per-node inflow is an
INTEGER sum (associative + commutative → identical under any partition
order, any engine). The result is bit-exact reproducible: Spark,
DuckDB, and a single-threaded loop all produce the same int64 per node.

Semantics (per iteration, damping d = damp_num/damp_den):

    contrib(u→v) = pr(u) * damp_num  div  (damp_den * outdeg(u))
    pr'(v)       = (damp_den − damp_num) * scale div damp_den
                   + Σ_{u→v} contrib(u→v)

Floor-division mass loss (≤ outdeg ulps per node per round) and
dangling-node leakage are accepted and documented — they are the same
in every engine, which is the point. Ranks stay O(scale·avg_indegree),
so with scale = 10⁹ the int64 sum is safe to ~10⁹-in-degree hubs; at
true web scale drop scale to 10⁶ or switch the inflow sum to
decimal(38,0) (Spark and DuckDB both support it exactly).

Scale story: out-degrees and edges are computed once, repartitioned by
src and persisted; each iteration is then one co-partitioned join plus
one integer groupBy-sum — and integer sums are map-side combinable, so
hub pages (huge in-degree) pre-aggregate inside each map task before
the shuffle: degree skew never concentrates on one reducer the way a
non-combinable aggregate would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

DEFAULT_SCALE = 10**9


def pagerank_integer(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    nodes: DataFrame | None = None,
    iterations: int = 4,
    scale: int = DEFAULT_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """PageRank over ``edges`` → (node, pr) with pr a scaled int64
    (initial rank = ``scale`` per node). ``nodes`` defaults to the
    distinct endpoints of ``edges``; pass the full page table when
    isolated pages must appear in the output (they hold the base rank).

    Every arithmetic step is integer, so the output is bit-exact
    reproducible across engines and partitionings — see the module
    docstring for the exact per-iteration formula an oracle must
    mirror."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 < damp_num < damp_den:
        raise ValueError("need 0 < damp_num < damp_den")

    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # one co-partitioned (src, dst, outdeg) frame reused every round
    ed = e.join(deg, "src").repartition(F.col("src")).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node"))
    nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)

    base = (damp_den - damp_num) * scale // damp_den
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("pr"))
    for _ in range(iterations):
        inflow = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(f"pr * {damp_num} div ({damp_den} * outdeg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0)))
            .cast("long")
            .alias("pr"),
        )
    return ranks


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Exact per-node triangle counts over the UNDIRECTED graph induced
    by ``edges`` → (node, degree, triangles). Direction, duplicate
    edges and self-loops are collapsed/dropped first, so (u,v) and
    (v,u) are one edge.

    Scale story — degree-ordered node-iterator (Latapy's
    compact-forward / the Suri–Vassilvitskii MapReduce shape): each
    undirected edge is oriented from the LOWER node to the HIGHER node
    in the total order (degree, node), and wedges are generated only at
    an edge pair's shared lower-ordered endpoint. That bounds total
    wedge work by O(m^1.5) regardless of degree skew — a celebrity page
    with in-degree 10^8 is ordered last, so it is never a wedge apex
    and its edges fan out from their OTHER endpoint (each of which has
    at most a handful of higher-ordered neighbors). The naive
    neighbor-pair join would square the hub degree on one reducer; this
    one never does. Every triangle {x,y,z} (x<y<z in order) is counted
    exactly once: wedge at x over (y,z), closed by the oriented edge
    y→z. Plain equi-joins + one integer groupBy count (map-side
    combinable) — no UDF, no window, fully Catalyst-visible.

    ``nodes`` defaults to the distinct edge endpoints; pass the page
    table to include isolated pages (degree 0, triangles 0).
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("db"))
    lo_first = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    # oriented edge lo→hi in (degree, node) order; hd = degree(hi) so the
    # wedge join can compare (degree, node) tuples without re-joining deg
    o = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(lo_first, F.col("db")).otherwise(F.col("da")).alias("hd"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    x = o.select("lo", F.col("hi").alias("h1"), F.col("hd").alias("hd1"))
    y = o.select("lo", F.col("hi").alias("h2"), F.col("hd").alias("hd2"))
    wedges = x.join(y, "lo").where(
        F.struct(F.col("hd1"), F.col("h1")) < F.struct(F.col("hd2"), F.col("h2"))
    )
    # the closing edge (h1, h2) is oriented h1→h2 by construction
    tri = wedges.join(
        o.select(F.col("lo").alias("h1"), F.col("hi").alias("h2")), ["h1", "h2"]
    ).select(F.col("lo").alias("n1"), F.col("h1").alias("n2"), F.col("h2").alias("n3"))
    per_node = (
        tri.select(F.col("n1").alias("node"))
        .unionAll(tri.select(F.col("n2").alias("node")))
        .unionAll(tri.select(F.col("n3").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    if nodes is None:
        base = deg.select("node")
    else:
        base = nodes.select(F.col(nodes.columns[0]).alias("node"))
    return (
        base.join(deg, "node", "left")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        )
    )


def triangle_oracle_sql(node_source: str, node_col: str, edge_cte: str) -> str:
    """DuckDB mirror of :func:`triangle_counts` using the NAIVE
    id-ordered triple join (a<b<c on node ids) — a deliberately
    INDEPENDENT algebra: the Spark side orders by (degree, node) and
    builds wedges, so agreement validates the orientation trick rather
    than restating it. ``edge_cte`` must yield (src, dst)."""
    return f"""
    with raw as ({edge_cte}),
    und as (
      select distinct least(src, dst) as a, greatest(src, dst) as b
      from raw where src <> dst
    ),
    deg as (
      select node, count(*) as degree from (
        select a as node from und union all select b from und
      ) group by node
    ),
    tri as (
      select e1.a as x, e1.b as y, e2.b as z
      from und e1
      join und e2 on e2.a = e1.b
      join und e3 on e3.a = e1.a and e3.b = e2.b
    ),
    cnt as (
      select node, count(*) as triangles from (
        select x as node from tri
        union all select y from tri
        union all select z from tri
      ) group by node
    )
    select n.{node_col} as node,
           cast(coalesce(d.degree, 0) as bigint) as degree,
           cast(coalesce(c.triangles, 0) as bigint) as triangles
    from {node_source} n
    left join deg d on d.node = n.{node_col}
    left join cnt c on c.node = n.{node_col}
    """


def resolve_redirects(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    nodes: DataFrame | None = None,
    max_hops: int = 64,
) -> DataFrame:
    """Resolve redirect chains over a FUNCTIONAL graph (each ``src`` has
    exactly one ``dst``) → (node, final, hops, resolved) per node: the
    terminal target reached within ``max_hops`` hops, or
    resolved = false (final/hops NULL) when the chase exceeds the budget
    — which covers both cycles and over-long chains, exactly the way an
    HTTP client reports "maximum redirects followed" without
    distinguishing the two. A node with no outgoing edge resolves to
    itself with hops = 0.

    Scale story — pointer doubling: the state frame (node, cur, hops,
    done) composes with ITSELF each round (cur' = state[cur].cur,
    hops' = hops + state[cur].hops), so the resolved horizon doubles per
    round and the loop runs ceil(log2(max_hops)) rounds TOTAL —
    independent of corpus size (6 rounds for the default budget of 64,
    whether the frontier holds 10^4 or 10^11 urls). Each round is one
    equi-join + a union with the done rows; lineage is truncated with a
    lazy localCheckpoint per round (the components.py convention) so the
    self-join's plan tree cannot double every round. The linear chase an
    oracle runs (one hop per recursion step) is a deliberately
    INDEPENDENT algebra — see :func:`redirect_oracle_sql`.

    The one-outgoing-edge contract is enforced loudly: a duplicate src
    raises at execution time (guard woven into the kept dst expression —
    a dropped-column assert would be pruned away, the bigram_pmi
    lesson). ``nodes`` defaults to the distinct edge endpoints; pass the
    url universe to include never-redirecting pages (hops 0).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    m = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_c"), F.max("dst").alias("_dst"))
        .select(
            "src",
            F.when(
                F.assert_true(
                    F.col("_c") == 1,
                    F.concat(
                        F.lit("resolve_redirects: src has multiple outgoing "
                              "edges (functional-graph contract): "),
                        F.col("src").cast("string"),
                    ),
                ).isNull(),
                F.col("_dst"),
            ).alias("dst"),
        )
    )
    if nodes is None:
        universe = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        universe = nodes.select(F.col(nodes.columns[0]).alias("node"))
    # the chase table must contain every endpoint so a not-done row's
    # composition partner always exists; output is filtered to the
    # caller's universe at the end
    chase_nodes = (
        universe.select("node")
        .union(m.select(F.col("src").alias("node")))
        .union(m.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_edge = m.select(F.col("src").alias("node"), F.col("dst").alias("_nxt"))
    is_src = m.select(F.col("src").alias("_t"), F.lit(True).alias("_t_has"))
    state = (
        chase_nodes.join(out_edge, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("_nxt"), F.col("node")).alias("cur"),
            F.when(F.col("_nxt").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("hops"),
        )
        .join(is_src, F.col("cur") == F.col("_t"), "left")
        .select(
            "node", "cur", "hops", F.col("_t_has").isNull().alias("done")
        )
        .localCheckpoint(eager=False)
    )
    rounds = max(0, (max_hops - 1).bit_length())  # ceil(log2(max_hops))
    for _ in range(rounds):
        s2 = state.select(
            F.col("node").alias("_jn"),
            F.col("cur").alias("_jc"),
            F.col("hops").alias("_jh"),
            F.col("done").alias("_jd"),
        )
        active = (
            state.where(~F.col("done"))
            .join(s2, F.col("cur") == F.col("_jn"))
            .select(
                "node",
                F.col("_jc").alias("cur"),
                (F.col("hops") + F.col("_jh")).alias("hops"),
                F.col("_jd").alias("done"),
            )
        )
        state = (
            state.where(F.col("done"))
            .unionByName(active)
            .localCheckpoint(eager=False)
        )
    resolved = F.col("done") & (F.col("hops") <= max_hops)
    return universe.join(state, "node").select(
        "node",
        F.when(resolved, F.col("cur")).alias("final"),
        F.when(resolved, F.col("hops")).cast("long").alias("hops"),
        resolved.alias("resolved"),
    )


def redirect_oracle_sql(
    node_source: str,
    node_col: str,
    edge_cte: str,
    *,
    max_hops: int = 64,
) -> str:
    """DuckDB mirror of :func:`resolve_redirects` as a recursive CTE
    LINEAR chase (one hop per recursion step, bounded at ``max_hops``) —
    a deliberately independent algebra: the Spark side doubles the
    horizon per round, so agreement validates the composition arithmetic
    rather than restating it. ``edge_cte`` must yield (src, dst) with
    unique srcs."""
    return f"""
    with recursive edges as ({edge_cte}),
    chase as (
      select n.{node_col} as node, n.{node_col} as cur, 0 as hops
      from {node_source} n
      union all
      select c.node, e.dst, c.hops + 1
      from chase c join edges e on e.src = c.cur
      where c.hops < {max_hops}
    ),
    term as (
      select c.node, c.cur as final, c.hops
      from chase c
      where not exists (select 1 from edges e where e.src = c.cur)
    )
    select n.{node_col} as node,
           t.final as final,
           cast(t.hops as bigint) as hops,
           t.node is not null as resolved
    from {node_source} n left join term t on t.node = n.{node_col}
    """


def hits_integer(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    nodes: DataFrame | None = None,
    iterations: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over ``edges`` →
    (node, hub, auth), both scaled int64 in [0, ``scale``].

    The float formulation normalizes by an L2 norm — order-dependent
    float sums, so (like PageRank, see module docstring) it cannot be
    compared exactly across engines. This formulation is INTEGER end to
    end: each half-iteration is an integer sum (auth'(v) = Σ hub(u) over
    u→v, then hub'(u) = Σ auth'(v) over u→v), normalized by the exact
    MAX instead of the L2 norm — ``s · scale div max(s)`` — which is a
    deterministic floor division (max-normalized HITS converges to the
    same principal eigenvector direction; only the scoring scale
    differs, and ranking order per iteration is IDENTICAL to the
    float/max variant since x ↦ x·k div m is monotone).

    Scale story: both half-steps are partially aggregable integer
    groupBy sums over the persisted edge frame (hub skew pre-aggregates
    map-side, the pagerank argument); the normalizer is a ONE-ROW
    max aggregate broadcast back (the bm25 global-row pattern) — no
    driver collect. Headroom: raw sums ≤ scale·max_degree and the
    normalizing multiply peaks at scale²·max_degree, so with the
    default scale 10⁶ a 10⁶-degree hub stays inside int64; at true web
    scale drop scale to 10³ or switch the sums to decimal(38,0).

    The DuckDB mirror (:func:`hits_oracle_sql`) unrolls the same
    iterations as CTEs with scalar-subquery normalizers — generated by
    this module so the formulations cannot drift."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if scale < 1:
        raise ValueError("scale must be >= 1")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    # r6 (guide §2.4 "remove shuffles outright"): each iteration joins the
    # edge list on src (auth step) and on dst (hub step). Un-partitioned,
    # BOTH sides of every join shuffle — 2·iterations full edge shuffles.
    # Persisting one src-hashed and one dst-hashed copy establishes each
    # partitioning once; every round's join then only exchanges the tiny
    # (node, s) score frame. Same rows, bit-exact integer output. These
    # two are the only edge copies held: the node set and the hub seed
    # read them too.
    e_src = (
        e.repartition(F.col("src"))
        .sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e_dst = (
        e.repartition(F.col("dst"))
        .sortWithinPartitions("dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if nodes is None:
        nodes = (
            e_src.select(F.col("src").alias("node"))
            .union(e_dst.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node"))

    def _normalize(raw: DataFrame) -> DataFrame:
        # raw: (node, s) sparse (missing node ⇒ 0, and 0 normalizes to 0,
        # so sparse frames stay sparse). max over the sparse rows equals
        # the max over all nodes unless every score is 0, which the
        # greatest(…, 1) guard turns into all-zeros-stay-zero.
        mx = raw.agg(F.greatest(F.max("s"), F.lit(1)).alias("_mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "node",
            F.expr(f"s * {scale} div _mx").cast("long").alias("s"),
        )

    # hub starts at scale for every node that has an outgoing edge —
    # sparse on purpose; isolated/sink nodes hold hub 0 (they endorse
    # nothing), matching the oracle's h0 over distinct srcs.
    hub = e_src.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(scale).cast("long").alias("s")
    )
    auth = None
    for _ in range(iterations):
        auth = _normalize(
            e_src.join(hub, e_src["src"] == hub["node"])
            .groupBy(e_src["dst"].alias("node"))
            .agg(F.sum("s").alias("s"))
        ).localCheckpoint(eager=False)
        hub = _normalize(
            e_dst.join(auth, e_dst["dst"] == auth["node"])
            .groupBy(e_dst["src"].alias("node"))
            .agg(F.sum("s").alias("s"))
        ).localCheckpoint(eager=False)
    h = hub.select("node", F.col("s").alias("hub"))
    a = auth.select("node", F.col("s").alias("auth"))
    return (
        nodes.join(h, "node", "left")
        .join(a, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0)).cast("long").alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0)).cast("long").alias("auth"),
        )
    )


def hits_oracle_sql(
    node_source: str,
    node_col: str,
    edge_cte: str,
    *,
    iterations: int = 3,
    scale: int = 10**6,
) -> str:
    """DuckDB CTE chain mirroring :func:`hits_integer` exactly (one
    auth + one hub CTE per iteration, scalar-subquery max normalizers).
    ``edge_cte`` must yield (src, dst). All operands are non-negative,
    so DuckDB's truncating ``//`` equals floor here."""
    parts = [
        f"edges as ({edge_cte})",
        f"h0 as (select distinct src as node, cast({scale} as bigint) as s "
        "from edges)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"a{i}r as (select e.dst as node, sum(h.s) as s from edges e "
            f"join h{i - 1} h on h.node = e.src group by e.dst)"
        )
        parts.append(
            f"a{i} as (select node, s * {scale} // "
            f"greatest((select max(s) from a{i}r), 1) as s from a{i}r)"
        )
        parts.append(
            f"h{i}r as (select e.src as node, sum(a.s) as s from edges e "
            f"join a{i} a on a.node = e.dst group by e.src)"
        )
        parts.append(
            f"h{i} as (select node, s * {scale} // "
            f"greatest((select max(s) from h{i}r), 1) as s from h{i}r)"
        )
    k = iterations
    return (
        "with " + ",\n".join(parts) + f"""
    select n.{node_col} as node,
           cast(coalesce(h.s, 0) as bigint) as hub,
           cast(coalesce(a.s, 0) as bigint) as auth
    from {node_source} n
    left join h{k} h on h.node = n.{node_col}
    left join a{k} a on a.node = n.{node_col}
    """
    )


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    nodes: DataFrame | None = None,
    max_depth: int = 8,
) -> DataFrame:
    """Multi-source BFS hop distance — crawl depth from the seed list —
    over ``edges`` → (node, depth, reached): the MINIMUM number of hops
    from any seed, or reached = false (depth NULL) beyond ``max_depth``.
    The crawl-scheduling signal every frontier manager keys on (seed
    pages are depth 0; a politeness budget caps how deep a crawl
    follows links).

    Scale story — level-synchronous frontier expansion: round r joins
    only the NEW frontier (nodes first reached at depth r−1) against
    the persisted edge frame, anti-joins the already-reached set, and
    unions the survivors in. Work per round is O(frontier-out-edges),
    total O(m) over the whole run regardless of round count; both the
    join and the anti-join are plain equi-joins on the node id (no
    window, no UDF). Lineage is truncated with a lazy localCheckpoint
    per round (the components.py convention) and the loop exits early
    on an empty frontier via one bounded driver scalar per round — the
    fixpoint-check pattern the CC operators established. Exactness is
    structural: integer depths, min-by-construction (a node enters the
    reached set the first round it is seen and is never revisited).

    The DuckDB mirror chases the same graph with a recursive CTE and a
    min() rollup (:func:`bfs_oracle_sql`) — an independent algebra
    (every path up to the budget, then min) validating the
    first-seen-wins invariant rather than restating it."""
    if max_depth < 0:
        raise ValueError("max_depth must be >= 0")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    seed_nodes = seeds.select(
        F.col(seeds.columns[0]).alias("node")
    ).distinct()
    if nodes is None:
        universe = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .union(seed_nodes)
            .distinct()
        )
    else:
        universe = nodes.select(F.col(nodes.columns[0]).alias("node"))
    reached = seed_nodes.select(
        "node", F.lit(0).cast("long").alias("depth")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    frontier = reached
    for r in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(reached, "node", "left_anti")
            .select("node", F.lit(r).cast("long").alias("depth"))
            .localCheckpoint(eager=False)
        )
        if nxt.isEmpty():  # bounded fixpoint scalar, one per round
            break
        reached = reached.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return universe.join(reached, "node", "left").select(
        "node",
        F.col("depth").cast("long").alias("depth"),
        F.col("depth").isNotNull().alias("reached"),
    )


def bfs_oracle_sql(
    node_source: str,
    node_col: str,
    edge_cte: str,
    seed_pred: str,
    *,
    max_depth: int = 8,
) -> str:
    """DuckDB mirror of :func:`bfs_depths`: a recursive CTE enumerating
    every (node, depth) reachable within ``max_depth`` (UNION dedup
    bounds the recursion), then a min() rollup — deliberately
    independent of the Spark side's first-seen-wins frontier algebra.
    ``seed_pred`` is a boolean SQL predicate over ``node_source``
    columns selecting the seed rows."""
    return f"""
    with recursive edges as ({edge_cte}),
    walk as (
      select n.{node_col} as node, 0 as d
      from {node_source} n where {seed_pred}
      union
      select e.dst, w.d + 1
      from walk w join edges e on e.src = w.node
      where w.d < {max_depth}
    ),
    best as (select node, min(d) as depth from walk group by node)
    select n.{node_col} as node,
           cast(b.depth as bigint) as depth,
           b.node is not null as reached
    from {node_source} n left join best b on b.node = n.{node_col}
    """


def pagerank_oracle_sql(
    node_source: str,
    node_col: str,
    edge_cte: str,
    *,
    iterations: int = 4,
    scale: int = DEFAULT_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
) -> str:
    """DuckDB CTE chain mirroring :func:`pagerank_integer` exactly
    (unrolled — one CTE per iteration). ``edge_cte`` must be a SELECT
    yielding (src, dst, outdeg); ``node_source``/``node_col`` name the
    node table. Kept next to the operator so the two formulations can't
    drift apart."""
    base = (damp_den - damp_num) * scale // damp_den
    parts = [
        f"edges as ({edge_cte})",
        f"r0 as (select {node_col} as node, cast({scale} as bigint) as pr "
        f"from {node_source})",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"r{i} as (\n"
            f"  select n.{node_col} as node,\n"
            f"         cast({base} + coalesce(sum(f.c), 0) as bigint) as pr\n"
            f"  from {node_source} n left join (\n"
            f"    select e.dst as node,\n"
            f"           r.pr * {damp_num} // ({damp_den} * e.outdeg) as c\n"
            f"    from edges e join r{i - 1} r on e.src = r.node) f\n"
            f"    on f.node = n.{node_col}\n"
            f"  group by n.{node_col}\n"
            f")"
        )
    return "with " + ",\n".join(parts) + f"\nselect node, pr from r{iterations}"


def trustrank_integer(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    nodes: DataFrame | None = None,
    iterations: int = 4,
    scale: int = DEFAULT_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004) —
    PageRank personalized to a vetted SEED set, the classic
    spam-demotion signal for crawl prioritization: trust originates
    ONLY at manually-reviewed good pages and decays along links, so a
    spam farm that link-bombs itself gains nothing unless a trusted
    page links into it. Differences from :func:`pagerank_integer`,
    which this mirrors step for step: the initial vector is
    ``scale`` on seeds / 0 elsewhere, and the teleport mass
    ``(damp_den-damp_num)·scale // damp_den`` returns to SEEDS only —
    a node with no in-path from any seed within ``iterations`` hops
    ends at exactly 0 (integer arithmetic keeps that zero exact; float
    TrustRank can't say "unreachable", only "small").

    Same exactness and scale contract as the module's PageRank: per-
    edge contributions are int64 floor divisions split over outdegree,
    per-node inflow an integer sum — bit-exact under any partitioning
    and engine. ``seeds`` is a one-column frame of vetted node ids
    (deduplicated here; ids not in ``nodes`` are ignored by the join).
    The co-partitioned (src, dst, outdeg) frame persists across
    rounds. Output: (node, is_seed, trust)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 < damp_num < damp_den:
        raise ValueError("need 0 < damp_num < damp_den")

    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = e.join(deg, "src").repartition(F.col("src")).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node"))
    s = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct() \
        .withColumn("is_seed", F.lit(True))
    nodes = nodes.join(s, "node", "left").select(
        "node", F.coalesce(F.col("is_seed"), F.lit(False)).alias("is_seed")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    base = (damp_den - damp_num) * scale // damp_den
    seed_base = F.when(F.col("is_seed"), F.lit(base)).otherwise(F.lit(0))
    ranks = nodes.select(
        "node",
        F.when(F.col("is_seed"), F.lit(scale)).otherwise(F.lit(0))
        .cast("long").alias("tr"),
    )
    for _ in range(iterations):
        inflow = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(f"tr * {damp_num} div ({damp_den} * outdeg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            (seed_base + F.coalesce(F.col("inflow"), F.lit(0)))
            .cast("long")
            .alias("tr"),
        )
    return nodes.join(ranks, "node").select(
        "node", "is_seed", F.col("tr").alias("trust")
    )


def trustrank_oracle_sql(
    node_source: str,
    node_col: str,
    edge_cte: str,
    seed_pred: str,
    *,
    iterations: int = 4,
    scale: int = DEFAULT_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
) -> str:
    """DuckDB CTE chain mirroring :func:`trustrank_integer` exactly
    (unrolled, one CTE per iteration). ``edge_cte`` must yield
    (src, dst, outdeg); ``seed_pred`` is a boolean SQL expression over
    the node table's columns defining the vetted set. Kept next to the
    operator so the two formulations cannot drift."""
    base = (damp_den - damp_num) * scale // damp_den
    parts = [
        f"edges as ({edge_cte})",
        f"nseed as (select {node_col} as node, ({seed_pred}) as is_seed "
        f"from {node_source})",
        f"r0 as (select node, cast(case when is_seed then {scale} else 0 end "
        f"as bigint) as tr from nseed)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"r{i} as (\n"
            f"  select n.node,\n"
            f"         cast(case when n.is_seed then {base} else 0 end\n"
            f"              + coalesce(sum(f.c), 0) as bigint) as tr\n"
            f"  from nseed n left join (\n"
            f"    select e.dst as node,\n"
            f"           r.tr * {damp_num} // ({damp_den} * e.outdeg) as c\n"
            f"    from edges e join r{i - 1} r on e.src = r.node) f\n"
            f"    on f.node = n.node\n"
            f"  group by n.node, n.is_seed\n"
            f")"
        )
    return (
        "with " + ",\n".join(parts)
        + f"\nselect n.node, n.is_seed, r.tr as trust"
        f"\nfrom nseed n join r{iterations} r on r.node = n.node"
    )


# --- web-graph structure statistics ------------------------------------------


def graph_structure(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Reciprocity + degree assortativity of a directed link graph —
    the two structure constants a web-graph owner reads before trusting
    link-analysis signals on a new crawl (natural web graphs sit near
    reciprocity ~0.2–0.3 and MILDLY negative assortativity; a link farm
    reads near-1.0 reciprocity, a scrape of one hub reads strongly
    negative assortativity — both are crawl-quality alarms).

    Definitions (self-loops dropped, duplicate directed edges
    collapsed): reciprocity = |{(u,v) : (v,u) ∈ E}| / |E|;
    assortativity = Pearson r of (deg(src), deg(dst)) over directed
    edges with deg = total (in+out) degree. All moment sums are exact
    bigints; the final r is ONE textually-mirrored IEEE shape
    (difference products → one sqrt → one division → one round — the
    bm25 convention), NULL when either endpoint-degree variance is 0
    (star/regular graphs — undefined, not zero). Exactness bound:
    m·Σxy needs m·Σdeg² ≤ 2⁶³ — fine for any graph whose moments fit
    the audit (document: m ≤ 10⁶ with deg ≤ 3·10⁴ at full headroom);
    beyond that, sample edges upstream.

    Scale shape: one distinct + self-loop filter; reciprocity is an
    equi-self-join on the reversed key (shuffle on the edge key, no
    cartesian); degrees are one partial agg over the exploded endpoint
    list; the moment rollup is a single 1-row aggregate. Output: ONE
    row (n_nodes, n_edges, n_reciprocal, reciprocity_e6,
    assortativity_e6)."""
    e = (
        edges.select(
            F.col(src_col).cast("bigint").alias("s"),
            F.col(dst_col).cast("bigint").alias("d"),
        )
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    recip = e.join(rev, ["s", "d"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_reciprocal")
    )
    deg = (
        e.select(F.explode(F.array("s", "d")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    joined = (
        e.join(deg.select(F.col("n").alias("s"),
                          F.col("deg").alias("x")), "s")
        .join(deg.select(F.col("n").alias("d"),
                         F.col("deg").alias("y")), "d")
    )
    mom = joined.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    out = nn.crossJoin(F.broadcast(mom)).crossJoin(F.broadcast(recip))
    vx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    return out.select(
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.col("m").cast("bigint").alias("n_edges"),
        F.col("n_reciprocal").cast("bigint").alias("n_reciprocal"),
        F.when(F.col("m") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("n_reciprocal * 1000000 div m"))
        .alias("reciprocity_e6"),
        F.when(
            (vx <= 0) | (vy <= 0), F.lit(None).cast("bigint")
        )
        .otherwise(
            F.round(
                num.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double"))
                * 1_000_000
            ).cast("bigint")
        )
        .alias("assortativity_e6"),
    )


def graph_structure_sql(*, edges_rel: str, src_col: str, dst_col: str) -> str:
    """DuckDB recompute of :func:`graph_structure` — same exact moment
    sums, the SAME textual IEEE shape for r, generated here so the two
    spellings cannot drift."""
    return f"""
        with _gs_e as (
          select distinct cast({src_col} as bigint) as s,
                 cast({dst_col} as bigint) as d
          from {edges_rel}
          where cast({src_col} as bigint) != cast({dst_col} as bigint)
        ),
        _gs_r as (
          select count(*)::BIGINT as n_reciprocal from _gs_e e
          where exists (select 1 from _gs_e r
                        where r.s = e.d and r.d = e.s)
        ),
        _gs_deg as (
          select n, count(*)::BIGINT as deg from (
            select s as n from _gs_e union all select d from _gs_e
          ) group by 1
        ),
        _gs_m as (
          select count(*)::BIGINT as m,
                 sum(dx.deg)::BIGINT as sx, sum(dy.deg)::BIGINT as sy,
                 sum(dx.deg * dx.deg)::BIGINT as sxx,
                 sum(dy.deg * dy.deg)::BIGINT as syy,
                 sum(dx.deg * dy.deg)::BIGINT as sxy
          from _gs_e e
          join _gs_deg dx on dx.n = e.s
          join _gs_deg dy on dy.n = e.d
        ),
        _gs_n as (select count(*)::BIGINT as n_nodes from _gs_deg)
        select n.n_nodes, m.m as n_edges, r.n_reciprocal,
               case when m.m = 0 then 0
                    else r.n_reciprocal * 1000000 // m.m
               end::BIGINT as reciprocity_e6,
               case when (m.m * m.sxx - m.sx * m.sx) <= 0
                      or (m.m * m.syy - m.sy * m.sy) <= 0 then NULL
                    else cast(round(
                      cast(m.m * m.sxy - m.sx * m.sy as double)
                      / sqrt(cast(m.m * m.sxx - m.sx * m.sx as double)
                             * cast(m.m * m.syy - m.sy * m.sy as double))
                      * 1000000) as bigint)
               end as assortativity_e6
        from _gs_n n cross join _gs_m m cross join _gs_r r
    """
