"""Connected components over near-duplicate pair sets — dedup group
formation (the step after pair mining: every near-dup family collapses
to one canonical representative).

Algorithm: iterative min-label propagation. Every node starts labeled
with its own id; each round every node takes the min of its label and
its neighbors' labels; fixpoint = components labeled by their minimum
member id. Convergence is O(graph diameter) rounds — near-dup families
are dense and shallow (a cluster of rewrites of one page), so a handful
of rounds suffices; ``max_iter`` bounds pathological chains.

Scale notes:
- each round is edge join + min-aggregate (map-side combinable) plus a
  POINTER-HALVING self-join (label ← label(label), the shortcutting of
  Hash-to-Min-style algorithms) that contracts label chains
  exponentially — rounds drop from O(diameter) to ~O(log diameter);
  the label frame is (node, label) — two bigints — so even 10^9 nodes
  iterate cheaply;
- lineage is truncated with a LAZY ``localCheckpoint`` every round (an
  iterative plan otherwise grows a new join/agg layer per round and
  re-executes everything from the scan each action); the convergence
  action below is what materializes it, so each round is ONE Spark job,
  not checkpoint-job + action-job (round-5 constant trim: at sf0.1 the
  per-round cost is job scheduling, not data);
- convergence is detected by the monotone invariant Σlabels: labels only
  ever decrease, so an unchanged sum IS the fixpoint — one cheap action
  per round, no change-count join;
- for graphs with adversarial diameter (10^6-link chains)
  :func:`connected_components_star` implements the large-star/small-star
  contraction (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14), which converges in O(log² n) rounds independent of
  diameter. Near-dup dedup rarely needs it — property tests assert the
  two algorithms agree on random graphs;
- both algorithms apply the SoCC'14 paper's own last step — the LOCAL
  FINISH: when the DISTINCT UNDIRECTED pair list fits ``local_max_edges``
  (default 1M — tens of MB of driver heap; the same gate quantity in
  both algorithms), one collect + union-find replaces
  O(rounds) tiny Spark jobs. A near-dup graph is only the documents
  that HAVE a near-dup, so even web-scale corpora usually cross this
  line after zero or a few contraction rounds; tests force the
  distributed loop with ``local_max_edges=-1`` and assert both paths
  agree, so neither rots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Local-finish bound (Kiveris et al. SoCC'14 — the paper's own last
# step: iterate distributed only until the graph fits one machine, then
# solve it there), measured in DISTINCT UNDIRECTED pairs — the SAME
# quantity for both algorithms, so the knob means one thing. 1M pairs
# collect as ~1M small tuples (tens of MB of Python heap, next to the
# broadcast pool's cap) and the node frame createDataFrame is ≤2M rows;
# past that the driver-side constant approaches the distributed rounds'
# fixed cost and the loop should win anyway. Near-dup GRAPHS are almost
# always far smaller than the corpus (only documents WITH a near-dup
# appear), so at sf0.1 the whole graph short-circuits; at 100 TB the
# distributed rounds contract it under the bound first.
LOCAL_FINISH_MAX_EDGES = 1_000_000


def _canonical_pairs(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """(least, greatest) distinct orientation-canonical pair set — the
    shared gate/local-finish input of both algorithms. Self-pairs
    (k, k) survive, preserving the 'self-pair-only node is labeled with
    itself' contract."""
    return (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .distinct()
        # materialized by the gate's take(bound+1): a prefix of partitions
        # in take's job, the rest in one more job the checkpoint then runs
        .localCheckpoint(eager=False)
    )


def _finish_local(spark, edge_rows: list, dtype: str) -> DataFrame:
    """Driver-side union-find over a collected (u, v) edge list →
    (node, component_id = min member id) DataFrame. Deterministic and
    exact; used only under :data:`LOCAL_FINISH_MAX_EDGES`."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(a, b):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            hi, lo = (ra, rb) if ra > rb else (rb, ra)
            parent[hi] = lo  # min-id root ⟹ component_id = min member

    for u, v in edge_rows:
        union(u, v)
    out = sorted((n, find(n)) for n in parent)
    # r6: size the slices by the data — the default createDataFrame
    # parallelizes into defaultParallelism slices, so every downstream
    # stage over the (small) components frame ran one task per core on
    # a handful of rows each; ~100k rows/slice keeps the frame 1-few
    # partitions at the local-finish scale this path is gated to
    n_slices = max(1, len(out) // 100_000) if out else 1
    return spark.createDataFrame(
        spark.sparkContext.parallelize(out, n_slices),
        schema=f"node {dtype}, component_id {dtype}",
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    local_max_edges: int = LOCAL_FINISH_MAX_EDGES,
) -> DataFrame:
    """(id_a, id_b) undirected pair set → (node, component_id) where
    component_id = min node id reachable from ``node``. Nodes appearing
    in no pair are absent (callers union isolated ids if needed).

    Raises RuntimeError if the fixpoint is not reached within
    ``max_iter`` rounds (graph diameter > max_iter) — wrong-but-silent
    labels are never returned; raise ``max_iter`` or switch to the
    log-rounds star contraction for pathological chains."""
    canon = _canonical_pairs(pairs, id_a, id_b)
    # r6 (one action instead of two): ``take(bound+1)`` both DECIDES the
    # gate (≤ bound rows returned ⟺ the whole edge list fits) and, when
    # it fits, already IS the edge list — the previous count()+collect()
    # pair materialized the (possibly expensive) pair mining in one job
    # and re-read it in a second. Over the bound, take still ships
    # bound+1 rows (~1M by default) to the driver, then drops them.
    head = canon.take(local_max_edges + 1) if local_max_edges >= 0 else []
    if local_max_edges >= 0 and len(head) <= local_max_edges:
        # Kiveris-style local finish: the distinct undirected pair list
        # fits the driver bound → one collect + union-find instead of
        # O(rounds) tiny Spark jobs. Same contract, exact, deterministic.
        return _finish_local(
            canon.sparkSession,
            [(r["u"], r["v"]) for r in head],
            canon.schema["u"].dataType.simpleString(),
        )
    edges = canon.select(F.col("u").alias("a"), F.col("v").alias("b"))
    edges = (
        # bidirectional view of the already-distinct canonical pairs; the
        # only duplicates a mirror union can add are self-pairs, which
        # are harmless under the min-aggregates below — no extra distinct
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=True)  # reused every round → materialize once
    )
    # seed labels with round 1 directly: from identity labels the first
    # message pass reduces to min-neighbor, so compute least(node,
    # min-neighbor) in ONE groupBy instead of a full round's join chain
    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("_mn"))
        .select(
            F.col("a").alias("node"), F.least(F.col("a"), F.col("_mn")).alias("label")
        )
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = prev_sum is None  # empty graph is trivially converged
    for _ in range(max_iter):
        if converged:
            break
        # message-passing form: neighbor labels + own label through ONE
        # groupBy-min (the union replaces the old neighbor-min + left-join
        # pair — one fewer shuffle per round; measured 0.29× round time
        # at sf0.1 together with the halving below)
        msgs = edges.join(labels, edges["b"] == labels["node"]).select(
            F.col("a").alias("node"), F.col("label")
        )
        combined = (
            msgs.unionByName(labels).groupBy("node").agg(F.min("label").alias("label"))
        )
        # pointer doubling: label ← label's label, applied twice per
        # round. Labels are always ids of nodes in the same component,
        # so this stays within-component and only ever decreases —
        # chains contract exponentially (measured at sf0.1: 5 rounds
        # with two hops vs 11 with none; two hops beat one because the
        # per-round fixed cost dominates these tiny iteration frames).
        for _hop in range(2):
            hop = combined.select(
                F.col("node").alias("_hn"), F.col("label").alias("_hl")
            )
            combined = combined.join(
                hop, combined["label"] == hop["_hn"], "left"
            ).select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_hl"), F.col("label"))
                ).alias("label"),
            )
        labels = combined.localCheckpoint(eager=False)  # sum action materializes
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        # unchanged sum ⟹ NO label moved this round (labels are monotone
        # non-increasing) ⟹ in particular the neighbor-min step alone was
        # a no-op ⟹ labels are edge-consistent ⟹ fixpoint (the halving
        # step never delays detection: it only decreases labels further)
        if cur_sum == prev_sum:
            converged = True
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter) — raise max_iter"
        )
    return labels.select(F.col("node"), F.col("label").alias("component_id"))


def _large_star(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Large-star: every node connects its STRICTLY LARGER neighbors to
    the minimum of its neighborhood (incl. itself). Output edge set =
    ⋃_u {(v, m(u)) : v ∈ Γ(u), v > u}, m(u) = min(Γ(u) ∪ {u}).

    ``dedup=False`` skips the output ``distinct`` — safe when the
    consumer is :func:`_small_star` (its min-aggregates are duplicate-
    insensitive and it distincts its own output), and one shuffle
    cheaper per contraction round (r5 constant trim, ~20% of the round)."""
    bidir = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("u"), F.col("_mn")).alias("_m"))
    )
    out = (
        bidir.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    return out.distinct() if dedup else out


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: direct each edge high→low, then every node connects
    its smaller neighbors AND itself to the minimum of them. Output =
    ⋃_u {(v, m) : v ∈ N(u) ∪ {u} − {m}}, N(u) = smaller neighbors."""
    directed = edges.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    m = directed.groupBy("u").agg(F.min("v").alias("_m"))
    others = (
        directed.join(m, "u")
        .filter(F.col("v") != F.col("_m"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
    )
    center = m.select(F.col("u"), F.col("_m").alias("v"))
    return others.unionByName(center).distinct()


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    local_max_edges: int = LOCAL_FINISH_MAX_EDGES,
) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al. SoCC'14) —
    the adversarial-diameter fallback for :func:`connected_components`:
    O(log² n) rounds regardless of graph diameter, so a 10^6-link chain
    converges in ~20 rounds instead of 10^6.

    Same contract as :func:`connected_components`: (id_a, id_b) pairs →
    (node, component_id = min reachable id); isolated nodes absent;
    RuntimeError if ``max_iter`` rounds don't reach the fixpoint.
    Equality with min-label propagation is property-tested on random
    graphs.

    Fixpoint detection is EXACT set equality: both star operations emit
    distinct edge sets, so new == old ⟺ |new| == |old| and
    new − old == ∅ (one count + one isEmpty per round)."""
    # the canonical distinct pair set materializes the (possibly
    # expensive) pair mining ONCE — nodes and edges both derive from it —
    # and is the shared local-finish gate quantity (same knob semantics
    # as connected_components)
    canon = _canonical_pairs(pairs, id_a, id_b)
    # r6: same one-action gate as connected_components — take(bound+1)
    # decides AND delivers the edge list when it fits
    head = canon.take(local_max_edges + 1) if local_max_edges >= 0 else []
    if local_max_edges >= 0 and len(head) <= local_max_edges:
        # Kiveris-style local finish (the paper's own last step):
        # self-pairs included, honoring the (k, k) node contract
        return _finish_local(
            canon.sparkSession,
            [(r["u"], r["v"]) for r in head],
            canon.schema["u"].dataType.simpleString(),
        )
    # every participating node INCLUDING self-pair-only nodes — min-label
    # propagation labels a (k, k) node with itself, and this variant must
    # honor the same contract; the star rounds themselves run on the
    # self-loop-free edge set
    nodes = (
        canon.select(F.col("u").alias("node"))
        .unionByName(canon.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)  # only consumed by the final join
    )
    edges = (
        canon.filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=False)  # canon is already distinct;
        # the count below materializes it
    )
    prev_count = edges.count()
    converged = prev_count == 0
    for _ in range(max_iter):
        if converged:
            break
        # lazy checkpoint: the count below materializes it (one job per
        # round instead of checkpoint-job + count-job — r5 constant trim)
        new = _small_star(_large_star(edges, dedup=False)).localCheckpoint(eager=False)
        new_count = new.count()
        if new_count == prev_count and new.exceptAll(edges).isEmpty():
            converged = True
        edges, prev_count = new, new_count
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds "
            "— raise max_iter"
        )
    # fixpoint edges are stars (node → component min); nodes contracted
    # away mid-run are recovered by joining the full node set and taking
    # the min over incident star edges (the center labels itself)
    bidir = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = bidir.groupBy("u").agg(F.min("v").alias("_mn"))
    return (
        nodes.join(labels, nodes["node"] == labels["u"], "left")
        .select(
            "node",
            F.least(F.col("node"), F.coalesce(F.col("_mn"), F.col("node"))).alias(
                "component_id"
            ),
        )
    )


def dedup_representatives(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Component summary: (component_id, n_members) with component_id =
    the canonical (min-id) representative of each near-dup family."""
    comp = connected_components(pairs, id_a, id_b)
    return comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("n_members"))
