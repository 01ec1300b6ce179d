"""Host-graph link analysis — iterative PageRank over an edge table.

The web-scale companion to the trace operators: a Common-Crawl-style
corpus carries a host->host hyperlink graph, and rank-style link analysis
(seed-quality weighting, crawl prioritization, spam-mass estimation) is a
standard curation signal next to the dedup/quality family.  No reference
analog (the reference pipeline is trace-only); semantics are the public
Page et al. 1999 power iteration.

Spark shape (the GraphX/Pregel pattern re-expressed on DataFrames):
  * `outdeg` is computed ONCE and joined onto edges ONCE; the resulting
    `links` table is hash-partitioned by src and persisted — every
    iteration's join then co-locates on the SAME partitioning, so the
    per-round cost is one shuffle of the (node, rank) table (tiny: one
    row per node) plus one partial-aggregated contribution shuffle.  The
    EDGE table (the 100-TB side) never moves after the setup pass.
  * contributions pre-aggregate map-side (groupBy(dst).sum on longs), so
    the per-round exchange carries at most (partitions x nodes) rows.
  * the rank state is a DataFrame, never collected; rounds are a fixed
    count (power iteration converges geometrically at |damping|), so the
    loop is driver-side plan construction only — each round appends one
    join + one agg to the lineage.  `checkpoint_every` truncates lineage
    via localCheckpoint to keep plan growth linear.

Exact cross-engine determinism (the oracle contract): ranks live in
INTEGER micro-units (RANK_SCALE per node of initial mass) and every
transfer is the integer floor division

    contrib(u->v) = (DAMP_NUM * r_q(u)) DIV (DAMP_DEN * outdeg(u))
    r'_q(v)       = BASE_Q + sum(contrib)          [all int64]

so sums are order-independent and both engines produce bit-identical
ranks every round (Spark `DIV` and DuckDB `//` agree on non-negative
operands).  Dangling mass (nodes with outdeg 0) is dropped, not
redistributed — documented simplification, identical in the SQL replay.
Overflow envelope: total mass only shrinks (floor division + dangling
leakage), so r_q <= nodes * RANK_SCALE; with RANK_SCALE = 10^9 that is
int64-safe to ~9 * 10^9 nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .envelope import require, wide

RANK_SCALE = 1_000_000_000  # integer micro-rank units per node
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio
PAGERANK_ITERS = 6


def pagerank(edges: DataFrame, iters: int = PAGERANK_ITERS,
             src: str = "src", dst: str = "dst",
             checkpoint_every: int = 8) -> DataFrame:
    """Integer-quantized PageRank power iteration; returns
    (node long, rank_q long) for every node that appears as src or dst.

    `edges` must be deduplicated (parallel edges count once; dedup
    upstream with .distinct() if needed).  See module docstring for the
    distributed shape and the exactness contract.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = edges.select(F.col(src).cast("long").alias("src"),
                     F.col(dst).cast("long").alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    # the 100-TB side: partitioned by src once, reused every round
    links = (e.join(outdeg, "src")
             .repartition(F.col("src"))
             .persist())
    links.count()  # materialize before the loop so rounds reuse it

    base_q = (DAMP_DEN - DAMP_NUM) * RANK_SCALE // DAMP_DEN
    ranks = nodes.select(
        "node", F.lit(int(RANK_SCALE)).cast("long").alias("rank_q"))
    for it in range(iters):
        contribs = (links
                    .join(ranks.withColumnRenamed("node", "src"), "src")
                    .select("dst",
                            (F.lit(DAMP_NUM) * F.col("rank_q"))
                            .cast("long")
                            .alias("num"),
                            (F.lit(DAMP_DEN) * F.col("odeg"))
                            .cast("long").alias("den"))
                    .select("dst", F.expr("num DIV den").alias("c"))
                    .groupBy("dst").agg(F.sum("c").alias("in_q")))
        ranks = (nodes
                 .join(contribs.withColumnRenamed("dst", "node"),
                       "node", "left")
                 .select("node",
                         (F.lit(int(base_q))
                          + F.coalesce(F.col("in_q"), F.lit(0)))
                         .cast("long").alias("rank_q")))
        if (it + 1) % checkpoint_every == 0 and it + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    # materialize the (tiny: one row per node) result eagerly so the setup
    # tables can be released HERE, inside the call — a monkey-patched
    # release hook is lost the moment the caller transforms the DataFrame,
    # and in a long-lived session the cached edge table would then never
    # be freed.  The eager checkpoint costs one extra pass over the final
    # round's plan; every later action reads the checkpointed partitions.
    ranks = ranks.localCheckpoint(eager=True)
    nodes.unpersist()
    links.unpersist()
    return ranks


BFS_ROUNDS = 4


def bfs_levels(edges: DataFrame, sources: DataFrame,
               rounds: int = BFS_ROUNDS,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Multi-source BFS over a directed edge table — shortest hop-distance
    from any source, capped at `rounds` hops (the Pregel frontier pattern
    on DataFrames; crawl-depth / link-distance labeling on the host
    graph).  Returns (node long, dist long) for every node reached within
    the cap; unreached nodes are absent.

    Distributed shape (mirrors pagerank above): the edge table — the
    100-TB side — is hash-partitioned by src ONCE and persisted; each
    round is one co-located join of the (tiny) frontier against it, a
    map-side-combinable distinct on the discovered nodes, and one
    left-anti join against the assigned set, so the per-round exchanges
    carry only node ids, never edges.  Frontiers are eagerly
    localCheckpointed: each round's plan starts from materialized
    partitions instead of re-deriving every prior round (lineage stays
    O(1) per round), and the empty-frontier early stop is a count on an
    already-materialized frame.

    Exactness: BFS assigns each node the round at which it is FIRST
    reached, which is the minimum hop distance by induction; pure integer
    arithmetic, no tie-breaking anywhere (a node reached twice in the
    same round is deduplicated before assignment), so any engine agrees.
    The oracle twin replays it as a recursive CTE with UNION-distinct
    walk states and a final min(dist) — equal because min over all
    (node, dist<=cap) walk states IS first-reach round.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"))
         .distinct().repartition(F.col("src")).persist())
    e.count()  # materialize before the loop so every round reuses it
    dist = (sources.select(F.col("node").cast("long").alias("node"))
            .distinct()
            .select("node", F.lit(0).cast("long").alias("dist"))
            .localCheckpoint(eager=True))
    frontier = dist
    for r in range(1, rounds + 1):
        cand = (frontier.select(F.col("node").alias("src"))
                .join(e, "src")
                .select(F.col("dst").alias("node")).distinct())
        new = (cand.join(dist.select("node"), "node", "left_anti")
               .select("node", F.lit(r).cast("long").alias("dist"))
               .localCheckpoint(eager=True))
        if new.count() == 0:
            break
        dist = dist.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    e.unpersist()
    return dist


def triangle_counts(edges: DataFrame,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts over the UNDIRECTED graph
    induced by the edge table (direction and duplicates collapse; self
    loops drop).  Returns (node long, n_triangles long) for every node of
    the canonical edge set — 0 rows for isolated-by-dedup nodes only.

    Distributed shape — degree-ordered orientation (the MapReduce
    triangle-counting standard, Suri & Vassilvitskii WWW'11): every
    canonical edge is oriented from the smaller to the larger endpoint
    under the total order (degree, node).  Each triangle then has exactly
    ONE node with two out-edges, so wedges (two out-edges of one node,
    ordered) joined against the closing oriented edge count each triangle
    exactly once — and out-degrees under this orientation are bounded by
    O(sqrt(m)), which bounds the wedge fan-out at O(m^1.5) total where a
    naive direction-free wedge join is unbounded on skewed (power-law
    host) graphs.  Every exchange carries node ids + degrees only; the
    degree table is node-count-sized.

    Exactness: pure integer arithmetic on set semantics — any engine
    agrees; the oracle twin replays the definition as a canonical
    three-way join (u < v < w) without orientation.
    """
    e = (edges.select(F.least(F.col(src), F.col(dst)).cast("long")
                      .alias("u"),
                      F.greatest(F.col(src), F.col(dst)).cast("long")
                      .alias("v"))
         .filter(F.col("u") != F.col("v")).distinct())
    deg = (e.select(F.col("u").alias("node"))
           .unionAll(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    # attach degrees, orient low -> high under (deg, node)
    eu = e.join(deg.withColumnRenamed("node", "u")
                .withColumnRenamed("deg", "du"), "u")
    euv = eu.join(deg.withColumnRenamed("node", "v")
                  .withColumnRenamed("deg", "dv"), "v")
    fwd = (F.col("du") < F.col("dv")) | \
          ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    o = euv.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("d"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dd"))
    # wedges at the unique two-out-edge corner, ordered to count once
    e1, e2 = o.alias("e1"), o.alias("e2")
    lt = (F.col("e1.dd") < F.col("e2.dd")) | \
         ((F.col("e1.dd") == F.col("e2.dd"))
          & (F.col("e1.d") < F.col("e2.d")))
    wedge = (e1.join(e2, (F.col("e1.s") == F.col("e2.s")) & lt)
             .select(F.col("e1.s").alias("x"), F.col("e1.d").alias("y"),
                     F.col("e2.d").alias("z")))
    tri = wedge.join(o.select(F.col("s").alias("y"),
                              F.col("d").alias("z")), ["y", "z"])
    counts = (tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
              .groupBy("node").agg(F.count("*").alias("n_triangles")))
    return (deg.select("node").join(counts, "node", "left")
            .select("node", F.coalesce("n_triangles", F.lit(0))
                    .cast("long").alias("n_triangles")))


def k_core(edges: DataFrame, k: int, rounds: int,
           src: str = "src", dst: str = "dst") -> DataFrame:
    """k-core decomposition by iterative peeling over the UNDIRECTED
    simple graph (direction/duplicates collapse, self loops drop):
    repeatedly delete nodes of degree < k together with their incident
    edges, up to `rounds` passes with an early stop when a pass deletes
    nothing.  Returns the surviving nodes with their within-core degree
    (node long, deg long) — the dense-subgraph / spam-cluster primitive.

    Semantics contract (what an oracle must replay): EXACTLY `rounds`
    edge-peeling passes (early stop only skips provably-identical
    passes — an unchanged edge COUNT implies an unchanged edge SET
    since each pass only deletes), then one final degree->=k node
    selection over the surviving edge set.  At the fixpoint this equals
    the classical k-core; before it, both engines compute the identical
    intermediate state.

    100-TB shape: the canonical edge set is hash-partitioned once and
    re-persisted per round; each pass is one combinable degree count
    (node-sized), a filter, and two semi joins of the edge table
    against the (tiny) surviving-node set; localCheckpoint truncates
    lineage so the loop stays O(1) plan-depth per round — the same
    driver-loop cadence as pagerank/bfs (SURVEY O4 posture).  Pure
    integer arithmetic throughout.
    """
    if k < 1:
        raise ValueError("k_core: k must be >= 1")
    if rounds < 0:
        raise ValueError("k_core: rounds must be >= 0")
    e = (edges.select(F.least(F.col(src), F.col(dst)).cast("long")
                      .alias("u"),
                      F.greatest(F.col(src), F.col(dst)).cast("long")
                      .alias("v"))
         .filter(F.col("u") != F.col("v")).distinct()
         .repartition("u").localCheckpoint(eager=True))

    def _deg(ed):
        return (ed.select(F.col("u").alias("node"))
                .unionAll(ed.select(F.col("v").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))

    n_edges = e.count()
    for _ in range(rounds):
        keep = _deg(e).filter(F.col("deg") >= k).select("node")
        ne = (e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
              .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
              .select("u", "v").localCheckpoint(eager=True))
        n_new = ne.count()
        old = e
        e = ne
        old.unpersist()
        if n_new == n_edges:
            break
        n_edges = n_new
    out = _deg(e).filter(F.col("deg") >= k).select(
        "node", F.col("deg").cast("long").alias("deg"))
    res = out.localCheckpoint(eager=True)
    e.unpersist()
    return res


def label_propagation(edges: DataFrame, rounds: int,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    undirected simple graph, made fully deterministic: labels start as
    node ids; each round every node adopts the minimum label among the
    most frequent labels of its neighbors (ties on frequency break to
    the smaller label; isolated-by-dedup nodes don't exist, and a node
    with no neighbors after canonicalization keeps its own label, which
    cannot happen here since every canonical edge yields two
    adjacencies).  Returns (node long, label long) after EXACTLY
    `rounds` synchronous updates — pure integer arithmetic with a total
    tie order, so a fixed-round declarative replay is a true oracle
    (classic async LPA is nondeterministic BY DESIGN; the synchronous
    min-tie variant trades a little convergence speed for an exactness
    contract).

    100-TB shape: the canonical adjacency is materialized once, hash-
    partitioned by node and persisted; each round is one co-located
    join of the (node, label) table against it, a combinable
    (node, label) count, and one min-struct agg per node —
    label-table-sized exchanges only; localCheckpoint truncates lineage
    per round (the pagerank/BFS O4 cadence).
    """
    if rounds < 0:
        raise ValueError("label_propagation: rounds must be >= 0")
    e = (edges.select(F.least(F.col(src), F.col(dst)).cast("long")
                      .alias("u"),
                      F.greatest(F.col(src), F.col(dst)).cast("long")
                      .alias("v"))
         .filter(F.col("u") != F.col("v")).distinct())
    adj = (e.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
           .unionAll(e.select(F.col("v").alias("node"),
                              F.col("u").alias("nbr")))
           .repartition("node").localCheckpoint(eager=True))
    labels = (adj.select("node").distinct()
              .select("node", F.col("node").alias("label"))
              .localCheckpoint(eager=True))
    for _ in range(rounds):
        nl = (adj.join(labels.withColumnRenamed("node", "nbr"), "nbr")
              .groupBy("node", "label")
              .agg(F.count(F.lit(1)).alias("cnt")))
        pick = (nl.groupBy("node")
                .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                    F.col("label").alias("l")))
                     .alias("_b"))
                .select("node", F.col("_b.l").alias("label")))
        new = pick.localCheckpoint(eager=True)
        labels.unpersist()
        labels = new
    return labels.select("node", F.col("label").cast("long")
                         .alias("label"))


def link_prediction_cn(edges: DataFrame, src: str = "src",
                       dst: str = "dst", min_common: int = 1,
                       max_wedges: int = 200_000_000) -> DataFrame:
    """Common-neighbor link prediction over the UNDIRECTED canonical
    graph (direction and duplicates collapse; self loops drop): for
    every NON-adjacent pair (u < w) sharing at least `min_common`
    neighbors, the shared-neighbor count plus both endpoint degrees —
    the exact integer evidence behind CN / Jaccard
    (cn / (deg_u + deg_w − cn)) / preferential-attachment scores, left
    to the consumer so the row stays all-BIGINT and engine-portable.
    Returns (u, w, cn, deg_u, deg_w).

    Distributed shape: one adjacency self-join on the wedge center
    generates each candidate wedge exactly once (neighbor pair ordered
    u < w), then a combinable (u, w) count and ONE anti-join against the
    canonical edge set removes already-linked pairs.  Wedge fan-out is
    Σ C(deg, 2) — inherent to the statistic (unlike triangles, every
    wedge matters, so degree-ordering cannot prune) — and a degenerate
    hub would go quadratic silently, so the total is ENFORCED with a
    raise from the node-count-sized degree table before the join runs.
    Every exchange carries node ids only.
    """
    if min_common < 1:
        raise ValueError("link_prediction_cn: min_common must be >= 1")
    ce = (edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("a"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("b"))
          .filter(F.col("a") != F.col("b")).distinct())
    adj = (ce.select(F.col("a").alias("c"), F.col("b").alias("n"))
           .unionByName(ce.select(F.col("b").alias("c"),
                                  F.col("a").alias("n"))))
    deg = adj.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    # twice Sigma C(deg,2), exact
    require(deg, (
        F.sum(wide("deg") * (wide("deg") - 1)),
        lambda w2: w2 > 2 * max_wedges,
        lambda w2: f"link_prediction_cn: Sigma C(deg,2) = {w2 // 2} wedges "
                   f"exceeds max_wedges={max_wedges}; cap hub degrees "
                   f"upstream"))
    l = adj.select(F.col("c"), F.col("n").alias("u"))
    r = adj.select(F.col("c"), F.col("n").alias("w"))
    cn = (l.join(r, "c")
          .filter(F.col("u") < F.col("w"))
          .groupBy("u", "w")
          .agg(F.count(F.lit(1)).cast("long").alias("cn"))
          .filter(F.col("cn") >= min_common))
    nonadj = cn.join(ce.select(F.col("a").alias("u"),
                               F.col("b").alias("w")),
                     ["u", "w"], "left_anti")
    return (nonadj
            .join(deg.select(F.col("c").alias("u"),
                             F.col("deg").alias("deg_u")), "u")
            .join(deg.select(F.col("c").alias("w"),
                             F.col("deg").alias("deg_w")), "w")
            .select("u", "w", "cn", "deg_u", "deg_w"))


def sssp_rounds(edges: DataFrame, sources: DataFrame, rounds: int,
                src: str = "src", dst: str = "dst",
                w: str = "w") -> DataFrame:
    """Weighted single-source(-set) shortest paths via Bellman-Ford
    rounds — the weighted generalization of bfs_levels (latency-weighted
    link distance, cost-to-reach labeling).  Returns (node long, dist
    long): the MINIMUM total weight over paths from any source using at
    most `rounds` edges — a well-defined engine-independent quantity
    even before convergence, so a fixed-round declarative replay is a
    true oracle (the k_core fixed-round contract); rounds >= the graph
    diameter gives the true shortest paths.  Non-negative integer
    weights ENFORCED (negative weights would need V-1 rounds and cycle
    detection); parallel edges collapse to their min weight map-side
    (provably distance-preserving).  Overflow envelope ENFORCED:
    rounds * max_w < 2^62 bounds every path sum.

    Distributed shape (the pagerank/bfs cadence): the edge table is
    min-collapsed, hash-partitioned by src ONCE and persisted; each
    round is one co-located join of the (node-sized) distance table
    against it plus one map-side-combinable min agg — only (node, dist)
    pairs cross the per-round exchange.  The distance table is eagerly
    localCheckpointed every round so plan depth stays O(1).
    """
    if rounds < 0:
        raise ValueError("sssp_rounds: rounds must be >= 0")
    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"),
                      F.col(w).cast("long").alias("w"))
         .groupBy("src", "dst").agg(F.min("w").alias("w"))
         .repartition(F.col("src")).persist())
    try:
        require(e, (F.min("w"), lambda lo: lo < 0,
                    "sssp_rounds: negative edge weight present"), (
            F.max("w"), lambda hi: rounds * hi >= (1 << 62),
            lambda hi: f"sssp_rounds: rounds*max_w = {rounds * hi} "
                       f"breaches the int64 envelope (< 2^62)"))
        dist = (sources.select(F.col("node").cast("long").alias("node"))
                .distinct()
                .select("node", F.lit(0).cast("long").alias("dist"))
                .localCheckpoint(eager=True))
        for _ in range(rounds):
            relax = (dist.join(e, dist["node"] == e["src"])
                     .select(F.col("dst").alias("node"),
                             (dist["dist"] + F.col("w")).alias("dist")))
            dist = (dist.unionByName(relax)
                    .groupBy("node").agg(F.min("dist").alias("dist"))
                    .localCheckpoint(eager=True))
    finally:
        e.unpersist()
    return dist


def catchment_rounds(edges: DataFrame, sources: DataFrame, rounds: int,
                     src: str = "src", dst: str = "dst",
                     w: str = "w") -> DataFrame:
    """Network-Voronoi catchment assignment — the multi-source argmin
    sibling of sssp_rounds: every reachable node is assigned to the
    SOURCE that reaches it with minimum total weight within `rounds`
    edges, ties broken by the smaller source id — facility catchment
    areas, nearest-depot routing, service-area partitioning over a road
    or host graph.  Returns (node, dist, catchment) with the winning
    (dist, catchment) pair the LEXICOGRAPHIC minimum over all
    (<= rounds)-edge paths from any source — a well-defined
    engine-independent quantity even before convergence (the k_core /
    sssp fixed-round contract), so the chained-CTE oracle replays every
    round exactly.

    The per-round fold is min over the (dist, source) struct — Spark's
    struct ordering IS the lexicographic order, and the fold is
    associative + commutative, so map-side partial aggregation stays
    correct and only (node, dist, src) triples cross the per-round
    exchange.  Same distributed cadence as sssp_rounds: edge table
    min-collapsed, hash-partitioned by src once and persisted; one
    co-located join + one combinable agg per round; eager
    localCheckpoint keeps plan depth O(1).  Non-negative weights and
    the rounds·max_w < 2⁶² path-sum envelope ENFORCED as in
    sssp_rounds.
    """
    if rounds < 0:
        raise ValueError("catchment_rounds: rounds must be >= 0")
    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"),
                      F.col(w).cast("long").alias("w"))
         .groupBy("src", "dst").agg(F.min("w").alias("w"))
         .repartition(F.col("src")).persist())
    try:
        require(e, (F.min("w"), lambda lo: lo < 0,
                    "catchment_rounds: negative edge weight present"), (
            F.max("w"), lambda hi: rounds * hi >= (1 << 62),
            lambda hi: f"catchment_rounds: rounds*max_w = {rounds * hi} "
                       f"breaches the int64 envelope"))
        dist = (sources.select(F.col("node").cast("long").alias("node"))
                .distinct()
                .select("node", F.lit(0).cast("long").alias("dist"),
                        F.col("node").alias("catchment"))
                .localCheckpoint(eager=True))
        for _ in range(rounds):
            relax = (dist.join(e, dist["node"] == e["src"])
                     .select(F.col("dst").alias("node"),
                             (dist["dist"] + F.col("w")).alias("dist"),
                             dist["catchment"].alias("catchment")))
            dist = (dist.unionByName(relax)
                    .groupBy("node")
                    .agg(F.min(F.struct("dist", "catchment"))
                         .alias("_s"))
                    .select("node", F.col("_s.dist").alias("dist"),
                            F.col("_s.catchment").alias("catchment"))
                    .localCheckpoint(eager=True))
    finally:
        e.unpersist()
    return dist
