"""Network-graph operators over node/edge DataFrames.

The reference's ``network_graph`` type lives in the out-of-repo
``kiara_plugin.network_analysis`` (referenced from core, SURVEY §1.2); here
the graph is plain DataFrames — ``edges(src, dst, ...)`` + optional
``nodes(id, ...)`` — so every graph op is a relational plan Catalyst
optimizes like any other.

Scale design:
- degree/neighbor ops: single hash aggregates / self-joins on (src|dst) —
  one shuffle each, AQE-skewable (hub nodes are exactly the skew case).
- ``connected_components``: iterative hash-min label propagation — per
  round one join + one min-aggregate, lineage truncated via
  ``localCheckpoint`` so plans don't grow unboundedly.  Converges in
  O(graph diameter) rounds; the production upgrade for 100 TB graphs is the
  large-star/small-star contraction (Kiveris et al., "Connected Components
  in MapReduce and Beyond"), which this API accommodates unchanged.
- ``database`` ops: a namespace of DataFrames registered as temp views —
  cross-table SQL goes through one Catalyst plan, so joins across database
  members optimize globally.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import cut_lineage
from ..modules import STRING, TABLE, _simple_module, config_kwargs
from ..operations import Operation


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge list: both directions, self-loops dropped,
    deduped."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def degrees(edges: DataFrame, directed: bool = False) -> DataFrame:
    """(id, degree) — or (id, in_degree, out_degree) when directed."""
    if directed:
        out_d = edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_degree"))
        in_d = edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("in_degree"))
        return (
            out_d.join(in_d, on="id", how="full")
            .fillna(0, subset=["in_degree", "out_degree"])
            .select("id", "in_degree", "out_degree")
        )
    und = undirected_edges(edges)
    return und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("degree"))


def neighbors_within_2_hops(edges: DataFrame) -> DataFrame:
    """(id, n_neighbors_2hop): distinct nodes reachable in <= 2 undirected
    hops (excluding self).

    One checkpointed edge materialization (used by both hops — otherwise the
    upstream edge derivation runs twice), one self-join, then a single
    grouped count_distinct: partial (map-side) dedup of (id, nb) feeds one
    exchange, instead of a distinct shuffle followed by a count shuffle over
    the full pair set — the pair set is the big intermediate here (sum of
    squared degrees), so one fewer pass over it is the main win."""
    und = cut_lineage(undirected_edges(edges))
    one = und.select(F.col("src").alias("id"), F.col("dst").alias("nb"))
    two = (
        one.alias("a")
        .join(und.alias("e"), F.col("a.nb") == F.col("e.src"))
        .select(F.col("a.id").alias("id"), F.col("e.dst").alias("nb"))
    )
    both = one.unionByName(two).filter(F.col("id") != F.col("nb"))
    return both.groupBy("id").agg(F.count_distinct("nb").alias("n_neighbors_2hop"))


def neighbors_within_2_hops_approx(edges: DataFrame, rsd: float = 0.05) -> DataFrame:
    """HLL++ variant of ``neighbors_within_2_hops``: same two self-joins, but
    the distinct state per node is a constant-size sketch
    (``approx_count_distinct``) instead of an exact hash set.

    This is the 100 TB path for hub-heavy graphs: the exact op's per-node
    distinct state is O(unique 2-hop neighbors) — on a hub that's millions of
    entries shuffled and held per group — while the sketch is a few KB per
    node at any degree, and partial (map-side) merge cuts the shuffled bytes
    by the same factor.  The exact op remains the oracle-checked twin."""
    und = cut_lineage(undirected_edges(edges))
    one = und.select(F.col("src").alias("id"), F.col("dst").alias("nb"))
    two = (
        one.alias("a")
        .join(und.alias("e"), F.col("a.nb") == F.col("e.src"))
        .select(F.col("a.id").alias("id"), F.col("e.dst").alias("nb"))
    )
    both = one.unionByName(two).filter(F.col("id") != F.col("nb"))
    return both.groupBy("id").agg(
        F.approx_count_distinct("nb", rsd).alias("n_neighbors_2hop_approx"))


def triangle_count_total(edges: DataFrame) -> DataFrame:
    """Total triangle count: orient edges low->high id, join twice (the
    standard shuffle-efficient formulation: each triangle counted once)."""
    und = undirected_edges(edges).filter(F.col("src") < F.col("dst"))
    ab = und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = und.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = und.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, on="b").join(ac, on=["a", "c"])
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def triangles_per_node(edges: DataFrame) -> DataFrame:
    """(id, n_triangles) for every node (0 for triangle-free nodes).

    Same oriented double-join as the total count (each triangle enumerated
    once as a<b<c), then each triangle credits its three vertices via one
    explode + count — an O(triangles) shuffle, not a per-node recount."""
    und = undirected_edges(edges).filter(F.col("src") < F.col("dst"))
    und = cut_lineage(und)
    ab = und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = und.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = und.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, on="b").join(ac, on=["a", "c"])
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    nodes = undirected_edges(edges).select(F.col("src").alias("id")).distinct()
    return nodes.join(per_node, "id", "left").select(
        "id", F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"))


def local_clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(id, degree, n_triangles, clustering): 2T / (d(d-1)), 0 where d < 2.
    One degree aggregate + the per-node triangle plan — both shuffle on the
    node id, so AQE can coalesce them into aligned exchanges.

    r12: the raw edge list is materialized once — the degree aggregate and
    the triangle plan otherwise each re-ran the caller's full edge
    derivation (8 parquet scans in the executed plan)."""
    edges = cut_lineage(edges.select("src", "dst"))
    tri = triangles_per_node(edges)
    deg = degrees(edges)
    joined = tri.join(deg, "id")
    d = F.col("degree").cast("double")
    return joined.select(
        "id", "degree", "n_triangles",
        F.round(
            F.when(F.col("degree") >= 2,
                   2.0 * F.col("n_triangles") / (d * (d - 1.0)))
            .otherwise(F.lit(0.0)), 6).alias("clustering"))


def _cc_driver_union_find(edges: DataFrame, edge_rows) -> DataFrame:
    """Union-find over a SMALL collected edge list — O(E α(E)) driver work.
    Labels each node with the MIN id of its component, exactly matching the
    distributed hash-min fixpoint; the output schema keeps the edge id
    type (string/int node ids both work)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in edge_rows:
        for n in (src, dst):
            if n not in parent:
                parent[n] = n
        ra, rb = find(src), find(dst)
        if ra != rb:
            # union by MIN id so every root IS its component's min label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    t = edges.schema["src"].dataType.simpleString()
    return edges.sparkSession.createDataFrame(
        rows, f"id {t}, component {t}")


def _two_phase_components(
    edges: DataFrame,
    max_iterations: int,
    checkpoint: bool,
    stats: dict | None = None,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014,
    'Connected Components in MapReduce and Beyond') — the high-diameter
    scale path: converges in O(log^2 n) alternating rounds regardless of
    graph diameter, where hash-min needs O(diameter) label-propagation
    hops (a 10M-hop path graph would mean 5M hash-min double-rounds but
    only ~25 star rounds).

    Each round is two edge rewrites, each ONE groupBy(min) + ONE join:

    - large-star: every node u computes m = min(neighbors ∪ {u}) and
      re-points its LARGER neighbors v > u at m — long chains collapse
      toward local minima in parallel;
    - small-star: keyed by the larger endpoint, every node re-points its
      smaller-or-equal neighborhood (and itself) at the local min —
      turning the forest into stars.

    At the fixpoint the edge set IS the star set {(v, component_min)}, so
    the labeling falls out of one final left join.  Convergence is
    checked exactly (same count + empty set difference): stopping early
    would label mid-collapse parents, so a sound check beats a cheap
    heuristic here.  ``stats['rounds']`` reports the round count for
    tests/telemetry."""
    E = (undirected_edges(edges)
         .filter(F.col("src") < F.col("dst"))
         .select("src", "dst"))
    if checkpoint:
        E = cut_lineage(E)
    # isolated nodes / full node set for the final labeling join
    all_nodes = undirected_edges(edges).select(
        F.col("src").alias("id")).distinct()
    if checkpoint:
        all_nodes = cut_lineage(all_nodes)

    def _min_over(keyed: DataFrame) -> DataFrame:
        return keyed.groupBy("u").agg(
            F.min(F.least(F.col("v"), F.col("u"))).alias("m"))

    def _large_star(e: DataFrame) -> DataFrame:
        nbrs = e.select(F.col("src").alias("u"), F.col("dst").alias("v")) \
            .unionByName(
                e.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        m = _min_over(nbrs)
        return (nbrs.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("src"), F.col("m").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
                .distinct())

    def _small_star(e: DataFrame) -> DataFrame:
        keyed = e.select(F.greatest("src", "dst").alias("u"),
                         F.least("src", "dst").alias("v"))
        m = _min_over(keyed)
        emit_nbrs = (keyed.join(m, "u")
                     .filter(F.col("v") != F.col("m"))
                     .select(F.col("v").alias("src"), F.col("m").alias("dst")))
        emit_self = (m.filter(F.col("u") != F.col("m"))
                     .select(F.col("u").alias("src"), F.col("m").alias("dst")))
        return (emit_nbrs.unionByName(emit_self)
                .filter(F.col("src") != F.col("dst"))
                .distinct())

    rounds = 0
    prev_count = None
    for _ in range(max_iterations):
        new_E = _small_star(_large_star(E))
        if checkpoint:
            new_E = cut_lineage(new_E)
        rounds += 1
        cnt = new_E.count()
        if prev_count == cnt and new_E.exceptAll(E).limit(1).count() == 0:
            E = new_E
            break
        prev_count, E = cnt, new_E
    if stats is not None:
        stats["rounds"] = rounds
    parents = E.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("component"))
    return all_nodes.join(parents, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component"))


def connected_components(
    edges: DataFrame,
    max_iterations: int = 60,
    checkpoint: bool = True,
    driver_threshold: int = 100_000,
    algorithm: str = "hash_min",
    stats: dict | None = None,
) -> DataFrame:
    # max_iterations is a runaway backstop, not a tuning knob: the loop
    # breaks on the convergence check, so a high cap costs nothing on benign
    # graphs while 60 double-rounds still cover a 120-hop label path
    # (hash-min needs diameter hops for the min label to reach the far end)
    """(id, component) where component = min node id reachable (undirected).

    Hash-min label propagation: each round every node takes the min of its
    own and its neighbors' labels; stop when no label changes.  One
    join + one aggregate per round, lineage cut by localCheckpoint.

    Graphs at or below ``driver_threshold`` distinct undirected edges run
    union-find on the driver instead (same gated-collect pattern as the
    knn query side): each distributed round costs ~1s of fixed job
    overhead regardless of size, and the common dedup-cluster input — the
    candidate-pair graph, tiny relative to the corpus — paid 3-16s of
    pure choreography for 3 driver-side milliseconds of work.  The edge
    count is known from the convergence machinery's first action anyway,
    the collect is bounded by the threshold, and both paths produce the
    IDENTICAL min-id labeling (union by min root).  Pass
    ``driver_threshold=0`` to force the distributed loop.

    ``algorithm``: ``"hash_min"`` (default — O(diameter) rounds, one
    join+aggregate each, right for the short-diameter candidate/social
    graphs the dedup pipeline produces) or ``"two_phase"`` (large-star/
    small-star, O(log^2 n) rounds independent of diameter — the 100-TB
    path for long-chain graphs; see :func:`_two_phase_components`).  Both
    share the gated driver fast path and the min-id labeling contract."""
    if algorithm not in ("hash_min", "two_phase"):
        raise ValueError(f"unknown CC algorithm: {algorithm!r}")
    und = undirected_edges(edges)
    if checkpoint:
        und = cut_lineage(und)
    if driver_threshold:
        # und holds both directions, so cap the collect at 2x threshold
        sample = und.limit(2 * driver_threshold + 1).collect()
        if len(sample) <= 2 * driver_threshold:
            if stats is not None:
                stats["rounds"] = 0  # driver fast path: no distributed rounds
            return _cc_driver_union_find(
                edges, [(r.src, r.dst) for r in sample])
    # Above the gate: ONE star-contraction round before iterating (r12).
    # Each node adopts rep = min(self, neighbors) — one aggregate — and
    # the graph is rewritten onto the representatives (two edge-list
    # joins + distinct).  Hash-min re-joins the FULL edge list every
    # round; contraction strictly SHRINKS it first: a near-clique
    # component (the dedup candidate-pair / DBSCAN core-graph shape)
    # collapses to zero or near-zero contracted edges, so the loop that
    # cost O(rounds x |E|) now runs on |E_contracted| << |E| — and when
    # the contracted graph fits the driver gate the loop disappears
    # entirely (dbscan at sf0.1: 103K clique edges -> 0 contracted,
    # 6.6s of distributed rounds -> one driver union-find).  Labels
    # compose exactly: component(n) = component_contracted(rep(n)), and
    # the global min node is its own rep, so min-id labeling is
    # preserved.  On low-degree chain graphs contraction shrinks little,
    # but its cost is ~one propagate round and it never changes results.
    reps = (und.groupBy("src").agg(F.min("dst").alias("_m"))
            .select(F.col("src").alias("_n"),
                    F.least("src", "_m").alias("_rep")))
    if checkpoint:
        reps = cut_lineage(reps)
    ce = (und
          .join(reps.select(F.col("_n").alias("src"),
                            F.col("_rep").alias("_ra")), "src")
          .join(reps.select(F.col("_n").alias("dst"),
                            F.col("_rep").alias("_rb")), "dst")
          .filter(F.col("_ra") != F.col("_rb"))
          .select(F.col("_ra").alias("src"), F.col("_rb").alias("dst"))
          .distinct())
    if checkpoint:
        ce = cut_lineage(ce)

    def _compose(comp: DataFrame) -> DataFrame:
        # comp labels the contracted node set; reps covers every node of
        # und.  A rep absent from comp heads a fully-contracted star and
        # is its own component.
        return (reps.join(comp.withColumnRenamed("id", "_rep"),
                          "_rep", "left")
                .select(F.col("_n").alias("id"),
                        F.coalesce("component", "_rep").alias("component")))

    if driver_threshold:
        sample = ce.limit(2 * driver_threshold + 1).collect()
        if len(sample) <= 2 * driver_threshold:
            if stats is not None:
                stats["rounds"] = 0
            return _compose(_cc_driver_union_find(
                edges, [(r.src, r.dst) for r in sample]))
    if algorithm == "two_phase":
        return _compose(
            _two_phase_components(ce, max_iterations, checkpoint, stats))
    und = ce
    labels = und.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id"))
    if checkpoint:
        labels = cut_lineage(labels)
    # labels decrease monotonically per node, so sum(component) strictly
    # decreases every round until the fixpoint — convergence detection is
    # ONE cheap aggregate on the (checkpointed) labels, no old-vs-new join.
    def _propagate(lbl: DataFrame) -> DataFrame:
        nbr_min = (
            und.join(lbl, und.dst == lbl.id)
            .groupBy(und.src.alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        return lbl.join(nbr_min, on="id", how="left").select(
            "id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )

    prev_sum = None
    rounds = 0
    for _ in range(max_iterations):
        # TWO propagation steps per checkpoint/convergence round: labels
        # travel 2 hops per driver round-trip, halving the number of eager
        # materializations + collects — the per-round fixed cost dominates
        # on small diameters, and each lazy double-step is still one job.
        # Fixpoint detection stays valid: each step is per-node
        # non-increasing, so an unchanged sum after a double step implies
        # both steps changed nothing.
        new_labels = _propagate(_propagate(labels))
        if checkpoint:
            new_labels = cut_lineage(new_labels)
        cur_sum = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]
        labels = new_labels
        rounds += 1
        if cur_sum is None:  # contraction emptied the graph: fixpoint
            break
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    if stats is not None:
        stats["rounds"] = rounds
    return _compose(labels)


def label_propagation(
    edges: DataFrame,
    iterations: int = 2,
    checkpoint: bool = True,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA): labels init
    to the node id; each round EVERY node simultaneously adopts the most
    frequent label among its neighbors, ties broken by the smallest label.

    Synchronous update + deterministic tiebreak makes the result a pure
    function of the graph (async LPA — what networkx ships — is
    order-dependent), so a fixed-iteration run has an exact unrolled-SQL
    oracle.  Per round: one join (neighbor labels, shuffled on the edge
    key) + one (id, label) count aggregate + one top-1 window over the
    count table — the same per-round cost envelope as hash-min connected
    components; lineage cut per round so plans stay flat at any iteration
    count.  Returns (id, community)."""
    und = undirected_edges(edges)
    if checkpoint:
        und = cut_lineage(und)
    labels = und.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id"))
    from pyspark.sql.window import Window

    for _ in range(iterations):
        counts = (
            und.join(labels, und.dst == labels.id)
            .groupBy(und.src.alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("id").orderBy(F.col("c").desc(),
                                             F.col("label").asc())
        labels = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("id", "label")
        )
        if checkpoint:
            labels = cut_lineage(labels)
    return labels.select("id", F.col("label").alias("community"))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    checkpoint: bool = True,
    und: DataFrame | None = None,
) -> DataFrame:
    """(id, hops): shortest undirected hop distance from any source node,
    capped at ``max_hops`` (multi-source BFS / k-hop reachability).

    Frontier expansion: each round joins the edge set against ONLY the
    newest frontier (not the whole visited set), anti-joins out already-
    visited nodes, and unions the survivors in at distance h.  Work per
    round is proportional to the frontier's edge boundary — the standard
    scalable BFS shape; lineage is cut per round (reliable checkpoint when
    ``KIARA_SPARK_CHECKPOINT_DIR`` is set, else localCheckpoint).

    Reference parity: kiara's network_graph plugin surface (SURVEY §2.3);
    complements connected_components/pagerank with distance queries.
    """
    from ..io import cut_lineage

    # r12: callers running several sweeps over the same graph pass the
    # already-undirected, already-checkpointed edge set via ``und`` so it
    # is materialized once, not once per sweep (guide §1.2).
    if und is None:
        und = undirected_edges(edges)
        if checkpoint:
            und = cut_lineage(und)
    visited = sources.select(F.col(sources.columns[0]).alias("id")).distinct() \
        .withColumn("hops", F.lit(0).cast("bigint"))
    if checkpoint:
        visited = cut_lineage(visited)
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            und.join(frontier, und.src == frontier.id)
            .select(F.col("dst").alias("id")).distinct()
            .join(visited, "id", "left_anti")
            .withColumn("hops", F.lit(h).cast("bigint"))
        )
        if checkpoint:
            nxt = cut_lineage(nxt)
        if nxt.isEmpty():
            break
        # r12: visited is a FLAT union of already-checkpointed frontiers —
        # its lineage never deepens, so re-checkpointing it each round was
        # a full O(|visited|) block rewrite per round for nothing (the
        # anti-join reads the same checkpointed blocks either way).
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def landmark_centrality(
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Landmark-based closeness + harmonic centrality — the scalable
    estimator for the classically O(n·m) centralities (pick k landmarks,
    run ONE multi-source BFS carrying the landmark id, aggregate distances
    per node; Potamias et al. 2009's sketch, here with the deterministic
    landmark set supplied by the caller).

    Per-round work is the frontier's edge boundary per landmark (the
    ``bfs_hops`` shape with a composite (landmark, node) visited key);
    k · |V| state upper-bounds the whole run, so k is the accuracy/cost
    dial — at 100 TB pick k ~ hundreds, never all-pairs.  Distances cap at
    ``max_hops`` (the oracle-checkable horizon; unreached pairs simply
    don't contribute, exactly like the recursive-SQL twin).

    Returns per reachable node (self-distances excluded):
    (id, n_reached, sum_dist, closeness = n/Σd, harmonic = Σ 1/d) — the
    harmonic sum accumulates round-9 decimal terms so both engines agree
    bit-for-bit.  Reference parity: network_graph centrality surface
    (degrees/PageRank/HITS exist; this adds the distance-based pair)."""
    from ..io import cut_lineage

    und = undirected_edges(edges)
    if checkpoint:
        und = cut_lineage(und)
    visited = (landmarks.select(F.col(landmarks.columns[0]).alias("lm"))
               .distinct()
               .select("lm", F.col("lm").alias("id"),
                       F.lit(0).cast("bigint").alias("hops")))
    if checkpoint:
        visited = cut_lineage(visited)
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            und.join(frontier, und.src == frontier.id)
            .select("lm", F.col("dst").alias("id")).distinct()
            .join(visited, ["lm", "id"], "left_anti")
            .withColumn("hops", F.lit(h).cast("bigint"))
        )
        if checkpoint:
            nxt = cut_lineage(nxt)
        if nxt.isEmpty():
            break
        # r12: flat union of checkpointed frontiers — no per-round
        # re-checkpoint of the whole visited set (see bfs_hops)
        visited = visited.unionByName(nxt)
        frontier = nxt
    f = visited.filter(F.col("hops") > 0)
    return f.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        F.sum("hops").cast("bigint").alias("sum_dist"),
        F.round(F.count(F.lit(1)).cast("double")
                / F.sum("hops").cast("double"), 6).alias("closeness"),
        F.round(F.sum(F.round(F.lit(1.0) / F.col("hops").cast("double"), 9)
                      .cast("decimal(38,12)")).cast("double"), 6)
        .alias("harmonic"))


def diameter_double_sweep(
    edges: DataFrame,
    max_hops: int = 6,
) -> DataFrame:
    """Graph diameter LOWER BOUND by the classic double-sweep heuristic
    (Magnien et al. 2009 — typically exact or near-exact on real-world
    graphs, at the cost of TWO BFS runs instead of all-pairs):

    sweep 1: BFS from the minimum node id; take the farthest reached node
    (max distance, min id tie-break).  sweep 2: BFS from that node; its
    eccentricity is the bound.

    Both sweeps are the engine's frontier-only BFS; the sweep-1 argmax
    stays IN-PLAN as a 1-row frame that seeds sweep 2 (nothing collects to
    the driver).  Distances cap at ``max_hops`` — if the bound equals the
    cap the true diameter may exceed it (flagged in the output).  Returns
    1 row: (start_node, far_node, diameter_lb, capped)."""
    from ..io import cut_lineage

    # r12: ONE checkpointed undirected edge set shared by the start-node
    # probe and both sweeps — this ran undirected_edges 3x (once per bfs
    # call + once raw for the start argmin, the latter re-executing the
    # full union+distinct every time `start` was evaluated).
    und = cut_lineage(undirected_edges(edges))
    start = und.agg(F.min("src").alias("id"))
    d1 = bfs_hops(edges, start, max_hops=max_hops, und=und)
    far = d1.groupBy().agg(
        F.min(F.struct((-F.col("hops")).alias("nh"),
                       F.col("id").alias("i"),
                       F.col("hops").alias("h"))).alias("_f")) \
        .select(F.col("_f.i").alias("id"))
    d2 = bfs_hops(edges, far, max_hops=max_hops, und=und)
    ecc = d2.groupBy().agg(
        F.min(F.struct((-F.col("hops")).alias("nh"),
                       F.col("id").alias("i"),
                       F.col("hops").alias("h"))).alias("_e"))
    return (start.withColumnRenamed("id", "start_node")
            .crossJoin(F.broadcast(far.withColumnRenamed("id", "far_node")))
            .crossJoin(F.broadcast(ecc))
            .select(F.col("start_node").cast("bigint"),
                    F.col("far_node").cast("bigint"),
                    F.col("_e.h").cast("bigint").alias("diameter_lb"),
                    (F.col("_e.h") >= max_hops).alias("capped")))


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Iterative k-core peeling: repeatedly remove nodes with degree < ``k``
    (degree counted within the surviving subgraph) for ``rounds`` rounds,
    then return the surviving nodes with their in-core degree — the standard
    dense-subgraph/spam-farm filter.

    The round count is FIXED so the result is a pure function of the graph
    ("the subgraph after N peels", converging to the true k-core as rounds
    grow) and an unrolled SQL twin can verify it exactly.  Per round: two
    semi-join restrictions of the edge list to surviving endpoints + one
    degree aggregate — all shuffles keyed on node id; the alive set only
    shrinks, so per-round work is monotonically non-increasing.  Lineage is
    cut per round (reliable checkpoint when ``KIARA_SPARK_CHECKPOINT_DIR``
    is set, else localCheckpoint)."""
    und = undirected_edges(edges)
    if checkpoint:
        und = cut_lineage(und)
    alive = und.select(F.col("src").alias("id")).distinct()

    def alive_degrees(a: DataFrame) -> DataFrame:
        kept = (
            und.join(a.select(F.col("id").alias("src")), "src")
            .join(a.select(F.col("id").alias("dst")), "dst")
        )
        return kept.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("bigint").alias("degree"))

    for _ in range(rounds):
        alive = alive_degrees(alive).filter(F.col("degree") >= k).select("id")
        if checkpoint:
            alive = cut_lineage(alive)
    return alive_degrees(alive)


def _edge_support(oriented: DataFrame) -> DataFrame:
    """(src, dst, support) = triangles through each oriented (src<dst)
    edge.  One oriented double-join enumerates each triangle once (a<b<c),
    then each triangle credits its three edges via union+count — an
    O(triangles) shuffle.  Edges in no triangle are absent (support 0)."""
    ab = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, on="b").join(ac, on=["a", "c"])
    pairs = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
        .unionAll(tri.select(F.col("a").alias("src"), F.col("c").alias("dst"))))
    return pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("support"))


def ktruss_prune(
    edges: DataFrame,
    k: int = 4,
    rounds: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Iterative k-truss prune (Cohen 2008): repeatedly drop edges in
    fewer than ``k−2`` triangles (support counted within the surviving
    subgraph) for ``rounds`` rounds, then return survivors with their
    in-truss support — the edge-level cohesive-subgraph filter (stricter
    than k-core: cores bound degree, trusses bound *shared* neighbors, so
    trusses reject hub-spoke spam that cores admit).

    Like :func:`kcore_peel`, the round count is FIXED so the result is a
    pure function of the graph (converging to the true k-truss as rounds
    grow) and an unrolled SQL twin verifies it exactly.  Per round: one
    oriented triangle enumeration + one edge-keyed aggregate + one inner
    join — all shuffles on edge keys, edge set only shrinks, lineage cut
    per round (reliable checkpoint when KIARA_SPARK_CHECKPOINT_DIR is
    set).  Returns (src, dst, support), src < dst."""
    e = undirected_edges(edges).filter(F.col("src") < F.col("dst"))
    if checkpoint:
        e = cut_lineage(e)
    for _ in range(rounds):
        sup = _edge_support(e)
        e = (e.join(sup, ["src", "dst"])
             .filter(F.col("support") >= k - 2)
             .select("src", "dst"))
        if checkpoint:
            e = cut_lineage(e)
    return (e.join(_edge_support(e), ["src", "dst"], "left")
            .select("src", "dst",
                    F.coalesce("support", F.lit(0)).cast("bigint")
                    .alias("support")))


def link_prediction(
    edges: DataFrame,
    top_k: int = 100,
    min_common: int = 2,
) -> DataFrame:
    """Neighborhood-based link prediction (Liben-Nowell & Kleinberg 2003):
    score non-adjacent node pairs by common neighbors, Adamic-Adar
    (Σ 1/ln(deg z) over shared neighbors z — rare mutual friends weigh
    more), and preferential attachment (deg a · deg b); return the
    ``top_k`` candidates by Adamic-Adar — the classic
    friend-of-friend / who-to-follow recommender.

    Plan: ONE wedge join through the shared neighbor (z keyed — the same
    shuffle shape as triangle counting; hub z fan-out is the quadratic to
    watch, same mitigation as `bipartite_project`'s hub guard: the
    ``min_common`` prune drops the long tail before the anti-join), then
    an anti-join against the edge list to keep NON-edges only, one
    aggregate per candidate pair, distributed top-k.  Adamic-Adar terms
    round to 9dp into decimal-exact sums.  Returns
    (src, dst, common_neighbors, adamic_adar, pref_attachment)."""
    und = undirected_edges(edges)
    und = cut_lineage(und)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree"))
    # wedge a - z - b (a < b): both legs oriented OUT of z
    za = und.select(F.col("src").alias("z"), F.col("dst").alias("a"))
    zb = und.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    wedges = (za.join(zb, "z").filter(F.col("a") < F.col("b"))
              .join(deg.select(F.col("id").alias("z"),
                               F.col("degree").alias("_dz")), "z"))
    aa_term = F.round(F.lit(1.0) / F.log(F.col("_dz").cast("double")), 9) \
        .cast("decimal(38,12)")
    cand = (wedges.groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
                 F.sum(aa_term).alias("_aa"))
            .filter(F.col("common_neighbors") >= min_common))
    existing = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b"))
    non_edges = cand.join(existing, ["a", "b"], "left_anti")
    scored = (
        non_edges
        .join(deg.select(F.col("id").alias("a"),
                         F.col("degree").alias("_da")), "a")
        .join(deg.select(F.col("id").alias("b"),
                         F.col("degree").alias("_db")), "b")
        .select(F.col("a").alias("src"), F.col("b").alias("dst"),
                "common_neighbors",
                F.round(F.col("_aa").cast("double"), 6).alias("adamic_adar"),
                (F.col("_da") * F.col("_db")).cast("bigint")
                .alias("pref_attachment")))
    return scored.orderBy(F.col("adamic_adar").desc(), "src", "dst") \
        .limit(top_k)


def shortest_paths_weighted(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "weight",
    rounds: int = 4,
    checkpoint: bool = True,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(id, dist): minimum-weight undirected distance from any source node
    over paths of at most ``rounds`` edges — synchronous Bellman-Ford
    relaxation, the distributable form of Dijkstra (priority queues do not
    shard; per-round full relaxation does).

    Per round: join the current distance table against the edge list on the
    source endpoint, add the edge weight, and keep the per-node minimum of
    old and candidate distances — one join + one hash aggregate per round,
    both shuffled on the node id.  The round count is FIXED (no convergence
    collect), so the result is a pure function of the graph: exactly
    "cheapest path using ≤ rounds hops", which an unrolled SQL twin can
    verify bit-for-bit.  Weights accumulate as DECIMAL(38,6) — exact
    addition and min, so distances never depend on partitioning.

    Lineage is cut per round (reliable checkpoint when
    ``KIARA_SPARK_CHECKPOINT_DIR`` is set, else localCheckpoint) — without
    the cut, round k's plan would embed k joins and k aggregates.

    Reference parity: extends the network_graph family (SURVEY §2.3) beyond
    hop-count BFS (``bfs_hops``) to weighted distances."""
    w_dec = F.col(weight_col).cast("decimal(38,6)")
    fwd = edges.select("src", "dst", w_dec.alias("_w"))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                       w_dec.alias("_w"))
    und = (
        fwd.unionByName(rev)
        # NULL weights cannot relax anything: drop them up front so the
        # driver fast path and the distributed loop agree (an all-NULL
        # (src,dst) group would otherwise surface as a dist=NULL row in
        # the distributed output and a TypeError in the driver loop)
        .filter(F.col("_w").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst").agg(F.min("_w").alias("_w"))
    )
    if checkpoint:
        und = cut_lineage(und)
    if driver_threshold:
        # same gated driver fast path as connected_components: each
        # distributed round is a join + aggregate with ~1s fixed overhead;
        # small graphs (the common candidate-graph input) run the identical
        # synchronous relaxation over the collected edge list.  Weights
        # collect as Python Decimal — exact addition and min, matching the
        # DECIMAL(38,6) arithmetic of the distributed loop bit-for-bit.
        sample = und.limit(driver_threshold + 1).collect()
        if len(sample) <= driver_threshold:
            from decimal import Decimal

            srcs = [r[0] for r in
                    sources.select(sources.columns[0]).distinct().collect()]
            ddist = {s: Decimal(0) for s in srcs}
            # NULL _w (all weights in a (src,dst) group NULL) must be
            # skipped — the distributed path's F.min silently drops the
            # NULL candidate distance, so the driver loop must too.
            adj = [(r.src, r.dst, r._w) for r in sample if r._w is not None]
            for _ in range(rounds):
                new = dict(ddist)
                for u, v, w in adj:
                    if u in ddist:
                        cand = ddist[u] + w
                        if v not in new or cand < new[v]:
                            new[v] = cand
                ddist = new
            t = edges.schema["src"].dataType.simpleString()
            return edges.sparkSession.createDataFrame(
                [(k, float(v)) for k, v in ddist.items()],
                f"id {t}, dist double")
    dist = (
        sources.select(F.col(sources.columns[0]).alias("id")).distinct()
        .withColumn("dist", F.lit(0).cast("decimal(38,6)"))
    )
    for _ in range(rounds):
        cand = und.join(dist, und.src == dist.id).select(
            F.col("dst").alias("id"),
            (F.col("dist") + F.col("_w")).alias("dist"))
        dist = (
            dist.unionByName(cand)
            .groupBy("id").agg(F.min("dist").alias("dist"))
        )
        if checkpoint:
            dist = cut_lineage(dist)
    return dist.select("id", F.col("dist").cast("double").alias("dist"))


def _scc_driver_tarjan(edges: DataFrame, edge_rows) -> DataFrame:
    """Iterative Tarjan over a SMALL collected edge list; labels each node
    with the MIN id of its strongly connected component — the identical
    contract as the distributed coloring path."""
    adj: dict = {}
    nodes: set = set()
    for s, d in edge_rows:
        nodes.add(s)
        nodes.add(d)
        adj.setdefault(s, []).append(d)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    label: dict = {}
    counter = [0]
    for root in sorted(nodes):
        if root in index:
            continue
        # explicit work stack — recursion would blow on long chains
        work = [(root, iter(adj.get(root, ())))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    label[w] = m
    t = edges.schema["src"].dataType.simpleString()
    return edges.sparkSession.createDataFrame(
        sorted(label.items()), f"id {t}, component {t}")


def strongly_connected_components(
    edges: DataFrame,
    max_peel_rounds: int = 20,
    propagate_rounds: int = 20,
    checkpoint: bool = True,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(id, component) for DIRECTED graphs: component = min node id in the
    node's strongly connected component — the directed sibling of
    :func:`connected_components` (which treats edges as undirected and
    would merge A->B->A with A->C).

    Distributed algorithm — iterative forward/backward min-label coloring
    (the classic MapReduce SCC decomposition):

    1. ``fwd(v)`` = min id that can REACH v, ``bwd(v)`` = min id REACHABLE
       FROM v — two independent min-label propagations (one join + one
       aggregate per hop, same plan shape as hash-min CC; the backward
       pass just runs on reversed edges);
    2. ``fwd(v) == bwd(v) == m`` proves ``m ->* v`` and ``v ->* m``, i.e.
       v ∈ SCC(m) — those nodes are DONE with component m;
    3. peel the finished nodes out and repeat on the remainder: each round
       finishes at least the SCC of the remaining global min (in practice
       many SCCs whose labels coincide), so rounds ≤ #SCC with a
       ``max_peel_rounds`` backstop that RAISES rather than mislabel.

    Small graphs take the gated driver Tarjan fast path (bounded collect,
    identical min-id labeling) exactly like CC/SSSP; pass
    ``driver_threshold=0`` to force the distributed loop."""
    e_all = (edges.select("src", "dst")
             .filter(F.col("src") != F.col("dst")).distinct())
    if checkpoint:
        e_all = cut_lineage(e_all)
    if driver_threshold:
        sample = e_all.limit(driver_threshold + 1).collect()
        if len(sample) <= driver_threshold:
            return _scc_driver_tarjan(
                edges, [(r.src, r.dst) for r in sample])

    spark = edges.sparkSession
    all_nodes = (e_all.select(F.col("src").alias("id"))
                 .unionByName(e_all.select(F.col("dst").alias("id")))
                 .distinct())
    if checkpoint:
        all_nodes = cut_lineage(all_nodes)

    def _min_reach(nodes: DataFrame, e: DataFrame) -> DataFrame:
        """labels(id, lbl): min id with a directed path TO id (incl. id),
        by hash-min propagation along e with sum-convergence."""
        lbl = nodes.withColumn("lbl", F.col("id"))
        prev_sum = None
        for _ in range(propagate_rounds):
            cand = (e.join(lbl, e.src == lbl.id)
                    .select(F.col("dst").alias("id"), F.col("lbl")))
            new = (lbl.unionByName(cand)
                   .groupBy("id").agg(F.min("lbl").alias("lbl")))
            if checkpoint:
                new = cut_lineage(new)
            cur = new.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))
                          ).collect()[0][0]
            lbl = new
            if prev_sum is not None and cur == prev_sum:
                break
            prev_sum = cur
        return lbl

    remaining_nodes = all_nodes
    e = e_all
    done_parts: list[DataFrame] = []
    for _ in range(max_peel_rounds):
        if remaining_nodes.limit(1).count() == 0:
            break
        fwd = _min_reach(remaining_nodes, e)
        bwd = _min_reach(
            remaining_nodes,
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        joined = (fwd.withColumnRenamed("lbl", "_f")
                  .join(bwd.withColumnRenamed("lbl", "_b"), "id"))
        done = (joined.filter(F.col("_f") == F.col("_b"))
                .select("id", F.col("_f").alias("component")))
        if checkpoint:
            done = cut_lineage(done)
        done_parts.append(done)
        remaining_nodes = (remaining_nodes
                           .join(done.select("id"), "id", "left_anti"))
        if checkpoint:
            remaining_nodes = cut_lineage(remaining_nodes)
        e = (e.join(done.select(F.col("id").alias("src")), "src", "left_anti")
             .join(done.select(F.col("id").alias("dst")), "dst", "left_anti")
             .select("src", "dst"))
        if checkpoint:
            e = cut_lineage(e)
    else:
        if remaining_nodes.limit(1).count() > 0:
            raise RuntimeError(
                f"strongly_connected_components: {max_peel_rounds} peel "
                f"rounds did not finish the graph (long SCC condensation "
                f"chain); raise max_peel_rounds")
    if not done_parts:  # edgeless graph: no nodes, empty result
        return all_nodes.withColumn("component", F.col("id")).limit(0)
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out


def pagerank(edges: DataFrame, iterations: int = 3, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list: (id, rank).

    ``rank_{k+1}(v) = (1-d)/N + d * sum_{u->v} rank_k(u)/outdeg(u)``
    (dangling mass dropped, the standard simple variant).

    Cross-engine bit-stability (so a SQL oracle can verify it exactly):
    every per-edge contribution is a double division (deterministic IEEE),
    then SUMMED AS DECIMAL(38,18) — decimal addition is exact, so the
    result never depends on partitioning or accumulation order — and cast
    back to double only once per iteration.  N rides along as a column
    (cross join with a 1-row count) so both engines divide the same values.

    Plan shape per iteration: one join edges->ranks on src (ranks are one
    row per node — broadcastable for modest graphs; at web scale both sides
    hash-partition on the join key), one hash aggregate on dst.  The
    iteration count is fixed, so the whole computation is ``iterations``
    shuffle rounds — no convergence collect in the loop.

    r12: the edge list is materialized ONCE with its out-degree already
    attached (cut_lineage) — previously every iteration re-derived
    ``distinct()`` + re-joined the out-degree aggregate, so the unfolded
    plan embedded the edge subtree twice per round (20 scans / 33
    exchanges at 3 iterations; callers passing a derived edge set, e.g.
    textrank's tokenize->explode pipeline, re-executed THAT per
    reference).  Contributions are unchanged doubles divided then summed
    as exact decimal, so results are bit-identical."""
    e = cut_lineage(edges.select("src", "dst").distinct())
    nodes = cut_lineage(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id"))).distinct())
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    outdeg = e.groupBy(F.col("src").alias("_od_src")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_outdeg"))
    e_od = cut_lineage(
        e.join(outdeg, e.src == F.col("_od_src"))
        .select("src", "dst", "_outdeg"))
    base = nodes.crossJoin(F.broadcast(nn))
    ranks = base.select("id", "_n", (F.lit(1.0) / F.col("_n")).alias("rank"))
    for _ in range(iterations):
        contribs = (
            e_od.join(ranks.select(F.col("id").alias("_r_id"), "rank"),
                      e_od.src == F.col("_r_id"))
            .select(F.col("dst").alias("id"),
                    (F.col("rank") / F.col("_outdeg"))
                    .cast("decimal(38,18)").alias("_c"))
        )
        sums = contribs.groupBy("id").agg(F.sum("_c").alias("_s"))
        ranks = base.join(sums, "id", "left").select(
            "id", "_n",
            (F.lit(1.0 - damping) / F.col("_n")
             + F.lit(damping)
             * F.coalesce(F.col("_s").cast("double"), F.lit(0.0))).alias("rank"),
        )
    return ranks.select("id", "rank")


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleportation jumps to the SEED SET instead of
    uniformly — ranks measure proximity to the seeds (recommendation /
    related-entity scoring), not global importance.

        rank_{k+1}(v) = (1-d)·tele(v) + d·Σ_{u→v} rank_k(u)/outdeg(u)
        tele(v) = 1/|S| for seeds, 0 elsewhere; rank_0 = tele

    Same bit-stability contract as ``pagerank`` (double divisions, exact
    DECIMAL(38,18) contribution sums, fixed iterations, no convergence
    collect); the teleport vector is one extra left-join against the seed
    set, computed once and reused every round.  Mass leaks through
    dangling/non-seed paths exactly as in the simple variant — the standard
    unnormalized formulation a SQL twin can reproduce.

    r12: same edge-materialization change as :func:`pagerank` — one
    checkpointed (src, dst, outdeg) set shared by all iterations instead
    of a re-derived distinct + out-degree join per round."""
    e = cut_lineage(edges.select("src", "dst").distinct())
    s = cut_lineage(seeds.select(F.col(seeds.columns[0]).alias("id")).distinct())
    # the seed count both guards the 1/|S| teleport AND re-enters the plan
    # as a literal — one action, no count-aggregate crossJoin per build
    n_seeds = s.count()
    if n_seeds == 0:
        raise ValueError("pagerank_personalized: empty seed set "
                         "(teleport mass 1/|S| is undefined)")
    # union seeds INTO the node set: a seed absent from the edge list is an
    # isolated node that must still hold its (1-d)·tele rank — dropping it
    # silently loses teleport mass (r2 ADVICE)
    nodes = cut_lineage(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .unionByName(s).distinct())
    base = (
        nodes.join(s.withColumn("_is_seed", F.lit(1)), "id", "left")
        .select("id", F.when(F.col("_is_seed").isNotNull(),
                             F.lit(1.0) / F.lit(float(n_seeds)))
                .otherwise(F.lit(0.0)).alias("tele"))
    )
    base = cut_lineage(base)
    outdeg = e.groupBy(F.col("src").alias("_od_src")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_outdeg"))
    e_od = cut_lineage(
        e.join(outdeg, e.src == F.col("_od_src"))
        .select("src", "dst", "_outdeg"))
    ranks = base.select("id", F.col("tele").alias("rank"))
    for _ in range(iterations):
        contribs = (
            e_od.join(ranks.select(F.col("id").alias("_r_id"), "rank"),
                      e_od.src == F.col("_r_id"))
            .select(F.col("dst").alias("id"),
                    (F.col("rank") / F.col("_outdeg"))
                    .cast("decimal(38,18)").alias("_c"))
        )
        sums = contribs.groupBy("id").agg(F.sum("_c").alias("_s"))
        ranks = base.join(sums, "id", "left").select(
            "id",
            (F.lit(1.0 - damping) * F.col("tele")
             + F.lit(damping)
             * F.coalesce(F.col("_s").cast("double"), F.lit(0.0)))
            .alias("rank"),
        )
    return ranks.select("id", "rank")


def hits(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) over a directed edge list:
    (id, hub, authority), L1-normalized after every half-step.

    Update rule per iteration (the standard alternating form):
      ``auth'(v) = sum_{u->v} hub(u)``, normalize so sum(auth)=1;
      ``hub'(u)  = sum_{u->v} auth'(v)``, normalize so sum(hub)=1.

    Cross-engine bit-stability (same discipline as :func:`pagerank`):
    per-edge contributions cast to DECIMAL(38,18) before SUM — exact,
    order-independent — and the normalizing divide happens in double
    (decimal/decimal division scales differ between engines).  Nodes with
    no in-edges (resp. out-edges) keep authority (resp. hub) 0.

    Plan shape per iteration: two (join on one endpoint + hash aggregate on
    the other) rounds plus two broadcast 1-row totals — ``2*iterations``
    shuffle rounds total, no driver collection, no convergence check; at
    web scale both join sides hash-partition on the key exactly like the
    pagerank plan.

    r12: each half-step's contribution-sum frame (one row per node) is
    materialized with cut_lineage before it fans out.  ``auth_sums`` is
    consumed by BOTH its normalizing total and the auth join, and the
    normalized ``auth`` feeds both the hub half-step and the final
    scores join — without the cut, every reference re-embedded the whole
    upstream subtree and the unfolded 2-iteration plan reached 1146
    nodes / 268 exchanges / 138 scans (planning cost alone is
    super-linear in that, and on a cluster nothing guarantees exchange
    reuse across the duplicated subtrees).  The decimal sums are
    partition-order exact, so materialization cannot change a bit."""
    e = cut_lineage(edges.select("src", "dst").distinct())
    nodes = cut_lineage(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id"))).distinct())
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    base = nodes.crossJoin(F.broadcast(nn))
    scores = base.select(
        "id", (F.lit(1.0) / F.col("_n")).alias("hub"),
        (F.lit(1.0) / F.col("_n")).alias("authority"))
    for _ in range(iterations):
        auth_sums = cut_lineage(
            e.join(scores.select(F.col("id").alias("_h_id"), "hub"),
                   e.src == F.col("_h_id"))
            .select(F.col("dst").alias("id"),
                    F.col("hub").cast("decimal(38,18)").alias("_c"))
            .groupBy("id").agg(F.sum("_c").alias("_a")))
        a_tot = auth_sums.agg(
            F.sum("_a").cast("double").alias("_at"))
        auth = (nodes.join(auth_sums, "id", "left")
                .crossJoin(F.broadcast(a_tot))
                .select("id",
                        F.when(F.col("_at") > 0,
                               F.coalesce(F.col("_a").cast("double"),
                                          F.lit(0.0)) / F.col("_at"))
                        .otherwise(F.lit(0.0)).alias("authority")))
        hub_sums = cut_lineage(
            e.join(auth.select(F.col("id").alias("_a_id"), "authority"),
                   e.dst == F.col("_a_id"))
            .select(F.col("src").alias("id"),
                    F.col("authority").cast("decimal(38,18)").alias("_c"))
            .groupBy("id").agg(F.sum("_c").alias("_h")))
        h_tot = hub_sums.agg(F.sum("_h").cast("double").alias("_ht"))
        scores = (nodes.join(hub_sums, "id", "left")
                  .crossJoin(F.broadcast(h_tot))
                  .join(auth, "id")
                  .select("id",
                          F.when(F.col("_ht") > 0,
                                 F.coalesce(F.col("_h").cast("double"),
                                            F.lit(0.0)) / F.col("_ht"))
                          .otherwise(F.lit(0.0)).alias("hub"),
                          "authority"))
    return scores.select("id", "hub", "authority")


def node_similarity_jaccard(
    edges: DataFrame,
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Neighbor-set Jaccard similarity for every node pair sharing at least
    ``min_common`` undirected neighbors: (id_a, id_b, n_common, jaccard)
    with id_a < id_b, ``jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|``.

    The classic link-prediction / role-equivalence score.  Plan shape:
    candidate pairs come from ONE self-join of the adjacency list on the
    shared neighbor (only pairs with a common neighbor ever materialize —
    the N² pair space doesn't), then a (pair)-key count and two degree
    joins; the division is a plain double op so both engines agree
    bit-for-bit without rounding.

    Scale note: the common-neighbor join fans out deg(v)² pair rows PER
    SHARED NEIGHBOR v — a hub shared neighbor of degree D is a single
    join-key block of D² pairs, exactly like
    :func:`neighbors_within_2_hops`.  ``max_degree`` therefore prunes
    hub nodes from BOTH roles in candidate generation: as the shared
    neighbor (the quadratic block — this is what bounds the worst block
    at O(cap²)) and as a pair member (hub pairs are noise in link
    prediction anyway).  At 100 TB you always set it (or pre-filter the
    graph).  Jaccard denominators still use FULL degrees."""
    und = cut_lineage(undirected_edges(edges))
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_deg"))
    adj = und.select(F.col("dst").alias("_nb"), F.col("src").alias("_id"))
    if max_degree is not None:
        small = deg.filter(F.col("_deg") <= max_degree)
        adj = (adj
               .join(small.select(F.col("id").alias("_id")), "_id")
               .join(small.select(F.col("id").alias("_nb")), "_nb"))
    a = adj.select(F.col("_nb"), F.col("_id").alias("id_a"))
    b = adj.select(F.col("_nb"), F.col("_id").alias("id_b"))
    common = (
        a.join(b, "_nb").filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .filter(F.col("n_common") >= min_common))
    return (
        common
        .join(deg.select(F.col("id").alias("id_a"),
                         F.col("_deg").alias("_deg_a")), "id_a")
        .join(deg.select(F.col("id").alias("id_b"),
                         F.col("_deg").alias("_deg_b")), "id_b")
        .select("id_a", "id_b", "n_common",
                (F.col("n_common").cast("double")
                 / (F.col("_deg_a") + F.col("_deg_b") - F.col("n_common")))
                .alias("jaccard")))


def random_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_node: int = 2,
) -> DataFrame:
    """Deterministic uniform random walks over the undirected graph — the
    DeepWalk/node2vec corpus-preparation step (Perozzi et al. 2014), with
    the random stream replaced by a per-(start, walk, step, node) hash so
    the walk set is a pure function of the graph (reproducible on any
    engine; the statistical role of the hash matches the usual PRNG).

    Step rule: from node ``v`` at step ``t`` of walk ``w`` started at
    ``s``, move to the ``(base_hash32(s_w_t_v) mod deg(v))``-th neighbor
    of ``v`` in ascending-id order.

    Scale shape: neighbors are INDEXED, not collected — one row_number
    window ranks each adjacency edge, and every step is two hash joins
    ((cur -> degree) then (cur, idx -> neighbor)) — no per-node arrays,
    so hub nodes cost O(deg) rows instead of an O(deg) array payload
    replicated into every walk.  ``walk_length`` fixed joins total, no
    driver loop.  Returns (start, walk, step, node) long form."""
    from .text import base_hash32

    und = cut_lineage(undirected_edges(edges))
    wdeg = Window.partitionBy("src").orderBy("dst")
    adj = und.select(
        F.col("src").alias("_v"), F.col("dst").alias("_nb"),
        F.row_number().over(wdeg).cast("bigint").alias("_idx"))
    adj = cut_lineage(adj)
    deg = adj.groupBy("_v").agg(F.max("_idx").alias("_deg"))
    state = (deg.select(F.col("_v").alias("start"))
             .select("start",
                     F.explode(F.sequence(
                         F.lit(0), F.lit(walks_per_node - 1))).alias("walk"))
             .withColumn("node", F.col("start"))
             .withColumn("path", F.array(F.col("start"))))
    for t in range(1, walk_length):
        key = F.concat_ws("_", F.col("start"), F.col("walk"), F.lit(t),
                          F.col("node"))
        state = (
            state.join(deg, state.node == deg._v)
            .withColumn("_i", F.pmod(base_hash32(key), F.col("_deg")) + 1)
            .drop("_v", "_deg"))
        state = (
            state.join(adj, (state.node == adj._v)
                       & (state._i == adj._idx))
            .select("start", "walk",
                    F.col("_nb").alias("node"),
                    F.concat("path", F.array(F.col("_nb"))).alias("path")))
    return state.select(
        "start", F.col("walk").cast("bigint").alias("walk"),
        F.posexplode("path").alias("step", "node")
    ).select("start", "walk", F.col("step").cast("bigint").alias("step"),
             "node")


def walk_skipgram_pairs(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_node: int = 2,
    window: int = 2,
) -> DataFrame:
    """Skip-gram (center, context) training pairs from the deterministic
    random-walk corpus — DeepWalk round 2 (Perozzi et al. 2014 §4.2): every
    node pair within ``window`` positions of each other in the same walk
    becomes one co-occurrence credit, aggregated to (center, context,
    n_pairs) — exactly the input word2vec's sampling tables consume.

    Plan: the long-form walk table (see :func:`random_walks` — hub-safe,
    indexed adjacency) self-joins on the (start, walk) key with the
    |Δstep| <= window predicate — the blowup is walk_length × window per
    walk, a constant — then ONE (center, context) hash aggregate.  No
    per-walk arrays, no driver state; everything shuffles on walk and
    pair keys only."""
    walks = random_walks(edges, walk_length=walk_length,
                         walks_per_node=walks_per_node)
    a = walks.select("start", "walk", F.col("step").alias("_sa"),
                     F.col("node").alias("center"))
    b = walks.select("start", "walk", F.col("step").alias("_sb"),
                     F.col("node").alias("context"))
    return (a.join(b, ["start", "walk"])
            .filter((F.abs(F.col("_sb") - F.col("_sa")) <= window)
                    & (F.col("_sa") != F.col("_sb")))
            .groupBy("center", "context")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")))


def bipartite_butterflies(
    edges: DataFrame,
    left_col: str = "src",
    right_col: str = "dst",
    max_right_degree: int | None = None,
) -> DataFrame:
    """Per-node butterfly (2x2 biclique / 4-cycle) counts in a bipartite
    graph — the bipartite analog of triangle counting (Wang et al. 2019,
    "Vertex Priority Based Butterfly Counting"): a butterfly is two left
    nodes sharing two right neighbors, the densest-community signal in
    user-item graphs.

    Plan: wedges come from ONE self-join on the right key with ``l1 < l2``
    (each wedge materialized once), a (l1, l2) aggregate counts common
    neighbors m, pairs with m >= 2 contribute C(m, 2) butterflies to both
    endpoints, and one final id-key aggregate sums per-node credit.  The
    shuffle volume is O(wedges) — hub right-nodes cost deg² wedges, so
    ``max_right_degree`` optionally drops super-hubs first (the standard
    skew guard for degree-heavy catalogs; dropped hubs are reported by
    the caller via degree inspection, not silently resampled).  Returns
    (id, n_butterflies), nodes with zero butterflies absent."""
    # r12: materialize the distinct bipartite edge set ONCE — both sides
    # of the wedge self-join (and the optional hub-degree filter)
    # re-embedded the full edge derivation otherwise (8 parquet scans in
    # the executed plan).
    e = cut_lineage(edges.select(F.col(left_col).alias("_l"),
                                 F.col(right_col).alias("_r")).distinct())
    if max_right_degree is not None:
        rdeg = (e.groupBy("_r")
                .agg(F.count(F.lit(1)).alias("_rd"))
                .filter(F.col("_rd") <= max_right_degree))
        e = e.join(rdeg.select("_r"), "_r")
    a = e.select(F.col("_l").alias("_l1"), "_r")
    b = e.select(F.col("_l").alias("_l2"), "_r")
    pairs = (a.join(b, "_r")
             .filter(F.col("_l1") < F.col("_l2"))
             .groupBy("_l1", "_l2")
             .agg(F.count(F.lit(1)).cast("bigint").alias("_m"))
             .filter(F.col("_m") >= 2)
             .select("_l1", "_l2",
                     # integer `div`, not `/`: the double quotient loses
                     # exactness past 2^53 (m ~ 1e8 co-neighbors)
                     F.expr("(_m * (_m - 1)) div 2").alias("_b")))
    per_node = pairs.select(F.col("_l1").alias("id"), "_b").unionAll(
        pairs.select(F.col("_l2").alias("id"), "_b"))
    return (per_node.groupBy("id")
            .agg(F.sum("_b").cast("bigint").alias("n_butterflies")))


def bipartite_project(
    edges: DataFrame,
    left_col: str = "src",
    right_col: str = "dst",
    min_weight: int = 1,
    max_right_degree: int | None = None,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite graph: left nodes are
    connected with weight = number of shared right neighbors — the
    co-authorship / co-purchase / co-occurrence network construction that
    every DH network-analysis pipeline starts from (the reference's
    network_analysis plugin surface).

    Same wedge engine as :func:`bipartite_butterflies`: ONE self-join on
    the right key emits each unordered pair once (l1 < l2), a pair-key
    aggregate counts shared neighbors, ``min_weight`` prunes the long
    tail, and ``max_right_degree`` optionally drops super-hub right
    nodes whose deg² wedge blowup would dominate (the standard guard —
    a right node shared by everyone carries no community signal anyway).
    Returns (src, dst, weight) with src < dst."""
    # r12: materialize the distinct edge set once (both wedge sides
    # re-embedded the edge derivation — see bipartite_butterflies).
    e = cut_lineage(edges.select(F.col(left_col).alias("_l"),
                                 F.col(right_col).alias("_r")).distinct())
    if max_right_degree is not None:
        rdeg = (e.groupBy("_r")
                .agg(F.count(F.lit(1)).alias("_rd"))
                .filter(F.col("_rd") <= max_right_degree))
        e = e.join(rdeg.select("_r"), "_r")
    a = e.select(F.col("_l").alias("src"), "_r")
    b = e.select(F.col("_l").alias("dst"), "_r")
    return (a.join(b, "_r")
            .filter(F.col("src") < F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
            .filter(F.col("weight") >= min_weight))


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the undirected edge list — one
    number summarizing whether hubs attach to hubs (> 0, social networks)
    or to leaves (< 0, infrastructure/biology).

    Plan: degrees from one aggregate, joined onto the directed-both-ways
    edge list (so each undirected edge contributes both orderings — the
    standard symmetrized estimator), then the correlation's five
    component sums in ONE aggregate with decimal-exact accumulation
    (per-term products are exact integers); the final ratio is
    fixed-order IEEE.  Returns one row (n_edge_ends, assortativity)."""
    # r12: materialize the symmetrized edge set ONCE — it feeds the degree
    # aggregate and the edge-pair probe, and the degree frame itself is
    # joined twice, so the full edge derivation was re-embedded three
    # times (12 parquet scans in the executed plan).
    und = cut_lineage(undirected_edges(edges))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).cast("bigint")
                                 .alias("_d"))
    pairs = (und
             .join(deg.select(F.col("src").alias("src"),
                              F.col("_d").alias("_dx")), "src")
             .join(deg.select(F.col("src").alias("dst"),
                              F.col("_d").alias("_dy")), "dst"))
    dec = lambda c: F.sum(c.cast("decimal(38,0)"))  # noqa: E731
    t = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        dec(F.col("_dx")).alias("_sx"),
        dec(F.col("_dy")).alias("_sy"),
        dec(F.col("_dx") * F.col("_dy")).alias("_sxy"),
        dec(F.col("_dx") * F.col("_dx")).alias("_sxx"),
        dec(F.col("_dy") * F.col("_dy")).alias("_syy"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n = d("_n")
    num = n * d("_sxy") - d("_sx") * d("_sy")
    den = F.sqrt(n * d("_sxx") - d("_sx") * d("_sx")) \
        * F.sqrt(n * d("_syy") - d("_sy") * d("_sy"))
    return t.select(
        F.col("_n").alias("n_edge_ends"),
        F.when(den > 0, F.round(num / den, 6)).alias("assortativity"))


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    id_col: str = "id",
    comm_col: str = "community",
) -> DataFrame:
    """Newman modularity of a GIVEN partition: per-community contributions
    Q_c = L_c/m - (D_c/2m)^2 over the undirected simple graph, where L_c
    is the community's intra-edge count, D_c its degree sum, and m the
    total edge count — summing the ``contribution`` column gives Q, the
    number every community-detection result (label propagation, Louvain,
    attribute blocking) is judged by.

    Nodes without a community row are excluded (their edges drop from m
    too, keeping the estimator consistent on the covered subgraph).

    Plan: symmetrize + dedup (one shuffle, shared), two broadcast-friendly
    joins to stamp endpoint communities, then two hash aggregates (degree
    sums, intra counts) over community keys — everything integer-exact
    until the final fixed-shape double ratios.  No iteration, no driver
    state; at 100 TB this is two shuffles on the community key."""
    comm = communities.select(F.col(id_col).alias("_id"),
                              F.col(comm_col).alias("_c"))
    und = undirected_edges(edges)
    # r12: materialize the community-stamped edge ends ONCE — the total,
    # the degree rollup, and the intra-edge count each re-embedded the
    # full edge derivation + symmetrize + both stamping joins (the
    # executed plan held 26 parquet scans; with the cut, the upstream
    # tables are scanned once).
    j = cut_lineage(
        und.join(comm.select(F.col("_id").alias("src"),
                             F.col("_c").alias("_ca")), "src")
        .join(comm.select(F.col("_id").alias("dst"),
                          F.col("_c").alias("_cb")), "dst"))
    # T = directed-both-ways edge-end count = 2m on the covered subgraph
    tot = j.agg(F.count(F.lit(1)).cast("double").alias("_t2"))
    deg = j.groupBy(F.col("src").alias("_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_d"))
    dc = (deg.join(comm, "_id")
          .groupBy(F.col("_c").alias("community"))
          .agg(F.sum("_d").cast("bigint").alias("degree_sum"),
               F.count(F.lit(1)).cast("bigint").alias("n_nodes")))
    ic = (j.filter(F.col("_ca") == F.col("_cb"))
          .groupBy(F.col("_ca").alias("community"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("_intra2")))
    intra2 = F.coalesce(F.col("_intra2"), F.lit(0).cast("bigint"))
    frac = intra2.cast("double") / F.col("_t2")
    dfrac = F.col("degree_sum").cast("double") / F.col("_t2")
    return (dc.join(ic, "community", "left")
            .crossJoin(F.broadcast(tot))
            .select("community", "n_nodes",
                    (intra2 / 2).cast("bigint").alias("intra_edges"),
                    "degree_sum",
                    F.round(frac - dfrac * dfrac, 6).alias("contribution")))


def condensation_layers(edges: DataFrame, max_rounds: int = 100) -> DataFrame:
    """Condensation + topological layering of a directed graph: contract
    each strongly connected component to one super-node (the condensation
    is always a DAG), then assign every component its longest-path depth
    from the DAG's roots — the classic dependency-leveling step (which
    batches can run in parallel, stage numbering, cycle-safe
    toposort).

    Plan: one SCC labeling (:func:`strongly_connected_components`), one
    double join to contract edges, then Bellman-style relaxation on the
    COMPONENT graph — ``layer(c) = 1 + max(layer(pred))`` — which
    converges in DAG-depth rounds; each round is one join + one max
    aggregate over the condensed (tiny relative to the input) graph with
    a 1-row convergence probe, lineage cut per round.  Raises if
    ``max_rounds`` is hit (a converged run can never mislabel).

    Returns (id, component, layer) per original node."""
    scc = cut_lineage(strongly_connected_components(edges))
    e = edges.select("src", "dst").distinct()
    ce = (e.join(scc.select(F.col("id").alias("src"),
                            F.col("component").alias("_cs")), "src")
          .join(scc.select(F.col("id").alias("dst"),
                           F.col("component").alias("_cd")), "dst")
          .select(F.col("_cs").alias("csrc"), F.col("_cd").alias("cdst"))
          .filter(F.col("csrc") != F.col("cdst")).distinct())
    ce = cut_lineage(ce)
    comps = cut_lineage(scc.select(F.col("component").alias("comp"))
                        .distinct())
    layers = comps.withColumn("layer", F.lit(0).cast("bigint"))
    for _ in range(max_rounds):
        cand = (ce.join(layers.withColumnRenamed("comp", "csrc"), "csrc")
                .groupBy(F.col("cdst").alias("comp"))
                .agg((F.max("layer") + 1).cast("bigint").alias("_cl")))
        new_layers = cut_lineage(
            comps.join(cand, "comp", "left")
            .select("comp", F.coalesce(F.col("_cl"), F.lit(0))
                    .cast("bigint").alias("layer")))
        changed = (new_layers
                   .join(layers.withColumnRenamed("layer", "_old"), "comp")
                   .filter(F.col("layer") != F.col("_old")).limit(1).count())
        layers = new_layers
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "condensation_layers: no fixpoint after "
            f"{max_rounds} rounds — condensation deeper than max_rounds")
    return (scc.join(layers.withColumnRenamed("comp", "component"),
                     "component")
            .select("id", "component", "layer"))


GraphCondensationLayers = _simple_module(
    "network_graph.condensation_layers",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": condensation_layers(
        im["graph"].data["edges"],
        **config_kwargs(self, "max_rounds"))},
    doc="""SCC condensation + longest-path topological layers (see
    condensation_layers).""",
)

GraphRandomWalks = _simple_module(
    "network_graph.random_walks",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": random_walks(
        im["graph"].data["edges"],
        **config_kwargs(self, "walk_length", "walks_per_node"))},
    doc="""Deterministic DeepWalk-style random-walk corpus (see
    random_walks).""",
)

GraphBipartiteProject = _simple_module(
    "network_graph.bipartite_project",
    {"graph": {"type": "network_graph"}},
    {"graph": {"type": "network_graph"}},
    lambda self, im, ctx: {"graph": {"edges": bipartite_project(
        im["graph"].data["edges"],
        **config_kwargs(self, "min_weight", "max_right_degree"))}},
    doc="""Weighted one-mode projection of a bipartite graph (see
    bipartite_project).""",
)

GraphDegreeAssortativity = _simple_module(
    "network_graph.degree_assortativity",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": degree_assortativity(
        im["graph"].data["edges"])},
    doc="Degree assortativity coefficient (see degree_assortativity).",
)

GraphModularity = _simple_module(
    "network_graph.modularity",
    {"graph": {"type": "network_graph"}, "communities": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": modularity(
        im["graph"].data["edges"],
        im["communities"].data,
        **config_kwargs(self, id_col="id_column",
                        comm_col="community_column"))},
    doc="Newman modularity of a given node partition (see modularity).",
)

GraphBipartiteButterflies = _simple_module(
    "network_graph.bipartite_butterflies",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": bipartite_butterflies(
        im["graph"].data["edges"],
        **config_kwargs(self, "max_right_degree"))},
    doc="""Per-node butterfly counts in a bipartite graph (see
    bipartite_butterflies).""",
)

GraphWalkSkipgramPairs = _simple_module(
    "network_graph.walk_skipgram_pairs",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": walk_skipgram_pairs(
        im["graph"].data["edges"],
        **config_kwargs(self, "walk_length", "walks_per_node", "window"))},
    doc="""Skip-gram (center, context) pair counts from the walk corpus (see
    walk_skipgram_pairs).""",
)


# -- database namespace ops -------------------------------------------------


def database_from_folder(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Every *.parquet (or *.csv/json) in a folder becomes a member table."""
    from ..io import load_table

    out: dict[str, DataFrame] = {}
    for fname in sorted(os.listdir(path)):
        full = os.path.join(path, fname)
        stem, ext = os.path.splitext(fname)
        if ext == ".parquet":
            # load_table handles format wrinkles (nanos timestamps) and the
            # small-scan parallelism guard
            out[stem] = load_table(spark, path, stem)
        elif ext == ".csv":
            out[stem] = spark.read.csv(full, header=True, inferSchema=True)
        elif ext in (".json", ".jsonl"):
            out[stem] = spark.read.json(full)
    if not out:
        raise ValueError(f"no readable tables in {path!r}")
    return out


def database_query(db: dict[str, DataFrame], query: str) -> DataFrame:
    """SQL across all member tables (each registered as a temp view)."""
    spark = next(iter(db.values())).sparkSession
    for name, df in db.items():
        df.createOrReplaceTempView(name)
    return spark.sql(query)


# -- modules ----------------------------------------------------------------


CreateDatabaseFromFolder = _simple_module(
    "create.database.from.folder",
    {"path": STRING},
    {"database": {"type": "database"}},
    lambda self, im, ctx: {"database": database_from_folder(ctx.spark, im["path"].data)},
)

DatabaseQuery = _simple_module(
    "database.query.sql",
    {"database": {"type": "database"}, "query": STRING},
    {"table": TABLE},
    lambda self, im, ctx: {"table": database_query(im["database"].data,
                                                   im["query"].data)},
)


def _database_pick_table_process(self, im, ctx):
    db = im["database"].data
    name = im["table_name"].data
    if name not in db:
        raise KeyError(f"no table {name!r} in database; has {sorted(db)}")
    return {"table": db[name]}


DatabasePickTable = _simple_module(
    "database.pick.table",
    {"database": {"type": "database"}, "table_name": STRING},
    {"table": TABLE},
    _database_pick_table_process,
)


def _create_graph_from_tables_process(self, im, ctx):
    src = self.config.get("source_column", "src")
    dst = self.config.get("target_column", "dst")
    edges = im["edges"].data.withColumnsRenamed({src: "src", dst: "dst"})
    graph = {"edges": edges}
    if "nodes" in im:
        graph["nodes"] = im["nodes"].data
    return {"graph": graph}


CreateGraphFromTables = _simple_module(
    "create.network_graph.from.tables",
    {"edges": TABLE, "nodes": {"type": "table", "optional": True}},
    {"graph": {"type": "network_graph"}},
    _create_graph_from_tables_process,
)

GraphDegrees = _simple_module(
    "network_graph.degrees",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": degrees(
        im["graph"].data["edges"], **config_kwargs(self, "directed"))},
)

GraphTwoHopApprox = _simple_module(
    "network_graph.two_hop_approx",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": neighbors_within_2_hops_approx(
        im["graph"].data["edges"],
        **config_kwargs(self, "rsd"))},
    doc="""Sketch-based 2-hop neighborhood size (see
    neighbors_within_2_hops_approx) — constant memory per node.""",
)

GraphComponents = _simple_module(
    "network_graph.connected_components",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": connected_components(
        im["graph"].data["edges"],
        **config_kwargs(self, "max_iterations", "driver_threshold",
                        "algorithm"))},
)

GraphSCC = _simple_module(
    "network_graph.strongly_connected_components",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": strongly_connected_components(
        im["graph"].data["edges"],
        **config_kwargs(self, "max_peel_rounds", "propagate_rounds",
                        "driver_threshold"))},
    doc="""Strongly connected components of a directed graph (min-id label;
    see strongly_connected_components).""",
)

GraphLabelPropagation = _simple_module(
    "network_graph.label_propagation",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": label_propagation(
        im["graph"].data["edges"],
        **config_kwargs(self, "iterations"))},
)

GraphPagerank = _simple_module(
    "network_graph.pagerank",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": pagerank(
        im["graph"].data["edges"],
        **config_kwargs(self, "iterations", "damping"))},
)

GraphBfsHops = _simple_module(
    "network_graph.bfs_hops",
    {"graph": {"type": "network_graph"}, "sources": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": bfs_hops(
        im["graph"].data["edges"],
        im["sources"].data,
        **config_kwargs(self, "max_hops"))},
    doc="Multi-source BFS distances (capped): frontier-only expansion.",
)

GraphLandmarkCentrality = _simple_module(
    "network_graph.landmark_centrality",
    {"graph": {"type": "network_graph"}, "landmarks": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": landmark_centrality(
        im["graph"].data["edges"],
        im["landmarks"].data,
        **config_kwargs(self, "max_hops"))},
    doc="Landmark-sampled closeness + harmonic centrality (one tagged BFS).",
)

GraphDiameterEstimate = _simple_module(
    "network_graph.diameter_estimate",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": diameter_double_sweep(
        im["graph"].data["edges"],
        **config_kwargs(self, "max_hops"))},
    doc="Double-sweep BFS diameter lower bound (two frontier BFS runs).",
)

GraphPersonalizedPagerank = _simple_module(
    "network_graph.pagerank_personalized",
    {"graph": {"type": "network_graph"}, "seeds": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": pagerank_personalized(
        im["graph"].data["edges"],
        im["seeds"].data,
        **config_kwargs(self, "iterations", "damping"))},
    doc="Personalized (seed-teleport) PageRank, fixed iterations.",
)

GraphKCore = _simple_module(
    "network_graph.kcore",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": kcore_peel(
        im["graph"].data["edges"],
        **config_kwargs(self, "k", "rounds"))},
    doc="Fixed-round k-core peeling (degree-< k removal, see kcore_peel).",
)

GraphKTruss = _simple_module(
    "network_graph.ktruss",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": ktruss_prune(
        im["graph"].data["edges"],
        **config_kwargs(self, "k", "rounds"))},
    doc="""Fixed-round k-truss edge prune (support-< k−2 removal, see
    ktruss_prune).""",
)

GraphLinkPrediction = _simple_module(
    "network_graph.link_prediction",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": link_prediction(
        im["graph"].data["edges"],
        **config_kwargs(self, "top_k", "min_common"))},
    doc="""Common-neighbor / Adamic-Adar / preferential-attachment link
    scoring (see link_prediction).""",
)

GraphShortestPathsWeighted = _simple_module(
    "network_graph.shortest_paths_weighted",
    {"graph": {"type": "network_graph"}, "sources": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": shortest_paths_weighted(
        im["graph"].data["edges"],
        im["sources"].data,
        **config_kwargs(self, "rounds", weight_col="weight_column"))},
    doc="Weighted shortest distances (Bellman-Ford rounds) from a source set.",
)

GraphHITS = _simple_module(
    "network_graph.hits",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": hits(
        im["graph"].data["edges"],
        **config_kwargs(self, "iterations"))},
    doc="Hub/authority scores, fixed iterations (see hits).",
)

GraphNodeSimilarity = _simple_module(
    "network_graph.node_similarity",
    {"graph": {"type": "network_graph"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": node_similarity_jaccard(
        im["graph"].data["edges"],
        **config_kwargs(self, "min_common", "max_degree"))},
    doc="""Neighbor-set Jaccard for co-neighbor pairs (see
    node_similarity_jaccard).""",
)


MODULES = [CreateDatabaseFromFolder, DatabaseQuery, DatabasePickTable,
           CreateGraphFromTables, GraphDegrees, GraphTwoHopApprox,
           GraphComponents, GraphPagerank, GraphBfsHops,
           GraphLabelPropagation, GraphShortestPathsWeighted, GraphKCore,
           GraphPersonalizedPagerank, GraphSCC, GraphHITS,
           GraphNodeSimilarity, GraphRandomWalks,
           GraphCondensationLayers, GraphWalkSkipgramPairs,
           GraphBipartiteButterflies, GraphDegreeAssortativity,
           GraphBipartiteProject, GraphModularity,
           GraphLandmarkCentrality, GraphDiameterEstimate, GraphKTruss,
           GraphLinkPrediction]
OPERATIONS = [
    Operation("create.database.from.folder", "create.database.from.folder",
              operation_type="create_from"),
    Operation("database.query.sql", "database.query.sql"),
    Operation("database.pick.table", "database.pick.table"),
    Operation("create.network_graph.from.tables", "create.network_graph.from.tables",
              operation_type="create_from"),
    Operation("network_graph.degrees", "network_graph.degrees"),
    Operation("network_graph.two_hop_approx", "network_graph.two_hop_approx"),
    Operation("network_graph.connected_components",
              "network_graph.connected_components"),
    Operation("network_graph.strongly_connected_components",
              "network_graph.strongly_connected_components"),
    Operation("network_graph.pagerank", "network_graph.pagerank"),
    Operation("network_graph.bfs_hops", "network_graph.bfs_hops"),
    Operation("network_graph.label_propagation",
              "network_graph.label_propagation"),
    Operation("network_graph.shortest_paths_weighted",
              "network_graph.shortest_paths_weighted"),
    Operation("network_graph.kcore", "network_graph.kcore"),
    Operation("network_graph.ktruss", "network_graph.ktruss",
              doc="fixed-round k-truss edge prune (cohesive subgraph)"),
    Operation("network_graph.link_prediction",
              "network_graph.link_prediction",
              doc="common-neighbor/Adamic-Adar/pref-attachment link scores"),
    Operation("network_graph.pagerank_personalized",
              "network_graph.pagerank_personalized"),
    Operation("network_graph.hits", "network_graph.hits"),
    Operation("network_graph.node_similarity", "network_graph.node_similarity"),
    Operation("network_graph.random_walks", "network_graph.random_walks"),
    Operation("network_graph.walk_skipgram_pairs",
              "network_graph.walk_skipgram_pairs"),
    Operation("network_graph.bipartite_butterflies",
              "network_graph.bipartite_butterflies"),
    Operation("network_graph.degree_assortativity",
              "network_graph.degree_assortativity"),
    Operation("network_graph.bipartite_project",
              "network_graph.bipartite_project"),
    Operation("network_graph.condensation_layers",
              "network_graph.condensation_layers"),
    Operation("network_graph.modularity", "network_graph.modularity"),
    Operation("network_graph.landmark_centrality",
              "network_graph.landmark_centrality"),
    Operation("network_graph.diameter_estimate",
              "network_graph.diameter_estimate"),
]
