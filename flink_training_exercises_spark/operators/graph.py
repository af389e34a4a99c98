"""Graph operators (SURVEY.md §2.7 G1-G4): weighted PageRank as a
fixed-iteration DataFrame loop.

The reference is Gelly's vertex-centric PageRank over transition
probabilities weight/sum(out-weights) (PageRankWithEdgeWeights.java:77-104).
Catalyst has no iteration operator, so the loop lives on the driver; each
step is one join + one aggregation over the *invariant* transition table,
which is computed once and pinned. Follows the Java semantics (true
out-weight sums); the Scala twin's divergences (first-edge-value instead of
sum, hardcoded 2 iterations -- SURVEY.md §2.4 A9) are deliberately NOT
reproduced.

Two arithmetic modes:
  * float (default): rank/prob doubles -- the natural form.
  * exact: ranks as BIGINT in 1e-12 units with floor-div transition math.
    Integer sums are associative-exact, so results are bit-identical across
    engines and partitionings -- this is what the DuckDB oracle checks, and
    it also makes the operator's output stable under AQE re-partitioning.

Scale notes: the transition table and the vertex set are iteration
invariants, so both are hash-repartitioned on their join key ONCE (same
partition count) and pinned with localCheckpoint, which keeps that
partitioning; every per-iteration join then reads an
already-co-partitioned side and the only recurring shuffle is the
groupBy(dst) contribution aggregation -- the data movement PageRank
inherently requires (1 exchange/iteration instead of 2). The rank state
itself exits each iteration partitioned by vertex, so it re-enters the
next join exchange-free as well. ``checkpoint_every`` truncates lineage
for long loops (localCheckpoint -- no HDFS needed, and it preserves the
partitioning); at cluster scale use a real checkpoint dir. The
iteration invariants are pinned with localCheckpoint rather than
``cache()``: a cached plan stays registered in the session and would be
served to a later run over an input rewritten at the same path
(tests/test_graph.py::test_pagerank_rereads_edges_rewritten_at_same_path).
Requires every vertex to have >= 1 out-edge (same precondition as the
reference, PageRankWithEdgeWeights.java:38-41).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RANK_SCALE = 10**12

# Iteration parameters shared by the Spark operators below and their DuckDB
# oracles (operators' *_sql twins and plans/graphs.py).
PAGERANK_DAMPING, PAGERANK_ITERATIONS, PPR_SEED_MOD = 0.85, 10, 10
SSSP_MAX_HOPS = 8
TEMPORAL_REACH_SEED_MOD, TEMPORAL_REACH_ROUNDS = 10, 4
K_TRUSS_K, K_TRUSS_ROUNDS = 4, 6


def out_weight_sums(edges: DataFrame) -> DataFrame:
    """G2/A9 -- reduceOnEdges(OUT) sum of outgoing weights
    (PageRankWithEdgeWeights.java:86-88,112-119)."""
    return edges.groupBy("src").agg(F.sum("weight").alias("out_sum"))


def transition_probabilities(edges: DataFrame) -> DataFrame:
    """G3/J4 -- joinWithEdgesOnSource: per-edge prob = weight / out_sum
    (PageRankWithEdgeWeights.java:91-100)."""
    return edges.join(out_weight_sums(edges), "src").withColumn(
        "prob", F.col("weight") / F.col("out_sum")
    )


def vertices_from_edges(edges: DataFrame) -> DataFrame:
    """G1 -- vertex set = src union dst, distinct
    (PageRankWithEdgeWeights.java:77-83)."""
    return (
        edges.select(F.col("src").alias("vertex"))
        .union(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )


def weighted_pagerank(
    edges: DataFrame,
    iterations: int = PAGERANK_ITERATIONS,
    exact: bool = False,
    checkpoint_every: int = 0,
) -> DataFrame:
    """G4 -- returns (vertex, rank). damping/iterations match the Java
    reference's CLI surface (PageRankWithEdgeWeights.java:47).

    exact=True requires integer-valued weights and an integer damping*100.
    """
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # Consumed once for the initial ranks and once per iteration as the
    # zero-contribution leg (below) -- multi-consumer, so pinned.
    vertices = vertices_from_edges(edges).localCheckpoint()

    # r13 optimization (guide §2.4): the per-iteration "vertices LEFT JOIN
    # contribs" -- which only re-attached vertices with no inbound
    # contribution -- is replaced by unioning a zero contribution per vertex
    # INTO the aggregation that already shuffles by dst. One exchange per
    # iteration instead of exchange + join; sum(c)+0 is bit-identical in
    # exact-BIGINT mode, and in float mode adding 0.0 to a non-negative
    # partial sum is exact (contributions are >= 0), so coalesce(s, 0)
    # becomes plain s (never NULL: every vertex owns >= 1 grouped row).

    if exact:
        d100 = int(round(PAGERANK_DAMPING * 100))
        base = (100 - d100) * (RANK_SCALE // 100)
        trans = (
            edges.select(
                "src",
                "dst",
                F.col("weight").cast("bigint").alias("w"),
            )
            .join(
                edges.groupBy("src").agg(F.sum(F.col("weight").cast("bigint")).alias("out_sum")),
                "src",
            )
            .repartition(n_part, "src")
            .localCheckpoint()
        )
        zeros = vertices.select(
            F.col("vertex").alias("dst"), F.lit(0).cast("bigint").alias("c")
        )
        ranks = vertices.select("vertex", F.lit(RANK_SCALE).cast("bigint").alias("r"))
        for i in range(iterations):
            contribs = (
                trans.join(ranks, trans["src"] == ranks["vertex"])
                .select("dst", F.expr("(r * w) div out_sum").alias("c"))
                .unionByName(zeros)
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            ranks = contribs.select(
                F.col("dst").alias("vertex"),
                (F.lit(base) + F.expr(f"({d100} * s) div 100"))
                .cast("bigint")
                .alias("r"),
            )
            if checkpoint_every and (i + 1) % checkpoint_every == 0:
                ranks = ranks.localCheckpoint()
        return ranks.select(
            "vertex", (F.col("r").cast("double") / F.lit(float(RANK_SCALE))).alias("rank")
        )

    trans = (
        transition_probabilities(edges)
        .select("src", "dst", "prob")
        .repartition(n_part, "src")
        .localCheckpoint()
    )
    zeros = vertices.select(F.col("vertex").alias("dst"), F.lit(0.0).alias("c"))
    ranks = vertices.select("vertex", F.lit(1.0).alias("rank"))
    for i in range(iterations):
        contribs = (
            trans.join(ranks, trans["src"] == ranks["vertex"])
            .select("dst", (F.col("rank") * F.col("prob")).alias("c"))
            .unionByName(zeros)
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contribs.select(
            F.col("dst").alias("vertex"),
            (F.lit(1.0 - PAGERANK_DAMPING) + F.lit(PAGERANK_DAMPING) * F.col("s")).alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return ranks


# ---------------------------------------------------------------------------
# Connected components (dedup-cluster closure; no reference twin -- the
# reference stops at pair emission, but a corpus dedup needs the transitive
# closure to pick one canonical doc per near-duplicate CLUSTER).
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(id, comp) for every node of the undirected edge set; comp = the
    minimum node id in the node's connected component.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round is two
    groupBy-min shuffles over the CURRENT edge set, and the edge set
    contracts toward star graphs centered on component minima in
    O(log n) rounds -- this is the 100 TB-safe shape (a plain
    min-label-propagation loop needs O(diameter) rounds, unbounded on
    chain-shaped duplicate clusters; a recursive closure join explodes
    quadratically on cliques).

    The input edge subtree is materialized ONCE via eager localCheckpoint
    before iterating (the LSH pair generation feeding it is far more
    expensive than the loop); each round's result is likewise
    localCheckpoint'd, truncating lineage so the loop's plan does not grow.
    Convergence is detected by edge-set equality (two tiny jobs per round
    on the already-materialized sets); max_iter is a documented safety
    bound, far above the log2 of any real corpus.
    """
    e = (
        edges.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("u"),
            F.least(F.col("id_a"), F.col("id_b")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    e_count = e.count()  # carried across rounds: one count job, not two
    for _ in range(max_iter):
        # large-star: every neighbor v > u connects to m(u) = min(N(u) + {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # NO intermediate .distinct() here (r13 optimization, guide §2.4):
        # duplicate (v, m) rows -- several neighbors of v sharing one m --
        # are harmless to both consumers (small-star's min() is
        # duplicate-insensitive and collapses them in the map-side partial
        # aggregate; e_new's trailing .distinct() restores set semantics),
        # and the distinct cost a full extra Exchange of the same rows
        # every round. Output is set-identical.
        ls = (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star: every smaller neighbor (and u itself) connects to the
        # minimum smaller neighbor. Edges are (u > v) directed after
        # large-star, so N-(u) is exactly the v side.
        sm = ls.groupBy("u").agg(F.min("v").alias("m"))
        e_new = (
            ls.join(sm, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(sm.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        e_new_count = e_new.count()
        if e_new_count == e_count and e_new.subtract(e).limit(1).count() == 0:
            e = e_new
            break
        e, e_count = e_new, e_new_count
    centers = e.select(F.col("v").alias("id"), F.col("v").alias("comp")).distinct()
    return e.select(F.col("u").alias("id"), F.col("v").alias("comp")).union(centers)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over the undirected simple graph of an edge
    list. The classic node-ordering join: canonicalize each edge to
    (a < b), then a triangle is counted exactly once as a < b < c via
    wedge join (a,b)x(b,c) + closing-edge semi-join (a,c).

    Scale shape: two equi-joins on vertex keys -- the wedge join's skew
    follows the degree distribution, so at web scale pre-split high-degree
    hubs (the standard node-iterator+ optimization, same salting idiom as
    operators/skew); no cartesian anywhere. Output: 1 row (n_triangles)."""
    a, b = F.least(F.col("src"), F.col("dst")), F.greatest(F.col("src"), F.col("dst"))
    # the canonical edge frame feeds THREE consumers (two wedge sides +
    # the closing join): without the cut the upstream derivation and the
    # distinct's shuffle re-run once per consumer (the multi-consumer
    # rule; k_truss_edges checkpoints the same frame for the same reason).
    # Size bound: unlike the boundary/vocabulary-bounded plan-cut
    # checkpoints elsewhere, this one is EDGE-SET-SIZED -- it pins the
    # deduplicated edge list to executor storage. Deliberate trade: the
    # alternative re-runs the derivation + distinct shuffle 3x, and at
    # 100 TB the distinct edge set is the graph itself (any triangle
    # algorithm holds it at least once per join side); see SCALE.md's
    # k-truss discussion for the same trade at peeling depth.
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(a.alias("a"), b.alias("b"))
        .distinct()
        .localCheckpoint()
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    closed = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"]
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def kcore(edges: DataFrame, k: int = 4, max_rounds: int = 12) -> DataFrame:
    """k-core of the undirected simple graph: the maximal subgraph where
    every node keeps degree >= k. Standard peeling -- repeatedly drop
    nodes of degree < k -- run to fixpoint with a ``max_rounds`` cap.

    Determinism contract with the SQL oracle: the oracle unrolls EXACTLY
    ``max_rounds`` peeling rounds; this side early-exits at the fixpoint.
    The two agree because peeling is monotone -- once stable, further
    rounds are identity -- so any cap >= 1 yields equal results, and a cap
    reached before convergence yields the same partially-peeled set on
    both sides. Output: (node, core_degree) for surviving nodes.

    Scale shape (incremental peeling, VERDICT r4 #3): degrees over the
    full edge list are computed ONCE; each round then (1) splits the
    degree state into removed (d < k) and survivors, (2) joins the edge
    list against ONLY the removed set to count each survivor's lost
    neighbors, and (3) subtracts. The per-round join is keyed on the
    REMOVED set -- which shrinks geometrically in practice -- instead of
    re-joining the full edge list against the full surviving set twice,
    so per-round cost decays with the frontier rather than staying
    O(|E|) for every round. Degrees within the survivor-induced subgraph
    equal old-degree minus removed-neighbor count (removal is
    round-synchronous), so the per-round survivor sets -- and therefore
    the fixpoint contract with the unrolled oracle -- are IDENTICAL to
    the recompute form (including zero-degree survivors at the cap,
    which both forms exclude from the output). Lineage is cut per round with localCheckpoint
    (same idiom as weighted_pagerank / the CC closure); one isEmpty()
    action per round drives the fixpoint test. The cap bounds the gate's
    plan size, not the algorithm."""
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .distinct()
    )
    und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    und = und.localCheckpoint()  # reused every round; don't rescan the source
    # invariant: deg = (node, d) with d = the node's degree within the
    # current surviving-node-induced subgraph; initially the full graph
    deg = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .select(F.col("u").alias("node"), "d")
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        removed = deg.where(F.col("d") < k).select("node")
        if removed.isEmpty():
            break
        # r13 optimization (guide §2.4, the pagerank-family union rewrite):
        # instead of aggregating lost-neighbor counts and LEFT JOINing them
        # onto the survivors, union one (-1) row per lost edge endpoint
        # into a single sum keyed on node. A survivor's sum is exactly
        # d - lost >= 0 (it cannot lose more neighbors than it has); a
        # node appearing ONLY via lost rows is itself removed this round
        # (no survivor row) and sums strictly negative -- so `sum >= 0`
        # reproduces the survivor-only left-join semantics exactly, one
        # exchange per round instead of exchange + join.
        lost = und.join(removed.withColumnRenamed("node", "v"), "v").select(
            F.col("u").alias("node"), F.lit(-1).cast("bigint").alias("d")
        )
        deg = (
            deg.where(F.col("d") >= k)
            .select("node", F.col("d").cast("bigint").alias("d"))
            .unionByName(lost)
            .groupBy("node")
            .agg(F.sum("d").alias("d"))
            .where(F.col("d") >= 0)
            .localCheckpoint()
        )
    # d > 0: a node can survive a round's degree test yet lose ALL its
    # neighbors in that same round (cap reached mid-peel). The recompute
    # form -- and the oracle's final join against the survivor set -- emit
    # no row for such zero-degree survivors, so neither do we.
    return deg.where(F.col("d") > 0).select("node", F.col("d").alias("core_degree"))


def kcore_sql(edges_sql: str, k: int = 4, rounds: int = 12) -> str:
    """DuckDB twin of :func:`kcore`: exactly ``rounds`` peeling rounds
    unrolled as CTEs (fixpoint rounds are identity, so this equals the
    Spark side's early-exit loop -- same contract as the pagerank and
    Lloyd unrolls)."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # round references its predecessor TWICE (su, sv) -- an un-materialized
    # unroll re-expands the whole chain 2^rounds times (observed as a
    # too-many-open-files blowup on the parquet-backed view)
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql})",
        "e AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
        "greatest(src, dst) AS b FROM edges WHERE src != dst)",
        "und AS MATERIALIZED (SELECT a AS u, b AS v FROM e "
        "UNION ALL SELECT b, a FROM e)",
        "s0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM und)",
    ]
    for i in range(rounds):
        parts.append(
            f"s{i + 1} AS MATERIALIZED (SELECT u AS node FROM und "
            f"JOIN s{i} su ON und.u = su.node "
            f"JOIN s{i} sv ON und.v = sv.node "
            f"GROUP BY u HAVING count(*) >= {k})"
        )
    parts.append(
        f"fin AS (SELECT u, CAST(count(*) AS BIGINT) AS core_degree FROM und "
        f"JOIN s{rounds} su ON und.u = su.node "
        f"JOIN s{rounds} sv ON und.v = sv.node GROUP BY u)"
    )
    return ",\n".join(parts) + "\nSELECT u AS node, core_degree FROM fin"


def sssp_hops(edges: DataFrame, source: int, max_hops: int = SSSP_MAX_HOPS) -> DataFrame:
    """Single-source shortest paths (unweighted -- BFS hop counts) on the
    directed graph, the Gelly SSSP exercise shape re-expressed as an
    iterative frontier expansion (Flink's iterate() on the reference's
    graph surface; Pregel's canonical example).

    Frontier BFS: each round joins ONLY the newly-settled frontier against
    the edge list, anti-joins out already-settled nodes, and unions the
    survivors in at hop h. Settled distances never change (BFS invariant),
    so rounds after convergence are identity -- the same early-exit-vs-
    full-unroll contract as :func:`kcore` lets the SQL twin unroll exactly
    ``max_hops`` rounds. Output: (node, hops) for nodes within
    ``max_hops`` of ``source``, the source itself at 0.

    Scale shape (100 TB): the per-round cost is one hash join keyed on the
    frontier (small side -- broadcastable once the frontier shrinks; AQE
    picks that up at runtime) plus one anti-join against the settled set;
    lineage is cut per round with localCheckpoint, one isEmpty() action
    drives the exit. The edge list is deduplicated once up front --
    parallel edges change nothing in BFS but multiply the join fan-out."""
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    dist = (
        edges.sparkSession.range(1)
        .select(
            F.lit(source).cast("bigint").alias("node"),
            F.lit(0).cast("bigint").alias("hops"),
        )
        .localCheckpoint()
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("bigint"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        # r14 optimization (guide §2.4 / §5): dist is a union of ALREADY
        # checkpointed per-round frontiers, so re-checkpointing the growing
        # union each round only re-materialized the same settled rows
        # (O(rounds x |settled|) duplicate writes + one job per round).
        # A plain union keeps every leg cached and bounded at max_hops
        # legs; the per-round anti-join scans the same settled rows either
        # way. Job count per query: 60 -> 52 at sf0.1 (AQE stage jobs).
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist


def sssp_hops_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`sssp_hops` from node 0: exactly SSSP_MAX_HOPS
    BFS rounds unrolled as materialized CTEs. Each round re-expands the
    WHOLE settled set (not just the frontier) and re-minimizes -- algebraically equal to
    the frontier form because settled hop counts are already minimal, and
    bounded per round by |edges| join rows (no path enumeration; a
    WITH RECURSIVE walk would enumerate all bounded walks instead)."""
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql})",
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src != dst)",
        "r0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS node, "
        "CAST(0 AS BIGINT) AS hops)",
    ]
    for i in range(SSSP_MAX_HOPS):
        parts.append(
            f"r{i + 1} AS MATERIALIZED (SELECT node, CAST(min(hops) AS BIGINT) AS hops "
            f"FROM (SELECT node, hops FROM r{i} "
            f"UNION ALL SELECT e.dst, r{i}.hops + 1 FROM e JOIN r{i} ON e.src = r{i}.node "
            f"WHERE r{i}.hops + 1 <= {SSSP_MAX_HOPS}) GROUP BY node)"
        )
    return ",\n".join(parts) + f"\nSELECT node, hops FROM r{SSSP_MAX_HOPS}"


def label_propagation(edges: DataFrame, rounds: int = 6) -> DataFrame:
    """Synchronous min-label propagation on the UNDIRECTED graph -- the
    deterministic community-labeling iteration on the reference's Gelly
    iteration surface (PageRankWithEdgeWeights.java:102-104's iterate()),
    and the one canonical vertex-centric algorithm the graph family
    (PageRank, CC, triangles, k-core, SSSP) was still missing.

    Every node starts labeled with its own id; each synchronous round every
    node takes the MIN over its own label and all neighbor labels. After
    ``rounds`` rounds a node's label is the minimum node id within
    ``rounds`` hops -- at fixpoint, the component minimum (the
    deterministic variant of frequency-based LPA: same propagation
    schedule, min instead of mode, so no tie-break nondeterminism).
    Post-convergence rounds are identity (min is idempotent over a settled
    neighborhood), which is what lets the SQL twin unroll exactly
    ``rounds`` rounds while this loop may exit early -- the same contract
    as :func:`kcore` / :func:`sssp_hops`. Output: (node, label).

    Scale shape (100 TB): per round, ONE hash join of the invariant
    symmetrized edge list against the label state keyed on node plus one
    groupBy(node) min -- both shuffles keyed the same, so a cluster run
    co-partitions them once (the PageRank layout note above applies
    verbatim). The edge list is deduplicated and localCheckpoint'd once up
    front; label state is ~|V| rows regardless of round. The early-exit
    probe is one isEmpty() on the changed-label diff per round."""
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
    )
    und = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # after symmetrization every endpoint occurs as src, so this is V
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        neigh = (
            und.join(labels, und["dst"] == labels["node"])
            .groupBy(und["src"].alias("node"))
            .agg(F.min("label").alias("nl"))
        )
        # the change flag is computable in the SAME projection (a label
        # only changes when a strictly smaller neighbor min arrives), so
        # the early-exit probe is a map-only filter over the checkpointed
        # frame instead of re-joining the old label state (r13
        # optimization: -1 join and -2 Exchanges per round, guide §2.4)
        nxt = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias(
                    "label"
                ),
                F.coalesce(F.col("nl") < F.col("label"), F.lit(False)).alias("chg"),
            )
            .localCheckpoint()
        )
        labels = nxt.select("node", "label")
        if nxt.where("chg").isEmpty():
            break
    return labels.select("node", "label")


def label_propagation_sql(edges_sql: str, rounds: int = 6) -> str:
    """DuckDB twin of :func:`label_propagation`: exactly ``rounds`` min-label
    rounds unrolled as materialized CTEs (the sssp_hops_sql pattern). Each
    round min-folds every node's own label with all neighbor labels --
    identical to the synchronous Spark iteration round-for-round, and equal
    to the (possibly early-exited) loop because post-convergence rounds are
    identity."""
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql})",
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        "SELECT src, dst FROM edges WHERE src != dst "
        "UNION ALL SELECT dst AS src, src AS dst FROM edges WHERE src != dst))",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e)",
    ]
    for i in range(rounds):
        parts.append(
            f"l{i + 1} AS MATERIALIZED (SELECT node, CAST(min(label) AS BIGINT) AS label "
            f"FROM (SELECT node, label FROM l{i} "
            f"UNION ALL SELECT e.src AS node, l{i}.label FROM e JOIN l{i} ON e.dst = l{i}.node) "
            "GROUP BY node)"
        )
    return ",\n".join(parts) + f"\nSELECT node, label FROM l{rounds}"


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over the undirected simple
    graph: c(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) -- how close each node's
    neighborhood is to a clique, the standard cohesion metric next to the
    global triangle count. Output (node, degree, n_triangles,
    clustering_ppm), all BIGINT; the coefficient ships as an exact
    parts-per-million integer ((1e6 * 2 * tri) DIV (deg*(deg-1)), 0 for
    degree < 2 -- the division guard ANSI mode demands), so rows are
    hash-exact across engines.

    Scale shape: reuses :func:`triangle_count`'s canonical wedge+closing
    join (each a<b<c triangle found once, then credited to its three
    corners via one explode), plus one degree aggregation -- two vertex-
    keyed equi-joins and two groupBys, no cartesian; the same hub-salting
    note as the global count applies at web scale."""
    a, b = F.least(F.col("src"), F.col("dst")), F.greatest(F.col("src"), F.col("dst"))
    # the canonical edge frame feeds FIVE consumers (degree union x2, two
    # wedge sides, closing join): cut once or the derivation + distinct
    # shuffle re-run per consumer (the triangle_count idiom; same
    # edge-set-sized materialization trade, documented there)
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(a.alias("a"), b.alias("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    closed = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"]
    )
    tri = (
        closed.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(1000000 * 2 * coalesce(n_triangles, 0))"
                    " DIV (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("clustering_ppm"),
        )
    )


def clustering_coefficients_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`clustering_coefficients`; ``edges_sql`` must
    select (src, dst)."""
    return f"""
WITH edges AS ({edges_sql}),
e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src != dst
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY 1
),
closed AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
tri AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT unnest([x, y, z]) AS node FROM closed
  ) GROUP BY 1
)
SELECT d.node, d.degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN d.degree >= 2
            THEN (1000000 * 2 * COALESCE(t.n_triangles, 0))
                 // (d.degree * (d.degree - 1))
            ELSE 0 END AS BIGINT) AS clustering_ppm
FROM deg d LEFT JOIN tri t USING (node)
"""


def personalized_pagerank(
    edges: DataFrame, iterations: int = PAGERANK_ITERATIONS, seed_mod: int = PPR_SEED_MOD
) -> DataFrame:
    """Personalized PageRank: the teleport mass goes to a SEED set instead
    of every vertex -- the graph-proximity ranking behind recommendation
    and graph-RAG retrieval ("what is close to the things this user
    cares about"), the personalized variant of the reference's Gelly
    PageRank (PageRankWithEdgeWeights.java:102-104). Seeds are the
    deterministic md5 subset md5(vertex) % seed_mod == 0 (in production,
    the user's interest set). Output (vertex, rank); mass concentrates
    near seeds and unreachable vertices rank exactly 0.

    Exact-integer mode ONLY (the gated pagerank_weighted's determinism
    recipe): ranks are BIGINTs at RANK_SCALE, contributions use integer
    div, the teleport term base = (100-d100)*(RANK_SCALE//100) lands on
    seeds alone -- bit-stable under any partitioning, and the oracle
    unrolls the identical recurrence.

    Gated since round 8 (catalog name personalized_pagerank).

    Scale shape: identical to weighted_pagerank -- one pinned transition
    table hash-partitioned on src, per-iteration join + aggregate on the
    same keys, periodic localCheckpoint to cut the iterative lineage."""
    from ..functions.hashing import md5_long

    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    vertices = vertices_from_edges(edges).localCheckpoint()

    def is_seed(c):
        return (md5_long(c.cast("string")) % seed_mod == 0).cast("bigint")

    d100 = int(round(PAGERANK_DAMPING * 100))
    base = (100 - d100) * (RANK_SCALE // 100)
    trans = (
        edges.select("src", "dst", F.col("weight").cast("bigint").alias("w"))
        .join(
            edges.groupBy("src").agg(
                F.sum(F.col("weight").cast("bigint")).alias("out_sum")
            ),
            "src",
        )
        .repartition(n_part, "src")
        .localCheckpoint()
    )
    # r13 optimization (guide §2.4, the weighted_pagerank rewrite): the
    # per-iteration "verts LEFT JOIN contribs" is gone -- a zero
    # contribution per vertex is unioned into the aggregation that already
    # shuffles by dst (sum(c)+0 is bit-identical BIGINT), and the seed
    # flag is recomputed map-only on dst (one md5 per vertex per
    # iteration, far cheaper than a join). One exchange per iteration.
    zeros = vertices.select(
        F.col("vertex").alias("dst"), F.lit(0).cast("bigint").alias("c")
    )
    ranks = vertices.select(
        "vertex", (is_seed(F.col("vertex")) * RANK_SCALE).cast("bigint").alias("r")
    )
    for i in range(iterations):
        contribs = (
            trans.join(ranks, trans["src"] == ranks["vertex"])
            .select("dst", F.expr("(r * w) div out_sum").alias("c"))
            .unionByName(zeros)
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contribs.select(
            F.col("dst").alias("vertex"),
            (
                is_seed(F.col("dst")) * F.lit(base)
                + F.expr(f"({d100} * s) div 100")
            )
            .cast("bigint")
            .alias("r"),
        )
        if 4 and (i + 1) % 4 == 0:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "vertex",
        (F.col("r").cast("double") / F.lit(float(RANK_SCALE))).alias("rank"),
    )


RANDOM_WALKS_STEPS = 4


def random_walks(edges: DataFrame, steps: int = RANDOM_WALKS_STEPS) -> DataFrame:
    """Deterministic random-walk corpus over the directed graph -- the
    walk-generation stage of DeepWalk/node2vec-style graph-embedding
    training data, with the reproducibility contract a training pipeline
    wants: the "random" next hop from ``cur`` at step ``t`` of the walk
    started at ``s`` is neighbor rank md5(s:t:cur) % outdeg(cur), so the
    corpus is a pure function of the graph (any partitioning, any
    cluster). One walk starts at every node; walks stop early at sinks
    (no out-edges). Output (start_node, step, node): step 0 is the start
    itself, all BIGINT/string -- the (context windows over each walk)
    are downstream skip-gram prep.

    Gated since round 10 (catalog name random_walks).

    Scale shape (100 TB edges): the ranked adjacency (row_number per
    source + out-degree) is ONE window shuffle on src, pinned and reused
    by every step; each step is one equi-join of the walk frontier
    against it on (cur, rank) -- ``steps`` joins total, frontier never
    exceeds |V|. No collect, no python in the path."""
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    from ..functions.hashing import md5_long

    w = Window.partitionBy("s").orderBy("d")
    adj = (
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .distinct()
        .select(
            "s",
            "d",
            F.row_number().over(w).cast("bigint").alias("rnk"),
            F.count(F.lit(1)).over(Window.partitionBy("s")).cast("bigint").alias(
                "deg"
            ),
        )
        .repartition(n_part, "s")
        .localCheckpoint()
    )
    verts = vertices_from_edges(edges)
    state = verts.select(
        F.col("vertex").alias("start_node"), F.col("vertex").alias("cur")
    )
    out = [
        state.select(
            "start_node", F.lit(0).cast("bigint").alias("step"),
            F.col("cur").alias("node"),
        )
    ]
    for t in range(1, steps + 1):
        pick = (
            md5_long(
                F.concat(
                    F.col("start_node").cast("string"),
                    F.lit(f":{t}:"),
                    F.col("cur").cast("string"),
                )
            )
            % F.col("deg")
        ) + 1
        # localCheckpoint per step: each state frame is consumed TWICE
        # (the step-t output branch AND the step-t+1 join), and without
        # the cut every union branch re-evaluates its whole step chain
        # from the vertex scan -- O(steps^2) joins instead of the
        # docstring's ``steps`` (the twice-consumed rule; the
        # weighted_pagerank per-round idiom). Frontier is bounded by
        # |V|, so the materialization is small.
        state = (
            state.join(adj, state["cur"] == adj["s"])
            .where(F.col("rnk") == pick)
            .select("start_node", F.col("d").alias("cur"))
            .localCheckpoint()
        )
        out.append(
            state.select(
                "start_node",
                F.lit(t).cast("bigint").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def random_walks_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`random_walks`; ``edges_sql`` must select
    (src, dst)."""
    from ..functions.hashing import md5_long_sql

    parts = [
        f"WITH edges AS ({edges_sql})",
        "dedges AS (SELECT DISTINCT src AS s, dst AS d FROM edges)",
        """adj AS (
  SELECT s, d,
         CAST(row_number() OVER (PARTITION BY s ORDER BY d) AS BIGINT) AS rnk,
         CAST(count(*) OVER (PARTITION BY s) AS BIGINT) AS deg
  FROM dedges
)""",
        "verts AS (SELECT DISTINCT vertex FROM "
        "(SELECT src AS vertex FROM edges UNION ALL SELECT dst FROM edges))",
        "w0 AS (SELECT vertex AS start_node, vertex AS cur FROM verts)",
    ]
    for t in range(1, RANDOM_WALKS_STEPS + 1):
        h = md5_long_sql(
            f"CAST(start_node AS VARCHAR) || ':{t}:' || CAST(cur AS VARCHAR)"
        )
        parts.append(
            f"""w{t} AS (
  SELECT p.start_node, a.d AS cur
  FROM w{t - 1} p JOIN adj a ON p.cur = a.s
  WHERE a.rnk = ({h}) % a.deg + 1
)"""
        )
    steps_union = "\nUNION ALL\n".join(
        f"SELECT start_node, CAST({t} AS BIGINT) AS step, cur AS node FROM w{t}"
        for t in range(0, RANDOM_WALKS_STEPS + 1)
    )
    return ",\n".join(parts) + "\n" + steps_union

def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Directed strength assortativity (Newman's degree-mixing statistic
    on WEIGHTED degrees): the Pearson correlation, over all edges,
    between the source's out-strength (sum of outgoing edge weights) and
    the target's in-strength -- the one-number answer to "do hubs link
    to hubs?" (positive: social/collab graphs; negative: web/biology).
    Completes the graph-metrics family (CC, triangles, k-core,
    clustering coefficients, PageRank) with the canonical mixing
    statistic. Strength, not raw edge count, because a weighted graph's
    mixing lives in the weights (and a degree-regular graph -- like the
    20-vertex test graph, where every count-degree is 19 -- makes the
    count form structurally degenerate).

    Determinism: the value_hour_correlation recipe verbatim -- degrees
    are exact BIGINT counts, the five sufficient statistics are exact
    BIGINT sums (order-free), and the closed form
    r = (n*sxy - sx*sy) / sqrt((n*sxx - sx^2)(n*syy - sy^2)) runs in
    double over identical operand trees (div/mul/sub/sqrt are all
    correctly-rounded IEEE). Degenerate variance (all degrees equal)
    yields NULL on both engines. Output is one row: (n_edges,
    sum_out_deg, sum_in_deg, assortativity_r).

    Scale shape (100 TB): two degree aggregations (hash groupBy on each
    endpoint), two hash equi-joins edge->degree, one global integer
    partial-aggregate. No windows, no driver arithmetic; integer
    partials commute so partitioning cannot perturb the statistics.
    The edge frame feeds THREE consumers (both degree aggregates + the
    xy probe), so it is localCheckpoint-ed once -- edge-set-sized, the
    clustering_coefficients/k-truss canonical-edge precedent; without
    it the events-scan edge derivation re-runs per consumer (r2
    broadcast/multi-consumer rule)."""
    edges = edges.localCheckpoint()
    out_deg = edges.groupBy("src").agg(F.sum("weight").cast("bigint").alias("x"))
    in_deg = edges.groupBy("dst").agg(F.sum("weight").cast("bigint").alias("y"))
    xy = edges.select("src", "dst").join(out_deg, "src").join(in_deg, "dst")
    agg = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    prod = (n * sxx - sx * sx) * (n * syy - sy * sy)
    r = F.when(prod > 0, (n * sxy - sx * sy) / F.sqrt(prod))
    return agg.select(
        F.col("n").alias("n_edges"),
        F.col("sx").alias("sum_out_strength"),
        F.col("sy").alias("sum_in_strength"),
        r.alias("assortativity_r"),
    )


def degree_assortativity_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`degree_assortativity`: same degree joins,
    same exact BIGINT statistics, same closed-form double expression."""
    return f"""
WITH edges AS ({edges_sql}),
od AS (SELECT src, CAST(sum(weight) AS BIGINT) AS x FROM edges GROUP BY 1),
idg AS (SELECT dst, CAST(sum(weight) AS BIGINT) AS y FROM edges GROUP BY 1),
xy AS (
  SELECT x, y FROM edges JOIN od USING (src) JOIN idg USING (dst)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM xy
)
SELECT n AS n_edges, sx AS sum_out_strength, sy AS sum_in_strength,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS assortativity_r
FROM agg
"""

def edge_jaccard_similarity(edges: DataFrame) -> DataFrame:
    """Per-edge common-neighbor Jaccard over the undirected simple graph:
    for each canonical edge (a < b), jac = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|
    -- the classic link-prediction / edge-strength feature (Liben-Nowell
    & Kleinberg 2003), the per-EDGE companion of the per-NODE clustering
    coefficient. A common neighbor of (a, b) is exactly a triangle
    through the edge, so the intersection count comes from crediting
    each a<b<c triangle to its three edges; the union follows by
    inclusion-exclusion (deg(a) + deg(b) - common, which counts a and b
    themselves -- both are in the union since b ∈ N(a), a ∈ N(b) -- so
    it is >= 2 and the division needs no zero guard even under ANSI).

    Determinism: the score ships as an exact parts-per-million integer
    ((1e6 * common) DIV union) over BIGINT counts -- rows are hash-exact
    across engines, zero float ops.

    Scale shape (100 TB): reuses :func:`triangle_count`'s canonical
    wedge + closing-edge join (each a<b<c triangle materialized once),
    credits edges via one 3-struct explode, then two vertex-keyed degree
    joins -- no cartesian; the hub-salting note from the global triangle
    count applies to the wedge join's degree skew at web scale."""
    a, b = F.least(F.col("src"), F.col("dst")), F.greatest(F.col("src"), F.col("dst"))
    # SIX consumers of the canonical edge frame (degree union x2, two
    # wedge sides, closing join, the output join chain) -- cut once (the
    # triangle_count idiom; edge-set-sized, the documented trade)
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(a.alias("a"), b.alias("b"))
        .distinct()
        .localCheckpoint()
    )
    # degrees feed BOTH join sides (da, db): vertex-bounded, cut once
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .localCheckpoint()
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    closed = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"]
    )
    credit = closed.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
                F.struct(F.col("x").alias("u"), F.col("z").alias("v")),
                F.struct(F.col("y").alias("u"), F.col("z").alias("v")),
            )
        ).alias("s")
    ).select(F.col("s.u").alias("a"), F.col("s.v").alias("b"))
    common = credit.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors")
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("degree_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degree_b"))
    return (
        e.join(da, "a")
        .join(db, "b")
        .join(common, ["a", "b"], "left")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            "degree_a",
            "degree_b",
            F.coalesce(F.col("common_neighbors"), F.lit(0))
            .cast("bigint")
            .alias("common_neighbors"),
            F.expr(
                "(1000000 * coalesce(common_neighbors, 0))"
                " DIV (degree_a + degree_b - coalesce(common_neighbors, 0))"
            )
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


def edge_jaccard_similarity_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`edge_jaccard_similarity`; ``edges_sql`` must
    select (src, dst). UNNEST cannot share a SELECT with GROUP BY in
    DuckDB, so the edge-credit explode nests one subquery deeper."""
    return f"""
WITH edges AS ({edges_sql}),
e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src != dst
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY 1
),
closed AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
common AS (
  SELECT s.u AS a, s.v AS b, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM (
    SELECT unnest([struct_pack(u := x, v := y),
                   struct_pack(u := x, v := z),
                   struct_pack(u := y, v := z)]) AS s
    FROM closed
  ) GROUP BY 1, 2
)
SELECT e.a AS node_a, e.b AS node_b,
       da.degree AS degree_a, db.degree AS degree_b,
       CAST(COALESCE(c.common_neighbors, 0) AS BIGINT) AS common_neighbors,
       CAST((1000000 * COALESCE(c.common_neighbors, 0))
            // (da.degree + db.degree - COALESCE(c.common_neighbors, 0))
         AS BIGINT) AS jaccard_ppm
FROM e
JOIN deg da ON da.node = e.a
JOIN deg db ON db.node = e.b
LEFT JOIN common c ON c.a = e.a AND c.b = e.b
"""

def temporal_reachability(tedges: DataFrame, rounds: int = TEMPORAL_REACH_ROUNDS) -> DataFrame:
    """Earliest-arrival TIME-RESPECTING reachability over a temporal edge
    list (Wu et al., "Path Problems in Temporal Graphs", VLDB 2014): a
    path is valid only if edge timestamps are non-decreasing along it,
    so a hop-shorter path can be unreachable while a longer one works --
    the property that makes temporal graphs a different algorithm class
    from static ones (information/contagion flow, session-causality
    audits). Seeds are the md5 subset md5(vertex) % seed_mod == 0 (the
    personalized_pagerank predicate) with arrival 0; each round relaxes
    arrival[v] = min(arrival[v], min{t : (u -> v, t), t >= arrival[u]}).
    Output (vertex, arrival_ms) for reached vertices only.

    Relaxation is MONOTONE (arrivals only decrease, reached set only
    grows), so the fixed-``rounds`` unrolled oracle equals this side
    whether or not the fixpoint landed earlier -- the kcore/sssp
    contract. All arithmetic is BIGINT epoch-ms; no floats.

    Scale shape (100 TB): the timed edge list is localCheckpoint'd once
    and each round is ONE hash join keyed on src plus a min-aggregate --
    the frontier never exceeds |V| rows and broadcasts once small (AQE);
    per-round localCheckpoint cuts the iterative lineage (the
    weighted_pagerank idiom)."""
    from ..functions.hashing import md5_long

    e = (
        tedges.select(
            "src",
            "dst",
            F.col("t").cast("bigint").alias("t"),
        )
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )
    verts = vertices_from_edges(e)
    arr = (
        verts.where(md5_long(F.col("vertex")) % TEMPORAL_REACH_SEED_MOD == 0)
        .select("vertex", F.lit(0).cast("bigint").alias("arrival_ms"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        relax = (
            arr.join(e, arr["vertex"] == e["src"])
            .where(F.col("t") >= F.col("arrival_ms"))
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min("t").alias("a"))
            .select(F.col("v").alias("vertex"), F.col("a").alias("arrival_ms"))
        )
        arr = (
            arr.unionByName(relax)
            .groupBy("vertex")
            .agg(F.min("arrival_ms").cast("bigint").alias("arrival_ms"))
            .localCheckpoint()
        )
    return arr


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (a < b) distinct edge
    frame: the triangle_count wedge+closing join, credited back to the
    triangle's 3 edges via one struct explode (one lineage evaluation --
    the union-of-three-selects form would re-run the closing join three
    times; the r7 twice-consumed rule). Output (a, b, support)."""
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"])
    )
    sides = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("ea"), F.col("y").alias("eb")),
                F.struct(F.col("y").alias("ea"), F.col("z").alias("eb")),
                F.struct(F.col("x").alias("ea"), F.col("z").alias("eb")),
            )
        ).alias("s")
    )
    return sides.groupBy(
        F.col("s.ea").alias("a"), F.col("s.eb").alias("b")
    ).agg(F.count(F.lit(1)).alias("support"))


def k_truss_edges(
    edges: DataFrame, k: int = K_TRUSS_K, max_rounds: int = K_TRUSS_ROUNDS
) -> DataFrame:
    """k-truss of the undirected simple graph -- the EDGE analog of the
    gated k-core: the maximal subgraph where every edge participates in
    at least k-2 triangles (Cohen 2008, "Trussness"; Wang & Cheng, VLDB
    2012 for the distributed form). Truss is the standard tightening of
    core for community scaffolding: a k-core can be a sparse star-ish
    blob, a k-truss is triangle-cemented. Standard peeling -- repeatedly
    drop edges of support < k-2, recomputing support within the
    survivor-induced subgraph -- run to fixpoint with a ``max_rounds``
    cap. Output (a, b, support) for surviving edges, support within the
    FINAL survivor set.

    Determinism contract with the SQL oracle (the kcore/sssp/temporal
    contract): edge removal is MONOTONE, so rounds after the fixpoint
    are identity and the oracle's EXACTLY-``max_rounds`` unroll equals
    this side's early exit; a cap reached before convergence yields the
    same partially-peeled set on both engines. Zero-support survivors at
    the cap are absent from the final support frame on BOTH sides (they
    produce no triangle row), so the outputs agree there too.

    Scale shape (100 TB edges): each round is the triangle_count
    wedge+closing join over the CURRENT survivor set -- two equi-joins
    on vertex keys whose skew follows the degree distribution (hub
    pre-splitting is the same salting idiom as operators/skew), never a
    cartesian; the survivor set only shrinks, so later rounds cost less.
    Per-round lineage is cut with localCheckpoint and one isEmpty()
    drives the early exit (the kcore idiom). The incremental form
    (decrement supports of triangles through removed edges) needs
    inclusion-exclusion over triangles with 2-3 removed edges to avoid
    double-counting -- the recompute form trades one wedge join per
    round for that bookkeeping, the adjudicated-simple choice at
    max_rounds <= 6."""
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )
    e_count = e.count()
    thr = k - 2
    for _ in range(max_rounds):
        # checkpoint the support frame FIRST (the kcore idiom): it feeds
        # the survivor filter, the removal test, AND -- on convergence --
        # the return value, and without the cut the convergence action and
        # the next round would each re-run the wedge+closing join
        sup = _edge_support(e).localCheckpoint()
        survivors = sup.where(F.col("support") >= thr).select("a", "b")
        # r14 optimization (guide §2.4, the CC count-carry idiom): sup has
        # exactly one row per triangle-participating edge of e, so every
        # survivor IS an e row and |survivors| == |e| <=> nothing was
        # removed this round -- a cheap count over the just-checkpointed
        # sup replaces the old anti-join + isEmpty over the full edge set
        # (one carried count job per round instead of a per-round join).
        s_count = survivors.count()
        if s_count == e_count:
            # converged: every edge of e has support >= thr, so sup IS
            # the final support frame (the oracle's tf over s{rounds})
            return sup.select(
                "a", "b", F.col("support").cast("bigint").alias("support")
            )
        e_count = s_count
        e = survivors.localCheckpoint()
    # cap reached (or max_rounds == 0): support within the final set
    return _edge_support(e).select(
        "a", "b", F.col("support").cast("bigint").alias("support")
    )


def k_truss_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`k_truss_edges`: exactly ``rounds`` peeling
    rounds unrolled as CTEs (fixpoint rounds are identity -- the kcore
    contract). AS MATERIALIZED is load-bearing: each round's survivor
    set is referenced three times by the next wedge+closing join, and
    un-materialized CTEs re-expand the whole chain 3^rounds times (the
    kcore_sql lesson)."""
    thr = K_TRUSS_K - 2
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql})",
        "s0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
        "greatest(src, dst) AS b FROM edges WHERE src != dst)",
    ]
    for i in range(K_TRUSS_ROUNDS):
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
            f"FROM s{i} e1 JOIN s{i} e2 ON e1.b = e2.a "
            f"JOIN s{i} e3 ON e3.a = e1.a AND e3.b = e2.b)"
        )
        parts.append(
            f"s{i + 1} AS MATERIALIZED (SELECT a, b FROM ("
            f"SELECT x AS a, y AS b FROM t{i} "
            f"UNION ALL SELECT y, z FROM t{i} "
            f"UNION ALL SELECT x, z FROM t{i}"
            f") GROUP BY a, b HAVING count(*) >= {thr})"
        )
    parts.append(
        "tf AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
        "FROM s6 e1 JOIN s6 e2 ON e1.b = e2.a "
        "JOIN s6 e3 ON e3.a = e1.a AND e3.b = e2.b)"
    )
    return (
        ",\n".join(parts)
        + """
SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
  SELECT x AS a, y AS b FROM tf
  UNION ALL SELECT y, z FROM tf
  UNION ALL SELECT x, z FROM tf
) GROUP BY a, b"""
    )
