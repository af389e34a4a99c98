"""Weighted PageRank on a hand-computed triangle graph."""

import pytest

from flink_training_exercises_spark.operators import graph
from flink_training_exercises_spark.operators.graph import (
    out_weight_sums,
    transition_probabilities,
    weighted_pagerank,
)

EDGES = [
    ("a", "b", 1.0),
    ("a", "c", 3.0),
    ("b", "c", 1.0),
    ("c", "a", 1.0),
]


def _edges(spark):
    return spark.createDataFrame(EDGES, "src string, dst string, weight double")


def test_out_weight_sums(spark):
    # A9 Java semantics: SUM of out-weights, not first-edge-value
    # (the Scala twin's divergence is not reproduced -- SURVEY.md §2.4).
    got = {r["src"]: r["out_sum"] for r in out_weight_sums(_edges(spark)).collect()}
    assert got == {"a": 4.0, "b": 1.0, "c": 1.0}


def test_transition_probabilities(spark):
    got = {
        (r["src"], r["dst"]): r["prob"]
        for r in transition_probabilities(_edges(spark)).collect()
    }
    assert got[("a", "b")] == 0.25
    assert got[("a", "c")] == 0.75
    assert got[("c", "a")] == 1.0


def _expected_ranks(iters, d=0.85, edges=EDGES):
    out = {}
    for s_, _t, w in edges:
        out[s_] = out.get(s_, 0.0) + w
    probs = {(s_, t): w / out[s_] for s_, t, w in edges}
    ranks = {v: 1.0 for e in edges for v in e[:2]}
    for _ in range(iters):
        new = {}
        for v in ranks:
            s = sum(ranks[s_] * p for (s_, t), p in probs.items() if t == v)
            new[v] = (1 - d) + d * s
        ranks = new
    return ranks


@pytest.mark.parametrize("iters", [1, 3, 10])
def test_pagerank_float_matches_reference_recurrence(spark, iters):
    got = {
        r["vertex"]: r["rank"]
        for r in weighted_pagerank(_edges(spark), iterations=iters).collect()
    }
    want = _expected_ranks(iters)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_exact_mode_close_to_float(spark):
    f = {
        r["vertex"]: r["rank"]
        for r in weighted_pagerank(_edges(spark), iterations=5).collect()
    }
    e = {
        r["vertex"]: r["rank"]
        for r in weighted_pagerank(_edges(spark), iterations=5, exact=True).collect()
    }
    for v in f:
        assert e[v] == pytest.approx(f[v], abs=1e-6)


@pytest.mark.parametrize("exact", [False, True])
def test_pagerank_rereads_edges_rewritten_at_same_path(spark, tmp_path, exact):
    """An edge file rewritten at the same path is read again by the next
    PageRank run in the same session, with no clearCache in between: the
    frames the operator materializes for its iterations must not be served
    from the first run."""
    import pandas as pd

    path = str(tmp_path / "edges.parquet")
    rewired = [("a", "b", 2.0), ("b", "d", 1.0), ("d", "a", 1.0), ("c", "a", 1.0)]
    for edges in (EDGES, rewired):
        pd.DataFrame(edges, columns=["src", "dst", "weight"]).to_parquet(path, index=False)
        got = {
            r["vertex"]: r["rank"]
            for r in weighted_pagerank(
                spark.read.parquet(path), iterations=3, exact=exact
            ).collect()
        }
        want = _expected_ranks(3, edges=edges)
        assert got == pytest.approx(want, abs=1e-6)


def test_connected_components_chain_clique_and_singleton_pair(spark):
    from flink_training_exercises_spark.operators.graph import connected_components

    # chain 1-2-3-4-5 (worst case for label propagation), clique {10,11,12},
    # pair {20,21}; edge directions and duplicates must not matter
    edges = spark.createDataFrame(
        [
            (2, 1), (2, 3), (4, 3), (4, 5),
            (10, 11), (11, 12), (10, 12), (12, 10),
            (21, 20),
        ],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_long_chain_converges(spark):
    from flink_training_exercises_spark.operators.graph import connected_components

    # 64-node chain: log-round contraction must finish well under max_iter
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges, max_iter=10).collect()}
    assert got == {i: 0 for i in range(65)}


def test_triangle_count_hand_computed(spark):
    from flink_training_exercises_spark.operators.graph import triangle_count

    # K4 on {a,b,c,d} (4 triangles) + pendant edge d-e, with a duplicate and
    # a reversed edge thrown in (canonicalization must absorb both)
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
         ("d", "e"), ("b", "a"), ("a", "b")],
        "src string, dst string",
    )
    assert triangle_count(edges).first()["n_triangles"] == 4


def test_kcore_peels_multiround_hand_computed(spark):
    """Triangle {1,2,3} + pendant chain 3-4-5: k=2 peeling must take TWO
    rounds (5 falls first, exposing 4), leaving exactly the triangle with
    core degree 2 -- pins the iterative fixpoint, not just one pass."""
    from flink_training_exercises_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    out = {r["node"]: r["core_degree"] for r in kcore(edges, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_cap_matches_oracle_contract(spark):
    """A cap below the convergence round count must still produce a
    well-defined partial peel: with max_rounds=1 on the chain graph, only
    the first peel (node 5) happens."""
    from flink_training_exercises_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    out = {r["node"]: r["core_degree"] for r in kcore(edges, k=2, max_rounds=1).collect()}
    # after one round: 5 dropped; 4 survives the FIRST degree test (deg 2)
    # and its degree within the survivor set is 1 (only neighbor 3)
    assert out == {1: 2, 2: 2, 3: 3, 4: 1}


def test_kcore_cap_drops_zero_degree_survivors(spark):
    """Path 1-2-3 with k=2, max_rounds=1: round 1 removes endpoints 1 and
    3; node 2 passes the degree test but loses BOTH neighbors in the same
    round. The recompute form's final join -- and the SQL oracle's unroll
    -- emit no row for such zero-degree survivors, so neither may the
    incremental form (round-5 review finding, verified divergence)."""
    import duckdb

    from flink_training_exercises_spark.operators.graph import kcore, kcore_sql

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert kcore(edges, k=2, max_rounds=1).collect() == []
    con = duckdb.connect()
    sql = kcore_sql("SELECT * FROM (VALUES (1, 2), (2, 3)) t(src, dst)", k=2, rounds=1)
    assert con.execute(sql).fetchall() == []


def test_sssp_hand_computed(spark):
    # 0->1->2->3 chain plus shortcut 0->2, unreachable island 7->8,
    # parallel edge and self-loop noise
    edges = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 2), (2, 3), (0, 2), (7, 8), (3, 3)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["hops"]
        for r in graph.sssp_hops(edges, source=0, max_hops=8).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}


def test_sssp_hop_cap_truncates(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    got = {
        r["node"]: r["hops"]
        for r in graph.sssp_hops(chain, source=0, max_hops=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_sssp_source_without_edges(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = graph.sssp_hops(edges, source=99, max_hops=4).collect()
    assert [(r["node"], r["hops"]) for r in got] == [(99, 0)]


def test_sssp_rounds_past_convergence_are_identity(spark):
    # the oracle unrolls EXACTLY max_hops rounds while the Spark side
    # early-exits at the empty frontier; they agree because settled BFS
    # distances are final -- pin it: a cap far above the diameter yields
    # the same result as the tight cap
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 2), (3, 4)], "src long, dst long"
    )
    tight = {(r["node"], r["hops"]) for r in graph.sssp_hops(edges, 0, max_hops=4).collect()}
    loose = {(r["node"], r["hops"]) for r in graph.sssp_hops(edges, 0, max_hops=20).collect()}
    assert tight == loose == {(0, 0), (1, 1), (2, 1), (3, 2), (4, 3)}


def test_label_propagation_hand_computed(spark):
    # two components: chain 5-6-7-8 (min 5) and triangle 10-11-12 (min 10),
    # plus self-loop and parallel-edge noise; directed input must be
    # treated as undirected (8->5 reaches 5 via the symmetrized edges)
    edges = spark.createDataFrame(
        [(6, 5), (6, 7), (8, 7), (10, 11), (11, 12), (12, 10), (5, 5), (6, 7)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["label"]
        for r in graph.label_propagation(edges, rounds=10).collect()
    }
    assert got == {5: 5, 6: 5, 7: 5, 8: 5, 10: 10, 11: 10, 12: 10}


def test_label_propagation_bounded_rounds_is_min_within_hops(spark):
    # on a 0-1-2-3-4-5 chain, after 2 rounds node k's label is min id
    # within 2 hops -- the bounded-round semantics the oracle unrolls
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    got = {
        r["node"]: r["label"]
        for r in graph.label_propagation(chain, rounds=2).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 2, 5: 3}


def test_label_propagation_rounds_past_convergence_are_identity(spark):
    # the early-exit-vs-full-unroll contract (kcore/sssp): a round cap far
    # above the diameter yields the same labels as the tight cap, and the
    # fixpoint equals the component minimum
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (7, 8)], "src long, dst long"
    )
    tight = {
        (r["node"], r["label"])
        for r in graph.label_propagation(edges, rounds=4).collect()
    }
    loose = {
        (r["node"], r["label"])
        for r in graph.label_propagation(edges, rounds=25).collect()
    }
    assert tight == loose == {(0, 0), (1, 0), (2, 0), (3, 0), (7, 7), (8, 7)}


def test_label_propagation_sql_twin_matches_spark(spark):
    import duckdb

    rows = [(0, 1), (1, 2), (3, 4), (9, 3), (2, 0), (5, 5)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {
        (r["node"], r["label"])
        for r in graph.label_propagation(edges, rounds=3).collect()
    }
    vals = ", ".join(f"({s}, {d})" for s, d in rows)
    sql = graph.label_propagation_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)", rounds=3
    )
    want = set(duckdb.connect().execute(sql).fetchall())
    assert got == want and got


def test_clustering_coefficients_hand_computed(spark):
    from flink_training_exercises_spark.operators.graph import (
        clustering_coefficients,
    )

    # K4 {a,b,c,d} + pendant d-e: every K4 node touches 3 of the 4
    # triangles; a/b/c have degree 3 (coeff 1), d has degree 4
    # (2*3/(4*3) = 0.5), e degree 1 (coeff 0 by guard)
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("a", "c"), ("a", "d"),
            ("b", "c"), ("b", "d"), ("c", "d"),
            ("d", "e"),
            ("b", "a"),  # duplicate reversed
            ("e", "e"),  # self loop dropped
        ],
        "src string, dst string",
    )
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_ppm"])
        for r in clustering_coefficients(edges).collect()
    }
    assert got == {
        "a": (3, 3, 1000000),
        "b": (3, 3, 1000000),
        "c": (3, 3, 1000000),
        "d": (4, 3, 500000),
        "e": (1, 0, 0),
    }


def test_personalized_pagerank_python_reference(spark):
    """The exact-integer PPR recurrence vs an independent python replay on
    a tiny weighted graph (seeds fixed by the same md5 predicate)."""
    import hashlib

    from flink_training_exercises_spark.operators.graph import (
        RANK_SCALE,
        personalized_pagerank,
    )

    edges = [("a", "b", 2), ("b", "c", 1), ("c", "a", 1), ("a", "c", 2)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {
        r["vertex"]: r["rank"]
        for r in personalized_pagerank(df, iterations=5, seed_mod=2).collect()
    }
    md5l = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    verts = sorted({v for e in edges for v in e[:2]})
    seed = {v: 1 if md5l(v) % 2 == 0 else 0 for v in verts}
    out_sum = {}
    for s, _, w in edges:
        out_sum[s] = out_sum.get(s, 0) + w
    r = {v: seed[v] * RANK_SCALE for v in verts}
    base = 15 * (RANK_SCALE // 100)
    for _ in range(5):
        contribs = {}
        for s, d, w in edges:
            contribs[d] = contribs.get(d, 0) + (r[s] * w) // out_sum[s]
        r = {v: seed[v] * base + (85 * contribs.get(v, 0)) // 100 for v in verts}
    want = {v: r[v] / float(RANK_SCALE) for v in verts}
    assert got == want
    assert any(seed.values()) and not all(seed.values())  # both classes hit


def test_personalized_pagerank_matches_duckdb_twin(spark, sf_small, catalog_runs):
    from flink_training_exercises_spark.operators.graph import (
        personalized_pagerank,
    )
    from flink_training_exercises_spark.plans import graphs as graphs_plan

    assert catalog_runs.problems("personalized_pagerank") == []
    got = personalized_pagerank(graphs_plan.edges_view(spark, sf_small)).collect()
    assert got
    # the seed teleport concentrates mass: ranks are nonnegative and NOT
    # uniform (this graph is connected enough that nothing ranks exactly 0)
    ranks = [r for _, r in got]
    assert min(ranks) >= 0.0 and len(set(ranks)) > 1


def test_random_walks_python_reference(spark):
    """Deterministic walks on a hand graph vs an independent python replay
    of the md5 next-hop rule, including early stop at a sink."""
    import hashlib

    from flink_training_exercises_spark.operators.graph import random_walks

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "z")]
    # z is a sink: walks reaching z stop early
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r["start_node"], r["step"], r["node"])
        for r in random_walks(df, steps=3).collect()
    }
    md5l = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    adj = {s: sorted(ds) for s, ds in adj.items()}
    verts = sorted({v for e in edges for v in e})
    want = set()
    for start in verts:
        cur = start
        want.add((start, 0, start))
        for t in range(1, 4):
            if cur not in adj:
                break  # sink: walk stops
            nbrs = adj[cur]
            cur = nbrs[md5l(f"{start}:{t}:{cur}") % len(nbrs)]
            want.add((start, t, cur))
    assert got == want and any(s == "z" and t == 0 for s, t, _ in got)


def test_degree_assortativity_hand_computed(spark):
    """a->b(1), a->c(2), b->c(1), c->b(3): out-strengths a=3,b=1,c=3;
    in-strengths b=4,c=3; edge pairs (3,4),(3,3),(1,3),(3,4) ->
    r = 4/sqrt(48) = 1/sqrt(3)."""
    import math

    from flink_training_exercises_spark.operators.graph import (
        degree_assortativity,
    )

    edges = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 2), ("b", "c", 1), ("c", "b", 3)],
        "src string, dst string, weight long",
    )
    [r] = degree_assortativity(edges).collect()
    assert (r["n_edges"], r["sum_out_strength"], r["sum_in_strength"]) == (
        4,
        10,
        14,
    )
    assert r["assortativity_r"] == 4.0 / math.sqrt(48.0)


def test_degree_assortativity_degenerate_is_null(spark):
    """Uniform strengths have zero variance: r must be NULL, not a 0/0."""
    from flink_training_exercises_spark.operators.graph import (
        degree_assortativity,
    )

    edges = spark.createDataFrame(
        [("a", "b", 2), ("b", "a", 2)], "src string, dst string, weight long"
    )
    [r] = degree_assortativity(edges).collect()
    assert r["assortativity_r"] is None


def test_edge_jaccard_similarity_hand_computed(spark):
    from flink_training_exercises_spark.operators.graph import (
        edge_jaccard_similarity,
    )

    # Triangle {a,b,c} + pendant c-d:
    #   (a,b): common {c}, union = 2+2-1 = 3 -> 333333
    #   (a,c): common {b}, union = 2+3-1 = 4 -> 250000
    #   (b,c): common {a}, union = 2+3-1 = 4 -> 250000
    #   (c,d): common {},  union = 3+1-0 = 4 -> 0
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
            ("b", "a"),  # duplicate reversed
            ("d", "d"),  # self loop dropped
        ],
        "src string, dst string",
    )
    got = {
        (r["node_a"], r["node_b"]): (
            r["degree_a"], r["degree_b"],
            r["common_neighbors"], r["jaccard_ppm"],
        )
        for r in edge_jaccard_similarity(edges).collect()
    }
    assert got == {
        ("a", "b"): (2, 2, 1, 333333),
        ("a", "c"): (2, 3, 1, 250000),
        ("b", "c"): (2, 3, 1, 250000),
        ("c", "d"): (3, 1, 0, 0),
    }


def test_edge_jaccard_similarity_contracts(spark, sf_small):
    """Structural invariants on the real events graph: one row per
    canonical edge, common <= min(degree) - 1 (the partner endpoint is
    never a common neighbor), and ppm bounded by [0, 1e6]."""
    from flink_training_exercises_spark.operators.graph import (
        edge_jaccard_similarity,
    )
    from flink_training_exercises_spark.plans import graphs as graphs_plan

    rows = edge_jaccard_similarity(
        graphs_plan.edges_view(spark, sf_small)
    ).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["node_a"] < r["node_b"]
        assert (r["node_a"], r["node_b"]) not in seen
        seen.add((r["node_a"], r["node_b"]))
        assert 0 <= r["common_neighbors"] <= min(r["degree_a"], r["degree_b"]) - 1
        assert 0 <= r["jaccard_ppm"] <= 1000000


def _md5mod(name, mod=10):
    import hashlib

    return int(hashlib.md5(name.encode()).hexdigest()[:15], 16) % mod


def test_temporal_reachability_time_respecting_hand_case(spark):
    """The defining temporal property: a hop-shorter path whose edge
    times DECREASE is unreachable while a longer non-decreasing one
    works. Seed = 'v9' (md5 % 10 == 0, asserted); the direct a->d edge
    at t=5 is infeasible after arriving at a at t=10, so d's earliest
    arrival is 20 via c."""
    from flink_training_exercises_spark.operators.graph import (
        temporal_reachability,
    )

    assert _md5mod("v9") == 0
    others = [n for n in ("a", "c", "d") if _md5mod(n) != 0]
    assert others == ["a", "c", "d"], "hand-case names must not be seeds"
    tedges = spark.createDataFrame(
        [
            ("v9", "a", 10),
            ("a", "d", 5),    # infeasible: 5 < arrival(a)=10
            ("v9", "c", 1),
            ("c", "d", 20),
        ],
        "src string, dst string, t long",
    )
    got = {
        r["vertex"]: r["arrival_ms"]
        for r in temporal_reachability(tedges, rounds=4).collect()
    }
    assert got == {"v9": 0, "a": 10, "c": 1, "d": 20}


def test_temporal_reachability_matches_python_replay(spark, sf_small):
    """Fixed-round earliest-arrival relaxation replayed in python over
    the real timed edge list equals the Spark loop."""
    from collections import defaultdict

    from flink_training_exercises_spark.operators.graph import (
        temporal_reachability,
    )
    from flink_training_exercises_spark.plans import graphs as gp

    te = gp.timed_edges_view(spark, sf_small)
    edges = [(r["src"], r["dst"], r["t"]) for r in te.collect()]
    verts = {v for e in edges for v in e[:2]}
    arr = {v: 0 for v in verts if _md5mod(v) == 0}
    out_adj = defaultdict(list)
    for s, d, t in edges:
        if s != d:
            out_adj[s].append((d, t))
    for _ in range(4):
        relax = {}
        for u, a in arr.items():
            for v, t in out_adj[u]:
                if t >= a and (v not in relax or t < relax[v]):
                    relax[v] = t
        for v, t in relax.items():
            if v not in arr or t < arr[v]:
                arr[v] = t
    got = {
        r["vertex"]: r["arrival_ms"]
        for r in temporal_reachability(te).collect()
    }
    assert got == arr and got


def test_k_truss_hand_computed(spark):
    """K4 + a pendant triangle: every K4 edge sits in 2 triangles, the
    pendant triangle's edges in 1. At k=4 (threshold 2) round one peels
    the pendant triangle and the K4 survives intact with support 2; at
    k=5 (threshold 3) everything peels to empty."""
    from flink_training_exercises_spark.operators.graph import k_truss_edges

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendant = [(4, 5), (4, 6), (5, 6)]
    edges = spark.createDataFrame(k4 + pendant, "src long, dst long")
    got = {
        (r["a"], r["b"]): r["support"]
        for r in k_truss_edges(edges, k=4).collect()
    }
    assert got == {(a, b): 2 for a, b in k4}
    assert k_truss_edges(edges, k=5).count() == 0


def test_k_truss_contracts(spark, sf_small):
    """Truss nesting ((k+1)-truss edge set is a subset of the k-truss),
    converged survivors all meet the support threshold, and the
    early-exit loop equals a longer unroll (the fixpoint-identity
    contract with the oracle)."""
    from flink_training_exercises_spark.operators.graph import k_truss_edges
    from flink_training_exercises_spark.plans.graphs import truss_edges_view

    e = truss_edges_view(spark, sf_small)
    t4 = {(r["a"], r["b"]): r["support"] for r in k_truss_edges(e, k=4).collect()}
    t5 = {(r["a"], r["b"]) for r in k_truss_edges(e, k=5, max_rounds=10).collect()}
    assert t5 <= set(t4)
    # sf0.001 converges by round 4 (measured 182 -> 26), inside the cap
    assert t4 and min(t4.values()) >= 2
    t4_long = {
        (r["a"], r["b"]): r["support"]
        for r in k_truss_edges(e, k=4, max_rounds=12).collect()
    }
    assert t4 == t4_long


# Each operator's catalog entry equals its DuckDB twin under compare(); the
# run is the one tests/test_catalog.py shares through conftest's CatalogRuns.


def test_clustering_coefficients_match_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("clustering_coefficients") == []


def test_random_walks_match_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("random_walks") == []


def test_degree_assortativity_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("degree_assortativity") == []


def test_edge_jaccard_similarity_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("edge_jaccard_similarity") == []


def test_temporal_reachability_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("temporal_reachability") == []


def test_k_truss_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("k_truss_edges") == []
