"""Property-based tests (hypothesis): structural invariants that hold for
ANY input, not just fixtures. Example counts are small because every example
runs Spark jobs."""

from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from flink_training_exercises_spark.functions.geo import (
    grid_cell,
    grid_cell_center_lat,
    grid_cell_center_lon,
)
from flink_training_exercises_spark.operators.sessions import sessionize
from flink_training_exercises_spark.operators.stateful import (
    travel_time_stateful,
    travel_time_window,
)

SETTLE = dict(max_examples=8, deadline=None)


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user
            st.integers(min_value=0, max_value=7200),   # offset seconds
            st.integers(min_value=0, max_value=10000),  # value cents
        ),
        min_size=1,
        max_size=30,
    )
)
def test_sessionize_partitions_events(spark, rows):
    base = datetime(2024, 1, 1)
    data = [
        (i, base + timedelta(seconds=off), u, "t", c / 100.0, None)
        for i, (u, off, c) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = sessionize(ev, gap_ms=600_000).collect()
    # partition property: every event in exactly one session
    assert sum(r["n_events"] for r in out) == len(rows)
    # value conservation in exact cents
    assert round(sum(r["total_value"] for r in out) * 100) == sum(c for _, _, c in rows)
    for r in out:
        assert r["session_start_ms"] <= r["session_end_ms"]
        # a session never outlives its event span + gaps
        assert r["session_end_ms"] - r["session_start_ms"] <= (r["n_events"] - 1) * 600_000


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-74.0499, max_value=-73.7001),
            st.floats(min_value=40.5001, max_value=40.9999),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_grid_cell_total_and_inverse(spark, pts):
    df = spark.createDataFrame(pts, "lon double, lat double").select(
        "lon", "lat", grid_cell("lon", "lat").alias("c")
    )
    rows = df.select(
        "lon",
        "lat",
        "c",
        grid_cell_center_lon("c").alias("clon"),
        grid_cell_center_lat("c").alias("clat"),
    ).collect()
    for r in rows:
        assert 0 <= r["c"] < 250 * 400
        assert abs(r["clon"] - r["lon"]) <= 0.0014 / 2 + 1e-9
        assert abs(r["clat"] - r["lat"]) <= 0.00125 / 2 + 1e-9


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5000),   # start offset s
            st.integers(min_value=60, max_value=3600),  # duration s
            st.integers(min_value=0, max_value=3),      # route index
        ),
        min_size=1,
        max_size=20,
    )
)
def test_travel_time_forms_agree_on_random_rides(spark, trips):
    routes = [
        ((-74.0, 40.75), (-73.95, 40.78)),
        ((-74.0, 40.75), (-73.99, 40.74)),
        ((-73.9, 40.8), (-73.95, 40.78)),
        ((-73.8, 40.6), (-73.81, 40.61)),
    ]
    base = datetime(2024, 1, 1)
    rows = []
    for rid, (off, dur, ri) in enumerate(trips):
        s, e = routes[ri]
        t0 = base + timedelta(seconds=off)
        t1 = t0 + timedelta(seconds=dur)
        rows += [
            (rid, True, t0, t0, t1, s[0], s[1], e[0], e[1], 1),
            (rid, False, t1, t0, t1, s[0], s[1], e[0], e[1], 1),
        ]
    rides = spark.createDataFrame(
        rows,
        "ride_id long, is_start boolean, ts timestamp_ntz, "
        "start_time timestamp_ntz, end_time timestamp_ntz, "
        "start_lon double, start_lat double, end_lon double, end_lat double, "
        "passenger_cnt int",
    )
    w = {(r["ride_id"], r["predicted_minutes"]) for r in travel_time_window(rides).collect()}
    s_ = {(r["ride_id"], r["predicted_minutes"]) for r in travel_time_stateful(rides).collect()}
    assert w == s_
    assert len(w) == len(trips)  # one prediction per START event


@settings(**SETTLE)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_md5_long_matches_duckdb_for_any_ascii_string(spark, strings):
    """The cross-engine keystone: md5_long (Spark conv/substring/md5) equals
    DuckDB's CAST('0x'||substr(md5(s),1,15) AS BIGINT) for arbitrary
    printable-ASCII strings -- every dedup/sampling/banding operator rests
    on this equality."""
    import duckdb

    from flink_training_exercises_spark.functions.hashing import md5_long, md5_long_sql

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", md5_long("s").alias("h")).collect()}
    con = duckdb.connect()
    for s in set(strings):
        expect = con.execute(f"SELECT {md5_long_sql('?')}", [s]).fetchone()[0]
        assert got[s] == expect, s


@settings(**SETTLE)
@given(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
        min_size=64,
        max_size=64,
    )
)
def test_random_projection_matches_python_reference(spark, vec):
    """Projection components equal an independent Python evaluation of the
    same +/-1 sign formula over the integer-scaled vector -- exactness, not
    just shape."""
    import math

    from flink_training_exercises_spark.operators.similarity import (
        _PROJ_PARAMS,
        random_projection,
    )

    emb = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    got = {r["dim"]: r["value"] for r in random_projection(emb).collect()}
    iv = [math.floor(float(__import__("numpy").float32(x)) * 1e6) for x in vec]
    for j, (a, b) in enumerate(_PROJ_PARAMS):
        expect = sum(x * (1 - 2 * ((i * a + b) % 2)) for i, x in enumerate(iv))
        assert got[j] == expect, j


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=3),  # k
    st.integers(min_value=1, max_value=4),  # max_rounds (may cap mid-peel)
)
def test_kcore_matches_sql_oracle_on_random_graphs(spark, edges, k, rounds):
    """Differential: the incremental Spark peeling must equal the oracle's
    exact round unroll on ANY small graph, for ANY cap -- including caps
    reached mid-peel (the zero-degree-survivor class the round-5 review
    caught) and self-loop / duplicate-edge noise."""
    import duckdb

    from flink_training_exercises_spark.operators.graph import kcore, kcore_sql

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["node"], r["core_degree"])
           for r in kcore(df, k=k, max_rounds=rounds).collect()}
    values = ", ".join(f"({a}, {b})" for a, b in edges)
    sql = kcore_sql(f"SELECT * FROM (VALUES {values}) t(src, dst)", k=k, rounds=rounds)
    want = set(duckdb.connect().execute(sql).fetchall())
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """Differential: alternating large-star/small-star must equal a plain
    union-find (component = min member) on ANY small graph, with
    self-loop and duplicate/reversed-edge noise."""
    from flink_training_exercises_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r["id"], r["comp"]) for r in connected_components(df).collect()}

    nodes = {n for e in edges for n in e if e[0] != e[1]}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    comps = {}
    for n in nodes:
        comps.setdefault(find(n), []).append(n)
    want = {(n, min(members)) for members in comps.values() for n in members}
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=4),  # hop cap
)
def test_sssp_matches_python_bfs(spark, edges, cap):
    """Differential: frontier BFS must equal a reference BFS truncated at
    the hop cap on ANY small digraph (parallel edges, self-loops,
    unreachable nodes)."""
    from collections import deque

    from flink_training_exercises_spark.operators.graph import sssp_hops

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["node"], r["hops"]) for r in sssp_hops(df, source=0, max_hops=cap).collect()}

    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
    dist = {0: 0}
    q = deque([0])
    while q:
        u = q.popleft()
        if dist[u] >= cap:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    assert got == set(dist.items())


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_label_propagation_fixpoint_is_component_min(spark, edges):
    from flink_training_exercises_spark.operators.graph import label_propagation

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, rounds=12).collect()
    }
    # python reference: union-find over symmetrized non-self-loop edges
    real = [(a, b) for a, b in edges if a != b]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min = {}
    for n in {x for e in real for x in e}:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[find(n)] for n in {x for e in real for x in e}}
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "dog", "cat", "sun"]),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_bm25_matches_python_reference(spark, docs_words):
    import math

    from flink_training_exercises_spark.operators.indexing import bm25_topk

    rows = [(i, " ".join(ws), "en", "s") for i, ws in enumerate(docs_words)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    queries = [("q", "red", "dog")]
    got = [
        (r["query_id"], r["rank"], r["doc_id"], r["n_matched"], r["score_x1e6"])
        for r in bm25_topk(df, queries=queries, k=4).collect()
    ]
    N = len(docs_words)
    T = sum(len(ws) for ws in docs_words)
    tf = {(i, w): ws.count(w) for i, ws in enumerate(docs_words) for w in ("red", "dog")}
    dfreq = {w: sum(1 for i in range(N) if tf[(i, w)] > 0) for w in ("red", "dog")}

    def term_score(i, w):
        t = tf[(i, w)]
        if t == 0:
            return None
        dl = len(docs_words[i])
        return ((2 * N - 2 * dfreq[w] + 1) / (2 * dfreq[w] + 1)) * (
            (22 * T * t) / (10 * T * t + 3 * T + 9 * dl * N)
        )

    cands = []
    for i in range(N):
        s1, s2 = term_score(i, "red"), term_score(i, "dog")
        if s1 is None and s2 is None:
            continue
        score = (s1 or 0.0) + (s2 or 0.0)
        n_matched = (s1 is not None) + (s2 is not None)
        cands.append((math.floor(score * 1e6), i, n_matched))
    cands.sort(key=lambda x: (-x[0], x[1]))
    want = [
        ("q", rank + 1, i, n, sc) for rank, (sc, i, n) in enumerate(cands[:4])
    ]
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=999),
            st.integers(min_value=0, max_value=99999),
        ),
        min_size=2,
        max_size=40,
    )
)
def test_histogram_merge_law_on_random_values(spark, rows):
    from flink_training_exercises_spark.operators.sketches import histogram_merge_demo

    df = spark.createDataFrame(
        [(eid, c / 100.0) for eid, c in rows], "event_id long, value double"
    )
    r = histogram_merge_demo(df, n_shards=3).first()
    assert r["hist_equal"] is True
    # the walk returns the lower edge of the bin holding the LOWER discrete
    # median element -- so it brackets that element within one bin width
    # and never exceeds the interpolated median
    cents = sorted(c for _, c in rows)
    lo, hi = cents[0], cents[-1]
    width = (hi - lo) // 20 + 1
    lower_median = cents[(len(cents) - 1) // 2]
    assert r["est_p50_cents"] <= lower_median < r["est_p50_cents"] + width
    assert r["est_p50_cents"] <= r["exact_p50_cents"]


@settings(**SETTLE)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_collocation_pmi_matches_python_reference(spark, docs_words):
    import math
    from collections import Counter

    from flink_training_exercises_spark.operators.indexing import collocation_pmi_topk

    rows = [(i, " ".join(ws), "en", "s") for i, ws in enumerate(docs_words)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = [
        (r["rank"], r["w1"], r["w2"], r["pair_count"], r["pmi_x1e3"])
        for r in collocation_pmi_topk(df, k=5, min_count=2).collect()
    ]
    pairs = Counter(
        (ws[i], ws[i + 1]) for ws in docs_words for i in range(len(ws) - 1)
    )
    uni = Counter(w for ws in docs_words for w in ws)
    N = sum(len(ws) for ws in docs_words)
    B = sum(max(len(ws) - 1, 0) for ws in docs_words)
    cands = []
    for (w1, w2), c in pairs.items():
        if c < 2:
            continue
        ratio = (c * N / B) * (N / uni[w1]) / uni[w2]
        cands.append((math.floor(ratio * 1e3), w1, w2, c))
    cands.sort(key=lambda x: (-x[0], x[1], x[2]))
    want = [
        (rank + 1, w1, w2, c, p) for rank, (p, w1, w2, c) in enumerate(cands[:5])
    ]
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        # tiny vocab + short docs force heavy gram collisions -- the
        # worst case for prefix pruning, the best case for finding a
        # false-negative bug
        st.lists(
            st.sampled_from(list("abcde")), min_size=1, max_size=8
        ).map(" ".join),
        min_size=2,
        max_size=12,
    )
)
def test_prefix_filter_jaccard_equals_bruteforce_on_random_docs(spark, texts):
    from flink_training_exercises_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, t, "en", "s") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        tuple(r) for r in dedup.prefix_filter_jaccard_pairs(docs).collect()
    }
    # python brute force over the same word-trigram sets
    def grams(t):
        w = [x for x in t.lower().split() if x]
        n = max(len(w) - 2, 1)
        return {" ".join(w[i : i + 3]) for i in range(n)}

    want = set()
    gs = [grams(t) for t in texts]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            inter = len(gs[i] & gs[j])
            tot = len(gs[i]) + len(gs[j])
            if 3 * inter >= tot:  # J >= 1/2
                want.add((i, j, inter, tot - inter))
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),     # user
            st.integers(min_value=0, max_value=7200),  # offset seconds
        ),
        min_size=1,
        max_size=25,
    ),
    st.sampled_from([1, 1000, 3_600_000, 1 << 40]),    # bucket_ms
)
def test_concurrency_profile_matches_python_sweep(spark, rows, bucket_ms):
    from flink_training_exercises_spark.operators.sessions import (
        concurrency_profile,
    )

    base = datetime(2024, 1, 1)
    gap = 600_000
    data = [
        (i, base + timedelta(seconds=off), u, "t", 1.0, None)
        for i, (u, off) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r["concurrency"], r["total_ms"], r["n_segments"])
        for r in concurrency_profile(ev, gap_ms=gap, bucket_ms=bucket_ms).collect()
    }
    # python reference: per-user gap sessions -> interval deltas -> sweep
    # any epoch base works: the output carries only DIFFERENCES of
    # boundary timestamps (durations, levels, counts), so a system-TZ
    # shift of the naive base cancels out
    base_ms = int(base.timestamp() * 1000)
    per_user = {}
    for i, (u, off) in enumerate(rows):
        per_user.setdefault(u, []).append(base_ms + off * 1000)
    deltas = {}
    for times in per_user.values():
        times.sort()
        start = prev = times[0]
        for t in times[1:]:
            if t - prev > gap:
                deltas[start] = deltas.get(start, 0) + 1
                deltas[prev + gap] = deltas.get(prev + gap, 0) - 1
                start = t
            prev = t
        deltas[start] = deltas.get(start, 0) + 1
        deltas[prev + gap] = deltas.get(prev + gap, 0) - 1
    ms_sorted = sorted(deltas)
    want_acc = {}
    lvl = 0
    for a, b in zip(ms_sorted, ms_sorted[1:]):
        lvl += deltas[a]
        dur, n = want_acc.get(lvl, (0, 0))
        want_acc[lvl] = (dur + (b - a), n + 1)
    want = {(l, d, n) for l, (d, n) in want_acc.items()}
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # sparse, NON-dense ids
            st.integers(min_value=0, max_value=2),   # label
        ),
        min_size=2,
        max_size=15,
        unique_by=lambda t: t[0],
    )
)
def test_contrastive_negatives_matches_python_reference(spark, rows):
    import hashlib

    from flink_training_exercises_spark.operators import sampling

    emb = spark.createDataFrame(
        [(i, [0.0], l) for i, l in rows],
        "vec_id long, embedding array<float>, label int",
    )
    got = sorted(
        map(tuple, sampling.contrastive_negatives(emb).collect())
    )
    ids = {i: l for i, l in rows}
    n = max(ids) + 1
    md5l = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    want = []
    for a, al in rows:
        rank = 0
        seen = set()
        for j in range(16):
            cand = md5l(f"{a}:neg:{j}") % n
            if cand == a or cand not in ids or ids[cand] == al:
                continue  # gap / self / same label: skipped probe
            if cand in seen:
                continue  # probe collision: dedup keeps the earliest j
            seen.add(cand)
            rank += 1
            if rank > 4:
                break
            want.append((a, rank, cand, ids[cand]))
    assert got == sorted(want)


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_clustering_coefficients_match_python_on_random_graphs(spark, edges):
    """Degrees, per-node triangles, and ppm coefficients vs a python
    reference on arbitrary small graphs with self-loop/duplicate noise."""
    from itertools import combinations

    from flink_training_exercises_spark.operators.graph import (
        clustering_coefficients,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_ppm"])
        for r in clustering_coefficients(df).collect()
    }
    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not simple:
        assert got == {}
        return
    nodes = sorted({v for e in simple for v in e})
    nbrs = {v: set() for v in nodes}
    for a, b in simple:
        nbrs[a].add(b)
        nbrs[b].add(a)
    want = {}
    for v in nodes:
        deg = len(nbrs[v])
        tri = sum(
            1 for x, y in combinations(sorted(nbrs[v]), 2) if (x, y) in simple
        )
        ppm = (1_000_000 * 2 * tri) // (deg * (deg - 1)) if deg >= 2 else 0
        want[v] = (deg, tri, ppm)
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=15,
    ),
    st.integers(min_value=1, max_value=4),  # steps
)
def test_random_walks_match_python_on_random_graphs(spark, edges, steps):
    """Every walk row vs a python replay of the md5 next-hop rule on
    arbitrary small directed graphs (sinks, cycles, self-loops)."""
    import hashlib

    from flink_training_exercises_spark.operators.graph import random_walks

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["start_node"], r["step"], r["node"])
        for r in random_walks(df, steps=steps).collect()
    }
    md5l = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    adj = {s: sorted(d) for s, d in adj.items()}
    verts = sorted({v for e in edges for v in e})
    want = set()
    for start in verts:
        cur = start
        want.add((start, 0, start))
        for t in range(1, steps + 1):
            if cur not in adj:
                break
            nb = adj[cur]
            cur = nb[md5l(f"{start}:{t}:{cur}") % len(nb)]
            want.add((start, t, cur))
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "fr"]),               # lang (QI)
            st.sampled_from(["s1", "s2", "s3"]),         # source (QI)
            st.integers(min_value=0, max_value=999),     # n_chars
        ),
        min_size=1,
        max_size=30,
    )
)
def test_t_closeness_emd_is_a_normalized_distance(spark, rows):
    """For ANY input: 0 <= emd_num <= emd_den when m > 1 (EMD over [0,1]-
    scaled bins is a normalized distance), den = k*N*(m-1), and a class
    that IS the whole corpus has EMD exactly 0."""
    from flink_training_exercises_spark.operators.pii import t_closeness_audit

    data = [
        (i, f"txt{i}", lang, src, n) for i, (lang, src, n) in enumerate(rows)
    ]
    docs = spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = t_closeness_audit(docs).collect()
    n_total = len(rows)
    m = len({n // 100 for _, _, n in rows})
    for r in out:
        assert r["emd_den"] == r["class_size"] * n_total * (m - 1)
        assert 0 <= r["emd_num"] <= max(r["emd_den"], 0)
    if len({(lang, src) for lang, src, _ in rows}) == 1:
        [r] = out
        assert r["emd_num"] == 0


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7200),   # offset seconds
            st.integers(min_value=0, max_value=50000),  # cents
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=6),
)
def test_downsample_lttb_size_and_selection(spark, pts, n_out):
    """For ANY series: the output has min(n, n_out + 2)-ish cardinality
    (endpoints + at most one pick per nonempty bucket), every output row
    is an input point, and both endpoints are present."""
    from flink_training_exercises_spark.operators.timeseries import (
        downsample_lttb,
    )

    base = datetime(2024, 1, 1)
    data = [
        (i, base + timedelta(seconds=off), 7, "a", c / 100.0, None)
        for i, (off, c) in enumerate(sorted(pts))
    ]
    ev = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = downsample_lttb(ev, n_out=n_out).collect()
    n = len(data)
    inputs = {(1704067200000 + off * 1000, c) for off, c in pts}
    got_pts = {(r["ts_ms"], r["cents"]) for r in out}
    assert got_pts <= inputs
    buckets = [r["bucket"] for r in out]
    assert buckets.count(-1) == 1
    if n >= 2:
        assert buckets.count(n_out) == 1
    assert len(out) <= min(n, n_out + 2)
    interior = [b for b in buckets if 0 <= b < n_out]
    assert len(interior) == len(set(interior))  # one winner per bucket


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),       # user
            st.integers(min_value=0, max_value=28800),   # offset seconds
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_attribution_conserves_credit_for_any_stream(spark, rows):
    """For ANY event stream: total credit == 1e6 x conversions that have
    at least one in-window touch (integer remainder handling makes this
    exact, never approximately-1e6)."""
    from flink_training_exercises_spark.operators.sessions import (
        attribution_credit,
    )

    base = datetime(2024, 1, 1)
    data = [
        (i, base + timedelta(seconds=off), u, t, 1.0, None)
        for i, (u, off, t) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = attribution_credit(ev).collect()
    total = sum(r["credit_ppm"] for r in out)
    win = 6 * 3600
    touches = [(u, off) for u, off, t in [(r[0], r[1], r[2]) for r in [(d[2], (d[1] - base).total_seconds(), d[3]) for d in data]] if False]
    # python replay of "conversion with >= 1 in-window touch"
    evs = [(u, (ts - base).total_seconds(), t) for _, ts, u, t, _, _ in data]
    attributed = sum(
        1
        for (u, cts, t) in evs
        if t == "purchase"
        and any(
            tu == u and tts <= cts and tts > cts - win
            for (tu, tts, tt) in evs
            if tt in ("view", "click")
        )
    )
    assert total == 1_000_000 * attributed


@settings(**SETTLE)
@given(
    st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=3),
        min_size=1,
        max_size=25,
    )
)
def test_approx_topk_one_sided_for_any_corpus(spark, words):
    """For ANY corpus and small per-shard cut: every estimate is a lower
    bound of the exact count, and a rank-1 row exists."""
    from flink_training_exercises_spark.operators.sketches import (
        approx_topk_shard_union,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(words[i : i + 3]) or words[0], "en", "s", 9) for i in range(len(words))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = approx_topk_shard_union(docs, n_shards=3, per_shard=2, k=5).collect()
    assert out and all(0 < r["est_count"] <= r["exact_count"] for r in out)
    assert min(r["rank"] for r in out) == 1


@settings(**SETTLE)
@given(
    st.lists(
        st.text(alphabet="xyz ", min_size=1, max_size=20),
        min_size=1,
        max_size=20,
    )
)
def test_heaps_curves_are_monotone_and_conserving(spark, texts):
    """For ANY corpus: all three cumulative curves are non-decreasing and
    the last checkpoint carries the exact corpus totals."""
    from flink_training_exercises_spark.operators.textstats import (
        heaps_vocab_growth,
    )

    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = heaps_vocab_growth(docs).orderBy("checkpoint").collect()
    for col in ("docs_cum", "tokens_cum", "vocab_cum"):
        vals = [r[col] for r in out]
        assert vals == sorted(vals)
    toks = [w for t in texts for w in t.lower().split() if w]
    last = out[-1]
    assert last["docs_cum"] == len(texts)
    assert last["tokens_cum"] == len(toks)
    assert last["vocab_cum"] == len(set(toks))


@settings(**SETTLE)
@given(
    st.lists(
        st.integers(min_value=0, max_value=100000),  # cents
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=2, max_value=9),           # m
)
def test_quantile_sketch_bounds_and_exact_column(spark, cents, m):
    """For ANY value list: the exact column replays the python discrete
    quantile, the estimate stays inside [min, max], and both columns are
    monotone along the percentiles."""
    import math

    from flink_training_exercises_spark.operators.sketches import (
        quantile_merge_shards,
    )

    base = datetime(2024, 1, 1)
    data = [
        (i, base + timedelta(seconds=i), 7, "view", c / 100.0, None)
        for i, c in enumerate(cents)
    ]
    ev = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    rows = sorted(
        (r["pct"], r["est_cents"], r["exact_cents"])
        for r in quantile_merge_shards(ev, n_shards=3, m=m).collect()
    )
    srt = sorted(cents)
    n = len(srt)
    for pct, est, exact in rows:
        assert exact == srt[math.ceil(pct * n / 100) - 1]
        assert srt[0] <= est <= srt[-1]
    assert [e for _, e, _ in rows] == sorted(e for _, e, _ in rows)
    assert [x for _, _, x in rows] == sorted(x for _, _, x in rows)


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "fr"]),
            st.text(alphabet="ab ", min_size=1, max_size=10),
            st.integers(min_value=0, max_value=400),
        ),
        min_size=2,
        max_size=15,
    )
)
def test_record_linkage_partitions_blocked_pairs(spark, rows):
    """For ANY blocked input: the decision classes partition the blocked
    pair space exactly (sum n_pairs per block == C(|block|, 2))."""
    from collections import Counter

    from flink_training_exercises_spark.operators.dedup import (
        record_linkage_scores,
    )

    data = [
        (i, txt, lang, "s", n) for i, (lang, txt, n) in enumerate(rows)
    ]
    docs = spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = Counter()
    for r in record_linkage_scores(docs).collect():
        got[(r["lang"], r["source"])] += r["n_pairs"]
    sizes = Counter((lang, "s") for lang, _, _ in rows)
    want = {k: n * (n - 1) // 2 for k, n in sizes.items() if n >= 2}
    assert dict(got) == want

@given(
    n_rows=st.integers(min_value=0, max_value=60),
    bulk=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=60, deadline=None)
def test_es_bulk_payloads_conserve_rows(n_rows, bulk):
    """Every input row indexes exactly once, in order, and batch cuts are
    exactly bulk_size documents except the final remainder (pure helper,
    no Spark session)."""
    import json as _json
    import math

    from flink_training_exercises_spark.streaming.sinks import es_bulk_payloads

    rows = [
        {
            "window_end_ms": i,
            "center_lat": 1.0,
            "center_lon": 2.0,
            "is_start": True,
            "cnt": i,
        }
        for i in range(n_rows)
    ]
    payloads = list(es_bulk_payloads(rows, index="ix", bulk_size=bulk))
    assert len(payloads) == math.ceil(n_rows / bulk)
    docs = []
    for j, p in enumerate(payloads):
        lines = p.strip("\n").split("\n")
        n_docs = len(lines) // 2
        assert len(lines) == 2 * n_docs
        if j < len(payloads) - 1:
            assert n_docs == bulk
        else:
            assert n_docs == n_rows - bulk * (len(payloads) - 1)
        docs += [_json.loads(d)["time"] for d in lines[1::2]]
    assert docs == list(range(n_rows))

@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),   # user
            st.integers(min_value=0, max_value=3),   # type index
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None)
def test_user_behavior_gini_matches_python_replay(spark, events):
    """STAGED round-9: the exact-ppm Gini equals the python fold on random
    per-user event multisets."""
    from collections import Counter, defaultdict

    from flink_training_exercises_spark.operators.sessions import (
        user_behavior_gini,
    )

    types = ["view", "click", "purchase", "signup"]
    rows = [(u, types[t]) for u, t in events]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {
        r["user_id"]: (r["n_events"], r["n_types"], r["gini_ppm"])
        for r in user_behavior_gini(df).collect()
    }
    per = defaultdict(Counter)
    for u, t in rows:
        per[u][t] += 1
    want = {}
    for u, c in per.items():
        n = sum(c.values())
        sumsq = sum(v * v for v in c.values())
        want[u] = (n, len(c), (1000000 * (n * n - sumsq)) // (n * n))
    assert got == want


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=20, deadline=None)
def test_edge_jaccard_matches_python_replay(spark, edges):
    """STAGED round-9: per-edge common-neighbor Jaccard equals an adjacency-
    set python replay on random graphs (self loops and duplicates
    ignored, like the operator)."""
    from collections import defaultdict

    from flink_training_exercises_spark.operators.graph import (
        edge_jaccard_similarity,
    )

    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not simple:
        return
    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "src string, dst string"
    )
    got = {
        (r["node_a"], r["node_b"]): (
            r["degree_a"], r["degree_b"],
            r["common_neighbors"], r["jaccard_ppm"],
        )
        for r in edge_jaccard_similarity(df).collect()
    }
    adj = defaultdict(set)
    for a, b in simple:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for a, b in simple:
        common = len(adj[a] & adj[b])
        union = len(adj[a]) + len(adj[b]) - common
        want[(str(a), str(b))] = (
            len(adj[a]), len(adj[b]), common, (1000000 * common) // union
        )
    assert got == want

@given(
    counts=st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=15)
)
@settings(max_examples=20, deadline=None)
def test_skew_profile_matches_python_replay(spark, counts):
    """STAGED round-9: the exact discrete p50/p95 walk, skew ppm, and salt
    ceiling equal a python replay on random per-key count multisets."""
    from flink_training_exercises_spark.operators.skew import skew_profile

    rows = [(f"k{i}",) for i, c in enumerate(counts) for _ in range(c)]
    df = spark.createDataFrame(rows, "user_id string")
    r = skew_profile(df).collect()[0]
    n_keys = len(counts)
    total = sum(counts)
    mx = max(counts)
    s = sorted(counts)

    def q(p):
        # value at rank ceil(p*n) == min c with cumcount*100 >= n*p
        import math

        return s[math.ceil(p * n_keys) - 1]

    assert tuple(r) == (
        n_keys,
        total,
        mx,
        q(0.5),
        q(0.95),
        (1000000 * mx * n_keys) // total,
        (mx * n_keys + total - 1) // total,
    )


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # window id
            st.integers(min_value=0, max_value=9),      # bin
            st.integers(min_value=1, max_value=50),     # cnt
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_quantile_from_binned_matches_python_walk(spark, rows):
    """STAGED windowed-quantile batch stage vs a literal python replay of
    the rank walk, for ANY histogram: per (window, pct), the selected bin
    is the one containing rank ceil(pct*n/100) in the cumulative order."""
    import math

    from flink_training_exercises_spark.streaming.queries import (
        quantile_from_binned,
    )

    bins = spark.createDataFrame(
        [(w * 1000, b, c) for w, b, c in rows],
        "window_end_ms long, bin long, cnt long",
    )
    pcts = (25, 50, 75, 90)
    got = {
        (r["window_end_ms"], r["pct"]): (r["est_floor_cents"], r["n_values"])
        for r in quantile_from_binned(bins, pcts=pcts, bin_cents=1000).collect()
    }
    want = {}
    by_w = {}
    for w, b, c in rows:
        by_w.setdefault(w * 1000, []).append((b, c))
    for w, bc in by_w.items():
        bc.sort()
        n = sum(c for _b, c in bc)
        for pct in pcts:
            rank = math.ceil(pct * n / 100)
            cum = 0
            for b, c in bc:
                cum += c
                if cum >= rank:
                    want[(w, pct)] = (b * 1000, n)
                    break
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.data(),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # user
            st.integers(min_value=0, max_value=5000),    # offset MICROseconds
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[1],
    ),
)
def test_scd2_fold_equals_batch_lead_for_any_event_set(spark, data, rows):
    """Generative form of the review-catch pin: for ANY event set (offsets
    span 5 ms, so same-millisecond collisions with event_id order inverted
    vs microsecond order are common) and ANY chronological chunking, the
    streaming SCD2 drain equals the batch (ts, event_id) lead window."""
    import tempfile as _tempfile
    import uuid as _uuid
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.streaming.queries import (
        run_scd2_maintenance_availablenow,
    )
    from flink_training_exercises_spark.streaming.sources import (
        STREAM_SCHEMAS,
        replay_to_files,
    )

    n_chunks = data.draw(st.integers(min_value=1, max_value=3))
    base = datetime(2024, 1, 1)
    base_ms = 1704067200000
    df = spark.createDataFrame(
        [
            (i, base + timedelta(microseconds=off), u, "t", 1.0, None)
            for i, (u, off) in enumerate(rows)
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    # mkdtemp + try/finally instead of tmp_path: hypothesis forbids
    # function-scoped fixtures under @given
    d = _tempfile.mkdtemp(prefix="scd2_prop_")
    try:
        replay_to_files(df, "ts", d, n_chunks=n_chunks)
        chunked = (
            spark.readStream.schema(STREAM_SCHEMAS["events"])
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        got = sorted(
            map(
                tuple,
                run_scd2_maintenance_availablenow(
                    chunked, f"scd2_prop_{_uuid.uuid4().hex[:8]}"
                ).collect(),
            )
        )
    finally:
        import shutil as _shutil

        _shutil.rmtree(d, ignore_errors=True)
    # python replay of the batch (ts, event_id) lead window
    by_user = {}
    for i, (u, off) in enumerate(rows):
        by_user.setdefault(u, []).append((off, i))
    want = []
    for u, evs in by_user.items():
        evs.sort()  # (microsecond offset, event_id)
        for j, (off, i) in enumerate(evs):
            nxt = evs[j + 1][0] if j + 1 < len(evs) else None
            want.append(
                (
                    u,
                    i,
                    base_ms + off // 1000,
                    None if nxt is None else base_ms + nxt // 1000,
                )
            )
    assert got == sorted(want)


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1000),  # event id
            st.integers(min_value=-50, max_value=50),  # key (negatives too)
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_bloom_skipping_audit_contracts_any_keys(spark, rows):
    """STAGED bloom skipping audit: for ANY key set (negative keys
    included -- md5 hashes the string form), neither index ever misses a
    containing shard, clustered truth is exactly one shard per probed
    key, and every scan count is bounded by probes x shards."""
    from flink_training_exercises_spark.operators.bloom import (
        bloom_skipping_audit,
    )

    ev = spark.createDataFrame(rows, "event_id long, user_id long")
    n_shards = 4
    got = {
        r["layout"]: r.asDict()
        for r in bloom_skipping_audit(
            ev, n_shards=n_shards, n_words=2, probe_mod=1
        ).collect()
    }
    n_keys = len({k for _i, k in rows})
    assert set(got) == {"hash", "clustered"}
    for layout, r in got.items():
        assert r["n_probes"] == n_keys  # probe_mod=1 probes every key
        assert r["true_pairs"] <= r["zonemap_scan_pairs"] <= n_keys * n_shards
        assert r["true_pairs"] <= r["bloom_scan_pairs"] <= n_keys * n_shards
        assert r["bloom_false_pos"] == r["bloom_scan_pairs"] - r["true_pairs"]
    assert got["clustered"]["true_pairs"] == n_keys


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),                      # event_type
            st.integers(min_value=-(10**7), max_value=10**7), # cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_benford_matches_python_reference(spark, rows):
    """The Benford audit equals a pure-python replay for ANY value list:
    same cents fixed point (c/100.0 round-trips exactly through
    floor(v*100 + 0.5) for |c| << 2^45), same positive-only filter, same
    string first digit, same floor-division ppm."""
    from flink_training_exercises_spark.operators.timeseries import (
        BENFORD_PPM,
        benford_value_audit,
    )

    df = spark.createDataFrame(
        [(t, c / 100.0) for t, c in rows], "event_type string, value double"
    )
    got = {
        (r["event_type"], r["digit"]): (r["n"], r["obs_ppm"], r["benford_ppm"], r["delta_ppm"])
        for r in benford_value_audit(df).collect()
    }
    counts: dict = {}
    for t, c in rows:
        if c > 0:
            d = int(str(c)[0])
            counts[(t, d)] = counts.get((t, d), 0) + 1
    totals: dict = {}
    for (t, _), n in counts.items():
        totals[t] = totals.get(t, 0) + n
    want = {
        (t, d): (
            n,
            10**6 * n // totals[t],
            BENFORD_PPM[d],
            10**6 * n // totals[t] - BENFORD_PPM[d],
        )
        for (t, d), n in counts.items()
    }
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.lists(st.integers(min_value=0, max_value=3), min_size=4, max_size=4),
            st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=6),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_minhash_similarity_matches_python_reference(spark, windows):
    """The consecutive-window similarity stage equals a pure-python
    replay for ANY signature/user layout: same adjacent pairing, same
    per-permutation match count, same distinct-set Jaccard with
    inclusion-exclusion union, same floor-division ppm. Signature
    values 0..3 force frequent cross-window collisions (the est side);
    duplicate users per window must not move the exact side."""
    from datetime import datetime, timezone

    from flink_training_exercises_spark.streaming.queries import (
        minhash_window_similarity,
    )

    ts = lambda ms: datetime.fromtimestamp(ms / 1e3, tz=timezone.utc).replace(
        tzinfo=None
    )
    sig_rows = [
        ((i + 1) * 1000, r, s)
        for i, (sig, _) in enumerate(windows)
        for r, s in enumerate(sig)
    ]
    event_rows = [
        (ts(i * 1000 + 10 + j), u)
        for i, (_, users) in enumerate(windows)
        for j, u in enumerate(users)
    ]
    sigs = spark.createDataFrame(sig_rows, "window_end_ms long, r long, sig long")
    events = spark.createDataFrame(event_rows, "ts timestamp_ntz, user_id long")
    got = sorted(
        map(
            tuple,
            minhash_window_similarity(sigs, events, k=4, window_ms=1000).collect(),
        )
    )
    want = []
    for i in range(len(windows) - 1):
        sa, ua = windows[i]
        sb, ub = windows[i + 1]
        m = sum(1 for r in range(4) if sa[r] == sb[r])
        a, b = set(ua), set(ub)
        inter = len(a & b)
        union = len(a) + len(b) - inter
        want.append(
            (
                (i + 1) * 1000,
                (i + 2) * 1000,
                4,
                m,
                10**6 * m // 4,
                10**6 * inter // union,
            )
        )
    assert got == sorted(want)


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=15,
    ),
    st.integers(min_value=3, max_value=5),  # k
)
def test_k_truss_matches_python_peeling(spark, edges, k):
    """The gated k-truss equals a pure-python peel on arbitrary small
    graphs with self-loop/duplicate noise: same canonical simple edges,
    same support-within-survivors recomputation, same early exit, same
    6-round cap, and the same zero-support-absent convention (an edge
    in no triangle produces no support row on either side)."""
    from flink_training_exercises_spark.operators.graph import k_truss_edges

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["a"], r["b"]): r["support"]
        for r in k_truss_edges(df, k=k).collect()
    }

    def support(E):
        nodes = {v for e in E for v in e}
        sup = {}
        for a, b in E:
            s = sum(
                1
                for c in nodes
                if c not in (a, b)
                and (min(a, c), max(a, c)) in E
                and (min(b, c), max(b, c)) in E
            )
            if s > 0:
                sup[(a, b)] = s
        return sup

    E = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    thr = k - 2
    want = None
    for _ in range(6):
        sup = support(E)
        survivors = {e for e, s in sup.items() if s >= thr}
        if survivors == E:
            want = sup
            break
        E = survivors
    if want is None:
        want = support(E)
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_edge_jaccard_matches_python_on_random_graphs(spark, edges):
    """Per-edge common-neighbor Jaccard vs a python reference on
    arbitrary small graphs with self-loop/duplicate noise: same
    canonical simple edges, same degree counts, same triangle-credited
    intersection, same inclusion-exclusion union and ppm floor."""
    from flink_training_exercises_spark.operators.graph import (
        edge_jaccard_similarity,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["node_a"], r["node_b"]): (
            r["degree_a"],
            r["degree_b"],
            r["common_neighbors"],
            r["jaccard_ppm"],
        )
        for r in edge_jaccard_similarity(df).collect()
    }
    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not simple:
        assert got == {}
        return
    nbrs: dict = {}
    for a, b in simple:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    for a, b in simple:
        common = len(nbrs[a] & nbrs[b])
        da, db = len(nbrs[a]), len(nbrs[b])
        want[(a, b)] = (da, db, common, 1_000_000 * common // (da + db - common))
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),                    # series key
            st.integers(min_value=0, max_value=100000),     # ts offset ms
            st.integers(min_value=-(10**6), max_value=10**6),  # cents
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_downsample_lttb_matches_python_reference(spark, rows):
    """LTOB vs a python reference on random per-key series: same
    (ms, id) total order, same equal-count bucket assignment, same
    exact-BIGINT doubled triangle area, same (area2 DESC, ms, id)
    argmax, same endpoint rows, same n <= 2 degenerate."""
    from flink_training_exercises_spark.operators.timeseries import (
        downsample_lttb,
    )

    base_ms = 1_704_067_200_000  # 2024-01-01T00:00:00Z
    ts = lambda ms: datetime.utcfromtimestamp((base_ms + ms) / 1e3)
    data = [
        (t, ts(off), c / 100.0, i) for i, (t, off, c) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_type string, ts timestamp_ntz, value double, event_id long"
    )
    n_out = 20
    got = sorted(
        (r["event_type"], r["bucket"], r["ts_ms"], r["cents"])
        for r in downsample_lttb(df, n_out=n_out).collect()
    )
    series: dict = {}
    for t, off, c in rows:
        series.setdefault(t, []).append((base_ms + off, c))
    want = []
    for t in series:
        pts = sorted(
            (base_ms + off, c, i)
            for i, (tt, off, c) in enumerate(rows)
            if tt == t
        )
        n = len(pts)
        want.append((t, -1, pts[0][0], pts[0][1]))
        if n >= 2:
            want.append((t, n_out, pts[-1][0], pts[-1][1]))
        best: dict = {}
        for rn in range(2, n):  # 1-indexed interior rows 2..n-1
            xp, yp, _ = pts[rn - 2]
            x, y, i = pts[rn - 1]
            xn, yn, _ = pts[rn]
            bucket = ((rn - 2) * n_out) // max(n - 2, 1)
            area2 = abs((xp - xn) * (y - yp) - (xp - x) * (yn - yp))
            key = (-area2, x, i)
            if bucket not in best or key < best[bucket][0]:
                best[bucket] = (key, x, y)
        for bucket, (_, x, y) in best.items():
            want.append((t, bucket, x, y))
    assert got == sorted(want)


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),            # user
            st.integers(min_value=0, max_value=50000),        # ts offset ms
            st.sampled_from(["view", "click", "purchase"]),   # type
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_attribution_credit_matches_python_reference(spark, rows):
    """U-shaped attribution vs a python reference on random event
    streams: same user-keyed window join, same (ts, event_id) touch
    order, same 40/20/40 split with the remainder on the LAST touch,
    same 1/2-touch degenerates -- and the conservation law (total
    credit == 1e6 x conversions with >= 1 touch) holds by construction
    of the reference."""
    from flink_training_exercises_spark.operators.sessions import (
        attribution_credit,
    )

    base_ms = 1_704_067_200_000
    window_ms = 10_000
    ts = lambda ms: datetime.utcfromtimestamp((base_ms + ms) / 1e3)
    data = [
        (i, ts(off), u, t, 1.0) for i, (u, off, t) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )
    got = {
        r["event_type"]: (r["n_touches"], r["credit_ppm"])
        for r in attribution_credit(df, window_ms=window_ms).collect()
    }
    end, total = 400_000, 1_000_000
    mid_pool = total - 2 * end
    agg: dict = {}
    for i, (u, off, t) in enumerate(rows):
        if t != "purchase":
            continue
        c_ms = base_ms + off
        touches = sorted(
            (base_ms + o2, j, t2)
            for j, (u2, o2, t2) in enumerate(rows)
            if u2 == u
            and t2 in ("view", "click")
            and base_ms + o2 <= c_ms
            and base_ms + o2 > c_ms - window_ms
        )
        n = len(touches)
        for rn, (_, _, t2) in enumerate(touches, start=1):
            if n == 1:
                credit = total
            elif n == 2:
                credit = total // 2
            elif rn == 1:
                credit = end
            elif rn == n:
                credit = end + mid_pool - (n - 2) * (mid_pool // (n - 2))
            else:
                credit = mid_pool // (n - 2)
            cnt, s = agg.get(t2, (0, 0))
            agg[t2] = (cnt + 1, s + credit)
    assert got == agg


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),                 # event_type
            st.integers(min_value=0, max_value=9),       # day index
            st.integers(min_value=-(10**5), max_value=10**5),  # cents
        ),
        min_size=2,
        max_size=25,
    )
)
def test_theil_sen_matches_python_reference(spark, rows):
    """Theil-Sen vs a python reference on random daily series: same
    exact-BIGINT daily sums, same one-division slopes (python floats
    ARE IEEE doubles, so slope multisets match bit for bit), same
    positional median including the even-count two-value average; types
    with < 2 distinct days are absent on both sides."""
    from flink_training_exercises_spark.operators.timeseries import (
        DAY_MS,
        theil_sen_trend,
    )

    base_ms = 1_704_067_200_000
    assert base_ms % DAY_MS == 0  # day-aligned so day index is exact
    ts = lambda d: datetime.utcfromtimestamp((base_ms + d * DAY_MS + 1000) / 1e3)
    df = spark.createDataFrame(
        [(t, ts(d), c / 100.0) for t, d, c in rows],
        "event_type string, ts timestamp_ntz, value double",
    )
    got = {
        r["event_type"]: (r["n_days"], r["n_pairs"], r["slope_cents_per_day"])
        for r in theil_sen_trend(df).collect()
    }
    daily: dict = {}
    for t, d, c in rows:
        daily[(t, d)] = daily.get((t, d), 0) + c
    by_type: dict = {}
    for (t, d), y in daily.items():
        by_type.setdefault(t, []).append((d, y))
    want = {}
    for t, pts in by_type.items():
        if len(pts) < 2:
            continue
        pts.sort()
        slopes = sorted(
            (yj - yi) / (dj - di)
            for i, (di, yi) in enumerate(pts)
            for dj, yj in pts[i + 1 :]
        )
        np = len(slopes)
        mid = [slopes[(np + 1) // 2 - 1], slopes[(np + 2) // 2 - 1]]
        med = mid[0] if mid[0] == mid[1] else (mid[0] + mid[1]) / 2.0
        want[t] = (len(pts), np, med)
    assert got == want


@settings(**SETTLE)
@given(
    st.lists(
        st.integers(min_value=0, max_value=9),  # user key per event
        min_size=1,
        max_size=30,
    )
)
def test_bloom_skipping_audit_matches_python_reference(spark, keys):
    """The Bloom-vs-zonemap skipping audit vs a full python replay
    (hashlib md5 + the same universal-hash family) on random key
    streams: same hash/clustered shard assignment, same per-shard
    zonemaps and 504-bit blooms, same md5-selected probe panel, same
    pair counts -- and the replay re-proves the no-false-negative
    contract (true <= bloom <= n_probes * n_shards) independently."""
    import hashlib

    from flink_training_exercises_spark.functions.hashing import (
        MERSENNE_P,
        hash_params,
    )
    from flink_training_exercises_spark.operators.bloom import (
        BLOOM_K,
        SKIP_SHARDS,
        SKIP_WORDS,
        bloom_skipping_audit,
    )

    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "event_id long, user_id long"
    )
    got = {
        r["layout"]: (
            r["n_probes"],
            r["true_pairs"],
            r["zonemap_scan_pairs"],
            r["bloom_scan_pairs"],
            r["bloom_false_pos"],
        )
        for r in bloom_skipping_audit(df).collect()
    }

    md5l = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    perm = lambda x, a, b: (a * (x % MERSENNE_P) + b) % MERSENNE_P
    params = hash_params(BLOOM_K, seed=0xB100F)
    m_bits = 63 * SKIP_WORDS

    def cells(k):
        base = md5l(str(k))
        return {
            ((perm(base, a, b) % m_bits) // 63, (perm(base, a, b) % m_bits) % 63)
            for a, b in params
        }

    su = set()  # (layout, shard, k)
    for i, k in enumerate(keys):
        su.add(("hash", md5l(str(i)) % SKIP_SHARDS, k))
        su.add(("clustered", md5l(str(k)) % SKIP_SHARDS, k))
    probes = sorted({k for k in keys if md5l(str(k)) % 7 == 0})
    want = {}
    for layout in ("hash", "clustered"):
        shards = sorted({s for (l, s, _) in su if l == layout})
        zmap = {
            s: (
                min(k for (l, s2, k) in su if l == layout and s2 == s),
                max(k for (l, s2, k) in su if l == layout and s2 == s),
            )
            for s in shards
        }
        bloom = {}
        for l, s, k in su:
            if l == layout:
                bloom.setdefault(s, set()).update(cells(k))
        true_pairs = sum(
            1 for p in probes for s in shards if (layout, s, p) in su
        )
        zpairs = sum(
            1
            for p in probes
            for s in shards
            if zmap[s][0] <= p <= zmap[s][1]
        )
        bpairs = sum(
            1
            for p in probes
            for s in shards
            if cells(p) <= bloom.get(s, set())
        )
        assert true_pairs <= bpairs <= len(probes) * SKIP_SHARDS
        want[layout] = (
            len(probes),
            true_pairs,
            zpairs,
            bpairs,
            bpairs - true_pairs,
        )
    if not probes:
        # no probe keys selected: the audit's inner joins yield no rows
        assert got == {}
        return
    assert got == want


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # src
            st.integers(min_value=0, max_value=6),   # dst
            st.integers(min_value=1, max_value=9),   # weight
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=20, deadline=None)
def test_degree_assortativity_matches_python_replay(spark, edges):
    """Random weighted digraphs: the five BIGINT sufficient statistics and
    the closed-form double r equal a python fold mirroring the exact
    operand tree (every op correctly-rounded IEEE, so == not approx)."""
    import math
    from collections import defaultdict

    from flink_training_exercises_spark.operators.graph import (
        degree_assortativity,
    )

    df = spark.createDataFrame(
        [(f"v{s}", f"v{d}", w) for s, d, w in edges],
        "src string, dst string, weight long",
    )
    [r] = degree_assortativity(df).collect()
    out_s, in_s = defaultdict(int), defaultdict(int)
    for s, d, w in edges:
        out_s[s] += w
        in_s[d] += w
    xy = [(out_s[s], in_s[d]) for s, d, _ in edges]
    n = len(xy)
    sx = sum(x for x, _ in xy)
    sy = sum(y for _, y in xy)
    sxx = sum(x * x for x, _ in xy)
    syy = sum(y * y for _, y in xy)
    sxy = sum(x * y for x, y in xy)
    assert (r["n_edges"], r["sum_out_strength"], r["sum_in_strength"]) == (
        n, sx, sy,
    )
    fn, fsx, fsy, fsxx, fsyy, fsxy = map(float, (n, sx, sy, sxx, syy, sxy))
    prod = (fn * fsxx - fsx * fsx) * (fn * fsyy - fsy * fsy)
    if prod > 0:
        assert r["assortativity_r"] == (fn * fsxy - fsx * fsy) / math.sqrt(prod)
    else:
        assert r["assortativity_r"] is None


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"]),
            min_size=0,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=20, deadline=None)
def test_rake_keywords_matches_python_replay(spark, texts):
    """Random small corpora: the full RAKE walk (statistical stopwords,
    phrase runs, deg/freq ppm word scores, occurrence-summed phrase
    scores, (score DESC, phrase ASC) top-k) equals a python replay."""
    from collections import Counter

    from flink_training_exercises_spark.operators.textstats import (
        rake_keywords,
    )

    n_stop, k = 2, 10
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [
        (r["rank"], r["phrase"], r["n_words"], r["score_ppm"])
        for r in rake_keywords(docs, n_stop=n_stop, k=k)
        .orderBy("rank")
        .collect()
    ]
    tok = {i: [w for w in t.lower().split() if w] for i, t in enumerate(texts)}
    freq_all = Counter(w for ws in tok.values() for w in ws)
    stops = set(
        w
        for w, _ in sorted(freq_all.items(), key=lambda kv: (-kv[1], kv[0]))[
            :n_stop
        ]
    )
    runs = []
    for ws in tok.values():
        cur = []
        for w in ws:
            if w in stops:
                if cur:
                    runs.append(cur)
                cur = []
            else:
                cur.append(w)
        if cur:
            runs.append(cur)
    freq, deg = Counter(), Counter()
    for run in runs:
        for w in run:
            freq[w] += 1
            deg[w] += len(run)
    ws_ppm = {w: (1000000 * deg[w]) // freq[w] for w in freq}
    phrases = {}
    for run in runs:
        p = " ".join(run)
        phrases[p] = (sum(ws_ppm[w] for w in run), len(run))
    want_sorted = sorted(
        ((sc, p, nw) for p, (sc, nw) in phrases.items()),
        key=lambda t: (-t[0], t[1]),
    )[:k]
    want = [
        (i + 1, p, nw, sc) for i, (sc, p, nw) in enumerate(want_sorted)
    ]
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=7200),   # offset seconds
            st.integers(min_value=0, max_value=3),      # type index
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=20, deadline=None)
def test_session_cooccurrence_lift_matches_python_replay(spark, events):
    """Random event streams: gap-sessionized baskets, pair counts, and the
    exact integer ppm lift equal a python replay of the whole walk
    (strictly-greater-than gap rule, DISTINCT (basket, type) items)."""
    from collections import Counter, defaultdict
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.sessions import (
        session_cooccurrence_lift,
    )

    gap_ms = 30 * 60 * 1000
    types = ["view", "click", "purchase", "signup"]
    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(seconds=off), u, types[t], 0.0, None)
        for i, (u, off, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    got = {
        (r["type_a"], r["type_b"]): (
            r["n_both"], r["n_a"], r["n_b"], r["lift_ppm"],
        )
        for r in session_cooccurrence_lift(df, gap_ms=gap_ms).collect()
    }
    per_user = defaultdict(list)
    for i, (u, off, t) in enumerate(events):
        per_user[u].append((off * 1000, i, types[t]))
    baskets = defaultdict(set)
    for u, evs in per_user.items():
        evs.sort()
        sid, prev = 0, None
        for ms, _, t in evs:
            if prev is None or ms - prev > gap_ms:
                sid += 1
            prev = ms
            baskets[(u, sid)].add(t)
    n_sessions = len(baskets)
    n_t = Counter(t for items in baskets.values() for t in items)
    n_both = Counter()
    for items in baskets.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                n_both[(s[i], s[j])] += 1
    want = {
        (a, b): (
            c,
            n_t[a],
            n_t[b],
            (1000000 * c * n_sessions) // (n_t[a] * n_t[b]),
        )
        for (a, b), c in n_both.items()
    }
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # type index
            st.integers(min_value=0, max_value=23),   # hour
            st.integers(min_value=0, max_value=59),   # minute
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None)
def test_chi_squared_independence_matches_python_replay(spark, events):
    """Random contingency tables: the full grid (zero cells included),
    exact BIGINT margins, integer expected_milli, and the double
    contribution over the identical left-associated tree equal a python
    fold (every float op correctly-rounded IEEE, so == not approx)."""
    from collections import Counter
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        chi_squared_independence,
    )

    types = ["view", "click", "purchase", "signup"]
    base = datetime(2024, 1, 1)  # midnight UTC
    rows = [
        (i, base + timedelta(hours=h, minutes=m), 1, types[t], 0.0, None)
        for i, (t, h, m) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r["event_type"], r["hour"]): (
            r["n"],
            r["row_total"],
            r["col_total"],
            r["expected_milli"],
            r["chi2_contrib"],
        )
        for r in chi_squared_independence(df).collect()
    }
    obs = Counter((types[t], h) for t, h, _ in events)
    tset = sorted({t for t, _ in obs})
    hset = sorted({h for _, h in obs})
    n_total = sum(obs.values())
    row_t = Counter()
    col_t = Counter()
    for (t, h), c in obs.items():
        row_t[t] += c
        col_t[h] += c
    want = {}
    for t in tset:
        for h in hset:
            n = obs.get((t, h), 0)
            r_, c_ = row_t[t], col_t[h]
            d = n_total * n - r_ * c_
            contrib = (float(d) * float(d)) / (
                float(n_total) * float(r_) * float(c_)
            )
            want[(t, h)] = (n, r_, c_, (1000 * r_ * c_) // n_total, contrib)
    assert got == want


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=0,
            max_size=6,
        ).map(" ".join),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=20, deadline=None)
def test_vocab_drift_halves_matches_python_replay(spark, texts):
    """Random corpora: the id-midpoint split, the ONE-pass conditional
    half counts, per-half top-k union, and the zero-guarded exact ppm
    rates equal a python replay of the whole walk."""
    from collections import Counter

    from flink_training_exercises_spark.operators.textstats import (
        vocab_drift_halves,
    )

    k = 3
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["token"]: (
            r["cnt_first"],
            r["cnt_second"],
            r["rate_first_ppm"],
            r["rate_second_ppm"],
            r["delta_ppm"],
        )
        for r in vocab_drift_halves(docs, k=k).collect()
    }
    mid = (0 + len(texts) - 1) // 2
    c1, c2 = Counter(), Counter()
    for i, t in enumerate(texts):
        # bare split() never yields empty strings, matching the
        # operator's F.filter(w != '') over the regex split
        for w in t.lower().split():
            (c1 if i <= mid else c2)[w] += 1
    vocab = set(c1) | set(c2)
    if not vocab:
        assert got == {}
        return
    n1, n2 = sum(c1.values()), sum(c2.values())
    top1 = sorted(vocab, key=lambda w: (-c1[w], w))[:k]
    top2 = sorted(vocab, key=lambda w: (-c2[w], w))[:k]
    want = {}
    for w in set(top1) | set(top2):
        r1 = (1000000 * c1[w]) // n1 if n1 > 0 else 0
        r2 = (1000000 * c2[w]) // n2 if n2 > 0 else 0
        want[w] = (c1[w], c2[w], r1, r2, r2 - r1)
    assert got == want


@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # label
            st.lists(
                st.integers(min_value=-300, max_value=300).map(
                    lambda c: c / 100.0
                ),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(max_examples=20, deadline=None)
def test_embedding_centroid_drift_matches_python_replay(spark, vecs):
    """Random labeled vectors: the quantized integer sums, the
    cross-multiplied |S*N - G*n| DIV (n*N) terms (abs BEFORE the
    division), and the per-label L1/max folds equal a python replay."""
    import math
    from collections import defaultdict

    from flink_training_exercises_spark.operators.similarity import (
        embedding_centroid_drift,
    )

    df = spark.createDataFrame(
        [(i, l, v) for i, (l, v) in enumerate(vecs)],
        "id long, label long, embedding array<double>",
    )
    got = {
        r["label"]: (r["n_vecs"], r["l1_drift_micro"], r["max_dim_drift_micro"])
        for r in embedding_centroid_drift(df).collect()
    }
    s = defaultdict(lambda: [0, 0, 0, 0])
    n = defaultdict(int)
    for l, v in vecs:
        n[l] += 1
        for d, x in enumerate(v):
            s[l][d] += math.floor(x * 1e6)
    gs = [sum(s[l][d] for l in s) for d in range(4)]
    nn = sum(n.values())
    want = {}
    for l in n:
        terms = [
            abs(s[l][d] * nn - gs[d] * n[l]) // (n[l] * nn) for d in range(4)
        ]
        want[l] = (n[l], sum(terms), max(terms))
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),     # type index
            st.integers(min_value=0, max_value=47),    # hour offset
            st.integers(min_value=0, max_value=8),     # value dollars
        ),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None)
def test_ks_two_sample_drift_matches_python_replay(spark, events):
    """Random two-sample splits: the exact-rational KS walk (global
    midpoint halving, per-type conditional cell counts, cumulative
    ECDFs, scaled-gap max with smallest-cents tie-break) equals a
    direct python fold -- every statistic is an integer, so == not
    approx."""
    from collections import Counter
    from datetime import timezone

    from flink_training_exercises_spark.operators.timeseries import (
        ks_two_sample_drift,
    )

    types = ["view", "click", "purchase"]
    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(hours=h), 1, types[t], float(v), None)
        for i, (t, h, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r["event_type"]: (
            r["n_first"],
            r["n_second"],
            r["ks_num"],
            r["ks_ppm"],
            r["ks_at_cents"],
        )
        for r in ks_two_sample_drift(df).collect()
    }

    def ms_of(h):
        dt = (base + timedelta(hours=h)).replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1000)

    all_ms = [ms_of(h) for _, h, _ in events]
    mid = (min(all_ms) + max(all_ms)) // 2
    want = {}
    for ti, tname in enumerate(types):
        cells = Counter()
        for t, h, v in events:
            if t != ti:
                continue
            half = 1 if ms_of(h) <= mid else 2
            cells[(v * 100, half)] += 1
        n1 = sum(c for (_, hf), c in cells.items() if hf == 1)
        n2 = sum(c for (_, hf), c in cells.items() if hf == 2)
        if n1 == 0 or n2 == 0:
            continue
        f1 = f2 = 0
        best, best_at = -1, None
        for cents in sorted({c for c, _ in cells}):
            f1 += cells.get((cents, 1), 0)
            f2 += cells.get((cents, 2), 0)
            d = abs(n2 * f1 - n1 * f2)
            if d > best:
                best, best_at = d, cents
        want[tname] = (n1, n2, best, (1000000 * best) // (n1 * n2), best_at)
    assert got == want


@given(
    series=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),     # type index
            st.integers(min_value=0, max_value=10),    # hour bucket
            st.integers(min_value=0, max_value=500),   # value cents
        ),
        min_size=2,
        max_size=30,
    )
)
@settings(max_examples=20, deadline=None)
def test_value_acf_lags_matches_python_replay(spark, series):
    """Random gapped hourly series: the lag pairing (both buckets
    present), the min-shifted exact BIGINT sums, and the closed-form r
    over the identical double tree equal a python fold (sqrt/div/mul/
    sub are correctly-rounded IEEE, so == not approx, None included)."""
    import math
    from collections import defaultdict

    from flink_training_exercises_spark.operators.timeseries import (
        value_acf_lags,
    )

    types = ["view", "click"]
    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(hours=h, minutes=i % 60), 1, types[t], v / 100.0, None)
        for i, (t, h, v) in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r["event_type"], r["lag"]): (
            r["n_pairs"],
            r["sum_x"],
            r["sum_y"],
            r["pearson_r"],
        )
        for r in value_acf_lags(df).collect()
    }
    # python fold: bucket sums (floor(v*100+0.5) re-quantizes exactly for
    # integer-cent inputs), per-type min shift, lag pairing, closed form
    bsum = defaultdict(int)
    for t, h, v in series:
        bsum[(types[t], h)] += v
    vmin = defaultdict(lambda: None)
    for (t, h), v in bsum.items():
        vmin[t] = v if vmin[t] is None else min(vmin[t], v)
    shifted = {(t, h): v - vmin[t] for (t, h), v in bsum.items()}
    want = {}
    for t in types:
        buckets = sorted(h for (tt, h) in shifted if tt == t)
        for lag in range(1, 7):
            pairs = [
                (shifted[(t, h)], shifted[(t, h + lag)])
                for h in buckets
                if (t, h + lag) in shifted
            ]
            if not pairs:
                continue
            n = len(pairs)
            sx = sum(x for x, _ in pairs)
            sy = sum(y for _, y in pairs)
            sxx = sum(x * x for x, _ in pairs)
            syy = sum(y * y for _, y in pairs)
            sxy = sum(x * y for x, y in pairs)
            prod = (float(n) * float(sxx) - float(sx) * float(sx)) * (
                float(n) * float(syy) - float(sy) * float(sy)
            )
            r = (
                (float(n) * float(sxy) - float(sx) * float(sy)) / math.sqrt(prod)
                if prod > 0
                else None
            )
            want[(t, lag)] = (n, sx, sy, r)
    assert got == want


@given(
    series=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),     # type index
            st.integers(min_value=0, max_value=9),     # day offset
            st.integers(min_value=0, max_value=5),     # value dollars
        ),
        min_size=2,
        max_size=30,
    )
)
@settings(max_examples=20, deadline=None)
def test_mann_kendall_trend_matches_python_replay(spark, series):
    """Random daily series (ties likely at 6 dollar levels): the exact
    integer S, the tie-corrected 18*Var(S), and the continuity-corrected
    z over the identical double tree equal a direct python fold --
    sqrt/div/sub are correctly-rounded IEEE, so == not approx, None
    included."""
    import math
    from collections import Counter, defaultdict

    from flink_training_exercises_spark.operators.timeseries import (
        mann_kendall_trend,
    )

    types = ["view", "click"]
    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(days=d), 1, types[t], float(v), None)
        for i, (t, d, v) in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r["event_type"]: (r["n_days"], r["s_stat"], r["var_s_x18"], r["z_mk"])
        for r in mann_kendall_trend(df).collect()
    }

    want = {}
    for ti, tname in enumerate(types):
        daily = defaultdict(int)
        for t, d, v in series:
            if t == ti:
                daily[d] += v * 100
        if len(daily) < 2:
            continue
        ys = [daily[d] for d in sorted(daily)]
        n = len(ys)
        s = sum(
            (ys[j] > ys[i]) - (ys[j] < ys[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie_sum = sum(
            t * (t - 1) * (2 * t + 5) for t in Counter(ys).values()
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie_sum
        if var18 > 0:
            num = s - ((s > 0) - (s < 0))
            z = num / math.sqrt(var18 / 18.0)
        else:
            z = None
        want[tname] = (n, s, var18, z)
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),     # user index
            st.integers(min_value=0, max_value=6),     # day offset
            st.one_of(st.none(), st.integers(min_value=0, max_value=9)),  # dollars
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None)
def test_rfm_segments_matches_python_replay(spark, events):
    """Random user/day/value triples (NULL values included): the
    value-collapsed strictly-below quantile maps and the BIGINT grid
    equal a direct python fold -- all-integer output, == not approx."""
    from collections import defaultdict

    from flink_training_exercises_spark.operators.sessions import rfm_segments

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(days=d), u, "a", None if v is None else float(v), None)
        for i, (u, d, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = sorted(map(tuple, rfm_segments(df).collect()))

    per = {}
    for u, d, v in events:
        last_d, f, m = per.get(u, (-1, 0, 0))
        per[u] = (max(last_d, d), f + 1, m + (0 if v is None else v * 100))
    max_d = max(ld for ld, _, _ in per.values())
    n = len(per)
    metrics = {u: (max_d - ld, f, m) for u, (ld, f, m) in per.items()}

    def qmap(idx):
        vals = [m[idx] for m in metrics.values()]
        return {
            v: min(3, 4 * sum(x < v for x in vals) // n) for v in set(vals)
        }

    qr, qf, qm = qmap(0), qmap(1), qmap(2)
    grid = defaultdict(lambda: [0, 0, 0])
    for u, (r, f, m) in metrics.items():
        cell = grid[(qr[r], qf[f], qm[m])]
        cell[0] += 1
        cell[1] += f
        cell[2] += m
    want = sorted(
        (rq, fq, mq, c[0], c[1], c[2]) for (rq, fq, mq), c in grid.items()
    )
    assert got == want


# ---------------------------------------------------------------------------
# Thresholded Levenshtein (ADVICE r13): the r13 C6 swap to the 3-arg
# F.levenshtein relies on Spark's banded DP returning EXACT distances for
# kept rows and -1 above the threshold. Pin that contract against a plain
# Wagner-Fischer python reference over random string pairs -- including
# unicode and large length gaps, the engine edge cases a data-driven A/B on
# current testdata cannot reach.
_LEV_ALPHABET = "ab é中\U0001f600"  # ascii, accented, CJK, astral


def _lev_ref(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[len(b)]


@settings(**SETTLE)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet=_LEV_ALPHABET, max_size=24),
            st.text(alphabet=_LEV_ALPHABET, max_size=24),
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=8),
)
def test_thresholded_levenshtein_matches_python_reference(spark, pairs, t):
    # one long-gap pair on top of whatever hypothesis drew
    pairs = pairs + [("", "a" * 20), ("中" * 15, "中")]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = {
        (r["a"], r["b"]): r["d"]
        for r in df.select(
            "a", "b", F.levenshtein("a", "b", t).alias("d")
        ).collect()
    }
    for a, b in pairs:
        ref = _lev_ref(a, b)
        want = ref if ref <= t else -1
        assert got[(a, b)] == want, (a, b, t, ref, got[(a, b)])
