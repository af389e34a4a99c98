"""Sketch family + z-order layout: hand-computed invariants.

The cross-engine value parity is proven by test_catalog.py's oracle
differential (and tools/check_oracle.py at sf0.01); these tests pin the
SEMANTICS against independently-computed expectations -- a pure-Python
HLL/CMS/Morton reimplementation over tiny inputs -- so an operator edit
that keeps both engines in (wrong) agreement still fails.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from flink_training_exercises_spark.operators import sketches


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def _hll_reference(keys, p=sketches.HLL_P):
    """Independent pure-Python HLL raw estimator (same hash/register spec)."""
    m = 1 << p
    regs = {}
    for k in keys:
        h = _md5_long(str(k))
        bucket = h % m
        w32 = (h // m) % (1 << 32)
        rho = 33 if w32 == 0 else 33 - w32.bit_length()
        regs[bucket] = max(regs.get(bucket, 0), rho)
    s = sum(1 << (33 - mj) for mj in regs.values()) + (m - len(regs)) * (1 << 33)
    return float(sketches.HLL_NUMERATOR_LIT) / s, m - len(regs)


def test_hll_matches_reference_estimator(spark):
    keys = list(range(1, 401))
    df = spark.createDataFrame(
        [(k, "g") for k in keys], "user_id long, event_type string"
    )
    row = sketches.hll_distinct(df).collect()[0]
    expect_est, expect_empty = _hll_reference(keys)
    assert row["n_exact"] == 400
    assert row["hll_estimate"] == pytest.approx(round(expect_est, 4), abs=1e-9)
    assert row["n_empty_buckets"] == expect_empty
    # raw HLL on 400 keys / 512 buckets is biased but must be in the right
    # ballpark -- a register-arithmetic bug lands orders of magnitude away
    assert 200 < row["hll_estimate"] < 800


def test_hll_is_insensitive_to_duplication(spark):
    """Defining sketch property: registers are max-folds, so feeding every
    key 7 times must produce the identical estimate row."""
    keys = list(range(1, 101))
    once = spark.createDataFrame(
        [(k, "g") for k in keys], "user_id long, event_type string"
    )
    many = spark.createDataFrame(
        [(k, "g") for k in keys for _ in range(7)],
        "user_id long, event_type string",
    )
    r1 = sketches.hll_distinct(once).collect()[0]
    r7 = sketches.hll_distinct(many).collect()[0]
    assert r1["hll_estimate"] == r7["hll_estimate"]
    assert r1["n_empty_buckets"] == r7["n_empty_buckets"]


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------


def test_countmin_overcount_is_one_sided_and_exact_when_sparse(spark):
    counts = spark.createDataFrame(
        [(f"tok{i}", 100 - i) for i in range(30)], "token string, cnt long"
    )
    out = sketches.countmin_freq(counts, top_k=10).collect()
    assert len(out) == 10
    by_rank = sorted(out, key=lambda r: r["rank"])
    # top-10 by count desc = tok0..tok9
    assert [r["token"] for r in by_rank] == [f"tok{i}" for i in range(10)]
    for r in out:
        assert r["overcount"] >= 0  # CMS one-sided guarantee
        assert r["est_cnt"] >= r["exact_cnt"]
    # 30 keys in 4x1024 cells: collisions are possible but an est more than
    # the total remaining mass away means the sketch summed the wrong cells
    total = sum(100 - i for i in range(30))
    for r in out:
        assert r["est_cnt"] <= total


def test_countmin_estimate_equals_reference_min(spark):
    """Independent recomputation of the d probe cells for one token."""
    counts_rows = [(f"w{i}", i + 1) for i in range(50)]
    counts = spark.createDataFrame(counts_rows, "token string, cnt long")
    out = {
        r["token"]: r["est_cnt"]
        for r in sketches.countmin_freq(counts, top_k=50).collect()
    }
    # rebuild the sketch in python with the same params
    P = (1 << 31) - 1
    cells = {}
    for tok, cnt in counts_rows:
        h = _md5_long(tok)
        for r, (a, b) in enumerate(sketches._CMS_PARAMS):
            bucket = ((a * (h % P) + b) % P) % sketches.CMS_WIDTH
            cells[(r, bucket)] = cells.get((r, bucket), 0) + cnt
    for tok, _ in counts_rows:
        h = _md5_long(tok)
        est = min(
            cells[(r, ((a * (h % P) + b) % P) % sketches.CMS_WIDTH)]
            for r, (a, b) in enumerate(sketches._CMS_PARAMS)
        )
        assert out[tok] == est, tok


# ---------------------------------------------------------------------------
# Z-order
# ---------------------------------------------------------------------------


def _morton(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for k in range(bits):
        z |= ((x >> k) & 1) << (2 * k)
        z |= ((y >> k) & 1) << (2 * k + 1)
    return z


def test_zorder_matches_reference_interleave(spark):
    docs = spark.createDataFrame(
        [(1, 5, "alpha"), (2, 65535, "beta"), (3, 70000, "alpha"), (4, 0, "gamma")],
        "doc_id long, n_chars long, source string",
    )
    out = {r["doc_id"]: r for r in sketches.zorder_layout(docs).collect()}
    for doc_id, n_chars, src in [(1, 5, "alpha"), (2, 65535, "beta"), (3, 70000, "alpha"), (4, 0, "gamma")]:
        x = min(n_chars, 65535)
        y = _md5_long(src) % 65536
        r = out[doc_id]
        assert r["zx"] == x and r["zy"] == y
        assert r["zaddr"] == _morton(x, y)
        assert r["z_shard"] == _morton(x, y) // (1 << 26)
        assert 0 <= r["z_shard"] < sketches.ZORDER_SHARDS


def test_zorder_shards_bound_both_dimensions(spark):
    """The layout's point: within one z-shard, the x-range spanned is at
    most 1/8 of the full range (top 3 shard bits come from each dimension's
    top 3 bits), so min/max file stats prune on BOTH columns."""
    rows = [(i, (i * 7919) % 65536, f"s{i % 11}") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long, source string")
    stats = (
        sketches.zorder_layout(docs)
        .groupBy("z_shard")
        .agg(F.min("zx").alias("xmin"), F.max("zx").alias("xmax"),
             F.min("zy").alias("ymin"), F.max("zy").alias("ymax"))
        .collect()
    )
    for r in stats:
        assert r["xmax"] - r["xmin"] <= 65536 // 8
        assert r["ymax"] - r["ymin"] <= 65536 // 8


def test_hll_merge_law_exact(spark):
    from flink_training_exercises_spark.operators.sketches import hll_merge_demo

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(500)], "k long, shard long"
    )
    row = hll_merge_demo(df, "k", "shard", n_shards=3).collect()[0]
    # max-of-maxes = max: merged sketch must EQUAL the direct sketch
    assert row["est_equal"] is True
    assert row["merged_estimate"] == row["direct_estimate"]
    assert row["n_exact"] == 500
    # the RAW estimator is reported (no linear-counting correction -- see
    # sketches.py docstring), which biases LOW when n ~ m: only sanity
    assert 0 < row["direct_estimate"] < 1000


def test_hll_merge_invariant_to_shard_count(spark):
    from flink_training_exercises_spark.operators.sketches import hll_merge_demo

    df = spark.createDataFrame(
        [(i * 31 + 7, i) for i in range(300)], "k long, shard long"
    )
    ests = {
        n: hll_merge_demo(df, "k", "shard", n_shards=n).collect()[0][
            "merged_estimate"
        ]
        for n in (1, 2, 8)
    }
    # sharding is presentation only -- the merged sketch is shard-invariant
    assert len(set(ests.values())) == 1


def test_zonemap_audit_layout_invariants(spark, sf_small):
    """Matched-row counts are identical across layouts (placement cannot
    change which rows satisfy a predicate); the scaled z-layout never scans
    more shards than naive for either predicate; the raw z-layout's
    category pruning beats naive."""
    from flink_training_exercises_spark.operators.sketches import (
        zonemap_pruning_audit,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    out = {r["layout"]: r for r in zonemap_pruning_audit(docs).collect()}
    assert set(out) == {"naive", "zorder", "zorder_scaled"}
    assert (
        out["naive"]["rows_matched_len"]
        == out["zorder"]["rows_matched_len"]
        == out["zorder_scaled"]["rows_matched_len"]
    )
    assert (
        out["naive"]["rows_matched_cat"]
        == out["zorder"]["rows_matched_cat"]
        == out["zorder_scaled"]["rows_matched_cat"]
    )
    assert out["zorder_scaled"]["shards_scanned_len"] <= out["naive"]["shards_scanned_len"]
    assert out["zorder_scaled"]["shards_scanned_cat"] <= out["naive"]["shards_scanned_cat"]
    assert out["zorder"]["shards_scanned_cat"] < out["naive"]["shards_scanned_cat"]


def test_histogram_merge_law_and_median_walk(spark):
    # values 0.01..1.00 cents 1..100, lo=1 hi=100, width=(99 div 20)+1=5;
    # direct == merged by construction of the law; est_p50 = lower edge of
    # the first bin whose cumulative count reaches 50 (bin 9 covers 46..50
    # -> lower edge 46); exact interpolated median = 50.5 cents
    rows = [(i, i / 100.0) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    r = sketches.histogram_merge_demo(df).first()
    assert r["hist_equal"] is True
    assert r["n_shards"] == 4 and r["n_bins"] == 20
    assert r["est_p50_cents"] == 46
    assert r["exact_p50_cents"] == 50.5


def test_histogram_merge_invariant_to_shard_count(spark):
    rows = [(i, (i * 37 % 211) / 100.0) for i in range(500)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    a = sketches.histogram_merge_demo(df, n_shards=2).first()
    b = sketches.histogram_merge_demo(df, n_shards=13).first()
    assert a["hist_equal"] and b["hist_equal"]
    assert a["est_p50_cents"] == b["est_p50_cents"]
    assert a["exact_p50_cents"] == b["exact_p50_cents"]


def test_join_cardinality_estimate_properties(spark):
    """One-sidedness (est >= exact, the CMS a.b guarantee), exactness when
    nothing collides, and a python replay of the full estimator."""
    import hashlib

    from flink_training_exercises_spark.operators.sketches import (
        _CMS_PARAMS,
        CMS_WIDTH,
        join_cardinality_estimate,
    )
    from flink_training_exercises_spark.functions.hashing import MERSENNE_P

    r = spark.createDataFrame(
        [(1, 3), (2, 5), (3, 2)], "k long, cnt long"
    )
    s = spark.createDataFrame(
        [(2, 4), (3, 10), (9, 7)], "k long, cnt long"
    )
    [row] = join_cardinality_estimate(r, s).collect()
    assert row["n_exact"] == 5 * 4 + 2 * 10  # keys 2 and 3 overlap
    assert row["n_est"] >= row["n_exact"]
    assert row["overcount"] == row["n_est"] - row["n_exact"]
    # python replay of the estimator
    md5l = lambda x: int(  # noqa: E731
        hashlib.md5(str(x).encode()).hexdigest()[:15], 16
    )
    def cms(counts):
        cells = {}
        for k, c in counts:
            base = md5l(k)
            for d, (a, b) in enumerate(_CMS_PARAMS):
                bkt = ((a * base + b) % MERSENNE_P) % CMS_WIDTH
                cells[(d, bkt)] = cells.get((d, bkt), 0) + c
        return cells
    cr, cs = cms([(1, 3), (2, 5), (3, 2)]), cms([(2, 4), (3, 10), (9, 7)])
    dots = {}
    for (d, bkt), v in cr.items():
        if (d, bkt) in cs:
            dots[d] = dots.get(d, 0) + v * cs[(d, bkt)]
    assert row["n_est"] == min(dots.values())


def test_approx_topk_shard_union_hand_computed(spark):
    """Single shard makes the local cut global: top-2 of {a:5, b:3, c:2}
    survives with exact counts; c is cut (est 0 -> filtered)."""
    from flink_training_exercises_spark.operators.sketches import (
        approx_topk_shard_union,
    )

    docs = spark.createDataFrame(
        [(1, "a a a b", "en", "s", 7), (2, "a a b b c c", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [
        tuple(r)
        for r in approx_topk_shard_union(
            docs, n_shards=1, per_shard=2, k=3
        ).collect()
    ]
    assert got == [(1, "a", 5, 5, 0), (2, "b", 3, 3, 0)]


def test_approx_topk_shard_union_one_sided_and_saturating(spark, sf_small):
    """est <= exact on every row (per-shard cuts only ever drop counts);
    with per_shard large enough to keep the whole vocabulary, the union
    degenerates to the exact top-k (undercount 0 everywhere)."""
    from flink_training_exercises_spark.operators.sketches import (
        approx_topk_shard_union,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    rows = approx_topk_shard_union(docs).collect()
    assert rows and all(r["est_count"] <= r["exact_count"] for r in rows)
    sat = approx_topk_shard_union(docs, per_shard=100000).collect()
    assert sat and all(r["undercount"] == 0 for r in sat)


def _hilbert_xy2d_reference(n, x, y):
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_index_matches_python_reference(spark):
    """Full 8x8 grid vs the textbook xy2d walk -- and the address set is
    a permutation of 0..63 (the defining space-filling property)."""
    from flink_training_exercises_spark.operators.sketches import hilbert_index

    pts = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(pts, "px long, py long")
    got = {
        (r["px"], r["py"]): r["haddr"]
        for r in hilbert_index(df, "px", "py", bits=3).collect()
    }
    assert got == {(x, y): _hilbert_xy2d_reference(8, x, y) for x, y in pts}
    assert sorted(got.values()) == list(range(64))


def test_hilbert_index_sql_matches_python_reference():
    import duckdb

    from flink_training_exercises_spark.operators.sketches import (
        hilbert_index_sql,
    )

    pts = [(x, y) for x in range(8) for y in range(8)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ",".join(f"({x},{y})" for x, y in pts)
        + ") t(px, py)"
    )
    sql = hilbert_index_sql("SELECT px, py FROM pts", ["px", "py"], "px", "py", 3)
    got = {(r[0], r[1]): r[2] for r in con.execute(sql).fetchall()}
    assert got == {(x, y): _hilbert_xy2d_reference(8, x, y) for x, y in pts}


def test_hilbert_audit_layout_invariants(spark, sf_small):
    """Matched-row counts are placement-invariant (same rows, different
    shards), both layouts appear, and scanned <= total shards on every
    probe."""
    from flink_training_exercises_spark.operators.sketches import (
        hilbert_pruning_audit,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    rows = {r["layout"]: r for r in hilbert_pruning_audit(docs).collect()}
    assert set(rows) == {"zorder_scaled", "hilbert_scaled"}
    a, b = rows["zorder_scaled"], rows["hilbert_scaled"]
    for col in ("rows_matched_len", "rows_matched_cat", "rows_matched_box"):
        assert a[col] == b[col]
    for r in rows.values():
        for col in ("shards_scanned_len", "shards_scanned_cat", "shards_scanned_box"):
            assert 0 <= r[col] <= r["n_shards"]
        assert r["shards_scanned_box"] <= min(
            r["shards_scanned_len"], r["shards_scanned_cat"]
        )


def test_hilbert_index_consecutive_addresses_are_grid_neighbors():
    """The defining locality property (and what separates Hilbert from
    Morton): consecutive curve positions are always 4-neighbors on the
    grid -- no diagonal jumps. Checked exhaustively at 16x16 via the
    DuckDB form (same generated expressions as the Spark chain)."""
    import duckdb

    from flink_training_exercises_spark.operators.sketches import (
        hilbert_index_sql,
    )

    bits = 4
    n = 1 << bits
    pts = [(x, y) for x in range(n) for y in range(n)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ",".join(f"({x},{y})" for x, y in pts)
        + ") t(px, py)"
    )
    sql = hilbert_index_sql("SELECT px, py FROM pts", ["px", "py"], "px", "py", bits)
    by_d = {r[2]: (r[0], r[1]) for r in con.execute(sql).fetchall()}
    assert sorted(by_d) == list(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, by_d[d], by_d[d + 1])


def test_quantile_merge_shards_hand_computed(spark):
    """Single shard, m=3, cents 100..500: boundaries {1,3,5}th order
    stats weight 5 each (total 15). p25 est 100 vs exact 200 (err 100);
    p50 est==exact 300; p75 est 500 vs exact 400; p90 est==exact 500."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.sketches import (
        quantile_merge_shards,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(seconds=i), 7, "view", float(i + 1), None)
        for i in range(5)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r["pct"]: (r["est_cents"], r["exact_cents"], r["abs_err"])
        for r in quantile_merge_shards(ev, n_shards=1, m=3).collect()
    }
    assert got == {
        25: (100, 200, 100),
        50: (300, 300, 0),
        75: (500, 400, 100),
        90: (500, 500, 0),
    }


def test_quantile_merge_shards_exactness_and_monotonicity(spark, sf_small):
    """The exact column IS the discrete quantile (python-replayed on the
    collected cents), and both est and exact are monotone in pct."""
    import math

    from pyspark.sql import functions as F

    from flink_training_exercises_spark.operators.sketches import (
        quantile_merge_shards,
    )
    from flink_training_exercises_spark.sources import load_table

    ev = load_table(spark, "events", sf_small)
    rows = sorted(
        (r["pct"], r["est_cents"], r["exact_cents"])
        for r in quantile_merge_shards(ev).collect()
    )
    cents = sorted(
        r[0]
        for r in ev.select(
            F.floor(F.col("value") * 100 + 0.5).cast("bigint")
        ).collect()
    )
    n = len(cents)
    for pct, est, exact in rows:
        assert exact == cents[math.ceil(pct * n / 100) - 1]
        assert cents[0] <= est <= cents[-1]
    ests = [e for _, e, _ in rows]
    exacts = [x for _, _, x in rows]
    assert ests == sorted(ests) and exacts == sorted(exacts)


def test_hilbert_index_production_bitwidth_matches_reference(spark):
    """Sampled check at the PRODUCTION bit width (16, the audit's
    config): 128 seeded-random grid points through the Spark chain and
    the DuckDB chain both equal the textbook walk."""
    import random

    import duckdb

    from flink_training_exercises_spark.operators.sketches import (
        ZORDER_BITS,
        hilbert_index,
        hilbert_index_sql,
    )

    bits = ZORDER_BITS
    n = 1 << bits
    rng = random.Random(42)
    pts = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(128)})
    pts += [(0, 0), (n - 1, n - 1), (0, n - 1), (n - 1, 0)]
    want = {(x, y): _hilbert_xy2d_reference(n, x, y) for x, y in pts}

    df = spark.createDataFrame(pts, "px long, py long")
    got = {
        (r["px"], r["py"]): r["haddr"]
        for r in hilbert_index(df, "px", "py", bits).collect()
    }
    assert got == want

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ",".join(f"({x},{y})" for x, y in pts)
        + ") t(px, py)"
    )
    sql = hilbert_index_sql("SELECT px, py FROM pts", ["px", "py"], "px", "py", bits)
    duck = {(r[0], r[1]): r[2] for r in con.execute(sql).fetchall()}
    assert duck == want

def test_hll_intersection_estimate_contracts(spark, sf_small):
    """Structural identities of the inclusion-exclusion estimator: the
    intersection estimate is EXACTLY est_a + est_b - est_union (one
    expression tree, rounded once -- recompute within rounding), the
    union estimate dominates both sides (union registers are max-of-
    maxes, so its fold denominator can only shrink), and the exact
    columns match direct counts."""
    from flink_training_exercises_spark.operators.sketches import (
        hll_intersection_estimate,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    r = hll_intersection_estimate(docs).collect()[0]
    assert r["n_exact_both"] <= min(r["n_exact_a"], r["n_exact_b"])
    assert r["est_union"] >= max(r["est_a"], r["est_b"])
    assert r["est_intersection"] <= min(r["est_a"], r["est_b"])
    assert abs(
        r["est_intersection"] - (r["est_a"] + r["est_b"] - r["est_union"])
    ) < 1e-3


def test_hll_intersection_estimate_degenerate_sets(spark):
    """Disjoint posting lists: exact overlap 0. Identical posting lists:
    all four estimates collapse to one value (side and union registers
    coincide -- the merge-law identity)."""
    from flink_training_exercises_spark.operators.sketches import (
        hll_intersection_estimate,
    )

    disjoint = spark.createDataFrame(
        [(i, "aaa filler") for i in range(30)]
        + [(100 + i, "bbb filler") for i in range(30)],
        "doc_id long, text string",
    )
    r = hll_intersection_estimate(
        disjoint, term_a="aaa", term_b="bbb"
    ).collect()[0]
    assert (r["n_exact_a"], r["n_exact_b"], r["n_exact_both"]) == (30, 30, 0)
    assert abs(
        r["est_intersection"] - (r["est_a"] + r["est_b"] - r["est_union"])
    ) < 1e-3

    same = spark.createDataFrame(
        [(i, "ccc ddd filler") for i in range(40)],
        "doc_id long, text string",
    )
    r = hll_intersection_estimate(same, term_a="ccc", term_b="ddd").collect()[0]
    assert (r["n_exact_a"], r["n_exact_b"], r["n_exact_both"]) == (40, 40, 40)
    assert r["est_a"] == r["est_b"] == r["est_union"] == r["est_intersection"]


# Each operator's catalog entry equals its DuckDB twin under compare(); the
# run is the one tests/test_catalog.py shares through conftest's CatalogRuns.


def test_join_cardinality_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("join_cardinality_estimate") == []


def test_approx_topk_shard_union_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("approx_topk_shard_union") == []


def test_hilbert_audit_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("hilbert_pruning_audit") == []


def test_quantile_merge_shards_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("quantile_merge_shards") == []


def test_hll_intersection_estimate_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("hll_intersection_estimate") == []
