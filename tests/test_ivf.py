"""IVF ANN: determinism of the exact k-means and recall sanity vs brute
force."""

from pyspark.sql import functions as F

from flink_training_exercises_spark.operators.ivf import _assign, _train_quantizer, ivf_topk
from flink_training_exercises_spark.operators.similarity import _with_int_vec
from flink_training_exercises_spark.operators.similarity import topk_bruteforce
from flink_training_exercises_spark.sources import load_table


def _kmeans(emb):
    """The quantizer ivf_topk trains and the corpus assignment it probes:
    (assigned (id, v, nn, cid), centroid rows [(cid, c)])."""
    base = _with_int_vec(emb)
    cents = _train_quantizer(base)
    return _assign(base, cents), cents


def test_kmeans_is_deterministic(spark, sf_small):
    emb = load_table(spark, "embeddings", sf_small)
    a1, c1 = _kmeans(emb)
    a2, c2 = _kmeans(emb)
    assert {(cid, tuple(c)) for cid, c in c1} == {(cid, tuple(c)) for cid, c in c2}
    assert {(r["id"], r["cid"]) for r in a1.collect()} == {
        (r["id"], r["cid"]) for r in a2.collect()
    }


def test_kmeans_partitions_corpus(spark, sf_small):
    emb = load_table(spark, "embeddings", sf_small)
    assigned, cents = _kmeans(emb)
    n = emb.count()
    assert assigned.count() == n  # every vector in exactly one bucket
    assert assigned.select("cid").distinct().count() <= 8
    assert len(cents) == 8


def test_ivf_recall_vs_bruteforce(spark, sf_small):
    emb = load_table(spark, "embeddings", sf_small)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") % 25 == 0).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"]) for r in ivf_topk(emb).collect()
    }
    # IVF is approximate; with random embeddings and nprobe=2/8 buckets,
    # expect meaningful-but-partial recall. Row count can legitimately dip
    # below the exact count when a query's probed buckets hold <5 candidates.
    assert len(exact) == 100
    assert 0 < len(approx) <= len(exact)
    recall = len(exact & approx) / len(exact)
    assert recall > 0.1, f"recall collapsed: {recall}"


def test_pq_recall_and_determinism(spark, sf_small):
    """PQ-ADC is approximate: recall@5 vs exact brute force must be
    meaningful (codebooks trained on the real sample), and two runs must
    return identical rows (driver-side Lloyd + exact arithmetic)."""
    from flink_training_exercises_spark.operators.ivf import pq_topk

    emb = load_table(spark, "embeddings", sf_small)
    r1 = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in pq_topk(emb).collect()}
    r2 = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in pq_topk(emb).collect()}
    assert r1 == r2 and len(r1) == 100
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") % 25 == 0).collect()
    }
    approx = {(q, n) for q, n, _ in r1}
    recall = len(exact & approx) / len(exact)
    assert recall > 0.1, f"PQ recall collapsed: {recall}"


def test_ivf_pq_composition_sane(spark, sf_small):
    """Composed IVF-PQ: deterministic, bounded to probed buckets (every
    neighbor must share one of the query's nprobe buckets), nonzero
    recall vs brute force."""
    from flink_training_exercises_spark.operators.ivf import ivf_pq_topk

    emb = load_table(spark, "embeddings", sf_small)
    r1 = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ivf_pq_topk(emb).collect()}
    r2 = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ivf_pq_topk(emb).collect()}
    assert r1 == r2 and 0 < len(r1) <= 100
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") % 25 == 0).collect()
    }
    approx = {(q, n) for q, n, _ in r1}
    assert len(exact & approx) / len(exact) > 0.05


def test_index_staleness_audit_matches_composed_oracle(spark, sf_small, catalog_runs):
    """The stale-vs-fresh quantizer recall audit equals its catalog oracle
    (the CTE composition of the ivf oracle and the brute-force oracle); one
    row per quantizer, and each finds some but never more than the
    brute-force neighbors."""
    assert catalog_runs.problems("index_staleness_audit") == []
    from flink_training_exercises_spark.operators.ivf import (
        index_staleness_audit,
    )

    emb = load_table(spark, "embeddings", sf_small)
    got = index_staleness_audit(emb).collect()
    assert len(got) == 2
    hits = {m: h for m, h, _ in got}
    total = got[0][2]
    # both estimators found something, neither exceeds ground truth
    assert 0 < hits["stale"] <= total and 0 < hits["fresh"] <= total
