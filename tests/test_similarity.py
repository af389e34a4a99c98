

def test_quantize_int8_hand_computed(spark):
    from flink_training_exercises_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            (1, [3.0, 4.0]),          # ||v||=5e6 scaled; q = [76, 101]
            (2, [0.0, 0.0]),          # zero-norm guard -> zeros
            (3, [-1.0, 0.0]),         # q = [-127, 0]
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    # v1 ints = [3e6, 4e6]; norm2 = 25e12; sqrt = 5e6
    # q = floor(127*3e6/5e6), floor(127*4e6/5e6) = floor(76.2), floor(101.6)
    assert out[1]["norm2"] == 25_000_000_000_000
    assert (out[1]["q_sum"], out[1]["q_l1"]) == (76 + 101, 76 + 101)
    assert (out[1]["q_min"], out[1]["q_max"]) == (76, 101)
    assert (out[2]["q_sum"], out[2]["q_l1"], out[2]["norm2"]) == (0, 0, 0)
    assert (out[3]["q_min"], out[3]["q_max"]) == (-127, 0)
    assert out[3]["q_l1"] == 127

def test_embedding_centroid_drift_hand_computed(spark):
    from flink_training_exercises_spark.operators.similarity import (
        embedding_centroid_drift,
    )

    # label 0: [1,0] and [0,1]  (S = (1e6, 1e6), n = 2)
    # label 1: [1,1]            (S = (1e6, 1e6), n = 1)
    # global: G = (2e6, 2e6), N = 3
    #   label 0 per dim: |1e6*3 - 2e6*2| // (2*3) = 1e6 // 6 = 166666
    #   label 1 per dim: |1e6*3 - 2e6*1| // (1*3) = 1e6 // 3 = 333333
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.0, 1.0], 0),
            (3, [1.0, 1.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r["label"]: (r["n_vecs"], r["l1_drift_micro"], r["max_dim_drift_micro"])
        for r in embedding_centroid_drift(emb).collect()
    }
    assert got == {0: (2, 333332, 166666), 1: (1, 666666, 333333)}


def test_embedding_centroid_drift_single_label_is_zero(spark):
    """One label owns the whole corpus -> its centroid IS the global
    centroid -> drift exactly 0 (the identity the integer cross-
    multiplication makes structural: S*N - G*n = S*n - S*n)."""
    from flink_training_exercises_spark.operators.similarity import (
        embedding_centroid_drift,
    )

    emb = spark.createDataFrame(
        [(i, [0.1 * i, -0.2 * i, 0.37], 7) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = embedding_centroid_drift(emb).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["label"], r["n_vecs"]) == (7, 5)
    assert r["l1_drift_micro"] == 0 and r["max_dim_drift_micro"] == 0


# Each operator's catalog entry equals its DuckDB twin under compare(); the
# run is the one tests/test_catalog.py shares through conftest's CatalogRuns.


def test_embedding_centroid_drift_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("embedding_centroid_drift") == []
