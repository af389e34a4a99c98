"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline, plus an LSH-bucketed
variant (formula-generated +/-1 random hyperplanes) as the scale path --
bucketing turns the all-pairs cross join into an equi-join on sign
signatures.

Cross-engine exactness: embeddings are scaled to integers (floor(x * 1e6))
before any arithmetic, so dot products and norms are exact BIGINTs and the
final cosine double is bit-identical in Spark and DuckDB regardless of
summation order. The scaling error (<= 1e-6 per element) is far below any
meaningful similarity resolution.

At real scale the brute-force path is a block-matrix product (mapInPandas
with numpy over broadcast query blocks -- see topk_bruteforce_pandas); the
Column-expression form here keeps everything in codegen and is the oracle-
checkable reference semantics.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash_params

EMB_SCALE = "1e6"
LSH_PLANES = 8
# (A, B) per hyperplane: component d of plane p is (1 - 2*((d*A + B) % 2))
_PLANE_PARAMS = [(3, 0), (5, 1), (7, 0), (11, 1), (13, 0), (17, 1), (19, 0), (23, 1)]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )


def _with_int_vec(df: DataFrame) -> DataFrame:
    """(id, v, nn): vec_id, int64 floor(embedding * EMB_SCALE), its norm."""
    # widen_scan: a small local parquet arrives as ONE split, which would
    # serialize every vector-arithmetic stage (and the nested-loop probe
    # side of the brute-force twin) onto one core; no-op at cluster scale
    from ..sources.loaders import widen_scan

    q = lambda x: F.floor(x.cast("double") * F.expr(EMB_SCALE)).cast("bigint")  # noqa: E731
    v = widen_scan(df).select(F.col("vec_id").alias("id"), F.transform("embedding", q).alias("v"))
    return v.withColumn("nn", _dot(F.col("v"), F.col("v")))


def _cosine(dot: Column, nna: Column, nnb: Column) -> Column:
    # zero-norm guard: ANSI mode errors on /0 (a degenerate all-zero vector);
    # define cosine(0-vec, ·) = 0. The SQL oracles carry the same CASE.
    return F.when((nna == 0) | (nnb == 0), F.lit(0.0)).otherwise(
        dot.cast("double") / (F.sqrt(nna.cast("double")) * F.sqrt(nnb.cast("double")))
    )


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k cut over (query_id, neighbor_id, cosine): deterministic
    (cosine DESC, neighbor_id ASC) ranking -- every ANN variant (brute
    force, LSH, IVF) and its oracle use this exact ordering."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def topk_bruteforce(emb: DataFrame, k: int = 5, query_filter: Column | None = None) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector (default: all).
    Ties broken by neighbor id for determinism. Output
    (query_id, neighbor_id, rank, cosine)."""
    base = _with_int_vec(emb)
    queries = base.where(query_filter) if query_filter is not None else base
    q, c = queries.alias("q"), base.alias("c")
    scored = q.crossJoin(c).where(F.col("q.id") != F.col("c.id")).select(
        F.col("q.id").alias("query_id"),
        F.col("c.id").alias("neighbor_id"),
        _cosine(_dot(F.col("q.v"), F.col("c.v")), F.col("q.nn"), F.col("c.nn")).alias(
            "cosine"
        ),
    )
    return rank_topk(scored, k)


def cosine_neardup_pairs(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold -- the embedding
    near-duplicate filter of a corpus pipeline."""
    base = _with_int_vec(emb)
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _cosine(_dot(F.col("a.v"), F.col("b.v")), F.col("a.nn"), F.col("b.nn")).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= threshold)
    )


def lsh_bucket(vec_int: Column, dim: int = 64, planes=None) -> Column:
    """Sign-signature bucket id from formula-generated +/-1 hyperplanes:
    bit p = [ sum_d v[d] * (1 - 2*((d*A_p + B_p) % 2)) > 0 ]. Integer dots ->
    exact. Collapses the O(n^2) join to an equi-join on this bucket.
    ``planes`` selects a (band's) slice of the hyperplane family."""
    def plane(a: int, b: int):
        return lambda x, d: x * (1 - 2 * ((d * F.lit(a) + F.lit(b)) % 2))

    bucket = None
    for p, (a, b) in enumerate(planes or _PLANE_PARAMS[:LSH_PLANES]):
        signed = F.zip_with(vec_int, F.sequence(F.lit(0), F.lit(dim - 1)), plane(a, b))
        dot = F.aggregate(signed, F.lit(0).cast("bigint"), lambda acc, v: acc + v)
        bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def topk_lsh(
    emb: DataFrame, k: int = 5, dim: int = 64, query_filter: Column | None = None
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine ranking. Same output shape as topk_bruteforce."""
    base = _with_int_vec(emb).withColumn(
        "bucket", lsh_bucket(F.col("v"), dim)
    )
    queries = base.where(query_filter) if query_filter is not None else base
    q, c = queries.alias("q"), base.alias("c")
    scored = (
        q.join(c, (F.col("q.bucket") == F.col("c.bucket")) & (F.col("q.id") != F.col("c.id")))
        .select(
            F.col("q.id").alias("query_id"),
            F.col("c.id").alias("neighbor_id"),
            _cosine(_dot(F.col("q.v"), F.col("c.v")), F.col("q.nn"), F.col("c.nn")).alias(
                "cosine"
            ),
        )
    )
    return rank_topk(scored, k)


def topk_bruteforce_pandas(
    emb: DataFrame, k: int = 5, query_filter: Column | None = None
) -> DataFrame:
    """The 100 TB-shaped brute force: only the (small, typically subsampled)
    QUERY set is collected and broadcast as a numpy block; the candidate
    corpus -- the side that is 100 TB -- streams through mapInPandas, one
    matmul per Arrow batch. Each batch emits its local top-k per query
    (<= |queries| * k rows per batch), and a final window rank cuts the
    global top-k over that small partial set, so neither the driver nor any
    executor ever holds the full table.

    BIT-IDENTICAL to the Column-expression brute force (and thus shares its
    SQL oracle in the gate): vectors are quantized exactly like
    ``_with_int_vec`` (floor(x*1e6) -> int64; the int64 matmul is exact --
    64 dims x 1e12 << 2^63) and the cosine is the same IEEE expression
    double(dot) / (sqrt(double(nn_q)) * sqrt(double(nn_c))). Per-batch
    top-k uses the same total order (cosine DESC, id ASC) as the global
    cut, so the union of batch-local top-ks provably contains the global
    top-k."""
    import numpy as np

    queries = emb.where(query_filter) if query_filter is not None else emb
    qrows = queries.select("vec_id", "embedding").collect()  # queries only, never the corpus
    qi = np.array([r["vec_id"] for r in qrows])
    qm = np.floor(np.array([r["embedding"] for r in qrows], dtype=np.float64) * 1e6).astype(
        np.int64
    )
    qnn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
    bcast = emb.sparkSession.sparkContext.broadcast((qi, qm, qnn))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qi, b_qm, b_qn = bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            cand = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 1e6
            ).astype(np.int64)
            cids = pdf["vec_id"].to_numpy()
            cnorm = np.sqrt((cand * cand).sum(axis=1).astype(np.float64))
            # zero-norm guard (cosine(0-vec, .) = 0 -- same semantics as the
            # Column-expression variants)
            denom = b_qn[:, None] * cnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(
                    denom > 0,
                    (b_qm @ cand.T).astype(np.float64) / np.where(denom > 0, denom, 1.0),
                    0.0,
                )
            out_q, out_n, out_c = [], [], []
            for row_q in range(len(b_qi)):
                sims = cos[row_q]
                idx = np.nonzero(cids != b_qi[row_q])[0]
                if idx.size == 0:
                    continue
                picked = idx[np.lexsort((cids[idx], -sims[idx]))][:k]
                out_q.append(np.full(picked.size, b_qi[row_q]))
                out_n.append(cids[picked])
                out_c.append(sims[picked])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    partial = emb.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )
    return rank_topk(partial, k)


NEARDUP_BANDS = 2  # bands of LSH_PLANES/NEARDUP_BANDS sign bits each


def cosine_neardup_pairs_lsh(emb: DataFrame, threshold: float = 0.4, dim: int = 64) -> DataFrame:
    """Scale path for cosine_neardup_pairs: banded sign-LSH candidate
    generation + exact integer-cosine verify -- the pattern of
    dedup.minhash_lsh_pairs applied to embeddings. Each vector gets one
    bucket per band (4 sign bits each with the default 8-plane family);
    candidates are pairs sharing any (band, bucket) key, found by an
    equi-join on a single fused int key instead of the O(n^2) theta-join;
    the exact cosine filter then runs only on candidates. Recall is
    band-bounded (pairs differing in every band are unseen) -- the oracle
    replicates the identical banding, and the all-pairs form remains the
    small-sf exact twin."""
    r = LSH_PLANES // NEARDUP_BANDS
    base = _with_int_vec(emb)
    band_keys = [
        # fused key: band index in the high bits, bucket (< 2^r) in the low
        (F.lit(b * (1 << r)) + lsh_bucket(F.col("v"), dim, planes=_PLANE_PARAMS[b * r : (b + 1) * r]))
        .cast("int")
        .alias(f"k{b}")
        for b in range(NEARDUP_BANDS)
    ]
    banded = base.select("id", F.explode(F.array(*band_keys)).alias("key"))
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b_, (F.col("a.key") == F.col("b.key")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va, vb = base.alias("va"), base.alias("vb")
    return (
        cand.join(va, F.col("id_a") == F.col("va.id"))
        .join(vb, F.col("id_b") == F.col("vb.id"))
        .select(
            "id_a",
            "id_b",
            _cosine(_dot(F.col("va.v"), F.col("vb.v")), F.col("va.nn"), F.col("vb.nn")).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss sign matrix)
# ---------------------------------------------------------------------------

PROJ_DIMS = 16
# one (a, b) pair per output dimension; sign of input dim i for output dim j
# is 1 - 2*((i*a_j + b_j) % 2) -- the formula-literal idiom of _PLANE_PARAMS,
# drawn once from the seeded PRNG and embedded identically in the SQL twin
_PROJ_PARAMS = hash_params(PROJ_DIMS, seed=0xBEEF)


def random_projection(emb: DataFrame) -> DataFrame:
    """Dimensionality reduction by a deterministic +/-1 sign matrix
    (Achlioptas-style JL transform): output dim j = sum_i v[i] * s_ji with
    s_ji = 1 - 2*((i*a_j + b_j) % 2). Exact BIGINT arithmetic over the
    integer-scaled vectors, so Spark and DuckDB agree bit-for-bit.

    Output long-format (vec_id, dim, value) -- one scan, a per-row
    projection, no shuffle until the caller aggregates. The projected
    vectors are the cheap input for downstream ANN (shorter dot products)
    or visualization; at 100 TB this is a map-only pass whose cost is
    out_dims * in_dims multiply-adds per row."""
    base = _with_int_vec(emb)
    comps = [
        F.aggregate(
            F.transform(
                F.col("v"),
                lambda x, i: x * (F.lit(1) - 2 * ((i.cast("bigint") * F.lit(a) + F.lit(b)) % 2)),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, e: acc + e,
        )
        for a, b in _PROJ_PARAMS
    ]
    return base.select(
        F.col("id").alias("vec_id"), F.posexplode(F.array(*comps)).alias("dim", "value")
    )


def random_projection_sql() -> str:
    comps = ", ".join(
        f"list_sum([v[i + 1] * (1 - 2 * ((i * {a} + {b}) % 2)) "
        f"for i in generate_series(0, {64 - 1})])"
        for a, b in _PROJ_PARAMS
    )
    return f"""
WITH base AS (
  SELECT vec_id,
         [CAST(floor(CAST(x AS DOUBLE) * {EMB_SCALE}) AS BIGINT) for x in embedding] AS v
  FROM embeddings
),
proj AS (
  SELECT vec_id, [{comps}] AS p FROM base
)
SELECT vec_id, CAST(generate_subscripts(p, 1) - 1 AS INT) AS dim,
       CAST(unnest(p) AS BIGINT) AS value
FROM proj
"""


def quantize_int8(df: DataFrame) -> DataFrame:
    """Int8 embedding quantization -- the 4x storage/bandwidth compression
    every large-scale vector pipeline applies before indexing: each vector
    is L2-normalized and its components mapped to ``floor(127 * x / ||x||)``
    (symmetric scalar quantization; zero-norm vectors quantize to zeros,
    same guard as cosine). Output is the per-vector quantization summary
    in EXACT integers -- (vec_id, norm2, q_sum, q_l1, q_min, q_max) -- so
    the gate hashes stable values; the q vector itself is the obvious
    payload column in production.

    Determinism: components are the integer-scaled embeddings (floor x*1e6,
    the package-wide convention), norm2 is an exact BIGINT dot, and the
    only float steps are one sqrt + one division on identical inputs
    (IEEE-deterministic) before an immediate floor back to BIGINT; the
    summary sums are integer folds, order-free.

    Scale shape: map-only (one projection, no shuffle, no state) --
    quantization composes with any downstream index build at scan speed.
    """
    v = _with_int_vec(df)
    sq = F.sqrt(F.col("nn").cast("double"))
    q = F.when(
        F.col("nn") > 0,
        F.transform(
            F.col("v"),
            lambda x: F.floor((F.lit(127).cast("bigint") * x) / sq).cast("bigint"),
        ),
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0).cast("bigint")))
    out = v.withColumn("q", q)
    fold = lambda c: F.aggregate(  # noqa: E731 -- local integer fold helper
        c, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return out.select(
        F.col("id").alias("vec_id"),
        F.col("nn").alias("norm2"),
        fold(F.col("q")).alias("q_sum"),
        fold(F.transform(F.col("q"), lambda x: F.abs(x))).alias("q_l1"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


def quantize_int8_sql() -> str:
    iv = f"[CAST(floor(CAST(x AS DOUBLE) * {EMB_SCALE}) AS BIGINT) for x in embedding]"
    return f"""
WITH iv AS (
  SELECT vec_id, {iv} AS v FROM embeddings
),
n AS (
  SELECT vec_id, v,
         CAST(list_sum([x * x for x in v]) AS BIGINT) AS nn
  FROM iv
),
q AS (
  SELECT vec_id, nn,
         CASE WHEN nn > 0
              THEN [CAST(floor(127 * x / sqrt(CAST(nn AS DOUBLE))) AS BIGINT)
                    for x in v]
              ELSE [CAST(0 AS BIGINT) for x in v] END AS qv
  FROM n
)
SELECT vec_id, nn AS norm2,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_sum([abs(x) for x in qv]) AS BIGINT) AS q_l1,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max
FROM q
"""

def embedding_centroid_drift(emb: DataFrame) -> DataFrame:
    """Per-label embedding centroid drift against the global centroid --
    the distribution-shift audit an embedding pipeline runs per source /
    label / snapshot ("did this segment's vectors move away from the
    corpus?"): for each label, the L1 distance (and max single-dimension
    distance) between the label's mean vector and the global mean
    vector, in micro-units of the embedding space.

    Gated since round 13 (catalog name embedding_centroid_drift).

    Determinism: float sums are order-dependent, so each coordinate is
    quantized to integer micros (floor(x * 1e6) -- floor, not truncate:
    both engines floor negatives the same way) and summed exactly; the
    per-dimension mean difference |S_d/n - G_d/N| becomes the integer
    cross-multiplication |S_d*N - G_d*n| DIV (n*N) (abs BEFORE the
    division -- Spark DIV truncates toward zero while DuckDB // floors,
    and the abs is what keeps the operands nonnegative where the two
    spellings agree). Zero float ops anywhere. Magnitudes: |q| <= 1e6 *
    |x|, so |S_d*N| <= 1e6*max|x|*n*N -- BIGINT-safe far past 1e6
    vectors per shard; at larger n, audit per shard and merge (the
    sketch-family recipe: per-dim sums are additive).

    Scale shape (100 TB): one posexplode (map-side, dim-bounded fanout)
    into a (label, dim) hash aggregate with map-side partials; the
    global centroid folds FROM the per-label partials (dim-bounded, no
    second corpus pass) and broadcasts back onto the dim-bounded
    (label, dim) frame. Output is one row per label."""
    base = emb.select(
        F.col("label").cast("bigint").alias("label"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * F.lit(1e6)).cast("bigint").alias("qx"),
    )
    ld = base.groupBy("label", "dim").agg(
        F.sum("qx").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    # bounded (|labels| x dim) and consumed by BOTH the global-centroid
    # broadcast build and the probe side -- localCheckpoint once (the
    # multi-consumer rule: exchange reuse never kicks in under broadcast
    # builds, so the posexplode + corpus aggregate re-ran per consumer;
    # 3 corpus scans -> 1 by executedPlan)
    ld = ld.localCheckpoint()
    g = ld.groupBy("dim").agg(
        F.sum("s").alias("gs"), F.sum("n").alias("nn")
    )
    t = ld.join(F.broadcast(g), "dim").select(
        "label",
        "n",
        F.expr("abs(s * nn - gs * n) DIV (n * nn)").alias("term"),
    )
    return t.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.sum("term").cast("bigint").alias("l1_drift_micro"),
        F.max("term").cast("bigint").alias("max_dim_drift_micro"),
    )


def embedding_centroid_drift_sql() -> str:
    """DuckDB twin of :func:`embedding_centroid_drift`: same quantized
    integer sums and cross-multiplied mean differences (parallel
    unnest + generate_subscripts, the random_projection idiom)."""
    return """
WITH base AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS qx
  FROM embeddings
),
ld AS (
  SELECT label, dim, CAST(sum(qx) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY 1, 2
),
g AS (
  SELECT dim, CAST(sum(s) AS BIGINT) AS gs, CAST(sum(n) AS BIGINT) AS nn
  FROM ld GROUP BY 1
),
t AS (
  SELECT label, n, abs(s * nn - gs * n) // (n * nn) AS term
  FROM ld JOIN g USING (dim)
)
SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
       CAST(sum(term) AS BIGINT) AS l1_drift_micro,
       CAST(max(term) AS BIGINT) AS max_dim_drift_micro
FROM t GROUP BY 1
"""
