"""IVF (inverted-file) approximate nearest neighbor -- the coarse-quantizer
scale path for embedding search (task brief: "an IVF or LSH-bucketed
variant"; LSH lives in operators/similarity.py).

Classic IVF: k-means a bounded training sample into k centroid buckets,
assign the corpus once, search only the ``nprobe`` buckets nearest each
query. Scale shape (100 TB): quantizer training touches exactly TRAIN_N
vectors (md5-deterministic TakeOrdered sample -- corpus-size-independent,
the FAISS coarse-quantizer recipe); corpus assignment is ONE map-only
projection (centroid distances inlined as literal expressions, argmin via
array_min -- no join, no shuffle, no window); the probe search broadcasts
the query set so the corpus is never shuffled.

Cross-engine exactness (the interesting part): Lloyd's algorithm is made
bit-deterministic by
  * integer-scaled vectors (floor(x*1e6) -> BIGINT),
  * centroid updates as per-dimension exact integer sums / member counts
    (order-free; the division is one exact double op),
  * argmin with (distance, centroid-id) ordering -- ties deterministic,
  * distances as sequential double folds in dimension order.
So the driver-side Lloyd, Spark's distributed assignment, and DuckDB's
unrolled-CTE replay compute IDENTICAL centroids, assignments, and top-k
results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from .similarity import _cosine, _dot, _with_int_vec, rank_topk

K_CENTROIDS = 8
KMEANS_ITERS = 3
NPROBE = 2
DIM = 64
# Lloyd trains on a FIXED-SIZE deterministic sample: the TRAIN_N vectors with
# the smallest md5(id) (ties by id). Quantizer cost is therefore independent
# of corpus size -- at 100 TB the training set is still TRAIN_N rows and the
# full corpus is scanned exactly once, for the final assignment (real IVF
# practice: FAISS trains its coarse quantizer on a bounded sample). md5
# ordering, not LIMIT-over-scan-order, so Spark and DuckDB pick the SAME rows.
TRAIN_N = 1024


def _dlit(x: float) -> str:
    """Exact DOUBLE literal for Spark SQL: Python repr round-trips IEEE
    doubles, and the E0 suffix forces DOUBLE (a plain decimal literal would
    parse as DECIMAL -- the repo's E-notation rule)."""
    r = repr(float(x))
    return r if "e" in r or "E" in r else r + "E0"


def _sq_dist_sql(v: str, cent: list[float]) -> str:
    """Squared L2 between a BIGINT vector SQL expression and a LITERAL
    double centroid, as ONE SQL string (sequential zip_with + aggregate
    fold -- same summation order as the oracle's list_sum).

    String, not Column: building this tree via pyspark functions costs
    ~200 py4j round-trips per centroid, and pq_encode needs m*k of them --
    driver-side plan CONSTRUCTION dominated ann_topk_pq's 15 s at sf0.1
    (VERDICT r3 perf finding). One F.expr parse is a single round-trip and
    yields the IDENTICAL Catalyst expressions, so results are bit-equal."""
    arr = ", ".join(_dlit(c) for c in cent)
    return (
        f"aggregate(zip_with({v}, array({arr}), (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
    )


def _dist_structs_sql(v: str, cent_rows: list[tuple[int, list[float]]]) -> str:
    """SQL string for array<struct<d,cid>> of distances to every centroid --
    struct order (d, cid) makes array_min/array_sort the argmin with
    deterministic tie-break, matching the oracle's ORDER BY d, cid."""
    items = ", ".join(
        f"struct({_sq_dist_sql(v, c)} AS d, CAST({cid} AS INT) AS cid)"
        for cid, c in cent_rows
    )
    return f"array({items})"


def _argmin_cid(v: str, cent_rows: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid id of a vector SQL expression, one F.expr parse."""
    return F.expr(f"array_min({_dist_structs_sql(v, cent_rows)}).cid")


def _probe_structs(cent_rows: list[tuple[int, list[float]]]) -> Column:
    """The NPROBE nearest (d, cid) structs of ``qv``, ascending -- one F.expr parse."""
    return F.expr(f"slice(array_sort({_dist_structs_sql('qv', cent_rows)}), 1, {NPROBE})")


def _assign(base: DataFrame, cent_rows: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid assignment as a pure projection: the centroid set is
    tiny and driver-resident, so per-centroid distances are inlined as
    literal expressions and the argmin is array_min over (d, cid) structs --
    no join, no shuffle, no window. At 100 TB this is ONE map-only scan of
    the corpus, embarrassingly parallel."""
    return base.select(
        "id",
        "v",
        "nn",
        _argmin_cid("v", cent_rows).alias("cid"),
    )


def _lloyd(train_rows, k: int, iters: int) -> list[tuple[int, list[float]]]:
    """Exact Lloyd over the (bounded) collected training sample, driver-side.

    The sample is at most TRAIN_N rows regardless of corpus size, so
    distributing the iterations would be pure scheduler overhead; training
    on the driver is what FAISS does with its coarse quantizer. Arithmetic
    is bit-identical to the DuckDB oracle CTEs: init = k lowest-id sample
    vectors cast to double; distance = sequential double fold of
    (BIGINT - DOUBLE)^2 in dimension order; argmin tie-breaks by (d, cid);
    centroid update = exact integer per-dim sums (Python int = unbounded,
    like DuckDB HUGEINT) divided once as double; empty clusters keep their
    previous centroid."""
    rows = sorted(((r["id"], list(r["v"])) for r in train_rows), key=lambda t: t[0])
    cents = [(cid, [float(x) for x in v]) for cid, (_, v) in enumerate(rows[:k])]
    for _ in range(iters):
        members: dict[int, list[list[int]]] = {}
        for _, v in rows:
            best = None
            for cid, c in cents:
                d = 0.0
                for x, y in zip(v, c):
                    e = x - y
                    d = d + e * e
                if best is None or (d, cid) < best:
                    best = (d, cid)
            members.setdefault(best[1], []).append(v)
        cents = [
            (
                cid,
                [float(sum(v[i] for v in vs)) / len(vs) for i in range(len(vs[0]))]
                if (vs := members.get(cid))
                else c,
            )
            for cid, c in cents
        ]
    return cents


def _collect_train(base: DataFrame) -> list:
    """The md5-deterministic bounded training sample (TakeOrdered), collected
    once -- coarse quantizer and PQ codebooks share the same rows."""
    return (
        base.withColumn("bucket", md5_long(F.col("id").cast("string")))
        .orderBy("bucket", "id")
        .limit(TRAIN_N)
        .select("id", "v")
        .collect()
    )


def _train_quantizer(base: DataFrame, train_rows=None) -> list[tuple[int, list[float]]]:
    """md5-deterministic bounded sample (TakeOrdered) -> driver-side Lloyd
    (K_CENTROIDS centroids, KMEANS_ITERS rounds)."""
    if train_rows is None:
        train_rows = _collect_train(base)
    return _lloyd(train_rows, K_CENTROIDS, KMEANS_ITERS)


def ivf_topk(emb: DataFrame, topk: int = 5, query_mod: int = 25, train_rows=None) -> DataFrame:
    """IVF search: rank candidates from the nprobe nearest buckets by exact
    cosine. Output (query_id, neighbor_id, rank, cosine) -- same shape as
    the brute-force and LSH variants (whose ``k`` is this function's
    ``topk``; ``n_centroids`` sizes the quantizer).

    Scale shape: probe selection is a projection over the (small) query set
    -- array_sort of the per-centroid distance structs, sliced to nprobe --
    and the candidate join BROADCASTS the probed queries against the
    assigned corpus on centroid id, so the corpus is never shuffled: one
    map-only assignment scan, one broadcast-join scan."""
    base = _with_int_vec(emb)
    cents = _train_quantizer(base, train_rows)
    assigned = _assign(base, cents)
    queries = base.where(F.col("id") % query_mod == 0).select(
        F.col("id").alias("qid"), F.col("v").alias("qv"), F.col("nn").alias("qnn")
    )
    probes = queries.select(
        "qid",
        "qv",
        "qnn",
        F.explode(_probe_structs(cents)).alias("p"),
    ).select("qid", "qv", "qnn", F.col("p.cid").alias("cid"))
    cand = assigned.join(F.broadcast(probes), "cid").where(F.col("id") != F.col("qid"))
    scored = cand.select(
        F.col("qid").alias("query_id"),
        F.col("id").alias("neighbor_id"),
        _cosine(_dot(F.col("qv"), F.col("v")), F.col("qnn"), F.col("nn")).alias("cosine"),
    )
    return rank_topk(scored, topk)


# ---------------------------------------------------------------------------
# DuckDB oracle: the same algorithm unrolled as chained CTEs.
# ---------------------------------------------------------------------------

def _dist_sql(v: str) -> str:
    return (
        f"list_sum([(({v}[d + 1] - c.c[d + 1]) * ({v}[d + 1] - c.c[d + 1])) "
        f"for d in generate_series(0, {DIM - 1})])"
    )


def ivf_topk_oracle(topk: int = 5, query_mod: int = 25, train_where: str = "") -> str:
    dist_bc = _dist_sql("b.v")
    # train_where restricts only the QUANTIZER SAMPLE (the staleness
    # audit trains on the standing corpus while searching the merged
    # one); empty = sample from the full base, the gated-oracle behavior
    tw = f"WHERE {train_where}" if train_where else ""
    parts = [
        f"""WITH base AS (
  SELECT vec_id AS id,
         [CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) for x in embedding] AS v
  FROM embeddings
), basenn AS (
  SELECT id, v, list_sum([y * y for y in v]) AS nn FROM base
), train AS (
  SELECT id, v FROM (
    SELECT id, v, {md5_long_sql(f"CAST(id AS VARCHAR)")} AS bucket FROM base {tw}
    ORDER BY bucket, id LIMIT {TRAIN_N}
  )
), c0 AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cid,
         [CAST(y AS DOUBLE) for y in v] AS c
  FROM (SELECT id, v FROM train ORDER BY id LIMIT {K_CENTROIDS})
)"""
    ]
    for t in range(1, KMEANS_ITERS + 1):
        parts.append(
            f"""a{t} AS (
  SELECT id, v, cid FROM (
    SELECT b.id, b.v, c.cid,
           row_number() OVER (PARTITION BY b.id ORDER BY {dist_bc}, c.cid) AS rn
    FROM train b CROSS JOIN c{t - 1} c
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""c{t}_new AS (
  SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS c FROM (
    SELECT cid, dim, sum(vd) AS s, count(*) AS n FROM (
      SELECT cid, unnest(v) AS vd, generate_subscripts(v, 1) AS dim FROM a{t}
    ) GROUP BY cid, dim
  ) GROUP BY cid
)"""
        )
        parts.append(
            f"""c{t} AS (
  SELECT * FROM c{t}_new
  UNION ALL
  SELECT cid, c FROM c{t - 1} WHERE cid NOT IN (SELECT cid FROM c{t}_new)
)"""
        )
    final_assign = f"""afin AS (
  SELECT id, v, cid FROM (
    SELECT b.id, b.v, c.cid,
           row_number() OVER (PARTITION BY b.id ORDER BY {dist_bc}, c.cid) AS rn
    FROM base b CROSS JOIN c{KMEANS_ITERS} c
  ) WHERE rn = 1
), afin_nn AS (
  SELECT a.id, a.v, a.cid, n.nn FROM afin a JOIN basenn n USING (id)
)"""
    dist_qc = _dist_sql("q.qv")
    dot_qa = f"list_sum([q.qv[i] * a.v[i] for i in generate_series(1, {DIM})])"
    search = f"""probes AS (
  SELECT qid, qv, qnn, cid FROM (
    SELECT q.qid, q.qv, q.qnn, c.cid,
           row_number() OVER (PARTITION BY q.qid ORDER BY {dist_qc}, c.cid) AS rn
    FROM (SELECT id AS qid, v AS qv, nn AS qnn FROM afin_nn WHERE id % {query_mod} = 0) q
    CROSS JOIN c{KMEANS_ITERS} c
  ) WHERE rn <= {NPROBE}
), scored AS (
  SELECT q.qid AS query_id, a.id AS neighbor_id,
         (CASE WHEN q.qnn = 0 OR a.nn = 0 THEN 0e0
               ELSE CAST({dot_qa} AS DOUBLE)
                    / (sqrt(CAST(q.qnn AS DOUBLE)) * sqrt(CAST(a.nn AS DOUBLE))) END)
           AS cosine
  FROM probes q JOIN afin_nn a USING (cid) WHERE a.id != q.qid
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= {topk}"""
    return ",\n".join(parts + [final_assign, search])


# ---------------------------------------------------------------------------
# Persisted IVF index: build once, search with partition pruning.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Product quantization (ADC): the compression half of the FAISS pair.
# IVF prunes WHICH vectors to score; PQ compresses HOW each is scored --
# M sub-codebooks turn a 64-dim vector into M small codes, and a query is
# scored against codes via per-subspace lookup (asymmetric distance
# computation). Here: M=8 subspaces x K=16 centroids, trained per subspace on
# the same bounded md5 sample with the same driver-side bit-exact Lloyd.
# ---------------------------------------------------------------------------

PQ_M = 8
PQ_K = 16
PQ_ITERS = 2


def pq_codebooks(base: DataFrame, train_rows=None) -> list[list[tuple[int, list[float]]]]:
    """One exact codebook per subspace, trained driver-side on the shared
    md5 TakeOrdered sample (ONE corpus-side sample extraction; Lloyd runs
    m times over d-dim slices of the same collected rows)."""
    d = DIM // PQ_M
    if train_rows is None:
        train_rows = _collect_train(base)
    books = []
    for j in range(PQ_M):
        sub_rows = [{"id": r["id"], "v": list(r["v"])[j * d : (j + 1) * d]} for r in train_rows]
        books.append(_lloyd(sub_rows, PQ_K, PQ_ITERS))
    return books


def _sq_dist_py(v: list, c: list[float]) -> float:
    """Driver-side twin of _sq_dist_lit / the oracle's list_sum: sequential
    double fold of (BIGINT - DOUBLE)^2 in dimension order. Python float is
    IEEE double, so the result is bit-identical to both engines (the Lloyd
    determinism argument)."""
    d = 0.0
    for x, y in zip(v, c):
        e = x - y
        d = d + e * e
    return d


def _collect_queries(base: DataFrame, query_mod: int) -> list[tuple[int, list[int]]]:
    """Collect ONLY the query set (the pandas-ANN pattern: bounded by the
    query batch, never the corpus) as (id, bigint-vector) rows in id order."""
    return sorted(
        (r["id"], list(r["v"]))
        for r in base.where(F.col("id") % query_mod == 0).select("id", "v").collect()
    )


def _adc_lut(qv: list[int], books: list[list[tuple[int, list[float]]]], d: int) -> list[float]:
    """One query's flat ADC lookup table: lut[j*k + cid] = squared L2 from
    the query's j-th subslice to codebook j's centroid cid. Precomputed
    driver-side (m*k doubles per query) so the corpus scan does m
    element_at lookups + a fixed-order m-term sum per row instead of
    re-deriving m*k literal distance trees per row (VERDICT r3 perf fix:
    ann_topk_pq 14.9 s -> the LUT is what ADC means)."""
    lut = []
    for j, book in enumerate(books):
        s = qv[j * d : (j + 1) * d]
        for _, c in book:
            lut.append(_sq_dist_py(s, c))
    return lut


def _adc_score(lut_col: Column) -> Column:
    """Fixed-order PQ_M-term ADC sum over a flat LUT column: term_j =
    lut[j*PQ_K + c_j] (1-based element_at). Same j order as the oracle's
    score_terms concatenation."""
    score = None
    for j in range(PQ_M):
        term = F.element_at(lut_col, F.col(f"c{j}") + (j * PQ_K + 1))
        score = term if score is None else score + term
    return score


def pq_encode(base: DataFrame, books: list[list[tuple[int, list[float]]]]) -> DataFrame:
    """Map-only encoding: per subspace argmin over literal centroids ->
    (id, c0..c{m-1}). 64 dims x 8 bytes collapse to m single-byte codes --
    the 8x-64x memory compression that lets a scan stay in cache/RAM at
    corpus scale."""
    m = len(books)
    d = DIM // m
    code_cols = [
        _argmin_cid(f"slice(v, {j * d + 1}, {d})", books[j]).alias(f"c{j}")
        for j in range(m)
    ]
    return base.select("id", *code_cols)


PQ_TOPK_TOPK = 5
PQ_TOPK_QUERY_MOD = 25


def pq_topk(emb: DataFrame, train_rows=None) -> DataFrame:
    """PQ-ADC top-k: queries scored against the COMPRESSED corpus. Each
    query's per-subspace distances to the k centroids are precomputed
    driver-side into a flat m*k LUT (the asymmetric-distance table FAISS
    keeps per query), broadcast as a tiny (qid, lut) table, and each corpus
    code row costs m element_at lookups + a fixed-order m-term sum -- no
    vector arithmetic of ANY kind in the scan.

    The scan is deliberately linear over the code table (that is PQ's
    contract: compressed-domain bandwidth); at 100 TB compose with the IVF
    cid partitioning (ivf_topk's probe) so only probed buckets are ADC-
    scanned. Output (query_id, neighbor_id, rank, approx_sqdist) ranked
    ascending with neighbor-id tie-break -- exact-arithmetic deterministic,
    DuckDB-replayable (driver LUT values are bit-identical to the oracle's
    per-row subspace sums: same sequential dimension-order double folds)."""
    d = DIM // PQ_M
    base = _with_int_vec(emb)
    books = pq_codebooks(base, train_rows=train_rows)
    codes = pq_encode(base, books)
    q_rows = _collect_queries(base, PQ_TOPK_QUERY_MOD)
    lut_df = base.sparkSession.createDataFrame(
        [(qid, _adc_lut(qv, books, d)) for qid, qv in q_rows],
        schema="qid BIGINT, lut ARRAY<DOUBLE>",
    )
    pairs = codes.join(F.broadcast(lut_df), F.col("id") != F.col("qid"))
    score = _adc_score(F.col("lut"))
    scored = pairs.select(
        F.col("qid").alias("query_id"),
        F.col("id").alias("neighbor_id"),
        score.alias("approx_sqdist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_sqdist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PQ_TOPK_TOPK)
        .select("query_id", "neighbor_id", "rank", "approx_sqdist")
    )


def pq_topk_oracle() -> str:
    """DuckDB twin of pq_topk: per-subspace Lloyd unrolled as CTE chains
    (the IVF oracle pattern, m times over list slices), then encode +
    ADC scoring with the same fixed-order subspace sum."""
    d = DIM // PQ_M

    def sub(expr: str, j: int) -> str:
        return f"{expr}[{j * d + 1}:{j * d + d}]"

    def dist(vexpr: str, cexpr: str) -> str:
        return (
            f"list_sum([(({vexpr}[i] - {cexpr}[i]) * ({vexpr}[i] - {cexpr}[i])) "
            f"for i in generate_series(1, {d})])"
        )

    parts = [
        f"""WITH base AS (
  SELECT vec_id AS id,
         [CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) for x in embedding] AS v
  FROM embeddings
), train AS (
  SELECT id, v FROM (
    SELECT id, v, {md5_long_sql("CAST(id AS VARCHAR)")} AS bucket FROM base
    ORDER BY bucket, id LIMIT {TRAIN_N}
  )
)"""
    ]
    for j in range(PQ_M):
        parts.append(
            f"""t{j} AS (SELECT id, {sub('v', j)} AS s FROM train),
b{j}_0 AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cid,
         [CAST(y AS DOUBLE) for y in s] AS c
  FROM (SELECT id, s FROM t{j} ORDER BY id LIMIT {PQ_K})
)"""
        )
        for t in range(1, PQ_ITERS + 1):
            parts.append(
                f"""a{j}_{t} AS (
  SELECT id, s, cid FROM (
    SELECT x.id, x.s, c.cid,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist('x.s', 'c.c')}, c.cid) AS rn
    FROM t{j} x CROSS JOIN b{j}_{t - 1} c
  ) WHERE rn = 1
), b{j}_{t}_new AS (
  SELECT cid, list(CAST(sm AS DOUBLE) / n ORDER BY dim) AS c FROM (
    SELECT cid, dim, sum(sd) AS sm, count(*) AS n FROM (
      SELECT cid, unnest(s) AS sd, generate_subscripts(s, 1) AS dim FROM a{j}_{t}
    ) GROUP BY cid, dim
  ) GROUP BY cid
), b{j}_{t} AS (
  SELECT * FROM b{j}_{t}_new
  UNION ALL
  SELECT cid, c FROM b{j}_{t - 1} WHERE cid NOT IN (SELECT cid FROM b{j}_{t}_new)
)"""
            )
        parts.append(
            f"""enc{j} AS (
  SELECT id, cid AS c{j} FROM (
    SELECT x.id, c.cid,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist(sub('x.v', j), 'c.c')}, c.cid) AS rn
    FROM base x CROSS JOIN b{j}_{PQ_ITERS} c
  ) WHERE rn = 1
)"""
        )
    enc_joins = " ".join(f"JOIN enc{j} USING (id)" for j in range(1, PQ_M))
    score_terms = " + ".join(
        f"({dist(sub('q.v', j), f'k{j}.c')})" for j in range(PQ_M)
    )
    book_joins = " ".join(
        f"JOIN b{j}_{PQ_ITERS} k{j} ON k{j}.cid = e.c{j}" for j in range(PQ_M)
    )
    parts.append(
        f"""enc AS (
  SELECT enc0.id, {", ".join(f"c{j}" for j in range(PQ_M))}
  FROM enc0 {enc_joins}
), queries AS (
  SELECT id AS qid, v FROM base WHERE id % {PQ_TOPK_QUERY_MOD} = 0
), scored AS (
  SELECT q.qid AS query_id, e.id AS neighbor_id,
         {score_terms} AS approx_sqdist
  FROM queries q JOIN enc e ON e.id != q.qid
  {book_joins}
)
SELECT query_id, neighbor_id, rank, approx_sqdist FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY approx_sqdist, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= {PQ_TOPK_TOPK}"""
    )
    return ",\n".join(parts)


IVF_PQ_TOPK_TOPK = 5
IVF_PQ_TOPK_QUERY_MOD = 25


def ivf_pq_topk(emb: DataFrame) -> DataFrame:
    """The composed FAISS architecture: IVF coarse quantizer prunes WHICH
    vectors each query scores (nprobe buckets), PQ codes compress HOW each
    candidate is scored (ADC lookups, no full-vector arithmetic). One
    map-only projection computes BOTH the coarse bucket and the m codes per
    corpus row; probe selection AND the per-query m*k ADC LUT are computed
    driver-side over the collected query batch (bounded, never the corpus)
    and broadcast as (qid, bucket, lut) rows; the candidate scan is m
    element_at lookups + a fixed-order sum per row. Corpus cost at any
    scale: one sample extraction + one combined assignment/encode scan +
    one broadcast-join scan of the probed fraction."""
    d = DIM // PQ_M
    base = _with_int_vec(emb)
    train_rows = _collect_train(base)
    cents = _train_quantizer(base, train_rows)
    books = pq_codebooks(base, train_rows=train_rows)
    code_cols = [
        _argmin_cid(f"slice(v, {j * d + 1}, {d})", books[j]).alias(f"c{j}")
        for j in range(PQ_M)
    ]
    index = base.select(
        "id",
        _argmin_cid("v", cents).alias("bucket"),
        *code_cols,
    )
    probe_rows = []
    for qid, qv in _collect_queries(base, IVF_PQ_TOPK_QUERY_MOD):
        lut = _adc_lut(qv, books, d)
        # same (distance, cid) ordering as the oracle's row_number ORDER BY
        near = sorted((_sq_dist_py(qv, c), cid) for cid, c in cents)[:NPROBE]
        probe_rows.extend((qid, cid, lut) for _, cid in near)
    probes = base.sparkSession.createDataFrame(
        probe_rows, schema="qid BIGINT, bucket INT, lut ARRAY<DOUBLE>"
    )
    cand = index.join(F.broadcast(probes), "bucket").where(F.col("id") != F.col("qid"))
    score = _adc_score(F.col("lut"))
    scored = cand.select(
        F.col("qid").alias("query_id"),
        F.col("id").alias("neighbor_id"),
        score.alias("approx_sqdist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_sqdist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= IVF_PQ_TOPK_TOPK)
        .select("query_id", "neighbor_id", "rank", "approx_sqdist")
    )


def ivf_pq_topk_oracle() -> str:
    """DuckDB twin of ivf_pq_topk: the coarse Lloyd chain + the m
    per-subspace Lloyd chains + bucket assignment + encoding + probe
    selection + ADC scoring, all unrolled as CTEs."""
    d = DIM // PQ_M

    def sub(expr: str, j: int) -> str:
        return f"{expr}[{j * d + 1}:{j * d + d}]"

    def dist_d(vexpr: str, cexpr: str, n: int) -> str:
        return (
            f"list_sum([(({vexpr}[i] - {cexpr}[i]) * ({vexpr}[i] - {cexpr}[i])) "
            f"for i in generate_series(1, {n})])"
        )

    parts = [
        f"""WITH base AS (
  SELECT vec_id AS id,
         [CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) for x in embedding] AS v
  FROM embeddings
), train AS (
  SELECT id, v FROM (
    SELECT id, v, {md5_long_sql("CAST(id AS VARCHAR)")} AS bucket FROM base
    ORDER BY bucket, id LIMIT {TRAIN_N}
  )
), co0 AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cid,
         [CAST(y AS DOUBLE) for y in v] AS c
  FROM (SELECT id, v FROM train ORDER BY id LIMIT {K_CENTROIDS})
)"""
    ]
    for t in range(1, KMEANS_ITERS + 1):
        parts.append(
            f"""ca{t} AS (
  SELECT id, v, cid FROM (
    SELECT x.id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist_d('x.v', 'c.c', DIM)}, c.cid) AS rn
    FROM train x CROSS JOIN co{t - 1} c
  ) WHERE rn = 1
), co{t}_new AS (
  SELECT cid, list(CAST(sm AS DOUBLE) / n ORDER BY dim) AS c FROM (
    SELECT cid, dim, sum(vd) AS sm, count(*) AS n FROM (
      SELECT cid, unnest(v) AS vd, generate_subscripts(v, 1) AS dim FROM ca{t}
    ) GROUP BY cid, dim
  ) GROUP BY cid
), co{t} AS (
  SELECT * FROM co{t}_new
  UNION ALL
  SELECT cid, c FROM co{t - 1} WHERE cid NOT IN (SELECT cid FROM co{t}_new)
)"""
        )
    parts.append(
        f"""buckets AS (
  SELECT id, cid AS bucket FROM (
    SELECT x.id, c.cid,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist_d('x.v', 'c.c', DIM)}, c.cid) AS rn
    FROM base x CROSS JOIN co{KMEANS_ITERS} c
  ) WHERE rn = 1
)"""
    )
    for j in range(PQ_M):
        parts.append(
            f"""t{j} AS (SELECT id, {sub('v', j)} AS s FROM train),
b{j}_0 AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cid,
         [CAST(y AS DOUBLE) for y in s] AS c
  FROM (SELECT id, s FROM t{j} ORDER BY id LIMIT {PQ_K})
)"""
        )
        for t in range(1, PQ_ITERS + 1):
            parts.append(
                f"""a{j}_{t} AS (
  SELECT id, s, cid FROM (
    SELECT x.id, x.s, c.cid,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist_d('x.s', 'c.c', d)}, c.cid) AS rn
    FROM t{j} x CROSS JOIN b{j}_{t - 1} c
  ) WHERE rn = 1
), b{j}_{t}_new AS (
  SELECT cid, list(CAST(sm AS DOUBLE) / n ORDER BY dim) AS c FROM (
    SELECT cid, dim, sum(sd) AS sm, count(*) AS n FROM (
      SELECT cid, unnest(s) AS sd, generate_subscripts(s, 1) AS dim FROM a{j}_{t}
    ) GROUP BY cid, dim
  ) GROUP BY cid
), b{j}_{t} AS (
  SELECT * FROM b{j}_{t}_new
  UNION ALL
  SELECT cid, c FROM b{j}_{t - 1} WHERE cid NOT IN (SELECT cid FROM b{j}_{t}_new)
)"""
            )
        parts.append(
            f"""enc{j} AS (
  SELECT id, cid AS c{j} FROM (
    SELECT x.id, c.cid,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist_d(sub('x.v', j), 'c.c', d)}, c.cid) AS rn
    FROM base x CROSS JOIN b{j}_{PQ_ITERS} c
  ) WHERE rn = 1
)"""
        )
    enc_joins = " ".join(f"JOIN enc{j} USING (id)" for j in range(1, PQ_M))
    score_terms = " + ".join(f"({dist_d(sub('q.v', j), f'k{j}.c', d)})" for j in range(PQ_M))
    book_joins = " ".join(
        f"JOIN b{j}_{PQ_ITERS} k{j} ON k{j}.cid = e.c{j}" for j in range(PQ_M)
    )
    parts.append(
        f"""enc AS (
  SELECT enc0.id, b.bucket, {", ".join(f"c{j}" for j in range(PQ_M))}
  FROM enc0 {enc_joins} JOIN buckets b USING (id)
), queries AS (
  SELECT id AS qid, v FROM base WHERE id % {IVF_PQ_TOPK_QUERY_MOD} = 0
), probes AS (
  SELECT qid, v, cid AS bucket FROM (
    SELECT q.qid, q.v, c.cid,
           row_number() OVER (PARTITION BY q.qid ORDER BY {dist_d('q.v', 'c.c', DIM)}, c.cid) AS rn
    FROM queries q CROSS JOIN co{KMEANS_ITERS} c
  ) WHERE rn <= {NPROBE}
), scored AS (
  SELECT q.qid AS query_id, e.id AS neighbor_id,
         {score_terms} AS approx_sqdist
  FROM probes q JOIN enc e USING (bucket)
  {book_joins}
  WHERE e.id != q.qid
)
SELECT query_id, neighbor_id, rank, approx_sqdist FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY approx_sqdist, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= {IVF_PQ_TOPK_TOPK}"""
    )
    return ",\n".join(parts)


INDEX_STALENESS_AUDIT_NEW_BP = 2000
INDEX_STALENESS_AUDIT_TOPK = 5
INDEX_STALENESS_AUDIT_QUERY_MOD = 25


def index_staleness_audit(emb: DataFrame) -> DataFrame:
    """ANN index-staleness audit for the continuous-ingest shape: a new
    embedding batch (md5(id) % 10000 < new_bp -- the incremental-minhash
    split convention) lands on a standing corpus whose IVF quantizer was
    trained BEFORE the batch arrived. New vectors get assigned to the
    stale centroids map-only (the real-world incremental contract: no
    retrain on ingest), and this audit measures what that costs: top-k
    recall against exact brute force over the merged corpus, for the
    stale-quantizer index next to a freshly-retrained one. Output two
    rows (method in {'stale','fresh'}, hits, total) of integer counts --
    the retrain-cadence dashboard number.

    Gated since round 10 (catalog name index_staleness_audit).

    Scale shape: both quantizers are TRAIN_N-bounded driver Lloyd (the
    stale one samples only the standing corpus); assignment stays
    map-only over inlined centroid literals; brute-force ground truth is
    the audit's deliberate exact pass (ann_recall_at_k policy), and is
    localCheckpoint-ed -- bounded at topk rows per sampled query --
    because the hits join and the broadcast total both consume it
    (round-6 twice-consumed rule)."""
    from ..functions.hashing import md5_long
    from .similarity import topk_bruteforce

    base = _with_int_vec(emb)
    is_new = md5_long(F.col("vec_id").cast("string")) % 10000 < INDEX_STALENESS_AUDIT_NEW_BP
    standing = _with_int_vec(emb.where(~is_new))
    stale_rows = _collect_train(standing)
    fresh_rows = _collect_train(base)
    flt = F.col("vec_id") % INDEX_STALENESS_AUDIT_QUERY_MOD == 0
    bf = (
        topk_bruteforce(emb, k=INDEX_STALENESS_AUDIT_TOPK, query_filter=flt)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    approx = (
        ivf_topk(
            emb,
            topk=INDEX_STALENESS_AUDIT_TOPK,
            query_mod=INDEX_STALENESS_AUDIT_QUERY_MOD,
            train_rows=stale_rows,
        )
        .select(F.lit("stale").alias("method"), "query_id", "neighbor_id")
        .unionByName(
            ivf_topk(
                emb,
                topk=INDEX_STALENESS_AUDIT_TOPK,
                query_mod=INDEX_STALENESS_AUDIT_QUERY_MOD,
                train_rows=fresh_rows,
            )
            .select(F.lit("fresh").alias("method"), "query_id", "neighbor_id")
        )
    )
    hits = (
        approx.join(bf, ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    total = bf.agg(F.count(F.lit(1)).alias("total"))
    return hits.crossJoin(F.broadcast(total))


def index_staleness_audit_sql(bf_oracle: str) -> str:
    """DuckDB twin of :func:`index_staleness_audit`, composed from the
    ivf oracle twice (once with the training sample restricted to the
    standing corpus via ``train_where``) plus the caller-supplied
    brute-force oracle (the plans layer owns that text -- same
    composition pattern as the ann_recall oracle)."""
    from ..functions.hashing import md5_long_sql

    standing = (
        f"({md5_long_sql('CAST(id AS VARCHAR)')}) % 10000 >= {INDEX_STALENESS_AUDIT_NEW_BP}"
    )
    stale = ivf_topk_oracle(
        topk=INDEX_STALENESS_AUDIT_TOPK,
        query_mod=INDEX_STALENESS_AUDIT_QUERY_MOD,
        train_where=standing,
    )
    fresh = ivf_topk_oracle(
        topk=INDEX_STALENESS_AUDIT_TOPK,
        query_mod=INDEX_STALENESS_AUDIT_QUERY_MOD,
    )
    return f"""
WITH bf AS ({bf_oracle}),
stale AS ({stale}),
fresh AS ({fresh}),
approx AS (
  SELECT 'stale' AS method, query_id, neighbor_id FROM stale
  UNION ALL
  SELECT 'fresh' AS method, query_id, neighbor_id FROM fresh
),
hits AS (
  SELECT method, CAST(count(*) AS BIGINT) AS hits
  FROM approx JOIN bf USING (query_id, neighbor_id) GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bf)
SELECT method, hits, total FROM hits CROSS JOIN tot
"""
