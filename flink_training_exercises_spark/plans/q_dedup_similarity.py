"""Dedup family (exact/MinHash-LSH/SimHash/Jaccard/clusters) and embedding similarity search (brute force, LSH, IVF, PQ, recall gate).

Registration module: imported by plans.catalog for its @register side
effects; the shared QuerySpec registry, query order and determinism
rules live in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..sources import load_table
from .catalog import CATALOG, register
from ..operators import (
    dedup,
    graph,
    ivf,
    similarity,
)


# ---------------------------------------------------------------------------
# Training-data pipeline operators (task brief): dedup family.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
SELECT {dedup.normalized_prefix_key_sql()} AS dedup_key,
       min(doc_id) AS survivor_id, count(*) AS group_size
FROM documents GROUP BY 1
""",
    doc="Exact dedup: hash-groupBy on a normalized content key, "
    "deterministic min-id survivor.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.exact_dedup(docs, dedup.normalized_prefix_key())

@register(
    "dedup_minhash_lsh",
    oracle=dedup.minhash_lsh_sql(),
    doc="MinHash(k=32) + LSH banding (8 bands x 4 rows) + exact-Jaccard "
    "verify over char-5 shingles.",
    bench=True,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.minhash_lsh_pairs(docs)

@register(
    "dedup_clusters_minhash",
    oracle=dedup.minhash_clusters_sql(),
    doc="Transitive closure of the MinHash near-dup pairs: each clustered "
    "doc mapped to its component's minimum doc_id (the canonical survivor). "
    "Spark side runs alternating large-star/small-star (O(log n) rounds); "
    "the oracle walks the closure with a recursive CTE.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs).select("id_a", "id_b")
    return graph.connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id")
    )

@register(
    "dedup_simhash",
    oracle=dedup.simhash_sql(),
    doc="32-bit SimHash near-dup pairs, 4-byte banding, Hamming <= 3.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.simhash_pairs(docs)

@register(
    "dedup_ngram_jaccard",
    oracle=dedup.ngram_jaccard_sql(threshold=0.1),
    doc="Exact word-3-gram Jaccard similarity join, shard-scoped (source).",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.ngram_jaccard_pairs(docs, threshold=0.1)

# ---------------------------------------------------------------------------
# Similarity search over embeddings.
# ---------------------------------------------------------------------------

_EMB_INT = "[CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) for x in embedding]"

_DOT = "list_sum([a.v[i] * b.v[i] for i in generate_series(1, 64)])"

_COS = (
    f"(CASE WHEN a.nn = 0 OR b.nn = 0 THEN 0e0 ELSE CAST({_DOT} AS DOUBLE) "
    "/ (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b.nn AS DOUBLE))) END)"
)

_EMB_BASE = f"""
  SELECT vec_id AS id, v, list_sum([y * y for y in v]) AS nn
  FROM (SELECT vec_id, {_EMB_INT} AS v FROM embeddings)
"""

@register(
    "ann_topk_bruteforce",
    oracle=f"""
WITH base AS ({_EMB_BASE}),
scored AS (
  SELECT a.id AS query_id, b.id AS neighbor_id, {_COS} AS cosine
  FROM (SELECT * FROM base WHERE id % 25 = 0) a
  JOIN base b ON a.id != b.id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="Exact cosine top-5 neighbors (integer-scaled dot products) for "
    "every 25th vector.",
    bench=True,
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.topk_bruteforce(emb, query_filter=F.col("vec_id") % 25 == 0)

@register(
    "ann_topk_bruteforce_pandas",
    oracle=CATALOG["ann_topk_bruteforce"].oracle,
    doc="The Arrow/mapInPandas brute force under the SAME oracle as the "
    "Column-expression form: identical int64 quantization + IEEE cosine "
    "makes the two paths bit-identical, so the 100 TB-shaped streaming "
    "variant (queries broadcast, corpus streamed) is hash-gated, not just "
    "plausible.",
)
def q_ann_bruteforce_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.topk_bruteforce_pandas(
        emb, query_filter=F.col("vec_id") % 25 == 0
    )

def _lsh_bucket_sql(planes=None) -> str:
    bits = []
    for p, (a, b) in enumerate(planes or similarity._PLANE_PARAMS[: similarity.LSH_PLANES]):
        dot = f"list_sum([v[d + 1] * (1 - 2 * ((d * {a} + {b}) % 2)) for d in generate_series(0, 63)])"
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS INT)"

@register(
    "ann_topk_lsh",
    oracle=f"""
WITH base AS (
  SELECT id, v, nn, {_lsh_bucket_sql()} AS bucket FROM ({_EMB_BASE})
),
scored AS (
  SELECT a.id AS query_id, b.id AS neighbor_id, {_COS} AS cosine
  FROM (SELECT * FROM base WHERE id % 25 = 0) a
  JOIN base b ON a.bucket = b.bucket AND a.id != b.id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="LSH-bucketed (8 formula hyperplanes) approximate top-5 -- the "
    "scale path; equi-join on sign signature replaces the cross join.",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.topk_lsh(emb, query_filter=F.col("vec_id") % 25 == 0)

@register(
    "ann_topk_ivf",
    oracle=ivf.ivf_topk_oracle(),
    doc="IVF ANN: integer-exact k-means (8 centroids, 3 Lloyd iterations) "
    "coarse quantizer, nprobe=2 bucket search, exact cosine rank -- the "
    "third ANN scale path besides brute force and LSH.",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return ivf.ivf_topk(emb)

@register(
    "ann_topk_pq",
    oracle=ivf.pq_topk_oracle(),
    doc="Product-quantization ADC top-k: 8 sub-codebooks (16 centroids "
    "each, driver-trained bit-exact Lloyd on the shared md5 sample) "
    "compress each 64-dim vector to 8 codes; queries score the COMPRESSED "
    "corpus via per-subspace lookup tables -- the FAISS pair's other half "
    "(IVF prunes which vectors, PQ compresses how each is scored; compose "
    "with the IVF cid partitioning at scale). Oracle unrolls all 8 "
    "Lloyd chains as CTEs and replays the ADC sum in the same order.",
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return ivf.pq_topk(emb)

@register(
    "ann_topk_ivf_pq",
    oracle=ivf.ivf_pq_topk_oracle(),
    doc="The composed FAISS architecture, fully gated: IVF coarse "
    "quantizer prunes WHICH vectors each query scores (nprobe buckets), "
    "PQ codes compress HOW each candidate is scored (ADC lookups). One "
    "map-only scan computes bucket + codes per corpus row; probed "
    "queries broadcast against it; the ADC sum touches candidates only. "
    "Oracle unrolls the coarse Lloyd chain AND all 8 subspace chains.",
)
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return ivf.ivf_pq_topk(emb)

@register(
    "neardup_embedding_cosine",
    oracle=f"""
WITH base AS (SELECT * FROM ({_EMB_BASE}) WHERE id % 2 = 0)
SELECT a.id AS id_a, b.id AS id_b, {_COS} AS cosine
FROM base a JOIN base b ON a.id < b.id
WHERE {_COS} >= 0.35e0
""",
    doc="Embedding-cosine near-duplicate pairs (threshold 0.35) -- exact "
    "all-pairs form, kept as the small-sf oracle twin of the LSH-bucketed "
    "scale path below. The gate runs it on a deterministic half of the "
    "corpus (vec_id % 2 = 0): the quadratic form is the correctness anchor, "
    "not the scale path, so its gate cost is bounded on purpose.",
)
def q_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).where(F.col("vec_id") % 2 == 0)
    return similarity.cosine_neardup_pairs(emb, threshold=0.35)

def _neardup_lsh_keys_sql() -> str:
    r = similarity.LSH_PLANES // similarity.NEARDUP_BANDS
    keys = [
        f"({b * (1 << r)} + {_lsh_bucket_sql(similarity._PLANE_PARAMS[b * r : (b + 1) * r])})"
        for b in range(similarity.NEARDUP_BANDS)
    ]
    return ", ".join(keys)

@register(
    "neardup_embedding_cosine_lsh",
    oracle=f"""
WITH base AS ({_EMB_BASE}),
banded AS (
  SELECT id, CAST(unnest([{_neardup_lsh_keys_sql()}]) AS INT) AS key FROM base
),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM banded x JOIN banded y ON x.key = y.key AND x.id < y.id
)
SELECT id_a, id_b, {_COS} AS cosine
FROM cand JOIN base a ON id_a = a.id JOIN base b ON id_b = b.id
WHERE {_COS} >= 0.35e0
""",
    doc="Embedding-cosine near-dup via banded sign-LSH candidates (2 bands "
    "x 4 hyperplanes, fused int band key) + exact integer-cosine verify -- "
    "the 100 TB scale path; the equi-join on band keys replaces the "
    "all-pairs theta-join. (Not in the headline basket: that set is pinned "
    "to round 1's 12 queries for cross-round comparability.)",
)
def q_neardup_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.cosine_neardup_pairs_lsh(emb, threshold=0.35)

def _embedding_clusters_oracle() -> str:
    """Recursive-CTE closure over the (gated) embedding near-dup LSH pairs
    -- same pattern as dedup.minhash_clusters_sql."""
    pairs = CATALOG["neardup_embedding_cosine_lsh"].oracle
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
walk(id, comp) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
)
SELECT id AS vec_id, CAST(min(comp) AS BIGINT) AS cluster_id
FROM walk GROUP BY id
"""

@register(
    "embedding_dedup_clusters",
    oracle=_embedding_clusters_oracle(),
    doc="Transitive closure of the embedding near-dup LSH pairs: each "
    "clustered vector mapped to its component minimum (the canonical "
    "survivor) -- semantic dedup's final step, reusing the alternating "
    "large-star/small-star components (O(log n) rounds) that the MinHash "
    "closure uses; the oracle walks the closure with a recursive CTE.",
)
def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    pairs = similarity.cosine_neardup_pairs_lsh(emb, threshold=0.35).select("id_a", "id_b")
    return graph.connected_components(pairs).select(
        F.col("id").alias("vec_id"), F.col("comp").alias("cluster_id")
    )

def _ann_recall_oracle() -> str:
    """recall@5 of the approximate ANN paths against brute force, composed
    from the three (individually gated) ANN oracles as CTEs -- integer hit
    counts, so the quality bar is hash-exact across engines."""
    bf = CATALOG["ann_topk_bruteforce"].oracle
    lsh = CATALOG["ann_topk_lsh"].oracle
    iv = CATALOG["ann_topk_ivf"].oracle
    pq = CATALOG["ann_topk_pq"].oracle
    return f"""
WITH bf AS ({bf}), lsh AS ({lsh}), iv AS ({iv}), pq AS ({pq}),
approx AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id FROM iv
  UNION ALL
  SELECT 'pq' AS method, query_id, neighbor_id FROM pq
),
hits AS (
  SELECT method, count(*) AS hits
  FROM approx JOIN bf USING (query_id, neighbor_id) GROUP BY 1
),
tot AS (SELECT count(*) AS total FROM bf)
SELECT method, CAST(hits AS BIGINT) AS hits, CAST(total AS BIGINT) AS total
FROM hits CROSS JOIN tot
"""

@register(
    "ann_recall_at_k",
    oracle=_ann_recall_oracle(),
    doc="Quality gate for the approximate ANN paths: (query, neighbor) "
    "pairs of LSH, IVF, and PQ top-5 that appear in the exact brute-force "
    "top-5, as integer hit counts against the shared query subset -- the "
    "approximate operators are graded against ground truth, not just "
    "against their own definition.",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    flt = F.col("vec_id") % 25 == 0
    # localCheckpoint: the brute-force frame is bounded (5 rows per sampled
    # query) but its subtree is the expensive exact scan, and it has TWO
    # consumers (the hits join and the broadcast total) -- exchange reuse
    # doesn't kick in under broadcast, so without this the ground truth was
    # computed twice (CLAUDE.md round-6 twice-consumed rule).
    bf = (
        similarity.topk_bruteforce(emb, query_filter=flt)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    # ONE training-sample collect shared by the IVF and PQ branches (the
    # rows are md5-deterministic, so sharing is a pure plan change --
    # VERDICT r3 #3: the audit used to re-collect and re-run Lloyd per
    # method, most of its 22 s)
    train_rows = ivf._collect_train(ivf._with_int_vec(emb))
    approx = (
        similarity.topk_lsh(emb, query_filter=flt)
        .select(F.lit("lsh").alias("method"), "query_id", "neighbor_id")
        .unionByName(
            ivf.ivf_topk(emb, train_rows=train_rows).select(
                F.lit("ivf").alias("method"), "query_id", "neighbor_id"
            )
        )
        .unionByName(
            ivf.pq_topk(emb, train_rows=train_rows).select(
                F.lit("pq").alias("method"), "query_id", "neighbor_id"
            )
        )
    )
    hits = (
        approx.join(bf, ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    total = bf.agg(F.count(F.lit(1)).alias("total"))
    return hits.crossJoin(F.broadcast(total))

@register(
    "dedup_sorted_neighborhood",
    oracle=dedup.sorted_neighborhood_pairs_sql(),
    doc="Sorted-neighborhood (SNM) near-dup candidate pairs: records "
    "sorted by a normalized key prefix, each compared only to its 2 "
    "predecessors in sort order, kept at Levenshtein distance <= 25 -- "
    "the LINEAR-scan companion to the quadratic blocked edit-distance "
    "dedup (same family as Hernandez & Stolfo's merge/purge). 100 TB: "
    "the sort is confined to key-prefix blocks (one shuffle + "
    "in-partition sort); per-record cost is the window depth, never "
    "|block|^2.",
)
def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.sorted_neighborhood_pairs(docs)

@register(
    "dedup_prefix_filter_jaccard",
    oracle=dedup.prefix_filter_jaccard_sql(),
    doc="EXACT set-similarity self-join with prefix filtering (AllPairs/"
    "PPJoin) over the md5-hashed word-trigram space: every pair with "
    "Jaccard >= 1/2, no false negatives, no recall curve -- the "
    "full-corpus scale path for the shard-scoped ngram_jaccard space. "
    "Frequency-ordered prefixes keep posting lists short (rarest grams "
    "first); candidates are verified with integer cross-multiplied "
    "exact intersection, so per-engine candidate-set differences are "
    "invisible. 100 TB: one frequency shuffle + a prefix-keyed candidate "
    "join + a doc-keyed verify join; never all-pairs.",
)
def q_dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.prefix_filter_jaccard_pairs(docs)


@register(
    "record_linkage_scores",
    oracle=dedup.record_linkage_scores_sql(),
    doc="Fellegi-Sunter probabilistic record linkage over blocked "
    "candidate pairs: each comparison field (length band, text prefix, "
    "token count) contributes a fixed integer agreement/disagreement "
    "weight, the summed score classifies the pair match / possible / "
    "non_match (the classic two-threshold decision model); output is "
    "the per-block decision profile a linkage pipeline sizes its "
    "review queue with. Every weight an exact integer, so scores and "
    "classes are bit-equal cross-engine. 100 TB: the per-doc feature "
    "projection runs once (localCheckpoint -- it feeds BOTH self-join "
    "sides), the quadratic is confined to (lang, source) blocks like "
    "editdistance_pairs, and the profile folds with map-side partials "
    "to a blocks x 3 relation.",
)
def q_record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.record_linkage_scores(docs)


@register(
    "entity_resolution_clusters",
    oracle=dedup.entity_resolution_clusters_sql(),
    doc="Entity resolution: the shared Fellegi-Sunter pair stage "
    "(fs_pair_scores, factored out of record_linkage_scores) closed "
    "into canonical entities -- link every blocked pair scoring at or "
    "above FS_POSSIBLE_T (the optimistic closure a review pipeline "
    "sizes its entity table with; match-only is a 1-pair degenerate on "
    "this corpus), connected components via alternating large-star/"
    "small-star (O(log n) rounds, never a recursive join), entity id = "
    "component minimum, singletons their own entity. Output the "
    "record -> golden-entity mapping master-data pipelines join "
    "everywhere downstream. 100 TB: blocked pair generation + the "
    "star-contraction closure are the same shapes as "
    "dedup_clusters_minhash; sizing is one groupBy on the entity key.",
)
def q_entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.entity_resolution_clusters(docs)


@register(
    "index_staleness_audit",
    oracle=ivf.index_staleness_audit_sql(CATALOG["ann_topk_bruteforce"].oracle),
    doc="ANN index-staleness audit for the continuous-ingest shape: a new "
    "embedding batch (md5(id) split, the incremental-minhash convention) "
    "lands on a standing corpus whose IVF quantizer was trained BEFORE "
    "the batch arrived; new vectors get assigned to the stale centroids "
    "map-only (the real-world no-retrain-on-ingest contract). The audit "
    "grades what that costs: top-k recall vs exact brute force over the "
    "merged corpus, stale quantizer next to a freshly retrained one -- "
    "two rows (method, hits, total) of integer counts, the "
    "retrain-cadence dashboard number. Completes the ANN ops family "
    "(build -> search -> recall audit -> staleness audit). 100 TB: both "
    "quantizers are TRAIN_N-bounded driver Lloyd, assignment map-only "
    "over inlined centroid literals, ground truth localCheckpoint'd "
    "(bounded at topk rows per sampled query; it feeds the hits join "
    "AND the broadcast total -- the twice-consumed rule).",
)
def q_index_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return ivf.index_staleness_audit(emb)
