"""Round-4/5 pipeline operators: CDC merge (batch+streaming), SSSP/label propagation, BPE train/encode, funnel/retention, incremental corpus round-trip.

Registration module: imported by plans.catalog for its @register side
effects; the shared QuerySpec registry, query order and determinism
rules live in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..sources import load_table
from .catalog import register
from ..operators import (
    cdc,
    dedup,
    graph,
    sampling,
    sketches,
    textstats,
    timeseries,
)
from .q_sketches_graph import _KCORE_EDGES_SQL


# ---------------------------------------------------------------------------
# Round-4 batch 2: CDC MERGE semantics, Pregel-style SSSP, tokenizer
# vocabulary-coverage audit.
# ---------------------------------------------------------------------------

# 2024-01-16 00:00:00 (naive) in epoch ms -- the change-batch cutoff.
# epoch-ms comparison on both sides: TZ-independent by construction.
_CDC_CUTOFF_MS = 1705363200000

@register(
    "cdc_merge_user_state",
    oracle=cdc.merge_upsert_user_state_sql(_CDC_CUTOFF_MS),
    doc="MERGE INTO semantics as one batch plan (the Delta/Hudi/Iceberg "
    "upsert shape; reference analogue = keyed latest-state maintenance, "
    "TravelTimePrediction.java): snapshot = latest pre-cutoff event per "
    "user, change batch = post-cutoff events with 'error' rows as delete "
    "markers, merged last-writer-wins by (state_ms, event_id) with "
    "changes beating the snapshot on ties. One hash shuffle on the merge "
    "key -- the minimum any MERGE pays.",
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.time import epoch_ms
    from ..operators.cdc import merge_upsert

    ev = load_table(spark, "events", sf_dir).withColumn("state_ms", epoch_ms("ts"))
    pre = ev.where(F.col("state_ms") < _CDC_CUTOFF_MS)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    snapshot = (
        pre.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            "event_type",
            "value",
            "state_ms",
            "event_id",
            F.lit(False).alias("is_delete"),
        )
    )
    changes = ev.where(F.col("state_ms") >= _CDC_CUTOFF_MS).select(
        "user_id",
        "event_type",
        "value",
        "state_ms",
        "event_id",
        (F.col("event_type") == "error").alias("is_delete"),
    )
    return merge_upsert(
        snapshot, changes, keys=["user_id"], seq_cols=["state_ms", "event_id"]
    )

@register(
    "sssp_event_graph",
    oracle=graph.sssp_hops_sql(_KCORE_EDGES_SQL),
    doc="Single-source shortest paths (BFS hop counts, Gelly's SSSP "
    "exercise / Pregel's canonical example) from node 0 on the "
    "md5-derived directed event graph: iterative frontier expansion with "
    "per-round localCheckpoint vs the oracle's 8-round settled-set "
    "unroll -- equal because settled BFS distances are final, so "
    "post-convergence rounds are identity (the kcore contract).",
)
def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    ev = load_table(spark, "events", sf_dir)
    n_nodes = max(ev.count() // 3, 2)
    edges = ev.select(
        (md5_long(F.concat(F.lit("s"), F.col("event_id").cast("string"))) % n_nodes).alias("src"),
        (md5_long(F.concat(F.lit("d"), F.col("event_id").cast("string"))) % n_nodes).alias("dst"),
    )
    return graph.sssp_hops(edges, source=0)

@register(
    "label_propagation_communities",
    oracle=graph.label_propagation_sql(_KCORE_EDGES_SQL),
    doc="Synchronous min-label propagation (deterministic LPA variant: min "
    "instead of mode, so no tie-break nondeterminism) on the undirected "
    "md5-derived event graph: 6 rounds, each node's label becomes the "
    "minimum node id within 6 hops -- community labels at fixpoint equal "
    "the component minimum. Spark loop with early exit + per-round "
    "localCheckpoint vs the oracle's 6-round unrolled CTE -- equal by the "
    "post-convergence-rounds-are-identity contract (kcore/sssp). One "
    "edges|><|labels join + one min groupBy per round, both keyed on node.",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    ev = load_table(spark, "events", sf_dir)
    n_nodes = max(ev.count() // 3, 2)
    edges = ev.select(
        (md5_long(F.concat(F.lit("s"), F.col("event_id").cast("string"))) % n_nodes).alias("src"),
        (md5_long(F.concat(F.lit("d"), F.col("event_id").cast("string"))) % n_nodes).alias("dst"),
    )
    return graph.label_propagation(edges)

@register(
    "vocab_oov_rate",
    oracle=textstats.vocab_oov_rate_sql(),
    doc="Tokenizer-coverage audit: per-document OOV rate against the "
    "corpus' own top-1000 token vocabulary (count desc, token asc "
    "tiebreak) with the coverage-filter keep flag (oov_rate <= 0.2). "
    "Vocabulary = one map-side-combined count + bounded top-k; probe = "
    "broadcast join on the exploded tokens, re-aggregated to one row per "
    "doc map-side before the only shuffle. Ratio is a single division of "
    "exact BIGINTs.",
)
def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.vocab_oov_rate(docs)

@register(
    "timeseries_gapfill_hourly",
    oracle=timeseries.gapfill_ffill_sql(),
    doc="Resample + forward-fill: each user's event series regularized "
    "onto an hourly grid spanning their own [min, max] bucket range, "
    "last observation carried forward through empty buckets (the metrics "
    "warehouse resample+ffill shape). Buckets are pure epoch-ms "
    "arithmetic (never date_trunc -- session-TZ hazard); the filled "
    "value is a raw column value picked by a total order, never an "
    "aggregate.",
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return timeseries.gapfill_ffill(ev)

@register(
    "hll_merge_shards",
    oracle=sketches.hll_merge_demo_oracle(),
    doc="The sketch merge law gated as a single-row result: HLL registers "
    "built independently per shard (event_id % 4 -- stand-in for "
    "executors/days), merged by per-bucket register max, must estimate "
    "EXACTLY what the direct all-rows sketch estimates (max-of-maxes = "
    "max). This is the property that lets a 1000-executor rollup combine "
    "kilobyte partials instead of re-shuffling raw keys, and per-day "
    "sketches roll up to months.",
)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return sketches.hll_merge_demo(ev, "user_id", "event_id")

@register(
    "bpe_train_merges",
    oracle=textstats.bpe_train_merges_sql(),
    doc="ACTUAL BPE merge induction (Sennrich et al. 2016), 3 rounds: "
    "character symbols over the alpha-word vocabulary, each round's "
    "argmax adjacent pair merged corpus-wide (greedy left-to-right via "
    "boundary-safe literal replace on a double-delimited symbol string). "
    "bpe_pair_counts is round 1's statistic; this runs the loop. Oracle "
    "= full 3-round CTE unroll with the argmax threaded through scalar "
    "subqueries. Training cost is vocab-bounded (corpus-size-independent "
    "after one counting pass); the per-round driver collect is exactly "
    "one argmax row (IVF training-collect policy).",
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.bpe_train_merges(docs)

@register(
    "streaming_cdc_merge",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, value, epoch_ms(ts) AS state_ms, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rk
  FROM events
)
SELECT user_id, event_type, value, state_ms, event_id
FROM r WHERE rk = 1 AND event_type != 'error'
""",
    doc="Streaming MERGE through the real engine (foreachBatch upsert "
    "sink -- the Delta/Hudi streaming-materialized-view shape): the event "
    "stream folds per micro-batch onto a parquet state table via "
    "cdc.merge_latest ('error' rows = delete tombstones, kept in state so "
    "later batches can't resurrect deleted keys); final drained state = "
    "the one-shot batch LWW result because the merge is associative by "
    "key. Batch-boundary invariance pinned by "
    "tests/test_streaming.py::test_streaming_query_replays_to_oracle.",
    source="events",
)
def q_streaming_cdc_merge(events: DataFrame, sf_dir: str) -> DataFrame:
    from ..functions.time import epoch_ms
    from ..streaming.queries import run_cdc_merge_availablenow

    changes = events.select(
        "user_id",
        "event_type",
        "value",
        epoch_ms("ts").alias("state_ms"),
        "event_id",
        (F.col("event_type") == "error").alias("is_delete"),
    )
    return run_cdc_merge_availablenow(
        changes,
        keys=["user_id"],
        seq_cols=["state_ms", "event_id"],
        query_name="streaming_cdc_merge_gate",
    )

@register(
    "streaming_incremental_rollup",
    oracle="""
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       max(epoch_ms(ts)) AS last_ms
FROM events GROUP BY 1
""",
    doc="Streaming incremental ROLLUP (materialized-view maintenance, the "
    "most common production streaming job): per micro-batch the events "
    "reduce to per-user mergeable partials (count, integer-cents sum, "
    "max ms) folded onto a parquet rollup table via foreachBatch; the "
    "drained state equals the one-shot batch aggregate because the folds "
    "are associative+commutative per key, so any chunking lands on the "
    "same rollup (chunked-replay invariance pytest-pinned). An additive "
    "fold is not naturally idempotent under at-least-once foreachBatch, "
    "so a batch whose versioned state directory is already committed is "
    "skipped (streaming.queries.fold_availablenow).",
    source="events",
)
def q_streaming_incremental_rollup(events: DataFrame, sf_dir: str) -> DataFrame:
    from ..streaming.queries import run_rollup_merge_availablenow

    return run_rollup_merge_availablenow(events)

def _split_case_sql(id_expr: str) -> str:
    """80/10/10 deterministic split label for a doc-id expression."""
    from ..functions.hashing import md5_long_sql

    h = md5_long_sql(f"CAST({id_expr} AS VARCHAR) || ':split'") + " % 100"
    return f"CASE WHEN {h} < 80 THEN 'train' WHEN {h} < 90 THEN 'val' ELSE 'test' END"

def _split_leakage_oracle() -> str:
    return f"""
WITH pairs AS ({dedup.minhash_lsh_sql()}),
lab AS (
  SELECT {_split_case_sql('id_a')} AS ca, {_split_case_sql('id_b')} AS cb FROM pairs
)
SELECT least(ca, cb) AS split_a, greatest(ca, cb) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY 1, 2
"""

@register(
    "split_leakage_neardup",
    oracle=_split_leakage_oracle(),
    doc="Train/val/test split leakage through NEAR-duplicates: documents "
    "are assigned splits by a deterministic md5 hash (80/10/10 -- the "
    "split every pipeline ships), then the MinHash near-dup pairs are "
    "labeled by their endpoints' splits and counted per (split_a <= "
    "split_b) bucket. Off-diagonal buckets are evaluation contamination "
    "that exact-match decontamination (contamination_ngram_overlap) "
    "cannot see -- the near-dup leakage audit from the dedup literature. "
    "Reuses the MinHash signature/pair machinery; one extra "
    "map-only labeling + a 6-bucket aggregate on top of the pair join.",
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs).select("id_a", "id_b")

    def split_c(c):
        h = md5_long(F.concat(c.cast("string"), F.lit(":split"))) % 100
        return (
            F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
        )

    sa, sb = split_c(F.col("id_a")), split_c(F.col("id_b"))
    return (
        pairs.select(F.least(sa, sb).alias("split_a"), F.greatest(sa, sb).alias("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )

@register(
    "funnel_user_stages",
    oracle="""
WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
t1 AS (SELECT user_id, min(ms) AS t_view_ms FROM e
       WHERE event_type = 'view' GROUP BY 1),
t2 AS (SELECT e.user_id, min(ms) AS t_click_ms FROM e JOIN t1 USING (user_id)
       WHERE event_type = 'click' AND ms > t_view_ms GROUP BY 1),
t3 AS (SELECT e.user_id, min(ms) AS t_signup_ms FROM e JOIN t2 USING (user_id)
       WHERE event_type = 'signup' AND ms > t_click_ms GROUP BY 1),
t4 AS (SELECT e.user_id, min(ms) AS t_purchase_ms FROM e JOIN t3 USING (user_id)
       WHERE event_type = 'purchase' AND ms > t_signup_ms GROUP BY 1)
SELECT t1.user_id,
       CAST(1 + (CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN t4.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS funnel_depth,
       t_view_ms,
       COALESCE(t_click_ms, -1) AS t_click_ms,
       COALESCE(t_signup_ms, -1) AS t_signup_ms,
       COALESCE(t_purchase_ms, -1) AS t_purchase_ms
FROM t1
LEFT JOIN t2 ON t1.user_id = t2.user_id
LEFT JOIN t3 ON t1.user_id = t3.user_id
LEFT JOIN t4 ON t1.user_id = t4.user_id
""",
    doc="ORDERED conversion funnel (view -> click -> signup -> purchase): "
    "each stage's timestamp is the first occurrence STRICTLY AFTER the "
    "previous stage's -- the sequential-funnel semantics (a click before "
    "any view does not count), not mere event-type possession. Output "
    "per user reaching stage 1: funnel_depth + per-stage first-reach "
    "epoch ms (-1 for unreached). Scale shape: one keyed min per stage "
    "over a stream pre-filtered to that stage's type, each joined to the "
    "shrinking prior-stage cohort -- the per-stage relations decay like "
    "the conversion rate, and everything is keyed on user_id so a real "
    "deployment co-partitions all four aggregations in one shuffle.",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.time import epoch_ms

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", epoch_ms("ts").alias("ms")
    )

    def stage(prev, etype, prev_col, out_col):
        return (
            ev.where(F.col("event_type") == etype)
            .join(prev, "user_id")
            .where(F.col("ms") > F.col(prev_col))
            .groupBy("user_id")
            .agg(F.min("ms").alias(out_col))
        )

    t1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("t_view_ms"))
    )
    t2 = stage(t1, "click", "t_view_ms", "t_click_ms")
    t3 = stage(t2, "signup", "t_click_ms", "t_signup_ms")
    t4 = stage(t3, "purchase", "t_signup_ms", "t_purchase_ms")
    notnull = lambda c: F.when(F.col(c).isNull(), 0).otherwise(1)  # noqa: E731
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .join(t4, "user_id", "left")
        .select(
            "user_id",
            (1 + notnull("t_click_ms") + notnull("t_signup_ms") + notnull("t_purchase_ms"))
            .cast("bigint")
            .alias("funnel_depth"),
            "t_view_ms",
            F.coalesce("t_click_ms", F.lit(-1)).alias("t_click_ms"),
            F.coalesce("t_signup_ms", F.lit(-1)).alias("t_signup_ms"),
            F.coalesce("t_purchase_ms", F.lit(-1)).alias("t_purchase_ms"),
        )
    )

_WEEK_MS = 7 * 86400000

_COHORT_ORIGIN_MS = 1704067200000  # 2024-01-01, epoch ms of the NTZ instant

@register(
    "retention_cohorts",
    oracle=f"""
WITH e AS (
  SELECT user_id, (epoch_ms(ts) - {_COHORT_ORIGIN_MS}) // {_WEEK_MS} AS wk
  FROM events
),
first AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1),
act AS (SELECT DISTINCT user_id, wk FROM e)
SELECT f.cohort_week, a.wk - f.cohort_week AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM act a JOIN first f ON a.user_id = f.user_id
GROUP BY 1, 2
""",
    doc="Retention cohort matrix: users bucketed by first-active week "
    "(pure epoch-ms integer division from a fixed origin -- never "
    "date_trunc, which buckets in session TZ), counted per (cohort_week, "
    "week_offset) of later activity. The canonical warehouse retention "
    "query. Two keyed shuffles (per-user min + the distinct); the cohort "
    "aggregate is tiny. Integer week arithmetic is engine-exact (per-"
    "engine integer division: Spark `div`, DuckDB `//`).",
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.time import epoch_ms

    e = (
        load_table(spark, "events", sf_dir)
        .select("user_id", epoch_ms("ts").alias("ms"))
        .select(
            "user_id",
            F.expr(f"(ms - {_COHORT_ORIGIN_MS}) div {_WEEK_MS}").alias("wk"),
        )
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    act = e.distinct()
    return (
        act.join(first, "user_id")
        .groupBy("cohort_week", (F.col("wk") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )

@register(
    "bpe_encode_corpus",
    oracle=textstats.bpe_encode_sql(),
    doc="Tokenizer APPLICATION: encode every document with the merges "
    "learned by bpe_train_merges (replayed in rank order over the "
    "distinct word vocabulary -- vocab-bounded work, broadcast join "
    "back, map-side per-doc collapse). Output per doc: n_words, "
    "n_chars (pre-merge symbols), n_tokens (post-merge) -- the "
    "compression the tokenizer buys, all exact BIGINTs. Completes the "
    "train->apply tokenizer loop the way streaming_cdc_merge completes "
    "batch MERGE.",
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.bpe_encode(docs)

@register(
    "streaming_enrich_static",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, epoch_ms(e.ts) AS ts_ms,
       c.c_mktsegment AS segment, n.n_name AS nation
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
""",
    doc="Stream-static dimension enrichment through the real engine: the "
    "event stream inner-joined per micro-batch to a broadcast dimension "
    "graph (customer |><| nation) on user_id. Stateless -- rows emit on "
    "processing, no watermark state -- so the availableNow drain equals "
    "the plain batch join and the oracle needs no horizon cut. The "
    "canonical star-schema enrichment every event pipeline runs.",
    source="events",
)
def q_streaming_enrich_static(events: DataFrame, sf_dir: str) -> DataFrame:
    from ..streaming.queries import run_enrich_static_availablenow

    return run_enrich_static_availablenow(events, sf_dir)

@register(
    "dedup_editdistance_blocked",
    oracle=dedup.editdistance_pairs_sql(),
    doc="Blocked Levenshtein near-dup pairs: normalized 40-char header "
    "prefixes compared within (lang, source) blocks, dist <= 25 -- the "
    "record-linkage metric for short-text dedup where set-based "
    "similarity is too coarse. Quadratic confined to co-located blocks "
    "by an equi-join on the blocking keys.",
)
def q_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.editdistance_pairs(docs)

@register(
    "dedup_keep_best",
    oracle=f"""
WITH cl AS ({dedup.minhash_clusters_sql()}),
q AS ({textstats.quality_score_sql()}),
alldocs AS (
  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
),
r AS (
  SELECT f.doc_id, f.cluster_id, q.quality_score,
         row_number() OVER (PARTITION BY f.cluster_id
                            ORDER BY q.quality_score DESC, f.doc_id) AS rk,
         count(*) OVER (PARTITION BY f.cluster_id) AS csz
  FROM alldocs f JOIN q ON f.doc_id = q.doc_id
)
SELECT doc_id, cluster_id, CAST(csz AS BIGINT) AS cluster_size,
       quality_score, rk = 1 AS kept
FROM r
""",
    doc="Canonical-document selection -- the step a real dedup pipeline "
    "runs AFTER clustering: every doc mapped to its near-dup cluster "
    "(MinHash pairs -> connected components; singletons are their own "
    "cluster), then keep the best-quality doc per cluster (quality desc, "
    "doc_id tiebreak). Output flags every doc with its cluster, cluster "
    "size, and kept/dropped -- the survivor list plus the audit trail. "
    "One extra shuffle on cluster_id beyond the clustering itself.",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs).select("id_a", "id_b")
    cl = graph.connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("cl_id")
    )
    q = textstats.quality_score(docs).select("doc_id", "quality_score")
    alldocs = (
        docs.select("doc_id")
        .join(cl, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("cl_id"), F.col("doc_id")).alias("cluster_id")
        )
    )
    w = Window.partitionBy("cluster_id")
    w_rank = w.orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return (
        alldocs.join(q, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
            "quality_score",
            (F.row_number().over(w_rank) == 1).alias("kept"),
        )
    )

def _incremental_roundtrip_oracle() -> str:
    """CTE-unrolled twin of the composed ingest round-trip: the incremental
    MinHash match (shared with dedup_incremental_minhash), the survivor
    anti-join, the MERGE fold (disjoint keys here, so LWW == union -- the
    operator chain is what's pinned), and the md5 shard layout (shared
    with shuffle_shard_layout)."""
    from ..functions.hashing import md5_long_sql

    is_new = f"{md5_long_sql('CAST(doc_id AS VARCHAR)')} % 10000 < 2000"
    sid = md5_long_sql("CAST(doc_id AS VARCHAR) || ':shard'")
    key = md5_long_sql("CAST(doc_id AS VARCHAR) || ':ord'")
    return f"""
WITH incr AS ({dedup.incremental_minhash_sql()}),
merged AS (
  SELECT doc_id, 'standing' AS status FROM documents WHERE NOT ({is_new})
  UNION ALL
  SELECT doc_id, 'ingested' AS status FROM documents
  WHERE ({is_new}) AND doc_id NOT IN (SELECT new_id FROM incr)
),
keyed AS (
  SELECT doc_id, status, CAST({sid} % 8 AS BIGINT) AS shard_id, {key} AS sort_key
  FROM merged
)
SELECT doc_id, status, shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY sort_key, doc_id) - 1
            AS BIGINT) AS pos
FROM keyed
"""

@register(
    "incremental_corpus_roundtrip",
    oracle=_incremental_roundtrip_oracle(),
    doc="Composed continuous-ingest round-trip (VERDICT r4 #7): a new "
    "crawl batch (md5(doc_id)%10000 < 2000) is deduped against the "
    "standing corpus via the broadcast MinHash band probe "
    "(dedup.incremental_minhash_matches), near-dup batch docs are "
    "dropped, survivors fold onto the corpus through the MERGE operator "
    "(cdc.merge_latest -- LWW by doc_id; keys are disjoint here so the "
    "merge is a union, but the chain exercises the exact operator the "
    "streaming twin drains through), and the merged corpus is laid out "
    "into md5 training shards (sampling.shuffle_shard, status riding "
    "through). Pins the PIPELINE composition the way curation_pipeline "
    "pins the batch funnel. Output (doc_id, status, shard_id, pos). "
    "Scale shape: each stage is individually 100 TB-safe (broadcast "
    "band probe, one merge-key shuffle, one shard-window shuffle) and "
    "the composition adds NO extra shuffle beyond its stages.",
)
def q_incremental_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    docs = load_table(spark, "documents", sf_dir)
    matches = dedup.incremental_minhash_matches(docs)
    is_new = md5_long(F.col("doc_id").cast("string")) % 10000 < 2000
    standing = docs.where(~is_new).select("doc_id")
    batch = docs.where(is_new).select("doc_id")
    dup_ids = matches.select(F.col("new_id").alias("doc_id")).distinct()
    survivors = batch.join(dup_ids, "doc_id", "left_anti")
    snap = standing.select(
        "doc_id", F.lit("standing").alias("status"), F.lit(0).alias("seq")
    )
    ins = survivors.select(
        "doc_id", F.lit("ingested").alias("status"), F.lit(1).alias("seq")
    )
    merged = cdc.merge_latest(snap, ins, keys=["doc_id"], seq_cols=["seq"]).drop("seq")
    sharded = sampling.shuffle_shard(
        merged, extra_cols=["status"]
    )
    return sharded.select(
        F.col("id").alias("doc_id"), "status", "shard_id", "pos"
    )


@register(
    "tokenizer_fertility",
    oracle=textstats.tokenizer_fertility_sql(),
    doc="Tokenizer fertility audit: per corpus segment (lang, source), "
    "tokens-per-word and tokens-per-char of the trained BPE tokenizer "
    "-- the standard multilingual-tokenizer cost metric (fertility 2x "
    "means 2x the sequence length for the same text; how vocab "
    "under-coverage of a language shows up in training cost). Closes "
    "the tokenizer family: train (bpe_train_merges) -> apply "
    "(bpe_encode_corpus) -> audit. Ratios as exact integer ppm with "
    "guarded DIV (ANSI-safe on zero-alpha-word segments). 100 TB: "
    "bpe_encode's work is vocab-bounded; the segment join is a "
    "column-pruned doc-keyed projection, the profile folds map-side "
    "to a vocabulary-bounded relation.",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.tokenizer_fertility(docs)
