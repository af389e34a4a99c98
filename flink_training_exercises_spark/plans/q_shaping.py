"""Training-data shaping: stratified sampling, domain caps, length bucketing, sequence packing, mixtures, shard layout, salted aggregation.

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
    sampling,
    skew,
    tpch,
)


_SAMPLE_RATES = {"src0": 10000, "src1": 5000, "src2": 0}  # bp; default 2000

@register(
    "sample_stratified_documents",
    oracle="SELECT doc_id, lang, source, n_chars FROM ("
    + sampling.stratified_sample_sql(rates_bp=_SAMPLE_RATES, default_bp=2000)
    + ")",
    doc="Deterministic stratified sampling: keep iff md5(doc_id) % 10000 < "
    "the stratum's basis-point rate (overrides: src0 all, src1 half, src2 "
    "none; default 20%). Pure function of the row id -- reproducible "
    "across engines, partitionings, and cluster sizes; scan-only, no "
    "shuffle, no RNG state.",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return sampling.stratified_sample(docs, rates_bp=_SAMPLE_RATES, default_bp=2000).select(
        "doc_id", "lang", "source", "n_chars"
    )

@register(
    "domain_cap_documents",
    oracle="SELECT doc_id, lang, source, n_chars FROM ("
    + sampling.domain_cap_sql(cap=18)
    + ")",
    doc="Per-domain contribution cap (<= 18 docs per source, the md5-rank "
    "smallest ids win): the standard guard against one domain dominating "
    "a training mixture. Deterministic rank-by-hash, one shuffle on the "
    "domain key, window top-k shares it.",
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return sampling.domain_cap(docs, cap=18).select("doc_id", "lang", "source", "n_chars")

@register(
    "length_bucket_batches",
    oracle=sampling.length_batches_sql(),
    doc="Length-sorted batching with padding accounting: sort docs by "
    "token count, cut into 32-doc batches, report per-batch padding "
    "overhead (each sequence pads to the batch max) -- the statistic that "
    "justifies length-bucketing in a training dataloader. One global "
    "range-sort; the window and the batch aggregate share it.",
)
def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.length_batches(load_table(spark, "documents", sf_dir))

@register(
    "pack_sequences_4k",
    oracle=sampling.pack_sequences_sql(),
    doc="Greedy token-budget sequence packing: per source shard in doc_id "
    "order, bin i holds docs whose preceding cumulative whitespace-token "
    "count lies in [i*4096, (i+1)*4096) -- the layout step before writing "
    "fixed-context training shards. One shuffle on the shard key; window "
    "cumsum and bin aggregate share it.",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.pack_sequences(load_table(spark, "documents", sf_dir))

_MIX_WEIGHTS = {"src0": 250, "src1": 130, "src2": 50, "src3": 0}  # centi-epochs

@register(
    "mixture_expand_weighted",
    oracle=sampling.mixture_expand_sql(weights_ce=_MIX_WEIGHTS),
    doc="Source-weighted epoch mixing with fractional repetition: src0 at "
    "2.5 epochs (every doc twice, a deterministic md5-chosen half a third "
    "time), src1 1.3, src2 0.5, src3 dropped, rest 1.0. Pure map (explode "
    "of a per-row copy count) -- no shuffle, no RNG, reproducible across "
    "engines and partitionings.",
)
def q_mixture_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return sampling.mixture_expand(docs, weights_ce=_MIX_WEIGHTS)

@register(
    "shuffle_shard_layout",
    oracle=sampling.shuffle_shard_sql(),
    doc="Deterministic global training shuffle: shard = md5(doc_id||':shard') "
    "% 8, within-shard position = rank by an independent md5 key. One "
    "shuffle (per-shard window sort) == repartition + sortWithinPartitions "
    "at cluster scale; the id->shard map is corpus-independent so shards "
    "can be re-derived for any subset.",
)
def q_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.shuffle_shard(load_table(spark, "documents", sf_dir))

@register(
    "skew_salted_event_counts",
    oracle="""
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 1
""",
    doc="Salted two-phase aggregation under the hash gate: the skew-safe "
    "rewrite (phase 1 on (key, salt), phase 2 combine) must equal the "
    "plain GROUP BY bit-for-bit -- integer aggregates re-combine exactly, "
    "so ANY salt assignment yields the identical result, which is what "
    "makes the mitigation safe to drop in at a hot key.",
)
def q_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    return skew.salted_aggregate(
        ev, ["event_type"], {"n_events": "count", "cents": "sum:cents"}
    )

@register(
    "distinct_users_per_type",
    oracle=tpch.DISTINCT_USERS_SQL,
    doc="Exact grouped count-distinct (aggregate form of A7).",
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.distinct_users_per_type(load_table(spark, "events", sf_dir))


@register(
    "weighted_sample",
    oracle=sampling.weighted_sample_sql(),
    doc="Deterministic weighted sampling WITHOUT replacement by the "
    "unit-ticket min-hash scheme: each document buys w = 1 + "
    "length/50 lottery tickets (capped at 40 -- the explosion guard), "
    "every ticket hashes to a uniform 60-bit md5 key, priority = the "
    "doc's MINIMUM ticket key, sample = k smallest priorities. "
    "P(drawn first) = w_i/W exactly; successive ranks give the "
    "without-replacement chain -- the md5-keyed twin of A-RES "
    "(Efraimidis & Spirakis) with the cross-engine-unstable float "
    "u^(1/w) key replaced by an integer order statistic. Rank uses an "
    "explicit FLOOR before the BIGINT cast (ADVICE r7 fix -- this "
    "gate row attests it). 100 TB: map-side ticket explode (bounded "
    "by the cap), one map-side-combined min groupBy, distributed "
    "TakeOrdered top-k -- never a global sort.",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return sampling.weighted_sample(docs)


@register(
    "quota_sample",
    oracle=sampling.quota_sample_sql(),
    doc="QUOTA-exact stratified sampling: exactly min(k, stratum size) "
    "rows per (lang, source) stratum, chosen as the k smallest md5 "
    "priorities -- the eval-set construction rule ('k examples per "
    "cell') that the gated rate-based sample_stratified_documents "
    "cannot express (a rate yields binomial counts; a quota yields "
    "exact ones). Pick is a pure function of the ids: reproducible "
    "across engines, clusters, reruns; sample_rank records the "
    "within-stratum priority order. 100 TB: one hash shuffle keyed on "
    "the strata for the rank window (parallel across strata; a "
    "groupBy min_by-heap fallback is documented if a single stratum "
    "ever outgrows a task); output is quota-bounded at k rows per "
    "stratum.",
)
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return sampling.quota_sample(docs)


@register(
    "contrastive_negatives",
    oracle=sampling.contrastive_negatives_sql(),
    doc="Deterministic negative sampling for contrastive/embedding "
    "training: for each anchor vector, up to k=4 different-label "
    "negatives chosen by a bounded md5 probe sequence -- the (anchor, "
    "negatives) batch builder with the reproducibility contract a "
    "training pipeline wants (same corpus -> same negatives, any "
    "cluster layout or partition count). Probe j targets id "
    "md5(anchor:neg:j) % (max_id+1); misses (gap id, same label, self) "
    "are skipped -- up-to-k from 16 bounded attempts, never a cross "
    "join. 100 TB: one explode to n_probes rows per anchor (constant "
    "factor), one equi-join on the probed id, one anchor-keyed window "
    "for the rank cut; max_id is a 1-row broadcast.",
)
def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return sampling.contrastive_negatives(emb)
