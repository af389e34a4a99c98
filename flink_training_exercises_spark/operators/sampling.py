"""Corpus sampling and sequence packing -- training-data pipeline staples
on top of the reference surface (task brief: "beyond the reference").

* ``stratified_sample``: deterministic per-stratum rate sampling. The keep
  decision is a pure function of the row id (md5-derived 60-bit hash mod
  10000 compared against the stratum's basis-point rate), so the sample is
  reproducible across runs, engines, partitionings, and cluster sizes --
  no RNG state, no seed-per-partition coupling. One scan, no shuffle; the
  classic way to downsample / re-weight a 100 TB mixture without a
  shuffle-side sampler.

* ``pack_sequences``: greedy token-budget packing -- assign documents (in
  deterministic id order within each shard) to consecutive bins of ~budget
  tokens, the layout step before writing fixed-context training shards.
  One shuffle on the shard key; the running token sum and bin assignment
  are a single window pass sharing that partitioning. A document longer
  than the budget occupies its own bin (the cumsum jumps a boundary) --
  same rule both engines.

Both use whole-number arithmetic only, so the DuckDB twins are hash-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..functions.text import words, words_sql

SAMPLE_MOD = 10000  # rates are expressed in basis points


def stratified_sample(
    df: DataFrame, rates_bp: dict[str, int] | None = None, default_bp: int = 1000
) -> DataFrame:
    """Keep a row iff md5(id) % 10000 < its stratum's basis-point rate.
    Deterministic, engine-independent, scan-only (no shuffle, no RNG)."""
    bucket = md5_long(F.col("doc_id").cast("string")) % SAMPLE_MOD
    rate = F.lit(default_bp)
    for stratum, bp in sorted((rates_bp or {}).items()):
        rate = F.when(F.col("source") == stratum, F.lit(bp)).otherwise(rate)
    return df.where(bucket < rate)


def stratified_sample_sql(rates_bp: dict[str, int] | None = None, default_bp: int = 1000) -> str:
    rate = str(default_bp)
    for stratum, bp in sorted((rates_bp or {}).items(), reverse=True):
        rate = f"CASE WHEN source = '{stratum}' THEN {bp} ELSE {rate} END"
    bucket = md5_long_sql("CAST(doc_id AS VARCHAR)")
    return f"SELECT * FROM documents WHERE {bucket} % {SAMPLE_MOD} < {rate}"


def pack_sequences(docs: DataFrame, token_budget: int = 4096) -> DataFrame:
    """Greedy sequence packing: per shard, in id order, bin i holds the docs
    whose PRECEDING cumulative token count is in [i*budget, (i+1)*budget).
    Output one row per bin: (shard, bin_id, n_docs, total_tokens,
    first_doc_id, last_doc_id)."""
    ws = words()
    run = (
        Window.partitionBy("shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = docs.select(
        F.col("source").alias("shard"),
        F.col("doc_id").alias("id"),
        F.size(ws).cast("bigint").alias("n_tokens"),
    )
    binned = base.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(run), F.lit(0))
    ).withColumn(
        # integer division (Spark `div` == DuckDB `//` on non-negatives)
        "bin_id",
        F.expr(f"cum_before div {token_budget}").cast("bigint"),
    )
    return (
        binned.groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("id").alias("first_doc_id"),
            F.max("id").alias("last_doc_id"),
        )
    )


def pack_sequences_sql() -> str:
    return f"""
WITH base AS (
  SELECT source AS shard, doc_id AS id,
         CAST(len({words_sql()}) AS BIGINT) AS n_tokens
  FROM documents
),
binned AS (
  SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // 4096 AS BIGINT) AS bin_id
  FROM base
)
SELECT shard, bin_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(id) AS first_doc_id, max(id) AS last_doc_id
FROM binned GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Corpus mixing and training-shard layout.
# ---------------------------------------------------------------------------


def mixture_expand(
    docs: DataFrame, weights_ce: dict[str, int] | None = None, default_ce: int = 100
) -> DataFrame:
    """Source-weighted epoch mixing with fractional repetition: a doc whose
    stratum has weight w centi-epochs (100 = 1.0) is emitted floor(w/100)
    times, plus one more iff md5(id)'s fractional bucket < w % 100 -- so
    "2.5 epochs of wiki" repeats every wiki doc twice and a deterministic
    half of them a third time. Pure map: the per-row copy count is a
    function of (stratum weight, id hash) and the expansion is an
    exploded sequence -- no shuffle, no RNG, reproducible across engines,
    partitionings, and cluster sizes. Output (id, stratum, copy_idx).
    """
    w = F.lit(default_ce)
    for stratum, ce in sorted((weights_ce or {}).items()):
        w = F.when(F.col("source") == stratum, F.lit(ce)).otherwise(w)
    frac_bucket = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))) % 100
    return (
        docs.select(
            F.col("doc_id").alias("id"),
            F.col("source").alias("stratum"),
            (w.cast("bigint")).alias("w_ce"),
            frac_bucket.alias("fb"),
        )
        .withColumn("n_copies", F.expr("w_ce div 100") + (F.col("fb") < F.col("w_ce") % 100).cast("bigint"))
        .where(F.col("n_copies") > 0)
        .select(
            "id",
            "stratum",
            F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_copies") - 1)).alias(
                "copy_idx"
            ),
        )
    )


def mixture_expand_sql(weights_ce: dict[str, int] | None = None) -> str:
    w = str(100)
    for stratum, ce in sorted((weights_ce or {}).items(), reverse=True):
        w = f"CASE WHEN source = '{stratum}' THEN {ce} ELSE {w} END"
    mix_expr = "CAST(doc_id AS VARCHAR) || ':mix'"
    fb = f"{md5_long_sql(mix_expr)} % 100"
    return f"""
WITH counted AS (
  SELECT doc_id AS id, source AS stratum,
         CAST(({w}) // 100
              + CASE WHEN {fb} < ({w}) % 100 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM documents
)
SELECT id, stratum, CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT) AS copy_idx
FROM counted WHERE n_copies > 0
"""


def shuffle_shard(
    docs: DataFrame, n_shards: int = 8, extra_cols: list[str] | None = None
) -> DataFrame:
    """Deterministic global training shuffle + shard layout: shard =
    md5(id) % n_shards, position within shard = rank by an INDEPENDENT
    md5 key (id tie-break). The id->shard map is a pure function (a doc's
    shard never depends on the rest of the corpus); the within-shard order
    is uniformly pseudo-random yet reproducible. Exactly one shuffle --
    the per-shard window sort -- which at cluster scale is
    repartition(n_shards, shard) + sortWithinPartitions(sort_key): each
    output file written sorted, no global sort. Output
    (shard_id, pos, id [, extra_cols...]); ``extra_cols`` ride through the
    layout so composed pipelines don't need a join-back (which would
    re-evaluate the input subtree on both sides)."""
    extra = list(extra_cols or [])
    reserved = {"id", "shard_id", "sort_key", "pos", "doc_id"}
    clash = reserved.intersection(extra)
    assert not clash, f"extra_cols collide with layout columns: {sorted(clash)}"
    sid = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":shard"))) % n_shards
    sort_key = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":ord")))
    win = Window.partitionBy("shard_id").orderBy("sort_key", "id")
    return (
        docs.select(
            F.col("doc_id").alias("id"),
            sid.alias("shard_id"),
            sort_key.alias("sort_key"),
            *[F.col(c) for c in extra],
        )
        .withColumn("pos", (F.row_number().over(win) - 1).cast("bigint"))
        .select("shard_id", "pos", "id", *extra)
    )


def shuffle_shard_sql() -> str:
    shard_expr = "CAST(doc_id AS VARCHAR) || ':shard'"
    sid = f"{md5_long_sql(shard_expr)} % 8"
    key = md5_long_sql("CAST(doc_id AS VARCHAR) || ':ord'")
    return f"""
WITH keyed AS (
  SELECT doc_id AS id, CAST({sid} AS BIGINT) AS shard_id, {key} AS sort_key
  FROM documents
)
SELECT shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY sort_key, id) - 1
            AS BIGINT) AS pos,
       id
FROM keyed
"""


def domain_cap(docs: DataFrame, cap: int = 20) -> DataFrame:
    """Per-domain contribution cap: keep at most ``cap`` documents per
    domain, chosen as the cap smallest md5(id) within the domain -- the
    standard corpus-curation guard against a single domain dominating the
    mixture. Deterministic (pure function of ids), engine-independent, and
    a uniform random subset in distribution since md5 order is independent
    of any document property.

    One shuffle on the domain key; the per-group top-cap is a window
    row_number sharing that partitioning. At 100 TB prefer the same plan --
    rank-by-hash is exactly how a cluster-side domain cap is done (no
    per-group state, no sampling RNG to coordinate)."""
    w = Window.partitionBy("source").orderBy(
        md5_long(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= cap)
        .drop("__rn")
    )


def domain_cap_sql(cap: int = 20) -> str:
    bucket = md5_long_sql("CAST(doc_id AS VARCHAR)")
    return f"""
SELECT * EXCLUDE (__rn) FROM (
  SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY {bucket}, doc_id) AS __rn
  FROM documents
) WHERE __rn <= {cap}
"""


def write_training_shards(docs: DataFrame, path: str, n_shards: int = 8) -> None:
    """Materialize the shuffle_shard layout as physical training shards:
    parquet partitioned by shard_id, each shard file written in the
    deterministic pseudo-random order (repartition on the shard key +
    sortWithinPartitions -- the cluster-scale form of the window sort: no
    global sort, one shuffle, each task streams one sorted shard to disk).
    A reader consuming shard directories in pos order replays the exact
    global shuffle any engine computes from the same ids."""
    sid = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":shard"))) % n_shards
    sort_key = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":ord")))
    keyed = docs.withColumn("shard_id", sid).withColumn("__sort_key", sort_key)
    (
        # shard_id leads the sort: dynamic-partition writes require rows
        # ordered by the partition column and insert their own (unstable)
        # sort if the child ordering doesn't provide it -- which would
        # scramble the within-shard order. Leading with shard_id satisfies
        # the writer's requirement, so the (sort_key, id) order survives.
        keyed.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "__sort_key", "doc_id")
        .drop("__sort_key")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def length_batches(docs: DataFrame) -> DataFrame:
    """Length-sorted batching with padding accounting: order documents by
    whitespace-token count (id tie-break), cut into fixed-size batches, and
    report each batch's padding overhead (every sequence pads to the batch
    max). Sorting by length first is the standard trick that collapses
    padding waste versus arbitrary-order batching; the padding_frac column
    quantifies it for THIS corpus, which is how a pipeline tunes batch
    size.

    Scale shape (100 TB): the global rank is computed WITHOUT a global
    window (an unpartitioned row_number plans `Exchange SinglePartition`
    -- every corpus row through one task). Two-phase offset form instead:
    (1) local ranks partition by the token count itself
    (Window.partitionBy(n_tok) -- parallel; the heaviest single length
    key bounds one task, fine for real length distributions, and a
    degenerate all-one-length corpus would fall back to the
    repartitionByRange + per-partition-count zipWithIndex recipe);
    (2) cumulative start offsets come from the per-length histogram --
    bounded by DISTINCT token counts (max document length, not corpus
    size), so its single-partition cumulative window is over a tiny
    summary frame (the histogram/concurrency-sweep precedent) and joins
    back via broadcast. global_rank = offset(n_tok) + rank_within(n_tok)
    is exact because (n_tok, id) is a strict total order -- output is
    bit-identical to the single-window form at any partition count.

    Output (batch_id, n_docs, max_tokens, total_tokens, padding_frac)."""
    ws = words()
    base = docs.select(F.col("doc_id").alias("id"), F.size(ws).alias("n_tok"))
    wk = Window.partitionBy("n_tok").orderBy("id")
    hist = base.groupBy("n_tok").agg(F.count(F.lit(1)).alias("c"))
    woff = Window.orderBy("n_tok").rowsBetween(Window.unboundedPreceding, -1)
    offs = hist.select(
        "n_tok", F.coalesce(F.sum("c").over(woff), F.lit(0)).alias("off")
    )
    # explicit FLOOR before the int cast (CLAUDE.md determinism rule) --
    # double division happens to be exact only for power-of-two batch sizes
    batched = (
        base.join(F.broadcast(offs), "n_tok")
        .withColumn(
            "batch_id",
            F.floor(
                (F.col("off") + F.row_number().over(wk) - 1) / 32
            ).cast("bigint"),
        )
    )
    agg = batched.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # bigint cast: width-align with the oracle's int64
        F.max("n_tok").cast("bigint").alias("max_tokens"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )
    padded = agg.withColumn("padded", F.col("max_tokens") * F.col("n_docs"))
    return padded.select(
        "batch_id",
        "n_docs",
        "max_tokens",
        "total_tokens",
        F.when(F.col("padded") > 0,
               (F.col("padded") - F.col("total_tokens")).cast("double") / F.col("padded"))
        .otherwise(F.lit(0.0))
        .alias("padding_frac"),
    )


def length_batches_sql() -> str:
    w = words_sql()
    return f"""
WITH base AS (
  SELECT doc_id AS id, len({w}) AS n_tok FROM documents
),
batched AS (
  SELECT id, n_tok,
         (row_number() OVER (ORDER BY n_tok, id) - 1) // 32 AS batch_id
  FROM base
),
agg AS (
  SELECT batch_id, count(*) AS n_docs, max(n_tok) AS max_tokens,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens
  FROM batched GROUP BY batch_id
)
SELECT batch_id, n_docs, max_tokens, total_tokens,
       CASE WHEN max_tokens * n_docs > 0
            THEN CAST(max_tokens * n_docs - total_tokens AS DOUBLE)
                 / (max_tokens * n_docs)
            ELSE 0e0 END AS padding_frac
FROM agg
"""


CONTRASTIVE_NEGATIVES_K = 4
CONTRASTIVE_NEGATIVES_N_PROBES = 16


def contrastive_negatives(emb: DataFrame) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for each
    anchor vector, up to ``k`` negatives with a DIFFERENT label, chosen by
    a bounded md5 probe sequence -- the (anchor, positive, negatives)
    batch builder for contrastive/embedding training, with the
    reproducibility contract every training pipeline wants (same corpus
    -> same negatives, any cluster layout, any partition count).

    Output (anchor_id, neg_rank, neg_id, neg_label); neg_rank is the
    1-based probe order of the accepted negatives.

    Gated since round 10 (catalog name contrastive_negatives).

    How it avoids the cross join: probe j of anchor a targets id
    md5(a || ':neg:' || j) % (max_id + 1). Probes that miss (gap id,
    same label, or self) are SKIPPED -- the contract is up-to-k negatives
    from ``n_probes`` bounded attempts, not exactly-k (with dense ids and
    a balanced label set, P(all 16 probes fail) < 1e-9 per anchor;
    degenerate label distributions surface as short rows, loudly). Two
    probes of one anchor CAN collide on the same candidate id; duplicates
    are dropped keeping the EARLIEST probe (a duplicate negative is a
    degenerate contrastive pair that wastes a slot in the training
    batch), so the k accepted negatives are distinct by construction.
    Scale shape: one explode to n_probes rows per anchor (a constant
    factor, not data-squared), one equi-join on the probed id, one
    anchor-keyed windowed shuffle shared by the lag-based dedup and the
    rank cut (both windows partition on anchor_id alone); max_id is a
    1-row broadcast."""
    nrow = F.broadcast(emb.agg((F.max("vec_id") + 1).alias("_n")))
    anchors = emb.select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("a_label")
    ).crossJoin(nrow)
    probes = anchors.select(
        "anchor_id",
        "a_label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            md5_long(
                                F.concat(
                                    F.col("anchor_id").cast("string"),
                                    F.lit(f":neg:{j}"),
                                )
                            )
                            % F.col("_n")
                        ).alias("cand"),
                    )
                    for j in range(CONTRASTIVE_NEGATIVES_N_PROBES)
                ]
            )
        ).alias("p"),
    ).select("anchor_id", "a_label", F.col("p.j").alias("j"), F.col("p.cand").alias("cand"))
    cands = emb.select(
        F.col("vec_id").alias("cand"), F.col("label").alias("neg_label")
    )
    hits = (
        probes.join(cands, "cand")
        .where(
            (F.col("neg_label") != F.col("a_label"))
            & (F.col("cand") != F.col("anchor_id"))
        )
    )
    # drop probe collisions (same candidate hit by two probe indices of
    # one anchor) keeping the earliest j. The dedup window partitions on
    # anchor_id ONLY -- sorting by (cand, j) makes equal candidates
    # adjacent, so lag(cand) flags every non-first occurrence -- which
    # lets it share the rank cut's HashPartitioning(anchor_id) exchange
    # (a partitionBy(anchor_id, cand) row_number would demand its OWN
    # clustering and add a second corpus-sized shuffle: hash(a, cand)
    # does not satisfy the rank window's hash(a) requirement).
    wd = Window.partitionBy("anchor_id").orderBy("cand", "j")
    w = Window.partitionBy("anchor_id").orderBy("j")
    return (
        hits.withColumn("prev_cand", F.lag("cand").over(wd))
        .where(F.col("prev_cand").isNull() | (F.col("prev_cand") != F.col("cand")))
        .select(
            "anchor_id",
            F.row_number().over(w).alias("neg_rank"),
            F.col("cand").alias("neg_id"),
            "neg_label",
        )
        .where(F.col("neg_rank") <= CONTRASTIVE_NEGATIVES_K)
    )

def contrastive_negatives_sql() -> str:
    """DuckDB twin of :func:`contrastive_negatives` (same probe targets,
    same skip rules, same earliest-probe collision dedup, same rank cut;
    constant-bound generate_series -- the column-arg form is the known
    DuckDB binder trap, CLAUDE.md)."""
    h = md5_long_sql(
        "CAST(anchor_id AS VARCHAR) || ':neg:' || CAST(gs.j AS VARCHAR)"
    )
    return f"""
WITH n AS (SELECT max(vec_id) + 1 AS _n FROM embeddings),
anchors AS (
  SELECT vec_id AS anchor_id, label AS a_label, _n
  FROM embeddings CROSS JOIN n
),
probes AS (
  SELECT anchor_id, a_label, gs.j AS j, ({h}) % _n AS cand
  FROM anchors CROSS JOIN generate_series(0, {CONTRASTIVE_NEGATIVES_N_PROBES - 1}) AS gs(j)
),
hits AS (
  SELECT p.anchor_id, p.j, p.cand, e.label AS neg_label
  FROM probes p JOIN embeddings e ON p.cand = e.vec_id
  WHERE e.label != p.a_label AND p.cand != p.anchor_id
),
deduped AS (
  SELECT anchor_id, j, cand, neg_label
  FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id, cand ORDER BY j)
             AS dup
    FROM hits
  ) WHERE dup = 1
)
SELECT anchor_id, neg_rank, cand AS neg_id, neg_label
FROM (
  SELECT anchor_id, cand, neg_label,
         CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY j) AS INT)
           AS neg_rank
  FROM deduped
) WHERE neg_rank <= {CONTRASTIVE_NEGATIVES_K}
"""

WEIGHTED_SAMPLE_WEIGHT_UNIT = 50
WEIGHTED_SAMPLE_MAX_WEIGHT = 40
WEIGHTED_SAMPLE_K = 25


def weighted_sample(
    docs: DataFrame,
    weight_unit: int = WEIGHTED_SAMPLE_WEIGHT_UNIT,
    max_weight: int = WEIGHTED_SAMPLE_MAX_WEIGHT,
    k: int = WEIGHTED_SAMPLE_K,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement by the
    unit-ticket min-hash scheme: each document buys ``w`` lottery tickets
    (here w = 1 + length/weight_unit, capped -- the proportional-to-size
    sample a curation pipeline draws when longer documents should be
    likelier), every ticket hashes to a uniform 60-bit key, a document's
    priority is its MINIMUM ticket key, and the sample is the k smallest
    priorities. P(doc drawn first) = w_i / W exactly (each ticket is
    equally likely to be the global minimum), and successive ranks give
    the without-replacement chain -- the md5-keyed twin of A-RES
    (Efraimidis & Spirakis), with the float u^(1/w) key replaced by an
    integer construction (pow is not correctly rounded cross-engine;
    min-of-w-uniform-keys is the same order statistic, integer-exact).
    Output (rank, doc_id, weight, priority), all BIGINT.

    GATED ROUND 9 (promoted from the staged backlog).

    Scale shape (100 TB): tickets explode map-side (bounded by
    max_weight per row -- the cap is the explosion guard), the per-doc
    min is one hash groupBy with map-side partials, and the global k
    smallest go through orderBy().limit(k) -- distributed TakeOrdered,
    never a full sort; ranks are assigned on the k-row result."""
    from pyspark.sql import Window as W

    w_expr = F.least(
        F.lit(1) + F.floor(F.col("n_chars").cast("bigint") / weight_unit).cast("bigint"),
        F.lit(max_weight),
    )
    base = docs.select(F.col("doc_id").alias("id"), w_expr.alias("w"))
    tickets = base.select(
        "id", "w", F.explode(F.sequence(F.lit(1), F.col("w"))).alias("t")
    )
    key = md5_long(
        F.concat(F.col("id").cast("string"), F.lit(":"), F.col("t").cast("string"))
    )
    prio = tickets.select("id", "w", key.alias("tk")).groupBy("id", "w").agg(
        F.min("tk").alias("priority")
    )
    topk = prio.orderBy(F.asc("priority"), F.asc("id")).limit(k)
    rk = W.orderBy(F.asc("priority"), F.asc("id"))
    return topk.select(
        F.row_number().over(rk).cast("bigint").alias("rank"),
        F.col("id").alias("doc_id"),
        F.col("w").alias("weight"),
        "priority",
    )


def weighted_sample_sql() -> str:
    """DuckDB twin of :func:`weighted_sample` (FLOOR on the weight
    quotient matches Spark's bigint cast of a true division; same md5
    ticket keys)."""
    key = md5_long_sql("CAST(id AS VARCHAR) || ':' || CAST(t AS VARCHAR)")
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         least(1 + CAST(floor(CAST(n_chars AS BIGINT) / {WEIGHTED_SAMPLE_WEIGHT_UNIT}) AS BIGINT),
               {WEIGHTED_SAMPLE_MAX_WEIGHT}) AS w
  FROM documents
),
tickets AS (
  SELECT id, w, unnest([x for x in generate_series(1, w)]) AS t FROM base
),
prio AS (
  SELECT id, w, CAST(min({key}) AS BIGINT) AS priority
  FROM tickets GROUP BY 1, 2
)
SELECT CAST(row_number() OVER (ORDER BY priority, id) AS BIGINT) AS rank,
       id AS doc_id, CAST(w AS BIGINT) AS weight, priority
FROM prio
ORDER BY priority, id
LIMIT {WEIGHTED_SAMPLE_K}
"""

QUOTA_SAMPLE_STRATA_COLS = ("lang", "source")
QUOTA_SAMPLE_K = 3


def quota_sample(docs: DataFrame, k: int = QUOTA_SAMPLE_K) -> DataFrame:
    """QUOTA-exact stratified sampling: exactly min(k, stratum size) rows
    per stratum, chosen as the k smallest md5 priorities -- the eval-set
    construction rule ("k examples per language x source cell") that the
    rate-based :func:`stratified_sample` cannot express (a rate yields
    binomial counts; a quota yields exact ones). Every stratum member is
    equally likely under the md5 order, the pick is a pure function of
    the ids (reproducible across engines, clusters, and reruns), and
    sample_rank records the within-stratum priority order. Output
    (strata..., doc_id, sample_rank).

    Scale shape (100 TB): one hash shuffle keyed on the strata for the
    rank window (parallel across strata; the heaviest stratum bounds one
    task's SORT, and per-stratum top-k could swap to a groupBy
    min_by-heap aggregate if a single stratum ever outgrew a task --
    documented fallback, not needed at any realistic strata granularity);
    the k-row-per-stratum output is quota-bounded."""
    from pyspark.sql import Window

    prio = md5_long(F.col("doc_id").cast("string"))
    w = Window.partitionBy(*QUOTA_SAMPLE_STRATA_COLS).orderBy(prio.asc(), F.col("doc_id").asc())
    return (
        docs.select(*QUOTA_SAMPLE_STRATA_COLS, F.col("doc_id"))
        .withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("sample_rank") <= k)
    )


def quota_sample_sql() -> str:
    """DuckDB twin of :func:`quota_sample`: same md5 priority order and
    per-stratum row_number cut."""
    strata = ", ".join(QUOTA_SAMPLE_STRATA_COLS)
    prio = md5_long_sql("CAST(doc_id AS VARCHAR)")
    return f"""
SELECT {strata}, doc_id, sample_rank FROM (
  SELECT {strata}, doc_id,
         CAST(row_number() OVER (PARTITION BY {strata}
              ORDER BY {prio}, doc_id) AS BIGINT) AS sample_rank
  FROM documents
) WHERE sample_rank <= {QUOTA_SAMPLE_K}
"""
