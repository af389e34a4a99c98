"""Mergeable sketches + space-filling-curve layout.

The reference's aggregations are all exact; at 100 TB the first thing an
analytics engine adds is the sketch family -- fixed-size, mergeable
summaries whose partials combine associatively, so a 1000-executor
aggregation ships kilobytes per task instead of re-shuffling raw keys:

  * ``hll_distinct``     -- HyperLogLog distinct-count estimate (Flajolet
    et al. 2007, the public HLL paper) per group, next to the exact
    count(DISTINCT) twin and the relative error, so the sketch is GRADED
    against ground truth in the same gated query (same policy as
    ann_recall_at_k / dedup_lsh_recall).
  * ``countmin_freq``    -- Count-Min sketch (Cormode & Muthukrishnan
    2005) frequency estimates for the top-k heavy hitters, next to their
    exact counts; CMS guarantees est >= exact, asserted by the query.
  * ``zorder_layout``    -- Morton (z-order) addressing over two document
    dimensions; the data-layout primitive behind multi-column file
    skipping (interleaved bits keep both dimensions' range predicates
    selective over z-ranges).

One kernel per sketch decision, each next to its DuckDB SQL twin:
``hll_cells`` (the register cell: md5 bucket + 32-bit rho), ``hll_fold``
(registers to the exact BIGINT sum S), ``hll_numerator_lit`` (the float
numerator for any p) and ``cms_cells`` (the Count-Min (row, bucket)
cells). Every batch HLL/CMS query here and the windowed streaming
sketches (streaming/queries.py) call them; Bloom's cells are
``operators/bloom._cells``.

Cross-engine determinism: every randomized step goes through the md5-based
hash family (functions/hashing.py) and every sketch register / counter /
address is computed in EXACT integer arithmetic on both engines. The only
float ops are the final HLL estimate (one literal multiply + one divide on
identical integers -- IEEE-deterministic) and its rounded relative error.

HLL register arithmetic without floats: with m = 2**p buckets and rho
capped at W+1 = 33 (32-bit sub-hash), the harmonic sum
``Z = sum_j 2**(-M_j)`` scaled by 2**33 is the exact BIGINT
``S = sum_nonempty 2**(33 - M_j) + V * 2**33`` (V = empty buckets, each
contributing 2**(33-0)); max S = 512 * 2**33 ~ 4.4e12, far inside BIGINT.
The raw estimate is then ``alpha_m * m^2 * 2**33 / S`` -- numerator folded
into ONE Python-computed double literal embedded in E-notation on both
sides. The small-range linear-counting correction (E < 2.5m) needs
``m * ln(m/V)`` -- a libm call whose last ulp is not contractual across
engines -- so the gated query reports the RAW estimator plus V; bias
correction is a presentation concern, not a sketch-state concern (the
sketch registers themselves are exact and mergeable either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    hash_params,
    md5_long,
    md5_long_sql,
    permuted_hash,
    permuted_hash_sql,
)
from ..functions.text import words, words_sql

# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

HLL_P = 9  # bucket bits
HLL_M = 1 << HLL_P  # 512 buckets
_HLL_W = 32  # sub-hash width for rho
_HLL_RHO_CAP = _HLL_W + 1  # 33
# alpha_m for m >= 128 (Flajolet et al. 2007, fig. 3)
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# the whole float numerator as ONE literal: alpha * m^2 * 2^33
HLL_NUMERATOR = _HLL_ALPHA * (HLL_M**2) * float(1 << _HLL_RHO_CAP)


def hll_numerator_lit(p: int = HLL_P) -> str:
    """The family numerator alpha_512 * m^2 * 2^33 rescaled to m = 2**p, as
    one E-notation literal (DOUBLE in both engines). Scaling by powers of
    two is exact, so p = HLL_P gives HLL_NUMERATOR's own digits."""
    m = 1 << p
    return f"{(HLL_NUMERATOR / (HLL_M * HLL_M)) * m * m:.17e}"


HLL_NUMERATOR_LIT = hll_numerator_lit()


def hll_cells(df: DataFrame, key: str, *keep: str, p: int = HLL_P) -> DataFrame:
    """The HLL register cell of every row: (keep..., bucket, rho) with
    h = md5_long(key), bucket = h mod 2**p and rho = the 1-based position
    of the first set bit of the 32-bit sub-hash (h div 2**p) mod 2**32,
    capped at 33 for a zero sub-hash. A register is max(rho) per bucket;
    :func:`hll_cells_sql` is the DuckDB twin."""
    m = 1 << p
    rho = F.when(F.col("w32") == 0, F.lit(_HLL_RHO_CAP)).otherwise(
        F.lit(_HLL_RHO_CAP) - F.length(F.bin(F.col("w32")))
    )
    # integer division via Spark SQL `div` (engine-exact; `/` would be float)
    return (
        df.select(*keep, md5_long(F.col(key).cast("string")).alias("h"))
        .select(
            *keep,
            (F.col("h") % m).alias("bucket"),
            F.expr(f"(h div {m}) % {1 << _HLL_W}").alias("w32"),
        )
        .select(*keep, "bucket", rho.alias("rho"))
    )


def hll_cells_sql(source: str, key: str, *keep: str, p: int = HLL_P) -> str:
    """DuckDB twin of :func:`hll_cells` over the relation ``source``."""
    m = 1 << p
    cols = "".join(f"{c}, " for c in keep)
    w32 = f"(h // {m}) % {1 << _HLL_W}"
    return (
        f"SELECT {cols}h % {m} AS bucket, "
        f"CASE WHEN {w32} = 0 THEN {_HLL_RHO_CAP} "
        f"ELSE {_HLL_RHO_CAP} - length(bin({w32})) END AS rho "
        f"FROM (SELECT {cols}{md5_long_sql(f'CAST({key} AS VARCHAR)')} AS h "
        f"FROM {source})"
    )


def hll_fold(regs: DataFrame, *group: str, p: int = HLL_P) -> DataFrame:
    """Fold registers (group..., bucket, m_j) to (group..., n_buckets, s):
    s = sum_nonempty 2**(33 - m_j) + (m - n_buckets) * 2**33 is the exact
    BIGINT harmonic sum scaled by 2**33, so the raw estimate is
    ``hll_numerator_lit(p) / s``. :func:`hll_fold_sql` is the twin."""
    folded = regs.groupBy(*group).agg(
        # python-api shiftleft wants a literal int for numBits; the SQL
        # function takes an expression on both engines
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_CAP} - m_j)")).alias(
            "s_nonempty"
        ),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    return folded.select(
        *group,
        "n_buckets",
        (
            F.col("s_nonempty")
            + (F.lit(1 << p) - F.col("n_buckets"))
            * F.lit(1 << _HLL_RHO_CAP).cast("bigint")
        ).alias("s"),
    )


def hll_fold_sql(p: int = HLL_P) -> str:
    """DuckDB twin of :func:`hll_fold`'s ``s``: an aggregate expression over
    a register relation with column ``m_j``."""
    return (
        f"CAST(sum(1::BIGINT << ({_HLL_RHO_CAP} - m_j)) AS BIGINT)"
        f" + ({1 << p} - count(*)) * (1::BIGINT << {_HLL_RHO_CAP})"
    )


def hll_distinct(df: DataFrame) -> DataFrame:
    """Per-event_type HyperLogLog distinct user_id estimate next to the exact twin.

    Plan shape (the 100 TB story): the register build is ONE shuffle on
    (group, bucket) with map-side combine -- each mapper's partial state is
    at most m = 2**p max-registers per group regardless of input rows, the
    defining property of the sketch. The exact count(DISTINCT) twin is the
    expensive path HLL replaces (Spark expands it to a two-shuffle
    distinct+count); it rides along here because the gated query's job is
    to GRADE the estimator, mirroring ann_recall_at_k.

    Fixed-size state: 512 registers * n_groups; the final fold to S is a
    512-row-per-group aggregation, negligible at any corpus size.
    """
    cells = hll_cells(df.select(F.col("event_type").alias("grp"), "user_id"), "user_id", "grp")
    regs = cells.groupBy("grp", "bucket").agg(F.max("rho").alias("m_j"))
    exact = (
        df.select(F.col("event_type").alias("grp"), F.col("user_id").alias("k"))
        .groupBy("grp")
        .agg(F.count_distinct("k").alias("n_exact"))
    )
    # float(hll_numerator_lit(p)) round-trips to the identical double the
    # oracle parses from the same E-notation literal
    est = F.lit(float(hll_numerator_lit())) / F.col("s")
    return (
        hll_fold(regs, "grp")
        .join(F.broadcast(exact), "grp")
        .select(
            F.col("grp").alias("event_type"),
            "n_exact",
            F.round(est, 4).alias("hll_estimate"),
            F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
                "rel_err"
            ),
            (F.lit(1 << HLL_P) - F.col("n_buckets")).alias("n_empty_buckets"),
        )
    )


def hll_distinct_oracle() -> str:
    """DuckDB twin of :func:`hll_distinct`, bit-for-bit (same md5 hash,
    same integer registers, same single-literal float fold)."""
    num = hll_numerator_lit()
    return f"""
WITH regs AS (
  SELECT event_type AS grp, bucket, max(rho) AS m_j
  FROM ({hll_cells_sql("events", "user_id", "event_type")}) GROUP BY 1, 2
), folded AS (
  SELECT grp, {hll_fold_sql()} AS s, count(*) AS n_buckets
  FROM regs GROUP BY 1
), exact AS (
  SELECT event_type AS grp, count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1
)
SELECT f.grp AS event_type,
       e.n_exact,
       round({num} / s, 4) AS hll_estimate,
       round(abs({num} / s - e.n_exact) / e.n_exact, 6) AS rel_err,
       {1 << HLL_P} - n_buckets AS n_empty_buckets
FROM folded f JOIN exact e USING (grp)
"""


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024
_CMS_PARAMS = hash_params(CMS_DEPTH, seed=0xC0FFEE)


def cms_cells(df: DataFrame, *keep: str, width: int = CMS_WIDTH) -> DataFrame:
    """The Count-Min cells of every row: one (keep..., r, bucket) row per
    hash row r of ``_CMS_PARAMS``, bucket = permuted md5(k) mod width.
    A cell's count is the sum over the rows landing in it;
    :func:`cms_cells_sql` is the DuckDB twin."""
    base = md5_long(F.col("k").cast("string"))
    cells = F.array(
        *[
            F.struct(
                F.lit(r).cast("bigint").alias("r"),
                (permuted_hash(base, a, b) % width).alias("bucket"),
            )
            for r, (a, b) in enumerate(_CMS_PARAMS)
        ]
    )
    return df.select(*keep, F.explode(cells).alias("cell")).select(
        *keep, "cell.r", "cell.bucket"
    )


def cms_cells_sql(source: str, *keep: str, width: int = CMS_WIDTH) -> str:
    """DuckDB twin of :func:`cms_cells` over the relation ``source``."""
    base = md5_long_sql("CAST(k AS VARCHAR)")
    cols = "".join(f"{c}, " for c in keep)
    return " UNION ALL ".join(
        f"SELECT {cols}CAST({r} AS BIGINT) AS r, "
        f"({permuted_hash_sql(base, a, b)}) % {width} AS bucket FROM {source}"
        for r, (a, b) in enumerate(_CMS_PARAMS)
    )


COUNTMIN_FREQ_TOP_K = 20


def countmin_freq(counts: DataFrame, top_k: int = COUNTMIN_FREQ_TOP_K) -> DataFrame:
    """Count-Min frequency estimates for the ``top_k`` exact heavy hitters,
    built from a pre-aggregated (token, cnt) relation.

    Building from the AGGREGATED vocabulary -- not the raw token stream --
    is the classic CMS-from-partials identity (the sketch of a sum is the
    sum of sketches): the d*len(vocab) intermediate rows are vocab-bounded,
    never corpus-bounded, and the sketch itself collapses to d*width
    integer cells (4 KiB here) with map-side combine. The probe side joins
    ``top_k`` keys against those d*width cells -- broadcast-sized by
    construction. est >= exact for every key (one-sided CMS error), which
    the gated query exposes as ``overcount``.

    Scale path at 100 TB: the input (key, count) relation is itself one
    map-side-combined shuffle (the corpus scan), and everything after is
    constant-size. The exact top-k probe set is the audit twin.
    """
    kc = counts.select(F.col("token").alias("k"), "cnt")
    sketch = (
        cms_cells(kc, "cnt")
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cell_sum"))
    )
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # partial top-k + driver merge -- never a global single-partition
    # window over the whole vocabulary), then rank the top_k survivors;
    # the window's single partition holds top_k rows, not the vocab
    top = kc.orderBy(F.desc("cnt"), F.asc("k")).limit(top_k)
    probes = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("k")))
    )
    est = (
        cms_cells(probes, "k", "cnt", "rk")
        .join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("k", "cnt", "rk")
        .agg(F.min("cell_sum").alias("est_cnt"))
    )
    return est.select(
        F.col("k").alias("token"),
        F.col("cnt").alias("exact_cnt"),
        "est_cnt",
        (F.col("est_cnt") - F.col("cnt")).alias("overcount"),
        # BIGINT: Spark row_number() is int32 but DuckDB's is BIGINT --
        # align the rank dtype with the oracle's bare `rk AS rank`
        F.col("rk").cast("bigint").alias("rank"),
    )


def countmin_freq_oracle() -> str:
    """DuckDB twin of :func:`countmin_freq` over a ``counts`` CTE of
    (token, cnt)."""
    return f"""
kc AS (
  SELECT token AS k, cnt AS cnt FROM counts
), cells AS (
  {cms_cells_sql("kc", "k", "cnt")}
), sketch AS (
  SELECT r, bucket, sum(cnt) AS cell_sum FROM cells GROUP BY 1, 2
), probes AS (
  SELECT k, cnt, row_number() OVER (ORDER BY cnt DESC, k ASC) AS rk
  FROM kc
  QUALIFY rk <= {COUNTMIN_FREQ_TOP_K}
), probe_cells AS (
  SELECT p.k, p.cnt, p.rk, c.r, c.bucket
  FROM probes p JOIN cells c ON c.k = p.k
), est AS (
  -- BIGINT cast: DuckDB's sum()/min-of-sum is HUGEINT -> float64 dtype
  -- skew in the differential compare otherwise (CLAUDE.md rule)
  SELECT pc.k, pc.cnt, pc.rk, CAST(min(s.cell_sum) AS BIGINT) AS est_cnt
  FROM probe_cells pc JOIN sketch s USING (r, bucket)
  GROUP BY 1, 2, 3
)
SELECT k AS token, cnt AS exact_cnt, est_cnt,
       est_cnt - cnt AS overcount, rk AS rank
FROM est
"""


# ---------------------------------------------------------------------------
# Z-order (Morton) layout
# ---------------------------------------------------------------------------

ZORDER_BITS = 16
ZORDER_SHARDS = 64


def _interleave_terms(x_expr: str, shl, shr) -> str:
    """The 2*ZORDER_BITS-term Morton interleave of ``x_expr`` and ``zy``,
    generated from ONE loop so the Spark and DuckDB forms can never drift;
    ``shl``/``shr`` format the engine's shift syntax."""
    terms = []
    for k in range(ZORDER_BITS):
        terms.append(shl(f"({shr(x_expr, k)} & 1)", 2 * k))
        terms.append(shl(f"({shr('zy', k)} & 1)", 2 * k + 1))
    return " + ".join(terms)


def _shl_spark(e: str, n: int) -> str:
    return f"shiftleft({e}, {n})" if n else f"({e})"


def _shr_spark(e: str, n: int) -> str:
    return f"shiftright({e}, {n})" if n else f"({e})"


def _shl_duck(e: str, n: int) -> str:
    return f"(({e}) << {n})" if n else f"({e})"


def _shr_duck(e: str, n: int) -> str:
    return f"(({e}) >> {n})" if n else f"({e})"


def zorder_layout(docs: DataFrame) -> DataFrame:
    """Morton z-address over (length, hash(category)) and the shard each
    document lands in under a z-range split.

    Why this layout at 100 TB: writing shards in z-address ranges gives
    every shard a bounded rectangle in (length, category) space, so BOTH
    ``n_chars BETWEEN ...`` and ``source = ...`` predicates prune files on
    min/max stats -- the multi-column file-skipping trick a linear sort on
    either single column cannot provide. The address is a map-only
    codegen'd integer expression (32 shift-and-add terms); the shard id is
    the top log2(n_shards) bits of the 2*bits-wide address, i.e. a
    RANGE partition of the z-curve -- no shuffle here at all; the write
    path repartitions by ``z_shard`` exactly like write_training_shards.
    """
    mask = (1 << ZORDER_BITS) - 1
    x = f"least(CAST(n_chars AS BIGINT), {mask})"
    y_hash = md5_long(F.col("source"))
    pre = docs.select(
        "doc_id",
        F.expr(x).alias("zx"),
        (y_hash % (mask + 1)).alias("zy"),
    )
    z = _interleave_terms("zx", _shl_spark, _shr_spark)
    shard_shift = 2 * ZORDER_BITS - (ZORDER_SHARDS.bit_length() - 1)
    return pre.select(
        "doc_id",
        "zx",
        "zy",
        F.expr(z).cast("bigint").alias("zaddr"),
    ).select(
        "doc_id",
        "zx",
        "zy",
        "zaddr",
        F.expr(f"zaddr div {1 << shard_shift}").alias("z_shard"),
    )


def zorder_layout_oracle() -> str:
    """DuckDB twin of :func:`zorder_layout`."""
    mask = (1 << ZORDER_BITS) - 1
    y = md5_long_sql("source")
    z = _interleave_terms("zx", _shl_duck, _shr_duck)
    shard_shift = 2 * ZORDER_BITS - (ZORDER_SHARDS.bit_length() - 1)
    return f"""
WITH pre AS (
  SELECT doc_id,
         least(CAST(n_chars AS BIGINT), {mask}) AS zx,
         ({y}) % {mask + 1} AS zy
  FROM documents
), z AS (
  SELECT doc_id, zx, zy, CAST({z} AS BIGINT) AS zaddr FROM pre
)
SELECT doc_id, zx, zy, zaddr, zaddr // {1 << shard_shift} AS z_shard FROM z
"""


HLL_MERGE_DEMO_N_SHARDS = 4


def hll_merge_demo(
    df: DataFrame, key_col: str, shard_col: str, n_shards: int = HLL_MERGE_DEMO_N_SHARDS
) -> DataFrame:
    """The merge law that makes sketches work at 100 TB, demonstrated as a
    gated single-row result: build HLL registers independently per shard
    (``shard_col % n_shards`` -- stand-in for executors/partitions/days),
    merge the shard sketches by per-bucket register max, and show the
    merged estimate EQUALS the estimate built directly over all rows.
    max-of-maxes = max is exact, not approximate -- so ``est_equal`` must
    be true, and a 1000-executor rollup can combine kilobyte partials
    instead of re-shuffling raw keys (the same law lets per-day sketches
    roll up to months).

    Output: (n_shards, merged_estimate, direct_estimate, est_equal,
    n_exact)."""
    cells = hll_cells(
        df.select((F.col(shard_col) % n_shards).alias("shard"), key_col),
        key_col,
        "shard",
    )
    per_shard = cells.groupBy("shard", "bucket").agg(F.max("rho").alias("m_j"))
    merged = per_shard.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    direct = cells.groupBy("bucket").agg(F.max("rho").alias("m_j"))
    num = F.lit(float(hll_numerator_lit()))

    def fold(regs: DataFrame, alias: str) -> DataFrame:
        return hll_fold(regs).select(F.round(num / F.col("s"), 4).alias(alias))

    exact = df.agg(F.count_distinct(F.col(key_col)).alias("n_exact"))
    return (
        fold(merged, "merged_estimate")
        .crossJoin(fold(direct, "direct_estimate"))
        .crossJoin(exact)
        .select(
            F.lit(n_shards).cast("bigint").alias("n_shards"),
            "merged_estimate",
            "direct_estimate",
            (F.col("merged_estimate") == F.col("direct_estimate")).alias("est_equal"),
            "n_exact",
        )
    )


def hll_merge_demo_oracle() -> str:
    """DuckDB twin of :func:`hll_merge_demo` over events."""
    fold = f"round({hll_numerator_lit()} / ({hll_fold_sql()}), 4)"
    return f"""
WITH rows_ AS (
  SELECT event_id % {HLL_MERGE_DEMO_N_SHARDS} AS shard, user_id FROM events
), rho AS ({hll_cells_sql("rows_", "user_id", "shard")}
), per_shard AS (
  SELECT shard, bucket, max(rho) AS m_j FROM rho GROUP BY 1, 2
), merged AS (
  SELECT bucket, max(m_j) AS m_j FROM per_shard GROUP BY 1
), direct AS (
  SELECT bucket, max(rho) AS m_j FROM rho GROUP BY 1
), m_est AS (SELECT {fold} AS merged_estimate FROM merged),
d_est AS (SELECT {fold} AS direct_estimate FROM direct),
exact AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
SELECT CAST({HLL_MERGE_DEMO_N_SHARDS} AS BIGINT) AS n_shards,
       merged_estimate, direct_estimate,
       merged_estimate = direct_estimate AS est_equal,
       n_exact
FROM m_est, d_est, exact
"""


# ---------------------------------------------------------------------------
# Zone-map pruning audit: does the z-order layout actually skip files?
# ---------------------------------------------------------------------------

ZONEMAP_LEN_LO = 100
ZONEMAP_LEN_HI = 150
ZONEMAP_CAT = "src3"


def _cat_point() -> int:
    """md5-fold of the category literal, identical to the zy computation on
    both engines (same md5 -> first-15-hex-digits -> mod fold)."""
    import hashlib

    mask = (1 << ZORDER_BITS) - 1
    return int(hashlib.md5(ZONEMAP_CAT.encode()).hexdigest()[:15], 16) % (mask + 1)


def zonemap_pruning_audit(docs: DataFrame) -> DataFrame:
    """Grade what a layout actually buys: per-shard zone maps (min/max of
    the raw length and category-hash dimensions -- zone maps always store
    RAW column stats, whatever the placement) under three shard
    assignments, probed by the two predicate shapes file skipping serves
    -- a length range (``zx BETWEEN lo AND hi``) and a category point
    (``zy = h(cat)``). A shard is SCANNED when its zone interval overlaps
    the predicate; matched-row counts are layout-invariant (same rows,
    different placement), which the result makes visible.

      * ``naive``         -- hash placement: every predicate smears across
        essentially all shards (the no-layout baseline);
      * ``zorder``        -- the gated :func:`zorder_layout` address. On a
        corpus whose lengths never reach the top zx bits (every doc here
        is < 2^10 chars of a 16-bit axis) the 64-way TOP-BIT split is
        driven by the category dimension alone -- category pruning is
        excellent, length pruning nonexistent. The audit exposes exactly
        this failure mode instead of hiding it;
      * ``zorder_scaled`` -- same Morton interleave after range-scaling
        the length axis to full bit width ((zx-mn)*mask / span, the
        Delta/Iceberg OPTIMIZE ZORDER practice): BOTH predicates prune.

    This is the audit form of what a lakehouse reader does with parquet
    row-group stats.

    Scale shape (100 TB): TWO corpus passes total -- a 2-value min/max agg
    over the length column (pass 1, broadcast back as the adjudicated
    1-row scalar crossJoin), then ONE scan that computes all three shard
    assignments per row and explodes them (pass 2); the union-of-branches
    form would re-evaluate the z projection once per layout. Zone maps
    are one groupBy per ~n_shards keys with map-side partials; the audit
    fold is over 3 x n_shards rows. Nothing driver-side."""
    pt = _cat_point()
    mask = (1 << ZORDER_BITS) - 1
    shard_shift = 2 * ZORDER_BITS - (ZORDER_SHARDS.bit_length() - 1)
    z = zorder_layout(docs)
    rng = z.agg(F.min("zx").alias("_mn"), F.max("zx").alias("_mx"))
    sxe = f"(((zx - _mn) * {mask}) div greatest(_mx - _mn, 1))"
    sz = _interleave_terms(sxe, _shl_spark, _shr_spark)
    lay = lambda name, shard: F.struct(
        F.lit(name).alias("layout"), shard.alias("shard")
    )
    a1 = lay("zorder", F.col("z_shard"))
    # shared md5_long helper, NOT an inlined recipe -- keeps the Spark side
    # and the oracle's md5_long_sql twin from ever desyncing
    a2 = lay("naive", md5_long(F.col("doc_id").cast("string")) % F.lit(ZORDER_SHARDS))
    a3 = lay(
        "zorder_scaled", F.expr(f"CAST({sz} AS BIGINT) div {1 << shard_shift}")
    )
    both = (
        z.crossJoin(F.broadcast(rng))
        .select("zx", "zy", F.explode(F.array(a1, a2, a3)).alias("ls"))
        .select("zx", "zy", F.col("ls.layout").alias("layout"), F.col("ls.shard").alias("shard"))
    )
    in_len = F.col("zx").between(ZONEMAP_LEN_LO, ZONEMAP_LEN_HI)
    is_cat = F.col("zy") == pt
    zone = both.groupBy("layout", "shard").agg(
        F.min("zx").alias("mn_len"),
        F.max("zx").alias("mx_len"),
        F.min("zy").alias("mn_cat"),
        F.max("zy").alias("mx_cat"),
        F.sum(F.when(in_len, F.lit(1)).otherwise(F.lit(0))).alias("rows_len"),
        F.sum(F.when(is_cat, F.lit(1)).otherwise(F.lit(0))).alias("rows_cat"),
    )
    scan_len = ~((F.col("mx_len") < ZONEMAP_LEN_LO) | (F.col("mn_len") > ZONEMAP_LEN_HI))
    scan_cat = (F.lit(pt) >= F.col("mn_cat")) & (F.lit(pt) <= F.col("mx_cat"))
    return zone.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum(F.when(scan_len, F.lit(1)).otherwise(F.lit(0))).alias("shards_scanned_len"),
        F.sum(F.when(scan_cat, F.lit(1)).otherwise(F.lit(0))).alias("shards_scanned_cat"),
        F.sum("rows_len").alias("rows_matched_len"),
        F.sum("rows_cat").alias("rows_matched_cat"),
    )


def zonemap_pruning_audit_sql() -> str:
    """DuckDB twin of :func:`zonemap_pruning_audit` (zorder oracle as a CTE,
    same literals, same integer folds)."""
    pt = _cat_point()
    lo, hi = ZONEMAP_LEN_LO, ZONEMAP_LEN_HI
    mask = (1 << ZORDER_BITS) - 1
    shard_shift = 2 * ZORDER_BITS - (ZORDER_SHARDS.bit_length() - 1)
    naive = f"{md5_long_sql('CAST(doc_id AS VARCHAR)')} % {ZORDER_SHARDS}"
    sxe = f"(((zx - _mn) * {mask}) // greatest(_mx - _mn, 1))"
    sz = _interleave_terms(sxe, _shl_duck, _shr_duck)
    return f"""
WITH zl AS ({zorder_layout_oracle()}),
rng AS (SELECT min(zx) AS _mn, max(zx) AS _mx FROM zl),
u AS (
  SELECT zx, zy, s.layout AS layout, s.shard AS shard
  FROM (
    SELECT zx, zy,
           unnest([
             struct_pack(layout := 'zorder', shard := z_shard),
             struct_pack(layout := 'naive', shard := {naive}),
             struct_pack(layout := 'zorder_scaled',
                         shard := CAST({sz} AS BIGINT) // {1 << shard_shift})
           ]) AS s
    FROM zl, rng
  )
),
zone AS (
  SELECT layout, shard,
         min(zx) AS mn_len, max(zx) AS mx_len,
         min(zy) AS mn_cat, max(zy) AS mx_cat,
         CAST(count(*) FILTER (WHERE zx BETWEEN {lo} AND {hi}) AS BIGINT) AS rows_len,
         CAST(count(*) FILTER (WHERE zy = {pt}) AS BIGINT) AS rows_cat
  FROM u GROUP BY layout, shard
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_shards,
       CAST(count(*) FILTER (WHERE NOT (mx_len < {lo} OR mn_len > {hi})) AS BIGINT)
         AS shards_scanned_len,
       CAST(count(*) FILTER (WHERE {pt} >= mn_cat AND {pt} <= mx_cat) AS BIGINT)
         AS shards_scanned_cat,
       CAST(sum(rows_len) AS BIGINT) AS rows_matched_len,
       CAST(sum(rows_cat) AS BIGINT) AS rows_matched_cat
FROM zone GROUP BY layout
"""


HISTOGRAM_MERGE_DEMO_N_SHARDS = 4
HISTOGRAM_MERGE_DEMO_N_BINS = 20


def histogram_merge_demo(df: DataFrame, n_shards: int = HISTOGRAM_MERGE_DEMO_N_SHARDS) -> DataFrame:
    """The ADDITIVE merge law over events' value sharded by event_id,
    companion to :func:`hll_merge_demo`'s max-merge: equi-width histograms
    over FIXED global edges merge by per-bin count addition, so per-shard
    histograms summed must equal the histogram built directly over all
    rows -- exactly, not approximately.
    This is what lets a 1000-executor profile job (or a per-day series)
    combine kilobyte bin vectors instead of re-shuffling raw values, and
    it is the law ``value_histogram``'s production use depends on.

    On top, the merged histogram answers a quantile query: est_p50 = the
    lower edge of the first bin whose cumulative count reaches
    ceil(total/2) -- pure BIGINT arithmetic -- reported next to the exact
    interpolated median (Spark ``percentile`` == DuckDB ``quantile_cont``
    over integer cents, the proven-bit-exact pair), the
    estimator-vs-ground-truth pattern of hll_distinct / ann_recall_at_k.

    Output (one row): n_shards, n_bins, hist_equal, est_p50_cents,
    exact_p50_cents.

    Scale shape (100 TB): the [lo, hi] edge pair is one 1-row aggregate
    MATERIALIZED once (it feeds two broadcast builds, and exchange reuse
    doesn't kick in under broadcast -- without the checkpoint the edge
    scan would run once per build); binning is map-only; per-shard and
    direct histograms are single map-side-combined groupBys over
    <= n_shards*n_bins and n_bins keys (two corpus passes by design --
    deriving direct from per_shard would make the law a tautology); the
    <= n_bins-row merged table is materialized once for its two consumers
    (equality check + quantile walk), and the exact median is one more
    pass. Four corpus passes total, every shuffle vocabulary-bounded."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    base = df.select(cents.alias("c"), (F.col("event_id") % n_shards).alias("shard"))
    edges = base.agg(
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
        F.count(F.lit(1)).alias("n_rows"),
    ).localCheckpoint()
    binned = base.crossJoin(F.broadcast(edges)).select(
        "shard",
        "n_rows",
        F.least(
            F.expr(f"(c - lo) div ((hi - lo) div {HISTOGRAM_MERGE_DEMO_N_BINS} + 1)"),
            F.lit(HISTOGRAM_MERGE_DEMO_N_BINS - 1),
        )
        .cast("int")
        .alias("bin"),
        F.col("lo"),
        F.expr(f"(hi - lo) div {HISTOGRAM_MERGE_DEMO_N_BINS} + 1").alias("width"),
    )
    per_shard = binned.groupBy("shard", "bin", "lo", "width", "n_rows").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    merged = per_shard.groupBy("bin", "lo", "width", "n_rows").agg(
        F.sum("cnt").alias("cnt")
    ).localCheckpoint()
    direct = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt_direct"))
    cmp = merged.join(direct, "bin", "full_outer")
    equal = cmp.agg(
        F.count(F.lit(1)).alias("n_bins_out"),
        F.sum(
            F.when(
                F.col("cnt").isNull()
                | F.col("cnt_direct").isNull()
                | (F.col("cnt") != F.col("cnt_direct")),
                1,
            ).otherwise(0)
        ).alias("n_diff"),
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    est = (
        merged.withColumn("cum", F.sum("cnt").over(w_cum))
        .where(F.col("cum") * 2 >= F.col("n_rows"))
        .agg(
            F.min(F.col("lo") + F.col("bin") * F.col("width")).alias("est_p50_cents")
        )
    )
    exact = df.agg(
        F.expr(
            "percentile(CAST(round(value * 100) AS BIGINT), 0.5e0)"
        ).alias("exact_p50_cents")
    )
    return (
        equal.crossJoin(est)
        .crossJoin(exact)
        .select(
            F.lit(n_shards).cast("bigint").alias("n_shards"),
            F.lit(HISTOGRAM_MERGE_DEMO_N_BINS).cast("int").alias("n_bins"),
            (F.col("n_diff") == 0).alias("hist_equal"),
            F.col("est_p50_cents").cast("bigint").alias("est_p50_cents"),
            "exact_p50_cents",
        )
    )


def histogram_merge_demo_oracle() -> str:
    """DuckDB twin of :func:`histogram_merge_demo` -- identical integer bin
    rule ((c - lo) div width, width = (hi - lo) div n_bins + 1, last bin
    clamped) and the same quantile walk."""
    return f"""
WITH base AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c,
         event_id % {HISTOGRAM_MERGE_DEMO_N_SHARDS} AS shard
  FROM events
),
edges AS (
  SELECT min(c) AS lo, max(c) AS hi, CAST(count(*) AS BIGINT) AS n_rows FROM base
),
binned AS (
  SELECT shard, n_rows, lo, (hi - lo) // {HISTOGRAM_MERGE_DEMO_N_BINS} + 1 AS width,
         CAST(least((c - lo) // ((hi - lo) // {HISTOGRAM_MERGE_DEMO_N_BINS} + 1), {HISTOGRAM_MERGE_DEMO_N_BINS - 1}) AS INT) AS bin
  FROM base CROSS JOIN edges
),
per_shard AS (
  SELECT shard, bin, lo, width, n_rows, CAST(count(*) AS BIGINT) AS cnt
  FROM binned GROUP BY 1, 2, 3, 4, 5
),
merged AS (
  SELECT bin, lo, width, n_rows, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM per_shard GROUP BY 1, 2, 3, 4
),
direct AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS cnt_direct FROM binned GROUP BY 1
),
eq AS (
  SELECT count(*) AS n_bins_out,
         sum(CASE WHEN m.cnt IS NULL OR d.cnt_direct IS NULL
                       OR m.cnt != d.cnt_direct THEN 1 ELSE 0 END) AS n_diff
  FROM merged m FULL OUTER JOIN direct d USING (bin)
),
cum AS (
  SELECT bin, lo, width, n_rows,
         sum(cnt) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM merged
),
est AS (
  SELECT CAST(min(lo + bin * width) AS BIGINT) AS est_p50_cents
  FROM cum WHERE cum * 2 >= n_rows
),
exact AS (
  SELECT quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5e0)
           AS exact_p50_cents
  FROM events
)
SELECT CAST({HISTOGRAM_MERGE_DEMO_N_SHARDS} AS BIGINT) AS n_shards, CAST({HISTOGRAM_MERGE_DEMO_N_BINS} AS INT) AS n_bins,
       n_diff = 0 AS hist_equal, est_p50_cents, exact_p50_cents
FROM eq CROSS JOIN est CROSS JOIN exact
"""


def join_cardinality_estimate(r_counts: DataFrame, s_counts: DataFrame) -> DataFrame:
    """Join-size estimation via the Count-Min INNER PRODUCT -- the
    optimizer-statistics question ("how many rows will R join S produce
    on this key?") answered from two 4 KiB sketches instead of the join
    itself: est = min over hash rows of sum_bucket cmsR[row][b] *
    cmsS[row][b], with the one-sided guarantee est >= exact (Cormode &
    Muthukrishnan's a.b estimator). Inputs are pre-aggregated (k, cnt)
    relations; output is ONE row (n_exact, n_est, overcount), all BIGINT
    and integer-exact, next to the exact truth -- the estimator-vs-
    ground-truth audit pattern (hll_distinct / ann_recall_at_k policy).

    Scale shape (100 TB): each side's sketch is built from its
    key-aggregated relation (the CMS-from-partials identity, as
    countmin_freq) and collapses to depth*width integer cells with
    map-side combine; the inner product joins sketch cells against
    sketch cells -- constant-size work however large the inputs. The
    exact side is the audit's deliberate full computation. Both count
    relations feed two consumers (their sketch and the exact join), so
    they are localCheckpoint-ed (the twice-consumed rule) -- they
    are key-vocabulary-sized, not corpus-sized."""
    r_counts = r_counts.select(
        F.col(r_counts.columns[0]).alias("k"),
        F.col(r_counts.columns[1]).cast("bigint").alias("cnt"),
    ).localCheckpoint()
    s_counts = s_counts.select(
        F.col(s_counts.columns[0]).alias("k"),
        F.col(s_counts.columns[1]).cast("bigint").alias("cnt"),
    ).localCheckpoint()

    def sketch(counts):
        return (
            cms_cells(counts, "cnt")
            .groupBy("r", "bucket")
            .agg(F.sum("cnt").alias("cell_sum"))
        )

    dots = (
        sketch(r_counts)
        .withColumnRenamed("cell_sum", "ra")
        .join(sketch(s_counts).withColumnRenamed("cell_sum", "sb"), ["r", "bucket"])
        .groupBy("r")
        .agg(F.sum(F.col("ra") * F.col("sb")).alias("dot"))
    )
    est = dots.agg(F.min("dot").cast("bigint").alias("n_est"))
    exact = (
        r_counts.select("k", F.col("cnt").alias("cr"))
        .join(s_counts.select("k", F.col("cnt").alias("cs")), "k")
        .agg(F.coalesce(F.sum(F.col("cr") * F.col("cs")), F.lit(0)).cast("bigint").alias("n_exact"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_exact", "n_est", (F.col("n_est") - F.col("n_exact")).alias("overcount")
    )


def join_cardinality_estimate_sql() -> str:
    """DuckDB twin of :func:`join_cardinality_estimate` over the view-user x
    click-user join of events."""
    return f"""
WITH rc AS MATERIALIZED (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS cnt FROM events WHERE event_type = 'view' GROUP BY 1),
sc AS MATERIALIZED (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS cnt FROM events WHERE event_type = 'click' GROUP BY 1),
r_cells AS ({cms_cells_sql('rc', 'cnt')}),
s_cells AS ({cms_cells_sql('sc', 'cnt')}),
r_sketch AS (
  SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS ra FROM r_cells GROUP BY 1, 2
),
s_sketch AS (
  SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS sb FROM s_cells GROUP BY 1, 2
),
dots AS (
  SELECT r, CAST(sum(ra * sb) AS BIGINT) AS dot
  FROM r_sketch JOIN s_sketch USING (r, bucket) GROUP BY 1
),
est AS (SELECT CAST(min(dot) AS BIGINT) AS n_est FROM dots),
ex AS (
  SELECT CAST(COALESCE(sum(a.cnt * b.cnt), 0) AS BIGINT) AS n_exact
  FROM rc a JOIN sc b USING (k)
)
SELECT n_exact, n_est, n_est - n_exact AS overcount FROM ex CROSS JOIN est
"""

APPROX_TOPK_SHARD_UNION_N_SHARDS = 8
APPROX_TOPK_SHARD_UNION_PER_SHARD = 12
APPROX_TOPK_SHARD_UNION_K = 10


def approx_topk_shard_union(
    docs: DataFrame,
    n_shards: int = APPROX_TOPK_SHARD_UNION_N_SHARDS,
    per_shard: int = APPROX_TOPK_SHARD_UNION_PER_SHARD,
    k: int = APPROX_TOPK_SHARD_UNION_K,
) -> DataFrame:
    """Approximate distributed top-k via per-shard top-m union -- the
    third member of the shard-merge family (hll_merge_shards,
    histogram_merge_shards): shard the corpus deterministically, keep
    each shard's EXACT top ``per_shard`` token counts, union the
    survivors, and rank by the summed (lower-bound) estimates, audited
    against the exact global counts. This is the pattern every
    "top queries/terms across the fleet" pipeline uses when shipping
    full per-shard frequency tables is too expensive: only m rows leave
    each shard.

    One-sided by construction: a token's estimate sums only the shards
    where it survived the local cut, so est <= exact always, and
    est == exact iff it made every shard's top-m it appeared in. Output
    (rank, token, est_count, exact_count, undercount), BIGINTs; rank by
    (est DESC, token ASC). Both est and exact derive from ONE
    (shard, token, cnt) frame via a conditional aggregate -- no
    twice-consumed subtree.

    Determinism: shard = md5(doc_id) % n_shards; the per-shard cut and
    the final rank both break ties by token ASC -- total orders, same on
    both engines.

    Scale shape (100 TB): one explode + groupBy(shard, token) with
    map-side combine, a per-shard window on the SAME partitioning for
    the local cut, one vocabulary-bounded groupBy(token), and a final
    rank over <= n_shards * per_shard survivors (bounded
    single-partition window -- the audit's exact column is
    vocabulary-bounded only because the audit wants ground truth; the
    production form drops it and the bounded union is all that moves)."""
    from .textstats import _widened

    shard = md5_long(F.col("doc_id").cast("string")) % n_shards
    toks = (
        _widened(docs)
        .select(shard.alias("shard"), F.explode(words()).alias("w"))
        .groupBy("shard", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    cut = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("w"))
    audited = (
        toks.withColumn("r", F.row_number().over(cut))
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("r") <= per_shard, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("est_count"),
            F.sum("cnt").cast("bigint").alias("exact_count"),
        )
        .where(F.col("est_count") > 0)
    )
    # bounded single-partition window: <= n_shards * per_shard survivors
    rk = Window.orderBy(F.desc("est_count"), F.asc("w"))
    return (
        audited.withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            "rank",
            F.col("w").alias("token"),
            "est_count",
            "exact_count",
            (F.col("exact_count") - F.col("est_count")).alias("undercount"),
        )
    )


def approx_topk_shard_union_sql() -> str:
    """DuckDB twin of :func:`approx_topk_shard_union`: same md5 shards,
    same per-shard cut, same conditional aggregate and final rank."""
    shard = f"{md5_long_sql('CAST(doc_id AS VARCHAR)')} % {APPROX_TOPK_SHARD_UNION_N_SHARDS}"
    return f"""
WITH toks AS (
  SELECT shard, w, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT {shard} AS shard, unnest({words_sql()}) AS w FROM documents
  ) GROUP BY 1, 2
),
ranked AS (
  SELECT shard, w, cnt,
         row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, w) AS r
  FROM toks
),
audited AS (
  SELECT w,
         CAST(sum(CASE WHEN r <= {APPROX_TOPK_SHARD_UNION_PER_SHARD} THEN cnt ELSE 0 END) AS BIGINT)
           AS est_count,
         CAST(sum(cnt) AS BIGINT) AS exact_count
  FROM ranked GROUP BY 1
  HAVING sum(CASE WHEN r <= {APPROX_TOPK_SHARD_UNION_PER_SHARD} THEN cnt ELSE 0 END) > 0
)
SELECT rank, token, est_count, exact_count, exact_count - est_count AS undercount
FROM (
  SELECT CAST(row_number() OVER (ORDER BY est_count DESC, w) AS BIGINT) AS rank,
         w AS token, est_count, exact_count
  FROM audited
) WHERE rank <= {APPROX_TOPK_SHARD_UNION_K}
"""

# ---------------------------------------------------------------------------
# Hilbert curve layout. The classic xy2d walk is a
# per-bit state recurrence -- (x, y, d) rewritten at every level -- so
# unlike Morton it cannot be one flat interleave expression (inlining
# would double the tree per level: 2^bits terms). It IS a fixed
# bits-deep chain of projections, which Catalyst collapses into one
# codegen'd stage; the per-level expressions are generated from ONE
# loop with per-engine spellings only for >> and XOR (DuckDB's ^ is
# POWER, its integer xor is xor()), so the engines can never drift.
# ---------------------------------------------------------------------------


def _xor_spark(a: str, b: str) -> str:
    return f"(({a}) ^ ({b}))"


def _xor_duck(a: str, b: str) -> str:
    return f"xor(CAST({a} AS BIGINT), CAST({b} AS BIGINT))"


def _hilbert_levels(bits: int, shr, xor) -> list[dict]:
    """Per-level (rx, ry, x, y, d) update expressions for the standard
    Hilbert xy2d walk, referencing the running columns x, y, d."""
    levels = []
    for i in range(bits):
        k = bits - 1 - i
        s = 1 << k
        levels.append(
            {
                "rx": f"(({shr('x', k)}) & 1)",
                "ry": f"(({shr('y', k)}) & 1)",
                "x": f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 "
                f"THEN {s - 1} - y ELSE y END) ELSE x END",
                "y": f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 "
                f"THEN {s - 1} - x ELSE x END) ELSE y END",
                "d": f"d + {s * s} * ({xor('3 * rx', 'ry')})",
            }
        )
    return levels


def hilbert_index(
    df: DataFrame, x_col: str, y_col: str, bits: int = ZORDER_BITS
) -> DataFrame:
    """Append ``haddr``, the Hilbert-curve index of (x_col, y_col) on the
    2^bits x 2^bits grid, as a chain of codegen'd integer projections
    (no UDF, no shuffle). Inputs must already be in [0, 2^bits)."""
    cur = df.selectExpr(
        "*", f"CAST({x_col} AS BIGINT) AS x", f"CAST({y_col} AS BIGINT) AS y",
        "CAST(0 AS BIGINT) AS d",
    )
    keep = df.columns
    for lvl in _hilbert_levels(bits, _shr_spark, _xor_spark):
        cur = cur.selectExpr(
            *keep, "x", "y", "d", f"{lvl['rx']} AS rx", f"{lvl['ry']} AS ry"
        ).selectExpr(
            *keep,
            f"{lvl['x']} AS x",
            f"{lvl['y']} AS y",
            f"{lvl['d']} AS d",
        )
    return cur.selectExpr(*keep, "d AS haddr")


def hilbert_index_sql(
    inner_sql: str,
    keep_cols: list[str],
    x_expr: str = "x",
    y_expr: str = "y",
    bits: int = ZORDER_BITS,
) -> str:
    """DuckDB twin of :func:`hilbert_index`: the same per-level updates as
    chained subqueries over ``inner_sql`` (which must expose
    ``keep_cols`` plus the x/y expressions)."""
    keep = ", ".join(keep_cols)
    cur = (
        f"(SELECT {keep}, CAST({x_expr} AS BIGINT) AS x, "
        f"CAST({y_expr} AS BIGINT) AS y, CAST(0 AS BIGINT) AS d "
        f"FROM ({inner_sql}))"
    )
    for lvl in _hilbert_levels(bits, _shr_duck, _xor_duck):
        cur = (
            f"(SELECT {keep}, {lvl['x']} AS x, {lvl['y']} AS y, {lvl['d']} AS d "
            f"FROM (SELECT *, {lvl['rx']} AS rx, {lvl['ry']} AS ry FROM {cur}))"
        )
    return f"SELECT {keep}, d AS haddr FROM {cur}"


def hilbert_pruning_audit(docs: DataFrame) -> DataFrame:
    """Head-to-head file-skipping audit of the two classic space-filling
    layouts on IDENTICAL range-scaled axes: Morton (z-order, the gated
    zonemap_pruning_audit's best layout) vs Hilbert (no diagonal jumps --
    consecutive curve positions are always grid neighbors, so shard
    rectangles tend tighter). Same per-shard zone maps over the RAW
    dimensions, same two probe predicates, same accounting as
    zonemap_pruning_audit -- only the shard placement differs, which is
    exactly the variable a layout decision controls.

    Scale shape (100 TB): TWO corpus passes (the 1-row min/max scaling
    scalar, then one scan computing BOTH addresses in a single lineage
    and exploding 2 structs -- never one scan per layout); the Hilbert
    walk is a fixed bits-deep projection chain Catalyst collapses into
    the same codegen stage as the Morton interleave. Zone maps fold per
    shard with map-side partials; the audit output is 2 rows."""
    pt = _cat_point()
    mask = (1 << ZORDER_BITS) - 1
    shard_shift = 2 * ZORDER_BITS - (ZORDER_SHARDS.bit_length() - 1)
    z = zorder_layout(docs)
    rng = z.agg(F.min("zx").alias("_mn"), F.max("zx").alias("_mx"))
    sxe = f"(((zx - _mn) * {mask}) div greatest(_mx - _mn, 1))"
    scaled = z.crossJoin(F.broadcast(rng)).selectExpr(
        "zx", "zy", f"{sxe} AS sx"
    )
    h = hilbert_index(scaled, "sx", "zy")
    sz = _interleave_terms("sx", _shl_spark, _shr_spark)
    lay = lambda name, shard: F.struct(
        F.lit(name).alias("layout"), shard.alias("shard")
    )
    a1 = lay(
        "zorder_scaled", F.expr(f"CAST({sz} AS BIGINT) div {1 << shard_shift}")
    )
    a2 = lay("hilbert_scaled", F.expr(f"haddr div {1 << shard_shift}"))
    both = h.select(
        "zx", "zy", F.explode(F.array(a1, a2)).alias("ls")
    ).select(
        "zx", "zy", F.col("ls.layout").alias("layout"), F.col("ls.shard").alias("shard")
    )
    in_len = F.col("zx").between(ZONEMAP_LEN_LO, ZONEMAP_LEN_HI)
    is_cat = F.col("zy") == pt
    zone = both.groupBy("layout", "shard").agg(
        F.min("zx").alias("mn_len"),
        F.max("zx").alias("mx_len"),
        F.min("zy").alias("mn_cat"),
        F.max("zy").alias("mx_cat"),
        F.sum(F.when(in_len, F.lit(1)).otherwise(F.lit(0))).alias("rows_len"),
        F.sum(F.when(is_cat, F.lit(1)).otherwise(F.lit(0))).alias("rows_cat"),
        F.sum(F.when(in_len & is_cat, F.lit(1)).otherwise(F.lit(0))).alias(
            "rows_box"
        ),
    )
    scan_len = ~(
        (F.col("mx_len") < ZONEMAP_LEN_LO) | (F.col("mn_len") > ZONEMAP_LEN_HI)
    )
    scan_cat = (F.lit(pt) >= F.col("mn_cat")) & (F.lit(pt) <= F.col("mx_cat"))
    return zone.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum(F.when(scan_len, F.lit(1)).otherwise(F.lit(0))).alias(
            "shards_scanned_len"
        ),
        F.sum(F.when(scan_cat, F.lit(1)).otherwise(F.lit(0))).alias(
            "shards_scanned_cat"
        ),
        # the 2-D box probe (both predicates at once) is where curve
        # locality separates the layouts -- a shard is scanned only when
        # BOTH zone intervals overlap
        F.sum(F.when(scan_len & scan_cat, F.lit(1)).otherwise(F.lit(0))).alias(
            "shards_scanned_box"
        ),
        F.sum("rows_len").alias("rows_matched_len"),
        F.sum("rows_cat").alias("rows_matched_cat"),
        F.sum("rows_box").alias("rows_matched_box"),
    )


def hilbert_pruning_audit_sql() -> str:
    """DuckDB twin of :func:`hilbert_pruning_audit`: the zorder oracle as
    a CTE, the same scaled axes, the same chained Hilbert walk."""
    pt = _cat_point()
    lo, hi = ZONEMAP_LEN_LO, ZONEMAP_LEN_HI
    mask = (1 << ZORDER_BITS) - 1
    shard_shift = 2 * ZORDER_BITS - (ZORDER_SHARDS.bit_length() - 1)
    sxe = f"(((zx - _mn) * {mask}) // greatest(_mx - _mn, 1))"
    sz = _interleave_terms("sx", _shl_duck, _shr_duck)
    scaled = (
        f"SELECT zx, zy, {sxe} AS sx FROM zl, rng"
    )
    hil = hilbert_index_sql(scaled, ["zx", "zy", "sx"], "sx", "zy")
    return f"""
WITH zl AS ({zorder_layout_oracle()}),
rng AS (SELECT min(zx) AS _mn, max(zx) AS _mx FROM zl),
hil AS ({hil}),
u AS (
  SELECT zx, zy, s.layout AS layout, s.shard AS shard
  FROM (
    SELECT zx, zy,
           unnest([
             struct_pack(layout := 'zorder_scaled',
                         shard := CAST({sz} AS BIGINT) // {1 << shard_shift}),
             struct_pack(layout := 'hilbert_scaled',
                         shard := haddr // {1 << shard_shift})
           ]) AS s
    FROM hil
  )
),
zone AS (
  SELECT layout, shard,
         min(zx) AS mn_len, max(zx) AS mx_len,
         min(zy) AS mn_cat, max(zy) AS mx_cat,
         CAST(count(*) FILTER (WHERE zx BETWEEN {lo} AND {hi}) AS BIGINT) AS rows_len,
         CAST(count(*) FILTER (WHERE zy = {pt}) AS BIGINT) AS rows_cat,
         CAST(count(*) FILTER (WHERE zx BETWEEN {lo} AND {hi} AND zy = {pt})
              AS BIGINT) AS rows_box
  FROM u GROUP BY layout, shard
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_shards,
       CAST(count(*) FILTER (WHERE NOT (mx_len < {lo} OR mn_len > {hi})) AS BIGINT)
         AS shards_scanned_len,
       CAST(count(*) FILTER (WHERE {pt} >= mn_cat AND {pt} <= mx_cat) AS BIGINT)
         AS shards_scanned_cat,
       CAST(count(*) FILTER (WHERE NOT (mx_len < {lo} OR mn_len > {hi})
                             AND {pt} >= mn_cat AND {pt} <= mx_cat) AS BIGINT)
         AS shards_scanned_box,
       CAST(sum(rows_len) AS BIGINT) AS rows_matched_len,
       CAST(sum(rows_cat) AS BIGINT) AS rows_matched_cat,
       CAST(sum(rows_box) AS BIGINT) AS rows_matched_box
FROM zone GROUP BY layout
"""

QSKETCH_PCTS = (25, 50, 75, 90)


QUANTILE_MERGE_SHARDS_N_SHARDS = 8
QUANTILE_MERGE_SHARDS_M = 17


def quantile_merge_shards(
    events: DataFrame,
    n_shards: int = QUANTILE_MERGE_SHARDS_N_SHARDS,
    m: int = QUANTILE_MERGE_SHARDS_M,
) -> DataFrame:
    """Mergeable quantile sketch audit -- the fourth shard-merge family
    member (HLL, histogram, top-k union): each shard ships only its m
    equi-depth order statistics (rank 1 + ((n_s-1)*i) DIV (m-1),
    i = 0..m-1), the coordinator pools them weighted by shard size, and
    pooled weighted quantiles estimate the global ones -- the classic
    "m values per shard instead of the shard" distributed-percentile
    shape. Audited against the EXACT discrete quantile (value at rank
    ceil(p*n), computed by the histogram cumulative walk). Output per
    requested percentile: (pct, est_cents, exact_cents, abs_err), all
    BIGINT.

    Determinism: values are integer cents; boundary picks are integer
    rank arithmetic over the (cents, key) total order; the pooled
    estimate and the exact walk are integer cross-multiplied threshold
    scans -- zero float ops anywhere.

    Scale shape (100 TB): the per-shard rank windows partition by shard
    (parallel; this is work the shards would do locally in the
    distributed setting); only n_shards x m boundary rows pool (bounded
    single-partition cumulative); the exact column's cumulative walk runs
    over DISTINCT CENTS (value-vocabulary-bounded, the
    histogram_merge_shards precedent) -- it exists because the audit
    wants ground truth; the production form ships only the sketch."""
    cents = F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint")
    base = events.select(
        (md5_long(F.col("event_id").cast("string")) % n_shards).alias("shard"),
        cents.alias("v"),
        F.col("event_id").alias("k"),
    )
    wr = Window.partitionBy("shard").orderBy("v", "k")
    wn = Window.partitionBy("shard")
    ranked = base.select(
        "shard", "v", F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_s"),
    )
    picks = (
        ranked.select("shard", "n_s")
        .groupBy("shard")
        .agg(F.max("n_s").alias("n_s"))
        .select(
            "shard",
            "n_s",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("i"),
        )
        .selectExpr("shard", "n_s AS w", f"1 + ((n_s - 1) * i) DIV {m - 1} AS rn")
        # small shards (n_s < m) repeat boundary ranks -- dedupe so the
        # picks->ranked join stays 1:1 and no boundary row double-counts
        .distinct()
    )
    pooled = picks.join(ranked.drop("n_s"), ["shard", "rn"]).select("v", "w")
    # bounded single-partition cumulative: n_shards x m boundary rows
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = pooled.groupBy("v").agg(F.sum("w").alias("w")).select(
        "v", F.sum("w").over(wc).alias("cw")
    )
    tot = pooled.agg(F.sum("w").alias("tw"))
    # exact discrete quantiles: histogram cumulative walk over distinct cents
    hist = base.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    hcum = hist.select("v", F.sum("c").over(wc).alias("cc"))
    n_tot = base.agg(F.count(F.lit(1)).alias("n"))
    pct_df = events.sparkSession.createDataFrame(
        [(int(p),) for p in QSKETCH_PCTS], "pct bigint"
    )
    est = (
        pct_df.crossJoin(F.broadcast(tot))
        .join(cum, F.col("cw") * 100 >= F.col("pct") * F.col("tw"))
        .groupBy("pct")
        .agg(F.min("v").alias("est_cents"))
    )
    exact = (
        pct_df.crossJoin(F.broadcast(n_tot))
        .join(hcum, F.col("cc") * 100 >= F.col("pct") * F.col("n"))
        .groupBy("pct")
        .agg(F.min("v").alias("exact_cents"))
    )
    return (
        est.join(exact, "pct")
        .select(
            "pct",
            "est_cents",
            "exact_cents",
            F.abs(F.col("est_cents") - F.col("exact_cents")).alias("abs_err"),
        )
    )


def quantile_merge_shards_sql() -> str:
    """DuckDB twin of :func:`quantile_merge_shards`: same shards, ranks,
    pooled weights, and threshold scans (`//` = integer division)."""
    shard = f"{md5_long_sql('CAST(event_id AS VARCHAR)')} % {QUANTILE_MERGE_SHARDS_N_SHARDS}"
    pct_rows = ", ".join(f"({int(p)})" for p in QSKETCH_PCTS)
    return f"""
WITH base AS (
  SELECT {shard} AS shard,
         CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS v,
         event_id AS k
  FROM events
),
ranked AS (
  SELECT shard, v,
         row_number() OVER (PARTITION BY shard ORDER BY v, k) AS rn,
         count(*) OVER (PARTITION BY shard) AS n_s
  FROM base
),
picks AS (
  SELECT DISTINCT shard, n_s, 1 + ((n_s - 1) * i) // {QUANTILE_MERGE_SHARDS_M - 1} AS rn
  FROM (SELECT shard, max(n_s) AS n_s FROM ranked GROUP BY 1),
       (SELECT unnest(range({QUANTILE_MERGE_SHARDS_M})) AS i)
),
pooled AS (
  SELECT r.v, p.n_s AS w FROM picks p JOIN ranked r USING (shard, rn)
),
cum AS (
  SELECT v, CAST(sum(w) OVER (ORDER BY v
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
  FROM (SELECT v, CAST(sum(w) AS BIGINT) AS w FROM pooled GROUP BY 1)
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM pooled),
hist AS (SELECT v, count(*) AS c FROM base GROUP BY 1),
hcum AS (
  SELECT v, CAST(sum(c) OVER (ORDER BY v
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
  FROM hist
),
ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
pctt AS (SELECT CAST(pct AS BIGINT) AS pct FROM (VALUES {pct_rows}) t(pct)),
est AS (
  SELECT pct, CAST(min(v) AS BIGINT) AS est_cents
  FROM pctt, tot, cum WHERE cw * 100 >= pct * tw GROUP BY 1
),
exact AS (
  SELECT pct, CAST(min(v) AS BIGINT) AS exact_cents
  FROM pctt, ntot, hcum WHERE cc * 100 >= pct * n GROUP BY 1
)
SELECT pct, est_cents, exact_cents,
       CAST(abs(est_cents - exact_cents) AS BIGINT) AS abs_err
FROM est JOIN exact USING (pct)
"""

HLL_INTERSECTION_ESTIMATE_TERM_A = "spark"
HLL_INTERSECTION_ESTIMATE_TERM_B = "window"
HLL_INTERSECTION_ESTIMATE_P = 6


def hll_intersection_estimate(
    docs: DataFrame,
    term_a: str = HLL_INTERSECTION_ESTIMATE_TERM_A,
    term_b: str = HLL_INTERSECTION_ESTIMATE_TERM_B,
) -> DataFrame:
    """Posting-list overlap estimation from mergeable sketches -- the
    query-planner / audience-overlap primitive: HLL registers cannot
    intersect directly, so the standard estimator is inclusion-exclusion
    over the union merge, |A ∩ B| ≈ est(A) + est(B) - est(A ∪ B), where
    est(A ∪ B) folds the max-of-maxes merged registers (the gated
    hll_merge_shards law). Sets are the documents containing term_a /
    term_b (whole-token match via the shared tokenizer -- the inverted
    index's posting lists); graded against the exact overlap, mirroring
    hll_distinct's estimator-next-to-truth shape. Output is ONE row.

    p defaults to 6 (m = 64 registers): small enough that the RAW
    estimator (no linear-counting correction, by repo design) stays in
    range on this corpus's posting sizes (~385 docs per term at sf0.01,
    n > 2.5m), large enough that the four register sets -- and therefore
    the four estimates -- actually separate (at m = 16 the B and union
    registers coincide on this data and the demo degenerates);
    production raises p with the posting sizes.

    Determinism: registers are exact integers; every float op is a
    correctly-rounded IEEE div/add/sub over the shared E-notation
    numerator literal in one fixed expression tree, rounded once at the
    end (the BM25 float recipe) -- hash-exact cross-engine.

    Scale shape (100 TB): ONE register-build shuffle keyed on
    (side, bucket) over the term-filtered scan (state capped at 2m
    registers); the union fold reuses those registers (merge law, never
    a second corpus pass); the 2m-row register frame feeds the side
    folds AND the union fold, so it is localCheckpoint'd once (the
    multi-consumer rule). The exact twin is one per-doc flag aggregate
    -- the expensive path the sketch replaces, riding along as the
    grade. The numerator literal rescales the family's alpha_512
    constant to m = 64 (alpha * m^2); the published small-m alpha_64
    (~0.709) differs slightly from alpha_512's base -- a constant-factor
    bias tolerated BY DESIGN in this graded audit, and irrelevant to
    parity because both engines fold the identical literal."""
    ws = words()
    flagged = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.array_contains(ws, term_a).alias("in_a"),
            F.array_contains(ws, term_b).alias("in_b"),
        )
        .where(F.col("in_a") | F.col("in_b"))
        # posting-bounded; feeds the register build AND the exact grade
        # -- localCheckpoint so the scan + tokenize runs once
        .localCheckpoint()
    )
    sided = flagged.select(
        F.explode(
            F.filter(
                F.array(
                    F.when(F.col("in_a"), F.lit("a")),
                    F.when(F.col("in_b"), F.lit("b")),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("side"),
        "id",
    )
    regs = (
        hll_cells(sided, "id", "side", p=HLL_INTERSECTION_ESTIMATE_P)
        .groupBy("side", "bucket")
        .agg(F.max("rho").alias("m_j"))
        .localCheckpoint()  # <= 2m rows; feeds side folds + union fold
    )
    uregs = regs.groupBy("bucket").agg(F.max("m_j").alias("m_j"))

    def fold(frame, side=None):
        f = frame if side is None else frame.where(F.col("side") == side)
        return hll_fold(f, p=HLL_INTERSECTION_ESTIMATE_P).select("s")

    sa = fold(regs, "a").select(F.col("s").alias("s_a"))
    sb = fold(regs, "b").select(F.col("s").alias("s_b"))
    su = fold(uregs).select(F.col("s").alias("s_u"))
    exact = flagged.agg(
        F.sum(F.col("in_a").cast("int")).cast("bigint").alias("n_exact_a"),
        F.sum(F.col("in_b").cast("int")).cast("bigint").alias("n_exact_b"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("int"))
        .cast("bigint")
        .alias("n_exact_both"),
    )
    num = F.lit(float(hll_numerator_lit(HLL_INTERSECTION_ESTIMATE_P)))
    return (
        exact.join(F.broadcast(sa))
        .join(F.broadcast(sb))
        .join(F.broadcast(su))
        .select(
            "n_exact_a",
            "n_exact_b",
            "n_exact_both",
            F.round(num / F.col("s_a"), 4).alias("est_a"),
            F.round(num / F.col("s_b"), 4).alias("est_b"),
            F.round(num / F.col("s_u"), 4).alias("est_union"),
            F.round(
                num / F.col("s_a") + num / F.col("s_b") - num / F.col("s_u"), 4
            ).alias("est_intersection"),
        )
    )


def hll_intersection_estimate_sql() -> str:
    """DuckDB twin of :func:`hll_intersection_estimate`: same posting
    flags, register build, max-of-maxes union merge, single-literal
    float folds, and one-round inclusion-exclusion."""
    num = hll_numerator_lit(HLL_INTERSECTION_ESTIMATE_P)
    ws = words_sql()
    s_expr = hll_fold_sql(HLL_INTERSECTION_ESTIMATE_P)
    return f"""
WITH flagged AS (
  SELECT doc_id AS id,
         len([x for x in {ws} if x = '{HLL_INTERSECTION_ESTIMATE_TERM_A}']) > 0 AS in_a,
         len([x for x in {ws} if x = '{HLL_INTERSECTION_ESTIMATE_TERM_B}']) > 0 AS in_b
  FROM documents
),
fl AS (SELECT * FROM flagged WHERE in_a OR in_b),
sided AS (
  SELECT id, unnest([x for x in [
    CASE WHEN in_a THEN 'a' END,
    CASE WHEN in_b THEN 'b' END] if x IS NOT NULL]) AS side
  FROM fl
),
regs AS (
  SELECT side, bucket, max(rho) AS m_j
  FROM ({hll_cells_sql("sided", "id", "side", p=HLL_INTERSECTION_ESTIMATE_P)}) GROUP BY 1, 2
),
uregs AS (SELECT bucket, max(m_j) AS m_j FROM regs GROUP BY 1),
sa AS (SELECT {s_expr} AS s FROM regs WHERE side = 'a'),
sb AS (SELECT {s_expr} AS s FROM regs WHERE side = 'b'),
su AS (SELECT {s_expr} AS s FROM uregs),
exact AS (
  SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_a,
         CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_b,
         CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_both
  FROM fl
)
SELECT n_exact_a, n_exact_b, n_exact_both,
       round({num} / sa.s, 4) AS est_a,
       round({num} / sb.s, 4) AS est_b,
       round({num} / su.s, 4) AS est_union,
       round({num} / sa.s + {num} / sb.s - {num} / su.s, 4)
         AS est_intersection
FROM exact, sa, sb, su
"""
