"""Training-pipeline operators: dedup, similarity, text stats, multimodal."""

import pytest
from pyspark.sql import functions as F

from flink_training_exercises_spark.operators import (
    contamination,
    dedup,
    indexing,
    multimodal,
    pii,
    similarity,
    textstats,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "en", "s1"),
    (2, "the quick brown fox jumps over the lazy cat", "en", "s1"),  # near-dup of 1
    (3, "completely different words entirely unrelated content here", "en", "s1"),
    (4, "der hund ist nicht mit der katze und das", "de", "s2"),
    (5, "THE  QUICK   brown fox jumps over the lazy dog", "en", "s2"),  # = 1 normalized
]
DOC_SCHEMA = "doc_id long, text string, lang string, source string"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, DOC_SCHEMA)


def test_exact_dedup_normalized(spark, docs):
    out = {
        r["dedup_key"]: (r["survivor_id"], r["group_size"])
        for r in dedup.exact_dedup(docs, dedup.normalized_prefix_key(9)).collect()
    }
    # doc 5 normalizes to doc 1's key -> min-id survivor 1, group of 2
    assert out["the quick brown fox jumps over the lazy dog"] == (1, 2)


def test_minhash_lsh_finds_near_duplicate(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.2).collect()
    }
    assert (1, 2) in pairs  # one-word difference
    assert (1, 5) in pairs  # whitespace/case variant
    assert pairs[(1, 2)] > 0.5
    assert (1, 3) not in pairs  # unrelated


def test_simhash_near_duplicate(spark):
    # SimHash needs enough tokens for stable bit margins: 60-token docs
    # differing in one token stay within a few bits; tiny docs don't.
    base = " ".join(f"word{i}" for i in range(60))
    variant = base.replace("word30", "changed")
    ws_variant = "  " + base.upper() + "  "  # token-identical after lower/split
    docs = spark.createDataFrame(
        [(1, base), (2, variant), (3, ws_variant)], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=8).collect()
    }
    assert pairs[(1, 3)] == 0  # identical token multiset
    assert (1, 2) in pairs and pairs[(1, 2)] <= 8


def test_persisted_signatures_memoized_and_releasable(spark, docs):
    """Each call materializes its own signature table: repeated calls give
    equal rows, and none of them lands in the session cache, so repeated
    calls stack nothing and nothing needs releasing."""
    from pyspark.storagelevel import StorageLevel

    a = dedup.persisted_signatures(docs)
    b = dedup.persisted_signatures(docs)
    assert sorted(a.collect()) == sorted(b.collect())
    assert a.storageLevel == StorageLevel.NONE
    assert b.storageLevel == StorageLevel.NONE


def _write_docs(path, rows):
    import pandas as pd

    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path, index=False)


def test_dedup_rereads_input_rewritten_at_same_path(spark, tmp_path):
    """A documents file rewritten at the same path is read again by the
    next dedup run in the same session: with no release in between, the
    new near-duplicate shows up in both the pair set and the cluster map
    (no result depends on process-global memo state)."""
    from flink_training_exercises_spark.plans.catalog import CATALOG
    from flink_training_exercises_spark.sources import load_table

    def run():
        docs = load_table(spark, "documents", str(tmp_path))
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(docs, threshold=0.2).collect()
        }
        clusters = {
            (r["doc_id"], r["cluster_id"])
            for r in CATALOG["dedup_clusters_minhash"].spark(spark, str(tmp_path)).collect()
        }
        return pairs, clusters

    rows = [(i, t) for i, t, _, _ in DOCS]
    _write_docs(tmp_path / "documents.parquet", rows)
    pairs1, clusters1 = run()
    assert (1, 2) in pairs1 and all(d != 3 for d, _ in clusters1)
    _write_docs(
        tmp_path / "documents.parquet",
        rows + [(6, DOCS[2][1] + " again")],  # near-dup of doc 3
    )
    pairs2, clusters2 = run()
    assert pairs2 == pairs1 | {(3, 6)}
    assert clusters2 == clusters1 | {(3, 3), (6, 3)}


_SECOND_SESSION_SCRIPT = """
import sys
import pandas as pd
from flink_training_exercises_spark.plans.catalog import CATALOG
from flink_training_exercises_spark.session import get_spark

sf_dir = sys.argv[1]
pd.DataFrame(
    {"doc_id": [1, 2, 3], "text": [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different words entirely unrelated content here",
    ]}
).to_parquet(sf_dir + "/documents.parquet", index=False)

def run():
    spark = get_spark("second-session", cpus=2)
    rows = CATALOG["dedup_clusters_minhash"].spark(spark, sf_dir).collect()
    return spark, sorted((r["doc_id"], r["cluster_id"]) for r in rows)

spark, first = run()
spark.stop()
spark, second = run()
spark.stop()
assert first == second == [(1, 1), (2, 1)], (first, second)
print("OK")
"""


def test_dedup_builder_survives_second_session(tmp_path):
    """A dedup builder run again after ``spark.stop()`` and a new session
    in the same process returns the same rows (no frame from the stopped
    session is reused). Runs in a subprocess so the shared ``spark``
    fixture is untouched."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ, PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    )
    out = subprocess.run(
        [sys.executable, "-c", _SECOND_SESSION_SCRIPT, str(tmp_path)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().endswith("OK")


def test_ngram_jaccard_partition_scoped(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert (1, 2) in pairs  # same source s1
    assert (1, 5) not in pairs  # near-dups but different source partitions


EMB = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),   # close to 1
    (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
    (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 1
]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(EMB, "vec_id long, embedding array<float>")


def test_topk_bruteforce_ordering(spark, emb):
    out = [
        (r["neighbor_id"], r["rank"])
        for r in similarity.topk_bruteforce(emb, k=3, query_filter=F.col("vec_id") == 1)
        .orderBy("rank")
        .collect()
    ]
    assert out == [(2, 1), (3, 2), (4, 3)]  # cosine 0.994 > 0 > -1


def test_neardup_cosine_threshold(spark, emb):
    pairs = {
        (r["id_a"], r["id_b"]) for r in similarity.cosine_neardup_pairs(emb, threshold=0.9).collect()
    }
    assert pairs == {(1, 2)}


def test_topk_pandas_block_matches_column_form(spark):
    import math

    rows = [(0, [0.0] * 4)] + [  # zero vector exercises the norm guard
        (i, [float(i), 1.0, 0.5, -0.25]) for i in range(1, 6)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from flink_training_exercises_spark.operators.similarity import (
        topk_bruteforce,
        topk_bruteforce_pandas,
    )

    col_form = {
        (r["query_id"], r["neighbor_id"], r["rank"]): r["cosine"]
        for r in topk_bruteforce(emb, k=3).collect()
    }
    np_form = {
        (r["query_id"], r["neighbor_id"], r["rank"]): r["cosine"]
        for r in topk_bruteforce_pandas(emb, k=3).collect()
    }
    assert set(col_form) == set(np_form)
    for key, v in col_form.items():
        assert math.isclose(v, np_form[key], rel_tol=1e-6, abs_tol=1e-9), key


def test_topk_pandas_collects_only_queries(spark, monkeypatch):
    """The 100 TB shape: the driver may collect the (small) query subset,
    never the candidate corpus."""
    rows = [(i, [float(i % 7), 1.0, 0.5, -0.25]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # patch the CONCRETE DataFrame class (pyspark.sql.classic in Spark 4
    # overrides collect; patching the abstract base would never be hit)
    cls = type(emb)
    collected_sizes = []
    orig = cls.collect

    def spy(self):
        out = orig(self)
        collected_sizes.append(len(out))
        return out

    monkeypatch.setattr(cls, "collect", spy)
    df = similarity.topk_bruteforce_pandas(emb, k=3, query_filter=F.col("vec_id") % 10 == 0)
    # plan construction collected exactly the 4 query rows, nothing else
    assert collected_sizes == [4]
    monkeypatch.setattr(cls, "collect", orig)
    got = {r["query_id"] for r in df.collect()}
    assert got == {0, 10, 20, 30}


def test_neardup_lsh_subset_of_exact(spark):
    rows = [(i, [float((i * 13) % 11 - 5 + 0.1 * j) for j in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_neardup_pairs(emb, threshold=0.6).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_neardup_pairs_lsh(emb, threshold=0.6, dim=8).collect()
    }
    # every LSH pair is a true pair with the identical exact cosine...
    assert set(lsh) <= set(exact)
    for key, v in lsh.items():
        assert v == exact[key]
    # ...and identical vectors (same sign pattern in every band) are never missed
    dup = spark.createDataFrame(
        [(1, [0.5] * 8), (2, [0.5] * 8), (3, [-0.5] * 8)],
        "vec_id long, embedding array<float>",
    )
    found = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs_lsh(dup, threshold=0.9, dim=8).collect()
    }
    assert (1, 2) in found and (1, 3) not in found


def test_lsh_same_bucket_for_identical(spark):
    e = spark.createDataFrame(
        [(1, [0.5] * 64), (2, [0.5] * 64)], "vec_id long, embedding array<float>"
    )
    out = similarity.topk_lsh(e, k=1, dim=64).collect()
    # identical vectors share every hyperplane sign -> found as neighbors
    assert {(r["query_id"], r["neighbor_id"]) for r in out} == {(1, 2), (2, 1)}


def test_stratified_sample_rates_and_determinism(spark):
    from flink_training_exercises_spark.operators import sampling

    rows = [(i, "all" if i % 3 == 0 else ("none" if i % 3 == 1 else "some")) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.stratified_sample(
        df, rates_bp={"all": 10000, "none": 0}, default_bp=5000
    )
    got = [(r["doc_id"], r["source"]) for r in out.collect()]
    srcs = {s for _, s in got}
    assert "none" not in srcs
    assert sum(1 for _, s in got if s == "all") == 100  # full stratum kept
    some = sum(1 for _, s in got if s == "some")
    assert 20 <= some <= 80  # ~half of 100, hash-determined
    # pure function of the id: identical on re-run
    again = [(r["doc_id"], r["source"]) for r in out.collect()]
    assert sorted(got) == sorted(again)


def test_pack_sequences_bins(spark):
    from flink_training_exercises_spark.operators import sampling

    mk = lambda n: " ".join(["tok"] * n)  # noqa: E731
    rows = [
        (1, "s1", mk(3)),   # cum_before 0  -> bin 0
        (2, "s1", mk(4)),   # cum_before 3  -> bin 0
        (3, "s1", mk(2)),   # cum_before 7  -> bin 0 (straddles the boundary)
        (4, "s1", mk(20)),  # cum_before 9  -> bin 1 (oversized doc, own bins span)
        (5, "s1", mk(1)),   # cum_before 29 -> bin 3
        (6, "s2", mk(5)),   # separate shard restarts at bin 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        (r["shard"], r["bin_id"]): (r["n_docs"], r["total_tokens"], r["first_doc_id"], r["last_doc_id"])
        for r in sampling.pack_sequences(df, token_budget=8).collect()
    }
    assert out[("s1", 0)] == (3, 9, 1, 3)
    assert out[("s1", 1)] == (1, 20, 4, 4)
    assert out[("s1", 3)] == (1, 1, 5, 5)
    assert out[("s2", 0)] == (1, 5, 6, 6)
    assert len(out) == 4


def test_token_count(spark, docs):
    out = {r["doc_id"]: r for r in textstats.token_count(docs).collect()}
    assert out[1]["n_tokens"] == 9
    assert out[1]["n_alpha_tokens"] == 9
    assert out[5]["n_tokens"] == 9  # multi-space tolerant


def test_lang_id_markers(spark, docs):
    out = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(docs).collect()}
    assert out[1] == "en"  # 'the' x2, 'over'... en markers dominate
    assert out[4] == "de"  # der/ist/nicht/mit/und/das


def test_fingerprint_whitespace_invariant(spark, docs):
    out = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprint(docs).collect()}
    assert out[1] == out[5]  # normalization collapses case+whitespace
    assert out[1] != out[2]


def test_multimodal_decode_batch_shape(spark, docs):
    payloads = multimodal.attach_binary_payload(docs)
    assert dict(payloads.dtypes)["payload"] == "binary"
    decoded = multimodal.decode_media(payloads)
    rows = {r["doc_id"]: r for r in decoded.collect()}
    assert len(rows) == 5
    r1 = rows[1]
    n = len(DOCS[0][1].encode())
    assert r1["byte_len"] == n
    assert r1["width"] == 16 + n % 320
    assert 1 <= r1["n_frames"] <= 8
    frames = multimodal.frame_sample(decoded, every_n=1)
    assert frames.where("doc_id = 1").count() == r1["n_frames"]


def test_real_codec_path_raises(spark, docs):
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(
            multimodal.attach_binary_payload(docs), use_real_codec=True
        )


def test_repetition_metrics_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a b"),  # top unigram 3/4; bigrams [a a, a a, a b] -> 2/3; no 5-grams
            (2, "x y x y x y x y x y"),  # 6 5-grams, 2 distinct -> dup frac 4/6
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.repetition_metrics(docs).collect()}
    assert out[1]["n_words"] == 4
    assert out[1]["top_unigram_frac"] == 3 / 4
    assert out[1]["top_bigram_frac"] == 2 / 3
    assert out[1]["dup_5gram_frac"] == 0.0  # shorter than 5 words
    assert out[2]["dup_5gram_frac"] == 4 / 6


def test_contamination_counts(spark):
    # doc 0 is the benchmark (id % 50 == 0); bigram overlap hand-checked
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha beta zzz"),  # shares 'alpha beta' -> 1 of 2 grams
            (2, "qqq rrr"),  # no overlap -> 0 of 1
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in contamination.ngram_contamination(docs, n=2).collect()
    }
    assert set(out) == {1, 2}  # benchmark doc excluded from the corpus side
    assert (out[1]["n_grams"], out[1]["n_contaminated"]) == (2, 1)
    assert out[1]["contam_frac"] == 0.5
    assert (out[2]["n_grams"], out[2]["n_contaminated"]) == (1, 0)


def test_pii_scrub_redacts_emails_then_digits(spark):
    rows = spark.createDataFrame(
        [
            (1, "Contact john.doe99@example.com or call 555 1234"),
            (2, "no pii here at all"),
            (3, "Contact john.doe99@example.com or call 555 1234"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in pii.pii_scrub(rows, "id", "text").collect()}
    # email digits are consumed by the email redaction, not counted as ids
    assert (out[1]["n_emails"], out[1]["n_id_runs"]) == (1, 2)
    assert (out[2]["n_emails"], out[2]["n_id_runs"]) == (0, 0)
    assert out[1]["redacted_len"] == len("Contact <EMAIL> or call <NUM> <NUM>")
    assert out[1]["redacted_fp"] == out[3]["redacted_fp"]  # deterministic
    assert out[1]["redacted_fp"] != out[2]["redacted_fp"]


def test_mixture_expand_copy_counts(spark):
    from flink_training_exercises_spark.operators.sampling import mixture_expand

    docs = spark.createDataFrame(
        [(i, "wiki" if i < 40 else "junk") for i in range(80)],
        "doc_id long, source string",
    )
    out = mixture_expand(
        docs, weights_ce={"wiki": 250, "junk": 0}, default_ce=100
    ).collect()
    per_doc = {}
    for r in out:
        assert r["stratum"] == "wiki"  # junk (weight 0) never appears
        per_doc.setdefault(r["id"], []).append(r["copy_idx"])
    assert set(per_doc) == set(range(40))
    for doc, idxs in per_doc.items():
        # 2.5 epochs: every wiki doc 2 or 3 times, copy_idx dense from 0
        assert sorted(idxs) == list(range(len(idxs))) and len(idxs) in (2, 3)
    n3 = sum(1 for idxs in per_doc.values() if len(idxs) == 3)
    assert 0 < n3 < 40  # the fractional half is a strict, deterministic subset
    again = mixture_expand(
        docs, weights_ce={"wiki": 250, "junk": 0}, default_ce=100
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_shuffle_shard_dense_positions_and_determinism(spark):
    from flink_training_exercises_spark.operators.sampling import shuffle_shard

    docs = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    out = shuffle_shard(docs, n_shards=4).collect()
    assert len(out) == 300 and {r["shard_id"] for r in out} == {0, 1, 2, 3}
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))  # dense 0..n-1
    # within-shard order decorrelated from id order: shard 0's first few ids
    # should not simply be the smallest ids
    first = sorted(r["id"] for r in out if r["shard_id"] == 0 and r["pos"] < 5)
    all0 = sorted(r["id"] for r in out if r["shard_id"] == 0)
    assert first != all0[:5]
    again = shuffle_shard(docs, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_incremental_minhash_matches_directionality(spark):
    """With batch_bp splitting the DOCS ids, matches must pair a NEW id with
    a CORPUS id only (never corpus-corpus or new-new), and find the planted
    near-dup across the split."""
    from flink_training_exercises_spark.functions.hashing import md5_long

    docs = spark.createDataFrame(DOCS, DOC_SCHEMA)
    split = {
        r["doc_id"]: r["b"]
        for r in docs.select(
            "doc_id", (md5_long(F.col("doc_id").cast("string")) % 10000 < 5000).alias("b")
        ).collect()
    }
    new_ids = {i for i, b in split.items() if b}
    corpus_ids = set(split) - new_ids
    # docs 1, 2, 5 are mutual near-dups; the fixture split must separate at
    # least one such pair for the test to bite
    assert any(a in new_ids and b in corpus_ids or a in corpus_ids and b in new_ids
               for a, b in [(1, 2), (1, 5), (2, 5)])
    out = dedup.incremental_minhash_matches(docs, batch_bp=5000, threshold=0.2).collect()
    assert out, "planted cross-split near-dup not found"
    for r in out:
        assert r["new_id"] in new_ids and r["corpus_id"] in corpus_ids
        assert 0.0 < r["jaccard"] <= 1.0


def test_random_projection_shape_and_linearity(spark):
    """16 components per vector; doubling the input vector doubles every
    component (the projection is linear in the integer-scaled input)."""
    rows = [(1, [0.5] * 64), (2, [1.0] * 64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.random_projection(emb).collect()
    assert len(out) == 32
    by = {(r["vec_id"], r["dim"]): r["value"] for r in out}
    assert set(d for _, d in by) == set(range(16))
    for d in range(16):
        assert by[(2, d)] == 2 * by[(1, d)]


def test_bpe_pair_counts_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "aba aba ab", "en", "s1"), (2, "aba", "en", "s1")],
        DOC_SCHEMA,
    )
    out = {r["pair"]: r["weight"] for r in textstats.bpe_pair_counts(docs, min_weight=1).collect()}
    # 'aba' x3 contributes ab+ba each x3; 'ab' x1 contributes ab x1
    assert out == {"ab": 4, "ba": 3}


def test_extract_features_hand_computed(spark):
    docs = spark.createDataFrame([(1, "AAab", "en", "s1")], DOC_SCHEMA)
    out = {
        (r["doc_id"], r["bucket"]): r["cnt"]
        for r in multimodal.extract_features(
            multimodal.attach_binary_payload(docs)
        ).collect()
    }
    # 'A' = 0x41 -> bucket 4 (x2); 'a' = 0x61, 'b' = 0x62 -> bucket 6 (x2)
    assert out == {(1, 4): 2, (1, 6): 2}


def test_resize_media_shapes(spark):
    docs = spark.createDataFrame(
        [(1, "ab", "en", "s1"), (2, "x" * 5000, "en", "s1")], DOC_SCHEMA
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.resize_media(
            multimodal.attach_binary_payload(docs), target_w=8, target_h=4
        ).collect()
    }
    assert all((r["width"], r["height"]) == (8, 4) for r in out.values())
    assert len(bytes(out[1]["payload"])) == 32 == len(bytes(out[2]["payload"]))
    # short payload cycles deterministically; long payload truncates
    assert bytes(out[1]["payload"]) == (b"ab" * 16)
    assert bytes(out[2]["payload"]) == b"x" * 32


def test_multimodal_custom_id_col_respected(spark):
    """Non-default id_col must name the output column (ADVICE r3: the
    mapInPandas schemas used to hard-code 'doc_id')."""
    docs = spark.createDataFrame([(1, "AAab", "en", "s1")], DOC_SCHEMA)
    payloads = multimodal.attach_binary_payload(docs).withColumnRenamed(
        "doc_id", "media_id"
    )
    for df in (
        multimodal.decode_media(payloads, id_col="media_id"),
        multimodal.extract_features(payloads, id_col="media_id"),
        multimodal.resize_media(payloads, id_col="media_id"),
    ):
        assert df.columns[0] == "media_id"
        assert df.select("media_id").first()["media_id"] == 1


def test_resize_media_real_codec_gated(spark):
    docs = spark.createDataFrame([(1, "ab", "en", "s1")], DOC_SCHEMA)
    with pytest.raises(NotImplementedError):
        multimodal.resize_media(
            multimodal.attach_binary_payload(docs), use_real_codec=True
        )


def test_domain_cap_respects_cap_and_determinism(spark):
    from flink_training_exercises_spark.operators import sampling
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    capped = sampling.domain_cap(docs, cap=3)
    sizes = {r["source"]: r["n"] for r in capped.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes and all(n <= 3 for n in sizes.values())
    # deterministic: same ids both runs
    a = {r["doc_id"] for r in capped.collect()}
    b = {r["doc_id"] for r in sampling.domain_cap(docs, cap=3).collect()}
    assert a == b
    # under-cap domains keep everything
    totals = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for s, n in totals.items():
        assert sizes.get(s, 0) == min(n, 3)


def test_write_training_shards_layout(spark, tmp_path):
    """Physical shards agree with the logical shuffle_shard layout: same
    shard membership, same within-shard order (parquet row order preserved
    per shard directory)."""
    from flink_training_exercises_spark.operators import sampling
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    path = str(tmp_path / "shards")
    sampling.write_training_shards(docs, path, n_shards=4)
    logical = {
        (r["shard_id"], r["pos"]): r["id"]
        for r in sampling.shuffle_shard(docs, n_shards=4).collect()
    }
    import glob as globmod

    import pyarrow.parquet as pq

    physical = {}
    for d in globmod.glob(path + "/shard_id=*"):
        sid = int(d.rsplit("=", 1)[1])
        rows = []
        for f in sorted(globmod.glob(d + "/part-*.parquet")):
            rows.extend(pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist())
        for pos, doc in enumerate(rows):
            physical[(sid, pos)] = doc
    assert physical == logical


def test_lsh_recall_audit_matches_banding_curve(spark):
    """The recall audit's hits/exact must sit in the banding-curve ballpark
    for this corpus's [0.2, 0.3) similarity profile (1-(1-j^4)^8 is ~1.3%
    at j=0.2, ~5.2% at j=0.3) -- and every LSH pair in the sample must be a
    true >= threshold pair (precision 1.0: pairs are exact-verified)."""
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    row = dedup.minhash_lsh_recall(docs).first()
    assert row["n_exact"] > 0
    assert row["n_hits"] == row["n_lsh"]  # verified pairs are never false
    assert 0 <= row["n_hits"] / row["n_exact"] <= 0.2


# ---------------------------------------------------------------------------
# Indexing operators (round 4): inverted index, typicality, heavy hitters.
# ---------------------------------------------------------------------------


def test_inverted_index_hand_computed(spark):
    docs = spark.createDataFrame(
        [(3, "a b a", "en", "s1"), (1, "b c", "en", "s1"), (2, "b", "en", "s1")],
        DOC_SCHEMA,
    )
    rows = {r["token"]: r for r in indexing.inverted_index(docs, max_postings=2).collect()}
    assert rows["a"]["df"] == 1 and rows["a"]["postings"] == "3"
    assert rows["b"]["df"] == 3 and rows["b"]["postings"] == "1,2"  # capped at 2
    assert rows["c"]["df"] == 1 and rows["c"]["postings"] == "1"


def test_doc_typicality_hand_computed(spark):
    # bigram 'a b' appears in docs 1,2 (distinct per doc); min_count=2 keeps it
    docs = spark.createDataFrame(
        [(1, "a b c", "en", "s1"), (2, "a b", "en", "s1"), (3, "x", "en", "s1")],
        DOC_SCHEMA,
    )
    rows = {r["doc_id"]: r for r in indexing.doc_typicality(docs, min_count=2).collect()}
    # doc 1: bigrams {a b, b c}; 'a b' known with corpus cnt 2 -> freq_sum 2
    assert (rows[1]["n_bigrams"], rows[1]["n_known"], rows[1]["freq_sum"]) == (2, 1, 2)
    assert rows[1]["typicality_x1000"] == 1000  # floor(1000 * 2 / 2)
    assert (rows[2]["n_bigrams"], rows[2]["freq_sum"]) == (1, 2)
    assert 3 not in rows  # single-word doc has no bigrams on either engine


def test_frequent_tokens_topk_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "b b a c", "en", "s1"), (2, "a b", "en", "s1"), (3, "z z z", "de", "s1")],
        DOC_SCHEMA,
    )
    rows = [
        (r["grp"], r["token"], r["cnt"], r["rank"])
        for r in indexing.frequent_tokens_topk(docs, k=2)
        .orderBy("grp", "rank")
        .collect()
    ]
    # en: b x3, a x2 (c cut by k=2); ties would break by token asc
    assert rows == [("de", "z", 3, 1), ("en", "b", 3, 1), ("en", "a", 2, 2)]


def test_repeated_ngram_coverage_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b d"),
            (3, "x y z"),
            (4, "q"),  # shorter than n: no grams, no output row
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_repeated"], r["repeat_frac"])
        for r in dedup.repeated_ngram_coverage(docs, n=2).collect()
    }
    assert out == {
        1: (2, 1, 0.5),   # grams {a b, b c}; 'a b' shared with doc 2
        2: (2, 1, 0.5),
        3: (2, 0, 0.0),
    }


def test_bloom_semijoin_audit_reference_parity(spark):
    """Counts must match an independent pure-Python Bloom replay: same
    cells, same one-sided guarantee (no false negatives by construction)."""
    import hashlib

    from flink_training_exercises_spark.operators import bloom

    build_keys = list(range(0, 50))
    probe_keys = list(range(25, 150))
    build = spark.createDataFrame([(k,) for k in build_keys], "bk long")
    probe = spark.createDataFrame([(k,) for k in probe_keys], "pk long")
    row = bloom.bloom_semijoin_audit(build, probe, "bk", "pk", n_words=4).collect()[0]

    P = (1 << 31) - 1
    m_bits = 63 * 4

    def cells(k):
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        return [((a * (h % P) + b) % P) % m_bits for a, b in bloom._BLOOM_PARAMS]

    bits = set()
    for k in build_keys:
        bits.update(cells(k))
    cand = [k for k in probe_keys if all(c in bits for c in cells(k))]
    true = [k for k in probe_keys if k in set(build_keys)]
    assert row["n_probe_keys"] == len(probe_keys)
    assert row["n_candidates"] == len(cand)
    assert row["n_true"] == len(true)
    assert row["n_false_pos"] == len(cand) - len(true)
    # Bloom one-sidedness: every true member is a candidate
    assert set(true) <= set(cand)
    # with a deliberately tiny 252-bit filter and 50 keys, saturation makes
    # false positives near-certain -- the audit must therefore be counting
    # them, not silently reporting zero
    assert row["n_false_pos"] > 0


def test_merge_upsert_semantics(spark):
    from flink_training_exercises_spark.operators.cdc import merge_upsert

    schema = "k long, v string, seq long, is_delete boolean"
    snapshot = spark.createDataFrame(
        [(1, "old1", 10, False), (2, "old2", 10, False), (3, "old3", 10, False)],
        schema,
    )
    changes = spark.createDataFrame(
        [
            (1, "new1", 20, False),   # UPDATE wins by seq
            (2, "gone", 20, True),    # DELETE removes key 2
            (4, "ins4", 20, False),   # INSERT new key
            (3, "tie3", 10, False),   # exact seq tie: change beats snapshot
            (5, "a", 20, False),      # within-batch: later seq wins
            (5, "b", 30, False),
        ],
        schema,
    )
    got = {
        r["k"]: (r["v"], r["seq"])
        for r in merge_upsert(
            snapshot, changes, keys=["k"], seq_cols=["seq"]
        ).collect()
    }
    assert got == {1: ("new1", 20), 3: ("tie3", 10), 4: ("ins4", 20), 5: ("b", 30)}


def test_merge_upsert_stale_change_loses(spark):
    from flink_training_exercises_spark.operators.cdc import merge_upsert

    schema = "k long, v string, seq long, is_delete boolean"
    snapshot = spark.createDataFrame([(1, "cur", 50, False)], schema)
    changes = spark.createDataFrame([(1, "late-arriving-old", 40, True)], schema)
    got = merge_upsert(snapshot, changes, keys=["k"], seq_cols=["seq"]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, "cur")]


def test_vocab_oov_rate_hand_computed(spark):
    from flink_training_exercises_spark.operators.textstats import vocab_oov_rate

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "zyx qwv"),          # fully OOV under vocab_size=4
            (3, ""),                 # empty doc: NULL rate, keep=false
            (4, "the the the"),      # fully in-vocab
        ],
        "doc_id long, text string",
    )
    # vocab_size=4 -> top-4 by (count desc, token asc): the(5), cat/mat/on...
    # counts: the=5 cat=1 sat=1 on=1 mat=1 zyx=1 qwv=1 -> ties broken asc:
    # vocab = {the, cat, mat, on}
    out = {r["doc_id"]: r for r in vocab_oov_rate(docs, vocab_size=4, max_oov_rate=0.5).collect()}
    assert (out[1]["n_tokens"], out[1]["n_oov"]) == (6, 1)  # 'sat' OOV
    assert out[1]["keep"] is True
    assert (out[2]["n_tokens"], out[2]["n_oov"]) == (2, 2)
    assert out[2]["keep"] is False
    assert (out[3]["n_tokens"], out[3]["n_oov"]) == (0, 0)
    assert out[3]["oov_rate"] is None and out[3]["keep"] is False
    assert out[4]["n_oov"] == 0 and out[4]["keep"] is True


def test_gapfill_ffill_hand_computed(spark):
    from datetime import datetime

    from flink_training_exercises_spark.operators.timeseries import gapfill_ffill

    H = 3_600_000
    rows = [
        # user 1: obs in hour 0 (two -> latest wins), gap in hour 1-2, obs hour 3
        (1, datetime(2024, 1, 1, 0, 10), 1, 10.0),
        (1, datetime(2024, 1, 1, 0, 50), 2, 11.0),
        (1, datetime(2024, 1, 1, 3, 5), 3, 12.0),
        # user 2: single observation -> single-bucket grid
        (2, datetime(2024, 1, 1, 5, 0), 4, 99.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long, value double"
    )
    out = {
        (r["user_id"], r["bucket_ms"]): (r["value"], r["is_observed"])
        for r in gapfill_ffill(ev).collect()
    }
    base = 1704067200000  # 2024-01-01 00:00 naive epoch ms
    assert out[(1, base + 0 * H)] == (11.0, True)   # latest obs in bucket
    assert out[(1, base + 1 * H)] == (11.0, False)  # carried forward
    assert out[(1, base + 2 * H)] == (11.0, False)
    assert out[(1, base + 3 * H)] == (12.0, True)
    assert out[(2, base + 5 * H)] == (99.0, True)
    assert len(out) == 5  # no buckets outside each key's own span


def test_editdistance_pairs_blocking_and_threshold(spark):
    from flink_training_exercises_spark.operators.dedup import editdistance_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox", "en", "s1"),
            (2, "the quick brown fux", "en", "s1"),   # dist 1, same block
            (3, "the quick brown fox", "en", "s2"),   # identical but other block
            (4, "completely different header text!!", "en", "s1"),  # far
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in editdistance_pairs(docs, max_dist=5).collect()
    }
    assert got == {(1, 2): 1}


def test_dedup_keep_best_invariants(spark, sf_small):
    from flink_training_exercises_spark.plans.catalog import CATALOG

    rows = CATALOG["dedup_keep_best"].spark(spark, sf_small).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        kept = [m for m in members if m["kept"]]
        assert len(kept) == 1, f"cluster {cid}: {len(kept)} kept"
        best = min(members, key=lambda m: (-m["quality_score"], m["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"]
        assert all(m["cluster_size"] == len(members) for m in members)
    # singletons dominate; clustered docs exist on this corpus
    assert any(len(m) > 1 for m in by_cluster.values())


def test_bpe_train_merges_hand_computed(spark):
    from flink_training_exercises_spark.operators.textstats import bpe_train_merges

    # vocab: "abab" x3, "ab" x2, "cd" x4  (lowercase alpha only)
    docs = spark.createDataFrame(
        [(1, "abab abab abab ab ab cd cd cd cd")],
        "doc_id long, text string",
    )
    got = [tuple(r) for r in bpe_train_merges(docs, n_merges=3).collect()]
    # round 1 pairs: (a,b)x2 per abab x3 + (b,a)x1 per abab x3 + (a,b) x2
    #   + (c,d) x4 -> argmax (a,b)=8
    # round 2: abab -> [ab, ab] x3, ab -> [ab] x2; pairs: (ab,ab)x3, (c,d)x4
    #   -> argmax (c,d)=4
    # round 3: remaining pairs: (ab,ab)x3 -> argmax (ab,ab)=3 (greedy
    #   left-to-right merged both 'ab's in round 2, one adjacent pair left)
    assert got == [
        (1, "a", "b", "ab", 8),
        (2, "c", "d", "cd", 4),
        (3, "ab", "ab", "abab", 3),
    ]


def test_bpe_merge_is_greedy_left_to_right(spark):
    from flink_training_exercises_spark.operators.textstats import bpe_train_merges

    # "aaa": round-1 pairs (a,a)x2 -> merge (a,a); greedy l-to-r leaves
    # [aa, a], so round 2's best is (aa, a), weight 1
    docs = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    got = [tuple(r) for r in bpe_train_merges(docs, n_merges=2).collect()]
    # single deterministic outcome: greedy left-to-right replace makes the
    # round-2 corpus exactly [aa, a], so the (aa, a) ordering is THE answer;
    # accepting (a, aa) too would let a Spark/DuckDB disagreement pass here
    # and fail only at the gate (ADVICE r4)
    assert got == [(1, "a", "a", "aa", 2), (2, "aa", "a", "aaa", 1)]


def test_value_histogram_bins_exact(spark):
    from flink_training_exercises_spark.plans.catalog import CATALOG

    rows = CATALOG["value_histogram"].spark(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, bins in by_type.items():
        assert all(0 <= r["bin"] <= 19 for r in bins)
        mn, mx = bins[0]["mn_cents"], bins[0]["mx_cents"]
        assert all((r["mn_cents"], r["mx_cents"]) == (mn, mx) for r in bins)
        assert sum(r["n"] for r in bins) > 0


def test_gapfill_custom_step_quarter_hour(spark):
    from datetime import datetime

    from flink_training_exercises_spark.operators.timeseries import gapfill_ffill

    Q = 900_000  # 15 min
    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 7), 1, 5.0), (1, datetime(2024, 1, 1, 0, 50), 2, 6.0)],
        "user_id long, ts timestamp_ntz, event_id long, value double",
    )
    rows = sorted(
        gapfill_ffill(ev, step_ms=Q).collect(), key=lambda r: r["bucket_ms"]
    )
    # buckets: 00:00 (obs 5.0), 00:15, 00:30 (filled), 00:45 (obs 6.0)
    assert [r["is_observed"] for r in rows] == [True, False, False, True]
    assert [r["value"] for r in rows] == [5.0, 5.0, 5.0, 6.0]


def test_merge_upsert_composite_key(spark):
    from flink_training_exercises_spark.operators.cdc import merge_upsert

    schema = "k1 long, k2 string, v string, seq long, is_delete boolean"
    snap = spark.createDataFrame([(1, "x", "old", 10, False)], schema)
    chg = spark.createDataFrame(
        [(1, "x", "new", 20, False), (1, "y", "other-key", 20, False)], schema
    )
    got = {
        (r["k1"], r["k2"]): r["v"]
        for r in merge_upsert(snap, chg, keys=["k1", "k2"], seq_cols=["seq"]).collect()
    }
    assert got == {(1, "x"): "new", (1, "y"): "other-key"}


def test_sssp_respects_edge_direction(spark):
    from flink_training_exercises_spark.operators import graph

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {
        r["node"]: r["hops"] for r in graph.sssp_hops(edges, source=3, max_hops=5).collect()
    }
    # no outgoing edges from 3: only the source itself
    assert got == {3: 0}


def test_vocab_oov_full_coverage_when_vocab_is_large(spark):
    from flink_training_exercises_spark.operators.textstats import vocab_oov_rate

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta beta")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in vocab_oov_rate(docs, vocab_size=100).collect()}
    assert all(r["n_oov"] == 0 and r["keep"] for r in out.values())


def test_shuffle_shard_extra_cols_passthrough(spark):
    """extra_cols must ride through the shard layout without changing
    shard assignment or within-shard order (they are not part of the
    shard or sort keys)."""
    from flink_training_exercises_spark.operators.sampling import shuffle_shard

    docs = spark.range(20).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("grp")
    )
    base = {(r.shard_id, r.pos, r.id) for r in shuffle_shard(docs).collect()}
    ext = shuffle_shard(docs, extra_cols=["grp"]).collect()
    assert {(r.shard_id, r.pos, r.id) for r in ext} == base
    assert all(r.grp == r.id % 3 for r in ext)


def test_incremental_roundtrip_composition_invariants(spark, sf_small):
    """The composed ingest round-trip must agree with its stages run
    individually: standing docs all present as 'standing', batch docs
    present as 'ingested' iff they had NO near-dup match against the
    corpus, matched batch docs absent, and per-shard positions dense
    0..n-1."""
    from collections import defaultdict

    from flink_training_exercises_spark.functions.hashing import md5_long
    from flink_training_exercises_spark.operators import dedup
    from flink_training_exercises_spark.plans.catalog import CATALOG
    from flink_training_exercises_spark.sources import load_table

    out = CATALOG["incremental_corpus_roundtrip"].spark(spark, sf_small).collect()
    docs = load_table(spark, "documents", sf_small)
    is_new = md5_long(F.col("doc_id").cast("string")) % 10000 < 2000
    standing_ids = {r.doc_id for r in docs.where(~is_new).select("doc_id").collect()}
    batch_ids = {r.doc_id for r in docs.where(is_new).select("doc_id").collect()}
    matched = {
        r.new_id
        for r in dedup.incremental_minhash_matches(docs)
        .select("new_id")
        .distinct()
        .collect()
    }
    statuses = {r.doc_id: r.status for r in out}
    assert {d for d, v in statuses.items() if v == "standing"} == standing_ids
    assert {d for d, v in statuses.items() if v == "ingested"} == batch_ids - matched
    assert not (matched & set(statuses))
    shards = defaultdict(list)
    for r in out:
        shards[r.shard_id].append(r.pos)
    assert all(sorted(v) == list(range(len(v))) for v in shards.values())


def test_bpe_encode_hand_computed(spark):
    """Encode replays the learned merges in rank order, vocab-bounded.
    Corpus 'abab ab cd': round 1 merges (a,b) w=3; round 2 tiebreak picks
    (ab,ab) over (c,d) ('ab' < 'c'). Encoded: abab->1 token, ab->1,
    cd->2."""
    from flink_training_exercises_spark.operators.textstats import bpe_encode

    docs = spark.createDataFrame([(1, "abab ab cd")], "doc_id long, text string")
    got = bpe_encode(docs, n_merges=2).collect()
    assert [tuple(r) for r in got] == [(1, 3, 8, 4)]


def test_bpe_encode_oracle_handles_fewer_merges_than_requested(spark, tmp_path):
    """Corpus with only ONE mergeable pair ('ab'): the Spark trainer breaks
    early and encode replays one merge (n_tokens=1); the oracle's unrolled
    enc2/enc3 rounds see NULL scalar subqueries for the missing ranks and
    must replay as identity (the '0'-sentinel COALESCE), not NULL the
    symbol column (round-5 review finding, verified divergence)."""
    import duckdb

    from flink_training_exercises_spark.operators.textstats import (
        bpe_encode,
        bpe_encode_sql,
    )

    docs = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    got = [tuple(r) for r in bpe_encode(docs, n_merges=3).collect()]
    assert got == [(1, 1, 2, 1)]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT 1 AS doc_id, 'ab' AS text")
    assert con.execute(bpe_encode_sql(n_merges=3)).fetchall() == [(1, 1, 2, 1)]


def test_gopher_quality_flags_hand_computed(spark):
    from flink_training_exercises_spark.operators.textstats import gopher_quality_flags

    passing = "the and with of " + " ".join(["data"] * 56)  # 60 words
    docs = spark.createDataFrame(
        [
            # 10 words, sum_len 29 -> mean < 3 fails, word count fails,
            # 4 distinct Gopher stopwords (the/and/with/of)
            (1, "the cat and the dog with a bone of joy"),
            # 60 words, sum_len 236: every rule passes
            (2, passing),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    r1 = out[1]
    assert (r1["n_words"], r1["sum_word_chars"]) == (10, 29)
    assert r1["n_stop_distinct"] == 4 and r1["n_alpha_words"] == 10
    assert (r1["flag_word_count"], r1["flag_mean_word_len"]) == (0, 0)
    assert (r1["flag_alpha_frac"], r1["flag_stopwords"]) == (1, 1)
    assert r1["passes_gopher"] == 0
    r2 = out[2]
    assert (r2["n_words"], r2["sum_word_chars"]) == (60, 236)
    assert (
        r2["flag_word_count"],
        r2["flag_mean_word_len"],
        r2["flag_alpha_frac"],
        r2["flag_stopwords"],
        r2["passes_gopher"],
    ) == (1, 1, 1, 1, 1)


def test_segment_dedup_keepfirst_hand_computed(spark):
    from flink_training_exercises_spark.operators.dedup import segment_dedup_keepfirst

    docs = spark.createDataFrame(
        [
            # segments: [a b c][a b c][d] -- second is a within-doc dup
            (1, "a b c a b c d"),
            # [a b c] duplicates doc 1's first segment; [x y z] is novel
            (2, "a b c x y z"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in segment_dedup_keepfirst(docs).collect()}
    assert (out[1]["n_segments"], out[1]["n_kept_segments"]) == (3, 2)
    assert (out[1]["n_words_total"], out[1]["n_words_kept"]) == (7, 4)
    assert (out[2]["n_segments"], out[2]["n_kept_segments"]) == (2, 1)
    assert (out[2]["n_words_total"], out[2]["n_words_kept"]) == (6, 3)


def test_chunk_sliding_windows_hand_computed(spark):
    from flink_training_exercises_spark.operators.textstats import chunk_sliding_windows

    ten = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, ten), (2, ten), (3, "a b c")], "doc_id long, text string"
    )
    rows = chunk_sliding_windows(docs, width=4, stride=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["start_token"] for r in c1] == [1, 4, 7]
    assert [r["n_tokens"] for r in c1] == [4, 4, 4]
    # identical text -> identical chunk hashes (the dedup/index join key)
    c2 = sorted(by_doc[2], key=lambda r: r["chunk_idx"])
    assert [r["chunk_hash"] for r in c1] == [r["chunk_hash"] for r in c2]
    # short doc: single tail chunk
    assert [(r["start_token"], r["n_tokens"]) for r in by_doc[3]] == [(1, 3)]


def test_event_transitions_hand_computed(spark):
    from datetime import datetime

    from flink_training_exercises_spark.operators.sessions import event_transitions

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    events = spark.createDataFrame(
        [
            (1, t(1), 1, "A", 0.0),
            (2, t(2), 1, "B", 0.0),
            (3, t(3), 1, "A", 0.0),
            (4, t(1), 2, "A", 0.0),
            (5, t(2), 2, "B", 0.0),
            # user 3: same timestamp -- event_id breaks the tie: X then Y
            (6, t(5), 3, "X", 0.0),
            (7, t(5), 3, "Y", 0.0),
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )
    out = {
        (r["prev_type"], r["next_type"]): r
        for r in event_transitions(events).collect()
    }
    assert set(out) == {("A", "B"), ("B", "A"), ("X", "Y")}
    assert (out[("A", "B")]["n_transitions"], out[("A", "B")]["n_users"]) == (2, 2)
    assert (out[("B", "A")]["n_transitions"], out[("B", "A")]["n_users"]) == (1, 1)
    assert out[("A", "B")]["p_next"] == 1.0 and out[("X", "Y")]["p_next"] == 1.0


def test_rolling_zscore_hand_computed(spark):
    from datetime import datetime

    from flink_training_exercises_spark.operators.timeseries import (
        rolling_zscore_anomalies,
    )

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [(i, t(i), 1, "v", 1.0) for i in range(1, 11)]  # flat baseline
    rows.append((11, t(11), 1, "v", 50.0))  # spike: zero-variance baseline
    rows.append((12, t(12), 1, "v", 1.0))  # normal again (spike in baseline)
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )
    out = {r["event_id"]: r for r in rolling_zscore_anomalies(events).collect()}
    # events 1-10 never reach ZSCORE_MIN_N=10 baseline rows -> never flagged
    assert all(out[i]["is_anomaly"] == 0 for i in range(1, 11))
    assert out[10]["n_baseline"] == 9
    # event 11: n=10, s=1000, ss=100000 -> zero variance, x=5000 -> flagged
    assert (out[11]["n_baseline"], out[11]["cents"], out[11]["is_anomaly"]) == (
        10,
        5000,
        1,
    )
    # event 12: baseline now CONTAINS the spike -> huge variance -> not flagged
    assert (out[12]["n_baseline"], out[12]["is_anomaly"]) == (11, 0)


def test_segment_dedup_properties_random_corpus(spark):
    """Corpus-level invariants on a random corpus: total kept segments ==
    number of DISTINCT segments, token totals are preserved, and a doc's
    kept counts never exceed its totals."""
    import random

    from flink_training_exercises_spark.operators.dedup import (
        SEGMENT_WORDS,
        segment_dedup_keepfirst,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(6)]  # tiny vocab -> many dup segments
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))))
        for i in range(40)
    ]
    out = segment_dedup_keepfirst(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).collect()

    distinct_segments = set()
    totals = {}
    for doc_id, text in docs:
        ws = text.split()
        segs = [
            " ".join(ws[k * SEGMENT_WORDS : (k + 1) * SEGMENT_WORDS])
            for k in range((len(ws) - 1) // SEGMENT_WORDS + 1)
        ]
        distinct_segments.update(segs)
        totals[doc_id] = (len(segs), len(ws))
    assert sum(r["n_kept_segments"] for r in out) == len(distinct_segments)
    for r in out:
        n_segs, n_words = totals[r["doc_id"]]
        assert r["n_segments"] == n_segs and r["n_words_total"] == n_words
        assert 0 <= r["n_kept_segments"] <= r["n_segments"]
        assert 0 <= r["n_words_kept"] <= r["n_words_total"]


def test_chunk_windows_cover_every_token(spark):
    """Every token of every doc lands in >= 1 chunk; chunk starts follow the
    stride grid; per-doc chunk count matches the closed-form formula."""
    import random

    from flink_training_exercises_spark.operators.textstats import (
        chunk_sliding_windows,
    )

    rng = random.Random(11)
    docs = [
        (i, " ".join(f"t{j}" for j in range(rng.randint(1, 90))))
        for i in range(30)
    ]
    width, stride = 8, 5
    rows = chunk_sliding_windows(
        spark.createDataFrame(docs, "doc_id long, text string"),
        width=width,
        stride=stride,
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in docs:
        n = len(text.split())
        expect_chunks = 1 if n <= width else (n - width + stride - 1) // stride + 1
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        assert len(chunks) == expect_chunks
        covered = set()
        for r in chunks:
            assert r["start_token"] == r["chunk_idx"] * stride + 1
            covered.update(range(r["start_token"], r["start_token"] + r["n_tokens"]))
        assert covered == set(range(1, n + 1))


def test_event_transitions_probabilities_sum_to_one(spark):
    """On a random event log: transition counts reconstruct from a Python
    replay, and P(next|prev) sums to 1 for every prev state."""
    import random
    from collections import Counter
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.sessions import event_transitions

    rng = random.Random(13)
    t0 = datetime(2024, 3, 1)
    rows = [
        (i, t0 + timedelta(seconds=rng.randint(0, 500)), rng.randint(1, 12),
         rng.choice("ABCD"), 0.0)
        for i in range(400)
    ]
    out = event_transitions(
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
        )
    ).collect()

    expected = Counter()
    by_user = {}
    for eid, ts, uid, et, _ in rows:
        by_user.setdefault(uid, []).append((ts, eid, et))
    for uid, seq in by_user.items():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            expected[(a, b)] += 1
    got = {(r["prev_type"], r["next_type"]): r["n_transitions"] for r in out}
    assert got == dict(expected)
    by_prev = {}
    for r in out:
        by_prev.setdefault(r["prev_type"], []).append(r["p_next"])
    for prev, ps in by_prev.items():
        assert abs(sum(ps) - 1.0) < 1e-9, prev


def test_rolling_zscore_matches_integer_reference(spark):
    """Exact replay of the integer-cents window math in plain Python on a
    random series must agree row for row (the operator's claim is bit
    parity, so the test asserts equality, not tolerance)."""
    import math
    import random
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        ZSCORE_LOOKBACK,
        ZSCORE_MIN_N,
        rolling_zscore_anomalies,
    )

    rng = random.Random(17)
    t0 = datetime(2024, 3, 1)
    rows = []
    eid = 0
    for uid in range(1, 5):
        for k in range(60):
            eid += 1
            v = rng.uniform(0.0, 50.0) if rng.random() > 0.05 else rng.uniform(200.0, 400.0)
            rows.append((eid, t0 + timedelta(seconds=k), uid, "v", round(v, 4)))
    out = {
        r["event_id"]: r
        for r in rolling_zscore_anomalies(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
            )
        ).collect()
    }
    series = {}
    for eid2, ts, uid, _, v in rows:
        series.setdefault(uid, []).append((ts, eid2, v))
    for uid, seq in series.items():
        seq.sort()
        cents_seq = [math.floor(v * 1e2 + 0.5) for _, _, v in seq]
        for i, (_, eid2, _) in enumerate(seq):
            base = cents_seq[max(0, i - ZSCORE_LOOKBACK) : i]
            n, x = len(base), cents_seq[i]
            s, ss = sum(base), sum(c * c for c in base)
            flag = int(
                n >= ZSCORE_MIN_N
                and (n * x - s) ** 2 * (n - 1) > 9 * n * (n * ss - s * s)
            )
            r = out[eid2]
            assert (r["cents"], r["n_baseline"], r["is_anomaly"]) == (x, n, flag)


def test_chunk_windows_reject_gapping_stride(spark):
    from flink_training_exercises_spark.operators.textstats import (
        chunk_sliding_windows,
        chunk_sliding_windows_sql,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride"):
        chunk_sliding_windows(docs, width=4, stride=6)
    with pytest.raises(ValueError, match="stride"):
        chunk_sliding_windows_sql(width=4, stride=6)


def test_value_hour_correlation_matches_closed_form(spark):
    """The operator's claim is bit determinism of the closed form over
    exact integer sums -- replay the identical expression in Python IEEE
    doubles and assert EXACT equality (and sanity vs numpy within 1e-12)."""
    import math
    import random
    from datetime import datetime, timedelta

    import numpy as np

    from flink_training_exercises_spark.operators.timeseries import (
        value_hour_correlation,
    )

    rng = random.Random(23)
    t0 = datetime(2024, 3, 1)
    rows = [
        (
            i,
            t0 + timedelta(minutes=rng.randint(0, 60 * 24 * 10)),
            rng.randint(1, 5),
            rng.choice(["A", "B"]),
            round(rng.uniform(0.0, 300.0), 4),
        )
        for i in range(500)
    ]
    out = {
        r["event_type"]: r
        for r in value_hour_correlation(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
            )
        ).collect()
    }
    for et in ("A", "B"):
        xs, ys = [], []
        for _, ts, _, t, v in rows:
            if t == et:
                xs.append(math.floor(v * 1e2 + 0.5))
                ys.append(
                    (int((ts - datetime(1970, 1, 1)).total_seconds() * 1000) % 86400000)
                    // 3600000
                )
        n = float(len(xs))
        sx, sy = float(sum(xs)), float(sum(ys))
        sxx = float(sum(x * x for x in xs))
        syy = float(sum(y * y for y in ys))
        sxy = float(sum(x * y for x, y in zip(xs, ys)))
        prod = (n * sxx - sx * sx) * (n * syy - sy * sy)
        want = (n * sxy - sx * sy) / math.sqrt(prod)
        assert out[et]["pearson_r"] == want  # bit-exact, not approximate
        assert abs(want - np.corrcoef(xs, ys)[0, 1]) < 1e-12
        assert out[et]["n"] == len(xs) and out[et]["sum_cents"] == sum(xs)


def test_snapshot_diff_statuses_match_residue_rules(spark, sf_small):
    """The diff classification must equal the status derivable from the
    doc_id residues alone: removed = only-in-A (id % 7 == 0, % 10 != 0),
    added = only-in-B (id % 10 == 0, % 7 != 0), changed = in both with the
    ' v2' mutation (id % 13 == 0); everything else is unchanged and absent."""
    from flink_training_exercises_spark.plans.catalog import CATALOG
    from flink_training_exercises_spark.sources import load_table

    ids = [
        r["doc_id"] for r in load_table(spark, "documents", sf_small).select("doc_id").collect()
    ]
    expected = {}
    for i in ids:
        in_a, in_b = i % 10 != 0, i % 7 != 0
        if in_a and not in_b:
            expected[i] = "removed"
        elif in_b and not in_a:
            expected[i] = "added"
        elif in_a and in_b and i % 13 == 0:
            expected[i] = "changed"
    got = {
        r["doc_id"]: r["status"]
        for r in CATALOG["snapshot_diff_documents"].spark(spark, sf_small).collect()
    }
    assert got == expected
    for r in CATALOG["snapshot_diff_documents"].spark(spark, sf_small).collect():
        if r["status"] == "added":
            assert r["old_hash"] is None and r["new_hash"] is not None
        elif r["status"] == "removed":
            assert r["old_hash"] is not None and r["new_hash"] is None
        else:
            assert r["old_hash"] != r["new_hash"]


def test_bm25_topk_hand_computed(spark):
    # 3 docs, one query ("quick", "dog"); expected scores computed with the
    # operator's exact rational formula in plain Python floats (identical
    # IEEE expression tree: idf = (2N-2df+1)/(2df+1), tfn = 22*T*tf /
    # (10*T*tf + 3*T + 9*dl*N), score = s1 + s2)
    rows = [
        (1, "quick dog quick", "en", "s"),
        (2, "quick cat", "en", "s"),
        (3, "slow turtle here", "en", "s"),
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["n_matched"], r["score_x1e6"])
        for r in indexing.bm25_topk(
            docs, queries=[("q1", "quick", "dog")], k=10
        ).collect()
    }
    N, T = 3, 8  # 3 docs, 8 tokens total
    import math

    def s(tf, dl, df):
        return ((2 * N - 2 * df + 1) / (2 * df + 1)) * (
            (22 * T * tf) / (10 * T * tf + 3 * T + 9 * dl * N)
        )

    d1 = s(2, 3, 2) + s(1, 3, 1)   # quick tf=2 df=2; dog tf=1 df=1
    d2 = s(1, 2, 2)                # quick only
    exp = {
        ("q1", 1): (1, 2, math.floor(d1 * 1e6)),
        ("q1", 2): (2, 1, math.floor(d2 * 1e6)),
    }
    assert got == exp


def test_collocation_pmi_hand_computed(spark):
    # corpus: "a b" x5, "a c" x5, unigrams a=10 b=5 c=5, bigrams B=10, N=20.
    # pmi ratio for (a,b): (5*20/10) * (20/10) / 5 = 4.0 -> 4000; same (a,c).
    rows = [(i, "a b" if i % 2 == 0 else "a c", "en", "s") for i in range(10)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    got = [
        (r["rank"], r["w1"], r["w2"], r["pair_count"], r["pmi_x1e3"])
        for r in indexing.collocation_pmi_topk(docs, k=10, min_count=5).collect()
    ]
    assert got == [(1, "a", "b", 5, 4000), (2, "a", "c", 5, 4000)]


def test_collocation_pmi_min_count_filters(spark):
    # a single "x y" occurrence never reaches the ranking at min_count=5
    rows = [(1, "x y", "en", "s")] + [
        (i, "a b", "en", "s") for i in range(2, 8)
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    got = {(r["w1"], r["w2"]) for r in
           indexing.collocation_pmi_topk(docs, k=10, min_count=5).collect()}
    assert got == {("a", "b")}


def test_sorted_neighborhood_hand_computed(spark):
    # keys sort as: "aaaa x", "aaaa y", "aaab z", "zzzz q" (blocks "aaaa",
    # "aaab", "zzzz" under block_len=4): within-block adjacency only --
    # (1,2) compared (dist 1), 3 and 4 are alone in their blocks
    rows = [
        (1, "aaaa x", "en", "s"),
        (2, "aaaa y", "en", "s"),
        (3, "aaab z", "en", "s"),
        (4, "zzzz q", "en", "s"),
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in dedup.sorted_neighborhood_pairs(
            docs, block_len=4, window=2, max_dist=3
        ).collect()
    }
    assert got == {(1, 2, 1)}


def test_sorted_neighborhood_window_reaches_past_one(spark):
    # three near-identical keys in one block: window=2 must also yield the
    # (first, third) pair that window=1 misses
    rows = [
        (1, "aaaa 1", "en", "s"),
        (2, "aaaa 2", "en", "s"),
        (3, "aaaa 3", "en", "s"),
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    w1 = {
        (r["id_a"], r["id_b"])
        for r in dedup.sorted_neighborhood_pairs(
            docs, block_len=4, window=1, max_dist=3
        ).collect()
    }
    w2 = {
        (r["id_a"], r["id_b"])
        for r in dedup.sorted_neighborhood_pairs(
            docs, block_len=4, window=2, max_dist=3
        ).collect()
    }
    assert w1 == {(1, 2), (2, 3)}
    assert w2 == {(1, 2), (2, 3), (1, 3)}


def test_prefix_filter_jaccard_hand_computed(spark):
    # word-3-gram sets of "a b c d e f": {abc, bcd, cde, def} (4 grams).
    # doc1 == doc2 (J=1); doc3 swaps the last word (inter 3 / union 5 ->
    # J=0.6); doc4 shares nothing. At the default t=1/2 the 0.6 pairs
    # qualify; at t=4/5 only the identical pair survives.
    rows = [
        (1, "a b c d e f", "en", "s"),
        (2, "a b c d e f", "en", "s"),
        (3, "a b c d e X", "en", "s"),
        (4, "z z z z z z", "en", "s"),
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    loose = {
        tuple(r) for r in dedup.prefix_filter_jaccard_pairs(docs).collect()
    }
    assert loose == {(1, 2, 4, 4), (1, 3, 3, 5), (2, 3, 3, 5)}
    strict = {
        tuple(r)
        for r in dedup.prefix_filter_jaccard_pairs(
            docs, threshold_num=4, threshold_den=5
        ).collect()
    }
    assert strict == {(1, 2, 4, 4)}


def test_prefix_filter_jaccard_equals_bruteforce(spark, sf_small):
    # the exactness contract: the prefix-filtered join IS the all-pairs
    # exact Jaccard join (no false negatives from the filter, none from
    # the length filter), verified against a literal crossJoin on the
    # real documents table
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(words) - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
        )
    )
    hs = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.transform(grams, dedup._md5_long_c)).alias("hs"),
    )
    a = hs.select(F.col("id").alias("id_a"), F.col("hs").alias("ha"))
    b = hs.select(F.col("id").alias("id_b"), F.col("hs").alias("hb"))
    bf = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ha", "hb")).cast("bigint").alias("inter"),
            (F.size("ha") + F.size("hb")).cast("bigint").alias("tot"),
        )
        # J >= 1/2  <=>  3*inter >= tot
        .where(3 * F.col("inter") >= F.col("tot"))
        .select(
            "id_a",
            "id_b",
            F.col("inter").alias("inter_size"),
            (F.col("tot") - F.col("inter")).alias("union_size"),
        )
    )
    want = {tuple(r) for r in bf.collect()}
    got = {tuple(r) for r in dedup.prefix_filter_jaccard_pairs(docs).collect()}
    assert got == want and got


def test_prefix_filter_jaccard_superset_of_shard_scoped(spark, sf_small):
    # same gram space, same threshold, no partition confinement: the
    # full-corpus exact join must contain every pair the shard-scoped
    # quadratic ngram_jaccard_pairs finds within `source`
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    confined = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.prefix_filter_jaccard_pairs(docs).collect()
    }
    assert confined and confined <= full


def test_kanonymity_profile_hand_computed(spark):
    from flink_training_exercises_spark.operators import pii

    # (lang, source, len_bucket) classes: ('en','s',0) holds docs 1-3
    # with TWO distinct texts (k=3, l=2, safe at k_risk=3); ('fr','s',1)
    # holds doc 4 alone (k=1, l=1, at risk)
    rows = [
        (1, "aaa", "en", "s", 10),
        (2, "aaa", "en", "s", 20),
        (3, "bbb", "en", "s", 30),
        (4, "ccc", "fr", "s", 150),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        (r["lang"], r["source"], r["len_bucket"]): (
            r["class_size"],
            r["l_diversity"],
            r["at_risk"],
        )
        for r in pii.kanonymity_profile(docs, k_risk=3).collect()
    }
    assert got == {
        ("en", "s", 0): (3, 2, 0),
        ("fr", "s", 1): (1, 1, 1),
    }


def test_t_closeness_audit_hand_computed(spark):
    from flink_training_exercises_spark.operators import pii

    # Buckets (width 100): bin0 = n_chars < 100, bin1 = 100..199.
    # Class A: all 4 docs in bin0; class B: all 4 in bin1; class C: 2+2,
    # exactly the global 50/50 shape. N=12, m=2, g_cum = (6, 12).
    # A: |12*4 - 4*6| = 24 at bin0, 0 at bin1 -> num 24, den 4*12*1=48,
    # t = 0.5 > 3/20 -> at risk. B symmetric. C: |12*2 - 4*6| = 0 -> t=0.
    rows = (
        [(i, "x", "en", "sA", 10) for i in range(4)]
        + [(10 + i, "x", "en", "sB", 150) for i in range(4)]
        + [(20, "x", "en", "sC", 10), (21, "x", "en", "sC", 20),
           (22, "x", "en", "sC", 150), (23, "x", "en", "sC", 160)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        (r["lang"], r["source"]): (
            r["class_size"], r["emd_num"], r["emd_den"], r["t_risk"]
        )
        for r in pii.t_closeness_audit(docs).collect()
    }
    assert got == {
        ("en", "sA"): (4, 24, 48, 1),
        ("en", "sB"): (4, 24, 48, 1),
        ("en", "sC"): (4, 0, 48, 0),
    }


def test_t_closeness_audit_single_bin_degenerate(spark):
    """All docs in one bucket: m=1 makes den = 0 and num = 0 (the last
    bin's term is structurally zero) -- no division anywhere, flag 0."""
    from flink_training_exercises_spark.operators import pii

    docs = spark.createDataFrame(
        [(1, "x", "en", "s", 10), (2, "x", "en", "s", 20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    [r] = pii.t_closeness_audit(docs).collect()
    assert (r["emd_num"], r["emd_den"], r["t_risk"]) == (0, 0, 0)


def test_heaps_vocab_growth_hand_computed(spark):
    from flink_training_exercises_spark.operators import textstats

    # 5 checkpoints over doc_ids 1..5 (max_id=5 -> q = id exactly).
    # firsts: a@1 b@1 c@2 d@4 e@5 -> vocab_cum 2,3,3,4,5
    rows = [
        (1, "a b", "en", "s", 3),
        (2, "b c", "en", "s", 3),
        (3, "a", "en", "s", 1),
        (4, "d d", "en", "s", 3),
        (5, "e", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = [
        tuple(r)
        for r in textstats.heaps_vocab_growth(docs, n_checkpoints=5)
        .orderBy("checkpoint")
        .collect()
    ]
    assert got == [
        (1, 1, 2, 2),
        (2, 2, 4, 3),
        (3, 3, 5, 3),
        (4, 4, 7, 4),
        (5, 5, 8, 5),
    ]


def test_heaps_vocab_growth_conservation_and_id_zero(spark):
    """doc_id 0 clamps into checkpoint 1; the final row conserves the
    corpus totals (docs, tokens, distinct vocabulary)."""
    from pyspark.sql import functions as F

    from flink_training_exercises_spark.operators import textstats

    rows = [(i, f"w{i % 3} common", "en", "s", 9) for i in range(8)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = textstats.heaps_vocab_growth(docs).orderBy("checkpoint").collect()
    assert len(out) == 10 and out[0]["docs_cum"] >= 1
    last = out[-1]
    assert (last["docs_cum"], last["tokens_cum"], last["vocab_cum"]) == (8, 16, 4)


def test_downsample_lttb_hand_computed(spark):
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        downsample_lttb,
    )

    # Series 'a': 6 points 1s apart, cents [0,100,500,100,100,0]; n_out=2
    # -> interior buckets {rn2,rn3} and {rn4,rn5}. The 500-cent spike at
    # rn3 wins bucket 0 (area2 800000 vs 300000); rn4 wins bucket 1
    # (400000 vs 100000). Endpoints ride along as buckets -1 / 2.
    # Series 'b': two points -> endpoints only.
    t0 = datetime(2024, 1, 1)
    ms0 = 1704067200000  # epoch ms of 2024-01-01T00:00 (NTZ, TZ-proof)
    vals_a = [0.0, 1.0, 5.0, 1.0, 1.0, 0.0]
    rows = [
        (i + 1, t0 + timedelta(seconds=i), 7, "a", vals_a[i], None)
        for i in range(6)
    ] + [
        (10, t0, 7, "b", 2.0, None),
        (11, t0 + timedelta(seconds=9), 7, "b", 3.0, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = sorted(
        tuple(r) for r in downsample_lttb(ev, n_out=2).collect()
    )
    assert got == sorted(
        [
            ("a", -1, ms0, 0),
            ("a", 0, ms0 + 2000, 500),
            ("a", 1, ms0 + 3000, 100),
            ("a", 2, ms0 + 5000, 0),
            ("b", -1, ms0, 200),
            ("b", 2, ms0 + 9000, 300),
        ]
    )


def test_downsample_lttb_points_are_input_points(spark, sf_small):
    """Every output row is a real input point (LTOB selects, never
    interpolates), buckets stay in [-1, n_out], and each key keeps both
    endpoints."""
    from pyspark.sql import functions as F

    from flink_training_exercises_spark.operators.timeseries import (
        downsample_lttb,
    )
    from flink_training_exercises_spark.functions.time import epoch_ms
    from flink_training_exercises_spark.sources import load_table

    ev = load_table(spark, "events", sf_small)
    out = downsample_lttb(ev, n_out=5)
    raw = ev.select(
        F.col("event_type"),
        epoch_ms("ts").alias("ts_ms"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    ).distinct()
    assert out.join(raw, ["event_type", "ts_ms", "cents"], "left_anti").count() == 0
    assert out.where((F.col("bucket") < -1) | (F.col("bucket") > 5)).count() == 0
    per_key = {r["event_type"]: r["cnt"] for r in out.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert all(v == 7 for v in per_key.values()), per_key


def test_value_trend_ols_hand_computed(spark):
    from datetime import datetime

    from flink_training_exercises_spark.operators.timeseries import (
        value_trend_ols,
    )

    # type 'a': (day 0, $1) (day 1, $2) (day 2, $3) -> slope 100 cents/day,
    # intercept 100 cents; type 'b': single day -> NULL slope/intercept
    rows = [
        (1, datetime(2024, 1, 1, 5), 7, "a", 1.0, None),
        (2, datetime(2024, 1, 2, 9), 7, "a", 2.0, None),
        (3, datetime(2024, 1, 3, 23), 8, "a", 3.0, None),
        (4, datetime(2024, 1, 1, 1), 9, "b", 5.0, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["event_type"]: r for r in value_trend_ols(ev).collect()}
    a = got["a"]
    assert (a["n"], a["sum_cents"]) == (3, 600)
    assert a["slope_cents_per_day"] == 100.0
    assert a["intercept_cents"] == 100.0
    b = got["b"]
    assert b["slope_cents_per_day"] is None and b["intercept_cents"] is None
    # shift invariance: re-origined x makes the slope independent of WHERE
    # in the calendar the group sits
    shifted = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 45 DAYS"))
    got2 = {r["event_type"]: r for r in value_trend_ols(shifted).collect()}
    assert got2["a"]["slope_cents_per_day"] == 100.0
    assert got2["a"]["intercept_cents"] == 100.0


def test_cusum_level_shift_hand_computed(spark):
    from datetime import datetime

    from flink_training_exercises_spark.operators.timeseries import (
        cusum_level_shift,
    )

    # one type, 6 hourly buckets of cents [100,100,400,400,400,400]:
    # n=6, T=1800, d = 6x-T = [-1200,-1200,600,600,600,600],
    # R = [-1200,-2400,-1800,-1200,-600,0]
    # S+ = R - min(0, running min R) = [0,0,600,1200,1800,2400] -> peak
    #   2400 at the LAST bucket (the upward level shift accumulates)
    # S- = max(0, running max R) - R = [1200,2400,1800,1200,600,0] ->
    #   peak 2400 at bucket 1 (and S-_0 = 1200 only holds with the
    #   empty-prefix R_0=0 in the running extremum -- the identity fix)
    rows = [
        (i, datetime(2024, 1, 1, i), 7, "a", v, None)
        for i, v in enumerate([1.0, 1.0, 4.0, 4.0, 4.0, 4.0])
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    [r] = cusum_level_shift(ev).collect()
    h = 3_600_000
    base = 1_704_067_200_000  # 2024-01-01T00Z epoch ms
    assert r["n_buckets"] == 6
    assert (r["peak_up_bucket_ms"], r["peak_up_scaled"]) == (base + 5 * h, 2400)
    assert (r["peak_down_bucket_ms"], r["peak_down_scaled"]) == (base + 1 * h, 2400)


def test_cusum_level_shift_matches_recurrence_and_duckdb(spark, sf_small, catalog_runs):
    import duckdb

    from flink_training_exercises_spark.operators.timeseries import (
        cusum_level_shift,
    )
    from flink_training_exercises_spark.sources import load_table

    ev = load_table(spark, "events", sf_small)
    got = list(map(tuple, cusum_level_shift(ev).collect()))
    assert catalog_runs.problems("cusum_level_shift") == []
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_small}/events.parquet'"
    )
    # literal-recurrence cross-check on one type: S_i = max(0, S_{i-1}+d_i)
    series = con.execute("""
        SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS b,
               CAST(sum(CAST(floor(value*1e2+5e-1) AS BIGINT)) AS BIGINT) AS x
        FROM events WHERE event_type = 'view' GROUP BY 1 ORDER BY 1
    """).fetchall()
    n = len(series)
    t = sum(x for _, x in series)
    s_up = s_down = 0
    peak_up = (None, -1)
    peak_down = (None, -1)
    for b, x in series:
        d = n * x - t
        s_up = max(0, s_up + d)
        s_down = max(0, s_down - d)
        if s_up > peak_up[1]:
            peak_up = (b, s_up)
        if s_down > peak_down[1]:
            peak_down = (b, s_down)
    row = next(r for r in got if r[0] == "view")
    assert (row[2], row[3]) == peak_up
    assert (row[4], row[5]) == peak_down


def test_contrastive_negatives_contract(spark):
    from flink_training_exercises_spark.operators import sampling

    # 6 vectors, labels 0/0/0/1/1/1: every anchor must get up to 4
    # negatives, all with a different label, never itself, ranks 1..k
    # dense from probe order
    rows = [(i, [0.0], i // 3) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = sampling.contrastive_negatives(emb).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    labels = {i: i // 3 for i in range(6)}
    for a, rs in by_anchor.items():
        ranks = sorted(r["neg_rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1)) and len(rs) <= 4
        for r in rs:
            assert r["neg_id"] != a
            assert labels[r["neg_id"]] != labels[a]
            assert r["neg_label"] == labels[r["neg_id"]]
        # probe collisions are deduped keeping the earliest j: the k
        # accepted negatives are DISTINCT per anchor (a tiny 6-id space
        # makes 16-probe collisions near-certain, so this pin bites)
        negs = [r["neg_id"] for r in rs]
        assert len(negs) == len(set(negs))
    # determinism: a second evaluation is identical
    again = sampling.contrastive_negatives(emb).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_source_scorecard_hand_computed(spark):
    from flink_training_exercises_spark.operators.textstats import (
        source_scorecard,
    )

    # source s1: 4 docs, one exact-dup pair (docs 1,2), langs en,en,fr,en
    # -> top en; none pass gopher (all < 50 words). source s2: 1 doc.
    rows = [
        (1, "aa bb", "en", "s1", 5),
        (2, "aa bb", "en", "s1", 5),
        (3, "cc dd", "fr", "s1", 5),
        (4, "ee ff", "en", "s1", 5),
        (5, "gg hh", "de", "s2", 7),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["source"]: r for r in source_scorecard(docs).collect()}
    s1 = got["s1"]
    assert (s1["n_docs"], s1["n_distinct_texts"]) == (4, 3)
    assert s1["dup_ppm"] == 250000  # 1 redundant doc of 4
    assert (s1["n_pass_gopher"], s1["gopher_pass_ppm"]) == (0, 0)
    assert s1["top_lang"] == "en" and s1["mean_chars_x100"] == 500
    s2 = got["s2"]
    assert (s2["n_docs"], s2["dup_ppm"], s2["top_lang"]) == (1, 0, "de")


def test_theil_sen_hand_computed(spark):
    from datetime import datetime

    from flink_training_exercises_spark.operators.timeseries import (
        theil_sen_trend,
    )

    # type 'a': 3 days, daily cents [100, 300, 200] -> slopes
    # {200, 50, -100}, median 50. type 'b': 4 days [100,200,400,300] ->
    # 6 slopes sorted [-100, 50, 200/3, 100, 150, 200]; even count ->
    # (200/3 + 100)/2 in the same IEEE ops python uses.
    rows = []
    for i, v in enumerate([1.0, 3.0, 2.0]):
        rows.append((len(rows), datetime(2024, 1, 1 + i, 5), 7, "a", v, None))
    for i, v in enumerate([1.0, 2.0, 4.0, 3.0]):
        rows.append((len(rows), datetime(2024, 1, 1 + i, 9), 8, "b", v, None))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["event_type"]: r for r in theil_sen_trend(ev).collect()}
    a = got["a"]
    assert (a["n_days"], a["n_pairs"], a["slope_cents_per_day"]) == (3, 3, 50.0)
    b = got["b"]
    assert (b["n_days"], b["n_pairs"]) == (4, 6)
    assert b["slope_cents_per_day"] == (200.0 / 3.0 + 100.0) / 2.0


def test_record_linkage_scores_hand_computed(spark):
    """One block, four docs: (1,2) agree on everything (4+6+3=13,
    match); doc4 shares doc1/doc2's prefix and token count but not the
    length band (-1+6+3=8, possible, twice); doc3 disagrees on all
    fields (-4, non_match, three pairs)."""
    from flink_training_exercises_spark.operators.dedup import (
        record_linkage_scores,
    )

    long_text = "hello world foo bar baz qux quux corge grault extra tokens here now ok yes"
    rows = [
        (1, "hello world foo", "en", "s", 50),
        (2, "hello world foo", "en", "s", 55),
        (3, long_text, "en", "s", 500),
        (4, "hello world foo", "en", "s", 100),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r["decision"]: (r["n_pairs"], r["sum_score"])
        for r in record_linkage_scores(docs).collect()
    }
    assert got == {"match": (1, 13), "possible": (2, 16), "non_match": (3, -12)}


def test_record_linkage_scores_conservation(spark, sf_small):
    """Decision classes partition the blocked pair set: per-block pair
    totals equal C(|block|, 2)."""
    from pyspark.sql import functions as F

    from flink_training_exercises_spark.operators.dedup import (
        record_linkage_scores,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    got = {
        (r["lang"], r["source"]): r["tot"]
        for r in record_linkage_scores(docs)
        .groupBy("lang", "source")
        .agg(F.sum("n_pairs").alias("tot"))
        .collect()
    }
    sizes = {
        (r["lang"], r["source"]): r["n"]
        for r in docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want = {k: n * (n - 1) // 2 for k, n in sizes.items() if n >= 2}
    assert got == want and got


def test_rake_keywords_hand_computed(spark):
    """'the quick fox the lazy dog', one statistical stopword ('the',
    the most frequent token): phrases 'quick fox' / 'lazy dog', every
    member word deg=2 freq=1 -> 2e6 ppm, phrase scores 4e6, ties ranked
    by phrase ASC."""
    from flink_training_exercises_spark.operators.textstats import (
        rake_keywords,
    )

    docs = spark.createDataFrame(
        [(1, "the quick fox the lazy dog", "en", "s", 26)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [tuple(r) for r in rake_keywords(docs, n_stop=1).orderBy("rank").collect()]
    assert got == [
        (1, "lazy dog", 2, 4_000_000),
        (2, "quick fox", 2, 4_000_000),
    ]


def test_rake_keywords_rank_contract(spark, sf_small):
    """Ranks are 1..k dense and scores are non-increasing along them."""
    from flink_training_exercises_spark.operators.textstats import (
        rake_keywords,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    rows = sorted(
        (r["rank"], r["score_ppm"]) for r in rake_keywords(docs).collect()
    )
    assert [r for r, _ in rows] == list(range(1, len(rows) + 1)) and rows
    scores = [s for _, s in rows]
    assert scores == sorted(scores, reverse=True)


def test_rake_keywords_all_stopword_doc_is_empty(spark):
    """A document made entirely of the statistical stopword produces no
    candidate phrases -- empty result, not a crash or an empty-string
    phrase."""
    from flink_training_exercises_spark.operators.textstats import (
        rake_keywords,
    )

    docs = spark.createDataFrame(
        [(1, "the the the", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert rake_keywords(docs, n_stop=1).count() == 0


def test_downsample_lttb_breaks_timestamp_ties_by_id(spark):
    """Two points at the SAME timestamp: the (ms, id) total order is what
    keeps the bucket walk deterministic -- both engines and any
    partitioning must pick identical winners (here: the tie rows sort by
    id, so the endpoint rows are id-deterministic)."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        downsample_lttb,
    )

    t0 = datetime(2024, 1, 1)
    ms0 = 1704067200000
    rows = [
        (2, t0, 7, "a", 5.0, None),  # tie at t0: id 1 sorts first
        (1, t0, 7, "a", 1.0, None),
        (3, t0 + timedelta(seconds=1), 7, "a", 2.0, None),
        (4, t0 + timedelta(seconds=2), 7, "a", 3.0, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = sorted(tuple(r) for r in downsample_lttb(ev, n_out=1).collect())
    # first point = id 1 (100 cents), last = id 4; the two interior
    # points (id 2 at the tied ts, id 3) fall into bucket 0 and the
    # 500-cent spike (id 2) wins on area
    assert got[0] == ("a", -1, ms0, 100)
    assert ("a", 0, ms0, 500) in got
    assert got[-1] == ("a", 1, ms0 + 2000, 300)


def test_weighted_sample_python_replay(spark):
    """Small corpus, python md5 replay: priorities are min over each
    doc's ticket keys, the sample is the k smallest (priority, id)."""
    import hashlib

    from flink_training_exercises_spark.operators.sampling import (
        weighted_sample,
    )

    def md5_60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = [(i, "x", "en", "s", n) for i, n in [(1, 10), (2, 120), (3, 260), (4, 990)]]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = [
        (r["rank"], r["doc_id"], r["weight"], r["priority"])
        for r in weighted_sample(docs, weight_unit=50, max_weight=40, k=3)
        .orderBy("rank")
        .collect()
    ]
    weights = {1: 1, 2: 3, 3: 6, 4: 20}  # 1 + n_chars // 50, under the cap
    prio = {
        i: min(md5_60(f"{i}:{t}") for t in range(1, w + 1))
        for i, w in weights.items()
    }
    want = sorted(((prio[i], i) for i in weights))[:3]
    assert got == [
        (rk + 1, i, weights[i], p) for rk, (p, i) in enumerate(want)
    ]


def test_weighted_sample_weight_monotonicity_in_expectation(spark, sf_small):
    """Structural contract on real data: ranks dense 1..k, priorities
    strictly increasing along ranks, and weights equal the documented
    formula."""
    from pyspark.sql import functions as F

    from flink_training_exercises_spark.operators.sampling import (
        weighted_sample,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    out = weighted_sample(docs).orderBy("rank").collect()
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    prios = [r["priority"] for r in out]
    assert prios == sorted(prios)
    wmap = {
        r["doc_id"]: min(1 + r["n_chars"] // 50, 40)
        for r in docs.select("doc_id", "n_chars").collect()
    }
    assert all(r["weight"] == wmap[r["doc_id"]] for r in out)


def _er_docs(spark):
    # one (en, web) block: d1/d2 full agreement (score 13, match),
    # d3 links to both at the possible level (4 - 2 + 3 = 5),
    # d5 disagrees everywhere (-4); d4 is alone in its (fr, web) block
    rows = [
        (1, "aaa bbb ccc", "en", "web", 100),
        (2, "aaa bbb ccc", "en", "web", 105),
        (3, "aaa bbb ddd", "en", "web", 110),
        (4, "aaa bbb ccc", "fr", "web", 100),
        (5, "zzz yyy xxx www vvv uuu", "en", "web", 300),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_entity_resolution_clusters_hand_computed(spark):
    from flink_training_exercises_spark.operators.dedup import (
        entity_resolution_clusters,
    )

    got = {
        r["doc_id"]: (r["entity_id"], r["entity_size"])
        for r in entity_resolution_clusters(_er_docs(spark)).collect()
    }
    assert got == {
        1: (1, 3),
        2: (1, 3),
        3: (1, 3),
        4: (4, 1),
        5: (5, 1),
    }


def test_entity_resolution_clusters_conservative_threshold(spark):
    """At FS_MATCH_T only the full-agreement pair links; the possible-level
    bridge d3 stays a singleton."""
    from flink_training_exercises_spark.operators.dedup import (
        FS_MATCH_T,
        entity_resolution_clusters,
    )

    got = {
        r["doc_id"]: (r["entity_id"], r["entity_size"])
        for r in entity_resolution_clusters(
            _er_docs(spark), link_threshold=FS_MATCH_T
        ).collect()
    }
    assert got == {
        1: (1, 2),
        2: (1, 2),
        3: (3, 1),
        4: (4, 1),
        5: (5, 1),
    }


def test_entity_resolution_clusters_conservation(spark, sf_small):
    """Every document lands in exactly one entity; entity_id is the
    member minimum; sizes agree with membership counts."""
    from collections import Counter

    from flink_training_exercises_spark.operators.dedup import (
        entity_resolution_clusters,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    rows = entity_resolution_clusters(docs).collect()
    assert len(rows) == docs.count()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    members = Counter(r["entity_id"] for r in rows)
    for r in rows:
        assert r["entity_size"] == members[r["entity_id"]]
        assert r["entity_id"] <= r["doc_id"]
    mins = {}
    for r in rows:
        mins[r["entity_id"]] = min(mins.get(r["entity_id"], r["doc_id"]), r["doc_id"])
    assert all(ent == mn for ent, mn in mins.items())


def test_tokenizer_fertility_consistent_with_bpe_encode(spark, sf_small):
    """The segment profile is exactly the python fold of the gated
    bpe_encode per-doc counts over (lang, source)."""
    from collections import defaultdict

    from flink_training_exercises_spark.operators.textstats import (
        bpe_encode,
        tokenizer_fertility,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    seg = {r["doc_id"]: (r["lang"], r["source"]) for r in docs.collect()}
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, chars, tokens
    for r in bpe_encode(docs).collect():
        a = agg[seg[r["doc_id"]]]
        a[0] += 1
        a[1] += r["n_words"]
        a[2] += r["n_chars"]
        a[3] += r["n_tokens"]
    want = {
        k: (
            d,
            w,
            t,
            (1000000 * t) // w if w > 0 else 0,
            (1000000 * t) // c if c > 0 else 0,
        )
        for k, (d, w, c, t) in agg.items()
    }
    got = {
        (r["lang"], r["source"]): (
            r["n_docs"],
            r["n_words"],
            r["n_tokens"],
            r["fertility_ppm"],
            r["compression_ppm"],
        )
        for r in tokenizer_fertility(docs).collect()
    }
    assert got == want and got


def test_feature_hashing_profile_python_replay(spark):
    """Buckets, signs, and counts replayed with hashlib on a tiny corpus."""
    import hashlib
    from collections import defaultdict

    from flink_training_exercises_spark.operators.textstats import (
        feature_hashing_profile,
    )

    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "bb cc dd aa")],
        "doc_id long, text string",
    )
    want = defaultdict(lambda: [0, 0, set()])
    for tok in ["aa", "bb", "aa", "bb", "cc", "dd", "aa"]:
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        s = 1 if (h // 16) % 2 == 0 else -1
        b = want[h % 16]
        b[0] += 1
        b[1] += s
        b[2].add(tok)
    got = {
        r["bucket"]: (r["total_count"], r["signed_sum"], r["distinct_tokens"])
        for r in feature_hashing_profile(docs, n_buckets=16).collect()
    }
    assert got == {k: (c, s, len(t)) for k, (c, s, t) in want.items()}


def test_feature_hashing_profile_conservation(spark, sf_small):
    """Total counts conserve the corpus token count, signed sums are
    bounded by totals, and distinct-token counts conserve the vocabulary."""
    from flink_training_exercises_spark.operators.textstats import (
        feature_hashing_profile,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    rows = feature_hashing_profile(docs).collect()
    assert rows
    toks = docs.selectExpr(
        "explode(filter(split(lower(text), '\\\\s+'), x -> x != '')) AS tok"
    )
    assert sum(r["total_count"] for r in rows) == toks.count()
    assert sum(r["distinct_tokens"] for r in rows) == toks.distinct().count()
    for r in rows:
        assert abs(r["signed_sum"]) <= r["total_count"]
        assert 1 <= r["distinct_tokens"] <= r["total_count"]


def test_vocab_drift_halves_hand_computed(spark):
    from flink_training_exercises_spark.operators.textstats import (
        vocab_drift_halves,
    )

    # mid = (1+4)//2 = 2: first half = docs 1,2 ("a a b", "a c" -> n1=5),
    # second half = docs 3,4 ("b b", "c c c b" -> n2=6)
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b b"), (4, "c c c b")],
        "doc_id long, text string",
    )
    got = {
        r["token"]: (
            r["cnt_first"], r["cnt_second"],
            r["rate_first_ppm"], r["rate_second_ppm"], r["delta_ppm"],
        )
        for r in vocab_drift_halves(docs, k=2).collect()
    }
    assert got == {
        "a": (3, 0, 600000, 0, -600000),
        "b": (1, 3, 200000, 500000, 300000),
        "c": (1, 3, 200000, 500000, 300000),
    }


def test_vocab_drift_halves_contracts(spark, sf_small):
    """Union membership is at most 2k tokens, rates stay in [0, 1e6],
    delta is exactly the rate difference, and the result is stable
    across two evaluations (deterministic tie-breaks)."""
    from flink_training_exercises_spark.operators.textstats import (
        vocab_drift_halves,
    )
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    rows = vocab_drift_halves(docs).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert 0 <= r["rate_first_ppm"] <= 1000000
        assert 0 <= r["rate_second_ppm"] <= 1000000
        assert r["delta_ppm"] == r["rate_second_ppm"] - r["rate_first_ppm"]
    again = vocab_drift_halves(docs).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_bloom_contamination_screen_contracts(spark, sf_small):
    """The Bloom guarantee and the grade: candidates >= true (no false
    negatives -- every truly contaminated gram is flagged), and the
    n_probe_keys / n_true columns equal a recount over the same gram
    pipeline driven outside the audit (this pins the Bloom/semi-join
    stage; gram-pipeline correctness itself is the gated
    contamination_ngram_overlap's job)."""
    from pyspark.sql import functions as F

    from flink_training_exercises_spark.functions.text import words
    from flink_training_exercises_spark.operators.contamination import (
        BENCH_MOD,
        NGRAM_N,
        _gram_strings,
        bloom_contamination_screen,
    )
    from flink_training_exercises_spark.functions.hashing import md5_long
    from flink_training_exercises_spark.sources import load_table

    docs = load_table(spark, "documents", sf_small)
    r = bloom_contamination_screen(docs).collect()[0]
    assert r["n_candidates"] >= r["n_true"]
    assert 0 < r["n_true"] <= r["n_probe_keys"]

    g = docs.select(
        (F.col("doc_id") % BENCH_MOD == 0).alias("is_bench"),
        F.explode(_gram_strings(words(), NGRAM_N)).alias("gs"),
    ).select("is_bench", md5_long("gs").alias("gh"))
    bench = {x["gh"] for x in g.where("is_bench").select("gh").distinct().collect()}
    corpus = {x["gh"] for x in g.where("NOT is_bench").select("gh").distinct().collect()}
    assert r["n_probe_keys"] == len(corpus)
    assert r["n_true"] == len(corpus & bench)


def test_quota_sample_python_replay(spark):
    """Exactly min(k, stratum size) rows per stratum, picked by the md5
    priority order -- replayed with hashlib."""
    import hashlib

    from flink_training_exercises_spark.operators.sampling import quota_sample

    rows = [
        (i, "en" if i % 2 == 0 else "fr", f"src{i % 3}") for i in range(30)
    ] + [(100, "xx", "lone")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string")

    def prio(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    from collections import defaultdict

    strata = defaultdict(list)
    for i, lang, src in rows:
        strata[(lang, src)].append(i)
    want = {}
    for key, ids in strata.items():
        for rk, i in enumerate(sorted(ids, key=lambda x: (prio(x), x))[:3], 1):
            want[(key[0], key[1], i)] = rk
    got = {
        (r["lang"], r["source"], r["doc_id"]): r["sample_rank"]
        for r in quota_sample(docs, k=3).collect()
    }
    assert got == want
    # the singleton stratum yields exactly its one row
    assert got[("xx", "lone", 100)] == 1


def test_quota_sample_quota_exactness(spark, sf_small):
    """Every stratum contributes exactly min(k, its size) rows; ranks are
    1..quota with no gaps."""
    from collections import Counter

    from flink_training_exercises_spark.operators.sampling import quota_sample
    from flink_training_exercises_spark.sources import load_table

    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", sf_small)
    sizes = {
        (r["lang"], r["source"]): r["n"]
        for r in docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = quota_sample(docs, k=3).collect()
    per = Counter((r["lang"], r["source"]) for r in rows)
    assert set(per) == set(sizes)
    for key, n in sizes.items():
        assert per[key] == min(3, n)
    by_stratum = {}
    for r in rows:
        by_stratum.setdefault((r["lang"], r["source"]), []).append(r["sample_rank"])
    for key, rks in by_stratum.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))


def test_bloom_skipping_audit_hand_and_contracts(spark):
    """STAGED-FOR-ROUND-10 point-predicate skipping audit: structural
    contracts on a tiny crafted frame -- no false negatives for EITHER
    index under EITHER layout, clustered truth = exactly one shard per
    probe, and every scan count bounded by probes x shards."""
    from flink_training_exercises_spark.operators.bloom import (
        bloom_skipping_audit,
    )

    rows = [(i, i % 5) for i in range(40)]  # 5 keys, 8 events each
    ev = spark.createDataFrame(rows, "event_id long, user_id long")
    got = {
        r["layout"]: (
            r["n_probes"],
            r["true_pairs"],
            r["zonemap_scan_pairs"],
            r["bloom_scan_pairs"],
            r["bloom_false_pos"],
        )
        for r in bloom_skipping_audit(
            ev, n_shards=4, n_words=2, probe_mod=1
        ).collect()
    }
    assert set(got) == {"hash", "clustered"}
    for layout, (np_, true, zm, bl, fp) in got.items():
        assert np_ == 5  # probe_mod=1 probes every key
        assert true <= zm <= np_ * 4  # zonemaps never miss a containing shard
        assert true <= bl <= np_ * 4  # blooms never miss one either
        assert fp == bl - true >= 0
    # clustered layout places each key wholly inside ONE shard
    assert got["clustered"][1] == 5


def test_benford_value_audit_hand_computed(spark):
    """Two types, hand-checkable digits: type a has cents 100/250/1999/5
    plus an excluded zero and an excluded negative (Benford is defined
    on positive magnitudes), type b is a single 900-cent row taking the
    full 1e6 ppm. Exercises the cents fixed point, the string first
    digit, the ppm DIV and the delta closure."""
    from flink_training_exercises_spark.operators.timeseries import (
        BENFORD_PPM,
        benford_value_audit,
    )

    events = spark.createDataFrame(
        [
            ("a", 1.00),
            ("a", 2.50),
            ("a", 19.99),
            ("a", 0.05),
            ("a", 0.00),
            ("a", -3.00),
            ("b", 9.00),
        ],
        "event_type string, value double",
    )
    got = {
        (r["event_type"], r["digit"]): (r["n"], r["obs_ppm"], r["benford_ppm"], r["delta_ppm"])
        for r in benford_value_audit(events).collect()
    }
    assert got == {
        ("a", 1): (2, 500000, BENFORD_PPM[1], 500000 - BENFORD_PPM[1]),
        ("a", 2): (1, 250000, BENFORD_PPM[2], 250000 - BENFORD_PPM[2]),
        ("a", 5): (1, 250000, BENFORD_PPM[5], 250000 - BENFORD_PPM[5]),
        ("b", 9): (1, 1000000, BENFORD_PPM[9], 1000000 - BENFORD_PPM[9]),
    }


def test_benford_value_audit_contracts(spark, sf_small):
    """Corpus contracts: digits in 1..9; per-type obs_ppm sums to 1e6
    within the floor rounding budget (at most 8 ppm short); delta is
    exactly obs - benford; the nine Benford constants sum to exactly
    1e6."""
    from flink_training_exercises_spark.operators.timeseries import (
        BENFORD_PPM,
        benford_value_audit,
    )
    from flink_training_exercises_spark.sources import load_table

    assert sum(BENFORD_PPM.values()) == 1_000_000
    rows = benford_value_audit(load_table(spark, "events", sf_small)).collect()
    assert rows
    by_type = {}
    for r in rows:
        assert 1 <= r["digit"] <= 9
        assert r["benford_ppm"] == BENFORD_PPM[r["digit"]]
        assert r["delta_ppm"] == r["obs_ppm"] - r["benford_ppm"]
        by_type.setdefault(r["event_type"], []).append(r["obs_ppm"])
    for t, ppms in by_type.items():
        assert 1_000_000 - 8 <= sum(ppms) <= 1_000_000, t


def test_chi_squared_independence_hand_computed(spark):
    """2x2 perfectly-associated table: types A/B, hours 0/1, A only at
    hour 0, B only at hour 1, 10 events each. Every cell (including the
    two ZERO-observed grid cells) contributes exactly 5.0 and the total
    is N = 20 (chi2 = N*phi^2 with phi = 1); expected_milli = 5000
    everywhere (uniform margins)."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        chi_squared_independence,
    )

    base = datetime(2024, 1, 1)  # midnight UTC -> hour 0
    rows = [
        (i, base + timedelta(minutes=i), 1, "A", 0.0, None) for i in range(10)
    ] + [
        (100 + i, base + timedelta(hours=1, minutes=i), 1, "B", 0.0, None)
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        (r["event_type"], r["hour"]): r
        for r in chi_squared_independence(df).collect()
    }
    assert set(out) == {("A", 0), ("A", 1), ("B", 0), ("B", 1)}
    for (t, h), r in out.items():
        assert (r["row_total"], r["col_total"]) == (10, 10)
        assert r["expected_milli"] == 5000
        assert r["chi2_contrib"] == 5.0
        assert r["n"] == (10 if (t, h) in {("A", 0), ("B", 1)} else 0)


def test_chi_squared_independence_contracts(spark, sf_small):
    """Grid closure (sum n == N on every row's margins), nonnegative
    contributions, and the single-type degenerate: with one event type
    every cell's observed equals its column total, so every contribution
    is EXACTLY 0.0 (independence is structural, not approximate)."""
    from flink_training_exercises_spark.operators.timeseries import (
        chi_squared_independence,
    )
    from flink_training_exercises_spark.sources import load_table

    ev = load_table(spark, "events", sf_small)
    rows = chi_squared_independence(ev).collect()
    n_total = sum(r["n"] for r in rows)
    for r in rows:
        assert r["chi2_contrib"] >= 0.0
        assert r["expected_milli"] >= 0
    # margins close over the grid
    from collections import defaultdict

    by_type, by_hour = defaultdict(int), defaultdict(int)
    for r in rows:
        by_type[r["event_type"]] += r["n"]
        by_hour[r["hour"]] += r["n"]
    for r in rows:
        assert by_type[r["event_type"]] == r["row_total"]
        assert by_hour[r["hour"]] == r["col_total"]
    assert n_total == ev.count()
    # single-type degenerate
    one = chi_squared_independence(
        ev.where(ev.event_type == "view")
    ).collect()
    assert one and all(r["chi2_contrib"] == 0.0 for r in one)


def test_ks_two_sample_drift_hand_computed(spark):
    """2+2 split: first half cents {100, 200}, second {300, 400} -- the
    ECDF gap walk gives D/(n1*n2) = |2*F1 - 2*F2| = 2,4,2,0 over the
    four sample points, so ks_num = 4 at cents 200 and ks_ppm is the
    full 1,000,000 (disjoint supports)."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        ks_two_sample_drift,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (0, base, 1, "a", 1.0, None),
        (1, base + timedelta(hours=1), 1, "a", 2.0, None),
        (2, base + timedelta(hours=10), 1, "a", 3.0, None),
        (3, base + timedelta(hours=11), 1, "a", 4.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = ks_two_sample_drift(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["event_type"], r["n_first"], r["n_second"]) == ("a", 2, 2)
    assert (r["ks_num"], r["ks_ppm"], r["ks_at_cents"]) == (4, 1000000, 200)


def test_ks_two_sample_drift_contracts(spark, sf_small):
    """0 <= ks_num <= n1*n2 (so ks_ppm in [0, 1e6]); a type must appear
    in BOTH halves to emit a row; the identical-halves degenerate is
    exactly 0 with the argmax tie-break at the smallest cents."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        ks_two_sample_drift,
    )
    from flink_training_exercises_spark.sources import load_table

    rows = ks_two_sample_drift(load_table(spark, "events", sf_small)).collect()
    assert rows
    for r in rows:
        assert 0 <= r["ks_num"] <= r["n_first"] * r["n_second"]
        assert 0 <= r["ks_ppm"] <= 1_000_000
    # identical halves -> ks_num == 0, argmax at the smallest cents
    base = datetime(2024, 1, 1)
    mirrored = [
        (i, base + timedelta(hours=h), 1, "a", v, None)
        for i, (h, v) in enumerate(
            [(0, 1.0), (1, 2.0), (2, 3.0), (10, 1.0), (11, 2.0), (12, 3.0)]
        )
    ]
    df = spark.createDataFrame(
        mirrored,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = ks_two_sample_drift(df).collect()
    assert len(out) == 1
    assert (out[0]["ks_num"], out[0]["ks_ppm"], out[0]["ks_at_cents"]) == (
        0,
        0,
        100,
    )
    # a type present in only one half emits no row
    single = spark.createDataFrame(
        [(0, base, 1, "b", 1.0, None), (1, base + timedelta(hours=1), 1, "b", 2.0, None)],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    # keep ONLY row 0: its midpoint equals its own ts, so the one row
    # is the whole first half and the second half is empty -> no output
    # (with BOTH rows kept, mid = base + 30 min would split them into
    # opposite halves and a row WOULD be emitted -- don't drop the
    # where() below)
    assert ks_two_sample_drift(single.where("event_id = 0")).count() == 0


def test_value_acf_lags_hand_computed(spark):
    """Perfectly linear hourly series 100,200,300,400 cents: every lag
    with >= 2 pairs correlates exactly 1.0 (the closed form divides
    identical products); lag 3 has ONE pair -> zero variance -> NULL;
    n_pairs at lag l is 4 - l; sums reflect the min-shifted series
    (v' = 0,100,200,300)."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        value_acf_lags,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(hours=i), 1, "a", float(i + 1), None)
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["lag"]: r for r in value_acf_lags(df).collect()}
    assert set(out) == {1, 2, 3}
    assert [out[l]["n_pairs"] for l in (1, 2, 3)] == [3, 2, 1]
    assert out[1]["pearson_r"] == 1.0
    assert out[2]["pearson_r"] == 1.0
    assert out[3]["pearson_r"] is None
    assert (out[1]["sum_x"], out[1]["sum_y"]) == (300, 600)


def test_value_acf_lags_contracts(spark, sf_small):
    """|r| <= 1 up to one ulp-cluster of rounding, lags within 1..6,
    pair counts bounded by the per-type bucket count, and a gapped
    series pairs only where BOTH buckets exist."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        value_acf_lags,
    )
    from flink_training_exercises_spark.sources import load_table

    rows = value_acf_lags(load_table(spark, "events", sf_small)).collect()
    assert rows
    for r in rows:
        assert 1 <= r["lag"] <= 6
        assert r["n_pairs"] >= 1
        if r["pearson_r"] is not None:
            assert abs(r["pearson_r"]) <= 1.0 + 1e-12
    # gapped series: buckets 0,1,3 -> lag1 pairs only (0,1); lag2 (1,3)
    # ... lag2 pairs bucket b with b+2: (1,3) present -> 1 pair; lag3
    # pairs (0,3) -> 1 pair
    base = datetime(2024, 1, 1)
    gapped = [
        (i, base + timedelta(hours=h), 1, "a", float(v), None)
        for i, (h, v) in enumerate([(0, 1.0), (1, 5.0), (3, 2.0)])
    ]
    df = spark.createDataFrame(
        gapped,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["lag"]: r["n_pairs"] for r in value_acf_lags(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_mann_kendall_trend_hand_computed(spark):
    """Strictly rising 4-day series: S = 6 (all pairs rising), no ties
    so var_s_x18 = 4*3*13 = 156, z = 5/sqrt(156/18); a same-day pair of
    events must SUM into one daily bucket before pairing."""
    import math
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        mann_kendall_trend,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (0, base, 1, "a", 1.0, None),
        (1, base + timedelta(days=1), 1, "a", 2.0, None),
        (2, base + timedelta(days=2), 1, "a", 3.0, None),
        # two events on day 3 sum to 400 cents (one bucket, still rising)
        (3, base + timedelta(days=3), 1, "a", 1.5, None),
        (4, base + timedelta(days=3, hours=1), 1, "a", 2.5, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = mann_kendall_trend(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["event_type"], r["n_days"], r["s_stat"], r["var_s_x18"]) == (
        "a",
        4,
        6,
        156,
    )
    assert r["z_mk"] == (6 - 1) / math.sqrt(156 / 18.0)


def test_mann_kendall_trend_contracts(spark, sf_small):
    """|S| <= n(n-1)/2, var_s_x18 in [0, n(n-1)(2n+5)], z sign matches
    S sign; the all-tied degenerate emits z NULL and a single-day type
    emits no row; the tie correction is exact (hand case)."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        mann_kendall_trend,
    )
    from flink_training_exercises_spark.sources import load_table

    rows = mann_kendall_trend(load_table(spark, "events", sf_small)).collect()
    assert rows
    for r in rows:
        n = r["n_days"]
        assert n >= 2
        assert abs(r["s_stat"]) <= n * (n - 1) // 2
        assert 0 <= r["var_s_x18"] <= n * (n - 1) * (2 * n + 5)
        if r["z_mk"] is not None:
            # continuity correction: z > 0 iff S > 1 (S in {-1, 0, 1} -> z = 0)
            assert (r["z_mk"] > 0) == (r["s_stat"] > 1)
            assert (r["z_mk"] < 0) == (r["s_stat"] < -1)
    base = datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    # tie case: days [100, 100, 200] cents -> S = 2,
    # tie_sum = 2*1*9 = 18, var18 = 3*2*11 - 18 = 48
    tied = spark.createDataFrame(
        [
            (0, base, 1, "a", 1.0, None),
            (1, base + timedelta(days=1), 1, "a", 1.0, None),
            (2, base + timedelta(days=2), 1, "a", 2.0, None),
        ],
        schema,
    )
    r = mann_kendall_trend(tied).collect()[0]
    assert (r["s_stat"], r["var_s_x18"]) == (2, 48)
    # all-tied degenerate: var18 = 0 -> z NULL
    flat = spark.createDataFrame(
        [
            (0, base, 1, "a", 1.0, None),
            (1, base + timedelta(days=1), 1, "a", 1.0, None),
        ],
        schema,
    )
    r = mann_kendall_trend(flat).collect()[0]
    assert (r["s_stat"], r["var_s_x18"], r["z_mk"]) == (0, 0, None)
    # single-day type: no pairs, no row
    single = spark.createDataFrame([(0, base, 1, "b", 1.0, None)], schema)
    assert mann_kendall_trend(single).count() == 0


def test_rfm_segments_hand_computed(spark):
    """Four single-event users with distinct days and values: recency
    quantiles ascend with days-since-last (r_q = 0 is most recent),
    frequency all ties into f_q = 0 (value-collapsed), monetary tracks
    the cents order; a NULL value coalesces to 0 cents but still counts
    one event."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.sessions import rfm_segments

    base = datetime(2024, 1, 1)
    rows = [
        (0, base, 1, "a", 1.0, None),
        (1, base + timedelta(days=1), 2, "a", 2.0, None),
        (2, base + timedelta(days=2), 3, "a", 3.0, None),
        (3, base + timedelta(days=3), 4, "a", 4.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = sorted(map(tuple, rfm_segments(df).collect()))
    want = sorted(
        [
            (3, 0, 0, 1, 1, 100),   # user 1: oldest, cheapest
            (2, 0, 1, 1, 1, 200),
            (1, 0, 2, 1, 1, 300),
            (0, 0, 3, 1, 1, 400),   # user 4: most recent, most valuable
        ]
    )
    assert got == want
    # NULL value -> 0 cents, still one event; all users tie on f and r
    nulls = spark.createDataFrame(
        [
            (0, base, 1, "a", None, None),
            (1, base, 2, "a", 1.0, None),
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = sorted(map(tuple, rfm_segments(nulls).collect()))
    # m: user1 = 0 -> below 0 -> q0; user2 = 100 -> below 1 -> 4*1//2 = 2
    assert got == sorted([(0, 0, 0, 1, 1, 0), (0, 0, 2, 1, 1, 100)])


def test_rfm_segments_contracts(spark, sf_small):
    """Grid cells partition the user base: quantile labels are in
    [0, n_q), n_users sums to the distinct-user count, sum_events to
    the corpus row count, and every quantile axis is populated at the
    extremes (0 and n_q-1 appear when users differ)."""
    from flink_training_exercises_spark.operators.sessions import rfm_segments
    from flink_training_exercises_spark.sources import load_table

    ev = load_table(spark, "events", sf_small)
    rows = rfm_segments(ev).collect()
    assert rows
    for r in rows:
        for c in ("r_q", "f_q", "m_q"):
            assert 0 <= r[c] <= 3
    assert sum(r["n_users"] for r in rows) == ev.select("user_id").distinct().count()
    assert sum(r["sum_events"] for r in rows) == ev.count()
    for c in ("f_q", "m_q"):
        seen = {r[c] for r in rows}
        assert 0 in seen and 3 in seen


def test_trend_family_null_value_invariance(spark):
    """Structural NULL-value exclusion across the trend/correlation
    family: adding NULL-value rows -- including a day/hour bucket that
    is ENTIRELY NULL -- must leave every statistic unchanged (before
    the fix, NULL rows inflated n / n_days / n_buckets while the sums
    skipped them, and an all-NULL day fed a NULL slope into theil_sen's
    ASC rank window: the Spark-NULLS-FIRST vs DuckDB-NULLS-LAST
    divergence class)."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.timeseries import (
        cusum_level_shift,
        mann_kendall_trend,
        theil_sen_trend,
        value_acf_lags,
        value_hour_correlation,
        value_trend_ols,
    )

    base = datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    clean_rows = [
        (0, base, 1, "a", 1.0, None),
        (1, base + timedelta(days=1), 1, "a", 3.0, None),
        (2, base + timedelta(days=2), 1, "a", 2.0, None),
        (3, base + timedelta(days=3), 1, "a", 5.0, None),
        # adjacent hours so value_acf_lags has lag-1 pairs
        (7, base + timedelta(hours=1), 1, "a", 4.0, None),
        (8, base + timedelta(hours=2), 1, "a", 6.0, None),
    ]
    # NULL pollution: one NULL inside an observed day, plus an
    # ENTIRELY-NULL day 4 (the all-NULL-bucket case)
    dirty_rows = clean_rows + [
        (4, base + timedelta(days=1, hours=2), 1, "a", None, None),
        (5, base + timedelta(days=4), 1, "a", None, None),
        (6, base + timedelta(days=4, hours=3), 1, "a", None, None),
    ]
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(dirty_rows, schema)
    for op in (
        value_trend_ols,
        value_hour_correlation,
        theil_sen_trend,
        cusum_level_shift,
        mann_kendall_trend,
        value_acf_lags,
    ):
        got_clean = sorted(map(tuple, op(clean).collect()))
        got_dirty = sorted(map(tuple, op(dirty).collect()))
        assert got_clean == got_dirty, op.__name__
        assert got_clean, op.__name__


def test_trend_family_null_value_twins_agree_on_null_data(spark):
    """The six DuckDB twins' `WHERE value IS NOT NULL` clauses executed
    on data that actually CONTAINS NULLs (the whole committed testdata
    has none, so the oracle gate never exercises them): both engines
    must produce identical results on a NULL-bearing frame, pinning the
    filter SYMMETRY itself -- a one-sided edit or twin typo would pass
    every other test green (the r9 symmetric-format-gate precedent)."""
    from datetime import datetime, timedelta

    import duckdb
    import pandas as pd

    from flink_training_exercises_spark.operators.timeseries import (
        cusum_level_shift,
        cusum_level_shift_sql,
        mann_kendall_trend,
        mann_kendall_trend_sql,
        theil_sen_trend,
        theil_sen_trend_sql,
        value_acf_lags,
        value_acf_lags_sql,
        value_hour_correlation,
        value_hour_correlation_sql,
        value_trend_ols,
        value_trend_ols_sql,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (0, base, 1, "a", 1.0, None),
        (1, base + timedelta(hours=1), 1, "a", 4.0, None),
        (2, base + timedelta(hours=2), 1, "a", None, None),   # mixed bucket
        (3, base + timedelta(days=1), 1, "a", 3.0, None),
        (4, base + timedelta(days=2), 1, "a", None, None),    # all-NULL day
        (5, base + timedelta(days=2, hours=1), 1, "a", None, None),
        (6, base + timedelta(days=3), 1, "a", 5.0, None),
        (7, base, 2, "b", None, None),                        # all-NULL type
        (8, base + timedelta(days=1), 2, "b", None, None),
    ]
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    df = spark.createDataFrame(rows, schema)
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    con = duckdb.connect()
    con.register("events", pdf)
    for op, twin in [
        (value_trend_ols, value_trend_ols_sql),
        (value_hour_correlation, value_hour_correlation_sql),
        (theil_sen_trend, theil_sen_trend_sql),
        (cusum_level_shift, cusum_level_shift_sql),
        (mann_kendall_trend, mann_kendall_trend_sql),
        (value_acf_lags, value_acf_lags_sql),
    ]:
        got = sorted(map(tuple, op(df).collect()), key=repr)
        want = sorted(con.execute(twin()).fetchall(), key=repr)
        assert got == want, op.__name__
        assert got, op.__name__  # type "a" must survive the NULL cuts


# Each operator's catalog entry equals its DuckDB twin under compare(); the
# run is the one tests/test_catalog.py shares through conftest's CatalogRuns.


def test_sorted_neighborhood_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("dedup_sorted_neighborhood") == []


def test_prefix_filter_jaccard_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("dedup_prefix_filter_jaccard") == []


def test_kanonymity_profile_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("pii_kanonymity_profile") == []


def test_t_closeness_audit_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("pii_tcloseness_audit") == []


def test_heaps_vocab_growth_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("heaps_vocab_growth") == []


def test_downsample_lttb_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("downsample_lttb") == []


def test_value_trend_ols_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("value_trend_ols") == []


def test_contrastive_negatives_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("contrastive_negatives") == []


def test_source_scorecard_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("source_scorecard") == []


def test_theil_sen_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("theil_sen_trend") == []


def test_record_linkage_scores_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("record_linkage_scores") == []


def test_rake_keywords_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("rake_keywords") == []


def test_weighted_sample_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("weighted_sample") == []


def test_entity_resolution_clusters_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("entity_resolution_clusters") == []


def test_tokenizer_fertility_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("tokenizer_fertility") == []


def test_feature_hashing_profile_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("feature_hashing_profile") == []


def test_vocab_drift_halves_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("vocab_drift_halves") == []


def test_bloom_contamination_screen_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("bloom_contamination_screen") == []


def test_quota_sample_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("quota_sample") == []


def test_bloom_skipping_audit_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("bloom_skipping_audit") == []


def test_benford_value_audit_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("benford_value_audit") == []


def test_chi_squared_independence_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("chi_squared_independence") == []


@pytest.mark.parametrize(
    "name",
    ["ks_two_sample_drift", "value_acf_lags", "mann_kendall_trend", "rfm_segments"],
)
def test_events_op_matches_duckdb_twin(catalog_runs, name):
    assert catalog_runs.problems(name) == []
