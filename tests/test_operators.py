"""Golden-output + property tests for the operator library on tiny
inline DataFrames (SURVEY §5.3/5.4): flatten totality, validation
split partitioning, dedup idempotency/detection, similarity geometry,
text analysis, multimodal plumbing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.operators import dedup as D
from ag_data_ingestion_github_to_snowflake_spark.operators import multimodal as M
from ag_data_ingestion_github_to_snowflake_spark.operators import similarity as S
from ag_data_ingestion_github_to_snowflake_spark.operators import text as X
from ag_data_ingestion_github_to_snowflake_spark.pipeline.github import (
    flatten_repos,
    validation_split,
)
from ag_data_ingestion_github_to_snowflake_spark.sources.rest import RAW_DETAIL_SCHEMA


def raw_repo(rid: int, **over):
    base = {
        "id": rid,
        "name": f"r{rid}",
        "full_name": f"o/r{rid}",
        "html_url": "https://example.invalid/x",
        "description": "d",
        "stargazers_count": 5,
        "language": "Python",
        "created_at": "2020-01-01T00:00:00Z",
        "updated_at": "2024-01-02T03:04:05Z",
        "owner": {
            "login": "o",
            "id": 1,
            "type": "User",
            "avatar_url": "https://example.invalid/a",
            "html_url": "https://example.invalid/o",
        },
    }
    base.update(over)
    return base


# ---------------------------------------------------------------------------
# flatten (A10)
# ---------------------------------------------------------------------------
def test_flatten_golden(spark):
    df = spark.createDataFrame([raw_repo(1)], RAW_DETAIL_SCHEMA)
    row = flatten_repos(df).collect()[0]
    assert row.owner_login == "o" and row.owner_id == 1 and row.owner_type == "User"
    assert row.created_at.year == 2020 and row.updated_at.second == 5
    assert row.stargazers_count == 5


def test_flatten_missing_owner_yields_nulls(spark):
    df = spark.createDataFrame([raw_repo(2, owner=None)], RAW_DETAIL_SCHEMA)
    row = flatten_repos(df).collect()[0]
    assert row.owner_login is None and row.owner_id is None


# ---------------------------------------------------------------------------
# validation split (A12/A13) — property: partitions the input
# ---------------------------------------------------------------------------
def test_validation_split_partitions_input(spark):
    rows = [raw_repo(i) for i in range(1, 8)]
    rows[2]["description"] = None
    rows[4]["language"] = None
    rows[5]["owner"] = None
    df = flatten_repos(spark.createDataFrame(rows, RAW_DETAIL_SCHEMA))
    valid, invalid = validation_split(df)
    assert valid.count() + invalid.count() == df.count()
    # disjoint id sets
    vi = {r.id for r in valid.select("id").collect()}
    ii = {r.id for r in invalid.select("id").collect()}
    assert not (vi & ii)
    missing = {r.id: set(r.missing_fields) for r in invalid.collect()}
    assert missing[3] == {"description"}
    assert missing[6] == {
        "owner_login", "owner_id", "owner_type", "owner_avatar_url", "owner_url",
    }


# ---------------------------------------------------------------------------
# dedup operators
# ---------------------------------------------------------------------------
DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog again and again today"),  # near dup
    (4, "completely different text about spark query engines and shuffles here"),
]


def docs_df(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in DOCS])


def test_exact_dedup_groups_exact_copies(spark):
    out = {r.keep_id: r.n_copies for r in D.exact_dedup(docs_df(spark)).collect()}
    assert out[1] == 2  # docs 1+2 share a hash; keep lowest id
    assert out[3] == 1 and out[4] == 1


def test_exact_dedup_idempotent(spark):
    once = D.exact_dedup(docs_df(spark))
    again = (
        once.select(F.col("keep_id").alias("doc_id"), F.col("content_hash").alias("text"))
    )
    assert D.exact_dedup(again).count() == once.count()


def test_minhash_finds_near_dups_not_unrelated(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_near_dedup(docs_df(spark), threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup -> jaccard 1
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup caught
    assert not any(4 in p for p in pairs)  # unrelated never paired


def test_simhash_identical_docs_distance_zero(spark):
    sig = D.simhash(docs_df(spark))
    pairs = {(r.id_a, r.id_b): r.hamming for r in D.simhash_near_pairs(sig, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0


def test_simhash_signature_matches_python_reference(spark):
    """Pin the packed-lane majority vote bit-for-bit against a plain
    Python reference (the test_pq_cdc convention): the SQL-string
    rewrite of the vote must reproduce the exact signature longs, not
    just the pairwise distances. Uses the md5-derived 60-bit hash so
    the reference is computable outside the JVM."""
    import hashlib
    import re

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over the lazy cat",
        3: "completely different tokens here entirely",
        4: "one",
    }
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    got = {
        r.doc_id: r.simhash
        for r in D.simhash(df, hash_fn=D.md5_hash60).collect()
    }

    def ref_sig(text: str) -> int:
        toks = re.split(r"\s+", text)
        hs = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks
        ]
        n = len(hs)
        sig = 0
        for i in range(64):
            ones = sum((h >> i) & 1 for h in hs)
            if 2 * ones > n:
                sig |= 1 << i
        return sig

    assert got == {i: ref_sig(t) for i, t in texts.items()}


# ---------------------------------------------------------------------------
# similarity geometry
# ---------------------------------------------------------------------------
def vec_df(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=4, embedding=[0.7071, 0.7071, 0.0]),
    ]
    return spark.createDataFrame(rows)


def test_cosine_identity_and_orthogonality(spark):
    df = vec_df(spark)
    topk = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in S.brute_force_topk(df, df, k=3).collect()
    }
    assert topk[(1, 2)] == 1.0  # identical vectors
    assert topk[(1, 3)] == 0.0  # orthogonal
    assert abs(topk[(1, 4)] - 0.707107) < 1e-5  # 45 degrees


def test_topk_ranks_by_similarity(spark):
    df = vec_df(spark)
    rows = [r for r in S.brute_force_topk(df, df.filter(F.col("vec_id") == 1), k=3).collect()]
    order = [r.neighbor_id for r in sorted(rows, key=lambda r: r.rnk)]
    assert order == [2, 4, 3]  # dup first, 45-deg second, orthogonal last


def test_embedding_near_dup_pairs_lsh(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup_pairs(vec_df(spark), threshold=0.99, dim=3).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------
def test_ivf_training_is_deterministic(spark):
    df = vec_df(spark)
    c1 = S.train_ivf_centroids(df, n_cells=2, dim=3, iters=2)
    c2 = S.train_ivf_centroids(df, n_cells=2, dim=3, iters=2)
    assert c1.shape == (2, 3)
    assert (c1 == c2).all()  # bit-identical across runs
    # centroids stay unit-normalized after Lloyd updates
    import numpy as np

    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe == n_cells searches every cell, so IVF must reproduce
    brute-force top-k exactly (same pairs, same cosines, same ranks)."""
    df = vec_df(spark)
    cents = S.train_ivf_centroids(df, n_cells=2, dim=3, iters=2)
    queries = df.filter(F.col("vec_id") <= 2)
    bf = {
        (r.query_id, r.rnk): (r.neighbor_id, r.cosine)
        for r in S.brute_force_topk(df, queries, k=3).collect()
    }
    ivf = {
        (r.query_id, r.rnk): (r.neighbor_id, r.cosine)
        for r in S.ivf_topk(df, queries, cents, k=3, nprobe=2).collect()
    }
    assert ivf == bf


def test_ivf_quantized_full_probe_equals_quantized_brute_force(spark):
    """Composed IVF+SQ8 index at nprobe == n_cells must reproduce the
    quantized brute-force result exactly (the IVF layer only prunes,
    and at full probe it prunes nothing)."""
    from ag_data_ingestion_github_to_snowflake_spark.operators.quantize import (
        ivf_quantized_topk,
        quantized_brute_force_topk,
    )

    df = vec_df(spark)
    cents = S.train_ivf_centroids(df, n_cells=2, dim=3, iters=2)
    queries = df.filter(F.col("vec_id") <= 2)
    bf = {
        (r.query_id, r.rnk): (r.neighbor_id, r.cosine)
        for r in quantized_brute_force_topk(df, queries, k=3).collect()
    }
    ivf = {
        (r.query_id, r.rnk): (r.neighbor_id, r.cosine)
        for r in ivf_quantized_topk(df, queries, cents, k=3, nprobe=2).collect()
    }
    assert ivf == bf


def test_ivf_quantized_probed_subset(spark):
    """nprobe < n_cells drops rows but never mis-scores survivors."""
    from ag_data_ingestion_github_to_snowflake_spark.operators.quantize import (
        ivf_quantized_topk,
        quantized_brute_force_topk,
    )

    df = vec_df(spark)
    cents = S.train_ivf_centroids(df, n_cells=3, dim=3, iters=2)
    queries = df.filter(F.col("vec_id") == 1)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in quantized_brute_force_topk(df, queries, k=3).collect()
    }
    probed = ivf_quantized_topk(df, queries, cents, k=3, nprobe=1).collect()
    assert probed
    for r in probed:
        assert exact[(r.query_id, r.neighbor_id)] == r.cosine


def test_ivf_probed_returns_subset_of_exact(spark):
    """nprobe < n_cells: every returned neighbor must appear in the
    exhaustive result with the same cosine (approximation only drops
    rows, never invents or mis-scores them)."""
    df = vec_df(spark)
    cents = S.train_ivf_centroids(df, n_cells=3, dim=3, iters=2)
    queries = df.filter(F.col("vec_id") == 1)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in S.brute_force_topk(df, queries, k=3).collect()
    }
    probed = S.ivf_topk(df, queries, cents, k=3, nprobe=1).collect()
    assert probed  # the query's own cell is always searched
    for r in probed:
        assert exact[(r.query_id, r.neighbor_id)] == r.cosine


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------
def test_token_stats_golden(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="aa bb aa")])
    row = X.token_stats(df).collect()[0]
    assert row.n_tokens == 3 and row.n_distinct_tokens == 2
    assert row.avg_token_len == 2.0


def test_bpe_token_count(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="hello world42 x-y!")])
    row = X.bpe_ish_token_count(df).collect()[0]
    # hello | world | 42 | x | - | y | !
    assert row.n_bpe_tokens == 7


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog in a house it is"),
            Row(doc_id=2, text="le chat et la maison les des une est"),
            Row(doc_id=3, text="der hund und das haus ist ein nicht mit"),
        ]
    )
    got = {r.doc_id: r.lang_pred for r in X.language_id(df).collect()}
    assert got == {1: "en", 2: "fr", 3: "de"}


def test_quality_score_bounds_and_ordering(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox is a good dog and it runs in the park " * 3),
            Row(doc_id=2, text="zzz zzz zzz zzz zzz zzz zzz zzz"),
        ]
    )
    got = {r.doc_id: r.quality for r in X.quality_score(df).collect()}
    assert all(0.0 <= v <= 1.0 for v in got.values())
    assert got[1] > got[2]  # fluent english beats repetition


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma"),
            Row(doc_id=2, text="alpha beta gamma"),
            Row(doc_id=3, text="gamma beta alpha"),
        ]
    )
    got = {r.doc_id: r.fingerprint for r in X.fingerprint(df).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]  # permutation changes the rolling hash


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------
def test_pack_media_metadata(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="hello")])
    packed = M.pack_media(df.withColumn("payload", F.encode("text", "UTF-8")), "payload", "text", "text/plain")
    row = packed.select("media.meta.*").collect()[0]
    assert row.modality == "text" and row.n_bytes == 5 and row.mime == "text/plain"


def test_decode_image_features_fake_deterministic(spark):
    df = spark.createDataFrame([Row(doc_id=i, text=f"payload {i}") for i in range(5)])
    df = df.withColumn("payload", F.encode("text", "UTF-8"))
    a = sorted(M.decode_image_features(df, deterministic_fake=True).collect())
    b = sorted(M.decode_image_features(df, deterministic_fake=True).collect())
    assert a == b  # stable across runs
    assert all(64 <= r.width < 256 and 0 <= r.mean_luma <= 1 for r in a)


def test_decode_image_real_path_rejects_unknown_and_compressed(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="x")]).withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    with pytest.raises(Exception, match="unrecognised image magic"):
        M.decode_image_features(df, deterministic_fake=False).collect()
    png = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="PNG"):
        M.decode_image_features(png, deterministic_fake=False).collect()


def test_decode_image_real_bmp_through_spark(spark):
    import numpy as np

    from ag_data_ingestion_github_to_snowflake_spark.operators import codecs

    img = np.full((3, 5, 3), [255, 0, 0], dtype=np.uint8)
    df = spark.createDataFrame(
        [(7, bytearray(codecs.encode_bmp(img)))], "doc_id long, payload binary"
    )
    row = M.decode_image_features(df).collect()[0]
    assert (row.width, row.height, row.mean_luma) == (5, 3, 0.299)


def test_audio_features_fake_deterministic(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="x" * 32000)]).withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    a = M.extract_audio_features(df, deterministic_fake=True).collect()[0]
    b = M.extract_audio_features(df, deterministic_fake=True).collect()[0]
    assert a == b
    assert a.duration_s == 2.0  # 32000 bytes @ 16kHz fake clock
    assert a.sample_rate in (8000, 16000, 22050, 44100)
    assert 0.0 <= a.rms_energy <= 1.0


# ---------------------------------------------------------------------------
# passage chunking / PII redaction / int8 quantization
# ---------------------------------------------------------------------------
def test_chunk_passages_covers_all_tokens(spark):
    text = " ".join(f"w{i}" for i in range(70))  # 70 tokens -> 3 chunks of 32/32/6
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    out = X.chunk_passages(df, size=32, stride=32).collect()
    assert len(out) == 3
    sizes = [len(r.passage.split(" ")) for r in out]
    assert sizes == [32, 32, 6]
    rejoined = " ".join(r.passage for r in out)
    assert rejoined == text  # stride == size => exact partition of tokens


def test_chunk_passages_short_and_empty_doc(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="only three tokens"), Row(doc_id=2, text="")]
    )
    out = {r.doc_id: r.passage for r in X.chunk_passages(df).collect()}
    assert out[1] == "only three tokens"
    assert out[2] == ""  # one empty passage, never zero rows


def test_redact_pii_counts_and_replaces(spark):
    df = spark.createDataFrame(
        [
            Row(
                doc_id=1,
                text="mail a.b+c@ex-ample.org and x@y.io call 514-555-0199 from 192.168.0.1",
            ),
            Row(doc_id=2, text="clean text no pii"),
        ]
    )
    rows = {r.doc_id: r for r in X.redact_pii(df).collect()}
    r1 = rows[1]
    assert (r1.n_emails, r1.n_phones, r1.n_ips) == (2, 1, 1)
    assert "[EMAIL]" in r1.redacted and "[PHONE]" in r1.redacted and "[IP]" in r1.redacted
    assert "@" not in r1.redacted
    r2 = rows[2]
    assert (r2.n_emails, r2.n_phones, r2.n_ips) == (0, 0, 0)
    assert r2.redacted == r2.text


def test_quantize_int8_bounds_and_roundtrip(spark):
    from ag_data_ingestion_github_to_snowflake_spark.operators import quantize as Q

    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, -0.5, 0.25, 0.0]),
            Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),  # zero vector
        ]
    )
    out = {r.vec_id: r for r in Q.reconstruction_error(Q.quantize_int8(df)).collect()}
    r1 = out[1]
    assert max(abs(c) for c in r1.q8) == 127  # max element uses full code range
    assert r1.max_abs_err <= r1.scale / 2 + 1e-12  # quantizer error bound
    r2 = out[2]
    assert r2.q8 == [0, 0, 0, 0] and r2.max_abs_err == 0.0 and r2.mse == 0.0


def test_validate_expectations_null_counts_as_violation(spark):
    from ag_data_ingestion_github_to_snowflake_spark.operators.profile import (
        validate_expectations,
    )

    df = spark.createDataFrame(
        [Row(x=5), Row(x=-1), Row(x=None)],
        "x int",
    )
    out = {r.rule: r for r in validate_expectations(df, {"x_pos": F.col("x") > 0}).collect()}
    r = out["x_pos"]
    # -1 fails, NULL fails (unevaluable expectation = not met)
    assert (r.n_rows, r.n_violations) == (3, 2)
    assert abs(r.pass_rate - 1 / 3) < 1e-6


def test_profile_table_counts(spark):
    from ag_data_ingestion_github_to_snowflake_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=1, b=None), Row(a=2, b="y")],
        "a int, b string",
    )
    out = {r.col_name: r for r in profile_table(df).collect()}
    assert (out["a"].n_nulls, out["a"].n_distinct, out["a"].min_value, out["a"].max_value) == (0, 2, "1", "2")
    assert (out["b"].n_nulls, out["b"].n_distinct) == (1, 2)


# ---------------------------------------------------------------------------
# Corpus hygiene: decontamination + repetition filter
# ---------------------------------------------------------------------------
def test_decontaminate_flags_overlapping_train_docs(spark):
    from ag_data_ingestion_github_to_snowflake_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words here in this sentence"),
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, "saw the quick brown fox yesterday")],
        "doc_id long, text string",
    )
    hits = decontaminate(train, evalset, n=3).collect()
    assert len(hits) == 1
    r = hits[0]
    # shared trigrams: "the quick brown", "quick brown fox"
    assert (r.train_id, r.eval_id, r.n_shared) == (1, 100, 2)


def test_repetition_stats_extremes(spark):
    from ag_data_ingestion_github_to_snowflake_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # fully repetitive
            (2, "w x y z"),          # no repetition
            (3, "solo"),             # 1 token: no bigrams, no div-by-zero
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.dup_word_frac, r.top_bigram_frac) for r in repetition_stats(df).collect()}
    assert got[1] == (0.75, 1.0)   # 1-1/4; "a a" fills all 3 bigram slots
    assert got[2] == (0.0, 0.333333)  # distinct bigrams: mode run = 1 of 3
    assert got[3] == (0.0, 0.0)


def test_repetition_stats_invariants_on_edge_cases(spark):
    """Invariants over adversarial texts in one Spark job:
    0 <= dup_word_frac < 1, 0 <= top_bigram_frac <= 1, and both are 0
    for degenerate (<=1 token) inputs."""
    from ag_data_ingestion_github_to_snowflake_spark.operators.text import repetition_stats

    texts = [
        (1, ""),                       # empty
        (2, "   "),                    # whitespace only
        (3, "x"),                      # single token
        (4, "x " * 500),               # long fully-repetitive
        (5, " ".join(f"w{i}" for i in range(500))),  # long all-distinct
        (6, "héllo wörld héllo wörld"),  # unicode bigram repeat
        (7, "a b a b a b a"),          # alternating
        (8, "tab\tand  multiple   spaces"),  # mixed whitespace
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    for did, r in got.items():
        assert 0.0 <= r.dup_word_frac < 1.0, (did, r)
        assert 0.0 <= r.top_bigram_frac <= 1.0, (did, r)
    # "x " * 500 splits to 500 "x" + one trailing "" token, so the
    # fractions are 1 - 2/501 and 499/500 — near-1, not exactly 1
    assert got[4].dup_word_frac > 0.99 and got[4].top_bigram_frac > 0.99
    assert got[5].dup_word_frac == 0.0
    # alternating "a b": bigrams 'a b' x3 + 'b a' x3 of 6 -> mode 0.5
    assert got[7].top_bigram_frac == 0.5
    assert got[3].top_bigram_frac == 0.0


def test_decontaminate_invariants(spark):
    from ag_data_ingestion_github_to_snowflake_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [(i, f"unique words only row {i} nothing shared") for i in range(5)]
        + [(99, "the exact benchmark sentence appears here")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1000, "the exact benchmark sentence appears here")],
        "doc_id long, text string",
    )
    hits = decontaminate(train, ev, n=3).collect()
    # self-identical doc shares ALL its distinct trigrams, others none
    assert {(r.train_id, r.eval_id) for r in hits} == {(99, 1000)}
    n_tri = len("the exact benchmark sentence appears here".split()) - 2
    assert hits[0].n_shared == n_tri
    # empty eval set -> no hits, no crash
    empty = ev.filter("doc_id < 0")
    assert decontaminate(train, empty, n=3).count() == 0


def test_ivf_sampled_training_full_probe_still_exact(spark):
    """sample_fraction changes where centroids land, never full-probe
    answers: cells partition the corpus, and full probe searches all."""
    df = vec_df(spark)
    queries = df.limit(2)
    cents = S.train_ivf_centroids(
        df, n_cells=2, dim=3, iters=2, sample_fraction=0.5
    )
    c2 = S.train_ivf_centroids(
        df, n_cells=2, dim=3, iters=2, sample_fraction=0.5
    )
    assert (cents == c2).all()  # seeded sample: still deterministic
    bf = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in S.brute_force_topk(df, queries, k=3).collect()
    }
    ivf = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in S.ivf_topk(df, queries, cents, k=3, nprobe=2).collect()
    }
    assert ivf == bf


def test_minhash_signature_entries_are_independent_hashes(spark):
    """Regression: a closure-capture bug (``lambda x, i=i`` — PySpark
    binds a two-arg transform lambda's second parameter to the ARRAY
    INDEX, silently shadowing the default) once collapsed all K
    signature entries to the same degenerate hash, gutting LSH recall.
    Distinct coefficients must yield (almost surely) distinct mins."""
    df = docs_df(spark)
    sh = D.hashed_shingles(df.select("doc_id", "text"), "text", 3)
    row = D.minhash_signatures(sh, "doc_id", 32).select("sig").first()
    assert len(set(row.sig)) > 16, f"degenerate signature: {row.sig}"


def test_minhash_arrow_kernel_matches_hof_signatures(spark):
    """The vectorized numpy kernel used inside minhash_near_dedup must
    be bit-identical to the JVM higher-order-function formulation."""
    from pyspark.sql import functions as F

    df = docs_df(spark)
    sh = D.hashed_shingles(df.select("doc_id", "text"), "text", 3)
    ref = {r.doc_id: r.sig for r in D.minhash_signatures(sh, "doc_id", 32).select("doc_id", "sig").collect()}
    got = {
        r.doc_id: r.sig
        for r in sh.select("doc_id", D._sig_arrow_udf(32)(F.col("hshingle")).alias("sig")).collect()
    }
    assert ref == got


def test_delta_join_append_equals_full_join(spark):
    """Delta-join identity: standing ∪ appended == full L ⋈ R,
    row-for-row, for arbitrary append splits of both sides."""
    from ag_data_ingestion_github_to_snowflake_spark.operators.incremental import (
        delta_join_append,
    )
    from pyspark.sql import functions as F

    L = spark.createDataFrame(
        [(k, f"l{k}") for k in range(20)], "k int, lv string"
    )
    R = spark.createDataFrame(
        [(k % 10, f"r{k}") for k in range(30)], "k int, rv string"
    )
    l_old, l_new = L.filter("k < 12"), L.filter("k >= 12")
    r_old, r_new = R.filter("rv < 'r15'"), R.filter("rv >= 'r15'")
    standing = l_old.join(r_old, "k")
    appended = delta_join_append(l_old, l_new, r_old, r_new, "k")
    got = sorted(
        (r.k, r.lv, r.rv) for r in standing.unionByName(appended).collect()
    )
    want = sorted((r.k, r.lv, r.rv) for r in L.join(R, "k").collect())
    assert got == want and len(want) == 30


def test_write_run_metrics_appends_rows(spark, tmp_path):
    """write_run_metrics: each call appends one row file that Spark reads
    back with the table's schema and the same naive local timestamp."""
    import re
    from datetime import datetime

    from ag_data_ingestion_github_to_snowflake_spark.sources.sinks import (
        RUN_METRICS_SCHEMA,
        write_run_metrics,
    )

    path = str(tmp_path / "metrics")
    runs = [
        {
            "total_processed": 10 * run,
            "valid_count": 9 * run,
            "invalid_count": run,
            "start_repo_id": 100 * run + 1,
            "last_repo_id": 100 * run + 59,
            "api_calls": 60,
            "cache_hits": 0,
            "test_mode": run == 1,
            "extraction_date": datetime(2024, 3, run, 23, 30, 15, 123456),
        }
        for run in (1, 2)
    ]
    for m in runs:
        write_run_metrics(m, path)
    back = spark.read.parquet(path)
    assert back.schema == RUN_METRICS_SCHEMA
    assert sorted((r.asDict() for r in back.collect()), key=lambda r: r["start_repo_id"]) == runs
    files = [f.name for f in (tmp_path / "metrics").iterdir()]
    assert len(files) == 2 and all(re.fullmatch(r"part-[0-9a-f-]{36}\.parquet", f) for f in files)


def test_distributed_sweep_equals_single_sweep_adversarial(spark):
    """Two-level prefix-sum sweep vs the one-window sweep on data
    built to stress the decomposition: tied instants exactly ON day
    boundaries, intervals spanning many buckets, a group whose peak
    is inside a later chunk, and zero-length intervals."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from ag_data_ingestion_github_to_snowflake_spark.operators.temporal import (
        distributed_sweep_max_concurrency,
    )

    day = 86_400_000_000
    rows = []
    # group a: 40 intervals all open at t=3.5 days (peak 40), plus
    # boundary-tied pairs (end of one == start of next at k*day)
    for i in range(40):
        rows.append(("a", i * 1000, 3 * day + day // 2 + i))
    for k in range(1, 6):
        rows.append(("a", (k - 1) * day, k * day))  # touching, not overlapping
    # group b: peak deep in the 9th day; zero-length intervals
    for i in range(25):
        rows.append(("b", 9 * day + i, 9 * day + 1000 + i))
    rows.append(("b", 2 * day, 2 * day))  # zero-length
    df = spark.createDataFrame(rows, "g string, s long, e long")
    pts = df.select("g", F.col("s").alias("t"), F.lit(1).alias("delta")).unionByName(
        df.select("g", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )

    w = (
        Window.partitionBy("g")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    single = {
        r.g: r.mx
        for r in pts.withColumn("c", F.sum("delta").over(w))
        .groupBy("g")
        .agg(F.max("c").alias("mx"))
        .collect()
    }
    dist = {
        r.g: r.max_concurrent
        for r in distributed_sweep_max_concurrency(pts, group_col="g").collect()
    }
    assert dist == single
    # 40-stack + exactly ONE of the day-chain intervals: the touching
    # chain never stacks with itself (ends sort before starts), but
    # each link does overlap the big stack.
    assert dist["a"] == 41
    assert dist["b"] == 25


def test_delta_join_append_broadcast_modes(spark):
    """Adaptive default must not place a forced broadcast hint; True
    must; all three modes return identical rows."""
    from ag_data_ingestion_github_to_snowflake_spark.operators.incremental import (
        delta_join_append,
    )

    l_old = spark.createDataFrame([(1, "a"), (2, "b")], "k int, lv string")
    l_new = spark.createDataFrame([(3, "c")], "k int, lv string")
    r_old = spark.createDataFrame([(1, "x"), (3, "y")], "k int, rv string")
    r_new = spark.createDataFrame([(2, "z"), (3, "w")], "k int, rv string")

    outs = {
        mode: sorted(
            map(
                tuple,
                delta_join_append(
                    l_old, l_new, r_old, r_new, "k", broadcast_deltas=mode
                ).collect(),
            )
        )
        for mode in (None, True, False)
    }
    assert outs[None] == outs[True] == outs[False]
    plan_default = delta_join_append(
        l_old, l_new, r_old, r_new, "k"
    )._jdf.queryExecution().logical().toString()
    plan_forced = delta_join_append(
        l_old, l_new, r_old, r_new, "k", broadcast_deltas=True
    )._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in plan_default and "hint" not in plan_default.lower()
    assert "broadcast" in plan_forced.lower()


def test_ivf_trained_recall_contract(spark):
    """Accuracy contract for the rows-only registry query
    similarity_ivf_trained (Lloyd-trained centroids have no SQL twin,
    so its correctness evidence lives here):

    - one row per query vector, recall in [0,1] in exact fifths;
    - mean recall@5 well above the random-candidate baseline
      (nprobe/n_cells = 2/8 = 0.25 expected hit rate for structure-free
      cells; measured 0.53 on the sf0.01 fixture);
    - deterministic re-run (lex-sorted bounded training set);
    - the SAME trained index searched at full probe reproduces exact
      brute-force top-5 (recall would be 1.0 by construction).
    """
    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs

    sfd = "/root/testdata/sf0.01"
    spec = all_specs()["similarity_ivf_trained"]
    rows = {r.query_id: r.recall_at_5 for r in spec.build(spark, sfd).collect()}
    assert set(rows) == set(range(20))
    assert all(0.0 <= v <= 1.0 and round(v * 5, 6) == int(v * 5 + 0.5) for v in rows.values())
    mean = sum(rows.values()) / len(rows)
    assert mean >= 0.4, f"mean recall {mean} not above the 0.25 candidate baseline"
    rows2 = {r.query_id: r.recall_at_5 for r in spec.build(spark, sfd).collect()}
    assert rows == rows2
    # full probe over the same trained centroids == exact brute force
    emb = spark.read.parquet(f"{sfd}/embeddings.parquet")
    cents = S.train_ivf_centroids(emb, n_cells=8, iters=3, max_train=1024)
    queries = emb.filter(F.col("vec_id") < 20)
    bf = {(r.query_id, r.rnk): r.neighbor_id
          for r in S.brute_force_topk(emb, queries, k=5).collect()}
    ivf = {(r.query_id, r.rnk): r.neighbor_id
           for r in S.ivf_topk(emb, queries, cents, k=5, nprobe=8).collect()}
    assert ivf == bf


def test_asof_join_forward_and_tolerance(spark):
    """Forward direction picks the nearest FOLLOWING right row (ties
    inclusive); tolerance voids a match whose gap exceeds it without
    re-picking a different row — pandas.merge_asof semantics."""
    from ag_data_ingestion_github_to_snowflake_spark.operators.temporal import (
        asof_join,
    )

    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "a"),  # tie with right at 10:00
            (1, "2024-01-01 11:00:00", "b"),  # nearest following 11:30
            (1, "2024-01-01 16:00:00", "c"),  # nothing follows -> null
            (2, "2024-01-01 09:00:00", "d"),  # gap 5h: matched, tol voids
        ],
        "k int, ts string, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:30:00", 1.0),  # before: never forward-matched
            (1, "2024-01-01 10:00:00", 2.0),
            (1, "2024-01-01 11:30:00", 3.0),
            (2, "2024-01-01 14:00:00", 4.0),
        ],
        "k int, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    fwd = {
        r.tag: r.v
        for r in asof_join(
            left, right, on="k", right_cols=["v"], direction="forward"
        ).collect()
    }
    assert fwd == {"a": 2.0, "b": 3.0, "c": None, "d": 4.0}

    tol = {
        r.tag: r.v
        for r in asof_join(
            left,
            right,
            on="k",
            right_cols=["v"],
            direction="forward",
            tolerance="2 hours",
        ).collect()
    }
    assert tol == {"a": 2.0, "b": 3.0, "c": None, "d": None}

    back_tol = {
        r.tag: r.v
        for r in asof_join(
            left, right, on="k", right_cols=["v"], tolerance="45 minutes"
        ).collect()
    }
    # backward: a<-10:00 (gap 0), b<-10:00 (gap 1h > 45m -> void),
    # c<-11:30 (gap 4.5h -> void), d has no prior row
    assert back_tol == {"a": 2.0, "b": None, "c": None, "d": None}


def test_scd2_from_changes_semantics(spark):
    """Consecutive duplicate observations open no version; same-instant
    conflicts resolve by tiebreak (last wins the instant, earlier one
    is a zero-length version); NULL attributes compare null-safely."""
    from ag_data_ingestion_github_to_snowflake_spark.operators.scd import (
        scd2_from_changes,
    )

    changes = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "a", 0),
            (1, "2024-02-01 00:00:00", "a", 1),  # consecutive dup: no version
            (1, "2024-03-01 00:00:00", "b", 2),
            (1, "2024-03-01 00:00:00", "c", 3),  # same instant: c wins
            (2, "2024-01-01 00:00:00", None, 0),  # NULL attr
            (2, "2024-02-01 00:00:00", None, 1),  # null-safe dup: no version
            (2, "2024-03-01 00:00:00", "x", 2),
        ],
        "k int, ts string, tier string, seq int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2_from_changes(changes, "k", "ts", ["tier"], tiebreak="seq")
    rows = sorted(
        ((r.k, str(r.valid_from), str(r.tier)), (r.k, r.tier, str(r.valid_from), str(r.valid_to), r.is_current))
        for r in out.collect()
    )
    rows = [r[1] for r in rows]
    assert rows == [
        (1, "a", "2024-01-01 00:00:00", "2024-03-01 00:00:00", False),
        (1, "b", "2024-03-01 00:00:00", "2024-03-01 00:00:00", False),
        (1, "c", "2024-03-01 00:00:00", "None", True),
        (2, None, "2024-01-01 00:00:00", "2024-03-01 00:00:00", False),
        (2, "x", "2024-03-01 00:00:00", "None", True),
    ]
    # exactly one current row per key
    cur = out.filter("is_current").groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in cur)
