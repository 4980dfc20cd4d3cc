"""Edge-case regressions for the corpus statistics on tiny corpora.

`heaps_law_fit`'s checkpoint cut is `floor(k*(mdoc+1)/10 - 1)`: on a
corpus with fewer than ~10 documents the early cuts are NEGATIVE
fractions, and a bare bigint cast truncates toward zero (-0.6 -> 0,
wrongly including doc_id 0) while the DuckDB oracle's direct
`doc_id <= -0.6` comparison excludes it. The fix floors before the
cast; this test pins the behavior on a 4-document corpus where the
pre-fix plan diverged from the oracle.
"""

from __future__ import annotations

import duckdb

from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs
from tests.oracle_harness import compare

TINY_DOCS = [
    (0, "alpha beta gamma delta epsilon zeta"),
    (1, "alpha beta eta theta"),
    (2, "iota kappa lambda alpha"),
    (3, "mu nu xi omicron pi rho sigma"),
]


def test_heaps_law_fit_tiny_corpus_matches_oracle(spark, tmp_path):
    docs = spark.createDataFrame(TINY_DOCS, ["doc_id", "text"])
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    spec = all_specs()["heaps_law_fit"]
    result = compare(
        "heaps_law_fit[tiny]",
        spec.build(spark, str(tmp_path)),
        con,
        spec.oracle,
    )
    assert result.match, result.detail


def test_heaps_law_fit_tiny_corpus_excludes_doc0_at_negative_cut(spark, tmp_path):
    """With 4 docs, the k=1..2 cuts are negative (floor -> -1): those
    checkpoints must be EMPTY, so the earliest checkpoint that
    contributes a fit point is k=3 (cut 0 -> doc 0 only). A truncating
    cast would instead give doc 0 to k=1 and k=2 as well, shifting the
    OLS inputs."""
    docs = spark.createDataFrame(TINY_DOCS, ["doc_id", "text"])
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    row = all_specs()["heaps_law_fit"].build(spark, str(tmp_path)).collect()[0]
    # 8 checkpoints contribute (k=3..10); k=1,2 are pre-corpus.
    assert row["k_checkpoints"] == 8


def test_ngram_novelty_matches_pandas(spark):
    """Third implementation (no shared SQL/DataFrame shape): recompute
    per-doc trigram novelty with plain Python sets over the fixture and
    compare every row — catches a bug shared by the Spark plan and the
    DuckDB oracle formulation."""
    import re as _re

    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import (
        all_specs as _specs,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    per_doc: dict[int, set[str]] = {}
    for r in docs:
        toks = [w for w in _re.split(r"\s+", r["text"].strip()) if w]
        if len(toks) < 3:
            continue
        per_doc[r["doc_id"]] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    from collections import Counter

    df = Counter(g for grams in per_doc.values() for g in grams)
    expected = {
        d: (
            len(grams),
            sum(1 for g in grams if df[g] == 1),
        )
        for d, grams in per_doc.items()
    }
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"])
        for r in _specs()["ngram_novelty_docs"].build(spark, sf).collect()
    }
    assert got == expected


def test_feature_hashing_matches_hashlib(spark):
    """Third implementation: recompute the 1024-bucket hashing-trick
    vectors with Python hashlib over the fixture and compare the CSR
    string rows cell-for-cell."""
    import hashlib
    import re as _re
    from collections import Counter

    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import (
        all_specs as _specs,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).where("doc_id < 200").collect()
    expected = {}
    for r in docs:
        counts = Counter(
            int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 1024
            for tok in _re.split(r"\s+", r["text"])
        )
        idx = sorted(counts)
        expected[r["doc_id"]] = (
            len(idx),
            ",".join(str(i) for i in idx),
            ",".join(str(counts[i]) for i in idx),
        )
    got = {
        r["doc_id"]: (r["nnz"], r["indices"], r["values"])
        for r in _specs()["feature_hashing_vectorize"].build(spark, sf).collect()
    }
    assert got == expected
