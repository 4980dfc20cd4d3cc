"""Text-analysis operators: tokenization, language ID, quality scoring,
token counting, document fingerprinting.

All built-in column expressions (split/regexp/aggregate/bit ops) — the
whole module stays inside whole-stage codegen; nothing drops to Python.
Grounding: north-star "text analysis" (BASELINE.json) over the
``documents`` fixture; the reference itself only does f-string/json
string work (/root/reference/src/extract_github_data.py:576-578).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic
# language ID. Deliberately deterministic and dependency-free.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "es": ("el", "la", "de", "que", "y", "los", "un", "es"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}

BPE_ISH_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add n_tokens / n_distinct_tokens / avg_token_len columns."""
    toks = F.split(F.col(text_col), "\\s+")
    return (
        df.withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)).cast("long"))
        .withColumn(
            "avg_token_len",
            F.round(
                F.aggregate(
                    toks, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
                )
                / F.greatest(F.size(toks), F.lit(1)),
                4,
            ),
        )
    )


def bpe_ish_token_count(df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens") -> DataFrame:
    """Count tokens under a BPE-ish regex (letter runs / digit runs /
    single punctuation) — a cheap proxy for LLM token budgeting."""
    return df.withColumn(
        out, F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_TOKEN_RE), F.lit(0))).cast("long")
    )


def quality_score(df: DataFrame, text_col: str = "text", out: str = "quality") -> DataFrame:
    """Heuristic quality score in [0,1]: length band + stopword ratio +
    alpha ratio + repetition penalty. Deterministic arithmetic only."""
    # The token array is staged as its own column: `score` references
    # it three times (distinct count, two sizes), and the
    # multiply-referenced alias blocks CollapseProject so the regex
    # split runs once per row, not once per reference (same lesson as
    # winnowing_fingerprints).
    staged = df.withColumn("_qs_toks", F.split(F.col(text_col), "\\s+"))
    toks = F.col("_qs_toks")
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
    text_len = F.length(F.col(text_col)).cast("double")
    # Token-equality stopword count WITHOUT a higher-order lambda: a
    # lambda filter is interpreted per element (no codegen), which made
    # this the engine's one truly linear-cost query at 100x data. The
    # whitespace-lookaround regexp matches exactly the tokens t of the
    # \s+ split with lower(t) in the list (maximal non-space runs,
    # whole-token anchors), so the DuckDB list_filter oracle is
    # unchanged — but the count stays in whole-stage codegen.
    stop_pattern = r"(?<!\S)(?:" + "|".join(LANG_MARKERS["en"]) + r")(?!\S)"
    stop_ratio = (
        F.regexp_count(F.lower(F.col(text_col)), F.lit(stop_pattern)) / n_tok
    )
    # alpha chars COUNTED, not replaced-then-measured: regexp_replace
    # rebuilds the string per match (measured 3.2 s vs 0.56 s for the
    # count at sf1.0 — the whole query's former bottleneck); counting
    # single-char class matches is the same number by construction.
    alpha_ratio = F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z ]")) / F.greatest(
        text_len, F.lit(1.0)
    )
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    len_band = F.when((text_len >= 50) & (text_len <= 5000), F.lit(1.0)).otherwise(F.lit(0.5))
    score = (
        F.least(stop_ratio * 2.0, F.lit(1.0)) * 0.25
        + alpha_ratio * 0.25
        + distinct_ratio * 0.25
        + len_band * 0.25
    )
    return staged.withColumn(out, F.round(score, 6)).drop("_qs_toks")


def language_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    r"""Stopword-marker language ID over LANG_MARKERS.

    Scores each language by marker-token hits; argmax wins with a
    deterministic tiebreak on language code. Hit counting uses the
    same codegen-safe whitespace-lookaround regexp as quality_score
    (identical to filtering the \s+ token split on list membership —
    whole-token anchors over maximal non-space runs); the lambda
    version was interpreted per token per language.
    """
    lowered = F.lower(F.col(text_col))
    scores = []
    for code, markers in sorted(LANG_MARKERS.items()):
        pat = r"(?<!\S)(?:" + "|".join(markers) + r")(?!\S)"
        hits = F.regexp_count(lowered, F.lit(pat))
        scores.append(F.struct(hits.alias("hits"), F.lit(code).alias("code")))
    # array_max on struct orders by (hits, code); ties pick the larger
    # code, deterministic either way.
    best = F.array_max(F.array(*scores))
    return df.withColumn(out, best.getField("code")).withColumn(
        "lang_score", best.getField("hits").cast("long")
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def chunk_passages(
    df: DataFrame,
    text_col: str = "text",
    size: int = 32,
    stride: int = 32,
    out: str = "passage",
) -> DataFrame:
    """Explode documents into fixed-size token passages.

    Training pipelines dedup and sample at passage granularity, not
    whole-document: chunk starts at 1, 1+stride, ... and each passage
    is ``size`` tokens re-joined with single spaces. Pure array
    expressions (split → sequence → slice → explode): the explode
    multiplies rows ~len/stride× but involves no shuffle — each
    document chunks within its own partition, so the op scales linearly
    with corpus bytes.
    """
    toks = F.split(F.col(text_col), "\\s+")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s, size), " ")
    )
    return df.withColumn(out, F.explode(chunks))


def redact_pii(df: DataFrame, text_col: str = "text", out: str = "redacted") -> DataFrame:
    """Redact emails / NANP phones / IPv4 literals, counting each kind.

    Order matters: IPv4 runs after phone so ``555-123-4567`` is consumed
    by the phone rule first (the patterns are disjoint anyway — phone
    needs dashes, IPv4 dots). All regexp_replace/regexp_extract_all —
    JVM-side, patterns restricted to the RE2-compatible subset so the
    DuckDB oracle twin applies the identical expressions.
    """
    c = F.col(text_col)
    return (
        df.withColumn(
            "n_emails", F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0))).cast("long")
        )
        .withColumn(
            "n_phones", F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), F.lit(0))).cast("long")
        )
        .withColumn(
            "n_ips", F.size(F.regexp_extract_all(c, F.lit(PII_IPV4_RE), F.lit(0))).cast("long")
        )
        .withColumn(
            out,
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(c, PII_EMAIL_RE, "[EMAIL]"),
                    PII_PHONE_RE,
                    "[PHONE]",
                ),
                PII_IPV4_RE,
                "[IP]",
            ),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Order-sensitive rolling (polynomial) hash over tokens.

    fp = fold(tokens, acc -> (acc*1000003 + h(token)) mod (2^31-1)) — a
    Rabin-Karp-style document fingerprint that distinguishes
    permutations (unlike a token-set hash). The accumulator stays below
    2^31 so the multiply never overflows a long under ANSI arithmetic.

    The per-token hash is the first 8 sha256 hex digits (mod p), NOT
    xxhash64: a provenance fingerprint is only useful if every system
    that touches the corpus computes the same value, and sha256 is the
    one hash every engine agrees on (the registry carrier cross-checks
    the full fold against DuckDB's ``list_reduce``).
    """
    toks = F.split(F.col(text_col), "\\s+")
    mod = F.lit(2147483647).cast("long")  # 2^31 - 1 (prime)
    tok_hash = lambda x: F.pmod(  # noqa: E731
        F.conv(F.substring(F.sha2(x, 256), 1, 8), 16, 10).cast("long"), mod
    )
    return df.withColumn(
        out,
        F.aggregate(
            toks,
            F.lit(1469598103).cast("long"),
            lambda acc, x: F.pmod(
                acc * F.lit(1000003).cast("long") + tok_hash(x), mod
            ),
        ),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): hash every k-gram of the token stream, slide a
    window over ``window`` consecutive gram hashes, and keep each
    window's minimum. The selection guarantee: any token run of length
    >= k + window - 1 shared by two documents yields at least one
    shared selected fingerprint — the local-dedup / plagiarism-scan
    primitive.

    Unlike :func:`fingerprint` (xxhash64, engine-specific), the gram
    hash here is the first 8 hex digits of sha256 over the
    space-joined gram, so the output is exactly reproducible in any
    engine (the registry carrier cross-checks it against DuckDB).

    All per-document work — tokenize, k-gram build, hashing,
    window-min selection, dedup — happens in codegen array expressions
    (``transform``/``slice``/``array_min``): zero Python, no explode
    until the final distinct fingerprint set, so the only shuffle a
    caller pays is whatever it does with the (id, fp) pairs. At 100 TB
    the fingerprint table is the join-ready near-dup index: group by
    ``fp`` to find candidate pairs, exactly like the MinHash band
    buckets in ``operators/dedup.py`` but with a shared-substring
    (not set-overlap) guarantee.

    Returns one row per distinct selected fingerprint per document:
    ``(id_col, fp)``.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    # Each stage is materialized as its OWN column: the hash array is
    # referenced twice downstream (size + every window slice), and a
    # single nested expression would re-evaluate the full sha256 gram
    # pass per reference — O(n_windows * n) hashes per document.
    # Multiply-referenced non-cheap aliases also stop CollapseProject
    # from fusing the projections back together.
    #
    # Two hardening details, both learned from the plan:
    # - sequence(1, m) with m < 1 generates a DESCENDING range, not an
    #   empty one, so each sequence is CASE-guarded; the n >= k+w-1
    #   row filter alone does not protect evaluation, because filter
    #   subexpression elimination can evaluate a pushed-down predicate
    #   subtree before the short-circuiting AND reaches it.
    # - explode_outer, not explode: InferFiltersFromGenerate turns a
    #   plain explode into a pushed-down `size(_sel) > 0` predicate
    #   with the ENTIRE fingerprint tree inlined — re-evaluated in an
    #   interpreted Filter (measured 17 s vs sub-second at sf0.1).
    #   The outer variant infers nothing; pre-filtered docs never
    #   produce a null fp anyway, and the cheap isnotnull keeps the
    #   contract if a caller removes the row filter.
    def seq1(m):
        return F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(
            F.array().cast("array<int>")
        )

    staged = (
        df.withColumn("_toks", toks)
        .filter(F.size("_toks") >= k + window - 1)
        .withColumn(
            "_gh",
            F.transform(
                seq1(F.size("_toks") - (k - 1)),
                lambda i: F.conv(
                    F.substring(
                        F.sha2(F.concat_ws(" ", F.slice("_toks", i, k)), 256), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint"),
            ),
        )
        .withColumn(
            "_sel",
            F.array_distinct(
                F.transform(
                    seq1(F.size("_gh") - (window - 1)),
                    lambda j: F.array_min(F.slice("_gh", j, window)),
                )
            ),
        )
    )
    return (
        staged.select(F.col(id_col), F.explode_outer("_sel").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Add Gopher-style repetition signals (Rae et al. 2021 §A1.1):

    - ``dup_word_frac``: 1 - distinct_words/total_words — the fraction
      of word occurrences that are repeats;
    - ``top_bigram_frac``: occurrences of the single most frequent
      bigram over all bigram slots.

    Both are pure per-row array expressions (no explode, no shuffle,
    whole-stage codegen): the bigram mode is found by sorting the gram
    list and taking the longest equal-run via an ``aggregate`` fold
    with a (prev, run, best) struct accumulator — max run length of a
    sorted list == max frequency. At 100 TB this is the difference
    between a narrow scan-time filter and an explode that multiplies
    the corpus by tokens-per-doc before a groupBy.
    """
    toks = F.split(F.lower(F.col(text_col)), "\\s+")
    total = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    dup_frac = F.round(
        F.lit(1.0) - uniq.cast("double") / F.greatest(total, F.lit(1)), 6
    )
    k = F.greatest(total - F.lit(1), F.lit(0))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at(toks, i + F.lit(1)), F.element_at(toks, i + F.lit(2))
    )
    grams = F.when(k > 0, F.transform(F.sequence(F.lit(0), k - F.lit(1)), gram)).otherwise(
        F.array().cast("array<string>")
    )
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    run_next = lambda acc, x: F.when(x == acc["prev"], acc["run"] + 1).otherwise(  # noqa: E731
        F.lit(1)
    )
    best = F.aggregate(
        F.array_sort(grams),
        acc0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_next(acc, x).alias("run"),
            F.greatest(acc["best"], run_next(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_bigram = F.round(best.cast("double") / F.greatest(k, F.lit(1)), 6)
    return df.select(
        F.col(id_col),
        dup_frac.alias("dup_word_frac"),
        top_bigram.alias("top_bigram_frac"),
    )
