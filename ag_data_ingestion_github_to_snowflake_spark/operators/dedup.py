"""Deduplication operators for large-scale training-data pipelines.

Exact dedup (content hash), MinHash+LSH near-dup, SimHash, and n-gram
Jaccard verification — expressed with built-in JVM-side functions, with
one measured exception: the K-way minhash inner loop is an
Arrow-batched pandas UDF (one numpy (K, |shingles|) matmul-shaped pass
per doc). Spark's higher-order functions (transform/array_min) are
interpreted per element, not whole-stage-codegen'd, and the vectorized
kernel is ~3x faster at fixture scale with bit-identical output; the
JVM-only formulation is kept as ``minhash_signatures`` for SQL-surface
composition. Scale shapes:

- exact: hash-groupBy — one shuffle on a 256-bit digest.
- MinHash: shingles -> K independent min-hashes via xxhash64 with
  distinct seeds -> B bands -> groupBy band-hash buckets -> pair join
  only within buckets (candidate set ≪ n²).
- SimHash: token hashes -> per-bit weighted sum -> 64-bit signature;
  near-dups share signatures within small Hamming distance.
- verification: exact Jaccard on candidate pairs only (array_intersect/
  array_union on the two shingle sets).

Capability grounding: the reference implies id-idempotency (cache keyed
by repo id + at-least-once resume refetching rows,
/root/reference/src/extract_github_data.py:452-456, 714); content-level
dedup is the north-star extension (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: keep the lowest id per sha2-256 content hash.

    One shuffle on the digest; group state is (hash, min_id) — constant
    per group, no skew risk beyond genuinely duplicated content.
    """
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Add a ``shingle`` array column of distinct word n-grams.

    Built with O(1) element_at lookups per gram (slice() would allocate
    a fresh array per index — O(n²) churn on long docs). All codegen'd.
    """
    df = df.withColumn("_toks", F.split(F.col(text_col), "\\s+"))
    toks = F.col("_toks")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + F.lit(j + 1)) for j in range(n)]
    )
    grams = F.transform(F.sequence(F.lit(0), k - F.lit(1)), gram)
    return df.withColumn(
        "shingle", F.array_distinct(F.when(k > 0, grams).otherwise(F.array().cast("array<string>")))
    ).drop("_toks")


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", num_hashes: int = 32
) -> DataFrame:
    """Add ``sig`` — array of *num_hashes* min-hash values over shingles.

    Universal hashing: each shingle is string-hashed ONCE (xxhash64,
    bounded to 31 bits), then the K signature functions are cheap
    multiply-add permutations h_i(x) = (a_i*x + b_i) mod p — the
    standard MinHash trick that keeps per-row cost O(|shingles|)
    string hashes + O(|shingles|*K) integer ops. No shuffle; operands
    stay < 2^62 so ANSI arithmetic never overflows.
    """
    p = 2147483647  # 2^31 - 1, prime
    source = "hshingle" if "hshingle" in df.columns else "shingle"
    if source == "hshingle":
        base = F.col("hshingle")
    else:
        base = F.transform("shingle", lambda s: F.pmod(F.xxhash64(s), F.lit(p).cast("long")))
    df = df.withColumn("_h", base)
    # Deterministic coefficients derived from the hash index (odd a_i).
    # ONE index-parameterized nested transform instead of num_hashes
    # unrolled array_min(transform(...)) trees: the values are
    # identical, but the expression tree shrinks ~32x, which cuts
    # Catalyst analysis+codegen from seconds to milliseconds — at
    # fixture scale the unrolled plan's COMPILE time dominated the
    # whole query (measured: sf0.001 and sf0.1 both ~2.6 s end-to-end).
    sig = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(num_hashes - 1).cast("long")),
        lambda i: F.array_min(
            F.transform(
                F.col("_h"),
                lambda x: F.pmod(
                    (i * F.lit(2).cast("long") + F.lit(1).cast("long")) * x
                    + (i * F.lit(40503).cast("long") + F.lit(7).cast("long")),
                    F.lit(p).cast("long"),
                ),
            )
        ),
    )
    return df.withColumn("sig", sig).drop("_h")


def hashed_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, hash_fn=None
) -> DataFrame:
    """Add ``hshingle`` — the distinct shingle set as 31-bit hashes.

    Hashing each n-gram down to a long as it is built means the gram
    strings are never materialized as a column: signatures AND Jaccard
    verification both run over compact long arrays (hash-collision
    error ~2^-31 — immaterial for near-dup detection).

    ``hash_fn`` overrides the gram hash family (default xxhash64);
    pass ``md5_hash60`` for a DuckDB-replayable pipeline.
    """
    p = 2147483647
    gram_hash = hash_fn if hash_fn is not None else F.xxhash64
    df = df.withColumn("_toks", F.split(F.col(text_col), "\\s+"))
    toks = F.col("_toks")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    gram = lambda i: F.pmod(  # noqa: E731
        gram_hash(
            F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j + 1)) for j in range(n)])
        ),
        F.lit(p).cast("long"),
    )
    grams = F.transform(F.sequence(F.lit(0), k - F.lit(1)), gram)
    return df.withColumn(
        "hshingle",
        F.array_distinct(F.when(k > 0, grams).otherwise(F.array().cast("array<long>"))),
    ).drop("_toks")


def _sig_arrow_udf(num_hashes: int):
    """Vectorized minhash signatures: same (a_i*x + b_i) mod p family as
    ``minhash_signatures`` (bit-identical output, asserted by
    tests/test_operators.py), computed as one numpy broadcastained
    (K, |shingles|) pass per document inside an Arrow batch.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    p = 2147483647
    a = (2 * np.arange(num_hashes) + 1).astype(np.int64)[:, None]
    b = (np.arange(num_hashes) * 40503 + 7).astype(np.int64)[:, None]

    def sig(hs):
        out = []
        for arr in hs:
            if arr is None or len(arr) == 0:
                # the HOF twin yields [null]*K here; an all-null array
                # and a null array band/verify identically (empty docs
                # can never reach a positive jaccard), so plain None
                # keeps the cheap path
                out.append(None)
                continue
            x = np.asarray(arr, dtype=np.int64)[None, :]
            out.append(((a * x + b) % p).min(axis=1).tolist())
        return pd.Series(out)

    return pandas_udf(sig, T.ArrayType(T.LongType()))


def _band_hashes(num_hashes: int, bands: int, hash_fn=None):
    """Array of ``bands`` LSH band hashes over the ``sig`` column.

    Index-parameterized (one nested transform) rather than unrolled per
    band — same values as hashing the comma-joined band rows, but a
    constant-size expression tree (see minhash_signatures on why
    compile time matters). ``array_join`` and ``concat_ws`` agree on
    null handling (both drop nulls), so hashes are unchanged.
    ``hash_fn`` overrides the bucket hash family (default xxhash64).
    """
    rows_per_band = num_hashes // bands
    bucket_hash = hash_fn if hash_fn is not None else F.xxhash64
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: bucket_hash(
            F.array_join(
                F.transform(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string"),
                ),
                ",",
            )
        ),
    )


def minhash_near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn=None,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH -> verify,
    with BAND-LOCAL verification.

    Returns (id_a, id_b, jaccard) for verified near-duplicate pairs.

    The hashed shingle array rides along through the band shuffle
    (``collect_list(struct(id, hshingle))`` per bucket) so exact
    Jaccard is scored inside the same task that discovers the
    candidate pair — no verify joins back to the shingle table, no
    persist, one linear plan evaluating the tokenize+hash subtree
    exactly once. The final ``distinct`` collapses pairs that collide
    in several bands (jaccard is deterministic per pair, so the scored
    triple is distinct-safe). Cost shape: the band shuffle carries
    ``bands`` copies of each doc's shingle hashes (longs, ~52/doc on
    the fixture corpus). For very long documents the duplication can
    exceed the two verify joins it replaces; at fixture lengths the
    ride-along is faster than a light band shuffle plus verify joins
    (``OPTIMIZATION_r14.md`` §5).
    """
    sh = hashed_shingles(df.select(id_col, text_col), text_col, n, hash_fn=hash_fn)
    sig = sh.withColumn("sig", _sig_arrow_udf(num_hashes)(F.col("hshingle")))
    banded = sig.select(
        F.col(id_col),
        F.col("hshingle"),
        F.posexplode(
            _band_hashes(num_hashes, bands, hash_fn=hash_fn)
        ).alias("band_idx", "band_hash"),
    )
    members = F.array_sort(
        F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("hshingle")))
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                F.col("members"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("members"),
                        i + F.lit(2),
                        F.greatest(F.size("members") - i - 1, F.lit(0)),
                    ),
                    lambda y: F.struct(
                        x["id"].alias("id_a"),
                        y["id"].alias("id_b"),
                        x["hshingle"].alias("sh_a"),
                        y["hshingle"].alias("sh_b"),
                    ),
                ),
            )
        ),
        lambda s: s["id_a"] < s["id_b"],
    )
    inter = F.size(F.array_intersect("p.sh_a", "p.sh_b"))
    union = F.size(F.array_union("p.sh_a", "p.sh_b"))
    return (
        banded.groupBy("band_idx", "band_hash")
        .agg(members.alias("members"))
        .filter(F.size("members") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def md5_hash60(col) -> Column:
    """60-bit integer hash from md5 — bit-identical in Spark and DuckDB.

    ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)`` on the DuckDB
    side; 15 hex chars = 60 bits keeps the value in positive BIGINT
    range on both engines. Used by oracle-verified registry queries;
    xxhash64 remains the default fast path for operator users.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """64-bit SimHash signature per document, computed via explode+agg.

    Token hash bits vote per position: sum(+1/-1) per bit -> sign ->
    signature. Implemented as explode(tokens) -> per-(doc,bit) weight
    via bitwise ops -> groupBy doc. One shuffle on doc_id; partial
    aggregation makes the map side cheap.

    ``hash_fn`` (Column -> Column) overrides the token hash family —
    default ``xxhash64`` (fastest JVM path). The registry query passes
    an md5-derived 60-bit hash (md5_hash60) so a DuckDB oracle can replay the
    signature bit-for-bit; any hash whose bits are uniform works, and
    the voting/blocking machinery is identical either way.
    """
    token_hash = hash_fn if hash_fn is not None else F.xxhash64
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "\\s+")).alias("tok")
    ).withColumn("h", token_hash(F.col("tok")))
    # Bit-packed voting: the naive form needs 64 sum aggregates (one
    # per signature bit) over the exploded token table — the dominant
    # cost at corpus scale. Instead pack the per-bit ONES-counters into
    # 16 longs of four 16-bit lanes each: group g lane b (shift 16*b)
    # counts tokens whose hash bit (4*g + b) is set. The ±1 vote never
    # materializes because  sum(±1) > 0  <=>  2*ones > n_tokens.
    # 16-bit lanes cap per-document token counts at 65535 before a
    # lane could overflow into its neighbor — far beyond the fixture
    # and typical corpus documents; callers chunking 100 TB docs that
    # long should pre-truncate. 17 aggregates replace 64.
    # Generated SQL, not ~700 chained py4j Column calls: the identical
    # integer expressions build in milliseconds instead of ~1.5 s
    # (``OPTIMIZATION_r14.md`` §4); bit-identical either way (pinned by
    # the dedup_simhash_pairs oracle).
    packed_aggs = [
        F.expr(
            "sum("
            + " + ".join(
                f"(shiftright(h, {4 * g + b}) & 1) * {1 << (16 * b)}L"
                for b in range(4)
            )
            + ")"
        ).alias(f"p{g}")
        for g in range(16)
    ]
    votes = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"), *packed_aggs
    )
    sig_sql = " | ".join(
        f"(CASE WHEN (shiftright(p{g}, {16 * b}) & 65535) * 2 > _n"
        f" THEN shiftleft(1L, {4 * g + b}) ELSE 0L END)"
        for g in range(16)
        for b in range(4)
    )
    return votes.select(F.col(id_col), F.expr(sig_sql).alias("simhash"))


def simhash_near_pairs(sig_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Blocks on 4 x 16-bit chunks (pigeonhole: distance ≤3 ⇒ at least one
    chunk equal), so the join is chunk-bucketed, never all-pairs.
    """
    chunks = sig_df.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 16 * c).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    # Bucket-then-expand, exactly like the MinHash band buckets above:
    # ONE shuffle on (chunk_idx, chunk_val) instead of two join sides.
    # The win here is structural, not dramatic (~2.6 s -> ~2.3 s at
    # sf0.1: exchange reuse already deduplicated most of the aliased
    # self-join) — the remaining cost is the signature vote itself,
    # whose explode+hash-agg form measured 1.8x FASTER than a
    # shuffle-free 16-lane F.aggregate array fold, so the explode
    # stays. Per-bucket expansion emits the same pairs the join did,
    # in the same task.
    members = F.array_sort(
        F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("simhash")))
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                F.col("members"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("members"),
                        i + F.lit(2),
                        F.greatest(F.size("members") - i - 1, F.lit(0)),
                    ),
                    lambda y: F.struct(
                        x["id"].alias("id_a"),
                        y["id"].alias("id_b"),
                        x["simhash"].alias("sig_a"),
                        y["simhash"].alias("sig_b"),
                    ),
                ),
            )
        ),
        lambda s: s["id_a"] < s["id_b"],
    )
    ham = F.bit_count(F.col("p.sig_a").bitwiseXOR(F.col("p.sig_b")))
    return (
        chunks.groupBy("chunk_idx", "chunk_val")
        .agg(members.alias("members"))
        .filter(F.size("members") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------
def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag (train_id, eval_id, n_shared) pairs of training docs that
    share >= 1 distinct word n-gram with an eval/benchmark doc — the
    standard pre-training decontamination check (GPT-3 App. C / PaLM
    style: drop or scrub train docs overlapping the test set).

    Scale shape: the eval side is benchmark-sized (10^3-10^5 docs), so
    its exploded gram set is BROADCAST — the 100 TB train side is
    never shuffled by the join; the only shuffle is the partial-
    aggregated count over actual hit pairs, which is bounded by the
    contamination volume, not the corpus. Both sides reuse
    :func:`shingles` (distinct grams, so ``n_shared`` counts distinct
    shared grams — symmetric and order-free).
    """
    tr = shingles(train, text_col, n).select(
        F.col(id_col).alias("train_id"), F.explode("shingle").alias("gram")
    )
    ev = shingles(evalset, text_col, n).select(
        F.col(id_col).alias("eval_id"), F.explode("shingle").alias("gram")
    )
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin)
# ---------------------------------------------------------------------------
def prefix_filter_similar_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT whole-document token-set Jaccard join: every (id_a, id_b,
    jaccard) pair with ``jaccard >= threshold`` — no approximation, no
    missed pairs — without an all-pairs comparison.

    The prefix-filtering principle (Chaudhuri et al. ICDE'06 /
    Bayardo et al. WWW'07 "All Pairs"; the same family PPJoin refines):
    order the vocabulary by ascending global frequency (rarest first)
    and keep only each document's first ``s - ceil(t*s) + 1`` tokens as
    its *prefix*. Two sets with Jaccard >= t MUST share at least one
    prefix token, so joining on prefix tokens alone loses nothing,
    while the candidate space collapses because prefixes are built from
    RARE tokens — the frequent-token skew that would dominate a naive
    token join is structurally excluded. MinHash-LSH
    (:func:`minhash_near_dedup`) is the probabilistic sibling; this is
    the exact one, and the right choice when recall must be 1.0
    (contractual dedup, eval decontamination).

    Scale shape at 100 TB: the vocabulary table is corpus-vocabulary
    sized (≪ corpus). The frequency ORDER does not need a dense
    integer rank (any total order works for prefix selection), so the
    rank is the zero-padded ``(count, token)`` string itself — pure
    map-side after the vocab aggregate, no global sort, no id-minting
    pass (a dense-rank variant via :mod:`..operators.ids` measured 2×
    slower in fixed overhead and bought nothing). The candidate join
    shuffles only exploded PREFIX tokens (a ``1 - t/(1+t)`` fraction
    of each doc, rare tokens only), the verify step joins back the
    full sorted rank arrays by id, and a size-band filter
    (``min >= t * max``) prunes candidates whose lengths already
    forbid the threshold. No cartesian anywhere.
    """
    toks = F.array_distinct(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    )
    docs = df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
    tok = docs.select("_id", F.explode("_toks").alias("token"))

    # Total order (cnt asc, token asc) as one zero-padded string key —
    # rarest-first, unique per token, order-preserving under string
    # comparison. Used directly as the prefix "rank".
    ranked_vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "token",
            F.format_string("%019d|%s", F.col("cnt"), F.col("token")).alias(
                "rank"
            ),
        )
    )

    ranked = tok.join(ranked_vocab, "token")
    arr = (
        ranked.groupBy("_id")
        .agg(F.sort_array(F.collect_list("rank")).alias("ranks"))
        .withColumn("s", F.size("ranks"))
    ).localCheckpoint(eager=False)
    # ^ lazy materialization: `arr` feeds THREE consumers (prefix
    # explode + both verify joins); without it each consumer re-runs
    # the tokenize -> vocab-join -> collect_list subtree. Measured at
    # sf0.1: 5.8 s -> 2.6 s first run at scale (~equal steady-state,
    # where exchange reuse already helps). Local-disk blocks, same
    # trade as the CC loop's checkpoints (operators/graph.py).
    # Lossless prefix length: s - ceil(t*s) + 1 (AllPairs lemma).
    plen = (F.col("s") - F.ceil(F.lit(threshold) * F.col("s")) + 1).cast("int")
    # Candidate generation, then join-back verification. The fused
    # alternative (Vernica/Carey/Li VLDB'10 "kernel": carry the full
    # rank array on every prefix row and score Jaccard inside the
    # candidate join) was measured 10× SLOWER here: scoring runs
    # per candidate ROW (before pair-dedup), so a pair sharing k
    # prefix tokens pays k array intersections — ruinous exactly when
    # buckets are dense. Deduping pairs FIRST caps verification at one
    # intersection per unique pair, at the cost of two id-equi-joins
    # (cheap: hash joins on a key that is unique on the build side).
    prefix = arr.select(
        "_id", "s", F.explode(F.slice("ranks", 1, plen)).alias("rank")
    )

    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.rank") == F.col("b.rank"))
            & (F.col("a._id") < F.col("b._id"))
            # size band: jaccard <= min(s)/max(s), so min >= t*max or prune
            & (F.least("a.s", "b.s") >= F.lit(threshold) * F.greatest("a.s", "b.s")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )

    va = arr.select(F.col("_id").alias("id_a"), F.col("ranks").alias("ra"), F.col("s").alias("sa"))
    vb = arr.select(F.col("_id").alias("id_b"), F.col("ranks").alias("rb"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("ra", "rb"))
    jacc = inter / (F.col("sa") + F.col("sb") - inter)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(jacc >= threshold)
        .select("id_a", "id_b", F.round(jacc, 6).alias("jaccard"))
    )


def prefix_filter_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT token-set CONTAINMENT join: every ordered pair (a, b),
    a != b, with ``|A ∩ B| / |A| >= threshold`` — the asymmetric
    sibling of :func:`prefix_filter_similar_pairs`. Containment finds
    sub-document duplication (quotes, excerpts, wrapped reposts) that
    symmetric Jaccard misses: a 50-token quote inside a 5000-token page
    has Jaccard ~0.01 but containment 1.0.

    Prefix lemma for containment (Chaudhuri et al. ICDE'06, asymmetric
    form): if B holds >= ceil(t*sA) of A's tokens, then among A's first
    ``sA - ceil(t*sA) + 1`` tokens under ANY fixed global order, at
    least one is in B — so joining A-prefixes against B's FULL posting
    list is lossless. The postings side is not prefix-filtered, but the
    rarest-first vocabulary order means only RARE tokens' postings are
    ever probed (an A-prefix is made of its rarest tokens), which is
    what bounds the candidate volume at scale. A size band prunes
    ``sB < ceil(t*sA)`` candidates before verification; the verify step
    joins back full sorted-rank arrays and computes one exact
    intersection per unique pair.
    """
    toks = F.array_distinct(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    )
    docs = df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
    tok = docs.select("_id", F.explode("_toks").alias("token"))
    ranked_vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "token",
            F.format_string("%019d|%s", F.col("cnt"), F.col("token")).alias(
                "rank"
            ),
        )
    )
    ranked = tok.join(ranked_vocab, "token")
    arr = (
        ranked.groupBy("_id")
        .agg(F.sort_array(F.collect_list("rank")).alias("ranks"))
        .withColumn("s", F.size("ranks"))
    ).localCheckpoint(eager=False)
    plen = (F.col("s") - F.ceil(F.lit(threshold) * F.col("s")) + 1).cast("int")
    prefix = arr.select(
        "_id", "s", F.explode(F.slice("ranks", 1, plen)).alias("rank")
    )
    postings = arr.select(
        F.col("_id").alias("_idb"),
        F.col("s").alias("sb"),
        F.explode("ranks").alias("rank"),
    )
    cand = (
        prefix.alias("a")
        .join(
            postings.alias("b"),
            (F.col("a.rank") == F.col("b.rank"))
            & (F.col("a._id") != F.col("b._idb"))
            # containment needs |B| >= ceil(t*|A|): prune by size first
            & (F.col("b.sb") >= F.ceil(F.lit(threshold) * F.col("a.s"))),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._idb").alias("id_b"))
        .distinct()
    )
    va = arr.select(
        F.col("_id").alias("id_a"), F.col("ranks").alias("ra"), F.col("s").alias("sa")
    )
    vb = arr.select(
        F.col("_id").alias("id_b"), F.col("ranks").alias("rb"), F.col("s").alias("sb")
    )
    inter = F.size(F.array_intersect("ra", "rb"))
    cont = inter / F.col("sa")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(cont >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("sa").cast("bigint").alias("size_a"),
            F.col("sb").cast("bigint").alias("size_b"),
            F.round(cont, 6).alias("containment"),
        )
    )
