"""Distributed BPE merge-rule training (Sennrich et al. 2016) as an
iterative Spark aggregation.

The classic tokenizer-training loop: segment the corpus into words
with frequencies, split words into symbol sequences, then repeatedly
(1) count adjacent symbol pairs corpus-wide, (2) pick the most
frequent pair, (3) fuse its non-overlapping left-to-right occurrences.
Each round is exactly one distributed aggregation (explode adjacent
pairs -> groupBy(pair) -> sum(freq)) plus a driver-side top-1 — the
canonical "one reduce per merge" shape every distributed BPE trainer
uses; the merge rewrite itself is a map-side array fold, no shuffle.

Scale notes (100 TB): the loop runs over the DISTINCT-WORD table, not
the raw corpus — one up-front shuffle collapses the corpus to
vocabulary size (~millions of rows regardless of corpus bytes), after
which each merge iteration shuffles only (pair, count) partials with
map-side combine. The per-round driver traffic is ONE row (the argmax
pair). The working vocab is persisted and re-persisted each round so
lineage stays one fold deep.

Determinism: ties on pair count break by (left, right) string order,
so the learned merge table is a pure function of the corpus. Verified
against a pure-Python reference implementation in
``tests/test_bpe.py`` (the loop is driver-coordinated and iterative,
hence a rows-only registry entry — SURVEY §7.4's non-SQL-expressible
class).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

END_OF_WORD = "</w>"


def _merge_pair_expr(sym: Column, left: str, right: str) -> Column:
    """Fuse non-overlapping (left, right) occurrences left-to-right in
    one array fold: the accumulator carries (emitted prefix, pending
    symbol); a (pending=left, next=right) hit emits the fused token and
    clears the pending slot so overlaps ("aaa" under (a,a)) fuse like
    the reference tokenizer."""
    fused = left + right

    def step(acc: Column, s: Column) -> Column:
        hit = (
            acc["prev"].isNotNull()
            & (acc["prev"] == F.lit(left))
            & (s == F.lit(right))
        )
        out_else = F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )
        return F.when(
            hit,
            F.struct(
                F.concat(acc["out"], F.array(F.lit(fused))).alias("out"),
                F.lit(None).cast("string").alias("prev"),
            ),
        ).otherwise(F.struct(out_else.alias("out"), s.alias("prev")))

    zero = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )
    return F.aggregate(
        sym,
        zero,
        step,
        lambda acc: F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        ),
    )


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq): lowercase whitespace tokenization + one groupBy."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _batch_accept(
    top: list,
    tail_bound: int,
    symbols: set[str],
    max_accepts: int,
) -> list[tuple[str, str, int]]:
    """Pick the longest prefix of the sorted candidate list that is
    provably SEQUENTIAL-EQUIVALENT to land as one batch.

    ``top`` is the candidate pair table sorted by (cnt desc, a, b) —
    the exact sequential argmax order. A later candidate stays the
    sequential argmax at its own step iff nothing an earlier accepted
    merge creates or changes can outrank it. Three facts make a safe
    prefix computable driver-side:

    1. Merging (a, b) never increases the count of a pair disjoint
       from {a, b}; accepted merges are pairwise token-disjoint, so
       each accepted candidate's own count is unchanged at its step.
    2. A derived pair ((x, ab) / (ab, y)) created by an accepted merge
       is bounded by its progenitor's current count, and every
       progenitor shares a token with the merge — so progenitors are
       either visible conflicts (which stop the walk) or rank below it
       (count <= the stop bound B).
    3. Exception to (2): if the fused name ``a+b`` already exists as a
       vocabulary symbol, pairs touching that symbol can GAIN count
       beyond their current value — so a colliding fusion closes the
       batch right after itself.

    B = max(first conflicting candidate's count, the tail bound = the
    count of the last collected row when the pool was truncated, i.e.
    an upper bound on every invisible pair). Accepts are then trimmed
    to those with count STRICTLY above B — strict, because an exact
    tie could flip on the (a, b) string tie-break via a derived pair
    whose name is unknown here. An empty result means "no provable
    batch"; the caller falls back to the always-correct single argmax.
    """
    accepted: list[tuple[str, str, int]] = []
    touched: set[str] = set()
    created: set[str] = set()  # names fused by earlier accepts THIS walk
    bound = tail_bound
    stop = len(top)  # first index NOT cleared by the walk, if any
    for i, row in enumerate(top):
        a, b, cnt = row["a"], row["b"], int(row["cnt"])
        if len(accepted) >= max_accepts or a in touched or b in touched:
            stop = i  # this candidate's count bounds derived pairs too
            break
        accepted.append((a, b, cnt))
        touched.add(a)
        touched.add(b)
        if a + b in symbols or a + b in created:
            # fused-name collision: pairs touching the existing (or
            # just-created — two token-disjoint accepts can fuse to the
            # SAME name, e.g. lo+west and low+est) symbol may RISE, so
            # nothing after this accept is provable — and the next
            # (unscanned) candidate still feeds the bound.
            stop = i + 1
            break
        created.add(a + b)
    if stop < len(top):
        bound = max(bound, int(top[stop]["cnt"]))
    safe: list[tuple[str, str, int]] = []
    for a, b, cnt in accepted:
        if cnt > bound:
            safe.append((a, b, cnt))
        else:
            break
    return safe


def train_bpe_merges(
    spark: SparkSession,
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    batch_size: int = 8,
    candidate_pool: int = 512,
    stats: dict | None = None,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules.

    Returns (rank, left, right, pair_count) — rank is 1-based learn
    order. Adjacent-pair counts are overlapping (reference-tokenizer
    convention); the rewrite fuses non-overlapping left-to-right.

    Each driver round collects the top ``candidate_pool`` pairs once
    and lands up to ``batch_size`` merges from them when the batch is
    provably identical to running them one at a time (see
    ``_batch_accept``) — cutting driver round-trips up to
    ``batch_size``-fold on corpora with independent frequent pairs
    while guaranteeing the merge table is bit-identical to the
    sequential reference algorithm. When no multi-merge batch is
    provable (tied counts, cascading fusions), the round degrades to
    the classic single argmax. ``stats``, if given, receives
    ``rounds`` = number of driver round-trips taken.
    """
    wf = word_frequencies(docs, text_col=text_col)
    syms = wf.select(
        "freq",
        F.concat(
            F.split(F.col("w"), ""), F.array(F.lit(END_OF_WORD))
        ).alias("sym"),
    ).persist()
    syms.count()  # materialize before the loop
    # Driver-side vocabulary (bounded: distinct chars + one per merge);
    # only consulted for fused-name collisions in _batch_accept.
    symbols = {
        r["s"]
        for r in syms.select(F.explode("sym").alias("s")).distinct().collect()
    }

    merges: list[tuple[int, str, str, int]] = []
    rounds = 0
    try:
        while len(merges) < n_merges:
            pool = max(2, min(candidate_pool, 64 * batch_size))
            pairs = (
                syms.select(
                    "freq",
                    # zip(sym[:-1], sym[1:]): empty-safe when a word has
                    # fully fused to ONE token (sequence(1, 0) would
                    # yield [1, 0] and an ANSI index error there)
                    F.explode(
                        F.expr(
                            "zip_with(slice(sym, 1, size(sym) - 1),"
                            " slice(sym, 2, size(sym) - 1),"
                            " (x, y) -> struct(x AS a, y AS b))"
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("freq").alias("cnt"))
            )
            top = pairs.orderBy(F.desc("cnt"), "a", "b").limit(pool).collect()
            rounds += 1
            if not top:
                break
            tail_bound = int(top[-1]["cnt"]) if len(top) == pool else 0
            batch = _batch_accept(
                top, tail_bound, symbols, min(batch_size, n_merges - len(merges))
            )
            if not batch:
                # No provable batch — the global argmax alone is always
                # exact (it IS the sequential step).
                r0 = top[0]
                batch = [(r0["a"], r0["b"], int(r0["cnt"]))]
            rewrite = F.col("sym")
            for a, b, cnt in batch:
                merges.append((len(merges) + 1, a, b, cnt))
                symbols.add(a + b)
                rewrite = _merge_pair_expr(rewrite, a, b)
            nxt = syms.select("freq", rewrite.alias("sym")).persist()
            nxt.count()
            syms.unpersist()
            syms = nxt
    finally:
        syms.unpersist()
    if stats is not None:
        stats["rounds"] = rounds

    return spark.createDataFrame(
        merges, "rank INT, left STRING, right STRING, pair_count BIGINT"
    )


def apply_bpe_merges_expr(sym: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply a learned merge table in order — a composition of array
    folds, map-side only (tokenize at inference time)."""
    for left, right in merges:
        sym = _merge_pair_expr(sym, left, right)
    return sym


def bpe_apply_oracle_expr(sym_expr: str, merges: list[tuple[str, str]]) -> str:
    """DuckDB replay of ``apply_bpe_merges_expr``: the same left-to-right
    non-overlapping fold as ``_merge_pair_expr``, via ``list_reduce``.

    The accumulator is a flat VARCHAR[] whose LAST element is the
    pending (not-yet-emitted) symbol — chr(0) marks "no pending" (NUL
    cannot occur in whitespace-split text tokens). A struct-shaped
    accumulator would be the direct transcription of the Spark fold,
    but DuckDB 1.0's list_reduce does not thread struct FIELDS through
    the accumulator correctly, so the state is list-encoded instead:

    - hit (pending == left, next == right):
      emitted ++ [fused, MARK]
    - else: (pending == MARK ? emitted : emitted ++ [pending]) ++ [next]
      — and ``emitted ++ [pending]`` is just the accumulator itself.

    list_reduce takes no initial value (it seeds with the first
    element); each symbol maps to the single-element list [s], making
    the seed identical to step(empty-state, s1). Equality to the Spark
    fold is pinned by tests and registry parity. Single quotes in
    merge tokens are unsupported (never produced by the whitespace
    tokenization).
    """
    expr = sym_expr
    for left, right in merges:
        if "'" in left or "'" in right:
            raise ValueError("merge tokens with quotes unsupported in oracle")
        fused = left + right
        step = (
            "(acc, e) -> CASE "
            f"WHEN acc[len(acc)] = '{left}' AND e[len(e)] = '{right}' "
            f"THEN acc[1:len(acc) - 1] || ['{fused}', chr(0)] "
            "ELSE (CASE WHEN acc[len(acc)] = chr(0) "
            "THEN acc[1:len(acc) - 1] ELSE acc END) || [e[len(e)]] END"
        )
        folded = f"list_reduce(list_transform({expr}, s -> [s]), {step})"
        expr = (
            f"(SELECT CASE WHEN f[len(f)] = chr(0) THEN f[1:len(f) - 1] "
            f"ELSE f END FROM (SELECT {folded} AS f))"
        )
    return expr
