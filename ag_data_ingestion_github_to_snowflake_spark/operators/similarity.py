"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, plus an LSH
(random-hyperplane) bucketed variant as the 100 TB scale path.

Scale design:
- Brute force is O(n_query * n_corpus); correct but only viable when
  one side is small enough to broadcast. We broadcast the query set —
  the corpus streams through executors untouched, so it scales with
  corpus size linearly and never shuffles the corpus.
- The LSH variant hashes vectors to sign-pattern buckets using
  deterministic pseudo-random hyperplanes; candidates share a bucket in
  at least one table. Shuffle key = (table, bucket) — candidate join,
  not all-pairs.
- Dot products run as F.aggregate/zip_with fold over the array —
  JVM-side, no Python. For very wide vectors a pandas_udf over Arrow
  would batch better; at dim=64 the fold wins (no serialization).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (excluding itself). Query side is broadcast.

    Returns (query_id, neighbor_id, cosine, rnk). Ranking uses the
    rounded similarity with neighbor-id tiebreak so results are fully
    deterministic (and oracle-comparable) even under float ties.
    """
    # Norms precomputed per side BEFORE the join: inside the crossed
    # join each norm would be recomputed once per pair (O(n_q*n_c*dim)
    # redundant folds) instead of once per vector.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")), 6
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no RNG state).

    Components from a fixed-seed sine sequence — the classic
    hash-to-uniform trick; adequate for LSH bucketing and fully
    reproducible across runs/executors.
    """
    planes = []
    for p in range(n_planes):
        vec = []
        for d in range(dim):
            x = math.sin(seed + p * 7919 + d * 104729) * 43758.5453
            vec.append((x - math.floor(x)) * 2.0 - 1.0)
        planes.append(vec)
    return planes


def lsh_planes_matrix(n_planes: int, n_tables: int, dim: int) -> np.ndarray:
    """All tables' hyperplanes as one (n_tables*n_planes, dim) float64
    matrix — the exact values the LSH bucketing uses, exposed so an
    oracle can embed the identical literals (plans/llm_ops.py builds
    the DuckDB replay SQL from this at import time)."""
    return np.array(
        [
            plane
            for t_idx in range(n_tables)
            for plane in _hyperplanes(dim, n_planes, seed=42 + t_idx * 1009)
        ],
        dtype=np.float64,
    )


def _lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    exact_fold: bool = False,
) -> DataFrame:
    """Shared LSH candidate generation: (query_id, neighbor_id,
    q_vec, c_vec) pairs sharing at least one hash-table bucket.

    ``exact_fold=True`` computes each plane dot product as a strict
    SEQUENTIAL left fold (numpy cumsum along the dim axis) instead of a
    BLAS matmul. BLAS uses blocked/pairwise summation, so a dot that
    lands within rounding distance of 0.0 could take a different sign
    than an engine that folds left-to-right — and a flipped sign flips
    a bucket bit. The sequential fold is IEEE-identical to DuckDB's
    ``list_sum`` (the same equivalence the PCA projection oracle
    proved), which makes the whole bucket assignment — and therefore
    the candidate set — bit-replayable in SQL. Costs one extra
    (chunk, planes, dim) temporary per Arrow batch; the matmul stays
    the default for operator users.
    """

    # All tables' hyperplanes as one matrix: bucketing is a single
    # numpy op per Arrow batch. The naive alternative —
    # n_tables*n_planes literal array-fold expressions — explodes
    # codegen compile time and runs element-at-a-time.
    planes_matrix = lsh_planes_matrix(n_planes, n_tables, dim)
    powers = np.array([1 << p for p in range(n_planes)], dtype=np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        if exact_fold:
            dots = np.empty((len(mat), planes_matrix.shape[0]))
            for lo in range(0, len(mat), 1024):  # bound the temporary
                chunk = mat[lo : lo + 1024]
                prod = chunk[:, None, :] * planes_matrix[None, :, :]
                dots[lo : lo + 1024] = np.cumsum(prod, axis=2)[:, :, -1]
            signs = dots >= 0
        else:
            signs = (mat @ planes_matrix.T) >= 0  # (batch, tables*planes)
        signs = signs.reshape(len(mat), n_tables, n_planes)
        buckets = (signs * powers).sum(axis=2)  # (batch, tables)
        return pd.Series(list(buckets))

    def bucket_cols(df: DataFrame, vid: str) -> DataFrame:
        out = df.withColumn("_buckets", bucket_ids(F.col(vec_col)))
        return out.select(
            F.col(vid),
            F.posexplode("_buckets").alias("tbl", "bucket"),
        )

    # Candidate pairs dedup on IDs ONLY: a pair colliding in all
    # n_tables tables would otherwise drag 2 dim-wide float vectors
    # through the distinct() shuffle once per table. Vectors (+ norms,
    # computed once per vector) re-attach after the dedup.
    qb = bucket_cols(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)), "query_id"
    )
    cb = bucket_cols(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)), "neighbor_id"
    )
    pair_ids = (
        qb.join(cb, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    return pair_ids.join(q_vecs, "query_id").join(c_vecs, "neighbor_id")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    exact_fold: bool = False,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    Each of ``n_tables`` hash tables assigns a vector the integer whose
    bits are sign(v·h_i) over that table's ``n_planes`` hyperplanes.
    Query and corpus join on (table, bucket); exact cosine + window
    rank run only on candidates. Recall grows with n_tables; cost is
    bucket-local. ``exact_fold`` makes the bucketing SQL-replayable
    (see ``_lsh_candidates``).
    """

    cand = _lsh_candidates(
        corpus, queries, id_col, vec_col, n_planes, n_tables, dim, exact_fold
    )
    scored = cand.withColumn(
        "cosine",
        F.round(
            _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")), 6
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: the classic partition-by-centroid index
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 8,
    dim: int = 64,
    iters: int = 2,
    seed: int = 7,
    sample_fraction: float | None = None,
    max_train: int | None = None,
) -> np.ndarray:
    """Distributed Lloyd's k-means for IVF cells, fully deterministic.

    - init: seeded pseudo-random unit vectors (no RNG state, identical
      on every run/executor);
    - each iteration: one Arrow-batched argmax assignment pass + one
      ``groupBy(cell, pos)`` shuffle computing per-cell mean components
      (posexplode widens rows by ``dim``);
    - only the (n_cells x dim) aggregate ever reaches the driver —
      O(k*dim), independent of corpus size;
    - cells that lose all members keep their previous centroid.

    ``sample_fraction`` trains on a seeded Bernoulli sample of the
    corpus — standard IVF practice (FAISS trains on ~30-256 vectors per
    cell): every Lloyd iteration then scans fraction*N rows instead of
    N, and the index is still applied to the FULL corpus afterwards.
    At full probe (nprobe == n_cells) search results are exact
    regardless of where the centroids landed, so sampling changes only
    training cost, never full-probe answers. The (sampled) training set
    is persisted across the ``iters`` scans and released before return.

    ``max_train`` caps the training set and moves the Lloyd iterations
    to the DRIVER: one cluster-side sample + limit + collect, then pure
    numpy. This is FAISS's training regime (a bounded sample — ~30-256
    vectors per cell — trains the coarse quantizer; the index is then
    applied to the full corpus): driver memory is O(max_train * dim)
    regardless of corpus size, and per-iteration cost drops from a full
    cluster scan to one (max_train x dim) @ (dim x n_cells) matmul. The
    collected rows are lex-sorted before training so the centroid
    matrix is a pure function of the sampled SET, not of partition
    arrival order.

    Returns a unit-normalized (n_cells, dim) float64 matrix.
    """
    cents = np.array(_hyperplanes(dim, n_cells, seed=seed), dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = df.select(F.col(vec_col).alias("_v"))
    if sample_fraction is not None and sample_fraction < 1.0:
        vecs = vecs.sample(fraction=sample_fraction, seed=seed)
    if max_train is not None:
        rows = vecs.limit(max_train).collect()  # bounded: max_train * dim
        mat = np.array([r._v for r in rows], dtype=np.float64)
        if mat.size == 0:
            return cents
        mat = mat[np.lexsort(mat.T[::-1])]  # order-insensitive training set
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        unit = mat / norms
        for _ in range(iters):
            assign = (unit @ cents.T).argmax(axis=1)
            nxt = cents.copy()
            for cell in range(n_cells):
                members = mat[assign == cell]
                if len(members) == 0:
                    continue  # empty cell keeps its previous centroid
                mean = members.mean(axis=0)
                norm = np.linalg.norm(mean)
                nxt[cell] = mean / norm if norm > 0 else mean
            cents = nxt
        return cents
    vecs = vecs.persist()  # scanned once per Lloyd iteration
    try:
        for _ in range(iters):
            assigned = vecs.withColumn("_cell", _nearest_cell_udf(cents)(F.col("_v")))
            means = (
                assigned.select("_cell", F.posexplode("_v").alias("_pos", "_x"))
                .groupBy("_cell", "_pos")
                .agg(F.avg(F.col("_x").cast("double")).alias("_m"))
                .collect()  # bounded: n_cells * dim aggregate rows
            )
            nxt = cents.copy()
            touched = set()
            for row in means:
                nxt[row._cell, row._pos] = row._m
                touched.add(row._cell)
            for cell in touched:
                norm = np.linalg.norm(nxt[cell])
                if norm > 0:
                    nxt[cell] /= norm
            cents = nxt
    finally:
        vecs.unpersist()
    return cents


def _nearest_cell_udf(centroids: np.ndarray):
    """argmax-cosine cell assignment (one numpy matmul per Arrow batch;
    centroids ship once per task in the closure — O(k*dim) bytes)."""
    cents = centroids  # (n_cells, dim), unit-normalized

    @pandas_udf(T.IntegerType())
    def nearest(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return pd.Series(((mat / norms) @ cents.T).argmax(axis=1).astype(np.int32))

    return nearest


def _probe_cells_udf(centroids: np.ndarray, nprobe: int):
    """Top-``nprobe`` nearest cells per query vector (ties broken by
    cell id via stable argsort on (-score, id))."""
    cents = centroids

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        scores = (mat / norms) @ cents.T  # (batch, n_cells)
        order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    return probes


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate cosine top-k: corpus vectors live in exactly one
    centroid cell; each query searches only its ``nprobe`` nearest
    cells.

    Scale shape: assignment and probing are single matmul passes; the
    only shuffle is the equi-join on ``cell`` (candidate work is
    cell-local, never all-pairs). Skewed cells are AQE-splittable since
    the join key is the cell id. With ``nprobe == n_cells`` the search
    is exhaustive and provably equals ``brute_force_topk`` (each
    (query, corpus) pair is generated exactly once, since a corpus
    vector has exactly one cell) — that configuration is the
    oracle-verified twin; smaller ``nprobe`` is the production path.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    ).withColumn("cell", _nearest_cell_udf(centroids)(F.col("c_vec")))
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("q_norm"),
        )
        .withColumn("_cells", _probe_cells_udf(centroids, nprobe)(F.col("q_vec")))
        .select("query_id", "q_vec", "q_norm", F.explode("_cells").alias("cell"))
    )
    scored = (
        c.join(q, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")), 6
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ thr).

    LSH-bucketed self-join — the embedding analog of MinHash dedup.
    Thresholds the RAW cosine (rounding only the reported value), and
    works directly on the candidate set — no top-k cap, so vectors
    with many duplicates surface every pair.

    Unlike the query/corpus path (``_lsh_candidates``), the self-join
    variant materializes its two intermediates with lazy local
    checkpoints: the generic path referenced the input subtree FIVE
    times (two bucket-UDF passes + two vector re-attaches + the scan
    under each), so its cost scaled with the size of the UPSTREAM scan
    even when the filtered corpus was fixed — measured alpha 0.68 on
    the 10x scale fixture for a constant 400-vector corpus, vs ~0
    after (one scan, one Arrow bucket pass).
    """
    vecs = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            _norm(F.col(vec_col)).alias("_n"),
        )
        .localCheckpoint(eager=False)
    )
    planes_matrix = np.array(
        [
            plane
            for t_idx in range(n_tables)
            for plane in _hyperplanes(dim, n_planes, seed=42 + t_idx * 1009)
        ],
        dtype=np.float64,
    )
    powers = np.array([1 << p for p in range(n_planes)], dtype=np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def bucket_ids(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype=np.float64)
        signs = (mat @ planes_matrix.T) >= 0
        signs = signs.reshape(len(mat), n_tables, n_planes)
        return pd.Series(list((signs * powers).sum(axis=2)))

    buckets = (
        vecs.withColumn("_buckets", bucket_ids(F.col("_v")))
        .select("_id", F.posexplode("_buckets").alias("tbl", "bucket"))
        .localCheckpoint(eager=False)
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    pair_ids = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    va = vecs.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("q_vec"), F.col("_n").alias("q_norm")
    )
    vb = vecs.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("c_vec"), F.col("_n").alias("c_norm")
    )
    raw = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    return (
        pair_ids.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("_raw", raw)
        .filter(F.col("_raw") >= threshold)
        .select("id_a", "id_b", F.round("_raw", 6).alias("cosine"))
        .distinct()
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k_coarse: int = 30,
    k_final: int = 10,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: diversity-aware top-k.

    Plain top-k returns near-duplicate neighbors (a duplicated corpus
    returns the same passage k times); MMR (Carbonell & Goldstein,
    SIGIR 1998) greedily picks argmax over candidates of
    ``lambda * rel(c) - (1-lambda) * max_sim(c, selected)`` — relevance
    traded against redundancy with what is already chosen.

    Two-stage shape, which is how it scales: the DISTRIBUTED stage is
    the coarse candidate retrieval (``brute_force_topk`` here; the LSH
    or IVF paths compose identically) producing k_coarse rows per
    query, plus the k_coarse² candidate-pair cosines computed with the
    SAME JVM ``F.aggregate`` fold as stage 1 — so every float entering
    the greedy step is bit-identical to an independent SQL replay
    (`dedup_minhash_verified`'s discipline applied to retrieval). The
    greedy selection is quadratic-in-k_coarse but per-query-local: one
    vectorized numpy kernel per query via cogrouped ``applyInPandas``
    — never on the full corpus. Fully deterministic: relevance and
    pair penalties are rounded(6) cosines, scores are plain IEEE
    ``lambda*rel - (1-lambda)*penalty`` on those values (no
    intermediate re-rounding), and ties break on lowest neighbor id.

    Returns (query_id, mmr_rank, neighbor_id, score) with mmr_rank
    1..k_final; score is the raw IEEE selection score (inputs already
    rounded(6)), so an independent replay produces the identical double.
    """
    cands = brute_force_topk(corpus, queries, k_coarse, id_col, vec_col)
    sides = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    ca = cands.select("query_id", F.col("neighbor_id").alias("id_a")).join(
        sides.select(
            F.col("nid").alias("id_a"),
            F.col("vec").alias("vec_a"),
            F.col("nrm").alias("nrm_a"),
        ),
        "id_a",
    )
    cb = cands.select("query_id", F.col("neighbor_id").alias("id_b")).join(
        sides.select(
            F.col("nid").alias("id_b"),
            F.col("vec").alias("vec_b"),
            F.col("nrm").alias("nrm_b"),
        ),
        "id_b",
    )
    pairs = (
        ca.alias("ca")
        .join(
            cb.alias("cb"),
            F.col("ca.query_id") == F.col("cb.query_id"),
        )
        .select(
            F.col("ca.query_id").alias("query_id"),
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                6,
            ).alias("pc"),
        )
    )

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("mmr_rank", T.IntegerType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def kernel(cand_pdf: pd.DataFrame, pair_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(
                columns=["query_id", "mmr_rank", "neighbor_id", "score"]
            )
        cand_pdf = cand_pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = cand_pdf["neighbor_id"].to_numpy()
        idx = {int(v): i for i, v in enumerate(ids)}
        n = len(ids)
        rel = cand_pdf["cosine"].to_numpy(dtype=np.float64)
        pair = np.zeros((n, n))
        for ia, ib, c in zip(
            pair_pdf["id_a"], pair_pdf["id_b"], pair_pdf["pc"]
        ):
            pair[idx[int(ia)], idx[int(ib)]] = c
        chosen: list[int] = []
        penalty = np.zeros(n)
        rows = []
        for rank in range(1, min(k_final, n) + 1):
            score = lambda_ * rel - (1.0 - lambda_) * penalty
            score[chosen] = -np.inf
            pick = int(np.argmax(score))  # ties: lowest index == lowest id
            chosen.append(pick)
            penalty = np.maximum(penalty, pair[:, pick])
            # No final rounding: rel/penalty are already rounded(6)
            # cosines, so the score double is bit-identical to the SQL
            # twin's — decimal re-rounding would only reintroduce the
            # engines' half-rounding-mode divergence at midpoints.
            rows.append(
                (
                    int(cand_pdf["query_id"].iloc[0]),
                    rank,
                    int(ids[pick]),
                    float(score[pick]),
                )
            )
        return pd.DataFrame(
            rows, columns=["query_id", "mmr_rank", "neighbor_id", "score"]
        )

    return (
        cands.groupBy("query_id")
        .cogroup(pairs.groupBy("query_id"))
        .applyInPandas(kernel, out_schema)
    )


# ---------------------------------------------------------------------------
# IVF index persistence: build once, query many
# ---------------------------------------------------------------------------
def write_ivf_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: ``<path>/centroids`` (n_cells x dim, one
    bounded parquet) and ``<path>/cells`` — the corpus with norms and
    cell assignment, PARTITIONED BY cell.

    Partitioning by cell is the on-disk form of the IVF invariant:
    a probed search touches ``nprobe`` directories and never lists the
    rest (partition pruning at the file-listing level, the coarse
    sibling of parquet row-group skipping). Norms ride along so the
    query path never recomputes them. Build cost is one assignment
    pass + one partitioned write; afterwards any number of query
    batches reuse it — FAISS's build/search split, expressed as a
    lakehouse table layout.
    """
    spark = corpus.sparkSession
    # pandas -> Arrow, NOT createDataFrame(list-of-tuples): the plain-
    # Python path serializes through a Python-worker RDD job with a
    # measured ~5.7 s fixed overhead PER CALL, even for 8 rows; the
    # Arrow path is ~0.3 s.
    cent_pdf = pd.DataFrame(
        {
            "cell": range(len(centroids)),
            "centroid": [[float(x) for x in row] for row in centroids],
        }
    )
    spark.createDataFrame(
        cent_pdf, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    ).withColumn("cell", _nearest_cell_udf(centroids)(F.col("c_vec")))
    # repartition(n_cells, "cell") before partitionBy: without the
    # key, every write task emits one file per cell it happens to hold
    # (tasks x cells small files at scale); without the explicit COUNT
    # the shuffle fans to spark.sql.shuffle.partitions tasks of which
    # all but n_cells are empty yet still scheduled (measured 3.2 s vs
    # 0.8 s at sf0.1). Each cell lands as one coherent file set.
    assigned.repartition(len(centroids), "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/cells")


def read_ivf_index(spark, path: str) -> tuple[np.ndarray, DataFrame]:
    """Load a persisted IVF index: (centroid matrix, assigned corpus).

    The centroid collect is bounded at n_cells x dim (same bound as
    training); the assigned corpus stays distributed.
    """
    rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = np.array(
        [r.centroid for r in sorted(rows, key=lambda r: r.cell)],
        dtype=np.float64,
    )
    return cents, spark.read.parquet(f"{path}/cells")


def ivf_index_topk(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search over a PERSISTED index (``read_ivf_index``): same
    semantics as :func:`ivf_topk`, but assignment and norms come from
    the index table, so the corpus-side work is a pruned scan + the
    cell equi-join. The probed query side is batch-sized; broadcasting
    it lets dynamic partition pruning drop unprobed cell directories
    from the scan entirely.
    """
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("q_norm"),
        )
        .withColumn("_cells", _probe_cells_udf(centroids, nprobe)(F.col("q_vec")))
        .select("query_id", "q_vec", "q_norm", F.explode("_cells").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")), 6
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select(
            "query_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= k)
    )
