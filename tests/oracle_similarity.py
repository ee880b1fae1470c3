"""Pair-join parity oracles for the similarity engine (test-only).

The r3 implementations of cosine/LSH/IVF top-k and knn_join: broadcast or
bucket pair joins scored with interpreted higher-order-function cosine and a
windowed (cosine desc, id asc) rank, plus the pure-expression LSH bucket
path. All-pairs or literal-heavy by construction, so they live here, not in
``pitfeat``; tests assert the engine reproduces them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pitfeat.ops.similarity import (
    _dot,
    _hyperplane,
    _infer_dim,
    _ivf_codebook,
    _ivf_lists_udf,
    _kmeans_centroids,
    _multi_table_buckets,
    _norm,
)


def _score_and_rank(
    joined: DataFrame, k: int, id_col: str, query_id_col: str,
    corpus_vec: str = "__cv", query_vec: str = "__qv",
) -> DataFrame:
    """Shared exact-cosine re-rank tail for cosine_topk/lsh_topk/ivf_topk —
    ONE definition so tie-breaks (cosine desc, id asc) and the zero-denominator
    rule can never silently diverge between the exact and ANN paths."""
    from pyspark.sql import Window

    denom = _norm(F.col(corpus_vec)) * _norm(F.col(query_vec))
    # coalesce: a dim-mismatched pair's dot is NULL (zip_with null-pads the
    # shorter array) — it scores 0.0, same as a null vector, so the pair-join
    # oracles and the matrix engine agree on EVERY invalid-vector shape
    # (ADVICE r4: they previously diverged on ragged vectors, NULL-ranked-
    # last here vs 0.0 in the engine)
    scored = joined.withColumn(
        "cosine",
        F.coalesce(
            F.when(denom > 0, _dot(F.col(corpus_vec), F.col(query_vec)) / denom),
            F.lit(0.0),
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _cosine_topk_pairjoin(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Pair-join reference implementation (r3 path): broadcast crossJoin +
    interpreted-HOF cosine. Kept ONLY as the parity oracle for the matrix
    engine (tests/test_textops.py asserts identical output)."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv"))
    return _score_and_rank(c.crossJoin(F.broadcast(q)), k, id_col, query_id_col)


def _multi_table_buckets_expr(
    df: DataFrame, vec_col: str, nbits: int, tables: int, dim: int, seed: int
) -> DataFrame:
    """Pure-expression reference implementation (the pre-fusion path): kept
    ONLY as the parity oracle for _table_sigs_udf — its plan is
    O(tables*nbits*dim) literal nodes and must not be used at scale."""
    entries = []
    for t in range(tables):
        sig = F.lit(0).cast("long")
        for bit in range(nbits):
            h = _hyperplane(dim, bit, seed + 7919 * (t + 1))
            d = _dot(F.col(vec_col), h)
            sig = sig.bitwiseOR(
                F.when(d >= 0, F.lit(1 << bit).cast("long")).otherwise(F.lit(0).cast("long"))
            )
        entries.append(F.struct(F.lit(t).alias("tbl"), sig.alias("bucket")))
    return df.withColumn("__e", F.explode(F.array(*entries))).select(
        *df.columns, F.col("__e.tbl").alias("tbl"), F.col("__e.bucket").alias("bucket")
    )


def _lsh_topk_pairjoin(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nbits: int = 8,
    tables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Pair-join reference implementation (r3 path): xTables bucket explode,
    broadcast bucket join, interpreted-HOF re-rank. Kept ONLY as the parity
    oracle for the matrix engine."""
    c = _multi_table_buckets(
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv")),
        "__cv", nbits, tables, dim, seed,
    )
    q = _multi_table_buckets(
        queries.select(F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv")),
        "__qv", nbits, tables, dim, seed,
    )
    joined = c.join(F.broadcast(q), ["tbl", "bucket"]).dropDuplicates([id_col, query_id_col])
    return _score_and_rank(joined, k, id_col, query_id_col)


def _knn_join_pairjoin(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Brute-force pair-join reference for knn_join: self crossJoin of the
    valid rows, HOF cosine, windowed rank. All-pairs by construction — kept
    ONLY as the small-scale parity oracle (same discipline as the other
    _*_pairjoin paths)."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    valid = base.where(F.col("__v").isNotNull() & (F.size("__v") == dim))
    a = valid.select(F.col(id_col), F.col("__v").alias("__cv"))
    b = valid.select(F.col(id_col).alias("nbr_id"), F.col("__v").alias("__qv"))
    joined = a.crossJoin(b).where(F.col(id_col) != F.col("nbr_id"))
    out = _score_and_rank(joined, k, "nbr_id", id_col)
    return out.select(id_col, "nbr_id", "cosine", "rank")


def _ivf_topk_pairjoin(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """Pair-join reference implementation (r3 path): list-id equi-join with
    the exploded query probes, interpreted-HOF re-rank. Kept ONLY as the
    parity oracle for the matrix engine."""
    C = _ivf_codebook(centroids, dim, nlist, nprobe)
    if C is None:
        C = _kmeans_centroids(corpus, vec_col, id_col, nlist, dim, seed)
    c_base = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv"))
    c = c_base.withColumn(
        "list_id", F.element_at(_ivf_lists_udf(C, dim, 1)(F.col("__cv")), 1)
    )
    q = (
        queries.select(F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv"))
        .withColumn("list_id", F.explode(_ivf_lists_udf(C, dim, nprobe)(F.col("__qv"))))
    )
    joined = c.join(F.broadcast(q), "list_id").dropDuplicates([id_col, query_id_col])
    return _score_and_rank(joined, k, id_col, query_id_col)
