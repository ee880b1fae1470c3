"""Similarity search over embedding columns (array<float>).

All three top-k ops (brute-force cosine, multi-table hyperplane LSH, IVF)
run on the shared matrix engine (``_matrix_topk``, r4): the small-by-
contract query set is collected into one numpy matrix, ONE Arrow pass over
the corpus scores each batch against it (masked to bucket/list candidates
for the ANN ops, using the SAME numpy bucket math as the executor
kernels), a per-partition per-query top-k keeps boundary ties, and only
~partitions x nq x k rows reach the global rank. No pair rows, no explode,
no interpreted-HOF scoring in any hot path; scores use per-row pairwise
summation so results are bit-identical at any parallelism. The r3
pair-join implementations live on as parity oracles in
``tests/oracle_similarity.py``. Near-dup pair mining (``embedding_near_dup_pairs``) stays bucketed
(written assignment table, hot-bucket cap) with an Arrow pair-cosine
verify kernel.

Every Python-side vector decode — the arrow_udf kernels, the mapInArrow
engine pass, the two groupBy().applyInArrow knn kernels (one group per LSH
bucket, one per IVF grid cell) and the driver-side query / k-means fetches
— goes through ONE helper, ``_vectors``: Arrow list column
in, zero-padded float64 matrix + validity mask out, read straight from the
flat values buffer. The null/ragged rule is written there once; no pandas
UDF runs in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pitfeat.ops.util import _list_array


# query-matrix broadcasts from prior _matrix_topk calls, unpersisted on the
# next call (executor-memory hygiene; see the eviction comment in
# _matrix_topk). Guarded by a lock (ADVICE r7): concurrent driver threads
# could otherwise evict a broadcast another thread just registered — safe
# only by accident (unpersist is non-destructive) but a surprise
# re-broadcast cost.
import threading as _threading

_LIVE_QUERY_BCASTS: list = []
_LIVE_QUERY_BCASTS_LOCK = _threading.Lock()


def _vectors(arr, dim: int):
    """Arrow list column (chunked, or a slice with a nonzero offset) ->
    ``(V, ok)``: a zero-padded C-contiguous (n, dim) float64 matrix and its
    validity mask. The ONE statement of the vector validity rule — not null
    and exactly ``dim`` elements; invalid rows stay all-zero. Reads the flat
    values buffer through the offsets, never boxing a row; null elements
    inside a valid vector become NaN. V may be a read-only view of the
    Arrow buffer."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        # combine_chunks copies even a single chunk
        arr = arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
    off = arr.offsets.to_numpy()
    n = len(arr)
    flat = (
        arr.values.slice(off[0], off[-1] - off[0])
        .to_numpy(zero_copy_only=False)
        .astype(np.float64, copy=False)
    )
    ok = np.diff(off) == dim
    if arr.null_count:
        ok &= arr.is_valid().to_numpy(zero_copy_only=False)
    if ok.all():
        return flat.reshape(n, dim), ok
    V = np.zeros((n, dim))
    V[ok] = flat[(off[:-1][ok] - off[0])[:, None] + np.arange(dim)]
    return V, ok


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def with_cosine(df: DataFrame, col_a: str, col_b: str, out: str = "cosine") -> DataFrame:
    a, b = F.col(col_a), F.col(col_b)
    denom = _norm(a) * _norm(b)
    return df.withColumn(out, F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0)))


# ---------------------------------------------------------------------------
# Matrix-scored top-k engine (shared by cosine_topk / lsh_topk / ivf_topk)
# ---------------------------------------------------------------------------
#
# The r3 pair-join paths materialized one row per (corpus, query) candidate
# and scored it with aggregate(zip_with(...)) — Catalyst higher-order
# functions, which run INTERPRETED (~6.5 us/pair measured at dim 64; the
# same trap that cost d2 its shingle pipeline and s2 its literal
# hyperplanes). This engine never expands pairs: ONE Arrow pass over the
# corpus computes a (batch x nq) score matmul against the broadcast query
# matrix, keeps a per-partition top-k per query (ties at the boundary kept
# in full), and only ~n_partitions x nq x k tiny rows reach the final
# global rank. The pair-join implementations are kept as parity oracles in
# tests/oracle_similarity.py (tests assert identical output).


def _rank_topk(scored: DataFrame, k: int, id_col: str, query_id_col: str) -> DataFrame:
    """Global (cosine desc, id asc) rank-to-k over pre-scored candidates —
    the pair-join oracles' tie rule, single-sourced for the engine."""
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


MAX_ENGINE_QUERIES = 1_048_576

# Driver/executor byte ceiling for the collected query matrix (ADVICE r5:
# a row-count-only guard lets nq x dim x 8 grow with dim — 512 MB at dim 64
# but 8 GB at dim 1024, past any sane RPC/task-serialization budget). The
# row cap and the byte cap BOTH apply; the effective row limit is
# min(MAX_ENGINE_QUERIES, MAX_ENGINE_QUERY_BYTES // (dim * 8)) and is
# enforced BEFORE the collect, so an oversized query set fails fast instead
# of OOMing the driver first.
MAX_ENGINE_QUERY_BYTES = 512 * 1024 * 1024

# Executor-side query-block width: kernels score (and mask) QUERY_BLOCK
# queries at a time, so per-Arrow-batch temporaries are O(batch_rows x
# QUERY_BLOCK) regardless of the total query count (ADVICE r4 / VERDICT r4
# #5: the unchunked kernel materialized (n, nq[, tables]) intermediates —
# ~5 GB/batch at nq=65k — well below the driver-side guard). Results are
# BIT-IDENTICAL at any block width: scores are per-row np.add.reduce whose
# accumulation order depends only on dim, never on the blocking.
QUERY_BLOCK = 1024


def _query_matrix(queries: DataFrame, query_id_col: str, vec_col: str, dim: int):
    """Driver-side collect of the query set: ids, a (nq, dim) float64 matrix
    with zero rows for null/ragged vectors, and the validity mask (invalid
    queries keep the bucket-0 semantics of the executor kernels). Driver
    memory is O(nq x dim x 8B) — 512 MB at the 1M-row guard with dim 64;
    executor memory is bounded by QUERY_BLOCK regardless of nq. The guard is
    a sanity backstop, not the design point: for corpus-vs-corpus top-k use
    knn_join (bucketed, never collects the corpus), and for threshold pairs
    embedding_near_dup_pairs."""
    # rows AND bytes gate (ADVICE r5): the byte cap keeps the collected
    # matrix inside the driver/broadcast budget at ANY dim
    max_rows = min(MAX_ENGINE_QUERIES, MAX_ENGINE_QUERY_BYTES // max(dim * 8, 1))
    # Arrow-batched fetch (toArrow), not collect(): Row objects carry ~3x
    # the payload in Python overhead, which at the 1M-query cap is the
    # difference between ~0.5 GB and ~1.5 GB of driver memory
    tab = (
        queries.select(F.col(query_id_col).alias("__qid"),
                       F.col(vec_col).cast("array<double>").alias("__qv"))
        .limit(max_rows + 1)
        .toArrow()
    )
    if tab.num_rows > max_rows:
        raise ValueError(
            f"matrix top-k engine: query set exceeds {max_rows} rows "
            f"(= min(row cap {MAX_ENGINE_QUERIES}, byte cap "
            f"{MAX_ENGINE_QUERY_BYTES} / (dim {dim} * 8))) — the query "
            "matrix lives on the driver and ships to executors as one "
            "broadcast; use knn_join for corpus-vs-corpus top-k, or "
            "embedding_near_dup_pairs for threshold pairs"
        )
    Q, ok = _vectors(tab.column("__qv"), dim)
    return tab.column("__qid").to_pylist(), Q, ok


def _matrix_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    dim: int,
    cand_masker=None,
    qmat=None,
    query_block: int | None = None,
) -> DataFrame:
    """Matrix-scored top-k: one mapInArrow pass over the corpus, per-query
    per-partition top-k inside the kernel, global rank over the survivors.

    ``cand_masker(V, ok) -> block_fn`` restricts scoring to bucket/list
    candidates (None = brute force). Called ONCE per Arrow batch with the
    raw (zero-padded) batch matrix V and its validity mask ok — that's where
    maskers run their per-batch corpus-side bucket math (_sigs_np /
    _probe_np, exactly the executor kernels' math). The returned
    ``block_fn(q0, q1) -> (n, q1-q0) bool`` is then called per query block,
    so masker temporaries are O(n x QUERY_BLOCK), never O(n x nq).
    Null/ragged corpus vectors score 0.0 and keep the pair-join paths'
    bucket-0 membership (the oracles coalesce ragged dots to 0.0 too).

    ``qmat``: the (qids, Q, ok) triple from _query_matrix. ANN callers that
    build a masker MUST pass the SAME triple their masker closed over — a
    second collect could return the queries in a different order, silently
    misaligning the masker's bucket rows with the engine's score columns.

    ``query_block``: queries scored per inner block (default QUERY_BLOCK).
    Purely an executor-memory knob — output is bit-identical at any value
    (per-row pairwise summation; parity-tested at block=3 vs default).

    Scale shape: the corpus crosses Arrow ONCE (no xTables explode, no pair
    rows); per-partition output is <= nq x k rows (+boundary ties), so the
    final rank shuffles ~partitions x nq x k rows regardless of corpus size.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    qids, Q, _q_ok = (
        qmat if qmat is not None else _query_matrix(queries, query_id_col, vec_col, dim)
    )
    nq = len(qids)
    qb = max(1, query_block if query_block is not None else QUERY_BLOCK)
    # Scores and norms use per-row np.add.reduce (numpy's pairwise
    # summation, whose order depends only on dim) instead of GEMM: BLAS
    # picks blocking/SIMD accumulation by MATRIX SHAPE, so a V @ Q.T score
    # would differ in the last ulps between partitionings (batch sizes
    # change) — breaking the engine's cross-parallelism bit-exactness,
    # which the r3 per-pair expression path had and the layout-invariance
    # test pins. The bucket/list maskers keep their GEMMs: sign/argmax
    # flips need a dot within rounding of a boundary (measure-zero,
    # documented in _table_sigs_udf since r3).
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    spark = corpus.sparkSession
    if nq == 0:
        return spark.createDataFrame([], out_schema).withColumn(
            "rank", F.lit(0)
        ).where(F.lit(False))
    Qn = np.sqrt(np.add.reduce(Q * Q, axis=1))

    # Ship the query matrix as ONE Spark broadcast instead of capturing it
    # in the kernel closure (ADVICE r5): a closure rides inside every task's
    # serialized command (driver -> scheduler -> each task, bounded by
    # spark.rpc.message.maxSize), while a broadcast is torrent-distributed
    # once per executor and shared by its tasks. At the byte-gated maximum
    # (512 MB) the closure path would not even serialize. Masker query-side
    # arrays (nq x tables ints) stay in their closures — they are built by
    # callers and are ~dim/tables times smaller than Q.
    # Evict the PREVIOUS call's query-matrix broadcast before registering a
    # new one (ADVICE r6): repeated matrix-topk calls in a long session were
    # accumulating up-to-512MB executor/driver copies per call. unpersist()
    # (not destroy) is the safe eviction — it frees executor memory but keeps
    # the driver copy, so a still-lazy DataFrame from an earlier call that
    # gets re-evaluated later just re-torrents its matrix instead of failing.
    with _LIVE_QUERY_BCASTS_LOCK:
        while _LIVE_QUERY_BCASTS:
            try:
                _LIVE_QUERY_BCASTS.pop().unpersist(blocking=False)
            except Exception:
                pass  # already destroyed / context gone — nothing to free
        bc = spark.sparkContext.broadcast((qids, Q, Qn))
        _LIVE_QUERY_BCASTS.append(bc)

    src = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    arrow_schema = to_arrow_schema(out_schema)

    def kernel(batches):
        qids, Q, Qn = bc.value
        buf_ids = [[] for _ in range(nq)]
        buf_cos = [[] for _ in range(nq)]
        buf_n = [0] * nq
        compact_at = max(8 * k, 512)

        def compact(qi):
            # exact top-k truncation is safe HERE (unlike the score-only
            # batch prune) because the (cos desc, id asc) tie-break is
            # applied: without it, a degenerate corpus (mass score ties,
            # e.g. all-zero vectors) would grow the tie-kept buffer to the
            # whole partition
            c = np.concatenate(buf_cos[qi])
            bi = np.concatenate(buf_ids[qi])
            order = sorted(range(len(c)), key=lambda j: (-c[j], bi[j]))[:k]
            buf_cos[qi] = [np.asarray([c[j] for j in order], dtype=np.float64)]
            buf_ids[qi] = [np.asarray([bi[j] for j in order], dtype=bi.dtype)]
            buf_n[qi] = len(order)

        for batch in batches:
          # r8: process each Arrow batch in bounded row slices — the session
          # IPC batch grew to 32k rows for the streaming kernels' sake, but
          # THIS kernel's per-query temporaries (V * Q[j]) scale with the
          # row count, so a 32k-row slice would blow the temp working set
          # from 2 MB to 16 MB per query and fall out of cache. Per-row
          # math: results are identical at any slicing.
          for s0 in range(0, batch.num_rows, 4096):
            part = batch.slice(s0, 4096)
            n = part.num_rows
            V, ok = _vectors(part.column("__v"), dim)
            ids = part.column(id_col).to_numpy(zero_copy_only=False)
            vn = np.sqrt(np.add.reduce(V * V, axis=1))
            # per-batch corpus-side masker prep (signatures / list
            # assignment) runs ONCE; only the tiny query-block mask below
            # re-evaluates per block
            block_fn = cand_masker(V, ok) if cand_masker is not None else None
            # query-block loop: temporaries are (n, block) — executor memory
            # is independent of the total query count (see QUERY_BLOCK)
            for q0 in range(0, nq, qb):
                q1 = min(q0 + qb, nq)
                S = np.empty((n, q1 - q0), dtype=np.float64)
                for j in range(q1 - q0):
                    S[:, j] = np.add.reduce(V * Q[q0 + j], axis=1)
                denom = vn[:, None] * Qn[None, q0:q1]
                C = np.where(denom > 0, S / np.where(denom > 0, denom, 1.0), 0.0)
                M = block_fn(q0, q1) if block_fn is not None else None
                for j in range(q1 - q0):
                    qi = q0 + j
                    c, bids = C[:, j], ids
                    if M is not None:
                        sel = M[:, j]
                        if not sel.any():
                            continue
                        c, bids = c[sel], bids[sel]
                    if len(c) > k:
                        # batch prune to the k-th-largest score, keeping ALL
                        # boundary ties: dropping an arbitrary tied row here
                        # could drop the one the global id-asc tie-break keeps
                        kth = np.partition(c, len(c) - k)[len(c) - k]
                        keep = c >= kth
                        c, bids = c[keep], bids[keep]
                    buf_cos[qi].append(c)
                    buf_ids[qi].append(bids)
                    buf_n[qi] += len(c)
                    if buf_n[qi] > compact_at:
                        compact(qi)
        rows_q, rows_i, rows_c = [], [], []
        for qi in range(nq):
            if not buf_cos[qi]:
                continue
            # final exact partition top-k under the global tie rule
            compact(qi)
            c, bi = buf_cos[qi][0], buf_ids[qi][0]
            rows_q.extend(qids[qi] for _ in range(len(c)))
            rows_i.extend(bi.tolist())
            rows_c.extend(float(x) for x in c)
        yield pa.RecordBatch.from_pydict(
            {query_id_col: rows_q, id_col: rows_i, "cosine": rows_c}, schema=arrow_schema
        )

    return _rank_topk(src.mapInArrow(kernel, schema=out_schema), k, id_col, query_id_col)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k via the matrix engine: every corpus
    vector scores against the full (broadcast) query matrix in one Arrow
    matmul pass; per-partition top-k; global rank. O(|corpus| x |queries|)
    compute, one tiny shuffle. ``dim`` defaults to the first query vector's
    length (the engine's fixed width; mismatched corpus vectors score 0.0)."""
    if dim is None:
        dim = _infer_dim(queries, vec_col)
    return _matrix_topk(corpus, queries, k, id_col, vec_col, query_id_col, dim)


def _infer_dim(queries: DataFrame, vec_col: str) -> int:
    first = queries.select(F.col(vec_col).cast("array<double>")).where(
        F.col(vec_col).isNotNull()
    ).head(1)
    if not first:
        raise ValueError("cannot infer embedding dim: no non-null query vector")
    return len(first[0][0])


def _hyperplane_component(seed: int, bit: int, j: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5).
    Python ``hash`` over an int tuple is process-stable (int hashing is not
    salted), and the matrix is built ONCE on the driver anyway — executors
    receive the finished numpy array, never re-derive it."""
    return ((hash((seed, bit, j)) & 0xFFFFFFFF) / 0xFFFFFFFF) - 0.5


def _hyperplane_matrix(dim: int, nbits: int, tables: int, seed: int):
    """(tables*nbits, dim) float64 hyperplane matrix; row t*nbits+b is bit b of
    table t, with per-table seed ``seed + 7919*(t+1)`` (the same derivation the
    original expression path used, so signatures are bit-identical)."""
    import numpy as np

    H = np.empty((tables * nbits, dim), dtype=np.float64)
    for t in range(tables):
        s = seed + 7919 * (t + 1)
        for b in range(nbits):
            H[t * nbits + b, :] = [_hyperplane_component(s, b, j) for j in range(dim)]
    return H


def _hyperplane(dim: int, bit: int, seed: int):
    """Expression-path hyperplane (literal array). Kept for lsh_signatures'
    single-signature API and the expression-path parity oracle for the
    fused kernel (tests/oracle_similarity.py); the hot paths use
    _multi_table_buckets instead."""
    comps = [F.lit(_hyperplane_component(seed, bit, j)) for j in range(dim)]
    return F.array(*comps)


def lsh_signatures(
    df: DataFrame, vec_col: str = "embedding", nbits: int = 16, dim: int = 64, seed: int = 42
) -> DataFrame:
    """Random-hyperplane LSH signature (int bucket id). sign(v . h_b) per bit."""
    sig = F.lit(0).cast("long")
    for bit in range(nbits):
        h = _hyperplane(dim, bit, seed)
        d = _dot(F.col(vec_col), h)
        sig = sig.bitwiseOR(F.when(d >= 0, F.lit(1 << bit).cast("long")).otherwise(F.lit(0).cast("long")))
    return df.withColumn("lsh_bucket", sig)


def _sigs_np(V, ok, H, nbits: int, tables: int):
    """(n, dim) float64 + validity mask (from _vectors) -> (n, tables) int64
    per-table bucket ids; invalid rows hash to bucket 0 in every table. The
    ONE definition of the signature math — used by the executor-side Arrow
    kernel AND by the driver-side query bucketing of the matrix top-k
    engine, so the two can never drift."""
    import numpy as np

    sigs = np.zeros((len(V), tables), dtype=np.int64)
    if ok.any():
        weights = (np.int64(1) << np.arange(nbits, dtype=np.int64))[None, None, :]
        bits = (V[ok] @ H) >= 0.0  # (n_ok, tables*nbits)
        sigs[ok] = ((bits.reshape(-1, tables, nbits).astype(np.int64)) * weights).sum(axis=2)
    return sigs


def _table_sigs_udf(nbits: int, tables: int, dim: int, seed: int):
    """Fused Arrow kernel: embedding -> array<long> of per-table bucket ids.

    One (batch x dim) @ (dim x tables*nbits) float64 matmul per Arrow batch,
    sign-packed to one int64 per table. Replaces the previous expression path
    whose plan was O(tables x nbits x dim) literal nodes — 1,024 at the
    contract's 1x16x64 and 131k at a realistic dim=1024 with 8 bits x 16
    tables, a driver-side planning/codegen scale-killer (measured 6.3s wall
    for 15 output rows at sf0.1, dominated by plan construction). The
    hyperplanes ship as ONE broadcast numpy matrix in the UDF closure.

    Sign-parity with the expression path: the matmul reorders the dot-product
    sum, which can only flip a bit when the dot is within float rounding of
    zero (measure-zero for real embeddings; bit-identical on the driver
    corpora — asserted by tests/test_kernels.py). Null/ragged vectors hash to
    bucket 0 in every table, mirroring the expression path's null semantics.
    """
    from pyspark.sql.functions import arrow_udf

    H = _hyperplane_matrix(dim, nbits, tables, seed).T  # (dim, tables*nbits)

    def kernel(vecs):
        return _list_array(_sigs_np(*_vectors(vecs, dim), H, nbits, tables))

    return arrow_udf(kernel, "array<long>")


def _multi_table_buckets(
    df: DataFrame, vec_col: str, nbits: int, tables: int, dim: int, seed: int
) -> DataFrame:
    """Explode each vector into ``tables`` (table_id, bucket) rows — the
    standard multi-table LSH recall amplifier. Candidate pairs are rows that
    share ANY table's bucket. Row fanout is x``tables`` (bounded, chosen by
    the caller), never an all-pairs product. Signatures come from the fused
    Arrow kernel (_table_sigs_udf); the explode itself stays JVM-side."""
    sig_udf = _table_sigs_udf(nbits, tables, dim, seed)
    return (
        df.withColumn("__sigs", sig_udf(F.col(vec_col)))
        .select(*df.columns, F.posexplode("__sigs").alias("tbl", "bucket"))
    )


def lsh_topk(
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
    """ANN top-k: candidates share any table's hyperplane-signature bucket;
    exact cosine re-ranks candidates. Runs on the matrix engine: query
    buckets are derived driver-side with the SAME numpy math (_sigs_np) the
    executor kernel uses, the corpus crosses Arrow once computing its own
    signatures + masked scores, and no xTables explode or pair rows ever
    materialize. Recall < 1.0 by design; raise ``tables`` (recall) or
    ``nbits`` (precision/cost), or fall back to cosine_topk for exactness."""
    H = _hyperplane_matrix(dim, nbits, tables, seed).T  # (dim, tables*nbits)
    qmat = _query_matrix(queries, query_id_col, vec_col, dim)
    _, Q, q_ok = qmat
    qsigs = _sigs_np(Q, q_ok, H, nbits, tables)

    def masker(V, ok):
        sigs = _sigs_np(V, ok, H, nbits, tables)

        # candidate iff same bucket in the SAME table, any table; evaluated
        # per query block so the boolean temp is (n, block, tables), never
        # (n, nq, tables)
        def block(q0, q1):
            return (sigs[:, None, :] == qsigs[None, q0:q1, :]).any(axis=2)

        return block

    return _matrix_topk(
        corpus, queries, k, id_col, vec_col, query_id_col, dim,
        cand_masker=masker, qmat=qmat,
    )


def _pair_cosine_udf(dim: int):
    """Arrow kernel: (va, vb) -> cosine for already-joined candidate PAIRS —
    the verify stage of embedding_near_dup_pairs, where the pair rows exist
    by construction (bucketed candidates) and only the scoring was left on
    interpreted HOF expressions (~6.5 us/pair). Per-row pairwise summation
    (np.add.reduce), so values are bit-stable across batch shapes like the
    matrix engine's. Null/ragged pairs score 0.0 — same observable
    behavior as the HOF path at any positive threshold (HOF yields NULL for
    ragged and 0.0 for null inputs; both fail `cosine >= threshold`): an
    invalid side decodes to a zero row, whose zero denominator scores 0.0."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def kernel(va, vb):
        A, _ = _vectors(va, dim)
        B, _ = _vectors(vb, dim)
        dots = np.add.reduce(A * B, axis=1)
        denom = np.sqrt(np.add.reduce(A * A, axis=1)) * np.sqrt(
            np.add.reduce(B * B, axis=1)
        )
        return pa.array(np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), 0.0))

    return arrow_udf(kernel, "double")


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nbits: int = 8,
    tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int = 2000,
    bucket_path: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold, candidates from
    multi-table LSH buckets (misses pairs hashing apart in every table —
    the documented ANN tradeoff; raise ``tables`` for recall). Buckets above
    ``max_bucket`` members are dropped before the self-join: one degenerate
    bucket (e.g. a mass of zero/duplicate embeddings) is otherwise O(n^2)
    pairs; capped members still pair through other tables.

    The slim (id, table, bucket) assignment is materialized once (written
    table): both self-join sides and the hot-bucket sketch read it instead
    of each re-evaluating the tables x nbits hyperplane dot products over
    the full corpus. Vectors rejoin only for the candidate pair set."""
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    s = _multi_table_buckets(base, "__v", nbits, tables, dim, seed).select(
        F.col(id_col), "tbl", "bucket"
    )
    from pitfeat.ops.dedup import _scratch_dir

    bucket_path = _scratch_dir(df, bucket_path, "pitfeat_embdup_buckets_")
    s.write.mode("overwrite").parquet(bucket_path)
    s = df.sparkSession.read.parquet(bucket_path)
    if max_bucket > 0:
        from pitfeat.ops.dedup import _drop_hot_buckets

        s = _drop_hot_buckets(s, ["tbl", "bucket"], max_bucket)
    a = s.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
    b = s.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand.join(
        base.select(F.col(id_col).alias("id_a"), F.col("__v").alias("va")), "id_a"
    ).join(base.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vb")), "id_b")
    return (
        cand.withColumn("cosine", _pair_cosine_udf(dim)(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-bucketed scale path
# ---------------------------------------------------------------------------


def _kmeans_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    nlist: int,
    dim: int,
    seed: int,
    sample_cap: int = 20_000,
    iters: int = 10,
):
    """Spherical k-means centroids from a BOUNDED deterministic sample.

    Training is the one deliberately driver-side step of IVF (as in every IVF
    implementation): the sample is the ``sample_cap`` rows with the SMALLEST
    seeded id-hash, fetched in two passes — (1) the k-th-smallest hash over
    the HASH COLUMN alone (column-pruned scan, TakeOrderedAndProject whose
    driver merge moves bare longs), then (2) an Arrow-batched fetch of the
    rows at/below that cut. Neither pass needs the ``count()`` job the r3
    modulus-thinning used, and neither ships vectors beyond the ~sample_cap
    selected rows. Driver memory is O(sample_cap * dim) regardless of corpus
    size — 20k x 64 doubles = 10 MB at the default. Assignment (the per-row
    work) never leaves the executors.

    Determinism: both sample MEMBERSHIP and sample ORDER are pure functions
    of the ids (hash rank, id tie-break, re-sorted driver-side as a belt), so
    centroids — and therefore nprobe<nlist top-k — are identical across
    partitionings and parallelism levels. The r3 modulus-thinning version
    fixed membership but collected in partition order, and rng.choice/argmax
    see row order, so repartitioning the same corpus changed the centroids.
    Lloyd iterations are seeded numpy: deterministic.
    """
    import numpy as np

    # seed literal FIRST: multi-arg xxhash64 folds left-to-right with the
    # running hash as next seed, so (col, lit) would be a pure function of
    # xxhash64(col).
    h = F.xxhash64(F.lit(seed), F.col(id_col))
    # Pass 1 — the cut: k-th smallest id-hash via TakeOrderedAndProject over
    # the HASH COLUMN ALONE. Doing the global top-k over (hash, vector) rows
    # instead makes every partition ship its own top-k of vectors to the
    # driver merge — n_partitions x sample_cap x dim doubles (measured ~2.4s
    # of a 3.5s query at 50k x 64 x 32 partitions); over bare longs it is
    # megabytes, and the scan is column-pruned to the id column.
    cut = (
        corpus.select(h.alias("__h"))
        .orderBy("__h")
        .limit(sample_cap)
        .agg(F.max("__h").alias("m"))
        .collect()[0]["m"]
    )
    # Pass 2 — fetch exactly the sample rows (hash <= cut), Arrow-batched.
    # Hash ties at the cut can push the frame a hair past sample_cap; the
    # deterministic (hash, id) sort + slice trims them reproducibly.
    tab = (
        corpus.select(
            F.col(id_col).cast("string").alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
            h.alias("__h"),
        )
        .where(F.col("__h") <= F.lit(cut))
        .toArrow()
        .sort_by([("__h", "ascending"), ("__id", "ascending")])
        .slice(0, sample_cap)
    )
    V, ok = _vectors(tab.column("__v"), dim)
    V = V[ok]
    if len(V) < nlist:
        raise ValueError(f"IVF needs >= nlist={nlist} sample vectors, got {len(V)}")
    norms = np.linalg.norm(V, axis=1, keepdims=True)
    V = V / np.where(norms > 0, norms, 1.0)
    rng = np.random.RandomState(seed)
    C = V[rng.choice(len(V), size=nlist, replace=False)]
    for _ in range(iters):
        assign = np.argmax(V @ C.T, axis=1)
        for j in range(nlist):
            m = assign == j
            if m.any():
                c = V[m].mean(axis=0)
                nc = np.linalg.norm(c)
                if nc > 0:
                    C[j] = c / nc
    return C


def _probe_np(V, ok, CT, nprobe: int):
    """(n, dim) float64 + validity mask (from _vectors) -> (n, nprobe) int32
    nearest-centroid list ids (argsort desc, stable: ties resolve to the
    lower list id; a NaN score ranks below every number); invalid rows go
    to list 0 in every slot. The ONE definition of the probe math — shared
    by the executor kernel and the driver-side query probing of the matrix
    top-k engine. Slot 0 is the same list at every ``nprobe``: knn_join
    reads it as the row's member list."""
    import numpy as np

    out = np.zeros((len(V), nprobe), dtype=np.int32)
    if ok.any():
        dots = V[ok] @ CT  # (n_ok, nlist)
        # an inf element meeting a 0 centroid weight scores NaN, which argmax
        # ranks FIRST and a descending argsort ranks LAST; as -inf both legs
        # rank it last and keep the lower-id tie rule
        np.copyto(dots, -np.inf, where=np.isnan(dots))
        if nprobe == 1:
            out[ok] = np.argmax(dots, axis=1).reshape(-1, 1)
        else:
            out[ok] = np.argsort(-dots, axis=1, kind="stable")[:, :nprobe]
    return out


def _ivf_lists_udf(C, dim: int, nprobe: int):
    """Fused Arrow kernel: embedding -> array<int> of the nprobe nearest
    centroid ids (one (batch x dim) @ (dim x nlist) matmul per Arrow batch;
    centroids ship as ONE broadcast numpy matrix in the closure — the same
    no-literal-plan-tree discipline as _table_sigs_udf). Null/ragged vectors
    go to list 0, mirroring the LSH null semantics."""
    from pyspark.sql.functions import arrow_udf

    CT = C.T.copy()  # (dim, nlist)

    def kernel(vecs):
        return _list_array(_probe_np(*_vectors(vecs, dim), CT, nprobe))

    return arrow_udf(kernel, "array<int>")


def _ivf_codebook(centroids, dim: int, nlist: int, nprobe: int):
    """The IVF argument check shared by ivf_topk and knn_join, run at call
    time so a bad codebook fails before any Spark job instead of inside a
    Python worker. A given ``centroids`` must be a (lists, dim) matrix and
    bounds ``nprobe`` by its row count; otherwise ``nlist`` does. Returns
    the codebook as float64, or None when it is still to be trained."""
    import numpy as np

    C = None
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        if C.ndim != 2 or C.shape[1] != dim:
            raise ValueError(f"centroids must have shape (nlist, dim={dim}), got {C.shape}")
        nlist = len(C)
    if not 1 <= nprobe <= nlist:
        raise ValueError(f"nprobe must be in [1, nlist={nlist}], got {nprobe}")
    return C


def ivf_topk(
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
    """IVF ANN top-k: corpus rows are bucketed by nearest centroid (inverted
    lists); each query probes only its ``nprobe`` nearest lists; exact cosine
    re-ranks inside the probed lists. Complements lsh_topk: IVF adapts its
    partitions to the DATA (clustered corpora probe far fewer candidates than
    data-oblivious hyperplanes), at the cost of a one-off bounded-sample
    training step. Recall < 1.0 by design — raise ``nprobe`` toward ``nlist``
    for recall, or fall back to cosine_topk for exactness.

    Scale shape (matrix engine): per-query candidate work is ~nprobe/nlist
    of the corpus; query probe lists come from the SAME numpy math
    (_probe_np) driver-side, and ONE Arrow pass over the corpus computes
    assignment + masked scores + per-partition top-k — never an all-pairs
    product, never pair rows. Pass ``centroids`` (numpy (nlist, dim)) to
    reuse a trained codebook across calls/corpora — e.g. train once, assign
    daily increments."""
    C = _ivf_codebook(centroids, dim, nlist, nprobe)
    if C is None:
        C = _kmeans_centroids(corpus, vec_col, id_col, nlist, dim, seed)
    CT = C.T.copy()  # (dim, nlist)
    qmat = _query_matrix(queries, query_id_col, vec_col, dim)
    _, Q, q_ok = qmat
    qprobes = _probe_np(Q, q_ok, CT, nprobe)

    def masker(V, ok):
        clist = _probe_np(V, ok, CT, 1)[:, 0]

        # candidate iff the row's inverted list is among the query's probes;
        # per-block so the temp is (n, block, nprobe), never (n, nq, nprobe)
        def block(q0, q1):
            return (clist[:, None, None] == qprobes[None, q0:q1, :]).any(axis=2)

        return block

    return _matrix_topk(
        corpus, queries, k, id_col, vec_col, query_id_col, dim,
        cand_masker=masker, qmat=qmat,
    )


# ---------------------------------------------------------------------------
# Corpus-wide KNN join — every row's top-k neighbors (VERDICT r4 #3)
# ---------------------------------------------------------------------------
#
# The shape the matrix engine's query guard correctly refuses: queries ==
# corpus. The scale paths never collect the corpus and never materialize
# all-pairs: rows are bucketed (LSH signature tables / IVF inverted lists),
# each bucket's members are scored against each other INSIDE one Arrow
# kernel (per-row pairwise summation, top-k selected in-kernel), and only
# ~n x fanout x k candidate rows reach the global per-row rank. This is the
# semantic-dedup / clustering-prep primitive that threshold pairs
# (embedding_near_dup_pairs) don't cover.


def _knn_rank(cands: DataFrame, k: int, id_col: str, dedup: bool = True) -> DataFrame:
    """Global top-k per source row over bucket-kernel candidates: the same
    (cosine desc, neighbor-id asc) tie rule as _rank_topk. A pair
    co-bucketed in several LSH tables arrives once per co-bucketing, and the
    copies' GEMM cosines can differ in the last ulp (different member sets
    => different BLAS shapes), so the dedup is an aggregate — max(cosine)
    per (id, nbr) — which is deterministic, where dropDuplicates would keep
    a shuffle-order-lucky copy.

    ``dedup=False`` (r8): the IVF and exact paths produce each (id, nbr)
    pair EXACTLY once — an IVF member lives in one inverted list and a
    (member, prober) pair meets in exactly one grid cell; the exact path's
    matrix engine holds each corpus id in one partition — so the max()
    aggregate is an identity there and its full extra shuffle + hash-agg
    over the candidate set (~n x nprobe x k rows) is pure overhead. Only
    the LSH path (multi-table co-bucketing) keeps it."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("cosine").desc(), F.col("nbr_id").asc())
    if dedup:
        cands = cands.groupBy(id_col, "nbr_id").agg(F.max("cosine").alias("cosine"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "nbr_id", "cosine", "rank")
    )


def _seg_rank(rows):
    """Rank of each element within its run of equal ``rows`` values (rows
    must be sorted ascending). Pure segment arithmetic, no loops."""
    import numpy as np

    new_run = np.empty(len(rows), dtype=bool)
    new_run[0] = True
    np.not_equal(rows[1:], rows[:-1], out=new_run[1:])
    starts = np.flatnonzero(new_run)
    run_len = np.diff(np.append(starts, len(rows)))
    return np.arange(len(rows)) - np.repeat(starts, run_len)


def _topk_compact_margin(rows, cols, vals, kk, thr, eps):
    """Compact candidate triples to each row's top-``kk`` by (f32 value
    desc, col asc) PLUS every margin tie (entries within ``eps`` of the
    row's kk-th value — a plain cut could drop an f32 near-tie that exact
    f64 scoring would rank inside the top-kk), and tighten ``thr`` to
    (kk-th value - eps) for rows holding kk entries."""
    import numpy as np

    order = np.lexsort((cols, -vals, rows))
    rows, cols, vals = rows[order], cols[order], vals[order]
    rank = _seg_rank(rows)
    run_id = np.cumsum(np.r_[True, rows[1:] != rows[:-1]]) - 1
    kk_by_run = np.full(run_id[-1] + 1, -np.inf, dtype=vals.dtype)
    at_k = rank == kk - 1
    kk_by_run[run_id[at_k]] = vals[at_k]
    keep = (rank < kk) | (vals >= kk_by_run[run_id] - eps)
    starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
    thr[rows[starts]] = np.maximum(
        thr[rows[starts]], (kk_by_run - eps).astype(thr.dtype)
    )
    return rows[keep], cols[keep], vals[keep]


def _knn_score_block(V, Vn, ids, QV, QVn, qids, k: int, prober_block: int = 256):
    """Score probers (QV) against members (V), excluding self-by-id, keeping
    per-prober top-k by (cosine desc, member-id asc). Members MUST arrive
    sorted by id: the stable lexsort then yields id-asc tie order for free.

    r8 rewrite — cache-blocked streaming top-k. The previous shape (full
    (block x m) score matrix, two normalization passes over it, an
    axis-partition for the per-row kth, then a per-prober Python loop) moved
    ~65 bytes of DRAM traffic per scored pair; at 3x10^10 pairs per sf1.0
    knn_join call the kernel was MEMORY-BANDWIDTH bound across 32 workers
    (measured 50 ns/pair in situ vs 26 ns isolated). This version:

    - normalizes the VECTORS once per cell — O((m+nq) x dim) — instead of
      the O(pairs) score matrix (two full passes saved);
    - scores in (prober_block x member_chunk) GEMM tiles small enough to
      stay cache-resident, and reads each tile once against a per-row
      pruning threshold, so steady-state DRAM traffic is ~the GEMM write;
    - seeds the threshold from the FIRST member chunk (one small
      axis-partition), then keeps only candidates that could still enter
      the row's top-kk; periodic `_topk_compact_margin` bounds the candidate
      buffers under tie floods and tightens the threshold;
    - does all selection with segment arithmetic (no per-prober Python).

    Selection is provably IDENTICAL to the old kernel (same candidates,
    same (cosine desc, id asc) tie rule, same self-exclusion); cosine
    VALUES move by last-ulps because q·v/(|q||v|) became (q/|q|)·(v/|v|)
    and the GEMM is tiled — the same documented ulp class as the GEMM
    batch-shape difference vs the exact engine (parity tests compare at
    1e-9; group composition, and with it every tile shape, remains a pure
    function of the data, so results stay deterministic run-to-run and
    layout-to-layout). Returns (qid, nbr_id, cosine) numpy arrays."""
    import numpy as np

    m = len(ids)
    nq = len(qids)
    out_q, out_i, out_c = [], [], []
    kk = min(k + 1, m)  # +1: self may occupy one slot
    # zero-norm rows detected ONCE; their normalized vectors are FORCED to
    # exact zeros (a plain multiply could turn an inf/nan component into
    # NaN), so their cosines come out exactly 0.0 — same observable value
    # as the old inv-factor formulation
    zn_v = Vn == 0
    zn_q = QVn == 0
    inv_vn = np.empty_like(Vn)
    np.divide(1.0, Vn, out=inv_vn, where=~zn_v)
    inv_vn[zn_v] = 0.0
    inv_qn = np.empty_like(QVn)
    np.divide(1.0, QVn, out=inv_qn, where=~zn_q)
    inv_qn[zn_q] = 0.0
    Vh = V * inv_vn[:, None]
    if zn_v.any():
        Vh[zn_v] = 0.0
    Qh = QV * inv_qn[:, None]
    if zn_q.any():
        Qh[zn_q] = 0.0
    qarr = np.asarray(qids)
    # f32 scan + f64 refine (r8): the tile scan is memory-bandwidth bound,
    # so scoring the TILES in float32 halves both the GEMM write and the
    # mask-read bytes (and doubles SIMD width). Exactness is preserved by a
    # margin: for unit vectors at dim<=~1000 the f32 tile cosine is within
    # EPS_F32=1e-4 of the exact value (true bound ~dim x 2^-23, 25x slack),
    # so any member that could sit in a prober's true f64 top-kk has
    # f32 score >= (kk-th f32 score) - 2*EPS_F32 — the scan keeps that
    # margin superset (~kk + O(density*eps) rows/prober), and the survivors
    # are re-scored with EXACT per-row float64 reduces (shape-independent,
    # the matrix engine's own summation form) before the final
    # (cosine desc, id asc) selection. Verified against the brute-force
    # oracle incl. duplicate vectors and tie floods.
    EPS_F32 = 1e-4
    V32T = np.ascontiguousarray(Vh.T.astype(np.float32))
    Q32 = Qh.astype(np.float32)
    member_chunk = 2048  # (block x chunk) f32 tile = 2 MB at the defaults
    # one reusable GEMM output buffer for full-size tiles: a fresh allocation
    # per tile re-pays page faults on ~GBs of short-lived arrays per cell
    buf = np.empty((min(prober_block, nq), member_chunk), dtype=np.float32)
    for b0 in range(0, nq, prober_block):
        b1 = min(b0 + prober_block, nq)
        B = b1 - b0
        Qb32 = Q32[b0:b1]
        thr = np.full(B, -np.inf, dtype=np.float32)
        acc_r, acc_c, acc_v = [], [], []
        acc_n = 0
        cap = max(8 * B * kk, 4096)
        for c0 in range(0, m, member_chunk):
            c1 = min(c0 + member_chunk, m)
            w = c1 - c0
            if B == buf.shape[0] and w == buf.shape[1]:
                Cc = np.matmul(Qb32, V32T[:, c0:c1], out=buf)
            else:
                Cc = Qb32 @ V32T[:, c0:c1]
            if c0 == 0:
                # seed per-row thresholds from the first chunk. The kk-th
                # largest GROUP max (64-wide groups) is a valid pruning
                # bound in f32-land — the top kk group maxes are kk
                # distinct f32 scores, so the kk-th largest f32 score is
                # >= the kk-th group max — and the grouped reduction costs
                # ~1/6 of a full axis-partition at near-identical
                # threshold quality. The 2*EPS margin below then makes the
                # bound sound for the f64 ordering too.
                gr = 64
                ng = w // gr
                if ng > kk:
                    Gm = Cc[:, : ng * gr].reshape(B, ng, gr).max(axis=2)
                    thr = (
                        np.partition(Gm, ng - kk, axis=1)[:, ng - kk]
                        - np.float32(2 * EPS_F32)
                    )
                elif w > kk:
                    thr = (
                        np.partition(Cc, w - kk, axis=1)[:, w - kk]
                        - np.float32(2 * EPS_F32)
                    )
            # flatnonzero over the raveled mask + divmod is ~3x cheaper
            # than 2-D np.nonzero (measured) — the mask scan is the one
            # unavoidable per-pair read, so it has to be the cheap form
            flat_idx = np.flatnonzero((Cc >= thr[:, None]).ravel())
            rr, cc = np.divmod(flat_idx, w)
            acc_r.append(rr)
            acc_c.append(cc + c0)
            acc_v.append(Cc[rr, cc])
            acc_n += len(rr)
            # compact after the FIRST chunk unconditionally — its group-max
            # seed is loose (~4x kk candidates/row), and tightening thr to
            # the exact (kk-th - margin) there cuts the later chunks'
            # candidate rate ~10x, which is what the final lexsort pays for
            # — and thereafter whenever the buffers outgrow the cap
            if c1 < m and (c0 == 0 or acc_n > cap):
                r_, c_, v_ = (
                    np.concatenate(acc_r),
                    np.concatenate(acc_c),
                    np.concatenate(acc_v),
                )
                # margin compaction: keep every entry within 2*EPS of the
                # row's kk-th f32 score (a plain top-kk cut could drop an
                # f32 near-tie that exact scoring would rank inside top-kk)
                r_, c_, v_ = _topk_compact_margin(r_, c_, v_, kk, thr, 2 * EPS_F32)
                acc_r, acc_c, acc_v = [r_], [c_], [v_]
                acc_n = len(r_)
        rows = np.concatenate(acc_r)
        if not len(rows):
            continue
        cols = np.concatenate(acc_c)
        vals = np.concatenate(acc_v)
        # provisional f32 selection: per row keep rank<kk plus everything
        # within the 2*EPS margin of the row's kk-th f32 score — the
        # provable superset of the f64 top-kk
        order = np.lexsort((cols, -vals, rows))
        rows, cols, vals = rows[order], cols[order], vals[order]
        rank = _seg_rank(rows)
        kv = np.full(len(rows), -np.inf, dtype=vals.dtype)
        at_k = rank == kk - 1
        if at_k.any():
            run_id = np.cumsum(np.r_[True, rows[1:] != rows[:-1]]) - 1
            kk_by_run = np.full(run_id[-1] + 1, -np.inf, dtype=vals.dtype)
            kk_by_run[run_id[at_k]] = vals[at_k]
            kv = kk_by_run[run_id]
        keep = (rank < kk) | (vals >= kv - np.float32(2 * EPS_F32))
        rows, cols = rows[keep], cols[keep]
        # exact f64 re-score of the survivors: per-row pairwise reduce over
        # the normalized vectors — deterministic and tile-shape independent
        vals64 = np.add.reduce(Qh[b0 + rows] * Vh[cols], axis=1)
        order = np.lexsort((cols, -vals64, rows))
        rows, cols, vals64 = rows[order], cols[order], vals64[order]
        qblk = qarr[b0:b1]
        nonself = ids[cols] != qblk[rows]
        rows, cols, vals64 = rows[nonself], cols[nonself], vals64[nonself]
        if len(rows):
            sel = _seg_rank(rows) < k
            out_q.append(qblk[rows[sel]])
            out_i.append(ids[cols[sel]])
            out_c.append(vals64[sel])
    if out_q:
        return np.concatenate(out_q), np.concatenate(out_i), np.concatenate(out_c)
    return (
        np.array([], dtype=object),
        np.array([], dtype=object),
        np.array([], dtype=np.float64),
    )


def knn_join(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "ivf",
    dim: int | None = None,
    seed: int = 42,
    nbits: int = 2,
    tables: int = 8,
    nlist: int = 16,
    nprobe: int = 4,
    centroids=None,
    max_bucket: int | None = None,
    max_probers: int = 131072,
) -> DataFrame:
    """For EVERY corpus row, its top-k nearest neighbors by cosine —
    columns (id_col, nbr_id, cosine, rank), tie rule (cosine desc, nbr_id
    asc), self always excluded. Rows with null/dim-mismatched vectors are
    excluded from both sides (a vector that can't produce a cosine is
    neither a query nor a neighbor here — unlike the fixed-query top-k ops,
    where an invalid corpus row scores 0.0 against an explicit query set).

    Methods:

    - ``ivf`` (DEFAULT — VERDICT r5 #5): data-adaptive lists give far
      better corpus-KNN recall than data-oblivious hyperplanes at
      comparable candidate cost (measured on the 16-center clustered
      fixture: IVF defaults 1.0 recall@10 vs 0.40 for the old lsh
      nbits=8 default), and the default is what a caller who specifies
      nothing gets — it must not be the silently-bad configuration.
    - ``lsh``: multi-table hyperplane buckets
      (_table_sigs_udf — the s2/s3 math); ONE groupBy(table, bucket) +
      applyInArrow kernel scores each bucket's members against each other
      and keeps per-member top-k in-kernel; global rank merges the <= n x
      tables x k candidates. Never all-pairs; recall < 1.0 by design.
      Corpus-KNN needs COARSE buckets — every row is a query, so a row
      whose true neighbors land outside its few buckets has no second
      chance, unlike the fixed-query ops where only explicit queries pay:
      measured recall 0.99 at nbits=2 vs 0.40 at nbits=8 on the clustered
      fixture, hence the knn-path default ``nbits=2`` (s2/s3 keep their
      own finer defaults). Buckets above ``max_bucket`` are dropped before
      the kernel (the O(m^2 x dim) guard — members still pair via their
      other tables); the kernel is O(m^2 x dim) per bucket, ~1 s at the
      4096 default with dim 64.
    - ``ivf``: ONE assignment pass posexplodes every row to its
      ``nprobe`` nearest lists, nearest first; the row probes each of them
      and is a member of the first. ONE groupBy((list, mblock, pblock)) +
      applyInArrow kernel scores each cell's probers against its members —
      candidates are ~nprobe/nlist of the corpus per row, adapting to data
      clustering like ivf_topk. nprobe == nlist makes candidates exhaustive
      (the provable-recall contract configuration). Hot lists are NOT
      dropped (an IVF member lives in exactly ONE inverted list, so the
      LSH drop rule would silently remove it as a candidate everywhere):
      lists over ``max_bucket`` members or ``max_probers`` probers are
      grid-split instead — members salted into ceil(mc/max_bucket) blocks
      by id hash, probers into ceil(pc/max_probers) blocks by id hash,
      each side copied, role-tagged, across the OTHER side's blocks; an
      unsplit list is the 1 x 1 grid. Every (member, prober) pair lands in
      exactly one cell, per-cell memory is bounded, and the union of
      per-cell top-ks contains the true top-k — the standard blocked-matmul
      distribution, at the cost of members x p_blocks + probers x
      m_blocks row replication on the hot lists only.
    - ``exact``: the matrix engine with queries := the corpus (k+1 then
      self-drop + re-rank). O(n^2 x dim) compute and an O(n x dim) driver
      collect — the small/mid-corpus baseline and the parity oracle for the
      bucketed paths; hard-capped by MAX_ENGINE_QUERIES.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if method not in ("lsh", "ivf", "exact"):
        raise ValueError(f"method must be lsh|ivf|exact, got {method!r}")
    if max_bucket is None:
        # method-dependent default (r8): for lsh this caps the O(m^2 x dim)
        # per-bucket kernel (buckets DROP above it — a result-affecting
        # recall knob, kept at 4096); for ivf it only SIZES grid cells
        # (results identical at any cap), where 4096 split every ~8k-member
        # list in two — doubling candidate emission and replicating the
        # prober rows — for no memory need: a 32768 x dim=64 member block
        # is 17 MB, and splitting members is the EXPENSIVE direction (the
        # heavy prober side replicates across member blocks and candidate
        # emission multiplies). Explicit callers are unaffected.
        max_bucket = 32768 if method == "ivf" else 4096
    if dim is None:
        dim = _infer_dim(df, vec_col)
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    valid = base.where(F.col("__v").isNotNull() & (F.size("__v") == dim))

    if method == "exact":
        q = valid.select(F.col(id_col).alias("__knnq"), "__v")
        got = _matrix_topk(
            valid, q, k + 1, id_col, "__v", "__knnq", dim
        )
        cands = got.where(F.col(id_col) != F.col("__knnq")).select(
            F.col("__knnq").alias("__q"),
            F.col(id_col).alias("nbr_id"),
            "cosine",
        ).withColumnRenamed("__q", id_col)
        # each corpus id lives in one partition of the matrix engine's pass,
        # so (query, id) candidates are already unique — no dedup aggregate
        return _knn_rank(cands, k, id_col, dedup=False)

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("nbr_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    arrow_schema = to_arrow_schema(out_schema)

    def _prep_arrow(tab):
        """Kernel input table -> (ids, V, Vn, order), id-sorted; ``order``
        is the sorting permutation of the table's rows. Rows are
        pre-validated upstream (``valid``), so every vector decodes."""
        ids = tab.column(id_col).to_numpy(zero_copy_only=False)
        V, _ = _vectors(tab.column("__v"), dim)
        order = np.argsort(ids, kind="stable")
        if not np.array_equal(order, np.arange(len(ids))):
            ids, V = ids[order], V[order]
        Vn = np.sqrt(np.add.reduce(V * V, axis=1))
        return ids, V, Vn, order

    def _cands(oq=(), oi=(), oc=()):
        """Kernel output table (id, nbr_id, cosine); no arguments = empty."""
        return pa.Table.from_pydict(
            {id_col: oq, "nbr_id": oi, "cosine": oc}, schema=arrow_schema
        )

    if method == "lsh":
        assigned = _multi_table_buckets(valid, "__v", nbits, tables, dim, seed)
        if max_bucket > 0:
            from pitfeat.ops.dedup import _drop_hot_buckets

            assigned = _drop_hot_buckets(assigned, ["tbl", "bucket"], max_bucket)

        def bucket_kernel(tab):
            if tab.num_rows < 2:
                return _cands()
            ids, V, Vn, _ = _prep_arrow(tab)
            return _cands(*_knn_score_block(V, Vn, ids, V, Vn, ids, k))

        cands = (
            assigned.groupBy("tbl", "bucket")
            .applyInArrow(bucket_kernel, schema=out_schema)
        )
        return _knn_rank(cands, k, id_col)

    # ivf
    C = _ivf_codebook(centroids, dim, nlist, nprobe)
    if C is None:
        C = _kmeans_centroids(df, vec_col, id_col, nlist, dim, seed)
    splits, n_parts = _ivf_grid_splits(valid, id_col, C, dim, nprobe, max_bucket, max_probers)
    # ONE assignment pass: each valid row once per probed list, nearest
    # first. Every (row, list) is a prober there; pos 0 (the nearest list)
    # also makes it a member.
    lists = valid.select(
        id_col,
        "__v",
        F.posexplode(_ivf_lists_udf(C, dim, nprobe)(F.col("__v"))).alias("__pos", "__list"),
    )
    if splits is None:
        lists = lists.withColumn("__ms", F.lit(1)).withColumn("__ps", F.lit(1))
    else:
        # block counts ship as a tiny broadcast table (nlist rows), never a
        # literal plan tree
        sdf = F.broadcast(splits)
        lists = lists.join(sdf, lists["__list"] == sdf["__l"], "inner")
    # Cells (list, mblock, pblock), role-tagged copies: a member lives in
    # block mh = mhash(id) % ms of its list and is copied to every prober
    # block; a prober lives in block ph = phash(id) % ps of each probed list
    # and is copied to every member block. A pos-0 row's member copy and
    # prober copy meet in cell (mh, ph) and ship there as ONE row with both
    # roles, so an unsplit list (1 x 1 grid) ships each row exactly once.
    # Copies j < ms are the prober copies (mblock j); copies j >= ms are the
    # member copies in the other ps - 1 prober blocks. Block membership is a
    # pure id hash, so cell composition (and the kernel's GEMM shapes) is a
    # pure function of the data, and each (member, prober) pair meets in
    # exactly one cell.
    mh = F.pmod(F.xxhash64(F.lit(seed + 101), F.col(id_col)), F.col("__ms")).cast("int")
    ph = F.pmod(F.xxhash64(F.lit(seed + 103), F.col(id_col)), F.col("__ps")).cast("int")
    home = F.col("__pos") == 0
    n_copies = F.col("__ms") + F.when(home, F.col("__ps") - 1).otherwise(0)
    j, ms, other = F.col("__j"), F.col("__ms"), F.col("__j") - F.col("__ms")
    cells = (
        lists.withColumn("__j", F.explode(F.sequence(F.lit(0), n_copies - 1)))
        .select(
            id_col,
            "__v",
            "__list",
            F.when(j < ms, j).otherwise(mh).alias("__mb"),
            F.when(j < ms, ph).otherwise(other + (other >= ph).cast("int")).alias("__pb"),
            # role bits: 1 = member, 2 = prober
            F.when(j >= ms, 1).otherwise(2 + (home & (j == mh)).cast("int")).alias("__role"),
        )
    )

    def cell_kernel(tab):
        ids, V, Vn, order = _prep_arrow(tab)
        role = tab.column("__role").to_numpy()[order]
        m, p = (role & 1) > 0, (role & 2) > 0
        if not m.any() or not p.any():
            return _cands()

        def pick(sel):  # boolean selection keeps the id order
            return (V, Vn, ids) if sel.all() else (V[sel], Vn[sel], ids[sel])

        return _cands(*_knn_score_block(*pick(m), *pick(p), k))

    # the explicit hash repartition on the grouping keys sizes the kernel's
    # shuffle (see _ivf_grid_splits) and satisfies the group's clustered
    # distribution, so Spark adds no second exchange
    cands = (
        cells.repartition(n_parts, "__list", "__mb", "__pb")
        .groupBy("__list", "__mb", "__pb")
        .applyInArrow(cell_kernel, schema=out_schema)
    )
    # IVF candidates are exactly-once by construction (one inverted list per
    # member; one grid cell per (member, prober) pair) — skip the dedup
    # aggregate's full extra shuffle over ~n x nprobe x k candidate rows
    return _knn_rank(cands, k, id_col, dedup=False)


# Fewest (member, prober) pairs worth one kernel task, measured on a 4-vCPU
# host. A knn_join kernel task costs ~0.1 CPU-s beyond its work; a trivial
# arrow_udf task costs ~0.04, 0.018 of it in the Python worker (4, 64 and 256
# partitions, CPU read from /proc). On a 312 M-pair corpus (50k vectors,
# nlist 64, nprobe 8; the kernel scores a pair in ~24 ns) each extra task
# added 0.06-0.2 CPU-s, and 10 tasks (32 M pairs each) beat 19, 25, 37 and 98
# (16, 12, 8 and 3 M) in alternating runs. So a task costs ~4 M pairs of
# kernel work; 32 M keeps the work ~8x what the task costs.
MIN_PAIRS_PER_TASK = 32_000_000


def _ivf_grid_splits(
    valid: DataFrame, id_col: str, C, dim: int, nprobe: int, max_bucket: int, max_probers: int
):
    """Per-list grid-block counts and the kernel's partition count for
    knn_join's IVF path, as ``(splits_df_or_None, n_parts)``. The splits
    frame is None when no list exceeds either cap (the common case — no
    join in the plan then); a cap <= 0 means one block on that side.

    Both come from one deterministic 1/16 id-hash sample (x16 scale-up):
    posexplode of the nprobe list array, where pos 0 is the member list,
    aggregated to <= nlist (list, members, probers) rows and collected.
    Counts only SIZE things — blocks (ceil(1.25 x count / cap), 25%
    headroom) and the partition count — so sampling error (~3% at the caps,
    >= 1k sampled rows per near-cap list) is harmless; blocks stay
    ~cap-bounded either way. The sample is a pure function of the ids, so
    sizing, and with it every GEMM tile shape, is deterministic run-to-run.

    ``n_parts = clamp(ceil(est_pairs / MIN_PAIRS_PER_TASK), cores,
    min(4 x cells, 4096))``, est_pairs = sum over lists of members x
    probers (a pair's cell does not change its count). Spreading
    the cells over ~4x as many partitions stops balls-in-bins collisions
    from stacking several hot cells on one straggler task (an sf1.0 corpus
    scores ~3x10^10 pairs, far above the floor, and gets it); a corpus whose
    kernel work is small next to what a task costs (~0.1 CPU-s, measured
    above MIN_PAIRS_PER_TASK) gets one task per core instead, since each
    extra task costs more than it saves."""
    from math import ceil

    rate = 16
    rows = (
        valid.where(F.pmod(F.xxhash64(F.lit(11), F.col(id_col)), F.lit(rate)) == 0)
        .select(
            F.posexplode(_ivf_lists_udf(C, dim, nprobe)(F.col("__v"))).alias(
                "__pos", "__l"
            )
        )
        .groupBy("__l")
        .agg(
            F.count("*").alias("__pc"),
            F.sum(F.when(F.col("__pos") == 0, 1).otherwise(0)).alias("__mc"),
        )
        .collect()
    )
    est = {int(r["__l"]): (int(r["__mc"]) * rate, int(r["__pc"]) * rate) for r in rows}

    def blocks(count, cap):
        return max(1, ceil(1.25 * count / cap)) if cap > 0 else 1

    # EVERY list id gets a row (missing/under-sampled lists default to 1x1):
    # the split join is inner on __l, so a list absent from this table would
    # silently drop its members
    data = [
        (l, blocks(mc, max_bucket), blocks(pc, max_probers))
        for l, (mc, pc) in enumerate(est.get(i, (0, 0)) for i in range(len(C)))
    ]
    est_pairs = sum(mc * pc for mc, pc in est.values())
    n_cells = sum(ms * ps for _, ms, ps in data)
    n_parts = max(
        valid.sparkSession.sparkContext.defaultParallelism,
        min(ceil(est_pairs / MIN_PAIRS_PER_TASK), 4 * n_cells, 4096),
    )
    if all(ms == 1 and ps == 1 for _, ms, ps in data):
        return None, n_parts
    return valid.sparkSession.createDataFrame(data, "__l int, __ms int, __ps int"), n_parts
