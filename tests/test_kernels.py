"""Edge cases and determinism for the fused text kernels (minhash, simhash),
a property-based as-of check (hypothesis over randomized frames), and the
Python worker daemon the kernels run under."""

import datetime as dt

import pandas as pd
import pyspark.sql.functions as F
import pytest

from pitfeat.ops.asof import asof_join
from pitfeat.ops.dedup import minhash_signatures, simhash
from tests.oracle_pandas import salting_shapes

EDGE_TEXTS = [
    (0, ""),                       # empty
    (1, "   "),                    # whitespace only
    (2, "one"),                    # single token (< shingle_n)
    (3, "two tokens"),             # below 3-gram width
    (4, "exactly three tokens"),   # == shingle_n
    (5, "a b c d e f g h i j"),    # normal
    (6, "ünïcödé tøkens héré please and more of them"),  # non-ascii
    (7, "repeat repeat repeat repeat repeat"),            # degenerate vocab
    (8, "Tabs\tand\nnewlines   collapse to single spaces everywhere"),
    (9, None),                     # null text
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string")


def test_minhash_kernel_edges_deterministic(edge_docs):
    a = {r["doc_id"]: r["__sig"] for r in minhash_signatures(edge_docs, as_array=True).collect()}
    b = {r["doc_id"]: r["__sig"] for r in minhash_signatures(edge_docs, as_array=True).collect()}
    assert a == b  # deterministic across runs
    assert all(len(v) == 32 for v in a.values())  # fixed width, even for empty/null
    assert all(all(0 <= x < (1 << 31) for x in v) for v in a.values())
    # null and empty normalize identically ('' after fillna+strip)
    assert a[9] == a[0]
    # whitespace-only == empty after normalization
    assert a[1] == a[0]
    # identical docs would collide; these distinct docs must not all collide
    assert len({tuple(v) for v in a.values()}) >= 7


def test_minhash_matches_catalyst_shingle_semantics(spark):
    """The fused kernel must keep the documented fallback: docs shorter than
    the shingle width hash the whole normalized string as one shingle — so
    two short docs differing only in whitespace/case get EQUAL signatures."""
    docs = spark.createDataFrame(
        [(0, "  Hello   World "), (1, "hello world")], "doc_id long, text string"
    )
    sigs = {r["doc_id"]: r["__sig"] for r in minhash_signatures(docs, as_array=True).collect()}
    assert sigs[0] == sigs[1]


# EDGE_TEXTS plus the whitespace classes where Python's Unicode \s and
# strip() differ from Java's ASCII \s, case mappings that change length,
# and one long document
REF_TEXTS = EDGE_TEXTS + [
    (10, "vertical\x0btab between words here"),
    (11, "no-break\xa0space between words"),
    (12, "em\u2003space between words"),
    (13, "ideographic\u3000space between words"),
    (14, "İstanbul ΣΑΣ straße"),
    (15, " ".join(f"w{i % 53}" for i in range(200))),
]


def _ref_shingles(text, n, mod):
    """Pure-Python statement of the dedup kernels' shingle hashes: normalize
    with str methods, hash each token with its own pd.util.hash_array call,
    roll the polynomial in Python ints reduced mod ``mod``. A text of fewer
    than n tokens is one shingle: its whole normalized string."""
    import re

    import numpy as np

    def h(x):
        return int(pd.util.hash_array(np.array([x], dtype=object))[0]) % mod

    s = re.sub(r"\s+", " ", (text or "").strip().lower())
    toks = s.split(" ")
    if len(toks) < n:
        return [h(s)]
    th = [h(t) for t in toks]
    out = []
    for i in range(len(toks) - n + 1):
        x = th[i]
        for t in th[i + 1 : i + n]:
            x = (x * 1_000_003 + t) % mod
        out.append(x)
    return out


def _signed(x):
    return x - (1 << 64) if x >= 1 << 63 else x


def test_text_kernels_match_python_reference(spark):
    """minhash signatures, hashed shingle sets and simhash equal an
    independent pure-Python computation, value for value."""
    from pitfeat.ops.dedup import _P, _perm_coeffs, _shingle_hash_udf

    docs = spark.createDataFrame(REF_TEXTS, "doc_id long, text string")
    texts = dict(REF_TEXTS)
    av, bv = _perm_coeffs(32, 42)
    sigs = {r["doc_id"]: r["__sig"] for r in minhash_signatures(docs, as_array=True).collect()}
    sets = {
        r["doc_id"]: r["sh"]
        for r in docs.select("doc_id", _shingle_hash_udf(3)(F.col("text")).alias("sh")).collect()
    }
    sims = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    for i, text in texts.items():
        sh = _ref_shingles(text, 3, _P)
        assert sigs[i] == [min((a * x + b) % _P for x in sh) for a, b in zip(av, bv)], i
        sh = _ref_shingles(text, 3, 1 << 64)
        assert sets[i] == [_signed(x) for x in sorted(set(sh))], i
        sh = _ref_shingles(text, 2, 1 << 64)
        votes = [sum(1 if x >> b & 1 else -1 for x in sh) for b in range(64)]
        assert sims[i] == _signed(sum(1 << b for b, v in enumerate(votes) if v > 0)), i


def test_simhash_kernel_edges_deterministic(edge_docs):
    a = {r["doc_id"]: r["simhash"] for r in simhash(edge_docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash(edge_docs).collect()}
    assert a == b
    assert a[9] == a[0] and a[1] == a[0]
    # near-identical docs (case/whitespace) collide, distinct docs spread
    assert len(set(a.values())) >= 6


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:
    _ts = st.integers(min_value=0, max_value=3_000)
    _key = st.sampled_from(["k1", "k2", "k3"])

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        lefts=st.lists(st.tuples(_key, _ts), min_size=1, max_size=25),
        rights=st.lists(st.tuples(_key, _ts, st.floats(0, 100, allow_nan=False)), max_size=25),
        allow_exact=st.booleans(),
    )
    def test_asof_property_vs_merge_asof(spark, lefts, rights, allow_exact):
        """SURVEY §5 item 1 as a property: for arbitrary small frames, the
        window as-of equals pandas.merge_asof (ties, misses,
        duplicates-free right side)."""
        base = dt.datetime(2024, 1, 1)
        lpdf = pd.DataFrame(
            {
                "conv_id": [k for k, _ in lefts],
                "ts": [base + dt.timedelta(seconds=t) for _, t in lefts],
            }
        )
        # unique (key, snap_ts): the documented right-side contract
        seen = set()
        rrows = []
        for k, t, v in rights:
            if (k, t) not in seen:
                seen.add((k, t))
                rrows.append((k, base + dt.timedelta(seconds=t), v))
        rpdf = pd.DataFrame(rrows, columns=["conv_id", "snap_ts", "val"]).astype(
            {"snap_ts": "datetime64[ns]", "val": "float64"}
        )

        ldf = spark.createDataFrame(lpdf)
        rdf = (
            spark.createDataFrame(rpdf)
            if len(rpdf)
            else spark.createDataFrame([], "conv_id string, snap_ts timestamp, val double")
        )
        got = (
            asof_join(ldf, rdf, allow_exact=allow_exact)
            .toPandas()
            .sort_values(["conv_id", "ts"], kind="mergesort")
            .reset_index(drop=True)
        )
        want = pd.merge_asof(
            lpdf.sort_values("ts", kind="mergesort"),
            rpdf.sort_values("snap_ts", kind="mergesort"),
            left_on="ts",
            right_on="snap_ts",
            by="conv_id",
            direction="backward",
            allow_exact_matches=allow_exact,
        ).sort_values(["conv_id", "ts"], kind="mergesort").reset_index(drop=True)
        assert len(got) == len(want)
        pd.testing.assert_series_equal(got["snap_ts"], want["snap_ts"], check_names=False)
        pd.testing.assert_series_equal(
            got["val"].astype(float), want["val"].astype(float), check_names=False
        )


    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        lefts=st.lists(st.tuples(_key, _ts), min_size=1, max_size=20),
        rights=st.lists(st.tuples(_key, _ts, st.floats(0, 100, allow_nan=False)), max_size=20),
        direction=st.sampled_from(["backward", "forward", "nearest"]),
    )
    def test_asof_directions_property(spark, lefts, rights, direction):
        """All three directions under every salting shape equal
        pandas.merge_asof on arbitrary small frames (duplicates-free right
        side, so only the search semantics — not the tie rules — are in
        play). Threshold 2 salts the keys drawn more than once."""
        base = dt.datetime(2024, 1, 1)
        lpdf = pd.DataFrame(
            {
                "conv_id": [k for k, _ in lefts],
                "ts": [base + dt.timedelta(seconds=t) for _, t in lefts],
            }
        )
        seen = set()
        rrows = []
        for k, t, v in rights:
            if (k, t) not in seen:
                seen.add((k, t))
                rrows.append((k, base + dt.timedelta(seconds=t), v))
        rpdf = pd.DataFrame(rrows, columns=["conv_id", "snap_ts", "val"]).astype(
            {"snap_ts": "datetime64[ns]", "val": "float64"}
        )
        ldf = spark.createDataFrame(lpdf)
        rdf = (
            spark.createDataFrame(rpdf)
            if len(rpdf)
            else spark.createDataFrame([], "conv_id string, snap_ts timestamp, val double")
        )
        want = pd.merge_asof(
            lpdf.sort_values("ts", kind="mergesort"),
            rpdf.sort_values("snap_ts", kind="mergesort"),
            left_on="ts",
            right_on="snap_ts",
            by="conv_id",
            direction=direction,
        ).sort_values(["conv_id", "ts"], kind="mergesort").reset_index(drop=True)
        for shape, kw in salting_shapes(2).items():
            got = (
                asof_join(ldf, rdf, direction=direction, **kw)
                .toPandas()
                .sort_values(["conv_id", "ts"], kind="mergesort")
                .reset_index(drop=True)
            )
            assert len(got) == len(want), shape
            pd.testing.assert_series_equal(
                got["snap_ts"], want["snap_ts"], check_names=False, obj=shape
            )
            pd.testing.assert_series_equal(
                got["val"].astype(float), want["val"].astype(float),
                check_names=False, obj=shape,
            )


# --------------------------------------------------------------------------
# fused LSH-signature kernel (similarity._table_sigs_udf) vs expression path
# --------------------------------------------------------------------------


def test_lsh_kernel_matches_expression_signatures(spark):
    """The fused matmul kernel must reproduce the expression path's buckets
    bit-for-bit at seed 42 on the driver embeddings (VERDICT r2 #1 'done'
    criterion). A mismatch is only possible when a dot product sits within
    float rounding of zero, which real embeddings never do."""
    from pitfeat.ops.similarity import _multi_table_buckets
    from tests.oracle_similarity import _multi_table_buckets_expr

    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    for nbits, tables in ((1, 16), (8, 4)):
        got = (
            _multi_table_buckets(e, "v", nbits, tables, 64, 42)
            .select("vec_id", "tbl", "bucket")
            .toPandas()
            .sort_values(["vec_id", "tbl"])
            .reset_index(drop=True)
        )
        want = (
            _multi_table_buckets_expr(e, "v", nbits, tables, 64, 42)
            .select("vec_id", "tbl", "bucket")
            .toPandas()
            .sort_values(["vec_id", "tbl"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)


def _lsh_buckets(df):
    from pitfeat.ops.similarity import _multi_table_buckets

    return _multi_table_buckets(df, "v", 4, 3, 4, 7).select("vec_id", F.col("bucket").alias("out"))


def _ivf_lists(df):
    import numpy as np

    from pitfeat.ops.similarity import _ivf_lists_udf

    lists = _ivf_lists_udf(np.eye(3, 4), 4, 2)(F.col("v"))
    return df.select("vec_id", F.explode(lists).alias("out"))


def _pair_cosines(df):
    from pitfeat.ops.similarity import _pair_cosine_udf

    ref = df.where(F.col("vec_id") == 0).select(F.col("v").alias("w"))
    return df.crossJoin(ref).select(
        "vec_id", _pair_cosine_udf(4)(F.col("v"), F.col("w")).alias("out")
    )


@pytest.mark.parametrize(
    "kernel, per_row",
    [(_lsh_buckets, 3), (_ivf_lists, 2), (_pair_cosines, 1)],
    ids=["lsh", "ivf_lists", "pair_cosine"],
)
def test_vector_kernel_null_and_ragged_rows(spark, kernel, per_row):
    """Null / wrong-width vectors come out as the kernel's zero value — LSH
    bucket 0 in every table (the bucket the expression path's
    null-propagating dot products produce), IVF list 0 in every probe slot,
    pair cosine 0.0 — while every row keeps its output slots."""
    rows = [
        (0, [0.5, -1.0, 2.0, 0.25]),
        (1, None),
        (2, [1.0, 2.0]),
        (3, [1.0, 2.0, 3.0, 4.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = kernel(df).toPandas()
    assert len(out) == len(rows) * per_row
    assert (out.loc[out.vec_id > 0, "out"] == 0).all()
    if kernel is _pair_cosines:
        assert out.loc[out.vec_id == 0, "out"].tolist() == [1.0]
    if kernel is _ivf_lists:
        assert out.loc[out.vec_id == 0, "out"].tolist() == [2, 0]


def test_probe_np_one_ordering_rule():
    """_probe_np's argmax leg (nprobe == 1) and its argsort leg agree on
    slot 0 — knn_join reads slot 0 as the member list — on finite rows,
    NaN-element rows and inf-element rows: a NaN score ranks below every
    number (an inf element against a 0 centroid weight scores NaN)."""
    import numpy as np

    from pitfeat.ops.similarity import _probe_np

    inf, nan = np.inf, np.nan
    rs = np.random.RandomState(3)
    V = np.vstack(
        [
            rs.normal(size=(6, 3)),
            [[1.0, 1.0, 0.0]],  # exact tie: the lower list id wins
            [[nan, 1.0, 2.0]],
            [[1.0, nan, 0.0]],
            [[inf, 0.0, 0.0]],
            [[-inf, 0.0, 0.0]],
            [[inf, 1.0, -inf]],
            [[0.0, -inf, 0.0]],
        ]
    )
    ok = np.ones(len(V), dtype=bool)
    ok[2] = False  # invalid rows stay on list 0
    CT = np.eye(4, 3).T.copy()  # 4 lists, the last one all-zero
    with np.errstate(invalid="ignore"):  # inf x 0 in the matmul
        first = _probe_np(V, ok, CT, 1)[:, 0]
        for nprobe in (2, 3, 4):
            np.testing.assert_array_equal(_probe_np(V, ok, CT, nprobe)[:, 0], first)
    assert first[2] == 0
    assert first[6] == 0  # tie between lists 0 and 1
    assert first[9] == 0  # [inf, nan, nan, nan]: the one number ranks first
    assert first[12] == 0  # [nan, -inf, nan, nan]: all last, lower id wins


def test_vectors_decoder_edge_rows():
    """_vectors, the one Arrow vector decoder: null, empty, short and long
    rows are invalid and decode to zero rows; a null element inside a
    full-width vector keeps the row valid and decodes to NaN. Pinned on a
    slice with a nonzero offset (what the engine's 4096-row slicing
    produces), on a multi-chunk column, and on float32 lists."""
    import numpy as np
    import pyarrow as pa

    from pitfeat.ops.similarity import _vectors

    nan = float("nan")
    rows = [
        [1.0, 2.0, 3.0],
        None,
        [],
        [4.0, 5.0],
        [6.0, 7.0, 8.0, 9.0],
        [1.5, None, -2.0],
        [-1.0, 0.0, 0.5],
    ]
    want_ok = np.array([True, False, False, False, False, True, True])
    want_V = np.array(
        [[1, 2, 3], [0, 0, 0], [0, 0, 0], [0, 0, 0], [0, 0, 0], [1.5, nan, -2], [-1, 0, 0.5]],
        dtype=np.float64,
    )
    pad = [[9.0, 9.0, 9.0], None, [9.0]]
    cases = []
    for typ in (pa.list_(pa.float64()), pa.list_(pa.float32())):
        whole = pa.array(pad + rows + pad, type=typ)
        cases += [
            (whole.slice(len(pad), len(rows)), want_ok, want_V),
            # all-valid slice: the zero-copy reshape path, still offset
            (whole.slice(len(pad) + 5, 2), want_ok[5:], want_V[5:]),
            (pa.chunked_array([whole.slice(len(pad), len(rows))]), want_ok, want_V),
            (
                pa.chunked_array([pa.array(rows[i:j], type=typ) for i, j in ((0, 3), (3, 5), (5, 7))]),
                want_ok,
                want_V,
            ),
            (pa.array([], type=typ), want_ok[:0], want_V[:0]),
        ]
    # Arrow lets a null slot span child values: it must still be invalid
    spanning_null = pa.ListArray.from_arrays(
        pa.array([0, 3, 6], type=pa.int32()),
        pa.array([1.0, 2.0, 3.0, 4.0, 5.0, 6.0]),
        mask=pa.array([False, True]),
    )
    cases.append((spanning_null, np.array([True, False]), np.array([[1.0, 2, 3], [0, 0, 0]])))
    for arr, ok_exp, V_exp in cases:
        V, ok = _vectors(arr, 3)
        assert V.dtype == np.float64 and V.shape == V_exp.shape and V.flags.c_contiguous
        np.testing.assert_array_equal(ok, ok_exp)
        np.testing.assert_array_equal(V, V_exp)


def test_knn_score_block_f32_prefilter_exact_selection():
    """r8: _knn_score_block scans tiles in float32 with a margin and
    re-scores survivors in exact float64. This pins selection parity against
    a brute-force oracle on random fixtures (duplicates, zero vectors,
    self-exclusion, tiny prober blocks), an exact-tie flood, and a near-tie
    cluster fixture engineered so f32 CANNOT distinguish neighbors — the
    margin must carry them into the f64 re-score. Pairs are allowed to
    differ ONLY where two distinct vectors produce cosines within 1e-12
    (the documented summation-order ulp class)."""
    import numpy as np

    from pitfeat.ops.similarity import _knn_score_block

    rng = np.random.default_rng(17)

    def brute_sets(V, ids, QV, qids, k):
        Vn = np.sqrt((V * V).sum(1))
        QVn = np.sqrt((QV * QV).sum(1))
        Vh = V / np.where(Vn > 0, Vn, 1.0)[:, None]
        Qh = QV / np.where(QVn > 0, QVn, 1.0)[:, None]
        Vh[Vn == 0] = 0.0
        Qh[QVn == 0] = 0.0
        C = Qh @ Vh.T
        out = {}
        for qi in range(len(qids)):
            order = sorted(range(len(ids)), key=lambda j: (-C[qi, j], ids[j]))
            picks = []
            for j in order:
                if ids[j] != qids[qi]:
                    picks.append(j)
                    if len(picks) == k:
                        break
            out[qi] = (picks, C[qi])
        return out

    for trial in range(25):
        m = int(rng.integers(2, 80))
        nq = int(rng.integers(1, 60))
        k = int(rng.integers(1, 6))
        V = rng.standard_normal((m, 8))
        for _ in range(int(rng.integers(0, 5))):
            V[rng.integers(0, m)] = V[rng.integers(0, m)]
        if rng.random() < 0.3:
            V[rng.integers(0, m)] = 0.0
        ids = np.sort(rng.choice(5000, m, replace=False))
        QV = V[rng.integers(0, m, nq)] if rng.random() < 0.5 else rng.standard_normal((nq, 8))
        # unique prober ids (knn_join probers are distinct corpus rows; a
        # duplicated id would make this harness merge two probers' outputs)
        qids = rng.choice(
            np.concatenate([ids, 90000 + np.arange(nq)]), nq, replace=False
        )
        Vn = np.sqrt((V * V).sum(1))
        QVn = np.sqrt((QV * QV).sum(1))
        got = list(zip(*_knn_score_block(V, Vn, ids, QV, QVn, qids, k, 7)))
        oracle = brute_sets(V, ids, QV, qids, k)
        by_q = {}
        for q, i, c in got:
            by_q.setdefault(q, []).append(int(i))
        pos_of = {int(i): p for p, i in enumerate(ids)}
        for qi in range(nq):
            picks, crow = oracle[qi]
            exp_ids = [int(ids[j]) for j in picks]
            g = by_q.get(qids[qi], [])
            if g != exp_ids:
                # divergent pairs must be interchangeable ulp-ties
                for a, b in zip(g, exp_ids):
                    if a != b:
                        assert abs(crow[pos_of[a]] - crow[pos_of[b]]) < 1e-12, (
                            trial,
                            qids[qi],
                            a,
                            b,
                        )

    # near-tie clusters: 1e-6-noise clones, f32-indistinguishable
    base = rng.standard_normal((30, 8))
    V = np.repeat(base, 30, axis=0) + rng.standard_normal((900, 8)) * 1e-6
    ids = np.arange(900)
    QV = V[:200]
    qids = np.arange(200)
    Vn = np.sqrt((V * V).sum(1))
    QVn = np.sqrt((QV * QV).sum(1))
    got = list(zip(*_knn_score_block(V, Vn, ids, QV, QVn, qids, 5, 64)))
    oracle = brute_sets(V, ids, QV, qids, 5)
    by_q = {}
    for q, i, c in got:
        by_q.setdefault(q, []).append(int(i))
    for qi in range(200):
        picks, crow = oracle[qi]
        exp_ids = [int(ids[j]) for j in picks]
        g = by_q[qids[qi]]
        for a, b in zip(g, exp_ids):
            if a != b:
                assert abs(crow[a] - crow[b]) < 1e-12, (qi, a, b)

    # exact-tie flood: identical vectors -> pure id-asc order
    V = np.tile(rng.standard_normal(4), (800, 1))
    ids = np.arange(800)
    Vn = np.sqrt((V * V).sum(1))
    oq, oi, oc = _knn_score_block(V, Vn, ids, V[:50], Vn[:50], np.arange(50), 3, 16)
    assert list(oi[:3]) == [1, 2, 3] and len(oq) == 150


def test_python_workers_fork_from_the_pitfeat_daemon(spark):
    """Every Python task runs in a worker forked from ``pitfeat_daemon``: a
    single-threaded parent (as Spark's stock daemon) whose
    ``zipimporter.invalidate_caches`` is the no-op, so tasks stop
    re-reading the zips on the worker's ``sys.path``."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def facts(ids):
        import os
        import zipimport

        ppid = os.getppid()
        with open(f"/proc/{ppid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode()
        inv = zipimport.zipimporter.invalidate_caches
        fact = "|".join(
            [
                cmd,
                str(len(os.listdir(f"/proc/{ppid}/task"))),
                f"{inv.__name__}@{os.path.basename(inv.__code__.co_filename)}",
            ]
        )
        return pa.array([fact] * len(ids))

    rows = spark.range(0, 8, 1, 4).select(arrow_udf(facts, "string")("id").alias("f")).collect()
    for fact in {r["f"] for r in rows}:
        cmd, threads, inv = fact.split("|")
        assert "-m pitfeat_daemon pyspark.worker" in cmd, cmd
        assert threads == "1", fact
        assert inv == "_keep_zip_directory@pitfeat_daemon.py", fact


def test_add_py_file_zip_imports_after_session_start(spark, tmp_path):
    """The daemon's no-op skips only re-reading zips already on a worker's
    ``sys.path``: a zip shipped with ``sc.addPyFile`` after workers exist
    lands under a new path, gets a new importer and imports."""
    import zipfile

    from pyspark.sql.functions import udf

    spark.range(4).select(udf(lambda x: x, "long")("id")).collect()  # workers up
    zpath = tmp_path / "pitfeat_late_dep.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("pitfeat_late_dep.py", "ANSWER = 'late-zip'\n")
    spark.sparkContext.addPyFile(str(zpath))

    def answer(x):
        import pitfeat_late_dep

        return pitfeat_late_dep.ANSWER

    rows = spark.range(0, 8, 1, 4).select(udf(answer, "string")("id").alias("a")).collect()
    assert {r["a"] for r in rows} == {"late-zip"}
