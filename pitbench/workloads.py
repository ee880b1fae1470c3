"""The benchmark's workloads: seeded inputs, the job one iteration runs, the
untimed correctness checks, and the per-layer split of a traced iteration.

Every workload follows one protocol, driven by run.py:

- ``make_inputs(dir)``: generate the seeded inputs to parquet (set-up);
- ``warmup()``: one untimed iteration that also keeps a reference output;
- ``validate()``: check the reference against independent oracles and
  return its recall;
- ``iteration(i)`` / ``check(i)``: the timed job, then its untimed check
  against the reference (row count and checksum); a run times at least
  ``MIN_TIMED`` iterations;
- ``traced_iteration(i)`` / ``layers(times, groups)``: the same job inside
  spans, followed by lazy-layer prefixes, and the per-layer metrics built
  from the span times and the event-log counters of one iteration.

Lazy layers are timed as cumulative prefixes of the job's own plan, each
forced by the same full-evaluation aggregate; a layer's self time is its
prefix minus the previous one. Eager calls are timed directly. A layer that
re-evaluates its lazy input (a second pass) pays for that pass. With these
rules the self times add up to the time of the job's eager calls, and what
is left of the job's wall is ``trace.unattributed_s``.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time
from contextlib import ExitStack, contextmanager
from types import SimpleNamespace

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pitbench.trace import combine, skew

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checksum(pdf) -> tuple[int, int]:
    """Row count and an order-insensitive hash of a collected output."""
    import pandas as pd

    h = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    return len(pdf), int(h.sum(dtype=np.uint64))


def force(df) -> tuple[int, int]:
    """Full evaluation of every output column, as bench.force_eval does
    (count plus an order-insensitive hash of each row), returning both."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64(struct({', '.join(df.columns)})))").alias("chk"),
    ).collect()[0]
    return row["n"], (0 if row["chk"] is None else int(row["chk"]))


@contextmanager
def wrapped(owner, name: str, make):
    """Replace ``owner.name`` by ``make(original)`` for the duration."""
    orig = getattr(owner, name)
    setattr(owner, name, make(orig))
    try:
        yield
    finally:
        setattr(owner, name, orig)


class CheckFailed(Exception):
    """An output did not match its reference or oracle."""


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class PitHotkey:
    """The flagship PIT feature build on zipf-skewed transcripts, run as
    ``jobs/build_features.py --resume`` runs it: ``resume_or_compute`` over
    ``build_asof`` then ``build_rest``, into fresh checkpoint dirs so both
    stages compute and commit. One conversation holds about 30% of the
    turns and targeted salting splits it."""

    N_CONVS = 1000  # ~20k cold turns + one ~8.6k-turn hot conversation
    AVG_TURNS = 20
    MIN_TIMED = 2
    SALT_BUCKETS = 8
    HOT_KEY_THRESHOLD = 5_000  # cold conversations stay below 40 turns
    ORACLE_SAMPLE = 64  # conversations compared with the pandas oracle
    KEYS = ["conv_id", "turn_idx"]

    def __init__(self, spark, work: str, seed: int, tracer):
        import jobs.build_features as build

        from pitfeat.config import PitfeatConfig

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.build = build
        self.cfg = PitfeatConfig(
            salt_buckets=self.SALT_BUCKETS, hot_key_threshold=self.HOT_KEY_THRESHOLD
        )
        self.ref: tuple[int, int] | None = None
        self.captured: dict = {}

    def make_inputs(self, d: str) -> None:
        from pitfeat.synth import gen_snapshots, gen_transcripts

        t, s = f"{d}/transcripts", f"{d}/snapshots"
        gen_transcripts(
            self.spark, self.N_CONVS, self.AVG_TURNS, seed=self.seed, skew="zipf"
        ).write.parquet(t)
        gen_snapshots(self.spark.read.parquet(t), seed=self.seed).write.parquet(s)
        self.args = SimpleNamespace(transcripts=t, snapshots=s, no_normalize=False)

    @property
    def rows_in(self) -> int:
        if not hasattr(self, "_rows_in"):
            self._rows_in = self.spark.read.parquet(self.args.transcripts).count()
        return self._rows_in

    def _ckpt(self, tag) -> str:
        return f"{self.work}/ckpt/{tag}"

    def _job(self, ck: str) -> None:
        from pitfeat.checkpoint import resume_or_compute

        spark, args, cfg, b = self.spark, self.args, self.cfg, self.build
        inputs = [args.transcripts, args.snapshots]
        with self.tracer.span("resume.asof"):
            asof_df, r1 = resume_or_compute(
                spark, f"{ck}/asof", "asof", cfg.config_hash(),
                lambda: b.build_asof(spark, args, cfg), inputs=inputs,
            )
        with self.tracer.span("resume.features"):
            _, r2 = resume_or_compute(
                spark, f"{ck}/features", "features", cfg.config_hash(),
                lambda: b.build_rest(spark, args, cfg, asof_df).df, inputs=inputs,
            )
        if r1 or r2:
            raise RuntimeError(f"{ck}: a stage resumed instead of computing")

    def _output(self, tag):
        return self.spark.read.parquet(f"{self._ckpt(tag)}/features/data")

    def warmup(self) -> None:
        self._job(self._ckpt("ref"))
        self.ref = force(self._output("ref"))

    def iteration(self, i: int) -> None:
        self._job(self._ckpt(i))

    def check(self, i: int) -> None:
        try:
            n, chk = force(self._output(i))
        finally:
            shutil.rmtree(self._ckpt(i), ignore_errors=True)
        _expect(n == self.rows_in, f"rows out {n} != turns in {self.rows_in}")
        _expect((n, chk) == self.ref, f"checksum {chk} != reference {self.ref[1]}")

    def validate(self) -> float:
        """Seeded sample of conversations (plus the hot one) against the
        pandas oracle of tests/oracle_pandas.py; min/max come from the oracle
        over every row. Returns the share of sampled rows that match."""
        o = _oracle_module()
        n, _ = self.ref
        _expect(n == self.rows_in, f"reference rows {n} != turns in {self.rows_in}")
        tp = self.spark.read.parquet(self.args.transcripts).toPandas()
        sp = self.spark.read.parquet(self.args.snapshots).toPandas()
        tp["ts"] = tp["ts"].astype("datetime64[ns]")
        sp["snap_ts"] = sp["snap_ts"].astype("datetime64[ns]")
        out = o.asof_oracle(tp, sp)
        out["gap_s"] = o.gap_oracle(out)
        out = o.sessionize_oracle(out, self.cfg.session_gap_s)
        w = self.cfg.rolling_turns
        for fn in ("mean", "max"):
            out[f"gap_s_roll{w}_{fn}"] = o.rolling_oracle(out, "gap_s", fn, w)
        out["tool_calls_cum"] = (
            (out["tool"].fillna("") != "").astype(int).groupby(out["conv_id"]).cumsum()
        )
        feats = sorted((c for c in sp.columns if c.startswith("f_")), key=lambda c: int(c[2:]))
        feats += ["gap_s", f"gap_s_roll{w}_mean", f"gap_s_roll{w}_max", "tool_calls_cum", "session_no"]
        norm, survivors, _, _ = o.minmax_oracle(out, feats)

        rng = np.random.default_rng(self.seed)
        convs = sorted(out["conv_id"].unique())
        sample = {"c0", *rng.choice(convs, self.ORACLE_SAMPLE, replace=False).tolist()}
        exp = norm[norm["conv_id"].isin(sample)].sort_values(self.KEYS)
        got = (
            self._output("ref").where(F.col("conv_id").isin(sorted(sample)))
            .toPandas().sort_values(self.KEYS)
        )
        _expect(len(got) == len(exp), f"sampled rows {len(got)} != oracle {len(exp)}")
        vecs = np.array(got["features"].tolist(), dtype=float)
        ref = exp[survivors].to_numpy(dtype=float)
        _expect(vecs.shape == ref.shape, f"vector shape {vecs.shape} != oracle {ref.shape}")
        ok = np.isclose(vecs, ref, equal_nan=True).all(axis=1)
        _expect(bool(ok.all()), f"{int((~ok).sum())} sampled rows differ from the oracle")
        return float(ok.mean())

    # ---- tracing ----

    def traced_iteration(self, i: int) -> None:
        import pitfeat.checkpoint as ckpt_mod
        import pitfeat.pipeline as pipe_mod

        tr, cap = self.tracer, self.captured

        def capture_read(key):
            def make(fn):
                def read(*a, **kw):
                    cap[key] = fn(*a, **kw)
                    return cap[key]
                return read
            return make

        def timed_minmax(fn):
            def compute_minmax(df, cols):
                with tr.span("compute_minmax"):
                    return fn(df, cols)
            return compute_minmax

        def timed_write(fn):
            def write_checkpoint(df, ckpt_dir, stage, *a, **kw):
                cap[stage] = df
                with tr.span(f"write_checkpoint.{stage}"):
                    return fn(df, ckpt_dir, stage, *a, **kw)
            return write_checkpoint

        def capture_with_gap(fn):
            def with_gap(p):
                cap["io_ckpt"] = (p.df, list(p.feature_cols))
                return fn(p)
            return with_gap

        def capture_normalize(fn):
            def normalize(p, *a, **kw):
                cap["windows"] = (p.df, list(p.feature_cols))
                out = fn(p, *a, **kw)
                cap["normalize"] = (out.df, list(out.feature_cols))
                return out
            return normalize

        with ExitStack() as stack:
            for owner, name, make in (
                (pipe_mod, "read_transcripts", capture_read("transcripts")),
                (pipe_mod, "read_snapshots", capture_read("snapshots")),
                (pipe_mod, "compute_minmax", timed_minmax),
                (ckpt_mod, "write_checkpoint", timed_write),
                (pipe_mod.Pipeline, "with_gap", capture_with_gap),
                (pipe_mod.Pipeline, "normalize", capture_normalize),
            ):
                stack.enter_context(wrapped(owner, name, make))
            with tr.span("job"):
                self._job(self._ckpt(i))

        # prefixes of the same plans, in plan order; stage-2 prefixes keep
        # only the columns the committed output is built from
        out = cap["features"]
        keys = [f.name for f in out.schema.fields if not isinstance(f.dataType, T.ArrayType)]

        def prefixes():
            with tr.span("prefix.io_in"):
                force(cap["transcripts"])
                force(cap["snapshots"])
            with tr.span("prefix.asof"):
                force(cap["asof"])
            for layer in ("io_ckpt", "windows", "normalize"):
                df, cols = cap[layer]
                with tr.span(f"prefix.{layer}"):
                    force(df.select(*keys, *cols))
            with tr.span("prefix.vectors"):
                force(out)

        _measure_warm(tr, prefixes)
        self.check(i)

    JOB_GROUPS = [
        "job", "resume.asof", "resume.features", "compute_minmax",
        "write_checkpoint.asof", "write_checkpoint.features",
    ]
    SELF_TIMES = [
        "io.scan_s", "asof.self_s", "windows.self_s", "normalize.self_s",
        "vectors.self_s", "checkpoint.self_s",
    ]

    def layers(self, t: dict, g: dict) -> dict:
        def s(*names):
            return sum(t.get(n, 0.0) for n in names)

        ck = ["write_checkpoint.asof", "write_checkpoint.features"]
        io_in = combine(g, ["prefix.io_in"])
        asof = combine(g, ["prefix.asof"], ["prefix.io_in"])
        win = combine(g, ["prefix.windows"], ["prefix.io_ckpt"])
        ckc = combine(g, ck)
        job = combine(g, self.JOB_GROUPS)
        return {
            "io.scan_s": s("prefix.io_in", "prefix.io_ckpt"),
            "io.rows_in": io_in["rows_in"],
            "io.input_mb": io_in["input_mb"],
            "asof.self_s": s("prefix.asof") - s("prefix.io_in"),
            "asof.shuffle_write_mb": asof["shuffle_write_mb"],
            "asof.fetch_wait_s": asof["fetch_wait_s"],
            "asof.spill_mb": asof["spill_mb"],
            "asof.task_skew": skew(g, ["prefix.asof"]),
            "windows.self_s": s("prefix.windows") - s("prefix.io_ckpt"),
            "windows.shuffle_write_mb": win["shuffle_write_mb"],
            "windows.spill_mb": win["spill_mb"],
            "windows.task_skew": skew(g, ["prefix.windows"]),
            "normalize.self_s": s("compute_minmax", "prefix.normalize") - s("prefix.windows"),
            "normalize.jobs": combine(g, ["compute_minmax"])["jobs"],
            "vectors.self_s": s("prefix.vectors") - s("prefix.normalize"),
            "checkpoint.self_s": s(*ck) - s("prefix.asof", "prefix.vectors"),
            "checkpoint.jobs": ckc["jobs"],
            "checkpoint.python_s": ckc["python_s"],
            "checkpoint.write_mb": ckc["output_mb"],
            "pipeline.jobs": job["jobs"],
            "pipeline.input_scans": job["scan_stages"],
            "jvm.gc_s": job["gc_s"],
        }


class Corpus:
    """The corpus-side batch: quality-score a document table, cut it at a
    fixed quality, find its near-duplicate pairs with MinHash LSH, then the
    corpus-wide top-10 KNN graph of an embedding table with IVF lists (the
    s6 shape). The IVF codebook is trained during set-up."""

    N_VECS = 5_000
    DIM, N_CENTERS = 64, 32
    NLIST, NPROBE, K = 64, 8, 10
    N_DOCS = 6_000
    N_PLANTED = 120  # exact duplicates of seed-chosen documents
    QUALITY_CUT = 0.65
    RECALL_QUERIES = 256
    MIN_TIMED = 1
    VOCAB = (
        "a the data spark stream batch join sort hash key value row column table "
        "query filter group agg window merge scan order line part customer vector "
        "fast slow big small"
    ).split()

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.train_s: list[float] = []
        self.ref: dict = {}

    # ---- inputs ----

    def _gen_docs(self):
        """Documents of 8-107 words drawn from a small vocabulary, plus
        N_PLANTED exact copies of seed-chosen documents (ids >= N_DOCS)."""
        vocab = F.array(*[F.lit(w) for w in self.VOCAB])
        seed = F.lit(self.seed)
        n_words = (8 + F.pmod(F.xxhash64("id", seed), F.lit(100))).cast("int")
        words = F.transform(
            F.sequence(F.lit(0), n_words - 1),
            lambda i: F.element_at(
                vocab, (F.pmod(F.xxhash64("id", i, seed), F.lit(len(self.VOCAB))) + 1).cast("int")
            ),
        )
        base = self.spark.range(self.N_DOCS).select(
            F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
        )
        planted = self.spark.range(self.N_PLANTED).select(
            (F.lit(self.N_DOCS) + F.col("id")).alias("dup_id"),
            F.pmod(F.xxhash64("id", F.lit(self.seed + 1)), F.lit(self.N_DOCS)).alias("src_id"),
        )
        dups = planted.join(base.withColumnRenamed("doc_id", "src_id"), "src_id").select(
            F.col("dup_id").alias("doc_id"), "text"
        )
        return base.unionByName(dups), planted

    def make_inputs(self, d: str) -> None:
        from pitfeat.ops.similarity import _kmeans_centroids
        from pitfeat.synth import gen_clustered_embeddings

        self.emb, self.docs, self.planted = f"{d}/embeddings", f"{d}/documents", f"{d}/planted"
        gen_clustered_embeddings(
            self.spark, self.N_VECS, dim=self.DIM, n_centers=self.N_CENTERS, seed=self.seed
        ).write.parquet(self.emb)
        docs, planted = self._gen_docs()
        docs.write.parquet(self.docs)
        planted.write.parquet(self.planted)
        t0 = time.perf_counter()
        self.centroids = _kmeans_centroids(
            self.spark.read.parquet(self.emb), "embedding", "vec_id", self.NLIST, self.DIM,
            seed=self.seed,
        )
        self.train_s.append(time.perf_counter() - t0)

    @property
    def rows_in(self) -> int:
        return self.N_VECS + self.N_DOCS + self.N_PLANTED

    # ---- the job ----

    def _kept(self):
        from pitfeat.ops.text import quality_score

        docs = self.spark.read.parquet(self.docs)
        return quality_score(docs).where(F.col("quality") >= self.QUALITY_CUT).select("doc_id", "text")

    def _pairs(self, kept):
        from pitfeat.ops.dedup import minhash_lsh_pairs

        with self.tracer.span("minhash_lsh_pairs"):
            return minhash_lsh_pairs(
                kept, num_hashes=32, bands=4, threshold=0.99, sig_path=f"{self.work}/minhash_sig"
            )

    def _knn(self):
        from pitfeat.ops.similarity import knn_join

        with self.tracer.span("knn_join"):
            return knn_join(
                self.spark.read.parquet(self.emb), k=self.K, method="ivf", nlist=self.NLIST,
                nprobe=self.NPROBE, centroids=self.centroids,
            )

    def _run(self) -> dict:
        out = {}
        with self.tracer.span("dedup"):
            pairs = self._pairs(self._kept())
            with self.tracer.span("collect.dedup"):
                out["dedup"] = pairs.toPandas()
        with self.tracer.span("knn"):
            knn = self._knn()
            with self.tracer.span("collect.knn"):
                out["knn"] = knn.toPandas()
        return out

    def warmup(self) -> None:
        self.rows = self._run()
        self.ref = {k: checksum(pdf) for k, pdf in self.rows.items()}

    def iteration(self, i: int) -> None:
        self.last = self._run()

    def check(self, i: int) -> None:
        for k, ref in self.ref.items():
            got = checksum(self.last[k])
            _expect(got == ref, f"{k}: (rows, checksum) {got} != reference {ref}")

    def validate(self) -> float:
        self.recalls = {"similarity": self._validate_knn(), "dedup": self._validate_dedup()}
        return min(self.recalls.values())

    def _validate_knn(self) -> float:
        """Every id has k neighbours ranked 1..k, never itself; every cosine
        re-scores exactly in numpy; recall@k against brute force on a seeded
        sample of queries."""
        got = self.rows["knn"]
        e = self.spark.read.parquet(self.emb).toPandas().sort_values("vec_id")
        _expect(e["vec_id"].tolist() == list(range(self.N_VECS)), "embedding ids not 0..n-1")
        x = np.stack(e["embedding"].to_numpy())
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        _expect(len(got) == self.N_VECS * self.K, f"knn rows {len(got)} != {self.N_VECS * self.K}")
        ranks = got.sort_values(["vec_id", "rank"]).groupby("vec_id")["rank"].apply(list)
        _expect(all(r == list(range(1, self.K + 1)) for r in ranks), "ranks are not 1..k per id")
        _expect(bool((got["vec_id"] != got["nbr_id"]).all()), "a vector is its own neighbour")
        a, b = got["vec_id"].to_numpy(), got["nbr_id"].to_numpy()
        err = np.abs(np.einsum("ij,ij->i", x[a], x[b]) - got["cosine"].to_numpy()).max()
        _expect(err <= 1e-9, f"cosine differs from numpy re-score by {err:.3g}")

        q = np.random.default_rng(self.seed).choice(self.N_VECS, self.RECALL_QUERIES, replace=False)
        s = x[q] @ x.T
        s[np.arange(len(q)), q] = -np.inf
        exact = np.argsort(-s, axis=1, kind="stable")[:, : self.K]
        nbrs = got.groupby("vec_id")["nbr_id"].apply(set)
        return float(np.mean([len(set(exact[j]) & nbrs[qi]) / self.K for j, qi in enumerate(q)]))

    def _validate_dedup(self) -> float:
        """Every reported pair is two identical texts at jaccard >= 0.99;
        returns the share of planted pairs that survive the cut and are found."""
        got = self.rows["dedup"]
        kept = set(self._kept().select("doc_id").toPandas()["doc_id"])
        text = self.spark.read.parquet(self.docs).toPandas().set_index("doc_id")["text"]
        found = set(zip(got["id_a"], got["id_b"]))
        _expect(all(a < b for a, b in found), "pair not ordered id_a < id_b")
        _expect(bool((got["jaccard"] >= 0.99).all()), "pair below the jaccard threshold")
        _expect(all(text[a] == text[b] for a, b in found), "reported pair is not a duplicate")
        planted = self.spark.read.parquet(self.planted).toPandas()
        expected = {
            (min(s, d), max(s, d))
            for s, d in zip(planted["src_id"], planted["dup_id"])
            if s in kept and d in kept
        }
        _expect(bool(expected), "no planted pair survives the quality cut")
        return len(expected & found) / len(expected)

    # ---- tracing ----

    def traced_iteration(self, i: int) -> None:
        tr = self.tracer
        with tr.span("job"):
            self.last = self._run()
        self.check(i)

        def prefixes():
            with tr.span("prefix.docs_in"):
                force(self.spark.read.parquet(self.docs).select("doc_id", "text"))
            with tr.span("prefix.text"):
                force(self._kept())
            with tr.span("prefix.emb_in"):
                force(self.spark.read.parquet(self.emb))

        _measure_warm(tr, prefixes)

    JOB_GROUPS = ["job", "dedup", "collect.dedup", "minhash_lsh_pairs", "knn", "collect.knn", "knn_join"]
    SELF_TIMES = ["io.scan_s", "text.self_s", "dedup.self_s", "similarity.self_s"]

    def layers(self, t: dict, g: dict) -> dict:
        def s(*names):
            return sum(t.get(n, 0.0) for n in names)

        dd_calls = ["minhash_lsh_pairs", "collect.dedup"]
        knn_calls = ["knn_join", "collect.knn"]
        io_in = combine(g, ["prefix.docs_in", "prefix.emb_in"])
        text = combine(g, ["prefix.text"], ["prefix.docs_in"])
        dd = combine(g, dd_calls, ["prefix.text"])
        sim = combine(g, knn_calls, ["prefix.emb_in"])
        job = combine(g, self.JOB_GROUPS)
        return {
            "io.scan_s": s("prefix.docs_in", "prefix.emb_in"),
            "io.rows_in": io_in["rows_in"],
            "io.input_mb": io_in["input_mb"],
            "text.self_s": s("prefix.text") - s("prefix.docs_in"),
            "text.python_s": text["python_s"],
            "dedup.self_s": s(*dd_calls) - s("prefix.text"),
            "dedup.python_s": dd["python_s"],
            "dedup.shuffle_write_mb": dd["shuffle_write_mb"],
            "dedup.pairs_out": len(self.last["dedup"]),
            "dedup.recall": self.recalls["dedup"],
            "similarity.self_s": s(*knn_calls) - s("prefix.emb_in"),
            "similarity.python_s": sim["python_s"],
            "similarity.to_python_mb": sim["to_python_mb"],
            "similarity.from_python_mb": sim["from_python_mb"],
            "similarity.shuffle_write_mb": sim["shuffle_write_mb"],
            "similarity.task_skew": skew(g, knn_calls),
            "similarity.train_s": statistics.median(self.train_s),
            "similarity.recall": self.recalls["similarity"],
            "pipeline.jobs": job["jobs"],
            "pipeline.input_scans": job["scan_stages"],
            "jvm.gc_s": job["gc_s"],
        }


WORKLOADS = {"pit_hotkey": PitHotkey, "corpus": Corpus}


def _measure_warm(tr, prefixes) -> None:
    """Run the prefix plans once to compile them, under a job-group prefix
    the layer split ignores, then again to measure them."""
    measured = tr.prefix
    tr.prefix = measured.rstrip("/") + "-compile/"
    prefixes()
    tr.prefix = measured
    prefixes()


def _oracle_module():
    """tests/oracle_pandas.py, loaded by path: ``tests`` is a plain
    directory, not an installed package."""
    path = os.path.join(ROOT, "tests", "oracle_pandas.py")
    spec = importlib.util.spec_from_file_location("pitbench_oracle_pandas", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
