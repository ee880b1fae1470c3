"""Physical plan-shape invariants (SURVEY.md §4) and resource hygiene.

These tests pin the *plan*, not the result: the flagship composition must
keep its shuffle count bounded, filters must reach the parquet scan, and no
operator may leave cached blocks behind after its result is materialized.
"""

import re
from types import SimpleNamespace

import pyspark.sql.functions as F
import pytest

from pitfeat.ops.asof import asof_join
from pitfeat.ops.windows import rolling, sessionize, with_gap


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _nodes(df, name: str) -> int:
    """Physical plan nodes called ``name`` (the first word of a plan line)."""
    return re.findall(r"^[\s:+-]*(\w+)", _plan(df), re.M).count(name)


@pytest.fixture(scope="module")
def parquet_inputs(transcripts, snapshots, tmp_path_factory):
    """The fixtures written to parquet: their in-memory plans carry the
    generator's own windows and unions, which would blur node counts."""
    d = tmp_path_factory.mktemp("plan_inputs")
    t, s = str(d / "transcripts"), str(d / "snapshots")
    transcripts.write.parquet(t)
    snapshots.write.parquet(s)
    return SimpleNamespace(transcripts=t, snapshots=s)


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_targeted_salting_is_one_window(spark, parquet_inputs, direction):
    """Targeted salting flags hot keys on both sides and salts them inside
    the one window fill: one Sort and one Window serve hot and cold keys
    alike, and the only Union is the fill's own left/right tag union (no
    cold/hot split joined by a second union)."""
    t = spark.read.parquet(parquet_inputs.transcripts)
    s = spark.read.parquet(parquet_inputs.snapshots)
    j = asof_join(t, s, salt_buckets=4, hot_threshold=20, direction=direction)
    assert (_nodes(j, "Window"), _nodes(j, "Sort"), _nodes(j, "Union")) == (1, 1, 1)


def test_build_stages_cut_after_the_windows(spark, parquet_inputs, tmp_path):
    """The flagship job's stage-1 checkpoint holds the keys plus the unscaled
    features (no text/role/tool payload), and stage 2 over that checkpoint
    runs no window: its min/max pass scans the cut."""
    from jobs.build_features import KEYS, build_asof, build_rest
    from pitfeat.checkpoint import resume_or_compute
    from pitfeat.config import PitfeatConfig
    from pitfeat.schema import snapshot_feature_cols

    cfg = PitfeatConfig(salt_buckets=4, hot_key_threshold=20)
    args = SimpleNamespace(**vars(parquet_inputs), no_normalize=False)
    cut, _ = resume_or_compute(
        spark, str(tmp_path / "asof"), "asof", cfg.config_hash(),
        lambda: build_asof(spark, args, cfg),
    )
    w = cfg.rolling_turns
    assert cut.columns == KEYS + snapshot_feature_cols() + [
        "gap_s", f"gap_s_roll{w}_mean", f"gap_s_roll{w}_max", "tool_calls_cum", "session_no",
    ]
    out = build_rest(spark, args, cfg, cut).df
    assert out.columns == KEYS + ["features"]
    assert _nodes(out, "Window") == 0


def test_flagship_composition_exchange_count(transcripts, snapshots):
    """SURVEY §4 invariant (3): as-of + stacked windows + projection stay
    within 3 exchanges (as-of union partitioning, reused by every window that
    partitions on the same key; no per-window reshuffle)."""
    j = asof_join(transcripts, snapshots)
    out = with_gap(j)
    out = rolling(out, "gap_s", ["mean", "max"], window=5)
    out = sessionize(out)
    out = out.select("conv_id", "turn_idx", "ts", "gap_s_roll5_mean", "session_id")
    n_exchanges = _plan(out).count("Exchange")
    assert n_exchanges <= 3, f"flagship composition plans {n_exchanges} exchanges"


def test_filter_pushdown_reaches_scan(spark, transcripts, tmp_path):
    """SURVEY §4 invariant (2): predicates on a parquet scan appear in
    PushedFilters (Catalyst pushdown), never as a post-scan-only Filter."""
    p = str(tmp_path / "t.parquet")
    transcripts.write.mode("overwrite").parquet(p)
    df = (
        spark.read.parquet(p)
        .where((F.col("turn_idx") > 5) & (F.col("role") == "user"))
        .select("conv_id", "turn_idx")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"empty PushedFilters in: {plan[:500]}"
    # column pruning: the scan must not read the text payload
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "text" not in read_schema


def test_aqe_coalesces_small_shuffles(spark, transcripts, tmp_path):
    """SURVEY §4 invariant (4): with AQE on, a small shuffle's final plan
    coalesces the configured shuffle partitions down to the data size —
    local tests never drown in empty tasks, and at scale AQE right-sizes
    reducers the same way. (Parquet-backed input: AQE skips the exchange
    entirely for tiny in-memory sources, which hides the node.)"""
    p = str(tmp_path / "aqe.parquet")
    transcripts.write.mode("overwrite").parquet(p)
    agg = spark.read.parquet(p).groupBy("conv_id").count()
    agg.collect()  # AQE finalizes the plan only after execution
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:800]


def test_no_persisted_rdds_leak(spark, transcripts, snapshots):
    """VERDICT r1 #6: operators materialize through written cut points, not
    persist(); nothing may stay pinned in executor memory after the call."""
    from pitfeat.ops.dedup import minhash_lsh_pairs

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique document text number "), F.col("id")).alias("text"),
    )
    minhash_lsh_pairs(docs, num_hashes=16, bands=4).count()
    j = asof_join(transcripts, snapshots)
    j.count()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after == before, f"leaked persisted RDDs: {after - before}"


def test_ann_plans_have_no_rowwise_python(spark):
    """The matrix top-k engine (s1/s2/s4) must plan exactly ONE Arrow-batched
    MapInArrow pass over the corpus — no pair rows, no xTables explode, no
    row-at-a-time BatchEvalPython, no pandas node — plus a single exchange
    for the final rank window. The retained pair-join parity oracles keep
    their r3 shape (ArrowEvalPython assignment kernels + broadcast query
    join)."""
    import numpy as np

    from pitfeat.ops.similarity import cosine_topk, ivf_topk, lsh_topk
    from tests.oracle_similarity import _ivf_topk_pairjoin, _lsh_topk_pairjoin

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    C = np.eye(8, 64)  # fixed codebook: keeps the plan free of the training job
    for out in (
        cosine_topk(e, qs, k=5),
        lsh_topk(e, qs, k=5, nbits=1, tables=4),
        ivf_topk(e, qs, k=5, nlist=8, nprobe=2, centroids=C),
    ):
        plan = _plan(out)
        assert "BatchEvalPython" not in plan
        assert "InPandas" not in plan, plan[:800]
        assert plan.count("MapInArrow") == 1, plan[:800]
        assert plan.count("Exchange") <= 1, plan[:800]  # only the rank window
    for out in (
        _lsh_topk_pairjoin(e, qs, k=5, nbits=1, tables=4),
        _ivf_topk_pairjoin(e, qs, k=5, nlist=8, nprobe=2, centroids=C),
    ):
        plan = _plan(out)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" in plan
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_text_kernels_are_arrow_udfs(spark, monkeypatch, tmp_path):
    """Every Python text kernel — quality_score's counts, the minhash
    signatures and hashed shingle sets of minhash_lsh_pairs (broadcast path
    and the byte-gate-forced written path), simhash_near_pairs' signatures —
    plans as a scalar arrow_udf (ArrowEvalPython eval type 250), never a
    pandas_udf (200) and never a pandas map node. The signature and shingle
    tables are written inside the calls, so the plans of those writes are
    captured too."""
    import re

    from pyspark.sql.readwriter import DataFrameWriter

    from pitfeat.ops.dedup import minhash_lsh_pairs, simhash_near_pairs
    from pitfeat.ops.text import quality_score

    plans: list = []
    write = DataFrameWriter.parquet

    def capturing_write(self, path, *a, **kw):
        plans.append(_plan(self._df))
        return write(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", capturing_write)
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("near duplicate document text number "), F.col("id") % 50).alias("text"),
    )
    # (call, number of its plans that evaluate a kernel): the minhash paths
    # write signatures, then shingle in the final plan (broadcast) or in a
    # second written table; simhash_near_pairs writes its signatures
    calls = {
        "quality_score": (lambda: quality_score(docs), 1),
        "minhash_broadcast": (lambda: minhash_lsh_pairs(docs, num_hashes=16, bands=4), 2),
        "minhash_written": (
            lambda: minhash_lsh_pairs(
                docs, num_hashes=16, bands=4, sig_path=str(tmp_path / "sig"),
                small_corpus_bytes=10,
            ),
            2,
        ),
        "simhash_near_pairs": (lambda: simhash_near_pairs(docs), 1),
    }
    for name, (call, n_kernel_plans) in calls.items():
        plans.clear()
        plans.append(_plan(call()))
        assert sum("ArrowEvalPython" in p for p in plans) == n_kernel_plans, name
        evals = [t for p in plans for t in re.findall(r"ArrowEvalPython \[.*\], (\d+)", p)]
        assert set(evals) == {"250"}, (name, evals)
        assert not any("InPandas" in p for p in plans), name


def test_knn_join_plans_never_materialize_pairs(spark):
    """knn_join's bucketed paths (VERDICT r4 #3) must score inside grouped
    Arrow kernels — FlatMapGroupsInArrow for both lsh and ivf — with NO
    cartesian/nested-loop join and no row-wise Python anywhere: pair rows
    exist only as the <= n x fanout x k kernel OUTPUT, never as a join
    product. The ivf plan assigns lists in ONE Arrow pass, and a corpus
    whose kernel work is small gets one kernel partition per core."""
    import re

    import numpy as np

    from pitfeat.ops.similarity import knn_join

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    C = np.eye(8, 64)
    lsh_plan = _plan(knn_join(e, k=5, method="lsh", nbits=2, tables=4))
    ivf_plan = _plan(knn_join(e, k=5, method="ivf", nlist=8, nprobe=2, centroids=C))
    for plan in (lsh_plan, ivf_plan):
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan
        assert "InPandas" not in plan
    # both kernels are Arrow-native (applyInArrow) — vectors reach numpy as
    # one flat-buffer reshape instead of per-row objects
    assert "FlatMapGroupsInArrow" in lsh_plan
    assert "FlatMapGroupsInArrow" in ivf_plan
    assert "CoGroups" not in ivf_plan
    assert ivf_plan.count("ArrowEvalPython") == 1, ivf_plan[:2000]
    kernel_parts = re.findall(r"Exchange hashpartitioning\(__list#\d+[^)]*, (\d+)\)", ivf_plan)
    assert kernel_parts == [str(spark.sparkContext.defaultParallelism)], ivf_plan[:2000]


def test_ivf_kernel_partitions_follow_the_work(spark, monkeypatch):
    """knn_join's IVF kernel shuffle is sized by the sampled pair count:
    one partition per core while a task's kernel work would not dwarf its
    start-up cost, ~4x the cell count (capped) once it does — where
    spreading the cells stops straggler tasks."""
    import numpy as np

    from pitfeat.ops import similarity as SIM
    from pitfeat.synth import gen_clustered_embeddings

    e = gen_clustered_embeddings(spark, 1000, dim=64, n_centers=8, seed=5)
    valid = e.select("vec_id", F.col("embedding").cast("array<double>").alias("__v"))
    C = np.eye(8, 64)
    cores = spark.sparkContext.defaultParallelism
    assert SIM._ivf_grid_splits(valid, "vec_id", C, 64, 2, 32768, 131072) == (None, cores)
    monkeypatch.setattr(SIM, "MIN_PAIRS_PER_TASK", 1)
    assert SIM._ivf_grid_splits(valid, "vec_id", C, 64, 2, 32768, 131072) == (
        None,
        max(cores, 4 * len(C)),
    )
    splits, n_parts = SIM._ivf_grid_splits(valid, "vec_id", C, 64, 2, 20, 40)
    cells = sum(r["__ms"] * r["__ps"] for r in splits.collect())
    assert cells > len(C) and n_parts == max(cores, min(4 * cells, 4096))


def test_ewma_plan_single_pass(spark):
    """W11 ewma must plan ONE streaming MapInPandas pass over ONE key
    co-locating exchange + in-partition sort — a single sorted stream:
    no extra shuffle, no row-wise Python, no window fallback. (r8: the
    exchange is HASH partitioning — co-location is all the kernel needs,
    and range partitioning's boundary-sampling job re-executed the whole
    upstream once per call.)"""
    from pitfeat.ops.ewma import ewma

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(ewma(ev, "value", 0.25, key="user_id", ts="ts", order_extra=("event_id",)))
    assert plan.count("MapInPandas") == 1, plan[:800]
    assert plan.count("Exchange") == 1, plan[:800]
    assert "hashpartitioning(user_id" in plan, plan[:800]
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan


def test_ewma_time_plan_single_pass(spark):
    """W12 ewma_time shares W11's plan shape exactly: one MapInPandas, one
    key co-locating (hash) exchange, no row-wise Python, no window
    fallback."""
    from pitfeat.ops.ewma import ewma_time

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(
        ewma_time(ev, "value", 3600.0, key="user_id", ts="ts", order_extra=("event_id",))
    )
    assert plan.count("MapInPandas") == 1, plan[:800]
    assert plan.count("Exchange") == 1, plan[:800]
    assert "hashpartitioning(user_id" in plan, plan[:800]
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan
