"""Golden allclose gate (SURVEY.md §5 items 3-4, 7): the full Spark pipeline
vs the single-process pandas oracle at every (conv_id, turn_idx), plus the
stable-order text invariant and determinism under parallelism."""

import numpy as np
import pandas as pd

from pitfeat.config import PitfeatConfig
from pitfeat.pipeline import Pipeline
from pitfeat.schema import snapshot_feature_cols
from tests.oracle_pandas import asof_oracle, gap_oracle, minmax_oracle, sessionize_oracle

KEYS = ["conv_id", "turn_idx"]
FEATS = snapshot_feature_cols()


def _oracle_pipeline(tp: pd.DataFrame, sp: pd.DataFrame):
    out = asof_oracle(tp, sp)
    out["gap_s"] = gap_oracle(out)
    out = sessionize_oracle(out, 1800)
    out["gap_s_roll5_mean"] = (
        out.groupby("conv_id")["gap_s"]
        .rolling(5, min_periods=1)
        .mean()
        .reset_index(level=0, drop=True)
        .sort_index()
    )
    out["tool_calls_cum"] = (
        (out["tool"].fillna("") != "").astype(int).groupby(out["conv_id"]).cumsum()
    )
    feat_cols = FEATS + ["gap_s", "gap_s_roll5_mean", "tool_calls_cum", "session_no"]
    norm, survivors, _, _ = minmax_oracle(out, feat_cols)
    vecs = norm[survivors].to_numpy(dtype=float)
    return out, survivors, vecs


# Pipeline salting configs: plain, every conv salted x4, and targeted x4
# over the convs with at least 20 turns (the fixture's average). Pipeline
# always passes hot_key_threshold along with salt_buckets, so salting every
# conv takes threshold 1.
SALTING = {
    "window": {},
    "salted": {"salt_buckets": 4, "hot_key_threshold": 1},
    "targeted": {"salt_buckets": 4, "hot_key_threshold": 20},
}


def _spark_pipeline(spark, transcripts, snapshots, salting=None):
    cfg = PitfeatConfig(session_gap_s=1800, **(salting or {}))
    p = (
        Pipeline.from_df(spark, transcripts, cfg)
        .asof_snapshots(snapshots)
        .with_gap()
        .rolling("gap_s", ["mean"], window=5)
        .cumulative_tools()
        .sessionize()
        .normalize(prune=True)
        .assemble()
    )
    return p


def test_golden_allclose_both_strategies(spark, transcripts, snapshots, transcripts_pd, snapshots_pd):
    oracle_df, survivors, oracle_vecs = _oracle_pipeline(transcripts_pd, snapshots_pd)
    for shape, salting in SALTING.items():
        p = _spark_pipeline(spark, transcripts, snapshots, salting)
        assert p.feature_cols == survivors, (shape, p.feature_cols, survivors)
        got = p.df.select(*KEYS, "text", "features").toPandas().sort_values(KEYS).reset_index(drop=True)
        vecs = np.array(got["features"].tolist(), dtype=float)
        assert vecs.shape == oracle_vecs.shape
        assert np.allclose(vecs, oracle_vecs, equal_nan=True), shape
        # stable-order text invariant: byte equality input->output
        assert (got["text"] == oracle_df["text"]).all()
        # manifest records pruning decisions for resume
        assert set(p.manifest["minmax"]["degenerate"]) >= {"f_13", "f_14"}
        assert p.manifest["slots"] == survivors


def test_determinism_across_parallelism(spark, transcripts, snapshots):
    """local[4] session, but vary shuffle partitioning: output must be
    identical after sorting (parallelism-independence; the correctness leg of
    the scaling bench)."""
    outs = []
    for n in ("2", "16"):
        spark.conf.set("spark.sql.shuffle.partitions", n)
        try:
            p = _spark_pipeline(spark, transcripts, snapshots)
            got = (
                p.df.select(*KEYS, "features").toPandas().sort_values(KEYS).reset_index(drop=True)
            )
            outs.append(np.array(got["features"].tolist(), dtype=float))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert np.allclose(outs[0], outs[1], equal_nan=True)


def test_synth_determinism(spark):
    from pitfeat.synth import gen_snapshots, gen_transcripts

    a = gen_transcripts(spark, 20, 10, seed=7).toPandas().sort_values(KEYS).reset_index(drop=True)
    b = gen_transcripts(spark, 20, 10, seed=7).toPandas().sort_values(KEYS).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    c = gen_transcripts(spark, 20, 10, seed=8).toPandas()
    assert not a.equals(c.sort_values(KEYS).reset_index(drop=True))


def test_synth_zipf_hot_conv_chunked(spark):
    """zipf's hot conversation is generated from CHUNKED sequence() rows (one
    giant sequence = one multi-GB array row and an int32 wrap above 2^31):
    c0 must carry exactly the hot turn count with dense 0..hot-1 indices and
    stay deterministic, and the other convs keep their uniform-hash sizes."""
    import pyspark.sql.functions as F

    from pitfeat.synth import gen_transcripts

    t = gen_transcripts(spark, 30, 5, seed=7, skew="zipf")
    hot = max(1, int(0.43 * 30 * 5))
    c0 = t.where(F.col("conv_id") == "c0")
    n, lo, hi, d = c0.agg(
        F.count("*"), F.min("turn_idx"), F.max("turn_idx"), F.countDistinct("turn_idx")
    ).first()
    assert (n, lo, hi, d) == (hot, 0, hot - 1, hot)
    uni = gen_transcripts(spark, 30, 5, seed=7, skew="uniform")
    a = uni.where(F.col("conv_id") != "c0").groupBy("conv_id").count().toPandas()
    b = t.where(F.col("conv_id") != "c0").groupBy("conv_id").count().toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("conv_id").reset_index(drop=True),
        b.sort_values("conv_id").reset_index(drop=True),
    )


def test_allclose_handles_infinities(spark):
    """numpy.isclose semantics for non-finite slots: an inf reference must
    NOT accept any finite value (rtol*inf = inf previously passed the gate
    for grossly wrong vectors), and inf vs same-sign inf must compare close
    (|inf-inf| = NaN previously failed it)."""
    from pitfeat.ops.vectors import allclose_compare

    inf = float("inf")
    a = spark.createDataFrame(
        [("c", 0, [3.0, inf, -inf, 1.0])],
        "conv_id string, turn_idx int, features array<double>",
    )
    b_inf_vs_finite = spark.createDataFrame(
        [("c", 0, [3.0, 5.0, -inf, 1.0])],
        "conv_id string, turn_idx int, features array<double>",
    )
    b_same = spark.createDataFrame(
        [("c", 0, [3.0, inf, -inf, 1.0])],
        "conv_id string, turn_idx int, features array<double>",
    )
    assert not allclose_compare(a, b_inf_vs_finite).collect()[0]["allclose"]
    assert allclose_compare(a, b_same).collect()[0]["allclose"]
    # and the reverse false-accept: finite engine value vs inf reference
    assert not allclose_compare(b_inf_vs_finite, a).collect()[0]["allclose"]
