"""J1/J2 as-of join vs pandas.merge_asof oracle (SURVEY.md §5 items 1-2)."""

import numpy as np
import pandas as pd
import pytest

from pitfeat.ops.asof import asof_join
from pitfeat.schema import snapshot_feature_cols
from tests.oracle_pandas import asof_dedup_oracle, asof_oracle

FEATS = snapshot_feature_cols()
KEYS = ["conv_id", "turn_idx"]


def _sorted(pdf):
    return pdf.sort_values(KEYS).reset_index(drop=True)


def _collect_sorted(df):
    return _sorted(df.toPandas())


def _assert_matches_oracle(spark_out: pd.DataFrame, oracle: pd.DataFrame):
    assert len(spark_out) == len(oracle)
    pd.testing.assert_series_equal(
        spark_out["snap_ts"], oracle["snap_ts"], check_names=False
    )
    for c in FEATS:
        np.testing.assert_allclose(
            spark_out[c].to_numpy(dtype=float),
            oracle[c].to_numpy(dtype=float),
            equal_nan=True,
            err_msg=c,
        )


@pytest.mark.parametrize("strategy", ["window", "merge"])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_matches_merge_asof(
    transcripts, snapshots, transcripts_pd, snapshots_pd, strategy, allow_exact
):
    out = _collect_sorted(
        asof_join(transcripts, snapshots, allow_exact=allow_exact, strategy=strategy)
    )
    oracle = asof_oracle(transcripts_pd, snapshots_pd, allow_exact=allow_exact)
    _assert_matches_oracle(out, oracle)


@pytest.mark.parametrize("strategy", ["window", "merge"])
def test_asof_tolerance(transcripts, snapshots, transcripts_pd, snapshots_pd, strategy):
    out = _collect_sorted(
        asof_join(transcripts, snapshots, tolerance_s=120.0, strategy=strategy)
    )
    oracle = asof_oracle(transcripts_pd, snapshots_pd, tolerance_s=120.0)
    _assert_matches_oracle(out, oracle)


def test_asof_salted_equals_unsalted(transcripts, snapshots):
    base = _collect_sorted(asof_join(transcripts, snapshots))
    salted = _collect_sorted(asof_join(transcripts, snapshots, salt_buckets=4))
    pd.testing.assert_frame_equal(base, salted)


@pytest.mark.parametrize("strategy", ["window", "merge"])
def test_zero_temporal_leakage(transcripts, snapshots, strategy):
    """No output row may carry a snapshot from its future; and deleting the
    future must not change any feature (SURVEY.md §5 item 2)."""
    out = asof_join(transcripts, snapshots, strategy=strategy).toPandas()
    matched = out[out["snap_ts"].notna()]
    assert (matched["snap_ts"] <= matched["ts"]).all()

    # truncate: drop all snapshots after the global median turn ts; rows at or
    # before the cutoff must be bit-identical
    import pyspark.sql.functions as F

    cut = out["ts"].quantile(0.5)
    trunc = snapshots.filter(F.col("snap_ts") <= F.lit(cut.to_pydatetime()))
    out2 = asof_join(transcripts, trunc, strategy=strategy).toPandas()
    a = out[out["ts"] <= cut].sort_values(KEYS).reset_index(drop=True)
    b = out2[out2["ts"] <= cut].sort_values(KEYS).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_convs_without_snapshots_get_nulls(transcripts, snapshots):
    out = asof_join(transcripts, snapshots).toPandas()
    snap_convs = set(snapshots.select("conv_id").distinct().toPandas()["conv_id"])
    no_snap = out[~out["conv_id"].isin(snap_convs)]
    assert len(no_snap) > 0, "fixture must include convs with no snapshots"
    assert no_snap["snap_ts"].isna().all()
    assert no_snap[FEATS].isna().all().all()


def test_left_rows_preserved(transcripts, snapshots):
    out = asof_join(transcripts, snapshots)
    assert out.count() == transcripts.count()


def test_no_row_python_in_plan(transcripts, snapshots):
    """Plan-shape invariant (SURVEY.md §4): vectorized nodes only, and no
    grouped pandas kernel in any strategy."""
    for strategy, node in [
        ("merge", "MapInPandas"),
        ("window", "Window"),
    ]:
        plan = asof_join(transcripts, snapshots, strategy=strategy)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "FlatMapCoGroupsInPandas" not in plan
        assert node in plan
    # the r5 window directions stay pure JVM: no Python node of any kind
    for direction in ("forward", "nearest"):
        plan = (
            asof_join(transcripts, snapshots, strategy="window", direction=direction)
            ._jdf.queryExecution().executedPlan().toString()
        )
        for pynode in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"):
            assert pynode not in plan
        assert "Window" in plan


def test_duplicate_right_rows_deterministic(spark):
    """Duplicate right rows sharing (key, right_ts): every strategy must pick
    the same winner — the greatest value tuple — not shuffle-order luck."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [("c1", dt.datetime(2024, 1, 1, 13, 0, 0))], "conv_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("c1", t0, 10.0), ("c1", t0, 30.0), ("c1", t0, 20.0)],
        "conv_id string, snap_ts timestamp, val double",
    )
    winners = {
        s: asof_join(left, right, strategy=s).collect()[0]["val"]
        for s in ("window", "merge")
    }
    assert winners == {"window": 30.0, "merge": 30.0}


def test_targeted_salting_equals_unsalted(transcripts, snapshots):
    """K2 targeted salting: hot keys (above threshold) take the salted path,
    cold keys the plain path; the union must equal the unsalted join. Low
    threshold => both paths populated."""
    base = _collect_sorted(asof_join(transcripts, snapshots))
    targeted = _collect_sorted(
        asof_join(transcripts, snapshots, salt_buckets=4, hot_threshold=5)
    )
    pd.testing.assert_frame_equal(base, targeted)
    # threshold nothing reaches: pure cold path, still identical
    cold_only = _collect_sorted(
        asof_join(transcripts, snapshots, salt_buckets=4, hot_threshold=10**9)
    )
    pd.testing.assert_frame_equal(base, cold_only)


def test_duplicate_right_rows_deterministic_forward(spark):
    """Forward direction must ALSO resolve equal-(key, ts) right duplicates
    to the greatest value tuple in both strategies (ADVICE r2 — a forward
    kernel once returned the smallest tuple, 10.0)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 14, 0, 0)
    left = spark.createDataFrame(
        [("c1", dt.datetime(2024, 1, 1, 13, 0, 0))], "conv_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("c1", t0, 10.0), ("c1", t0, 30.0), ("c1", t0, 20.0)],
        "conv_id string, snap_ts timestamp, val double",
    )
    for strategy in ("window", "merge"):
        out = asof_join(left, right, strategy=strategy, direction="forward").collect()
        assert out[0]["val"] == 30.0, strategy


def test_nearest_duplicates_and_equidistant_deterministic(spark):
    """nearest must (a) resolve duplicate right rows at one (key, ts) to the
    GREATEST value tuple whichever side of the left ts they fall on, and
    (b) prefer the PRECEDING row when two distinct timestamps are
    equidistant (the pandas rule) — in both strategies."""
    import datetime as dt

    t13 = dt.datetime(2024, 1, 1, 13, 0, 0)
    left = spark.createDataFrame(
        [("c1", t13), ("c2", t13), ("c3", t13)], "conv_id string, ts timestamp"
    )
    t12, t14 = dt.datetime(2024, 1, 1, 12, 0, 0), dt.datetime(2024, 1, 1, 14, 0, 0)
    right = spark.createDataFrame(
        [
            # c1: duplicates strictly AFTER the left ts (forward side)
            ("c1", t14, 10.0), ("c1", t14, 30.0), ("c1", t14, 20.0),
            # c2: equidistant before/after -> preceding (5.0) must win
            ("c2", t12, 5.0), ("c2", t14, 7.0),
            # c3: duplicates strictly BEFORE the left ts (backward side)
            ("c3", t12, 30.0), ("c3", t12, 10.0), ("c3", t12, 20.0),
        ],
        "conv_id string, snap_ts timestamp, val double",
    )
    for strategy in ("window", "merge"):
        out = {
            r["conv_id"]: r["val"]
            for r in asof_join(left, right, strategy=strategy, direction="nearest").collect()
        }
        assert out == {"c1": 30.0, "c2": 5.0, "c3": 30.0}, strategy


def test_asof_default_strategy_documented_and_pinned():
    """VERDICT r3 #6: the module docstring claimed cogroup was the default
    while the signature default was window. Pin both the actual default and
    the docstring's strategy x direction support matrix so they cannot drift
    apart again."""
    import inspect

    from pitfeat.ops import asof as A

    assert inspect.signature(A.asof_join).parameters["strategy"].default == "window"
    assert "``window`` (DEFAULT" in A.__doc__
    for line in ("window     yes       yes      yes",
                 "merge      yes       yes      yes"):  # r6: matrix complete
        assert line in A.__doc__


def test_retired_cogroup_strategy_raises_before_any_job(spark, transcripts, snapshots):
    """``cogroup`` is no longer a strategy: asof_join and a Pipeline whose
    config names it raise ValueError at plan-build time, and no Spark job
    starts in their job group."""
    from pitfeat.config import PitfeatConfig
    from pitfeat.pipeline import Pipeline

    sc = spark.sparkContext
    group = "asof-retired-cogroup"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="unknown strategy 'cogroup'"):
            asof_join(transcripts, snapshots, strategy="cogroup")
        pipe = Pipeline.from_df(spark, transcripts, PitfeatConfig(asof_strategy="cogroup"))
        with pytest.raises(ValueError, match="unknown strategy 'cogroup'"):
            pipe.asof_snapshots(snapshots)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


# ---- forward direction for merge (VERDICT r4 #4) + window (r5) ----


@pytest.mark.parametrize("strategy", ["merge", "window"])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_forward_strategies_match_oracle(
    transcripts, snapshots, transcripts_pd, snapshots_pd, strategy, allow_exact
):
    """The descending-stream merge kernel AND the descending-window fill
    against pandas merge_asof (direction='forward') — skew-robust forward
    paths (merge: bounded-memory kernel; window: spill-backed sort)."""
    out = _collect_sorted(
        asof_join(
            transcripts, snapshots, allow_exact=allow_exact,
            strategy=strategy, direction="forward",
        )
    )
    oracle = asof_oracle(
        transcripts_pd, snapshots_pd, allow_exact=allow_exact, direction="forward"
    )
    _assert_matches_oracle(out, oracle)


@pytest.mark.parametrize("strategy", ["merge", "window"])
def test_forward_tolerance(
    transcripts, snapshots, transcripts_pd, snapshots_pd, strategy
):
    """Forward staleness flips sign: a match further than tol in the FUTURE
    is nulled."""
    out = _collect_sorted(
        asof_join(
            transcripts, snapshots, tolerance_s=120.0,
            strategy=strategy, direction="forward",
        )
    )
    oracle = asof_oracle(
        transcripts_pd, snapshots_pd, tolerance_s=120.0, direction="forward"
    )
    _assert_matches_oracle(out, oracle)


def test_merge_forward_equals_cogroup_randomized(spark):
    """merge/forward AND window/forward == the pandas reference
    (``asof_dedup_oracle``: the logic of the retired cogroup kernel this test
    is named for, without its buckets) on randomized frames with planted
    equal-ts ties, duplicate right rows (greatest-tuple rule), null left
    timestamps (must stay unmatched — the desc_nulls_first edge) and keys
    with no right side at all."""
    rs = np.random.RandomState(19)
    n_keys, rows = 12, 400
    lrows = []
    for i in range(rows):
        key = f"k{rs.randint(n_keys)}"
        ts = None if rs.rand() < 0.05 else (
            pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=int(rs.randint(0, 3600)))
        ).to_pydatetime()
        lrows.append((key, i, ts))
    rrows = []
    for i in range(150):
        key = f"k{rs.randint(n_keys - 2)}"  # last two keys: no right side
        ts = (
            pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=int(rs.randint(0, 3600)))
        ).to_pydatetime()
        rrows.append((key, ts, float(rs.randint(0, 5)), None if rs.rand() < 0.2 else float(i)))
    # planted exact duplicates at equal (key, ts) differing only in value
    rrows.append(("k0", pd.Timestamp("2026-01-01 00:10:00").to_pydatetime(), 1.0, 7.0))
    rrows.append(("k0", pd.Timestamp("2026-01-01 00:10:00").to_pydatetime(), 2.0, None))
    left = spark.createDataFrame(lrows, "conv_id string, turn_idx long, ts timestamp")
    right = spark.createDataFrame(
        rrows, "conv_id string, snap_ts timestamp, f_a double, f_b double"
    )
    lpdf, rpdf = left.toPandas(), right.toPandas()
    for allow_exact in (True, False):
        c = _sorted(asof_dedup_oracle(lpdf, rpdf, allow_exact=allow_exact,
                                      direction="forward"))
        for strategy in ("merge", "window"):
            m = _collect_sorted(
                asof_join(left, right, allow_exact=allow_exact,
                          strategy=strategy, direction="forward")
            )
            pd.testing.assert_frame_equal(m, c)
            # null-ts left rows present and unmatched
            nulls = m[m["ts"].isna()]
            assert len(nulls) > 0 and nulls["snap_ts"].isna().all()


# ---------- window-strategy nearest direction (r5) ----------


def test_window_nearest_matches_pandas(
    transcripts, snapshots, transcripts_pd, snapshots_pd
):
    """The one-pass prev+next window fill against the pandas nearest
    oracle — nearest finally has a skew-safe (spill-backed sort) path."""
    out = _collect_sorted(
        asof_join(transcripts, snapshots, strategy="window", direction="nearest")
    )
    oracle = asof_oracle(transcripts_pd, snapshots_pd, direction="nearest")
    _assert_matches_oracle(out, oracle)


def test_window_nearest_equals_cogroup_randomized(spark):
    """window/nearest AND merge/nearest (r6 — the last strategy x direction
    matrix hole) == the pandas reference (``asof_dedup_oracle``: the logic of
    the retired cogroup kernel this test is named for, without its buckets)
    on randomized frames: equal-ts duplicate right rows (greatest-tuple
    rule), equidistant pairs
    (prefer preceding), strict exactness, tolerance, null left timestamps
    (must stay unmatched — the next-frame would otherwise hand them the
    first snapshot in sort order), and right-less keys."""
    rs = np.random.RandomState(29)
    n_keys = 10
    lrows = []
    for i in range(300):
        key = f"k{rs.randint(n_keys)}"
        # second-granularity ts => planted equidistant cases occur
        ts = None if rs.rand() < 0.05 else (
            pd.Timestamp("2026-02-01") + pd.Timedelta(seconds=int(rs.randint(0, 600)) * 2)
        ).to_pydatetime()
        lrows.append((key, i, ts))
    rrows = []
    for i in range(120):
        key = f"k{rs.randint(n_keys - 2)}"
        ts = (
            pd.Timestamp("2026-02-01") + pd.Timedelta(seconds=int(rs.randint(0, 1200)))
        ).to_pydatetime()
        rrows.append((key, ts, float(rs.randint(0, 5)), None if rs.rand() < 0.2 else float(i)))
    rrows.append(("k0", pd.Timestamp("2026-02-01 00:05:00").to_pydatetime(), 1.0, 7.0))
    rrows.append(("k0", pd.Timestamp("2026-02-01 00:05:00").to_pydatetime(), 2.0, None))
    left = spark.createDataFrame(lrows, "conv_id string, turn_idx long, ts timestamp")
    right = spark.createDataFrame(
        rrows, "conv_id string, snap_ts timestamp, f_a double, f_b double"
    )
    lpdf, rpdf = left.toPandas(), right.toPandas()
    for allow_exact in (True, False):
        for tol in (None, 90.0):
            c = _sorted(asof_dedup_oracle(lpdf, rpdf, allow_exact=allow_exact,
                                          tolerance_s=tol, direction="nearest"))
            for strategy in ("window", "merge"):
                w = _collect_sorted(
                    asof_join(left, right, allow_exact=allow_exact, tolerance_s=tol,
                              strategy=strategy, direction="nearest")
                )
                pd.testing.assert_frame_equal(w, c)
                nulls = w[w["ts"].isna()]
                assert len(nulls) > 0 and nulls["snap_ts"].isna().all()
    # salting composes (doubled right rows replicate xB)
    base = _collect_sorted(
        asof_join(left, right, strategy="window", direction="nearest")
    )
    salted = _collect_sorted(
        asof_join(left, right, strategy="window", direction="nearest", salt_buckets=4)
    )
    pd.testing.assert_frame_equal(base, salted)


def test_merge_nearest_matches_pandas(
    transcripts, snapshots, transcripts_pd, snapshots_pd
):
    """merge/nearest (two chained bounded-memory merge passes, r6) against
    the pandas merge_asof nearest oracle on the standard fixture."""
    out = _collect_sorted(
        asof_join(transcripts, snapshots, strategy="merge", direction="nearest")
    )
    oracle = asof_oracle(transcripts_pd, snapshots_pd, direction="nearest")
    _assert_matches_oracle(out, oracle)
