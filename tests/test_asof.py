"""J1/J2 as-of join vs pandas.merge_asof oracle (SURVEY.md §5 items 1-2)."""

import numpy as np
import pandas as pd
import pytest

from pitfeat.ops.asof import asof_join
from pitfeat.schema import snapshot_feature_cols
from tests.oracle_pandas import asof_dedup_oracle, asof_oracle, salting_shapes

FEATS = snapshot_feature_cols()
KEYS = ["conv_id", "turn_idx"]
# the 50-conv fixture averages 20 turns per conv, so threshold 20 salts
# some convs and leaves the rest on the plain path
SHAPES = salting_shapes(20)
# inline frames with a row or two per key: every key takes the salted path
INLINE = salting_shapes(1)


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


@pytest.mark.parametrize("shape", list(SHAPES))
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_matches_merge_asof(
    transcripts, snapshots, transcripts_pd, snapshots_pd, shape, allow_exact
):
    out = _collect_sorted(
        asof_join(transcripts, snapshots, allow_exact=allow_exact, **SHAPES[shape])
    )
    oracle = asof_oracle(transcripts_pd, snapshots_pd, allow_exact=allow_exact)
    _assert_matches_oracle(out, oracle)


@pytest.mark.parametrize("shape", list(SHAPES))
def test_asof_tolerance(transcripts, snapshots, transcripts_pd, snapshots_pd, shape):
    out = _collect_sorted(
        asof_join(transcripts, snapshots, tolerance_s=120.0, **SHAPES[shape])
    )
    oracle = asof_oracle(transcripts_pd, snapshots_pd, tolerance_s=120.0)
    _assert_matches_oracle(out, oracle)


def test_asof_salted_equals_unsalted(transcripts, snapshots):
    base = _collect_sorted(asof_join(transcripts, snapshots))
    salted = _collect_sorted(asof_join(transcripts, snapshots, salt_buckets=4))
    pd.testing.assert_frame_equal(base, salted)


@pytest.mark.parametrize("shape", list(SHAPES))
def test_zero_temporal_leakage(transcripts, snapshots, shape):
    """No output row may carry a snapshot from its future; and deleting the
    future must not change any feature (SURVEY.md §5 item 2)."""
    out = asof_join(transcripts, snapshots, **SHAPES[shape]).toPandas()
    matched = out[out["snap_ts"].notna()]
    assert (matched["snap_ts"] <= matched["ts"]).all()

    # truncate: drop all snapshots after the global median turn ts; rows at or
    # before the cutoff must be bit-identical
    import pyspark.sql.functions as F

    cut = out["ts"].quantile(0.5)
    trunc = snapshots.filter(F.col("snap_ts") <= F.lit(cut.to_pydatetime()))
    out2 = asof_join(transcripts, trunc, **SHAPES[shape]).toPandas()
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
    """Plan-shape invariant (SURVEY.md §4): every direction under every
    salting shape is a pure-JVM window plan, with no Python node of any
    kind."""
    for direction in ("backward", "forward", "nearest"):
        for shape, kw in SHAPES.items():
            plan = (
                asof_join(transcripts, snapshots, direction=direction, **kw)
                ._jdf.queryExecution().executedPlan().toString()
            )
            for pynode in ("Python", "InPandas", "InArrow"):
                assert pynode not in plan, (direction, shape, pynode)
            assert "Window" in plan, (direction, shape)


def test_duplicate_right_rows_deterministic(spark):
    """Duplicate right rows sharing (key, right_ts): every salting shape must
    pick the same winner — the greatest value tuple — not shuffle-order
    luck."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [("c1", dt.datetime(2024, 1, 1, 13, 0, 0))], "conv_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("c1", t0, 10.0), ("c1", t0, 30.0), ("c1", t0, 20.0)],
        "conv_id string, snap_ts timestamp, val double",
    )
    for shape, kw in INLINE.items():
        assert asof_join(left, right, **kw).collect()[0]["val"] == 30.0, shape


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
    to the greatest value tuple under every salting shape (ADVICE r2 — a
    forward kernel once returned the smallest tuple, 10.0)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 14, 0, 0)
    left = spark.createDataFrame(
        [("c1", dt.datetime(2024, 1, 1, 13, 0, 0))], "conv_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("c1", t0, 10.0), ("c1", t0, 30.0), ("c1", t0, 20.0)],
        "conv_id string, snap_ts timestamp, val double",
    )
    for shape, kw in INLINE.items():
        out = asof_join(left, right, direction="forward", **kw).collect()
        assert out[0]["val"] == 30.0, shape


def test_nearest_duplicates_and_equidistant_deterministic(spark):
    """nearest must (a) resolve duplicate right rows at one (key, ts) to the
    GREATEST value tuple whichever side of the left ts they fall on, and
    (b) prefer the PRECEDING row when two distinct timestamps are
    equidistant (the pandas rule) — under every salting shape."""
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
    for shape, kw in INLINE.items():
        out = {
            r["conv_id"]: r["val"]
            for r in asof_join(left, right, direction="nearest", **kw).collect()
        }
        assert out == {"c1": 30.0, "c2": 5.0, "c3": 30.0}, shape


# ---- forward direction ----


@pytest.mark.parametrize("shape", list(SHAPES))
@pytest.mark.parametrize("allow_exact", [True, False])
def test_forward_strategies_match_oracle(
    transcripts, snapshots, transcripts_pd, snapshots_pd, shape, allow_exact
):
    """The descending-window fill against pandas merge_asof
    (direction='forward') under every salting shape."""
    out = _collect_sorted(
        asof_join(
            transcripts, snapshots, allow_exact=allow_exact,
            direction="forward", **SHAPES[shape],
        )
    )
    oracle = asof_oracle(
        transcripts_pd, snapshots_pd, allow_exact=allow_exact, direction="forward"
    )
    _assert_matches_oracle(out, oracle)


@pytest.mark.parametrize("shape", list(SHAPES))
def test_forward_tolerance(
    transcripts, snapshots, transcripts_pd, snapshots_pd, shape
):
    """Forward staleness flips sign: a match further than tol in the FUTURE
    is nulled."""
    out = _collect_sorted(
        asof_join(
            transcripts, snapshots, tolerance_s=120.0,
            direction="forward", **SHAPES[shape],
        )
    )
    oracle = asof_oracle(
        transcripts_pd, snapshots_pd, tolerance_s=120.0, direction="forward"
    )
    _assert_matches_oracle(out, oracle)


def test_merge_forward_equals_cogroup_randomized(spark):
    """Forward under every salting shape == the pandas reference
    (``asof_dedup_oracle``; the name recalls the retired merge and cogroup
    kernels this test first compared) on randomized frames with planted
    equal-ts ties, duplicate right rows (greatest-tuple rule), null left
    timestamps (must stay unmatched — the desc_nulls_first edge) and keys
    with no right side at all. Keys average ~33 left rows, so threshold 33
    salts about half of them."""
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
        for kw in salting_shapes(33).values():
            m = _collect_sorted(
                asof_join(left, right, allow_exact=allow_exact,
                          direction="forward", **kw)
            )
            pd.testing.assert_frame_equal(m, c)
            # null-ts left rows present and unmatched
            nulls = m[m["ts"].isna()]
            assert len(nulls) > 0 and nulls["snap_ts"].isna().all()


# ---------- nearest direction ----------


def test_window_nearest_matches_pandas(
    transcripts, snapshots, transcripts_pd, snapshots_pd
):
    """The one-pass prev+next window fill against the pandas nearest
    oracle — nearest finally has a skew-safe (spill-backed sort) path."""
    out = _collect_sorted(
        asof_join(transcripts, snapshots, direction="nearest")
    )
    oracle = asof_oracle(transcripts_pd, snapshots_pd, direction="nearest")
    _assert_matches_oracle(out, oracle)


def test_window_nearest_equals_cogroup_randomized(spark):
    """Window nearest under every salting shape == the pandas reference
    (``asof_dedup_oracle``: the logic of the retired cogroup kernel this test
    is named for, without its buckets) on randomized frames: equal-ts
    duplicate right rows (greatest-tuple rule), equidistant pairs (prefer
    preceding), strict exactness, tolerance, null left timestamps (must stay
    unmatched — the next-frame would otherwise hand them the first snapshot
    in sort order), and right-less keys. Keys average 30 left rows, so
    threshold 30 salts about half of them."""
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
            for kw in salting_shapes(30).values():
                w = _collect_sorted(
                    asof_join(left, right, allow_exact=allow_exact, tolerance_s=tol,
                              direction="nearest", **kw)
                )
                pd.testing.assert_frame_equal(w, c)
                nulls = w[w["ts"].isna()]
                assert len(nulls) > 0 and nulls["snap_ts"].isna().all()

