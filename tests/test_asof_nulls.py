"""Regression: as-of fill must be row-ATOMIC. A newer snapshot's legitimate
NULL must not be overwritten by an older snapshot's value (per-column ffill
would do exactly that)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pitfeat.ops.asof import asof_join
from tests.oracle_pandas import asof_oracle, salting_shapes

SHAPES = salting_shapes(20)  # the 50-conv fixture averages 20 turns per conv
# inline frames below hold one or two left rows per key: threshold 2 salts
# the two-row keys and leaves the one-row keys on the plain path
INLINE = salting_shapes(2)


@pytest.fixture(scope="module")
def mixed_null_snapshots(spark, transcripts):
    """Snapshots where EVERY feature column is null on a hash-selected ~40%
    of ROWS (not whole columns), so row-atomicity is exercised at every slot
    position — a fill bug confined to higher column indices would be
    invisible if only f_0..f_3 carried injected nulls."""
    from pitfeat.synth import gen_snapshots

    s = gen_snapshots(transcripts, seed=42)
    out = s
    for i in range(13):  # f_13 (const) / f_14 (all-null) / f_15 (per-conv const) keep their designed roles
        c = f"f_{i}"
        out = out.withColumn(
            c,
            F.when(
                F.pmod(F.xxhash64("conv_id", F.col("snap_ts").cast("long"), F.lit(900 + i)), F.lit(5)) >= 2,
                F.col(c),
            ),
        )
    return out.cache()


@pytest.mark.parametrize("shape", list(SHAPES))
def test_row_atomic_fill(transcripts, transcripts_pd, mixed_null_snapshots, shape):
    out = (
        asof_join(transcripts, mixed_null_snapshots, **SHAPES[shape])
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    snaps_pd = (
        mixed_null_snapshots.toPandas().sort_values(["conv_id", "snap_ts"]).reset_index(drop=True)
    )
    oracle = asof_oracle(transcripts_pd, snaps_pd)
    assert len(out) == len(oracle)
    pd.testing.assert_series_equal(out["snap_ts"], oracle["snap_ts"], check_names=False)
    for i in range(16):
        c = f"f_{i}"
        np.testing.assert_allclose(
            out[c].to_numpy(float), oracle[c].to_numpy(float), equal_nan=True, err_msg=(shape, c)
        )


def test_explicit_null_resurrection_case(spark):
    """Minimal reproducer: S1(f=1.0) then S2(f=null); a turn after S2 must see
    null, not 1.0."""
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a"],
                "turn_idx": [0],
                "ts": [pd.Timestamp("2024-01-01 10:00:00")],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a", "a"],
                "snap_ts": [
                    pd.Timestamp("2024-01-01 08:00:00"),
                    pd.Timestamp("2024-01-01 09:00:00"),
                ],
                "f": [1.0, None],
            }
        )
    )
    for shape, kw in INLINE.items():
        row = asof_join(left, right, **kw).collect()[0]
        assert row["snap_ts"] == pd.Timestamp("2024-01-01 09:00:00"), shape
        assert row["f"] is None or (isinstance(row["f"], float) and np.isnan(row["f"])), shape


def test_null_right_ts_never_matches(spark):
    """A right row with NULL snap_ts has unknowable age and must NEVER be
    forward-filled into a match (it once was — including through the
    tolerance stale-check, which nulls out of a NULL timestamp comparison).
    Every salting shape must agree: only the real s(2024-01-01 08:00)
    snapshot matches."""
    left = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["b"], "ts": [pd.Timestamp("2024-01-01 09:00:00")]})
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["b", "b"],
                "snap_ts": [pd.NaT, pd.Timestamp("2024-01-01 08:00:00")],
                "f": [7.0, 2.0],
            }
        )
    )
    for shape, kw in INLINE.items():
        for tol in (None, 5 * 3600.0):
            row = asof_join(left, right, tolerance_s=tol, **kw).collect()[0]
            assert row["f"] == 2.0, (shape, tol)
            assert row["snap_ts"] == pd.Timestamp("2024-01-01 08:00:00"), (shape, tol)


def test_null_left_ts_left_outer_not_crash(spark):
    """A left row with NULL ts is a data-quality case, not a job-killer: it
    must come back with null right columns under every salting shape (a
    merge_asof-based kernel once aborted the whole join — merge_asof refuses
    null merge keys)."""
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c", "c"],
                "ts": [pd.NaT, pd.Timestamp("2024-01-01 09:00:00")],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c"],
                "snap_ts": [pd.Timestamp("2024-01-01 08:00:00")],
                "f": [3.0],
            }
        )
    )
    for shape, kw in INLINE.items():
        rows = {
            (r["ts"] is not None): r for r in asof_join(left, right, **kw).collect()
        }
        assert len(rows) == 2, shape
        assert rows[True]["f"] == 3.0, shape
        good = rows[False]
        assert good["f"] is None or np.isnan(good["f"]), shape
        assert good["snap_ts"] is None, shape


def test_null_join_key_gets_no_features(spark):
    """NULL keys must follow SQL join semantics under every salting shape: a
    null-key left row never receives a null-key right row's snapshot (the
    window fill once grouped nulls together and enriched them)."""
    left = spark.createDataFrame(
        pd.DataFrame({"conv_id": [None], "ts": [pd.Timestamp("2024-01-01 10:00:00")]})
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [None],
                "snap_ts": [pd.Timestamp("2024-01-01 01:00:00")],
                "f": [9.0],
            }
        )
    )
    for shape, kw in INLINE.items():
        row = asof_join(left, right, **kw).collect()[0]
        assert row["f"] is None or np.isnan(row["f"]), shape
        assert row["snap_ts"] is None, shape


def test_unorderable_right_columns_join_fine(spark):
    """A right side carrying a map<string,double> column must not break the
    join: maps are excluded from the duplicate-tie-break SORT KEYS (Spark
    refuses to order them) but still flow through as values — also into
    unmatched rows, which get a null map (a pandas stream once filled them
    with NaN, which Arrow cannot turn into a map). Key m has a left row
    before and one after its only snapshot; key u has no snapshot."""
    import datetime as dt

    t7, t8, t10 = (dt.datetime(2024, 1, 1, h, 0, 0) for h in (7, 8, 10))
    left = spark.createDataFrame(
        [("m", t7), ("m", t10), ("u", t10)], "conv_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("m", t8, 4.0, {"k": 1.0})],
        "conv_id string, snap_ts timestamp, f double, extras map<string,double>",
    )
    snap, miss = (4.0, {"k": 1.0}), (None, None)
    want = {
        "backward": {("m", t7): miss, ("m", t10): snap, ("u", t10): miss},
        "forward": {("m", t7): snap, ("m", t10): miss, ("u", t10): miss},
        "nearest": {("m", t7): snap, ("m", t10): snap, ("u", t10): miss},
    }
    for direction, expected in want.items():
        for shape, kw in INLINE.items():
            got = {
                (r["conv_id"], r["ts"]): (r["f"], r["extras"])
                for r in asof_join(left, right, direction=direction, **kw).collect()
            }
            assert got == expected, (direction, shape, got)
