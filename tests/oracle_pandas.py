"""Single-process pandas/numpy reference implementation (SURVEY.md §5 item 3).

This oracle IS the stand-in for the unreachable reference binary: it
reimplements every pipeline stage with independent pandas/numpy primitives
(merge_asof, groupby/rolling/cumsum, numpy min-max), and the Spark engine must
match it allclose at every (conv_id, turn_idx).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def asof_oracle(
    left: pd.DataFrame,
    right: pd.DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    allow_exact: bool = True,
    tolerance_s: float | None = None,
    direction: str = "backward",
) -> pd.DataFrame:
    l = left.sort_values(left_ts, kind="mergesort").reset_index(drop=True)
    r = right.sort_values(right_ts, kind="mergesort").reset_index(drop=True)
    kw = {}
    if tolerance_s is not None:
        kw["tolerance"] = pd.Timedelta(seconds=tolerance_s)
    out = pd.merge_asof(
        l,
        r,
        left_on=left_ts,
        right_on=right_ts,
        by=on,
        direction=direction,
        allow_exact_matches=allow_exact,
        **kw,
    )
    return out.sort_values([on, "turn_idx"]).reset_index(drop=True)


def asof_dedup_oracle(
    left: pd.DataFrame,
    right: pd.DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    allow_exact: bool = True,
    tolerance_s: float | None = None,
    direction: str = "backward",
) -> pd.DataFrame:
    """The engine's full as-of contract in pandas, for right sides WITH
    duplicate (key, right_ts) rows and left sides with null timestamps.

    Right rows are first deduped per (key, right_ts) to the greatest value
    tuple (value columns compared left to right, nulls first); after that
    pandas' direction-dependent tie rules have nothing to choose between.
    Left rows with a null ts stay unmatched. Rows come back in ``left``'s
    order with ``left``'s columns followed by the right value columns."""
    vals = [c for c in right.columns if c != on]
    r = right.dropna(subset=[on, right_ts]).sort_values(
        [on, right_ts] + [c for c in vals if c != right_ts],
        kind="mergesort",
        na_position="first",
    )
    r = r.drop_duplicates(subset=[on, right_ts], keep="last")
    known = left[left_ts].notna()
    kw = {}
    if tolerance_s is not None:
        kw["tolerance"] = pd.Timedelta(seconds=tolerance_s)
    matched = pd.merge_asof(
        left[known].reset_index().sort_values(left_ts, kind="mergesort"),
        r.sort_values(right_ts, kind="mergesort"),
        left_on=left_ts,
        right_on=right_ts,
        by=on,
        direction=direction,
        allow_exact_matches=allow_exact,
        **kw,
    )
    out = pd.concat([matched, left[~known].reset_index()], ignore_index=True)
    return out.set_index("index").sort_index()[list(left.columns) + vals]


def salting_shapes(hot_threshold: int) -> dict[str, dict]:
    """``asof_join`` keyword sets for its three physical plans, so every
    as-of comparison against the references above runs more than one plan:
    the plain window fill, blanket x4 salting, and targeted salting (keys
    with at least ``hot_threshold`` left rows salted x4, the rest plain)."""
    return {
        "window": {},
        "salted": {"salt_buckets": 4},
        "targeted": {"salt_buckets": 4, "hot_threshold": hot_threshold},
    }


def gap_oracle(t: pd.DataFrame) -> pd.Series:
    t = t.sort_values(["conv_id", "turn_idx"])
    return t.groupby("conv_id")["ts"].transform(
        lambda s: s.astype("int64").diff() / 1e9
    )


def sessionize_oracle(t: pd.DataFrame, gap_s: int) -> pd.DataFrame:
    t = t.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    gap = gap_oracle(t)
    is_new = gap.isna() | (gap > gap_s)
    t = t.copy()
    t["session_no"] = is_new.astype(int).groupby(t["conv_id"]).cumsum()
    t["session_id"] = t["conv_id"] + "#" + t["session_no"].astype(str)
    return t


def rolling_oracle(t: pd.DataFrame, col: str, fn: str, window: int) -> pd.Series:
    t = t.sort_values(["conv_id", "turn_idx"])
    g = t.groupby("conv_id")[col].rolling(window, min_periods=1)
    out = getattr(g, fn)().reset_index(level=0, drop=True)
    return out.sort_index()


def minmax_oracle(df: pd.DataFrame, cols: list[str]):
    mins = {c: np.nanmin(df[c].values) if df[c].notna().any() else None for c in cols}
    maxs = {c: np.nanmax(df[c].values) if df[c].notna().any() else None for c in cols}
    degenerate = [
        c
        for c in cols
        if mins[c] is None or maxs[c] is None or mins[c] == maxs[c]
    ]
    survivors = [c for c in cols if c not in degenerate]
    norm = df.copy()
    for c in survivors:
        norm[c] = (norm[c] - mins[c]) / (maxs[c] - mins[c])
    return norm, survivors, mins, maxs
