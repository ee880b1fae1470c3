"""W11: exponentially-weighted moving average — a recursive temporal feature
(SURVEY.md §2.5 W11).

EWMA is the one common windowed feature Catalyst cannot express: the
recurrence ``y_i = (1-alpha) * y_{i-1} + alpha * x_i`` depends on its own
previous output, so no frame-based window function computes it, and the
closed form ``y_i = sum_j alpha (1-alpha)^(i-j) x_j`` — while fine as a
small-scale SQL oracle — is numerically unusable as an engine plan:
``(1-alpha)^-j`` overflows float64 after ~1000 steps at any realistic alpha,
so a cumsum reformulation cannot survive a long conversation.

Spark mapping — one sorted stream: ``repartition(key)`` (hash) makes each
key's rows land in one partition, ``sortWithinPartitions(key, ts,
*order_extra)`` makes the partition stream key-contiguous and time-ordered,
and ONE ``mapInPandas`` pass runs the recurrence per key run (pandas
``ewm(adjust=False)``, C-vectorized) carrying the batch-boundary key's last
state across Arrow batches. Only the final key of a batch can continue into
the next one, so the carried state is one scalar and worker memory is
O(Arrow batch + 1 scalar), whatever the key cardinality or heat; the sort
before it is Spark's, spill-backed. ``bench/run_hotkey_stress.py --op ewma``
runs it on a one-hot-conversation fixture.

Null semantics: a null/NaN input yields a null output and leaves the state
untouched (the next valid row continues from the last valid EWMA). This is
the semantics with a clean point-in-time reading — an absent observation
neither perturbs the feature nor leaks anything — and the one with an exact
closed-form oracle over the non-null subsequence.

Determinism: callers must pass ``order_extra`` tie-break columns sufficient
to totally order rows within (key, ts); with a total order the output is
identical at any parallelism (the recurrence order is the sort order).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _ewma_continue(xv: pd.Series, seed: float | None, alpha: float) -> np.ndarray:
    """adjust=False EWMA of ``xv`` continued from ``seed`` (a prior EWMA
    value) — prepending the seed and dropping it reproduces the recurrence
    ``y_1 = (1-a)*seed + a*x_1`` bit-for-bit (pinned by the batch-boundary
    test). Shared by the batch kernel and the streaming state op."""
    if seed is not None:
        return (
            pd.concat([pd.Series([seed]), xv], ignore_index=True)
            .ewm(alpha=alpha, adjust=False)
            .mean()
            .iloc[1:]
            .to_numpy()
        )
    return xv.ewm(alpha=alpha, adjust=False).mean().to_numpy()


def ewma(
    df: DataFrame,
    col: str,
    alpha: float,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: tuple[str, ...] = (),
    out_col: str | None = None,
) -> DataFrame:
    """Append ``out_col`` (default ``<col>_ewma``) = per-``key`` EWMA of
    ``col`` in (``ts``, ``*order_extra``) order, ``adjust=False`` recurrence
    seeded by each key's first valid value."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"ewma: alpha must be in (0, 1], got {alpha}")
    if col not in df.columns:
        raise ValueError(f"ewma: no such column {col!r}")
    out_col = out_col or f"{col}_ewma"
    if out_col in df.columns:
        raise ValueError(f"ewma: output column {out_col!r} already exists")

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType(), True)]
    )
    out_names = [f.name for f in out_schema.fields]

    # hash repartition (r8): the kernel needs key co-location only —
    # contiguity comes from the sort — and repartitionByRange's boundary
    # sampling re-executed the upstream scan once per call for nothing
    staged = df.repartition(F.col(key)).sortWithinPartitions(
        F.col(key).asc(),
        F.col(ts).asc(),
        *[F.col(c).asc() for c in order_extra],
    )

    def stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # key -> last valid EWMA value. The sorted stream is key-contiguous,
        # so only each batch's FINAL key can continue into the next batch:
        # state shrinks to one scalar at every batch boundary.
        state: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            x = pd.to_numeric(pdf[col], errors="coerce").astype(float)
            y = np.full(len(pdf), np.nan)
            for k, idx in pdf.groupby(key, sort=False).indices.items():
                xs = x.iloc[idx]
                valid = xs.notna().to_numpy()
                if not valid.any():
                    continue  # state (if any) persists untouched
                yv = _ewma_continue(xs[valid], state.get(k), alpha)
                y[idx[valid]] = yv
                state[k] = float(yv[-1])
            last_key = pdf[key].iloc[-1]
            state = {last_key: state[last_key]} if last_key in state else {}
            res = pdf.copy()
            res[out_col] = y
            yield res[out_names]

    return staged.mapInPandas(stream, schema=out_schema)


def _ewma_time_continue(
    xv: np.ndarray, tf: np.ndarray, hl_ns: float, st: tuple | None
):
    """Exact scalar replica of pandas' adjust=True times-ewm kernel,
    optionally continued from state ``(w_avg, old_wt, t_prev_ns)``.

    Reproduces pandas' op order bit-for-bit (pinned by the batch-boundary
    and streaming==batch tests): ns timestamps already float64-cast by the
    caller, ``old_wt *= 0.5 ** delta``, the equal-value short-circuit, then
    ``old_wt += 1``. Shared by the batch ``ewma_time`` kernel and the
    streaming ``stream_ewma_time`` state op.

    The loop runs over plain Python floats (one tolist() per run, ~3x
    faster than per-element numpy scalar extraction, measured on the 50M
    hot-key stress) — bit-identical arithmetic, Python float IS a C
    double."""
    n = len(xv)
    xl = xv.tolist()
    tl = tf.tolist()
    y = [0.0] * n
    if st is None:
        w_avg, old_wt, t_prev = xl[0], 1.0, tl[0]
        y[0] = w_avg
        start = 1
    else:
        w_avg, old_wt, t_prev = st
        start = 0
    for i in range(start, n):
        old_wt *= 0.5 ** ((tl[i] - t_prev) / hl_ns)
        cur = xl[i]
        if w_avg != cur:
            w_avg = ((old_wt * w_avg) + cur) / (old_wt + 1.0)
        old_wt += 1.0
        t_prev = tl[i]
        y[i] = w_avg
    return np.asarray(y), (w_avg, old_wt, t_prev)


def ewma_time(
    df: DataFrame,
    col: str,
    halflife_s: float,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: tuple[str, ...] = (),
    out_col: str | None = None,
) -> DataFrame:
    """W12 (r6): event-time EWMA — decay by ELAPSED TIME, not row count.

    The row-hop ``ewma`` weights every observation step equally, which is
    wrong for irregularly-spaced transcripts: a turn 2 hours after the last
    one should barely remember it, a turn 2 seconds later almost fully.
    This op computes pandas' time-aware semantics —
    ``ewm(halflife=Timedelta(seconds=halflife_s), times=ts, adjust=True)``
    — exactly: the weight of observation j at row i is
    ``0.5 ** ((t_i - t_j) / halflife)`` and the output is the weighted mean.

    Spark mapping: the same repartitionByRange + sortWithinPartitions + ONE
    mapInPandas staging as ``ewma``. Runs that start inside an Arrow batch
    take pandas' C-vectorized times-ewm kernel; the (at most one) run that
    continues across a batch boundary runs an exact scalar replica of that
    kernel — BIT-IDENTICAL to the vectorized path (the replica reproduces
    pandas' op order: float64-cast ns deltas, ``old_wt *= 0.5**delta``,
    the equal-value short-circuit, ``old_wt += 1``; pinned by the
    batch-boundary parity test), so output is invariant to partitioning
    and Arrow batch size. Carried state is THREE scalars per boundary key
    (weighted mean, accumulated weight, last valid event-time) — the same
    O(1) bounded-memory story as ``ewma``, with one honest caveat: a key
    spanning B batches pays the scalar recurrence (~0.4M rows/s) on its
    continuation rows (still vectorized-C for every fresh run), so a
    pathologically hot key is CPU-heavier here than in the row-hop kernel.
    Measured boundary (BASELINE.md EWMA section): at MODERATE heat — hot
    key ~3 Arrow batches (30k rows) in a 10M-turn table — the whole op runs
    1.08x the row-hop kernel's wall (13.8 s vs 12.8 s, same window); the
    cost only matters at the pathological extreme (50%-hot: 1.4x, r6).

    Null semantics: rows with null/NaN ``col`` OR null ``ts`` are inert —
    null output, state untouched — and the next valid row decays from the
    LAST VALID row's event time. (Equivalent to pandas on the valid
    subsequence: skipping a row's per-step decay and decaying once over
    the total gap are the same product ``0.5**(a+b) = 0.5**a * 0.5**b``
    up to the float ops pandas itself performs on the valid rows only.)
    """
    if not halflife_s > 0:
        raise ValueError(f"ewma_time: halflife_s must be > 0, got {halflife_s}")
    if col not in df.columns:
        raise ValueError(f"ewma_time: no such column {col!r}")
    out_col = out_col or f"{col}_ewma"
    if out_col in df.columns:
        raise ValueError(f"ewma_time: output column {out_col!r} already exists")

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType(), True)]
    )
    out_names = [f.name for f in out_schema.fields]
    hl_ns = float(pd.Timedelta(seconds=halflife_s).value)
    hl_td = pd.Timedelta(seconds=halflife_s)

    # hash repartition: same key co-location, no range-sampling pass (see
    # the row-hop kernel's staging note)
    staged = df.repartition(F.col(key)).sortWithinPartitions(
        F.col(key).asc(),
        F.col(ts).asc(),
        *[F.col(c).asc() for c in order_extra],
    )

    def stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            x = pd.to_numeric(pdf[col], errors="coerce").astype(float)
            tv = pd.to_datetime(pdf[ts])
            try:
                tv = tv.dt.tz_localize(None)
            except TypeError:
                pass
            t64 = tv.values.astype("datetime64[ns]")
            # float64 cast of absolute ns BEFORE differencing — pandas'
            # _calculate_deltas order, required for bit-parity
            tf_all = t64.view("int64").astype(np.float64)
            valid_all = x.notna().to_numpy() & ~np.isnat(t64)
            y = np.full(len(pdf), np.nan)
            last_key = pdf[key].iloc[-1]
            for k, idx in pdf.groupby(key, sort=False).indices.items():
                vidx = idx[valid_all[idx]]
                if len(vidx) == 0:
                    continue  # state (if any) persists untouched
                xs = x.to_numpy()[vidx]
                if k in state or k == last_key:
                    # continuation, or the one run whose state the next
                    # batch may need: exact scalar kernel (yields old_wt,
                    # which the vectorized path does not expose)
                    yv, st = _ewma_time_continue(
                        xs, tf_all[vidx], hl_ns, state.get(k)
                    )
                    state[k] = st
                else:
                    # fresh interior run: pandas' C kernel
                    yv = (
                        pd.Series(xs)
                        .ewm(halflife=hl_td, times=t64[vidx], adjust=True)
                        .mean()
                        .to_numpy()
                    )
                y[vidx] = yv
            state = {last_key: state[last_key]} if last_key in state else {}
            res = pdf.copy()
            res[out_col] = y
            yield res[out_names]

    return staged.mapInPandas(stream, schema=out_schema)
