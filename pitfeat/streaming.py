"""Structured Streaming analogues of the batch operators (SURVEY.md §2.10).

The batch engine is the contract; these keep the design streaming-compatible:

- ``stream_sessionize``  — W9's gap-based sessions via ``session_window``
  (Spark's native gap-merge session operator) with a watermark bounding state.
- ``stream_dedup``       — W8 via ``dropDuplicatesWithinWatermark``.
- ``stream_rolling``     — W3/W4 analogue: watermarked sliding-window aggs.
- ``stream_pit_features`` — J1's full streaming form: per-conv snapshot
  history in ``applyInPandasWithState`` state, binary search per turn.
- ``asof_features_microbatch`` — J1 as a micro-batch transformation usable
  under ``foreachBatch`` (stateless as-of join against a snapshot table).

All functions take/return DataFrames so they compose with ``readStream`` ->
``writeStream`` pipelines; tests drive them with file sources and the
``availableNow`` trigger (no always-on cluster needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_sessionize(
    df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key: str = "conv_id",
    ts: str = "ts",
) -> DataFrame:
    """Per-(conv, session) aggregates over gap-merged session windows.

    State is bounded by the watermark: sessions older than it are finalized
    and emitted; late rows beyond it are dropped (documented lateness bound).
    """
    return (
        df.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts), gap).alias("session"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(
                F.when((F.col("tool").isNotNull()) & (F.col("tool") != ""), 1).otherwise(0)
            ).alias("tool_calls"),
        )
        .select(
            key,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_turns",
            "tool_calls",
        )
    )


def stream_dedup(
    df: DataFrame,
    keys: list[str] = ("conv_id", "turn_idx"),
    watermark: str = "1 hour",
    ts: str = "ts",
) -> DataFrame:
    """Stateful exact dedup on (conv_id, turn_idx) with watermark-bounded state."""
    return df.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(list(keys))


def stream_rolling(
    df: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
    key: str = "conv_id",
    ts: str = "ts",
) -> DataFrame:
    """Sliding-window per-conv aggregates (W3/W4 streaming analogue)."""
    return (
        df.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.window(F.col(ts), window, slide).alias("w"))
        .agg(F.count("*").alias("n_turns"))
        .select(key, F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "n_turns")
    )


def _pit_state_kernel(pdf, carried, key_name, extras, feats, max_hist=128):
    """Per-(key, micro-batch) kernel of ``stream_pit_features``.

    State is the conv's snapshot HISTORY (last ``max_hist`` snapshots as
    parallel arrays), not just the newest snapshot: a turn is matched by
    binary search (``np.searchsorted``, side='right' == allow_exact) against
    the merged carried+batch history, so ``snap_ts <= ts`` holds under ANY
    micro-batch interleaving — a turn arriving after a newer snapshot was
    admitted still gets its correct older snapshot, and never a future one
    (zero temporal leakage, the same invariant as batch J1). Eviction
    (``max_hist``) only ever causes a very-late turn to match nothing —
    conservative, never leaky. Returns ``(emitted_turn_rows | None,
    new_state_tuple | None)``. All numpy; never a per-row Python loop."""
    import numpy as np

    snap_cols = ["snap_t_us"] + list(feats)
    is_snap = pdf["is_snap"].to_numpy() == 1
    snaps = pdf.loc[is_snap, snap_cols].to_numpy(dtype=float)
    if len(snaps):
        # a NULL snap_ts arrives as NaN: unknowable-age snapshots can never
        # match (same rule as batch asof_join) and would poison the state
        # (int(NaN) raises on persist => a permanently re-failing micro-batch)
        snaps = snaps[~np.isnan(snaps[:, 0])]
    if carried is not None:
        hist = np.column_stack([np.asarray(x, dtype=float) for x in carried])
        snaps = np.vstack([hist, snaps]) if len(snaps) else hist
    if len(snaps):
        # stable sort: at equal snap_ts the later arrival wins (matches the
        # batch strategies' greatest-tuple determinism closely enough for
        # unique-(key, ts) right sides, which J1 documents as the contract)
        snaps = snaps[np.argsort(snaps[:, 0], kind="mergesort")]
    turns = pdf.loc[~is_snap]
    # the grouping key is NOT auto-prepended to stateful-op output; emit it
    # from the input rows (present in every pdf)
    out = turns[[key_name, *extras, "t_us"]].reset_index(drop=True)
    gathered = np.full((len(out), len(snap_cols)), np.nan)
    if len(snaps) and len(out):
        # float path tolerates NULL turn ts (NaN): searchsorted places NaN
        # after every real ts, but the valid-mask keeps such turns unmatched
        # instead of raising in the int64 conversion
        t = turns["t_us"].to_numpy(dtype=float)
        ok = ~np.isnan(t)
        idx = np.searchsorted(snaps[:, 0], t, side="right") - 1
        have = ok & (idx >= 0)
        gathered[have] = snaps[idx[have]]
    for i, c in enumerate(snap_cols):
        out[c] = gathered[:, i]
    out["snap_t_us"] = out["snap_t_us"].astype("Int64")
    new_state = None
    if is_snap.any():  # batch extended the history
        kept = snaps[-max_hist:]
        new_state = ([int(x) for x in kept[:, 0]],) + tuple(
            [float(v) for v in kept[:, i]] for i in range(1, len(snap_cols))
        )
    return (out if len(out) else None), new_state


def stream_pit_features(
    turns: DataFrame,
    snapshots: DataFrame,
    feature_cols: list[str],
    key: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    extra_cols: tuple[str, ...] = ("turn_idx",),
) -> DataFrame:
    """J1's full streaming form (SURVEY §2.10 custom state): running
    point-in-time features via a custom stateful operator.

    Both inputs are STREAMS; they are tagged, unioned, and grouped by conv.
    Per-conv state holds the conv's snapshot HISTORY (last 128 snapshots);
    each turn binary-searches it for the latest ``snap_ts <= ts``. Matching
    is therefore exact batch-J1 semantics under ANY micro-batch interleaving
    of the two streams (verified against asof_join in tests, including a
    trickled multi-batch run) — never a future snapshot, zero temporal
    leakage. The two bounded caveats: a snapshot evicted from the 128-deep
    history can no longer match an extremely late turn (missed match, never
    a wrong one), and a turn already emitted is not retroactively rewritten
    when an older snapshot arrives later (append-mode semantics).

    The operator is ``applyInPandasWithState`` + GroupState over the plain
    Arrow channel, so it runs anywhere PySpark runs; the per-group work is
    one numpy kernel (``_pit_state_kernel``). Timestamps travel as
    epoch-microsecond longs through the state store and are rebuilt at the
    edge — immune to tz/NaT round-trip surprises.
    """
    extras = list(extra_cols)
    extra_types = {
        f.name: f.dataType.simpleString()
        for f in turns.schema.fields
        if f.name in extras
    }
    lt = turns.select(
        F.col(key),
        F.unix_micros(F.col(left_ts).cast("timestamp")).alias("t_us"),
        F.lit(0).alias("is_snap"),
        *[F.col(c) for c in extras],
        F.lit(None).cast("long").alias("snap_t_us"),
        *[F.lit(None).cast("double").alias(f) for f in feature_cols],
    )
    rt = snapshots.select(
        F.col(key),
        F.unix_micros(F.col(right_ts).cast("timestamp")).alias("t_us"),
        F.lit(1).alias("is_snap"),
        # extras are never emitted for snapshot rows; -1 keeps integer dtypes
        # intact through the pandas kernel (NaN would float-poison them)
        *[F.lit(-1).cast(extra_types[c]).alias(c) for c in extras],
        F.unix_micros(F.col(right_ts).cast("timestamp")).alias("snap_t_us"),
        *[F.col(f).cast("double") for f in feature_cols],
    )
    unioned = lt.unionByName(rt)
    key_type = next(
        f.dataType.simpleString() for f in turns.schema.fields if f.name == key
    )
    # joined from a segment list so empty extras/feature lists can't leave
    # a dangling ', ,' in the DDL string (ADVICE r6)
    out_schema = ", ".join(
        [f"{key} {key_type}"]
        + [f"{c} {extra_types[c]}" for c in extras]
        + ["t_us long", "snap_t_us long"]
        + [f"{f} double" for f in feature_cols]
    )
    import pandas as pd

    feats = list(feature_cols)
    state_schema = "snap_t_us array<long>, " + ", ".join(
        f"{f} array<double>" for f in feats
    )

    def fn(group_key, pdfs, state):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        carried = state.get if state.exists else None
        out_pdf, new_state = _pit_state_kernel(pdf, carried, key, extras, feats)
        if new_state is not None:
            state.update(new_state)
        if out_pdf is not None:
            yield out_pdf

    out = unioned.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return out.select(
        key,
        *extras,
        F.timestamp_micros(F.col("t_us")).alias(left_ts),
        F.timestamp_micros(F.col("snap_t_us")).alias(right_ts),
        *feature_cols,
    )


def asof_features_microbatch(snapshots: DataFrame):
    """Returns a foreachBatch-compatible transformation: each micro-batch of
    transcript turns is as-of joined (window fill, zero leakage) against
    the snapshot table. Production shape for 'enrich a turn stream with the
    latest preceding features' when snapshots live in a slowly-changing table.

        q = (turns_stream.writeStream
              .foreachBatch(lambda b, _: sink(asof(b)))...)
    """
    from pitfeat.ops.asof import asof_join

    def transform(batch_df: DataFrame) -> DataFrame:
        return asof_join(batch_df, snapshots)

    return transform


def stream_ewma(
    turns: DataFrame,
    col: str,
    alpha: float,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: tuple[str, ...] = ("turn_idx",),
    out_col: str | None = None,
) -> DataFrame:
    """W11's streaming form: per-key EWMA as a custom stateful operator
    (``applyInPandasWithState``), state = ONE double per live key.

    Semantics: the adjust=False recurrence applies in (``ts``,
    ``*order_extra``) order WITHIN each micro-batch and in arrival order
    ACROSS micro-batches, continued from the key's carried EWMA. With
    per-key time-ordered ingestion (the standard append-only log-shipping
    shape) this equals the batch ``pitfeat.ewma`` exactly — pinned by the
    stream==batch test, including a trickled multi-batch run. An
    out-of-order late row smooths in arrival order rather than rewriting
    already-emitted rows (append-mode semantics, the same bounded caveat as
    ``stream_pit_features``). Null inputs emit null and leave state
    untouched. State is O(1) per key — no history, no watermark needed.
    """
    import numpy as np
    import pandas as pd

    from pitfeat.ops.ewma import _ewma_continue

    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"stream_ewma: alpha must be in (0, 1], got {alpha}")
    out_col = out_col or f"{col}_ewma"
    extras = list(order_extra)
    types = {f.name: f.dataType.simpleString() for f in turns.schema.fields}
    src = turns.select(
        F.col(key),
        F.unix_micros(F.col(ts).cast("timestamp")).alias("t_us"),
        *[F.col(c) for c in extras],
        F.col(col).cast("double").alias(col),
    )
    # segment-list join: with order_extra=() the old string-concat form
    # emitted '..., t_us long, , value double' and failed to parse (ADVICE r6)
    out_schema = ", ".join(
        [f"{key} {types[key]}", "t_us long"]
        + [f"{c} {types[c]}" for c in extras]
        + [f"{col} double", f"{out_col} double"]
    )

    def fn(group_key, pdfs, state):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["t_us"] + extras).reset_index(drop=True)
        x = pdf[col]
        valid = x.notna().to_numpy()
        y = np.full(len(pdf), np.nan)
        seed = state.get[0] if state.exists else None
        if valid.any():
            yv = _ewma_continue(x[valid], seed, alpha)
            y[np.flatnonzero(valid)] = yv
            state.update((float(yv[-1]),))
        pdf[out_col] = y
        yield pdf

    out = src.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="y double",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return out.select(
        key,
        *extras,
        F.timestamp_micros(F.col("t_us")).alias(ts),
        col,
        out_col,
    )


def stream_ewma_time(
    turns: DataFrame,
    col: str,
    halflife_s: float,
    key: str = "conv_id",
    ts: str = "ts",
    order_extra: tuple[str, ...] = ("turn_idx",),
    out_col: str | None = None,
) -> DataFrame:
    """W12's streaming form: per-key EVENT-TIME EWMA (decay by elapsed
    time, pandas ``ewm(halflife, times, adjust=True)`` semantics) as a
    custom stateful operator; state = THREE doubles per live key (weighted
    mean, accumulated weight, last valid event-time ns).

    Shares the exact scalar kernel replica with the batch op
    (``pitfeat.ops.ewma._ewma_time_continue``), so with per-key
    time-ordered ingestion the output is BIT-IDENTICAL to batch
    ``ewma_time`` — pinned by the stream==batch test. Out-of-order late
    rows smooth in arrival order (append-mode semantics, same caveat as
    ``stream_ewma``); rows with null value or null ts are inert (null out,
    state untouched). No watermark needed — state never grows with
    history."""
    import numpy as np
    import pandas as pd

    from pitfeat.ops.ewma import _ewma_time_continue

    if not halflife_s > 0:
        raise ValueError(
            f"stream_ewma_time: halflife_s must be > 0, got {halflife_s}"
        )
    out_col = out_col or f"{col}_ewma"
    hl_ns = float(pd.Timedelta(seconds=halflife_s).value)
    extras = list(order_extra)
    types = {f.name: f.dataType.simpleString() for f in turns.schema.fields}
    src = turns.select(
        F.col(key),
        F.unix_micros(F.col(ts).cast("timestamp")).alias("t_us"),
        *[F.col(c) for c in extras],
        F.col(col).cast("double").alias(col),
    )
    # segment-list join: with order_extra=() the old string-concat form
    # emitted '..., t_us long, , value double' and failed to parse (ADVICE r6)
    out_schema = ", ".join(
        [f"{key} {types[key]}", "t_us long"]
        + [f"{c} {types[c]}" for c in extras]
        + [f"{col} double", f"{out_col} double"]
    )

    def fn(group_key, pdfs, state):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["t_us"] + extras).reset_index(drop=True)
        x = pdf[col]
        # micro-batch ns as float64 — µs * 1000 is the exact int the batch
        # path derives from the timestamp, so the float casts agree
        t_us = pdf["t_us"]
        valid = (x.notna() & t_us.notna()).to_numpy()
        y = np.full(len(pdf), np.nan)
        st = tuple(state.get) if state.exists else None
        if valid.any():
            vidx = np.flatnonzero(valid)
            tf = (t_us.iloc[vidx].to_numpy().astype("int64") * 1000).astype(
                np.float64
            )
            yv, st2 = _ewma_time_continue(
                x.iloc[vidx].to_numpy().astype(float), tf, hl_ns, st
            )
            y[vidx] = yv
            state.update((float(st2[0]), float(st2[1]), float(st2[2])))
        pdf[out_col] = y
        yield pdf

    out = src.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="y double, w double, t_ns double",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return out.select(
        key,
        *extras,
        F.timestamp_micros(F.col("t_us")).alias(ts),
        col,
        out_col,
    )
