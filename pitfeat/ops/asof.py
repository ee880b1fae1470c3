"""Point-in-time (as-of) join — THE core operator (SURVEY.md §2.3 J1/J2).

Semantics: for each left row, attach the single right row with the greatest
``right_ts`` such that ``right_ts <= left_ts`` (strict ``<`` when
``allow_exact=False``). Unmatched left rows keep nulls (left outer). Zero
temporal leakage by construction: a right row with ``right_ts > left_ts`` can
never be selected (property-tested in tests/test_asof.py).

Two physical strategies, both vectorized (no per-row Python anywhere):

``window`` (DEFAULT — matches the ``strategy`` parameter default below)
    Pure-JVM union-tag forward-fill: tag both sides, union, forward-fill the
    right value struct down a (key, ts, tag)-sorted window with
    ``last(ignorenulls)``. Zero JVM<->Python transfer. Spill-backed window
    sort, so memory is bounded regardless of key heat. Measured at sf0.1 on
    ``local[4]`` (4 vCPU, medians of 3-5 reps), window vs merge: backward
    0.55-0.58 vs 0.70 s, forward 0.56 vs 0.75 s, nearest 1.0-1.14 vs
    1.2-1.3 s.

``merge``
    The "partitioned, sort-within-partition as-of merge": both sides are
    tagged and unioned, ``repartition(key)`` (hash key co-location; r8 —
    range partitioning's boundary-sampling job re-executed the whole
    upstream once per staging for split points the kernel never needs) +
    ``sortWithinPartitions(key, ts, tag)``, then a streaming ``mapInPandas``
    forward-fills snapshot values down the sorted stream (pandas groupby-ffill,
    Cython-vectorized) carrying state across Arrow batches. The sorted stream
    is key-contiguous, so carried state is evicted down to the single key that
    can span a batch boundary: memory is bounded by the Arrow batch size plus
    ONE carried row — not by key cardinality or key heat — so this is the
    robust path for pathologically hot keys at 100TB scale.

Strategy x direction support matrix (ValueError outside it):

    =========  ========  =======  =======
    strategy   backward  forward  nearest
    =========  ========  =======  =======
    window     yes       yes      yes
    merge      yes       yes      yes
    =========  ========  =======  =======

    (merge/forward and window/forward: descending-ts variants of the same
    fills; window/nearest: one sorted pass computing both the preceding and
    following snapshot via doubled-tagged right rows, closer one chosen
    row-locally — see _asof_window_nearest; merge/nearest (r6, the last
    matrix hole): the backward pass's output rides as left payload through
    the forward pass — two bounded-memory sorted streams, then the same
    row-local closer-one choice — see _asof_merge_nearest.)

Tie rule: with ``allow_exact=True`` an equal-timestamp snapshot matches
(both strategies sort right-before-left at equal ts). With
``allow_exact=False`` it does not (left-before-right).

Duplicate right rows sharing (key, right_ts): the winner is the row with the
GREATEST value tuple (lexicographic over the right value columns, nulls
first) — both strategies append the value columns to their right-side sort
keys, so the choice is deterministic and identical across window and merge,
instead of "whatever the unstable shuffle order produced". Callers
wanting a different resolution should pre-dedup the right side.

Oracle parity: semantics match ``pandas.merge_asof(direction=...,
allow_exact_matches=..., tolerance=...)`` (backward/forward/nearest) and
DuckDB ``ASOF JOIN`` (backward/forward; nearest via a rank-by-|Δt| window
oracle) — both are used as test oracles.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _orderable(dt: T.DataType) -> bool:
    """Spark can sort by most types but not maps (at any nesting level);
    unorderable columns are excluded from duplicate-tie-break SORT KEYS only
    (they still flow through the join untouched). Duplicates differing ONLY
    in an unorderable column therefore resolve arbitrarily-but-consistently
    by the remaining keys — documented limitation."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    return True


def _value_sort_key(struct_col: str, val_cols: list[str], typ: dict):
    """Sort key for a struct of the right value columns: the struct itself,
    or a struct of its orderable fields when any field is unorderable."""
    ord_cols = [c for c in val_cols if _orderable(typ[c])]
    if ord_cols == val_cols:
        return F.col(struct_col)
    return F.struct(*[F.col(struct_col)[c] for c in ord_cols])


def _result_schema(left: DataFrame, right: DataFrame, on: str, right_ts: str) -> T.StructType:
    fields = list(left.schema.fields)
    taken = {f.name for f in fields}
    for f in right.schema.fields:
        if f.name == on:
            continue
        if f.name in taken:
            raise ValueError(
                f"asof_join: column collision {f.name!r}; rename right-side columns first"
            )
        # right-side columns become nullable (unmatched left rows)
        fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


def _ts_to_i8(s: pd.Series) -> np.ndarray:
    """Timestamp series -> int64 ns (NaT -> iinfo.min, never matched)."""
    v = pd.to_datetime(s)
    try:
        v = v.dt.tz_localize(None)
    except TypeError:
        pass
    return v.values.astype("datetime64[ns]").view("int64")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    allow_exact: bool = True,
    tolerance_s: float | None = None,
    direction: str = "backward",
    strategy: str = "window",
    salt_buckets: int = 0,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Point-in-time join: attach to each left row the single right row with
    the greatest ``right_ts <= left_ts`` (strict ``<`` when
    ``allow_exact=False``; earliest-following when ``direction='forward'``,
    closest-in-time when ``direction='nearest'`` (equidistant resolves to the
    preceding row, matching pandas)). Left-outer: unmatched rows keep nulls.

    Parameters beyond the obvious:
    - ``tolerance_s``: staleness bound — a match older than this many seconds
      is nulled out (whole snapshot row, atomically).
    - ``strategy``: ``window`` (pure-JVM union-tag ffill, default) |
      ``merge`` (hash-partitioned streaming merge) — see module docstring.
    - ``salt_buckets``: J2 skew fanout. Alone it salts EVERY key (kept for
      the driver contract; measured 5x slower than unsalted on a 30%-hot
      zipf fixture because the right side replicates xB for all keys).
    - ``hot_threshold``: with ``salt_buckets``, engages TARGETED salting —
      a one-pass key-frequency sketch picks keys at/above the threshold,
      only those take the salted path (window strategy). Set it to the
      rows-per-key size above which one task's sort becomes the straggler
      (PitfeatConfig.hot_key_threshold wires 5M).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    # SQL-join null semantics, uniform across strategies: a right row with a
    # NULL key or NULL timestamp can never be "a snapshot at a known time for
    # a known entity" — forward-filling such rows into real matches would
    # enrich a feature row with an unknowable-age snapshot (a leakage-contract
    # violation). Left rows with NULL key/ts stay (left-outer: they come back
    # with null right columns — the null-key window partition finds an empty
    # right side after this).
    right = right.where(F.col(on).isNotNull() & F.col(right_ts).isNotNull())
    if strategy == "window":
        impl = _asof_window_nearest if direction == "nearest" else _asof_window
        if salt_buckets > 0 and hot_threshold:
            lh, lc, rh, rc = _split_hot_keys(left, right, on, hot_threshold)
            cold = impl(
                lc, rc, on, left_ts, right_ts, allow_exact, tolerance_s, 0,
                direction=direction,
            )
            hot = impl(
                lh, rh, on, left_ts, right_ts, allow_exact, tolerance_s, salt_buckets,
                direction=direction,
            )
            return cold.unionByName(hot)
        return impl(
            left, right, on, left_ts, right_ts, allow_exact, tolerance_s, salt_buckets,
            direction=direction,
        )
    if strategy == "merge":
        # no salting path needed: merge's memory is bounded by the Arrow
        # batch size regardless of key heat (see module docstring)
        if direction == "nearest":
            return _asof_merge_nearest(
                left, right, on, left_ts, right_ts, allow_exact, tolerance_s
            )
        return _asof_merge(
            left, right, on, left_ts, right_ts, allow_exact, tolerance_s, direction
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def _split_hot_keys(left: DataFrame, right: DataFrame, on: str, hot_threshold: int):
    """TARGETED salting split (the K2 design): blanket salting replicates the
    right side xB for EVERY key and splits every cold conv into B near-empty
    streams — measured 5-8x SLOWER than unsalted on a 30%-hot zipf fixture.
    A one-pass key-frequency sketch picks the hot keys (tiny by definition =>
    broadcast); only they take the salted path, everything else the plain
    path, and the two unions are plan-compatible."""
    hot_keys = (
        left.groupBy(on).count().where(F.col("count") >= hot_threshold).select(on)
    )
    lh = left.join(F.broadcast(hot_keys), on, "left_semi")
    lc = left.join(F.broadcast(hot_keys), on, "left_anti")
    rh = right.join(F.broadcast(hot_keys), on, "left_semi")
    rc = right.join(F.broadcast(hot_keys), on, "left_anti")
    return lh, lc, rh, rc


# --------------------------------------------------------------------------
# strategy window (DEFAULT): pure-JVM union-tag window forward-fill
# --------------------------------------------------------------------------
#
# Tag both sides, union, and forward-fill the right-side value columns down a
# (key, ts, tag)-sorted window with last(..., ignorenulls) — the
# "range-partitioned, sort-within-partition as-of merge" realized entirely in
# Tungsten: one Exchange + one Sort + one whole-stage-codegen'd Window, zero
# JVM<->Python Arrow transfer (the full table never crosses the Python
# boundary; timings vs merge in the module docstring); the window executor
# streams sorted rows with spill, so memory is bounded regardless of key heat.
#
# Tie rule via the tag's sort position at equal ts: allow_exact sorts right
# rows BEFORE left rows (tag 0 < 1) so an equal-timestamp snapshot is visible;
# strict sorts them after. If multiple right rows share (key, right_ts), the
# last one in sort order wins — matching merge_asof, which also keeps the
# final duplicate.
#
# Salting (J2) composes: left rows get pmod(xxhash64(key, ts), B), the right
# side is replicated xB, and the window partitions on (key, salt) — a hot key
# becomes B independent sorted streams.


def _asof_window(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    allow_exact: bool,
    tolerance_s: float | None,
    salt_buckets: int = 0,
    direction: str = "backward",
) -> DataFrame:
    """``forward`` (r5) is the same pure-Tungsten fill over a DESCENDING ts
    window (desc_nulls_first — NULL-ts left rows must sort before any right
    row so the fill finds nothing for them, exactly the merge strategy's
    rule): "last right struct seen down the stream" then means "earliest
    right row at/after this left timestamp". Tags and the greatest-tuple
    duplicate rule carry over unchanged; only the staleness sign flips."""
    from pyspark.sql import Window

    out_schema = _result_schema(left, right, on, right_ts)
    typ = {f.name: f.dataType for f in out_schema.fields}
    left_cols = [f.name for f in left.schema.fields]
    right_val_cols = [f.name for f in right.schema.fields if f.name != on]
    pass_left = [c for c in left_cols if c not in (on, left_ts)]
    right_tag, left_tag = (0, 1) if allow_exact else (1, 0)

    # The snapshot row is forward-filled as ONE struct, not column-by-column:
    # per-column last(ignorenulls) would resurrect an older snapshot's value
    # through a newer snapshot's legitimate NULL. The struct is non-null
    # exactly when a right row exists, so the whole row carries atomically.
    rv_type = T.StructType([T.StructField(c, typ[c], True) for c in right_val_cols])
    lt = left.select(
        F.col(on),
        F.col(left_ts).alias("__t"),
        F.lit(left_tag).alias("__tag"),
        *[F.col(c) for c in pass_left],
        F.lit(None).cast(rv_type).alias("__rv"),
    )
    rt = right.select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        F.lit(right_tag).alias("__tag"),
        *[F.lit(None).cast(typ[c]).alias(c) for c in pass_left],
        F.struct(*[F.col(c) for c in right_val_cols]).alias("__rv"),
    )
    keys = [on]
    if salt_buckets > 0:
        b = salt_buckets
        lt = lt.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(on), F.col("__t")), F.lit(b)).cast("int")
        )
        rt = (
            rt.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(b)])))
            .withColumn("__salt", F.col("__salt").cast("int"))
        )
        keys = [on, "__salt"]
    cols_order = keys + ["__t", "__tag"] + pass_left + ["__rv"]
    unioned = lt.select(*cols_order).unionByName(rt.select(*cols_order))

    # __rv as the final sort key: right rows tied on (key, ts) order by their
    # value struct (Spark structs are orderable), so last(ignorenulls) picks
    # the greatest value tuple — deterministic, and free (no extra shuffle).
    # If any value column is unorderable (maps), sort by the orderable subset
    # instead of failing the whole join (_orderable docstring).
    rv_sort = _value_sort_key("__rv", right_val_cols, typ)
    ts_sort = (
        F.col("__t").asc() if direction == "backward" else F.col("__t").desc_nulls_first()
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_sort, F.col("__tag").asc(), rv_sort.asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        *keys,
        "__t",
        "__tag",
        *pass_left,
        F.last("__rv", ignorenulls=True).over(w).alias("__rv"),
    )
    out = filled.where(F.col("__tag") == left_tag)
    if tolerance_s is not None:
        tol_us = int(tolerance_s * 1_000_000)
        lt_us = F.unix_micros(F.col("__t").cast("timestamp"))
        rt_us = F.unix_micros(F.col("__rv")[right_ts].cast("timestamp"))
        delta = (lt_us - rt_us) if direction == "backward" else (rt_us - lt_us)
        stale = delta > tol_us
        out = out.withColumn("__rv", F.when(stale, F.lit(None).cast(rv_type)).otherwise(F.col("__rv")))
    out = out.select(
        *keys,
        F.col("__t").alias(left_ts),
        *pass_left,
        *[F.col("__rv")[c].alias(c) for c in right_val_cols],
    )
    return out.select(*[f.name for f in out_schema.fields])


def _asof_window_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    allow_exact: bool,
    tolerance_s: float | None,
    salt_buckets: int = 0,
    direction: str = "nearest",
) -> DataFrame:
    """Pure-JVM nearest (r5): ONE sorted window pass computes BOTH the
    latest-preceding and earliest-following snapshot, then a row-local
    expression picks the closer (equidistant -> preceding, pandas' rule).

    Mechanics: each right row enters the union TWICE with separate
    prev/next struct columns and tags ordered so the exactness rule holds
    on both sides simultaneously: allow_exact puts the prev-copy BEFORE left
    rows at equal ts (visible to ``last`` over (unboundedPreceding, 0)) and
    the next-copy after (invisible to ``first`` over (0, unboundedFollowing)
    is wrong-way-round: it IS visible, harmlessly — prev already matches at
    distance 0 and equidistant prefers preceding); strict reverses the tag
    order so equal-ts rights are visible to NEITHER frame. Duplicate right
    rows at one (key, ts) follow the backward fill's rule on both sides:
    prev structs sort ascending (``last`` takes the greatest tuple), next
    structs descending (``first`` takes the greatest tuple), so no separate
    dedup pass is needed. Memory/skew behavior is the window strategy's:
    one exchange, spill-backed sort, salting composes. Tolerance filters
    each side independently before the choice — equivalent to pandas'
    nearest+tolerance because the nearest valid candidate always has the
    smaller distance."""
    from pyspark.sql import Window

    out_schema = _result_schema(left, right, on, right_ts)
    typ = {f.name: f.dataType for f in out_schema.fields}
    left_cols = [f.name for f in left.schema.fields]
    right_val_cols = [f.name for f in right.schema.fields if f.name != on]
    pass_left = [c for c in left_cols if c not in (on, left_ts)]
    rv_type = T.StructType([T.StructField(c, typ[c], True) for c in right_val_cols])

    prev_tag, left_tag, next_tag = (0, 1, 2) if allow_exact else (2, 1, 0)
    rv_struct = F.struct(*[F.col(c) for c in right_val_cols])
    lt = left.select(
        F.col(on),
        F.col(left_ts).alias("__t"),
        F.lit(left_tag).alias("__tag"),
        *[F.col(c) for c in pass_left],
        F.lit(None).cast(rv_type).alias("__pv"),
        F.lit(None).cast(rv_type).alias("__nv"),
    )
    rp = right.select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        F.lit(prev_tag).alias("__tag"),
        *[F.lit(None).cast(typ[c]).alias(c) for c in pass_left],
        rv_struct.alias("__pv"),
        F.lit(None).cast(rv_type).alias("__nv"),
    )
    rn = right.select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        F.lit(next_tag).alias("__tag"),
        *[F.lit(None).cast(typ[c]).alias(c) for c in pass_left],
        F.lit(None).cast(rv_type).alias("__pv"),
        rv_struct.alias("__nv"),
    )
    keys = [on]
    if salt_buckets > 0:
        b = salt_buckets
        lt = lt.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(on), F.col("__t")), F.lit(b)).cast("int")
        )
        salted = []
        for r in (rp, rn):
            salted.append(
                r.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(b)])))
                .withColumn("__salt", F.col("__salt").cast("int"))
            )
        rp, rn = salted
        keys = [on, "__salt"]
    cols_order = keys + ["__t", "__tag"] + pass_left + ["__pv", "__nv"]
    unioned = (
        lt.select(*cols_order)
        .unionByName(rp.select(*cols_order))
        .unionByName(rn.select(*cols_order))
    )
    # value structs as trailing sort keys, as in _asof_window: among right
    # rows tied on (key, ts), last(__pv) and first(__nv) both pick the
    # greatest value tuple
    order = [
        F.col("__t").asc(),
        F.col("__tag").asc(),
        _value_sort_key("__pv", right_val_cols, typ).asc(),
        _value_sort_key("__nv", right_val_cols, typ).desc_nulls_last(),
    ]
    wp = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        0, Window.unboundedFollowing
    )
    filled = unioned.select(
        *keys,
        "__t",
        "__tag",
        *pass_left,
        F.last("__pv", ignorenulls=True).over(wp).alias("__pv"),
        F.first("__nv", ignorenulls=True).over(wn).alias("__nv"),
    ).where(F.col("__tag") == left_tag)

    lt_us = F.unix_micros(F.col("__t").cast("timestamp"))
    dp = lt_us - F.unix_micros(F.col("__pv")[right_ts].cast("timestamp"))
    dn = F.unix_micros(F.col("__nv")[right_ts].cast("timestamp")) - lt_us
    pv, nv = F.col("__pv"), F.col("__nv")
    if tolerance_s is not None:
        tol_us = int(tolerance_s * 1_000_000)
        pv = F.when(dp <= tol_us, pv)
        nv = F.when(dn <= tol_us, nv)
    # NULL-ts left rows: the next-frame would otherwise hand them the first
    # following snapshot in sort order — they must stay unmatched
    chosen = F.when(F.col("__t").isNull(), F.lit(None).cast(rv_type)).otherwise(
        F.when(pv.isNotNull() & (nv.isNull() | (dp <= dn)), pv).otherwise(nv)
    )
    out = filled.withColumn("__rv", chosen).select(
        *keys,
        F.col("__t").alias(left_ts),
        *pass_left,
        *[F.col("__rv")[c].alias(c) for c in right_val_cols],
    )
    return out.select(*[f.name for f in out_schema.fields])


# --------------------------------------------------------------------------
# strategy merge: hash-partitioned, sort-within-partition streaming merge
# --------------------------------------------------------------------------


def _asof_merge(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    allow_exact: bool,
    tolerance_s: float | None,
    direction: str = "backward",
) -> DataFrame:
    """Streaming merge kernel, both temporal directions (VERDICT r4 #4).

    ``forward`` reuses the backward machinery wholesale by sorting the
    partition stream by ts DESCENDING: "the last right row seen before this
    left row in stream order" then means "the earliest right row at/after
    this left timestamp" — the forward match — with the identical
    bounded-memory carry (one key's last snapshot across batch boundaries).
    The tag rule is unchanged ((0,1) if allow_exact else (1,0)): allow_exact
    needs the equal-ts right row visible BEFORE the left row in stream order
    in either direction. Duplicate right rows at equal (key, ts) keep the
    greatest value tuple in both directions (Spark asc sort = nulls first,
    ffill takes the last seen — the same winner as the window strategy).
    Only the staleness
    sign differs: a forward match is stale when right_ts - left_ts > tol."""
    out_schema = _result_schema(left, right, on, right_ts)
    left_cols = [f.name for f in left.schema.fields]
    right_val_cols = [f.name for f in right.schema.fields if f.name != on]
    fill_cols = [c for c in right_val_cols]  # includes right_ts itself
    tol_ns = None if tolerance_s is None else int(tolerance_s * 1e9)

    # tag order at equal ts decides the tie rule: right-before-left => tie matches
    right_tag, left_tag = (0, 1) if allow_exact else (1, 0)

    typ = {f.name: f.dataType for f in out_schema.fields}
    pass_left = [c for c in left_cols if c not in (on, left_ts)]
    lt = left.select(
        F.col(on),
        F.col(left_ts).alias("__t"),
        F.lit(left_tag).alias("__tag"),
        *[F.col(c) for c in pass_left],
        *[F.lit(None).cast(typ[c]).alias(c) for c in right_val_cols],
    )
    rt = right.select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        F.lit(right_tag).alias("__tag"),
        *[F.lit(None).cast(typ[c]).alias(c) for c in pass_left],
        *[F.col(c) for c in right_val_cols],
    )
    cols_order = [on, "__t", "__tag"] + pass_left + right_val_cols
    unioned = lt.select(*cols_order).unionByName(rt.select(*cols_order))
    # value columns as trailing sort keys => among right rows tied on
    # (key, ts) the ffill takes the last = greatest value tuple (see module
    # docstring); also makes the partition stream fully deterministic
    ord_cols = [c for c in right_val_cols if _orderable(typ[c])]
    # forward uses desc_NULLS_FIRST: NULL-ts left rows must sort BEFORE any
    # right row in stream order (as asc's nulls-first gives backward for
    # free) so the ffill finds nothing for them — plain desc would sort them
    # last and hand them the earliest snapshot. NULL-ts right rows are
    # already filtered at asof_join entry.
    ts_sort = (
        F.col("__t").asc() if direction == "backward" else F.col("__t").desc_nulls_first()
    )
    # HASH repartition, not repartitionByRange (r8): the kernel needs only
    # key co-location (contiguity comes from the in-partition sort), and
    # range partitioning's boundary-sampling pass RE-EXECUTES the whole
    # upstream plan — here the union + snapshot aggregation, and in the
    # nearest composition the entire backward pass including its Python
    # stream — once per staging just to pick split points. Hash co-locates
    # identically with zero sampling; output is unchanged (the kernel's
    # order comes from the sort, not the partitioner).
    staged = unioned.repartition(F.col(on)).sortWithinPartitions(
        F.col(on).asc(), ts_sort, F.col("__tag").asc(), *[F.col(c).asc() for c in ord_cols]
    )

    out_names = [f.name for f in out_schema.fields]

    def stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # key -> the key's last snapshot row. After sortWithinPartitions the
        # partition stream is key-contiguous, so ONLY the final key of each
        # Arrow batch can continue into the next batch: state is evicted down
        # to that single key at the end of every batch, making worker memory
        # O(batch size + 1 carried row) — independent of key cardinality.
        state: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            is_left = pdf["__tag"].to_numpy() == left_tag
            # inject carried state: prepend one synthetic snapshot row per
            # already-seen key appearing in this batch, so ffill continues
            # across Arrow-batch boundaries within the partition
            carry = [state[k] for k in pd.unique(pdf[on]) if k in state]
            if carry:
                head = pd.DataFrame(carry).astype(pdf[[on] + fill_cols].dtypes.to_dict())
                work = pd.concat([head[[on] + fill_cols], pdf[[on] + fill_cols]], ignore_index=True)
                inj = len(head)
            else:
                work = pdf[[on] + fill_cols]
                inj = 0
            # row-ATOMIC forward fill: ffill an index into the right rows and
            # gather whole rows — per-column ffill would resurrect an older
            # snapshot's value through a newer snapshot's legitimate NULL
            is_right_work = np.ones(len(work), dtype=bool)
            is_right_work[inj:] = ~is_left
            ridx = np.where(is_right_work, np.arange(len(work), dtype=float), np.nan)
            filled_ridx = (
                pd.Series(ridx).groupby(work[on].to_numpy(), sort=False).ffill().iloc[inj:].reset_index(drop=True)
            )
            res = pdf.copy()
            have = filled_ridx.notna().to_numpy()
            safe_idx = filled_ridx.fillna(0).astype(int).to_numpy()
            gathered = work[fill_cols].iloc[safe_idx].reset_index(drop=True)
            for c in fill_cols:
                col = gathered[c].copy()
                col[~have] = pd.NaT if str(col.dtype).startswith("datetime") else np.nan
                res[c] = col
            # carry forward ONLY the batch's final key (key-contiguous stream:
            # no other key reappears later); its last snapshot row may be in
            # this batch or already in carried state
            last_key = pdf[on].iloc[-1]
            snaps_last = pdf.loc[
                (~is_left) & (pdf[on].to_numpy() == last_key), [on] + fill_cols
            ]
            if len(snaps_last):
                state = {last_key: snaps_last.iloc[-1].to_dict()}
            elif last_key in state:
                state = {last_key: state[last_key]}
            else:
                state = {}
            res = res.loc[is_left].reset_index(drop=True)
            if tol_ns is not None and len(res):
                lts = _ts_to_i8(res["__t"])
                rts = _ts_to_i8(res[right_ts])
                delta = (lts - rts) if direction == "backward" else (rts - lts)
                stale = delta > tol_ns
                for c in fill_cols:
                    col = res[c].copy()
                    col[stale] = pd.NaT if str(col.dtype).startswith("datetime") else np.nan
                    res[c] = col
            if len(res):
                res = res.rename(columns={"__t": left_ts})
                yield res[out_names]

    return staged.mapInPandas(stream, schema=out_schema)


def _asof_merge_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    allow_exact: bool,
    tolerance_s: float | None,
) -> DataFrame:
    """Bounded-memory nearest (r6 — the last strategy x direction hole):
    two chained ``_asof_merge`` passes sharing the streaming kernel, then
    the window-nearest row-local choice.

    The backward pass attaches the latest-preceding candidate under
    ``__b_*`` names; its OUTPUT is then the left side of the forward pass,
    which attaches the earliest-following candidate under ``__f_*`` names
    (the ``__b_*`` columns ride through as inert left payload). A final
    pure-column projection picks the closer candidate row-atomically —
    equidistant -> preceding, the same rule as _asof_window_nearest
    (pandas' rule), pinned by the randomized parity test against a pandas
    reference. Each pass is the merge kernel itself, so the hot-key story
    is unchanged: worker memory stays O(Arrow batch + 1 carried row) per
    pass regardless of key heat, where window's nearest sorts a hot key in
    one (spill-backed) task.

    allow_exact/tolerance need no extra handling: each leg applies its own
    exactness tie rule and staleness filter, so an equal-ts snapshot
    matches backward at distance 0 (and wins the <= tie) exactly when
    ``allow_exact``, and a candidate past tolerance arrives here already
    nulled. NULL-ts left rows match neither leg (asc nulls-first /
    desc-nulls-first sorts put them before any snapshot in stream order).
    """
    right_val_cols = [f.name for f in right.schema.fields if f.name != on]
    left_cols = [f.name for f in left.schema.fields]
    out_schema = _result_schema(left, right, on, right_ts)

    b_right = right.select(
        F.col(on), *[F.col(c).alias("__b_" + c) for c in right_val_cols]
    )
    res_b = _asof_merge(
        left, b_right, on, left_ts, "__b_" + right_ts, allow_exact, tolerance_s,
        "backward",
    )
    f_right = right.select(
        F.col(on), *[F.col(c).alias("__f_" + c) for c in right_val_cols]
    )
    both = _asof_merge(
        res_b, f_right, on, left_ts, "__f_" + right_ts, allow_exact, tolerance_s,
        "forward",
    )

    have_b = F.col("__b_" + right_ts).isNotNull()
    have_f = F.col("__f_" + right_ts).isNotNull()
    lt_us = F.unix_micros(F.col(left_ts).cast("timestamp"))
    dp = lt_us - F.unix_micros(F.col("__b_" + right_ts).cast("timestamp"))
    dn = F.unix_micros(F.col("__f_" + right_ts).cast("timestamp")) - lt_us
    pick_b = have_b & (~have_f | (dp <= dn))
    chosen = [
        F.when(pick_b, F.col("__b_" + c)).when(have_f, F.col("__f_" + c)).alias(c)
        for c in right_val_cols
    ]
    out = both.select(*[F.col(c) for c in left_cols], *chosen)
    return out.select(*[f.name for f in out_schema.fields])
