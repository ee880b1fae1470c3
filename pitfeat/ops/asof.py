"""Point-in-time (as-of) join — THE core operator (SURVEY.md §2.3 J1/J2).

Semantics: for each left row, attach the single right row with the greatest
``right_ts`` such that ``right_ts <= left_ts`` (strict ``<`` when
``allow_exact=False``). Unmatched left rows keep nulls (left outer). Zero
temporal leakage by construction: a right row with ``right_ts > left_ts`` can
never be selected (property-tested in tests/test_asof.py).

One physical path, pure JVM (no Python node in any as-of plan): tag both
sides, union, and forward-fill the right value struct down a (key, ts,
tag)-sorted window with ``last(ignorenulls)`` — the "range-partitioned,
sort-within-partition as-of merge" as one Exchange + one Sort + one Window
(``_asof_window``). ``forward`` runs the same fill over a descending-ts
window; ``nearest`` computes the preceding and the following snapshot in
one sorted pass and picks the closer one row-locally
(``_asof_window_nearest``). The window executor streams sorted rows with
spill, so memory does not grow with key heat.

Hot keys: ``salt_buckets`` splits a key into B sorted streams (left rows by
hash salt, right rows replicated xB); with ``hot_threshold`` only keys at or
above the threshold are split, inside the same single window (targeted
salting, ``_salt``). Measured on a 4-vCPU, 15 GB host with
``bench/run_hotkey_stress.py --turns 10000000 --cpus 4 --reps 3`` (one
5M-turn conversation; warm reps 2-3): plain window 9.3-11.1 s wall /
21.6-25.1 CPU-s, targeted window (B=4, threshold 100k) 8.3 s / 26.3-30.4
CPU-s, one checksum; peak JVM RSS 4.7 GB plain, 6.1 GB over both legs.
Targeted salting still costs more CPU than the plain fill (the xB right
copies of the hot key and the key-count pass), but less than separate
cold and hot window plans joined by a union, which read 10.3-11.0 s /
35.4-39.6 CPU-s back to back on the same host. The retired
``mapInPandas`` merge stream read 26.8-28.9 s / 75-83 CPU-s on that host
earlier. The 100M-turn run where the stream once won on 32 cores
(BASELINE.md) needs more RAM than that host has and was not repeated.

Tie rule: with ``allow_exact=True`` an equal-timestamp snapshot matches
(right rows sort before left rows at equal ts). With ``allow_exact=False``
it does not (left-before-right).

Duplicate right rows sharing (key, right_ts): the winner is the row with the
GREATEST value tuple (lexicographic over the right value columns, nulls
first) — the value struct is the trailing sort key, so the choice is
deterministic in every direction instead of "whatever the unstable shuffle
order produced". Callers wanting a different resolution should pre-dedup the
right side.

Oracle parity: semantics match ``pandas.merge_asof(direction=...,
allow_exact_matches=..., tolerance=...)`` (backward/forward/nearest) and
DuckDB ``ASOF JOIN`` (backward/forward; nearest via a rank-by-|Δt| window
oracle) — both are used as test oracles.
"""

from __future__ import annotations

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


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    allow_exact: bool = True,
    tolerance_s: float | None = None,
    direction: str = "backward",
    salt_buckets: int = 0,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Point-in-time join: attach to each left row the single right row with
    the greatest ``right_ts <= left_ts`` (strict ``<`` when
    ``allow_exact=False``; earliest-following when ``direction='forward'``,
    closest-in-time when ``direction='nearest'`` (equidistant resolves to the
    preceding row, matching pandas)). Left-outer: unmatched rows keep nulls.
    One pure-JVM window fill runs every direction (module docstring).

    Parameters beyond the obvious:
    - ``tolerance_s``: staleness bound — a match older than this many seconds
      is nulled out (whole snapshot row, atomically).
    - ``salt_buckets``: J2 skew fanout. Alone it salts EVERY key (kept for
      the driver contract; measured 5x slower than unsalted on a 30%-hot
      zipf fixture because the right side replicates xB for all keys).
    - ``hot_threshold``: with ``salt_buckets``, engages TARGETED salting —
      a one-pass key count picks keys at/above the threshold and only those
      are split; cold keys ride the same window unsplit (``_salt``). Set it
      to the rows-per-key size above which one task's sort becomes the
      straggler (PitfeatConfig.hot_key_threshold wires 5M).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    # SQL-join null semantics: a right row with a NULL key or NULL timestamp
    # can never be "a snapshot at a known time for a known entity" —
    # forward-filling such rows into real matches would enrich a feature row
    # with an unknowable-age snapshot (a leakage-contract violation). Left
    # rows with NULL key/ts stay (left-outer: they come back with null right
    # columns — the null-key window partition finds an empty right side
    # after this).
    right = right.where(F.col(on).isNotNull() & F.col(right_ts).isNotNull())
    impl = _asof_window_nearest if direction == "nearest" else _asof_window
    return impl(
        left, right, on, left_ts, right_ts, allow_exact, tolerance_s, salt_buckets,
        hot_threshold, direction=direction,
    )


def _salt(
    left: DataFrame,
    lt: DataFrame,
    rts: list[DataFrame],
    on: str,
    salt_buckets: int,
    hot_threshold: int | None,
):
    """J2 salting of the tagged sides: returns (lt, rts, window keys).

    A salted key is split into B sorted streams: its left rows take
    ``pmod(xxhash64(key, ts), B)`` and its right rows are replicated xB.
    Blanket salting (no ``hot_threshold``) salts every key. Targeted salting
    salts only the keys with at least ``hot_threshold`` left rows: a
    one-pass key count picks them (tiny by definition => broadcast), a
    left-outer join flags both sides with ``__hot``, and cold keys take
    salt 0 and one right copy, so one exchange, one sort and one window
    serve every key."""
    if salt_buckets <= 0:
        return lt, rts, [on]
    b = salt_buckets
    hot = F.lit(True)
    if hot_threshold:
        hot_keys = F.broadcast(
            left.groupBy(on).count().where(F.col("count") >= hot_threshold)
            .select(on, F.lit(True).alias("__hot"))
        )
        lt = lt.join(hot_keys, on, "left")
        rts = [r.join(hot_keys, on, "left") for r in rts]
        hot = F.col("__hot")  # null (cold) for keys missing from hot_keys
    lt = lt.withColumn(
        "__salt",
        F.when(hot, F.pmod(F.xxhash64(F.col(on), F.col("__t")), F.lit(b)))
        .otherwise(0)
        .cast("int"),
    )
    fan = F.when(hot, F.array(*[F.lit(i) for i in range(b)])).otherwise(F.array(F.lit(0)))
    rts = [r.withColumn("__salt", F.explode(fan)) for r in rts]
    return lt, rts, [on, "__salt"]


# Tie rule via the tag's sort position at equal ts: allow_exact sorts right
# rows BEFORE left rows (tag 0 < 1) so an equal-timestamp snapshot is visible;
# strict sorts them after.
#
# Salting (J2, ``_salt``) composes: the window partitions on (key, salt), so
# a salted key becomes B independent sorted streams.


def _asof_window(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    allow_exact: bool,
    tolerance_s: float | None,
    salt_buckets: int = 0,
    hot_threshold: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """``forward`` (r5) is the same pure-Tungsten fill over a DESCENDING ts
    window (desc_nulls_first — NULL-ts left rows must sort before any right
    row so the fill finds nothing for them, as ascending nulls-first gives
    backward for free): "last right struct seen down the stream" then means "earliest
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
    lt, (rt,), keys = _salt(left, lt, [rt], on, salt_buckets, hot_threshold)
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
    hot_threshold: int | None = None,
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
    dedup pass is needed. Memory/skew behavior is the backward fill's:
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
    lt, (rp, rn), keys = _salt(left, lt, [rp, rn], on, salt_buckets, hot_threshold)
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
