"""Min-max normalization with degenerate-column pruning (SURVEY.md §2.4 A2-A4).

Reproduces the reference's semantics (BASELINE.json:6): one stats pass computes
per-feature min/max; every column whose max == min — including all-null columns,
where both stats are null — is "degenerate" and pruned before normalization;
survivors are scaled ``x' = (x - min) / (max - min)`` into [0, 1]. NaN inputs
pass through as NaN.

Spark mapping: the stats pass is a SINGLE ``agg`` job (Catalyst partial+final
hash aggregation — one shuffle of one row per partition); pruning is a
driver-side projection decision recorded in the lineage manifest; normalization
is pure column arithmetic (whole-stage codegen, no UDF).

Scale note: min/max are algebraic aggregates, so the map-side partial
aggregation reduces 10^12 rows to (num_partitions x 1) rows before the shuffle.
The collect() here is one row of 2F doubles — O(F), never O(rows).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class MinMaxStats:
    mins: dict  # col -> float|None
    maxs: dict  # col -> float|None

    def degenerate(self) -> list[str]:
        out = []
        for c in self.mins:
            mn, mx = self.mins[c], self.maxs[c]
            if mn is None or mx is None or mn == mx:
                out.append(c)
            elif isinstance(mn, float) and math.isnan(mn) and math.isnan(mx):
                out.append(c)
        return out

    def survivors(self) -> list[str]:
        deg = set(self.degenerate())
        return [c for c in self.mins if c not in deg]

    def to_manifest(self) -> dict:
        return {
            "mins": self.mins,
            "maxs": self.maxs,
            "degenerate": self.degenerate(),
            "survivors": self.survivors(),
        }


def minmax_aggs(cols: list[str]) -> list:
    """The min/max aggregates behind every min-max stats pass, aliased
    ``__mn_<c>`` / ``__mx_<c>``. min/max ignore NULL and NaN (Spark
    semantics: NaN sorts greater than any value — exclude it explicitly so a
    single NaN doesn't become the max)."""
    aggs = []
    for c in cols:
        clean = F.when(~F.isnan(F.col(c)), F.col(c))
        aggs.append(F.min(clean).alias(f"__mn_{c}"))
        aggs.append(F.max(clean).alias(f"__mx_{c}"))
    return aggs


def compute_minmax(df: DataFrame, cols: list[str]) -> MinMaxStats:
    """A2: global per-column min/max (``minmax_aggs``) in ONE job."""
    row = df.agg(*minmax_aggs(cols)).collect()[0].asDict()
    return MinMaxStats(
        mins={c: row[f"__mn_{c}"] for c in cols},
        maxs={c: row[f"__mx_{c}"] for c in cols},
    )


def prune_degenerate(df: DataFrame, stats: MinMaxStats) -> tuple[DataFrame, list[str]]:
    """A3: drop degenerate feature columns; returns (df, surviving feature cols)."""
    deg = set(stats.degenerate())
    keep = [c for c in df.columns if c not in deg]
    return df.select(*keep), stats.survivors()


def normalize_minmax(df: DataFrame, stats: MinMaxStats, cols: list[str] | None = None) -> DataFrame:
    """A4: x' = (x - min) / (max - min) per surviving column; NaN passes through.

    Pure column expressions — stats are literals folded into the plan, and
    every column is scaled by ONE ``withColumns`` projection (not a chain of
    per-column ``withColumn`` calls, each re-analysed by the driver).
    """
    cols = cols if cols is not None else stats.survivors()
    scaled = {}
    for c in cols:
        mn, mx = stats.mins[c], stats.maxs[c]
        if mn is None or mx is None or mx == mn:
            raise ValueError(f"normalize_minmax: column {c!r} is degenerate; prune first")
        scaled[c] = (F.col(c) - F.lit(float(mn))) / F.lit(float(mx - mn))
    return df.withColumns(scaled)


# ---------------------------------------------------------------------------
# A9: z-score standardization (SURVEY.md §2.4 A9)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class MomentStats:
    """Per-column mean / sample-stddev / non-null-non-NaN count."""

    means: dict  # col -> float|None
    stds: dict  # col -> float|None
    counts: dict  # col -> int

    def degenerate(self) -> list[str]:
        """Columns z-score cannot scale: <2 observations, or zero/NaN spread."""
        out = []
        for c in self.means:
            s = self.stds[c]
            if (
                self.counts[c] < 2
                or s is None
                or s == 0.0
                or (isinstance(s, float) and math.isnan(s))
            ):
                out.append(c)
        return out

    def survivors(self) -> list[str]:
        deg = set(self.degenerate())
        return [c for c in self.means if c not in deg]


def compute_moments(df: DataFrame, cols: list[str]) -> MomentStats:
    """A9 stats pass: per-column mean + sample stddev in ONE agg job, same
    shape as compute_minmax — algebraic aggregates, map-side partials reduce
    the shuffle to one row per partition, collect() is O(cols). NaN inputs
    are excluded explicitly (Spark avg/stddev skip NULL but a single NaN
    would poison the running sum)."""
    aggs = []
    for c in cols:
        clean = F.when(~F.isnan(F.col(c)), F.col(c))
        aggs.append(F.avg(clean).alias(f"__mu_{c}"))
        aggs.append(F.stddev_samp(clean).alias(f"__sd_{c}"))
        aggs.append(F.count(clean).alias(f"__n_{c}"))
    row = df.agg(*aggs).collect()[0].asDict()
    return MomentStats(
        means={c: row[f"__mu_{c}"] for c in cols},
        stds={c: row[f"__sd_{c}"] for c in cols},
        counts={c: row[f"__n_{c}"] for c in cols},
    )


def normalize_zscore(
    df: DataFrame, stats: MomentStats, cols: list[str] | None = None
) -> DataFrame:
    """A9: x' = (x - mean) / stddev_samp per surviving column; NaN passes
    through. Pure column expressions — stats fold into one codegen'd
    Project, exactly like normalize_minmax."""
    cols = cols if cols is not None else stats.survivors()
    deg = set(stats.degenerate())
    scaled = {}
    for c in cols:
        if c in deg:
            raise ValueError(f"normalize_zscore: column {c!r} is degenerate; prune first")
        mu, sd = float(stats.means[c]), float(stats.stds[c])
        scaled[c] = (F.col(c) - F.lit(mu)) / F.lit(sd)
    return df.withColumns(scaled)


# ---------------------------------------------------------------------------
# A10: quantile binning / discretization (SURVEY.md §2.4 A10)
# ---------------------------------------------------------------------------


def compute_quantiles(
    df: DataFrame, col: str, probs: list[float], exact: bool = True
) -> list[float]:
    """A10 stats pass: interior quantile cutpoints of ``col`` in one agg job.

    ``exact=True`` uses Spark's exact ``percentile`` (linear interpolation —
    bit-identical to DuckDB's quantile_cont, which is what makes the bin
    assignment externally oracle-able). Exact percentile buffers DISTINCT
    values per partition, so it is the right default for bounded-cardinality
    feature columns; for extreme-cardinality columns at full scale pass
    ``exact=False`` to use ``approx_percentile`` (bounded-memory KLL-style
    sketch, mergeable map-side) and accept sketch-accuracy cutpoints.
    """
    return compute_quantiles_multi(df, [col], probs, exact=exact)[col]


def compute_quantiles_multi(
    df: DataFrame, cols: list[str], probs: list[float], exact: bool = True
) -> dict[str, list[float]]:
    """Cutpoints for MANY columns in ONE agg job — the scale-hygienic form
    for feature pipelines binning dozens of columns: N separate
    compute_quantiles calls cost N full scans + N shuffles, this costs one
    of each (the same one-job discipline as compute_minmax / A2). Returns
    ``{col: cutpoints}``; per-column semantics identical to
    compute_quantiles (NaN excluded from stats, error on all-null)."""
    for p in probs:
        if not (0.0 < p < 1.0):
            raise ValueError(f"compute_quantiles: probs must be interior, got {p}")
    if not cols:
        raise ValueError("compute_quantiles_multi: cols must be non-empty")
    fn = "percentile" if exact else "approx_percentile"
    arr = ", ".join(repr(float(p)) for p in probs)
    exprs = []
    for i, col in enumerate(cols):
        # NaN would sort greatest and shift every cutpoint — exclude it, like
        # compute_minmax / compute_moments do. Backtick-quote the identifier
        # (ADVICE r5): a raw interpolation broke on names with spaces/dots/
        # hyphens, unlike the rest of this module which goes through F.col.
        ident = "`" + col.replace("`", "``") + "`"
        clean = f"CASE WHEN NOT isnan({ident}) THEN {ident} END"
        exprs.append(F.expr(f"{fn}({clean}, array({arr}))").alias(f"__q{i}"))
    row = df.select(*exprs).collect()[0]
    out = {}
    for i, col in enumerate(cols):
        q = row[f"__q{i}"]
        if q is None or any(v is None for v in q):
            raise ValueError(
                f"compute_quantiles: column {col!r} has no non-null values"
            )
        out[col] = [float(v) for v in q]
    return out


def quantile_bin(
    df: DataFrame, col: str, cutpoints: list[float], out_col: str | None = None
) -> DataFrame:
    """A10: integer bin id ``1 + #{cutpoints <= x}`` (so k cutpoints yield
    bins 1..k+1; a value equal to a cutpoint falls in the HIGHER bin). Null
    and NaN inputs yield a null bin. Pure codegen'd comparisons — the
    cutpoints are literals, the output is an exact integer, so the transform
    has zero float-aggregation drift and compares exactly against any other
    engine given identical cutpoints."""
    if sorted(cutpoints) != list(cutpoints):
        raise ValueError("quantile_bin: cutpoints must be ascending")
    out_col = out_col or f"{col}_bin"
    x = F.col(col)
    bin_expr = F.lit(1)
    for c in cutpoints:
        bin_expr = bin_expr + F.when(x >= F.lit(float(c)), 1).otherwise(0)
    guarded = F.when(x.isNotNull() & ~F.isnan(x), bin_expr).cast("int")
    return df.withColumn(out_col, guarded)


# ---------------------------------------------------------------------------
# A4/A9 grouped variants: per-group normalization (SURVEY.md §2.4 A4
# "grouped variant"; VERDICT r6 #4)
# ---------------------------------------------------------------------------


def _grouped_stats_join(
    df: DataFrame, by: list[str], aggs: list, broadcast_stats: bool
) -> DataFrame:
    """Shared stats-pass-and-join for the grouped normalizers. ONE shuffle —
    the grouped agg with map-side partials (one row per (partition, group)
    into the exchange) — and then the stats table rides back onto the input
    as a broadcast join, so the BIG side is never shuffled. Set
    ``broadcast_stats=False`` when the group count itself is huge (more
    groups than fit an executor's broadcast budget); the plan falls back to
    whatever join Catalyst/AQE picks for two co-keyed tables."""
    # Null by-keys (ADVICE r7, documented limitation): the equi-join below
    # uses SQL null semantics, so rows whose group key is NULL never match
    # their own null-key group's stats and come back with null outputs —
    # the same "unknown group => unknown normalization" reading the as-of
    # join applies to null keys. Callers wanting the null bucket normalized
    # like a real group must pre-fill the key (e.g. coalesce to a sentinel).
    stats = df.groupBy(*[F.col(c) for c in by]).agg(*aggs)
    right = F.broadcast(stats) if broadcast_stats else stats
    joined = df.join(right, on=by, how="left")
    # the on=-join fronts the key columns; restore the input's column order
    # (schema stability is part of the normalize contract)
    stat_cols = [c for c in joined.columns if c not in df.columns]
    return joined.select(*df.columns, *stat_cols)


def normalize_minmax_grouped(
    df: DataFrame,
    cols: list[str],
    by: str | list[str],
    broadcast_stats: bool = True,
) -> DataFrame:
    """Per-group min-max scaling: x' = (x - min_g) / (max_g - min_g) with the
    stats computed WITHIN each ``by`` group. A group that is degenerate for a
    column (all-null, all-NaN, or max == min) yields null for that column's
    rows — the per-group analog of the global pipeline's degenerate PRUNE
    (you cannot drop a column for one group, so its values are nulled).
    NaN inputs pass through as NaN (they are excluded from the stats, like
    the global op); null inputs stay null.

    Pure JVM end to end: one grouped agg + one broadcast join + codegen'd
    arithmetic — no UDF, no window over the full table (a partitionBy window
    would shuffle ALL rows; this shuffles one partial row per group per
    partition). min/max are order-insensitive aggregates, so — unlike the
    mean/stddev pair — the grouped stats are BIT-EXACT against any engine,
    which is why the a4g contract entry needs no quantization."""
    by = [by] if isinstance(by, str) else list(by)
    missing = [c for c in cols + by if c not in df.columns]
    if missing:
        raise ValueError(f"normalize_minmax_grouped: missing column(s) {missing}")
    overlap = set(cols) & set(by)
    if overlap:
        raise ValueError(
            f"normalize_minmax_grouped: column(s) {sorted(overlap)} appear in "
            "both cols and by"
        )
    out = _grouped_stats_join(df, by, minmax_aggs(cols), broadcast_stats)
    for c in cols:
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        out = out.withColumn(
            c, F.when(mx > mn, (F.col(c) - mn) / (mx - mn))
        )
    return out.drop(*[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols])


def normalize_zscore_grouped(
    df: DataFrame,
    cols: list[str],
    by: str | list[str],
    broadcast_stats: bool = True,
) -> DataFrame:
    """Per-group z-score: x' = (x - mean_g) / stddev_samp_g. Degenerate
    groups (fewer than 2 observations, zero spread) yield null, matching
    MomentStats.degenerate()'s global rule. NaN passes through; nulls stay
    null. Same single-shuffle + broadcast-join plan as the min-max variant.

    Float caveat (the a9 lesson): grouped avg/stddev are partial-merge
    aggregates, so the last ulps of mean_g/sd_g are partition-layout
    dependent — equality across engines needs quantization (the a9g contract
    entry quantizes via floor(x*1e6 + 0.5)/1e6 on both sides); within one
    Spark plan the values are deterministic for a fixed layout."""
    by = [by] if isinstance(by, str) else list(by)
    missing = [c for c in cols + by if c not in df.columns]
    if missing:
        raise ValueError(f"normalize_zscore_grouped: missing column(s) {missing}")
    overlap = set(cols) & set(by)
    if overlap:
        raise ValueError(
            f"normalize_zscore_grouped: column(s) {sorted(overlap)} appear in "
            "both cols and by"
        )
    aggs = []
    for c in cols:
        clean = F.when(~F.isnan(F.col(c)), F.col(c))
        aggs.append(F.avg(clean).alias(f"__gmu_{c}"))
        aggs.append(F.stddev_samp(clean).alias(f"__gsd_{c}"))
    out = _grouped_stats_join(df, by, aggs, broadcast_stats)
    for c in cols:
        mu, sd = F.col(f"__gmu_{c}"), F.col(f"__gsd_{c}")
        out = out.withColumn(
            c,
            F.when(sd.isNotNull() & ~F.isnan(sd) & (sd != 0.0), (F.col(c) - mu) / sd),
        )
    return out.drop(*[f"__gmu_{c}" for c in cols], *[f"__gsd_{c}" for c in cols])
