"""Deterministic synthetic transcript / snapshot generator (SURVEY.md S7, FIXTURES.md §A).

Everything is expression-based (``xxhash64``/``pmod`` over ``spark.range``) —
no Python RNG, no driver loops — so identical (seed, params) produce
byte-identical tables at ANY parallelism. That property is itself tested
(determinism test #7 in SURVEY.md §5) and is what lets the two-parallelism
scaling bench compare outputs across local[8]/local[32].

Scale note: generation is a single `spark.range(n_convs)` followed by an
explode — it parallelizes across executors and never materializes on the
driver, so the same code generates the 10^12-turn bench input on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pitfeat.schema import SNAPSHOT_WIDTH, snapshot_feature_cols

BASE_TS = "2024-01-01 00:00:00"
SESSION_FORCE_GAP_S = 4000  # > default session threshold, forced every ~20 turns


def gen_transcripts(
    spark: SparkSession,
    n_convs: int = 100,
    avg_turns: int = 20,
    seed: int = 42,
    skew: str = "uniform",  # "uniform" | "zipf" (one hot conv ~30% of turns)
) -> DataFrame:
    """Deterministic transcripts (conv_id, turn_idx, role, text, tool, ts)."""
    convs = spark.range(n_convs).withColumnRenamed("id", "conv_no")
    # conv sizes: uniform in [1, 2*avg) via hash; zipf variant gives conv 0 a
    # hot tail of ~0.43*n_convs*avg turns (~30% of the total)
    n_turns = 1 + F.pmod(F.xxhash64("conv_no", F.lit(seed)), F.lit(2 * avg_turns - 1))
    hot_turns = None
    if skew == "zipf":
        hot = max(1, int(0.43 * n_convs * avg_turns))
        if hot >= 2**31:
            raise ValueError(
                f"zipf hot conversation would need {hot} turns but turn_idx "
                "is int32 — previously this wrapped negative (silently "
                "corrupt descending indices); shrink n_convs*avg_turns"
            )
        # the hot conv's turn list is generated in CHUNKED sequence() rows: a
        # single sequence(0, hot-1) materializes one ~hot-element array in one
        # row (multi-GB for hot ~ 1e9, and Spark caps sequence length anyway)
        chunk = 1_000_000
        nchunks = (hot + chunk - 1) // chunk
        hot_turns = spark.range(nchunks).select(
            F.lit("c0").alias("conv_id"),
            F.lit(0).cast("long").alias("conv_no"),
            F.explode(
                F.sequence(
                    F.col("id") * chunk,
                    F.least(F.lit(hot - 1), (F.col("id") + 1) * chunk - 1),
                )
            ).alias("turn_idx"),
        )
        convs = convs.where(F.col("conv_no") != 0)
    convs = convs.withColumn("n_turns", n_turns.cast("int"))

    turns = convs.select(
        F.concat(F.lit("c"), F.col("conv_no")).alias("conv_id"),
        F.col("conv_no"),
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    if hot_turns is not None:
        turns = turns.unionByName(hot_turns)
    turns = turns.withColumn("turn_idx", F.col("turn_idx").cast("int"))

    h = F.xxhash64("conv_no", "turn_idx", F.lit(seed))
    r = F.pmod(h, F.lit(100))
    role = (
        F.when(r < 40, F.lit("user"))
        .when(r < 80, F.lit("assistant"))
        .otherwise(F.lit("tool"))
    )
    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(F.lit("search"), F.lit("exec"), F.lit("browse")),
            (F.pmod(F.xxhash64("conv_no", "turn_idx", F.lit(seed + 1)), F.lit(3)) + 1).cast("int"),
        ),
    ).otherwise(F.lit(""))

    gap_s = 1 + F.pmod(F.xxhash64("conv_no", "turn_idx", F.lit(seed + 2)), F.lit(600))
    gap_s = F.when(
        (F.col("turn_idx") > 0) & (F.pmod(F.col("turn_idx"), F.lit(20)) == 0),
        F.lit(SESSION_FORCE_GAP_S),
    ).otherwise(gap_s)
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_s = F.sum(gap_s).over(w)

    return turns.select(
        "conv_id",
        "turn_idx",
        role.alias("role"),
        F.concat_ws(
            "-", F.lit("t"), "conv_id", "turn_idx", F.hex(F.xxhash64("conv_no", "turn_idx", F.lit(seed + 3)))
        ).alias("text"),
        tool.alias("tool"),
        (F.lit(BASE_TS).cast("timestamp") + F.make_interval(secs=cum_s.cast("double"))).alias("ts"),
    )


def gen_snapshots(
    transcripts: DataFrame,
    width: int = SNAPSHOT_WIDTH,
    seed: int = 42,
    per_turn_every: int = 5,
) -> DataFrame:
    """Deterministic feature snapshots for the as-of right side (FIXTURES.md §A2).

    - ~90% of convs get snapshots (10% excluded -> tests left-join nulls)
    - snapshot times jittered {-30s, 0, +30s} around sampled turn ts (the 0
      case exercises the allow_exact tie)
    - one snapshot AFTER each conv's last turn (must never match: leakage case)
    - f_13 constant (degenerate: max==min), f_14 all-NULL (degenerate),
      f_15 constant-within-conv but varying across convs (NOT degenerate)
    """
    t = transcripts
    has_snaps = F.pmod(F.xxhash64("conv_id", F.lit(seed + 10)), F.lit(10)) < 9
    sampled = t.where(has_snaps & (F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed + 11)), F.lit(per_turn_every)) == 0))
    jitter = (F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed + 12)), F.lit(3)) - 1) * 30
    base = sampled.select(
        "conv_id",
        (F.col("ts") + F.make_interval(secs=jitter.cast("double"))).alias("snap_ts"),
    )
    future = (
        t.where(has_snaps)
        .groupBy("conv_id")
        .agg(F.max("ts").alias("mx"))
        .select("conv_id", (F.col("mx") + F.make_interval(secs=F.lit(3600.0))).alias("snap_ts"))
    )
    snaps = base.unionByName(future).dropDuplicates(["conv_id", "snap_ts"])

    cols = [F.col("conv_id"), F.col("snap_ts")]
    for i, c in enumerate(snapshot_feature_cols(width)):
        if i == 13:
            e = F.lit(3.14)
        elif i == 14:
            e = F.lit(None).cast("double")
        elif i == 15:
            e = (F.pmod(F.xxhash64("conv_id", F.lit(seed + 20)), F.lit(100)) / 10.0)
        else:
            e = (
                F.pmod(
                    F.xxhash64("conv_id", F.col("snap_ts").cast("long"), F.lit(seed + 30 + i)),
                    F.lit(10_000),
                )
                / 1000.0
            )
        cols.append(e.cast("double").alias(c))
    return snaps.select(*cols)


def gen_clustered_embeddings(
    spark: SparkSession,
    n_vecs: int,
    dim: int = 64,
    n_centers: int = 32,
    noise: float = 0.15,
    seed: int = 42,
) -> DataFrame:
    """Deterministic Gaussian-mixture embedding table (vec_id, embedding).

    The driver's embeddings.parquet is uniform-on-the-sphere — k-means has
    nothing to cluster there, so IVF partial-probe recall on it measures
    nothing (VERDICT r3 #1). This generator produces the CLUSTERABLE case
    real embedding corpora exhibit: ``n_centers`` unit-norm centers (seeded
    numpy; random directions in dim>=64 are near-orthogonal, so the mixture
    is well-separated), each vector = normalize(C[vec_id % n_centers] +
    noise * g) with g a per-(vec_id, component) Gaussian derived from a
    splitmix64-style integer mix + Box-Muller — a pure function of vec_id,
    so the table is byte-identical at ANY parallelism (same determinism
    contract as gen_transcripts) and never touches a driver-side RNG stream.

    Scale shape: one Arrow-batched kernel over ``spark.range`` — embarrass-
    ingly parallel, nothing driver-side but the (n_centers x dim) closure.
    """
    import numpy as np
    from pyspark.sql.functions import arrow_udf

    from pitfeat.ops.util import _list_array

    rs = np.random.RandomState(seed)
    C = rs.normal(size=(n_centers, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)

    def _mix(x: "np.ndarray") -> "np.ndarray":
        # splitmix64 finalizer (public-domain constant set); uint64 wraps
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    def kernel(ids):
        idv = ids.to_numpy().astype(np.uint64)
        j = np.arange(dim, dtype=np.uint64)[None, :]
        base = idv[:, None] * np.uint64(dim) + j + np.uint64(seed * 0x10001)
        with np.errstate(over="ignore"):
            u1 = (_mix(base).astype(np.float64) + 1.0) / 18446744073709551616.0
            u2 = (_mix(base ^ np.uint64(0xDEADBEEFCAFEF00D)).astype(np.float64) + 1.0) / 18446744073709551616.0
        g = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
        E = C[(idv % np.uint64(n_centers)).astype(np.int64)] + noise * g
        E /= np.linalg.norm(E, axis=1, keepdims=True)
        return _list_array(E)

    udf = arrow_udf(kernel, "array<double>")
    return spark.range(n_vecs).select(
        F.col("id").alias("vec_id"), udf("id").alias("embedding")
    )
