"""Hot-key stress evidence: the as-of join and the EWMA kernels on a fixture
where a SINGLE conversation holds half of all turns.

    python bench/run_hotkey_stress.py --turns 10000000 --cpus 4

Protocol:
- deterministic expression-based fixture (no Python RNG): `hot` conv with
  n_turns/2 rows, the rest in 1000-turn cold convs; 8 feature snapshots per
  conv. Timestamps are epoch + turn_idx*50ms (a 50M-turn conv spans ~29
  days — the cumulative-gap scheme gen_transcripts uses would overflow the
  timestamp range at this heat).
- `--op asof` (default) runs asof_join twice over the same input: the plain
  window fill (`window`), then the same fill with targeted salting
  (`targeted`: keys with at least --hot-threshold turns split into
  --salt-buckets sorted streams, so the hot conv's sort no longer lands in
  one task). Each run is forced with count + order-insensitive
  bit_xor(xxhash64(struct(*))) checksum, and the script exits non-zero
  unless both checksums and row counts are equal. `--legs` runs one of
  them alone (no cross-check), so each gets its own peak RSS.
- `--op ewma` / `--op ewma_time` run the W11 / W12 sorted-stream kernels,
  whose worker memory is one Arrow batch plus the carried state of one key.
- `--reps N` forces each leg N times (the first rep is cold: JIT and
  codegen warm-up), reporting wall and CPU seconds per rep.
- after each run, record the engine JVM's CPU seconds for the run and read
  VmHWM (peak RSS since process start, so a second leg reports the max of
  both) from /proc for the local JVM and every pyspark.daemon worker.

Prints one JSON line with wall seconds, CPU seconds, checksums, rows and
peak-RSS MB.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pitfeat.ops.asof import asof_join
from pitfeat.ops.ewma import ewma

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 UTC
STEP_US = 50_000  # 50 ms between turns
COLD_CONV_TURNS = 1_000
SNAPS_PER_CONV = 8


def gen_turns(spark: SparkSession, n_turns: int, hot_frac: float):
    n_hot = int(n_turns * hot_frac)
    n_cold = n_turns - n_hot
    cold = spark.range(n_cold).select(
        F.concat(F.lit("c"), (F.col("id") / COLD_CONV_TURNS).cast("long")).alias(
            "conv_id"
        ),
        F.pmod(F.col("id"), F.lit(COLD_CONV_TURNS)).cast("int").alias("turn_idx"),
    )
    hot = spark.range(n_hot).select(
        F.lit("hot").alias("conv_id"), F.col("id").cast("int").alias("turn_idx")
    )
    return cold.unionByName(hot).withColumn(
        "ts",
        F.timestamp_micros(
            F.lit(EPOCH_US) + F.col("turn_idx").cast("long") * F.lit(STEP_US)
        ),
    )


def gen_snaps(spark: SparkSession, n_turns: int, hot_frac: float, seed: int = 42):
    """SNAPS_PER_CONV snapshots per conv, spread over each conv's turn span."""
    n_cold_convs = (n_turns - int(n_turns * hot_frac)) // COLD_CONV_TURNS + 1
    convs = spark.range(n_cold_convs).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.lit(COLD_CONV_TURNS).alias("span"),
    ).unionByName(
        spark.range(1).select(
            F.lit("hot").alias("conv_id"),
            F.lit(int(n_turns * hot_frac)).alias("span"),
        )
    )
    s = convs.select(
        "conv_id",
        "span",
        F.explode(F.sequence(F.lit(0), F.lit(SNAPS_PER_CONV - 1))).alias("k"),
    )
    snap_ts = F.timestamp_micros(
        F.lit(EPOCH_US)
        + (F.col("k") * F.col("span") / SNAPS_PER_CONV).cast("long") * F.lit(STEP_US)
    )
    cols = [s["conv_id"], snap_ts.alias("snap_ts")]
    for i in range(4):
        cols.append(
            (
                F.pmod(
                    F.xxhash64(F.lit(seed + i), "conv_id", "k"), F.lit(10_000)
                )
                / 1000.0
            ).alias(f"f_{i}")
        )
    return s.select(*cols)


def force(df) -> tuple[int, int]:
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"bit_xor(xxhash64(struct({', '.join(df.columns)})))"
        ).alias("chk"),
    ).collect()[0]
    return row["n"], (0 if row["chk"] is None else int(row["chk"]))


def peak_rss_mb() -> dict:
    """Max VmHWM (peak RSS) over the local JVM and the pyspark worker pool."""
    peaks = {"jvm_mb": 0, "max_worker_mb": 0, "n_workers": 0}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            if "java" in cmd and "spark" in cmd.lower():
                key = "jvm_mb"
            elif "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                key = "max_worker_mb"
                peaks["n_workers"] += 1
            else:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM"):
                        peaks[key] = max(peaks[key], int(line.split()[1]) // 1024)
                        break
        except OSError:
            continue
    return peaks


def jvm_cpu_s(spark: SparkSession) -> float:
    """User + system CPU seconds of the local engine JVM so far."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=100_000_000)
    ap.add_argument("--hot-frac", type=float, default=0.5)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--salt-buckets", type=int, default=4,
                    help="as-of targeted leg: sorted streams per hot key")
    ap.add_argument("--hot-threshold", type=int, default=100_000,
                    help="as-of targeted leg: turns per conv at which it is salted")
    ap.add_argument("--reps", type=int, default=1,
                    help="force each leg this many times; the first is cold")
    ap.add_argument("--legs", nargs="+", choices=["window", "targeted"],
                    default=["window", "targeted"],
                    help="as-of legs to run; the checksum cross-check needs both")
    ap.add_argument("--op", choices=["asof", "ewma", "ewma_time"], default="asof",
                    help="kernel to stress: the as-of join (plain and targeted "
                    "window), the W11 EWMA recurrence (sorted stream, state = "
                    "one scalar per boundary key), or the W12 event-time "
                    "EWMA (r6) — whose hot-key continuation rows pay the "
                    "exact scalar kernel, the documented CPU caveat this "
                    "leg measures")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("pitfeat-hotkey-stress")
        .master(f"local[{args.cpus}]")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.shuffle.partitions", str(4 * args.cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIR", "/tmp"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    turns = gen_turns(spark, args.turns, args.hot_frac)
    snaps = gen_snaps(spark, args.turns, args.hot_frac)

    result = {
        "turns": args.turns, "hot_frac": args.hot_frac, "cpus": args.cpus,
        "op": args.op,
    }
    if args.op in ("ewma", "ewma_time"):
        # Deterministic value column (pure fn of (conv_id, turn_idx), seed
        # literal FIRST — multi-arg xxhash64 folds left-to-right).
        with_x = turns.withColumn(
            "x",
            F.pmod(F.xxhash64(F.lit(7), "conv_id", "turn_idx"), F.lit(10_000))
            / 1000.0,
        )
        if args.op == "ewma_time":
            from pitfeat.ops.ewma import ewma_time

            op_df = ewma_time(with_x, "x", halflife_s=3600.0, key="conv_id",
                              ts="ts", order_extra=("turn_idx",))
        else:
            op_df = ewma(with_x, "x", alpha=0.05, key="conv_id", ts="ts",
                         order_extra=("turn_idx",))
        legs = {args.op: op_df}
    else:
        salting = {
            "window": {},
            "targeted": {"salt_buckets": args.salt_buckets,
                         "hot_threshold": args.hot_threshold},
        }
        legs = {
            leg: asof_join(turns, snaps, on="conv_id", left_ts="ts",
                           right_ts="snap_ts", **salting[leg])
            for leg in args.legs
        }
    for leg, df in legs.items():
        secs, cpus = [], []
        for _ in range(args.reps):
            t0, c0 = time.perf_counter(), jvm_cpu_s(spark)
            n, chk = force(df)
            secs.append(round(time.perf_counter() - t0, 1))
            cpus.append(round(jvm_cpu_s(spark) - c0, 1))
        result[leg] = {
            "sec": secs if args.reps > 1 else secs[0],
            "cpu_s": cpus if args.reps > 1 else cpus[0],
            "rows": n,
            "checksum": chk,
            "peak_rss": peak_rss_mb(),
        }
    both = args.op == "asof" and set(args.legs) == {"window", "targeted"}
    if both:
        result["checksums_equal"] = (
            result["window"]["checksum"] == result["targeted"]["checksum"]
            and result["window"]["rows"] == result["targeted"]["rows"]
        )
    print(json.dumps(result))
    spark.stop()
    if both and not result["checksums_equal"]:
        sys.exit("as-of checksums differ between the window and targeted legs")


if __name__ == "__main__":
    main()
