"""SparkSession factory (SURVEY.md §2.9 K3/K4, hard-part #5).

Sets the configs every pitfeat job depends on:
- UTC session timezone BEFORE anything touches timestamps (pandas<->Spark tz
  mismatch is the #1 silent as-of off-by-one source).
- AQE on (skew-join splitting + partition coalescing).
- Arrow enabled, batch size aligned with the DATABLOCK row count so the
  JVM->Python IPC boundary ships blocks the kernels can use as-is.
- ``spark.python.daemon.module=pitfeat_daemon``: Python workers fork from
  pitfeat's daemon, which stops every task re-reading the zips and the
  spark-core jar on the worker's ``sys.path`` (~0.2 CPU-s per task; see
  ``pitfeat_daemon.py``). Workers must import it from the repository root,
  as they already import ``pitfeat``.

At cluster scale the same factory applies: these are all cluster-safe configs
(no local[] assumptions except the explicit ``master`` argument used by tests
and the two-parallelism scaling bench).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pitfeat.config import PitfeatConfig


def get_spark(
    app_name: str = "pitfeat",
    master: str | None = None,
    cfg: PitfeatConfig | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cfg = cfg or PitfeatConfig()
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": str(cfg.shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": str(cfg.target_partition_bytes),
        # floor on scan split count (r8): without it a medium single-file
        # table scans as ceil(bytes / maxPartitionBytes) tasks — 2 tasks for
        # a 132 MB lineitem on a 32-core session. The floor divides files
        # into at least this many byte ranges (row-group granularity caps
        # what that buys, but multi-row-group files parallelize fully). Tied
        # to shuffle_partitions so it scales with the configured session
        # width instead of hard-coding the local core count; at cluster
        # scale inputs have >> this many splits and the floor is inert.
        "spark.sql.files.minPartitionNum": str(cfg.shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(cfg.arrow_batch_rows),
        # grouped pandas kernels should not silently reorder batches
        "spark.sql.execution.pandas.udf.buffer.size": "65536",
        "spark.ui.enabled": "false",
        # local-mode note (r8): in local[N] the "driver" JVM IS the executor
        # — 8g of heap under 32 concurrent tasks' sort/shuffle/scan buffers
        # meant constant old-gen pressure (GCLocker retry warnings, queries
        # measurably slower after a shuffle-heavy neighbor). 24g sizes the
        # single JVM to the whole session; on a real cluster the driver does
        # no data work and this is simply generous headroom.
        "spark.driver.memory": "24g",
        # a many-query session compiles hundreds of whole-stage-codegen
        # classes; the JVM's default ~240 MB reserved code cache fills and
        # starts flushing JIT'd methods, so a query re-run after its
        # neighbors measured 2-3x its steady state (flagship: 8.6 s min in
        # the 19-query bench vs 2.8 s run consecutively). 1 GB keeps every
        # plan's compiled code resident.
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
        # ...and the generated-CLASS cache must keep pace: at the default
        # 100 entries a multi-query session (the 19-query bench alone
        # produces well over 100 codegen units per round) evicts every
        # query's classes between its own runs, forcing janino recompiles
        # AND discarding the JIT state of the old classes — measured as
        # every stage of a repeated query running ~1.8x its steady state.
        "spark.sql.codegen.cache.maxEntries": "4096",
        # one BLAS thread per Python worker (r8): every core already runs a
        # worker, so OpenBLAS spawning its own threads inside each GEMM
        # kernel (knn/IVF/LSH scoring) only oversubscribes the host. Set via
        # executorEnv so it reaches the executor-forked Python workers on any
        # deployment; the driver process (k-means training, query-matrix
        # collects) is deliberately left free to use its BLAS threads.
        "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
        "spark.executorEnv.OMP_NUM_THREADS": "1",
        "spark.executorEnv.MKL_NUM_THREADS": "1",
        "spark.python.daemon.module": "pitfeat_daemon",
    }
    if master and str(master).startswith("local"):
        # local mode only (r8): shuffle files default to /tmp, which on this
        # sandbox is a noisy virtual disk; a tmpfs local dir removes that
        # I/O path. Clusters keep their infra-provided local dirs.
        from pitfeat.ops.util import fast_local_base

        fast = fast_local_base()
        if fast:
            conf.setdefault("spark.local.dir", fast)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
