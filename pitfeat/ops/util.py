"""Small shared plan utilities (r8 optimization round).

``widen_partitions``: a single-file / single-row-group input (the common
shape of a freshly generated or compacted table) gives the whole scan ONE
task, and every per-row Arrow kernel or interpreted expression chained onto
it then runs on ONE core. Parquet byte-range splitting cannot help — a file
with one row group yields one non-empty split no matter what
``maxPartitionBytes`` says — so the fix has to be a repartition in the plan.

The helper is a strict no-op (zero added exchanges) when the input is
already at least ``defaultParallelism`` partitions wide, which is the normal
case at scale (many input splits); it only fires on narrow inputs, where one
small shuffle buys a cores-wide downstream stage. With a ``key`` column the
repartition hashes on it (deterministic, no sort prepass); otherwise
round-robin (deterministic via Spark's sort-before-repartition,
SPARK-23207). Consumers must be per-row / partitioning-invariant — true for
every kernel this repo applies it to (text hash kernels, per-row Catalyst
projections).

``_list_array``: the one builder of an arrow_udf's fixed-width
``array<...>`` result from an (n, w) numpy matrix.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fast_local_base(min_free_bytes: int = 16 << 30) -> str | None:
    """A tmpfs-backed directory for LOCAL-mode shuffle/scratch files, or
    None. On this class of sandbox the default /tmp sits on a virtual block
    device whose throughput fluctuates with neighbors; /dev/shm takes
    shuffle and checkpoint I/O off that path entirely. Gated on available
    space so a small-RAM host silently keeps the default. Callers must
    restrict use to local[*] masters — on a cluster, local dirs are
    infrastructure-provided (node-local NVMe) and must not be overridden."""
    base = "/dev/shm"
    try:
        st = os.statvfs(base)
        if st.f_bavail * st.f_frsize < min_free_bytes:
            return None
        d = os.path.join(base, "pitfeat-fastlocal")
        os.makedirs(d, exist_ok=True)
        probe = os.path.join(d, ".probe")
        with open(probe, "w"):
            pass
        os.remove(probe)
        return d
    except Exception:
        return None


def widen_partitions(df: DataFrame, key: str | None = None) -> DataFrame:
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def _list_array(M):
    """(n, w) numpy -> Arrow list array of the n length-w rows: an
    arrow_udf's array<...> result, built from the flat buffer."""
    import numpy as np
    import pyarrow as pa

    n, w = M.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * w, w, dtype=np.int32)), pa.array(M.ravel())
    )
