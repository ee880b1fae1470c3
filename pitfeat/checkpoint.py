"""Manifest-validated checkpoints with per-partition lineage + metrics
(SURVEY.md §2.1 S3/S4; BASELINE.json:14 "resumable from checkpoint with
per-partition lineage + metrics").

A checkpoint directory holds:
- ``data/`` — the stage output as Parquet
- ``_lineage.json`` — stage name, run id, config hash, upstream input ids,
  total rows, and the per-partition metrics table
- ``_SUCCESS_PITFEAT`` — commit marker written LAST (crash between data write
  and marker => checkpoint treated as absent; write-then-rename-free but
  atomic-enough because readers require the marker AND a matching hash)

``resume_or_compute`` is the resumability primitive: if a valid checkpoint
exists whose lineage hash matches (same config + same declared inputs), the
stage is read back instead of recomputed; otherwise the stage function runs
and is checkpointed. Per-partition metrics (partition id = part-file name,
rows, bytes) are read from the written Parquet footers on the driver — no
Spark job beyond the write itself — giving any partition's computation an
audit trail.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MARKER = "_SUCCESS_PITFEAT"
LINEAGE = "_lineage.json"


def write_checkpoint(
    df: DataFrame,
    ckpt_dir: str,
    stage: str,
    config_hash: str,
    inputs: list[str] | None = None,
) -> dict:
    data_dir = os.path.join(ckpt_dir, "data")
    # Invalidate FIRST: a crash mid-rewrite must leave the checkpoint absent,
    # not a stale marker+lineage validating over torn data. Removing the
    # marker before any byte of data/ is touched restores the documented
    # "crash => checkpoint treated as absent" invariant.
    for stale in (MARKER, LINEAGE):
        p = os.path.join(ckpt_dir, stale)
        if os.path.exists(p):
            os.remove(p)
    df.write.mode("overwrite").parquet(data_dir)

    # one part file per non-empty write task; hidden (_/.) names are Spark's
    # commit and checksum files
    parts = []
    for name in sorted(os.listdir(data_dir)):
        if name.startswith(("_", ".")):
            continue
        path = os.path.join(data_dir, name)
        parts.append(
            {
                "pid": name,
                "rows": pq.read_metadata(path).num_rows,
                "bytes": os.path.getsize(path),
            }
        )
    lineage = {
        "stage": stage,
        "config_hash": config_hash,
        "inputs": sorted(inputs or []),
        "written_at": time.time(),
        "total_rows": int(sum(p["rows"] for p in parts)),
        "n_partitions": len(parts),
        "partitions": parts,
        "schema": df.schema.jsonValue(),
    }
    with open(os.path.join(ckpt_dir, LINEAGE), "w") as f:
        json.dump(lineage, f, indent=1, default=str)
    with open(os.path.join(ckpt_dir, MARKER), "w") as f:
        f.write("ok")
    return lineage


def checkpoint_valid(
    ckpt_dir: str,
    config_hash: str,
    inputs: list[str] | None = None,
    stage: str | None = None,
) -> bool:
    if not os.path.exists(os.path.join(ckpt_dir, MARKER)):
        return False
    try:
        with open(os.path.join(ckpt_dir, LINEAGE)) as f:
            lin = json.load(f)
    except (OSError, json.JSONDecodeError):
        return False
    if lin.get("config_hash") != config_hash:
        return False
    # stage must match when asked for: config_hash is per-CONFIG, identical
    # across stages, so without this check resume_or_compute('normalize')
    # would happily return a 'features' checkpoint written to the same dir
    if stage is not None and lin.get("stage") != stage:
        return False
    if inputs is not None and lin.get("inputs") != sorted(inputs):
        return False
    return True


def resume_or_compute(
    spark: SparkSession,
    ckpt_dir: str,
    stage: str,
    config_hash: str,
    fn: Callable[[], DataFrame],
    inputs: list[str] | None = None,
) -> tuple[DataFrame, bool]:
    """Returns (df, resumed). ``resumed=True`` means the checkpoint was read
    instead of recomputing the stage. Either way ``data/`` is read with the
    schema the lineage records, so the read-back starts no schema-inference
    job."""
    resumed = checkpoint_valid(ckpt_dir, config_hash, inputs, stage=stage)
    if resumed:
        with open(os.path.join(ckpt_dir, LINEAGE)) as f:
            lin = json.load(f)
    else:
        lin = write_checkpoint(fn(), ckpt_dir, stage, config_hash, inputs)
    schema = T.StructType.fromJson(lin["schema"])
    return spark.read.schema(schema).parquet(os.path.join(ckpt_dir, "data")), resumed
