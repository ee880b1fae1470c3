"""Engine configuration (SURVEY.md §2.9 K3/K4, §3.2).

All knobs that affect plans or kernels live here so lineage manifests can hash
one object (checkpoint resumability, SURVEY.md S3/S4).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


# Version of what the flagship build writes at its checkpoint cuts. Bump it
# when a stage's checkpoint changes layout, so checkpoints written in the
# old layout stop matching ``config_hash`` and are recomputed, never read as
# the new one. 2: the stage-1 cut carries the windowed, unscaled features
# (conv_id, turn_idx, ts, features) instead of the as-of join output.
CHECKPOINT_LAYOUT = 2


@dataclass(frozen=True)
class PitfeatConfig:
    # --- as-of join (J1/J2) ---
    asof_allow_exact: bool = True  # snap_ts <= ts when True, strict < when False
    asof_tolerance_s: float | None = None  # max staleness in seconds; None = unbounded
    salt_buckets: int = 0  # 0 = no salting; >0 = replicate right side x B (J2)
    hot_key_threshold: int = 5_000_000  # rows per key above which salting engages

    # --- sessionization (W9) ---
    session_gap_s: int = 1800

    # --- rolling windows (W3/W4) ---
    rolling_turns: int = 5
    rolling_range_s: int = 3600

    # --- normalization (A2-A4) ---
    prune_degenerate: bool = True

    # --- DATABLOCK mirror (S5) ---
    rows_per_block: int = 4096

    # --- JVM<->Python Arrow batch rows (r8) ---
    # Decoupled from rows_per_block: the DATABLOCK ops re-chunk to their own
    # block size internally (datablock.py reblock/writer), so the IPC batch
    # size is a pure throughput knob. 4096-row batches made every
    # mapInPandas/pandas_udf stream pay its per-batch pandas overhead 8x
    # more often than needed; kernels are pinned batch-size-invariant
    # (tests/test_ewma.py boundary tests, per-row text kernels), so raising
    # this cannot change results. 32768 x ~100B rows keeps per-batch buffers
    # in the tens of MB — safe at 100TB scale too.
    arrow_batch_rows: int = 32768

    # --- partitioning (K1/K4) ---
    shuffle_partitions: int = 32
    target_partition_bytes: int = 128 * 1024 * 1024  # maxPartitionBytes for scans

    # --- io (S1/S2) ---
    # "parquet" in the sandbox; "iceberg" when a catalog is configured on the
    # cluster (SURVEY.md §0: no Iceberg jar locally, abstraction kept pluggable).
    table_format: str = "parquet"

    # --- role-transition vocab (W7): fixed so feature vectors stay fixed-width ---
    roles: tuple[str, ...] = ("user", "assistant", "tool")

    extra: dict = field(default_factory=dict, compare=False)

    def config_hash(self) -> str:
        """Stable hash for lineage manifests (S3): the config's fields plus
        ``CHECKPOINT_LAYOUT``."""
        d = asdict(self)
        d.pop("extra", None)
        d["__checkpoint_layout"] = CHECKPOINT_LAYOUT
        blob = json.dumps(d, sort_keys=True, default=str).encode()
        return hashlib.sha256(blob).hexdigest()[:16]
