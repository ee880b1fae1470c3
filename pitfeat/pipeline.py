"""Fluent pipeline builder (SURVEY.md §3.2 — entry point 1).

Builder methods only COMPOSE: each returns a new Pipeline wrapping a new
DataFrame; the IR is Catalyst's logical plan (we add no IR of our own). Nothing
executes until an action. The flagship feature build is:

    Pipeline.from_transcripts(spark, path)
        .asof_snapshots(snap_path)           # J1 (one shuffle per side)
        .with_gap().with_lags([...])         # W1/W2 (one reused window shuffle)
        .rolling("gap_s", ["mean","max"])    # W3
        .cumulative_tools()                  # W5
        .sessionize()                        # W9
        .normalize(prune_degenerate=True)    # A2 stats job + A3 prune + A4 scale
        .assemble()                          # V1
        .df                                  # -> DataFrame

The feature manifest (slot order, pruned columns, min/max stats) accumulates on
the builder and is written into checkpoint lineage, so a resumed run applies
the SAME pruning decisions (SURVEY.md hard-part #2).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pitfeat.config import PitfeatConfig
from pitfeat.io import read_snapshots, read_transcripts
from pitfeat.ops import windows as W
from pitfeat.ops.asof import asof_join
from pitfeat.ops.normalize import compute_minmax, normalize_minmax, prune_degenerate
from pitfeat.ops.vectors import assemble


@dataclass
class Pipeline:
    spark: SparkSession
    df: DataFrame
    cfg: PitfeatConfig = field(default_factory=PitfeatConfig)
    feature_cols: list = field(default_factory=list)
    manifest: dict = field(default_factory=dict)

    # ---- sources ----
    @classmethod
    def from_transcripts(
        cls, spark: SparkSession, path: str, cfg: PitfeatConfig | None = None
    ) -> "Pipeline":
        cfg = cfg or PitfeatConfig()
        return cls(spark, read_transcripts(spark, path, cfg.table_format), cfg)

    @classmethod
    def from_df(cls, spark: SparkSession, df: DataFrame, cfg: PitfeatConfig | None = None) -> "Pipeline":
        return cls(spark, df, cfg or PitfeatConfig())

    def _next(self, df: DataFrame, new_features: list[str] | None = None) -> "Pipeline":
        feats = self.feature_cols + [c for c in (new_features or []) if c not in self.feature_cols]
        return Pipeline(self.spark, df, self.cfg, feats, dict(self.manifest))

    # ---- J1 ----
    def asof_snapshots(
        self,
        snapshots: "str | DataFrame",
        feature_cols: list[str] | None = None,
        width: int | None = None,
    ) -> "Pipeline":
        if isinstance(snapshots, str):
            if width is None and self.cfg.table_format in ("csv", "json"):
                # text formats carry no footer schema; read_snapshots demands
                # an explicit width there — default to the engine-wide fixed
                # width so the previously-working default path keeps working
                # (a real mismatch still fails loudly via FAILFAST)
                from pitfeat.schema import SNAPSHOT_WIDTH

                width = SNAPSHOT_WIDTH
            snaps = read_snapshots(
                self.spark, snapshots, self.cfg.table_format, width=width
            )
        else:
            snaps = snapshots
        fcols = feature_cols or [c for c in snaps.columns if c.startswith("f_")]
        joined = asof_join(
            self.df,
            snaps,
            on="conv_id",
            left_ts="ts",
            right_ts="snap_ts",
            allow_exact=self.cfg.asof_allow_exact,
            tolerance_s=self.cfg.asof_tolerance_s,
            salt_buckets=self.cfg.salt_buckets,
            # keys above this engage TARGETED salting; below it the plain
            # window path wins (measured — see BASELINE.md skew paragraph)
            hot_threshold=self.cfg.hot_key_threshold if self.cfg.salt_buckets else None,
        )
        return self._next(joined, fcols)

    # ---- W ops (each returns new numeric feature columns) ----
    def with_gap(self) -> "Pipeline":
        return self._next(W.with_gap(self.df), ["gap_s"])

    def with_lags(self, cols: list[str], offsets: list[int] = (1,), leads: bool = False) -> "Pipeline":
        out = W.with_lags(self.df, cols, offsets, leads)
        new = [c for c in out.columns if c not in self.df.columns]
        numeric = [c for c in new if not any(c.startswith(p) for p in ("role_", "tool_", "text_"))]
        return self._next(out, numeric)

    def rolling(self, col: str, fns: list[str] = ("mean",), window: int | None = None) -> "Pipeline":
        k = window or self.cfg.rolling_turns
        out = W.rolling(self.df, col, fns, k)
        return self._next(out, [c for c in out.columns if c not in self.df.columns])

    def rolling_time(self, col: str, fns: list[str] = ("mean",), range_s: int | None = None) -> "Pipeline":
        out = W.rolling_time(self.df, col, fns, range_s or self.cfg.rolling_range_s)
        return self._next(out, [c for c in out.columns if c not in self.df.columns])

    def cumulative_tools(self) -> "Pipeline":
        return self._next(W.cumulative_tool_calls(self.df), ["tool_calls_cum"])

    def sessionize(self, gap_s: int | None = None) -> "Pipeline":
        return self._next(W.sessionize(self.df, gap_s or self.cfg.session_gap_s), ["session_no"])

    def role_ngrams(self, n: int = 2, count_window: int = 10, vocab: list[str] | None = None) -> "Pipeline":
        if vocab is None:
            roles = self.cfg.roles
            vocab = [f"{a}->{b}" for a in roles for b in roles]
        out = W.role_ngrams(self.df, n=n, count_window=count_window, vocab=vocab)
        new = [c for c in out.columns if c not in self.df.columns and c.startswith("ng_")]
        return self._next(out, new)

    # ---- A2-A4 ----
    def normalize(self, prune: bool | None = None) -> "Pipeline":
        prune = self.cfg.prune_degenerate if prune is None else prune
        # the stats pass is a separate action that recomputes the upstream
        # plan. The flagship job (jobs/build_features.py) makes its stage-1
        # checkpoint the stats cut: the windows run once, before the write,
        # and this pass scans the slim written features. Without a cut
        # (plain Pipeline chains) the recompute is cheaper than persisting
        # the wide frame (measured).
        stats = compute_minmax(self.df, self.feature_cols)
        df, cols = (prune_degenerate(self.df, stats) if prune else (self.df, list(self.feature_cols)))
        df = normalize_minmax(df, stats, cols)
        p = Pipeline(self.spark, df, self.cfg, cols, dict(self.manifest))
        p.manifest["minmax"] = stats.to_manifest()
        return p

    # ---- V1 ----
    def assemble(self, out_col: str = "features") -> "Pipeline":
        p = self._next(assemble(self.df, self.feature_cols, out_col))
        p.manifest["slots"] = list(self.feature_cols)
        return p
